package graft.operators

import graft.Query
import graft.functions.TextFns
import graft.functions.TextFns.Sql
import graft.sources.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis queries over the `documents` table (SURVEY.md §2.1 Q22
 * plus the training-data-pipeline extensions): corpus stats, token
 * counting, heuristic language-ID, quality scoring, document
 * fingerprinting and SimHash fingerprints.
 *
 * All expressions are Catalyst built-ins (codegen-friendly, no UDFs) and
 * every query has an exact DuckDB oracle: hash-derived features use
 * md5-hex arithmetic that both engines evaluate identically.
 *
 * Scale: these are embarrassingly parallel per-document maps — no
 * shuffle at all except the final ORDER BY (which exists only for the
 * deterministic oracle) and the small group-bys. At 100 TB they run as
 * a single scan stage.
 */
object TextQueries {

  // x26's learned profile (5 langs × top-20 trigrams) is corpus
  // METADATA: learned once per corpus version — the same
  // version-cached build-once lifecycle as the stored indexes,
  // with the learn cost in the bench `build` section — and baked into
  // the scoring expressions as literals. The r8 formulation re-ran
  // the corpus-scale explode+agg on every invocation.
  private val profCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Seq[(String, Seq[String])]]]()

  // x73's mined top-50 boilerplate 5-grams — corpus metadata on the
  // same version-cached build-once lifecycle as the trigram
  // profile (the r11 form re-ran the mining explode+agg inside every
  // x73 invocation, doubling the corpus pass)
  private val boilerCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Seq[String]]]()

  private def boilerplateTop50(s: SparkSession, d: String): Seq[String] =
    StoredIndexes.versionedValue(boilerCache, d, "documents.parquet",
      "graft-boilerplate-top50") {
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(explode(
          TextFns.allShingles(TextFns.tokens(col("text")), 5)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("gram")).limit(50)
        .collect().map(_.getString(0)).toSeq
    }

  /** The ex8h string-recheck stage — ONE definition, kept next to the
    * index it rechecks ([[ShingleIndex.candidateShingles]]); shared
    * with the ingest-time contamination gate. */
  private def candidateShingles(s: SparkSession, d: String,
      ids: DataFrame, candHashes: DataFrame): DataFrame =
    ShingleIndex.candidateShingles(s, d, ids, candHashes)

  private def trigramProfile(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, Seq[String])] =
    StoredIndexes.versionedValue(profCache, d, "documents.parquet",
      "graft-trigram-profile") {
      val wProf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("c").desc, col("g"))
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), explode(graft.functions.expressions
          .TextExpressions.char_ngrams(col("text"), 3)).as("g"))
        .groupBy(col("lang"), col("g"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("g")).collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getString(1)).toSeq).toSeq
        .sortBy(_._1) // lang ASC: the argmax keeps the FIRST lang on
                      // ties (strict >), matching ORDER BY c DESC, plang
    }

  // x42's document-frequency table is corpus METADATA bounded by the
  // trigram VOCABULARY (≤ charset³ entries, observed 377 at sf0.1),
  // not by corpus size — so like x26's profile it is learned once per
  // corpus version (build cost in the bench `build` section) and
  // broadcast back, leaving ONE corpus-scale explode per invocation
  // instead of two. A vocabulary past [[MaxDfGrams]] (a very wide
  // unicode corpus) caches None and the query falls back to the
  // distributed two-scan form; at that size a production deployment
  // would store the df table like the shingle index instead.
  private val MaxDfGrams = 1 << 20
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Option[Seq[(String, Long)]]]]()

  /** `cap` is overridable only so specs can force the saturation
    * fallback on a small corpus; production callers use the default. */
  private[graft] def trigramDf(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Int = MaxDfGrams): Option[Seq[(String, Long)]] =
    StoredIndexes.versionedValue(dfCache, d, "documents.parquet",
      "graft-trigram-df") {
      val rows = table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(explode(graft.functions.expressions
          .TextExpressions.char_ngrams(col("text"), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .limit(cap + 1).collect()
      if (rows.length > cap) None
      else Some(rows.map(r => (r.getString(0), r.getLong(1))).toSeq)
    }

  /** Spread a compute-heavy narrow scan when the source layout
    * under-parallelizes: a corpus of fewer (unsplittable
    * single-row-group) files than the session's shuffle width runs
    * the whole per-doc compute on that many tasks — observed as one
    * task carrying a ~1 s codegen stage. The explicit numPartitions
    * repartition is byte-light at fixture scale, AQE does not
    * re-coalesce it, and a production corpus with ≥ cores files takes
    * the shuffle-free branch. */
  private[operators] def spreadScan(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sessionState.conf.numShufflePartitions
    if (df.inputFiles.length >= n) df else df.repartition(n, col("doc_id"))
  }

  private val docCountCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[java.lang.Long]]()

  /** Corpus document count, cached per corpus version — the cheap
    * statistic the skew-path selection below keys on (a count() over
    * parquet footers, once per corpus version). */
  private def docCount(s: SparkSession, d: String): Long =
    StoredIndexes.versionedValue(docCountCache, d, "documents.parquet",
      "graft-doccount") { table(s, d, "documents").count() }

  /** Above this many docs, x72 swaps its gram-df window for the
    * skew-hardened agg+join form (see [[x72Frame]]). The window form
    * wins below it (one derivation, no join) and its worst-case
    * single-task buffer is ≤ this many rows by construction. */
  private[graft] val X72SkewDocs = 1L << 20

  /** x72's per-language repetition report — both strategies, selected
    * by corpus size in the declared query and pinned hash-equal in
    * SkewWindowSpec:
    *
    *  - `skewSafe = false` (below [[X72SkewDocs]]): gram doc-frequency
    *    as a window COUNT over partitionBy(gram) — ONE corpus pass,
    *    no join, but WindowExec buffers a gram's whole partition (one
    *    row per containing doc) in a single task: a boilerplate-scale
    *    gram would buffer O(n_docs) rows.
    *  - `skewSafe = true`: the SUBTRACTION form — rep = total − unique.
    *    A df=1 gram belongs to exactly ONE document, so its (lang, c)
    *    attribute cleanly at the gram level: one map-side-combined
    *    groupBy(gram) — the hot gram collapses to ONE partial row per
    *    map task BEFORE the shuffle, so the reduce task's input for it
    *    is O(map tasks), not O(containing docs), and the hash
    *    aggregate folds rows streaming (no buffered partition
    *    anywhere) — filtered to nd=1 and re-aggregated per lang.
    *    Per-language totals come from a separate NARROW scan (every
    *    token position is one gram occurrence: per-doc total =
    *    len(tokens)−4; no explode, no gram strings), and the final
    *    per-lang join is broadcast-tiny. No window, no join of
    *    corpus-sized tables, exactly one explode derivation
    *    (plan-pinned). Trade: the corpus is READ twice (the second
    *    read is explode-free), which is why the one-read window form
    *    stays the default below the threshold. */
  private[graft] def x72Frame(docs: DataFrame, skewSafe: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val live = docs.filter(col("text").isNotNull)
    if (!skewSafe) {
      val g = live.select(col("doc_id"), col("lang"), explode(
        TextFns.allShingles(TextFns.tokens(col("text")), 5)).as("gram"))
      val dg = g.groupBy("doc_id", "lang", "gram")
        .agg(count(lit(1)).as("c"))
      dg.withColumn("nd", count(lit(1)).over(Window.partitionBy("gram")))
        .groupBy("doc_id", "lang")
        .agg(sum(col("c")).as("n_grams"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0)).as("n_rep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("grams"),
          sum(col("n_rep")).as("rep_grams"),
          (sum(col("n_rep")).cast("double") / sum(col("n_grams")))
            .as("dup_frac"))
        .orderBy("lang")
    } else {
      val totals = live
        .select(col("lang"),
          (size(TextFns.tokens(col("text"))) - 4).cast("long").as("ng"))
        .filter(col("ng") >= 1) // docs under 5 tokens carry no gram
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ng")).as("grams"))
      val uniq = live
        .select(col("doc_id"), col("lang"), explode(
          TextFns.allShingles(TextFns.tokens(col("text")), 5)).as("gram"))
        .groupBy("doc_id", "lang", "gram")
        .agg(count(lit(1)).as("c"))
        .groupBy("gram")
        .agg(count(lit(1)).as("nd"), sum(col("c")).as("csum"),
          min(col("lang")).as("lang")) // nd=1 ⇒ min is THE owner's lang
        .filter(col("nd") === 1)
        .groupBy("lang")
        .agg(sum(col("csum")).as("uq"))
      // null-safe lang match: the window form's groupBy treats a null
      // lang as a group; a plain equi-join would orphan it
      totals.join(broadcast(uniq.withColumnRenamed("lang", "ulang")),
          col("lang") <=> col("ulang"), "left_outer")
        .select(col("lang"), col("n_docs"), col("grams"),
          (col("grams") - coalesce(col("uq"), lit(0L))).as("rep_grams"),
          ((col("grams") - coalesce(col("uq"), lit(0L))).cast("double") /
            col("grams").cast("double")).as("dup_frac"))
        .orderBy("lang")
    }
  }

  /** x86's drop roster — TRAIN-split docs sharing ≥1 exact 8-token
    * shingle with any val/test doc: stored-ex8h hash probe + exact
    * string recheck (x36's machinery, via
    * [[ShingleIndex.candidateShingles]] so shingle width and hash
    * cannot drift). ONE definition shared by x86 (the transform) and
    * x126's decontamination funnel stage. Returns distinct (doc_id),
    * UNORDERED. */
  private[graft] def contaminatedTrainDocs(s: SparkSession,
      d: String): DataFrame = {
    val ex = ShingleIndex.forDir(s, d).load("ex8h")
    val evalG = ex.filter(col("split") =!= "train")
      .select(col("h")).distinct()
    val candRows = ex.filter(col("split") === "train")
      .join(evalG, Seq("h"), "left_semi")
    val candHashes = candRows.select(col("h")).distinct()
    val candTrainDocs = candRows.select(col("doc_id")).distinct()
    val candEvalDocs = ex.filter(col("split") =!= "train")
      .join(candHashes, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val evalStr = ShingleIndex.candidateShingles(s, d, candEvalDocs,
        candHashes)
      .select(col("g")).distinct()
    ShingleIndex.candidateShingles(s, d, candTrainDocs, candHashes)
      .join(evalStr, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** x121 cap: a source may hold at most this percent of corpus
    * character mass. */
  private[graft] val SourceCapPct = 5L

  /** Above this corpus doc count the x121 declared query switches to
    * the two-level skew-hardened window (the X72SkewDocs pattern). */
  private[graft] val SourceCapSkewDocs = 1L << 20

  /** x121's frame over any (doc_id, source, n_chars) corpus — both
    * forms, hash-equal (SkewWindowSpec):
    *  - `skewSafe = false`: one cumulative-sum window per source.
    *    At crawl scale a single hot source buffers its ENTIRE row
    *    set in one window task — fine until a source is huge.
    *  - `skewSafe = true`: two-level. Bucket = first 2 hex chars of
    *    the doc's md5 order key (a PREFIX of the window order, so
    *    bucket boundaries respect it); per-(source,bucket) sums are
    *    map-side combined into a bounded frame, a per-source
    *    EXCLUSIVE prefix over the ≤256 buckets yields each bucket's
    *    offset, and the corpus-sized window runs per (source,
    *    bucket) — per-task input is 1/256 of the source, and the
    *    offset join keys (source,bucket) match the window partition
    *    keys, so no extra corpus exchange. */
  private[graft] def sourceCapFrame(docs: DataFrame, skewSafe: Boolean)
      : DataFrame =
    sourceCapScores(docs, skewSafe)
      .select(col("doc_id"), col("source"),
        col("cum").cast("long").as("cum_chars"), col("kept"))
      .orderBy("doc_id")

  /** The scores frame with the declared queries' skew-threshold
    * switch applied — x125/x126 consume the same form x121 declares. */
  private[graft] def sourceCapScoresFor(s: SparkSession, d: String)
      : DataFrame =
    sourceCapScores(table(s, d, "documents"),
      skewSafe = docCount(s, d) > SourceCapSkewDocs)

  /** The unordered (doc_id, source, n_chars, cum, kept) frame behind
    * x121 — x125's scorecard consumes it without the output sort. */
  private[graft] def sourceCapScores(docs: DataFrame, skewSafe: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs.select(col("doc_id"), col("source"), col("n_chars"),
      md5(col("doc_id").cast("string")).as("h"))
    val cap = m.agg(sum(col("n_chars")).cast("long").as("t"))
      .select(expr(s"t * $SourceCapPct div 100").as("cap"))
    val c =
      if (!skewSafe)
        m.withColumn("cum", sum(col("n_chars")).over(
          Window.partitionBy("source").orderBy("h", "doc_id")))
      else {
        val mb = m.withColumn("b", substring(col("h"), 1, 2))
        val off = mb.groupBy("source", "b")
          .agg(sum(col("n_chars")).as("bsum"))
          .withColumn("off", coalesce(sum(col("bsum")).over(
            Window.partitionBy("source").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("b"), col("off"))
        mb.join(PlanGuards.broadcastIfSmall(off), Seq("source", "b"))
          .withColumn("cum", col("off") + sum(col("n_chars")).over(
            Window.partitionBy("source", "b").orderBy("h", "doc_id")))
      }
    c.crossJoin(broadcast(cap))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("cum"), (col("cum") <= col("cap")).as("kept"))
  }

  // ---------------------------------------------------------- BM25 scorer
  // x94's scoring pipeline, factored out so x128's hybrid-retrieval
  // lexical arm ranks with the IDENTICAL score (one definition, two
  // declared queries). See x94's header for the scale discussion.

  /** The fixed 3-term query both BM25 consumers score against. */
  private[operators] val Bm25Terms = Seq("hash", "join", "filter")

  /** Blocklist lexicon for the toxicity surface (x135 + the ingest
    * gate's spec fixtures). Fake obscenities — the fixture corpus is
    * clean word soup, so the words can't occur except where planted.
    * ONE definition: the declared query, its oracle and the gate specs
    * all read it. */
  val ToxicityLexicon: Seq[String] = Seq("frak", "gorram", "smeg")

  /** x135's verdict threshold: flagged-token ratio above this fails. */
  val ToxicityMaxRatio: Double = 0.02

  /** (doc_id, score): BM25 over [[Bm25Terms]], k1=1.2, b=0.75, Lucene
    * idf, score rounded to 6 before any ranking (tie-proof ordering
    * downstream). One O(term-occurrences) frame — never the corpus
    * vocabulary; N/avglen ride in from the stored 1-row stats table. */
  private[operators] def bm25Scored(s: SparkSession, d: String): DataFrame =
    bm25ScoredFor(s, d, Bm25Terms)

  /** [[bm25Scored]] for an ARBITRARY term list — the parameterized
    * retrieval surface (`GET /search`). r17: probes the STORED
    * postings index ([[PostingsIndex]] — token-clustered
    * (token, doc_id, dl, tf) rows plus 1-row corpus stats) instead of
    * re-tokenizing the corpus per invocation: the q-terms push into
    * the parquet scan (`PushedFilters: [In(token, ...)]`,
    * plan-pinned in PostingsSpec), so a novel query costs O(matching
    * postings + row-group footers), never a corpus pass — the r16
    * verdict's one `weak` (a serving request = a full corpus scan)
    * closed the same way the dense arm always worked (stored IVF).
    * Score formula, 6-rounding and the skew-hardened df derivation
    * (map-side-combined groupBy over the ≤|terms| filtered groups,
    * broadcast back — never a per-token window buffer) are unchanged,
    * and the stored tf/dl rows ARE the frame the old plan aggregated
    * per query, so x94/x128 still hash-match their
    * recompute-from-raw oracles. */
  private[graft] def bm25ScoredFor(s: SparkSession, d: String,
      terms: Seq[String]): DataFrame = {
    val ps = PostingsIndex.forDir(s, d)
    val st = broadcast(ps.load("stats")
      .select(
        (col("n_tokens").cast("double") / col("n_docs")).as("avglen"),
        col("n_docs").cast("double").as("n")))
    val tf = ps.load("postings").filter(col("token").isin(terms: _*))
    val df = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(st))
      .groupBy("doc_id")
      .agg(sum(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
        * col("tf") * 2.2 /
        (col("tf") +
          (lit(0.25) + col("dl") * 0.75 / col("avglen")) * 1.2))
        .as("sco"))
      .select(col("doc_id"), round(col("sco"), 6).as("score"))
  }

  /** DuckDB CTE chain ending in `sc(doc_id, sco)` — [[bm25Scored]]'s
    * oracle twin (callers round: `round(sco, 6)`). */
  private[operators] val bm25ScoreSql: String =
    "t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
      "FROM documents WHERE text IS NOT NULL), " +
      "st AS (SELECT CAST(AVG(len(ts)) AS DOUBLE) AS avglen, " +
      "CAST(COUNT(*) AS DOUBLE) AS n FROM t), " +
      "q AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS token FROM t), " +
      "tf AS (SELECT doc_id, token, any_value(dl) AS dl, " +
      "CAST(COUNT(*) AS DOUBLE) AS tf FROM q " +
      s"WHERE token IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")}) " +
      "GROUP BY doc_id, token), " +
      "wdf AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY token) " +
      "AS DOUBLE) AS df FROM tf), " +
      "sc AS (SELECT doc_id, SUM(ln((st.n - df + 0.5) / (df + 0.5) + 1) " +
      "* tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / st.avglen))) AS sco " +
      "FROM wdf CROSS JOIN st GROUP BY doc_id)"

  // ------------------------------------------------- positional probes
  // Phrase adjacency and best-window (snippet) extraction over the
  // stored positional postings ([[PostingsIndex]] `pos` column) — the
  // two retrieval features BM25 can't express because they need WHERE
  // a term occurs, not just how often. Both are index probes: the
  // term filter pushes into the token-clustered parquet scan, the
  // position payload is read only for the ≤|terms| matching groups,
  // and all downstream work is O(term occurrences) — never a corpus
  // or text scan. The declared twins (x144/x145) hash-match DuckDB
  // recomputes from raw text, so the stored positions themselves are
  // oracle-audited the same way x141 audits tf/df.

  /** The fixed 3-token phrase x144 declares (occurs at every test SF;
    * 'join'/'filter' overlap [[Bm25Terms]] so the retrieval surface
    * stays one thematic query family). */
  private[operators] val PhraseTerms = Seq("join", "part", "filter")

  /** Exact-adjacency phrase match: (doc_id, phrase_tf) for every doc
    * containing `phrase` as CONSECUTIVE tokens, phrase_tf = occurrence
    * count. Engine: one postings probe for the distinct terms, one
    * per-doc map of term → positions (a doc is a candidate only if
    * ALL distinct terms appear — `size(m) === |distinct|`), then the
    * k position arrays align by shifting term i's positions left by i
    * and intersecting: a start position p survives iff term i sits at
    * p+i for every i. Positions are distinct ints within a doc, so
    * array_intersect is exact set intersection; a REPEATED phrase
    * token intersects its own array at two shifts, which is precisely
    * the self-adjacency condition. */
  private[graft] def phraseMatchesFor(s: SparkSession, d: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val ps = PostingsIndex.forDir(s, d)
    val terms = phrase.distinct
    val cand = ps.load("postings")
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("token"), col("pos"))))
        .as("m"))
      .filter(size(col("m")) === terms.size)
    val aligned = phrase.zipWithIndex.map { case (t, i) =>
      transform(element_at(col("m"), t), x => x - i)
    }.reduce(array_intersect)
    cand.select(col("doc_id"), size(aligned).cast("bigint").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  /** x144's oracle for an arbitrary phrase: slide a |phrase|-token
    * window over the raw token array and count exact matches. */
  private[operators] def phraseMatchSql(phrase: Seq[String]): String = {
    val conds = phrase.zipWithIndex
      .map { case (t, i) => s"ts[i + ${i + 1}] = '$t'" }.mkString(" AND ")
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
      "FROM documents WHERE text IS NOT NULL), " +
      s"g AS (SELECT doc_id, unnest(list_transform(" +
      s"range(len(ts) - ${phrase.size - 1}), " +
      s"i -> CASE WHEN $conds THEN 1 ELSE 0 END)) AS m FROM t) " +
      "SELECT doc_id, CAST(SUM(m) AS BIGINT) AS phrase_tf FROM g " +
      "GROUP BY doc_id HAVING SUM(m) > 0 ORDER BY doc_id"
  }

  /** x147's slop: the whole ordered match must span ≤ ProxSpan+1
    * tokens (p_last ≤ p_first + ProxSpan). */
  private[operators] val ProxSpan = 8

  /** Ordered-proximity match (the Lucene sloppy-phrase class, ordered
    * form): the query terms appear in ORDER with the whole match
    * spanning at most `span`+1 tokens; prox_tf counts the first-term
    * anchors that open such a chain. Same positional-postings probe
    * as x144 (term filter pushed, all distinct terms required per
    * doc); the per-doc work is a nested array `exists` over the
    * ≤|terms| position arrays — worst-case O(Π per-term occurrences)
    * per doc, tiny for non-stopword terms, and it never shuffles
    * anything beyond the one per-doc aggregate. */
  private[graft] def proximityMatchesFor(s: SparkSession, d: String,
      terms: Seq[String], span: Int): DataFrame = {
    require(terms.size >= 2, "proximity needs at least two terms")
    require(span >= 1, "span must be positive")
    val ps = PostingsIndex.forDir(s, d)
    val distinctTerms = terms.distinct
    val cand = ps.load("postings")
      .filter(col("token").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("token"), col("pos"))))
        .as("m"))
      .filter(size(col("m")) === distinctTerms.size)
    def chain(i: Int, first: org.apache.spark.sql.Column,
        prev: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (i == terms.size) lit(true)
      else exists(element_at(col("m"), terms(i)), p =>
        p > prev && p <= first + span && chain(i + 1, first, p))
    val anchors = org.apache.spark.sql.functions.filter(
      element_at(col("m"), terms.head), p1 => chain(1, p1, p1))
    cand.select(col("doc_id"), size(anchors).cast("bigint").as("prox_tf"))
      .filter(col("prox_tf") > 0)
  }

  /** x147's oracle for DISTINCT ordered terms: per-term sorted
    * position lists from the occurrence explode, then the same nested
    * list_filter existence chain. */
  private[operators] def proximitySql(terms: Seq[String],
      span: Int): String = {
    require(terms == terms.distinct,
      "the SQL generator assumes distinct terms")
    val k = terms.size
    val lists = terms.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, list(o.p ORDER BY o.p) AS ps FROM o " +
        s"WHERE o.tok = '$t' GROUP BY doc_id)"
    }.mkString(", ")
    def nest(i: Int): String =
      if (i == k) "TRUE"
      else s"len(list_filter(p$i.ps, q$i -> q$i > q${i - 1} AND " +
        s"q$i <= q0 + $span AND ${nest(i + 1)})) > 0"
    val joins = (1 until k)
      .map(i => s"JOIN p$i ON p0.doc_id = p$i.doc_id").mkString(" ")
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
      "FROM documents WHERE text IS NOT NULL), " +
      "o AS (SELECT doc_id, unnest(list_transform(range(len(ts)), " +
      "i -> {'p': i, 'tok': ts[i + 1]})) AS o FROM t), " +
      s"$lists, " +
      s"j AS (SELECT p0.doc_id, len(list_filter(p0.ps, " +
      s"q0 -> ${nest(1)})) AS m FROM p0 $joins) " +
      "SELECT doc_id, CAST(m AS BIGINT) AS prox_tf FROM j " +
      "WHERE m > 0 ORDER BY doc_id"
  }

  /** Vocabulary listing for a token PREFIX: (token, df, n_occ) —
    * x146's probe and `GET /search?prefix=`. The startsWith pushes
    * into the token-sorted postings scan as a range (plan-pinned in
    * PostingsSpec); df counts the table's one-row-per-(token,doc)
    * rows, occurrences fold Σtf. */
  private[graft] def prefixVocabFor(s: SparkSession, d: String,
      prefix: String): DataFrame = {
    require(prefix.nonEmpty, "empty prefix")
    PostingsIndex.forDir(s, d).load("postings")
      .filter(col("token").startsWith(prefix))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).cast("bigint").as("n_occ"))
  }

  /** Snippet window width (tokens) for x145 / the `/search` snippet
    * field. */
  private[operators] val SnippetW = 32

  /** Best-passage extraction: for every doc with ≥1 query-term hit,
    * the start position of the [[SnippetW]]-token window containing
    * the MOST query-term occurrences (ties → smallest start — every
    * optimal window is anchored at a hit, so anchoring candidates at
    * hit positions loses nothing). Engine: explode the matching
    * groups' positions (O(term occurrences) rows — position order
    * within a doc is globally unique, one token per position), count
    * hits per anchored window with a RANGE frame over the per-doc
    * position order, then one arg-max struct agg. The per-doc sort
    * the window needs is over that doc's HIT positions only, never
    * its tokens. */
  private[graft] def bestWindowFor(s: SparkSession, d: String,
      terms: Seq[String], w: Int = SnippetW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = PostingsIndex.forDir(s, d)
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rangeBetween(Window.currentRow, w - 1)
    ps.load("postings")
      .filter(col("token").isin(terms: _*))
      .select(col("doc_id"), explode(col("pos")).as("p"))
      .withColumn("cnt", count(lit(1)).over(win))
      .groupBy("doc_id")
      .agg(max(struct(col("cnt"), (-col("p")).as("np"))).as("b"))
      .select(col("doc_id"),
        (-col("b.np")).cast("bigint").as("win_start"),
        col("b.cnt").cast("bigint").as("win_hits"))
  }

  /** x145's oracle: same construction from raw text — hit positions
    * via the occurrence explode, anchored-window counts via the same
    * RANGE frame, arg-max via ROW_NUMBER (cnt DESC, p ASC). */
  private[operators] def bestWindowSql(terms: Seq[String], w: Int): String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
      "FROM documents WHERE text IS NOT NULL), " +
      "o AS (SELECT doc_id, unnest(list_transform(range(len(ts)), " +
      "i -> {'p': i, 'tok': ts[i + 1]})) AS o FROM t), " +
      "h AS (SELECT doc_id, o.p AS p FROM o WHERE o.tok IN " +
      s"(${terms.map("'" + _ + "'").mkString(", ")})), " +
      "c AS (SELECT doc_id, p, COUNT(*) OVER (PARTITION BY doc_id " +
      s"ORDER BY p RANGE BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) " +
      "AS cnt FROM h), " +
      "r AS (SELECT doc_id, p, cnt, ROW_NUMBER() OVER (PARTITION BY " +
      "doc_id ORDER BY cnt DESC, p ASC) AS rn FROM c) " +
      "SELECT doc_id, CAST(p AS BIGINT) AS win_start, " +
      "CAST(cnt AS BIGINT) AS win_hits FROM r WHERE rn = 1 " +
      "ORDER BY doc_id"

  val all: Seq[Query] = Seq(

    // corpus stats per language (survey Q22)
    Query("q22_textstats",
      "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars, " +
        "CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars " +
        "FROM documents GROUP BY lang ORDER BY lang") {
      (s, d) =>
        table(s, d, "documents")
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy("lang")
    },

    // token counting (whitespace tokenizer)
    Query("x2_token_count",
      s"SELECT doc_id, ${Sql.tokenCount("text")} AS n_tokens " +
        "FROM documents ORDER BY doc_id") {
      (s, d) =>
        table(s, d, "documents")
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
          .orderBy("doc_id")
    },

    // heuristic language-ID: marker-token argmax, reported as a
    // (actual, predicted) confusion matrix
    Query("x3_langid",
      "WITH t AS (SELECT lang, string_split(text, ' ') AS ts FROM documents) " +
        s"SELECT lang, ${Sql.langPredict("ts")} AS pred, COUNT(*) AS n " +
        "FROM t GROUP BY 1, 2 ORDER BY 1, 2") {
      (s, d) =>
        spreadScan(s, table(s, d, "documents"))
          .select(col("lang"), TextFns.tokens(col("text")).as("ts"))
          .withColumn("pred", TextFns.langPredict(col("ts")))
          .groupBy("lang", "pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")
    },

    // quality scoring: token count, lexical diversity, mean token length
    Query("x4_quality",
      "WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ts FROM documents) " +
        "SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio, " +
        "CAST(n_chars - (len(ts) - 1) AS DOUBLE) / len(ts) AS avg_token_len " +
        "FROM t ORDER BY doc_id") {
      (s, d) =>
        table(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            TextFns.tokens(col("text")).as("ts"))
          .select(col("doc_id"),
            size(col("ts")).cast("bigint").as("n_tokens"),
            (size(array_distinct(col("ts"))).cast("double") / size(col("ts")))
              .as("distinct_ratio"),
            ((col("n_chars") - (size(col("ts")) - 1)).cast("double") /
              size(col("ts"))).as("avg_token_len"))
          .orderBy("doc_id")
    },

    // order-sensitive rolling-hash document fingerprint
    Query("x5_fingerprint",
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) " +
        s"SELECT doc_id, ${Sql.fingerprint("ts")} AS fp FROM t ORDER BY doc_id") {
      (s, d) =>
        table(s, d, "documents")
          .select(col("doc_id"),
            TextFns.fingerprint(TextFns.tokens(col("text"))).as("fp"))
          .orderBy("doc_id")
    },

    // quality-filter ratios (training-pipeline brief: length/punct/
    // stopword ratios): punctuation, digit and stopword fractions per
    // document — the per-row signals a corpus quality filter thresholds
    // on. Pure narrow map (single scan stage at 100 TB). DuckDB's
    // regexp_replace needs the 'g' flag for replace-all parity with
    // Spark.
    Query("x29_quality_ratios",
      "WITH t AS (SELECT doc_id, n_chars, text, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, " +
        "round(CAST(len(text) - len(regexp_replace(text, '[.,;:!?''\"()-]', '', 'g')) AS DOUBLE) " +
        "/ nullif(len(text), 0), 6) AS punct_ratio, " +
        "round(CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) " +
        "/ nullif(len(text), 0), 6) AS digit_ratio, " +
        "round(CAST(len(list_filter(ts, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', " +
        "'de', 'la', 'el', 'le', 'und', 'der', 'die'))) AS DOUBLE) " +
        "/ nullif(len(ts), 0), 6) AS stopword_ratio " +
        "FROM t ORDER BY doc_id") {
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "to", "in", "is",
          "de", "la", "el", "le", "und", "der", "die")
        val t = table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"),
            graft.functions.TextFns.tokens(col("text")).as("ts"))
        t.select(col("doc_id"),
          round((length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?'\"()-]", ""))).cast("double") /
            nullif(length(col("text")), lit(0)), 6).as("punct_ratio"),
          round((length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
            nullif(length(col("text")), lit(0)), 6).as("digit_ratio"),
          round(size(filter(col("ts"),
            x => x.isin(stop.map(_.asInstanceOf[Any]): _*))).cast("double") /
            nullif(size(col("ts")), lit(0)), 6).as("stopword_ratio"))
          .orderBy("doc_id")
      }
    },

    // BPE-style pre-tokenization count (training-pipeline brief:
    // "whitespace + a BPE-ish regex"): runs of letters / digits /
    // other-symbols as separate tokens — the GPT-2-style pre-tokenizer
    // split, counted per document next to the whitespace count.
    // Narrow map; regex is shared verbatim by both engines.
    Query("x30_token_bpe",
      "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpe, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_words, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id") {
      (s, d) =>
        spreadScan(s, table(s, d, "documents")).filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).as("n_bpe"),
            size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
              .as("n_words"),
            size(split(col("text"), " ", -1)).as("n_ws"))
          .orderBy("doc_id")
    },

    // deterministic train/val/test split assignment — the reproducible
    // 80/10/10 bucketing every training-data pipeline needs: the split
    // is a pure function of a stable key hash (first 16 md5 bits of
    // doc_id, mod 100), so it is identical across runs, engines and
    // cluster sizes, and membership never leaks between splits when
    // the corpus grows (old docs keep their split). A narrow map — no
    // shuffle except the stratification audit aggregate reported here
    // (per-language split counts + within-language fraction).
    // per-source data card — the mix report every pretraining pipeline
    // publishes before export: per crawl/source, document and character
    // counts, the source's share of total corpus characters, and
    // token/duplication stats. All ratios derive from BIGINT sums with
    // ONE final division (float partial-aggregation order never enters,
    // so the result hash-matches the oracle bit-for-bit). Scale shape:
    // one narrow scan → hash agg with map-side combine to n_sources
    // rows (bounded corpus metadata); the share window runs over that
    // bounded output, not the corpus.
    Query("x44_source_mix",
      "WITH t AS (SELECT source, n_chars, " +
        "len(string_split(text, ' ')) AS nt, " +
        "len(list_distinct(string_split(text, ' '))) AS nd " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars, " +
        "round(CAST(SUM(n_chars) AS DOUBLE) / SUM(SUM(n_chars)) OVER (), 6) AS char_share, " +
        "CAST(SUM(nt) AS BIGINT) AS tokens, " +
        "round(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 4) AS avg_tokens, " +
        "round(1 - CAST(SUM(nd) AS DOUBLE) / SUM(nt), 6) AS dup_ratio " +
        "FROM t GROUP BY source ORDER BY source") {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ts = TextFns.tokens(col("text"))
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("source"), col("n_chars"),
            size(ts).as("nt"), size(array_distinct(ts)).as("nd"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(col("nt")).as("tokens"), sum(col("nd")).as("nds"))
          .withColumn("char_share", round(col("chars").cast("double") /
            sum(col("chars")).over(Window.partitionBy()), 6))
          .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
            col("chars").cast("bigint").as("chars"), col("char_share"),
            col("tokens").cast("bigint").as("tokens"),
            round(col("tokens").cast("double") / col("n_docs"), 4)
              .as("avg_tokens"),
            round(lit(1) - col("nds").cast("double") / col("tokens"), 6)
              .as("dup_ratio"))
          // NULLS LAST to match DuckDB's ascending default (Spark's is
          // nulls-first) — a NULL source group must not break the
          // positional oracle compare
          .orderBy(col("source").asc_nulls_last)
      }
    },

    Query("x35_train_split",
      "WITH b AS (SELECT lang, " +
        Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100 AS bkt " +
        "FROM documents), " +
        "s AS (SELECT lang, CASE WHEN bkt < 80 THEN 'train' " +
        "WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split FROM b), " +
        "c AS (SELECT lang, split, COUNT(*) AS n FROM s GROUP BY 1, 2) " +
        "SELECT lang, split, n, round(CAST(n AS DOUBLE) / " +
        "SUM(n) OVER (PARTITION BY lang), 4) AS frac " +
        "FROM c ORDER BY lang, split") {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
        val split = when(bkt < 80, "train").when(bkt < 90, "val")
          .otherwise("test")
        table(s, d, "documents")
          .select(col("lang"), split.as("split"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"))
          .withColumn("frac", round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("lang"))), 4))
          .orderBy("lang", "split")
    },

    // test-set DECONTAMINATION audit — the check every training
    // pipeline runs before evaluation: a test-split document sharing
    // any 8-token shingle with any train-split document is flagged
    // contaminated. Composes the x35 split hash with the dedup
    // shingle machinery. Scale shape: the train shingle vocabulary is
    // DISTINCT and the test side probes it with a LEFT SEMI equi-join
    // — no pair materialization, so a stop phrase cannot blow up the
    // join the way it would in a pairwise formulation; both sides
    // scan the stored ex8 shingle index (one shuffle each on the
    // shingle key), and the explode ran once, at index build.
    Query("x36_contamination", {
      val bkt = Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100"
      "WITH b AS (SELECT doc_id, lang, text, " + bkt + " AS bkt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, lang, CASE WHEN bkt < 80 THEN 'train' " +
        "WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split, " +
        "string_split(text, ' ') AS ts FROM b), " +
        "sh AS (SELECT doc_id, lang, split, " + Sql.shingles("ts", 8) +
        " AS s FROM sp WHERE len(ts) >= 8), " +
        "ex AS (SELECT doc_id, split, unnest(s) AS g FROM sh), " +
        "trg AS (SELECT DISTINCT g FROM ex WHERE split = 'train'), " +
        "cont AS (SELECT DISTINCT doc_id FROM ex WHERE split = 'test' " +
        "AND g IN (SELECT g FROM trg)) " +
        "SELECT lang, COUNT(*) AS n_test, " +
        "CAST(COUNT(cont.doc_id) AS BIGINT) AS n_contaminated " +
        "FROM sh LEFT JOIN cont USING (doc_id) WHERE split = 'test' " +
        "GROUP BY lang ORDER BY lang"
    }) {
      (s, d) =>
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
        val split = when(bkt < 80, "train").when(bkt < 90, "val")
          .otherwise("test")
        // eligible docs (text, ≥8 tokens) carry lang+split; the final
        // per-lang count reads this cheap pre-shingle frame. The
        // shingle vocabulary comes from the STORED ex8h index (built
        // once per corpus version — 16-byte (doc_id, xxhash64) rows,
        // shared machinery with x7/x8): the r7 formulation evaluated
        // the tokenize+explode lineage twice, once per branch; here
        // both branches scan the compact table, and split is
        // recomputed from doc_id (it is a pure hash of it).
        val eligible = table(s, d, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"), split.as("split"),
            TextFns.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 8)
        // split rides the stored index (computed once at build — it is
        // immutable per doc_id), so the probe runs no md5 at all
        val ex = graft.operators.ShingleIndex.forDir(s, d).load("ex8h")
        val trainG = ex.filter(col("split") === "train")
          .select(col("h")).distinct()
        // stage 1, hash-level candidates off the compact index: test
        // docs holding a shingle hash seen in train. Stage 2 (r9)
        // makes the verdict COLLISION-PROOF at any scale: the exact
        // shingle STRINGS are recomputed for the candidate docs on
        // both sides (scans semi-pruned to candidates — cost is
        // proportional to actual contamination, the output floor, not
        // the corpus) and only string-confirmed hits count. A 64-bit
        // xxhash collision now yields a discarded candidate instead
        // of a divergence from the string-based oracle.
        val candRows = ex.filter(col("split") === "test")
          .join(trainG, Seq("h"), "left_semi")
        val candHashes = candRows.select(col("h")).distinct()
        val candTestDocs = candRows.select(col("doc_id")).distinct()
        val candTrainDocs = ex.filter(col("split") === "train")
          .join(candHashes, Seq("h"), "left_semi")
          .select(col("doc_id")).distinct()
        // candidate docs' shingle strings, immediately re-pruned to
        // the candidate HASHES so the string distinct/join shuffles
        // only matched shingles (∝ hits), never a candidate doc's
        // whole vocabulary
        def candShingles(ids: org.apache.spark.sql.DataFrame) =
          candidateShingles(s, d, ids, candHashes)
        val trainStr = candShingles(candTrainDocs)
          .select(col("g")).distinct()
        val contaminated = candShingles(candTestDocs)
          .join(trainStr, Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
          .withColumn("__c", lit(1))
        eligible.filter(col("split") === "test")
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_test"),
            count(col("__c")).as("n_contaminated"))
          .orderBy("lang")
    },

    // trigram-profile language ID (ROADMAP §6): per-language profiles
    // are the top-20 character trigrams by document frequency, learned
    // from the corpus itself; a document's prediction is the profile
    // with the largest distinct-trigram overlap (ties → lang asc,
    // no-trigram docs → '??'). Two-stage: (1) learn the 5×20 profile —
    // one explode+shuffle pass whose result is 100 rows, collected and
    // baked into the scoring expressions as array literals; (2) score —
    // a NARROW map (size(array_intersect(doc trigrams, profile)) per
    // language + an argmax cascade) over a single documents scan, no
    // join and no second explode-shuffle. This is the 100 TB shape: the
    // profile is corpus metadata, the per-document work is one codegen
    // pass (the r6 formulation scanned the trigram explode twice — once
    // for learning, once for a scoring join). Reported, like x3, as an
    // (actual, predicted) confusion matrix.
    Query("x26_langid_trigram",
      "WITH tg AS (SELECT lang, doc_id, unnest(list_distinct(" +
        "list_transform(range(1, len(text) - 1), i -> substr(text, i, 3)))) AS g " +
        "FROM documents WHERE text IS NOT NULL), " +
        "prof AS (SELECT lang AS plang, g FROM (" +
        "SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY COUNT(*) DESC, g) AS rn FROM tg GROUP BY lang, g) WHERE rn <= 20), " +
        "score AS (SELECT t.doc_id, p.plang, COUNT(*) AS c FROM tg t " +
        "JOIN prof p ON t.g = p.g GROUP BY 1, 2), " +
        "pred AS (SELECT doc_id, plang AS pred FROM (" +
        "SELECT doc_id, plang, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY c DESC, plang) AS rn FROM score) WHERE rn = 1) " +
        "SELECT d.lang, COALESCE(p.pred, '??') AS pred, COUNT(*) AS n " +
        "FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2") {
      (s, d) =>
        import org.apache.spark.sql.Column
        val docs = table(s, d, "documents")
        // CharNgramsDistinct, not the sequence+substr HOF: one codegen
        // pass per document, and empty (not a DESCENDING sequence of
        // junk offsets) for texts shorter than the n-gram — matching
        // the oracle's empty range(1, len-1)
        def grams(c: Column) = graft.functions.expressions.TextExpressions
          .char_ngrams(c, 3)
        // stage 1: the profile — 5×20 rows of corpus metadata, learned
        // ONCE per corpus version and cached like the stored indexes
        // (r9): the corpus-scale explode+agg no longer runs per query
        val profByLang = trigramProfile(s, d)
        // stage 2: narrow argmax over per-document trigram∩profile
        // counts — c must beat 0 to displace '??', matching the
        // oracle's inner-join score (docs with no overlap stay '??').
        // Flat greatest + first-match when-chain, NOT a running
        // (best, pred) fold: the fold duplicates the previous best
        // inside every level, growing the expression tree 2^langs and
        // defeating codegen subexpression elimination. Here each
        // intersect appears exactly twice (greatest + its own ===),
        // which codegen CSE collapses to one evaluation.
        val g = coalesce(grams(col("text")),
          array().cast("array<string>"))
        // narrow g ONCE against the union of all profiles (≤100 grams,
        // one pass over the document's trigrams), so the 5 per-language
        // intersects run over a ≤100-element array instead of
        // re-scanning the full trigram set per language —
        // g∩union∩profᵢ = g∩profᵢ since profᵢ ⊆ union
        val unionGrams = profByLang.flatMap(_._2).distinct
        val gSmall = array_intersect(g,
          array(unionGrams.map(lit).toIndexedSeq: _*))
        val cs = profByLang.map { case (lang, gs) =>
          (lang, size(array_intersect(gSmall,
            array(gs.map(lit).toIndexedSeq: _*))))
        }
        val m = cs.map(_._2).reduceLeft((a, b) => greatest(a, b))
        // first match in lang-ASC order wins ties, matching the
        // oracle's ORDER BY c DESC, plang
        val chain = cs.tail.foldLeft(
          when(cs.head._2 === m, lit(cs.head._1))) {
          case (acc, (lang, c)) => acc.when(c === m, lit(lang))
        }
        val pred = when(m > 0, chain).otherwise(lit("??"))
        // the scoring scan is the heaviest per-doc compute in the
        // corpus — spread it when the source layout under-parallelizes
        spreadScan(s, docs).select(col("lang"), pred.as("pred"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")
    },

    // 16-bit SimHash fingerprint from md5-derived token hashes,
    // computed per-document in one codegen pass (SimHash16): no shuffle
    // at all except the deterministic ORDER BY. The oracle keeps the
    // relational explode(token × bit) formulation — same values.
    Query("x6_simhash",
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents), " +
        "v AS (SELECT doc_id, " + Sql.md5Bits16("md5(t)") + " AS v16 FROM tok), " +
        "b AS (SELECT doc_id, v16, j FROM v, (SELECT unnest(range(16)) AS j)), " +
        "c AS (SELECT doc_id, j, SUM(CASE WHEN CAST(floor(v16 / power(2, j)) AS BIGINT) % 2 = 1 " +
        "THEN 1 ELSE -1 END) AS sgn FROM b GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(SUM(CASE WHEN sgn > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) " +
        "AS BIGINT) AS simhash FROM c GROUP BY doc_id ORDER BY doc_id") {
      (s, d) =>
        table(s, d, "documents")
          // null-text docs are dropped on BOTH sides: the oracle's
          // unnest(string_split(NULL)) yields no rows for them, so an
          // unfiltered Spark side would emit an extra null-simhash row
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.expressions.TextExpressions
              .simhash16(TextFns.tokens(col("text"))).as("simhash"))
          .orderBy("doc_id")
    },

    // repetition-based quality score (the Gopher-style duplicate-ngram
    // rule): the fraction of a document's word 5-grams that repeat an
    // earlier 5-gram of the SAME document. High values flag
    // boilerplate/degenerate text a pretraining filter drops. Total
    // grams come from the token count (len-4), distinct grams from the
    // codegen shingle expression — a pure narrow map, single scan
    // stage at 100 TB; the ORDER BY exists only for the oracle.
    Query("x38_repetition",
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, " +
        "CAST(greatest(len(ts) - 4, 0) AS BIGINT) AS n_grams, " +
        s"CAST(len(${Sql.shingles("ts", 5)}) AS BIGINT) AS n_distinct, " +
        s"round(1 - CAST(len(${Sql.shingles("ts", 5)}) AS DOUBLE) / " +
        "nullif(greatest(len(ts) - 4, 0), 0), 6) AS rep_ratio " +
        "FROM t ORDER BY doc_id") {
      (s, d) =>
        spreadScan(s, table(s, d, "documents")).filter(col("text").isNotNull)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
          .select(col("doc_id"),
            greatest(size(col("ts")) - 4, lit(0)).cast("bigint")
              .as("n_grams"),
            size(TextFns.shingles(col("ts"), 5)).cast("bigint")
              .as("n_distinct"),
            round(lit(1) - size(TextFns.shingles(col("ts"), 5))
              .cast("double") /
              nullif(greatest(size(col("ts")) - 4, lit(0)), lit(0)), 6)
              .as("rep_ratio"))
          .orderBy("doc_id")
    },

    // deterministic stratified downsampling — the data-MIXING op every
    // pretraining pipeline runs before export: each language is sampled
    // down so its expected character mass matches the smallest
    // language's, making the training mix balanced instead of
    // majority-dominated. The rate table is corpus metadata (one tiny
    // agg); membership is a pure hash of doc_id against the stratum's
    // threshold, so the sample is reproducible across runs, engines and
    // cluster sizes, and a grown corpus keeps old members stable.
    // Scale shape: one partial-combine agg for the rate table, which is
    // then COLLECTED to the driver (n_langs rows — corpus metadata, the
    // bounded kind of collect) so the threshold arithmetic and the
    // audit probe reference a local table instead of re-deriving the
    // aggregation subtree: exactly TWO corpus scans total (the rate
    // agg + the narrow kept-count filter), where leaving the rate
    // table lazy re-ran the corpus agg at every reference (5 scans).
    // The float threshold floor(1e4·min/chars) is exact while
    // 1e4·min < 2^53; a >2^49-char (~0.5 PB) stratum would switch to
    // integer division. NOTE the collect runs when the BUILDER runs:
    // a query value snapshots the rate table at construction and is
    // rebuilt per invocation — invoke the builder per corpus version
    // (the same build-at-declare contract as the stored-index probes).
    Query("x41_stratified_sample", {
      val bkt = Sql.md5Bits16("md5(CAST(d.doc_id AS VARCHAR))") + " % 10000"
      "WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang), " +
        "t AS (SELECT lang, n_docs, chars, " +
        "CAST(floor(10000.0 * (SELECT MIN(chars) FROM c) / chars) AS BIGINT) AS thr " +
        "FROM c), " +
        "k AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept " +
        s"FROM documents d JOIN t ON d.lang = t.lang WHERE $bkt < t.thr " +
        "GROUP BY d.lang) " +
        "SELECT t.lang, t.n_docs, t.chars, t.thr, " +
        "COALESCE(k.n_kept, 0) AS n_kept " +
        "FROM t LEFT JOIN k ON t.lang = k.lang ORDER BY t.lang"
    }) {
      (s, d) => {
        import s.implicits._
        val docs = table(s, d, "documents")
        // the rate table is bounded by the number of languages — pull
        // it to the driver so thresholds are computed once, locally
        val cRows = docs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .collect()
        val strata = cRows.map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        if (strata.isEmpty)
          Seq.empty[(String, Long, Long, Long, Long)]
            .toDF("lang", "n_docs", "chars", "thr", "n_kept")
        else {
          // min over the non-null masses; a stratum with NULL mass (all
          // n_chars NULL) still emits its row, with NULL thr — exactly
          // what MIN/floor-over-NULL yield in the SQL oracle
          val mnOpt = strata.flatMap(_._3).minOption
          // same IEEE arithmetic the previous distributed form (and the
          // DuckDB oracle) evaluate: floor(1e4 * min / chars) on doubles
          val t = strata.toSeq.map { case (lang, n, chOpt) =>
            (lang, n, chOpt.map(Long.box).orNull,
              (for (mn <- mnOpt; ch <- chOpt) yield Long.box(
                math.floor(10000.0 * mn / ch).toLong)).orNull)
          }.toDF("lang", "n_docs", "chars", "thr")
          val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 10000
          val k = docs
            .join(broadcast(t.select(col("lang"), col("thr"))), "lang")
            .filter(bkt < col("thr"))
            .groupBy("lang").agg(count(lit(1)).as("n_kept"))
          t.join(broadcast(k), Seq("lang"), "left")
            .select(col("lang"), col("n_docs"), col("chars"), col("thr"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"))
            .orderBy("lang")
        }
      }
    },

    // corpus-frequency familiarity score — the deterministic stand-in
    // for the CCNet-style LM-perplexity filter: a document scores the
    // mean corpus document-frequency of its distinct character
    // trigrams, so text whose character patterns are common across the
    // corpus scores high and noisy/degenerate text scores low. The
    // score is integer arithmetic until one final division (float SUMs
    // are order-dependent across engines; BIGINT sums are not), so it
    // hash-matches the oracle exactly. Scale shape: the df table is
    // bounded by the trigram VOCABULARY, not the corpus, so it is
    // learned once per corpus version ([[trigramDf]], version-
    // cached like x26's profile) and broadcast into the probe join —
    // ONE corpus-scale explode per invocation (plus the narrow doc_id
    // audit scan), where rebuilding the df table lazily re-ran the
    // explode twice. A vocabulary past the driver guard falls back to
    // the distributed form: both join inputs shuffle on the gram key
    // from the SAME exploded lineage and ReuseExchange dedupes the
    // pass.
    Query("x42_familiarity",
      "WITH tg AS (SELECT doc_id, unnest(list_distinct(" +
        "list_transform(range(1, len(text) - 1), i -> substr(text, i, 3)))) AS g " +
        "FROM documents WHERE text IS NOT NULL), " +
        "f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tg GROUP BY g), " +
        "sc AS (SELECT t.doc_id, CAST(SUM(f.df) AS BIGINT) AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM tg t JOIN f USING (g) " +
        "GROUP BY t.doc_id) " +
        "SELECT d.doc_id, COALESCE(sc.n, 0) AS n_grams, " +
        "round(CAST(sc.s AS DOUBLE) / sc.n, 6) AS familiarity " +
        "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id " +
        "ORDER BY d.doc_id") {
      (s, d) => {
        import s.implicits._
        val docs = table(s, d, "documents")
        val tg = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), explode(graft.functions.expressions
            .TextExpressions.char_ngrams(col("text"), 3)).as("g"))
        val f = trigramDf(s, d) match {
          case Some(grams) => broadcast(grams.toDF("g", "df"))
          case None => tg.groupBy("g").agg(count(lit(1)).as("df"))
        }
        val sc = tg.join(f, "g").groupBy("doc_id")
          .agg(sum(col("df")).as("s"), count(lit(1)).as("n"))
        docs.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n_grams"),
            round(col("s").cast("double") / col("n"), 6).as("familiarity"))
          .orderBy("doc_id")
      }
    },

    // corpus-level boilerplate mining: ALL word 5-grams (duplicates
    // kept — multiplicity is the signal) exploded and counted across
    // the corpus; grams shared by ≥2 occurrences surface repeated
    // templates (headers, footers, licence blocks). Scale shape: the
    // explode feeds a hash aggregate with map-side partial combine
    // (shuffle volume ≈ distinct grams per partition, not total
    // grams) and the top-k is TakeOrdered, never a global sort. At
    // 100 TB the group key would be xxhash64(gram) — an 8-byte
    // shuffle key — with exemplar strings recovered for the top-k
    // candidates only; the string-keyed form is kept for exact
    // oracle parity at gate scale.
    Query("x39_boilerplate", {
      s"WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents " +
        "WHERE text IS NOT NULL), " +
        s"g AS (SELECT unnest(${Sql.allShingles("ts", 5)}) AS gram FROM t) " +
        "SELECT gram, COUNT(*) AS n FROM g GROUP BY gram " +
        "HAVING COUNT(*) >= 2 ORDER BY n DESC, gram LIMIT 50"
    }) {
      (s, d) =>
        spreadScan(s, table(s, d, "documents")).filter(col("text").isNotNull)
          .select(explode(
            TextFns.allShingles(TextFns.tokens(col("text")), 5)).as("gram"))
          .groupBy("gram")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2)
          .orderBy(col("n").desc, col("gram"))
          .limit(50)
    },

    // deterministic sequence packing — the EXPORT-side op every
    // pretraining pipeline runs after filtering/dedup: documents are
    // concatenated in a stable order into fixed-token-budget training
    // sequences, and each doc is assigned (shard, bin, pos) = which
    // sequence it starts in and at what token offset. Packing is
    // per-SHARD (shard = pure hash of doc_id), so it is reproducible
    // across engines and cluster sizes AND embarrassingly parallel:
    // the only shuffle is one hash partition on shard, the running
    // offset is a per-shard window cumsum (no global sort, no driver
    // state), and production sets n_shards ∝ cluster width so every
    // executor packs its shards independently. A GLOBAL cumsum would
    // serialize on one task — the shard decomposition is the 100 TB
    // shape. Budget 1024 stands in for the training context length.
    Query("x43_seq_pack", {
      val shard = "CAST(" +
        Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 8 AS BIGINT)"
      "WITH t AS (SELECT doc_id, " + shard + " AS shard, " +
        s"${Sql.tokenCount("text")} AS n_tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, shard, n_tok, " +
        "COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum " +
        "FROM t) " +
        "SELECT doc_id, shard, n_tok, " +
        "CAST(floor(cum / 1024.0) AS BIGINT) AS bin, " +
        "CAST(cum % 1024 AS BIGINT) AS pos " +
        "FROM c ORDER BY doc_id"
    }) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            (TextFns.md5Bits16(col("doc_id").cast("string")) % 8)
              .cast("bigint").as("shard"),
            size(TextFns.tokens(col("text"))).cast("bigint").as("n_tok"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t.withColumn("cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .select(col("doc_id"), col("shard"), col("n_tok"),
            floor(col("cum") / 1024.0).cast("bigint").as("bin"),
            (col("cum") % 1024).cast("bigint").as("pos"))
          .orderBy("doc_id")
      }
    },

    // collocation mining: bigrams whose observed frequency beats the
    // independence expectation — lift = P(w1 w2) / (P(w1)·P(w2)) =
    // c12·N / (c1·c2) — surfacing multi-word units for tokenizer /
    // phrase-vocabulary work (x39 ranks raw frequency; this ranks
    // association strength). Lift rather than log-PMI so the only
    // float op is one correctly-rounded IEEE division chain — no
    // libm log whose last ulp could differ across engines. Scale
    // shape: counts are all BIGINT hash aggregates with map-side
    // combine; the unigram table is VOCABULARY-bounded, so both
    // count joins broadcast; N comes from token counts (no second
    // corpus explode); top-50 is TakeOrdered. At 100 TB the c1·c2
    // product would move to DOUBLE to dodge int64 overflow.
    Query("x47_colloc_lift",
      "WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents " +
        "WHERE text IS NOT NULL), " +
        "uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(ts) AS w FROM t) GROUP BY w), " +
        s"bc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12 FROM " +
        s"(SELECT unnest(${Sql.allShingles("ts", 2)}) AS gram FROM t) " +
        "GROUP BY gram HAVING COUNT(*) >= 5), " +
        "n AS (SELECT CAST(SUM(CASE WHEN len(ts) >= 2 THEN len(ts) - 1 " +
        "ELSE 0 END) AS BIGINT) AS nb FROM t) " +
        "SELECT gram, c12, round(CAST(c12 AS DOUBLE) * nb / (c1.c * c2.c), 6) " +
        "AS lift FROM bc CROSS JOIN n " +
        "JOIN uc c1 ON string_split(gram, ' ')[1] = c1.w " +
        "JOIN uc c2 ON string_split(gram, ' ')[2] = c2.w " +
        "ORDER BY lift DESC, gram LIMIT 50") {
      (s, d) => {
        val t = table(s, d, "documents").filter(col("text").isNotNull)
          .select(TextFns.tokens(col("text")).as("ts"))
        val uc = t.select(explode(col("ts")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val bc = t.select(explode(TextFns.allShingles(col("ts"), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
        val n = t.agg(sum(when(size(col("ts")) >= 2, size(col("ts")) - 1)
          .otherwise(0)).cast("bigint").as("nb"))
        bc.crossJoin(broadcast(n))
          .join(broadcast(uc.select(col("w").as("w1"), col("c").as("c1"))),
            split(col("gram"), " ")(0) === col("w1"))
          .join(broadcast(uc.select(col("w").as("w2"), col("c").as("c2"))),
            split(col("gram"), " ")(1) === col("w2"))
          .select(col("gram"), col("c12"),
            round(col("c12").cast("double") * col("nb") /
              (col("c1") * col("c2")), 6).as("lift"))
          .orderBy(col("lift").desc, col("gram"))
          .limit(50)
      }
    },

    // Unigram Shannon entropy per document, summarized per language —
    // the information-density quality signal (low-entropy docs are
    // repetitive/templated, a standard pretraining filter axis
    // alongside x38's repetition ratios). Scale shape: one explode →
    // (doc, word) hash count with map-side combine → per-doc total →
    // one entropy aggregate; everything keys on doc_id so the three
    // aggregations share one shuffle lineage, and the final per-lang
    // rollup is n_langs rows. Float parity: p and log2(p) are the same
    // IEEE ops both engines; per-doc h is rounded to 6 dp BEFORE the
    // language average (absorbing libm-log2 last-ulp and Σ-association
    // differences), and the summary rounds to 4.
    Query("x51_entropy",
      "WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) " +
        "AS word FROM documents WHERE text IS NOT NULL AND text <> ''), " +
        "cnt AS (SELECT doc_id, lang, word, COUNT(*) AS c FROM w " +
        "GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1), " +
        "ent AS (SELECT cnt.doc_id, cnt.lang, " +
        "-SUM((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))) AS h " +
        "FROM cnt JOIN tot USING (doc_id) GROUP BY 1, 2) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "round(AVG(round(h, 6)), 4) AS avg_entropy, " +
        "round(MIN(h), 4) AS min_entropy, " +
        "round(MAX(h), 4) AS max_entropy " +
        "FROM ent GROUP BY lang ORDER BY lang") {
      (s, d) => {
        val cnt = table(s, d, "documents")
          .filter(col("text").isNotNull && col("text") =!= "")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy("doc_id").agg(sum(col("c")).as("n"))
        val p = col("c") / col("n").cast("double")
        val ent = cnt.join(tot, "doc_id")
          .groupBy("doc_id", "lang")
          .agg((-sum(p * log2(p))).as("h"))
        ent.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(round(col("h"), 6)), 4).as("avg_entropy"),
            round(min(col("h")), 4).as("min_entropy"),
            round(max(col("h")), 4).as("max_entropy"))
          .orderBy("lang")
      }
    },

    // Length-decile stratification per language (ntile) — the
    // curriculum/mix-building view: which length bands exist per
    // language and how documents spread across them (feeds x41's
    // stratified sampling with length-aware strata). ntile is the one
    // ranking window class the corpus didn't cover (row_number/rank in
    // q14/x14, frames in x49); output is pure integers over a total
    // (n_chars, doc_id) order, so the oracle matches bit-for-bit.
    // Scale: one lang shuffle; the decile assignment is a single
    // in-partition pass, and the rollup is at most langs×10 rows.
    Query("x52_length_deciles",
      "WITH d AS (SELECT lang, n_chars, " +
        "ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) " +
        "AS decile FROM documents) " +
        "SELECT lang, decile, COUNT(*) AS n, MIN(n_chars) AS lo, " +
        "MAX(n_chars) AS hi FROM d GROUP BY 1, 2 ORDER BY 1, 2") {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
        table(s, d, "documents")
          .select(col("lang"), col("n_chars"),
            ntile(10).over(w).as("decile"))
          .groupBy("lang", "decile")
          .agg(count(lit(1)).as("n"), min(col("n_chars")).as("lo"),
            max(col("n_chars")).as("hi"))
          .orderBy("lang", "decile")
      }
    },

    // TF-IDF top terms per document — the keyword/salience view next
    // to x47's corpus-global collocation lift: term frequency × inverse
    // document frequency, top-3 per doc. r17: rides the STORED
    // postings index ([[PostingsIndex]]) like the rest of the lexical
    // family — the stored (token, doc_id, tf) rows ARE the tf frame
    // the old plan re-aggregated from a per-invocation corpus explode
    // (same expressions, so the hash-matched recompute-from-raw
    // oracle is unchanged), and N rides in from the 1-row stats
    // table. This probe is the full-vocabulary one (no term filter —
    // salience needs every term), so it reads the whole postings
    // table, but that is the corpus's distinct (doc,term) PAIRS with
    // the positional payload column-pruned away, never the corpus
    // text: df folds postings by token (vocabulary-bounded, broadcast
    // back into the probe join) and the per-doc top-3 window rides a
    // doc_id shuffle of the same pair-sized table. Floats: score is
    // rounded to 6 places BEFORE ranking and output on BOTH engines,
    // with a token tie-break, so libm-ln last-ulp differences can
    // neither reorder nor reach the hash.
    Query("x61_tfidf",
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2), " +
        "df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents), " +
        "sc AS (SELECT doc_id, tf.token, " +
        "round(tf * ln(n.n / df.df), 6) AS score " +
        "FROM tf JOIN df ON tf.token = df.token CROSS JOIN n), " +
        "r AS (SELECT doc_id, token, score, ROW_NUMBER() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, token) AS rnk FROM sc) " +
        "SELECT doc_id, rnk, token, score FROM r WHERE rnk <= 3 " +
        "ORDER BY doc_id, rnk") {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ps = PostingsIndex.forDir(s, d)
        val tf = ps.load("postings").select("doc_id", "token", "tf")
        val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
        // N = the TOTAL corpus row count (the oracle counts documents
        // rows, null text included) — the stored stats' n_rows, a
        // 1-row broadcast instead of a corpus scan
        val nRow = ps.load("stats")
          .select(col("n_rows").cast("double").as("__n_total"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("token"))
        tf.join(broadcast(dfTab), "token")
          .crossJoin(broadcast(nRow))
          .withColumn("score",
            round(col("tf") * log(col("__n_total") / col("df")), 6))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("token"), col("score"))
          .orderBy("doc_id", "rnk")
      }
    },

    // winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    // the MOSS algorithm): per-window minima over rolling k-gram
    // hashes give a POSITION-ROBUST fingerprint set with a guaranteed
    // density bound — unlike MinHash (x8, whole-doc similarity) it
    // detects SUBSTRING-level overlap (a copied paragraph inside an
    // otherwise-novel doc), and unlike the contamination index (x36,
    // exact shingle membership) its window minima survive small edits
    // between matches. Parameters: k=4 token grams, w=4 windows →
    // any shared run of ≥ k+w-1 = 7 tokens is guaranteed to share a
    // fingerprint. Scale shape: a pure NARROW map — grams, 24-bit md5
    // hashes and window minima are all array ops inside one projection
    // (no explode, no shuffle; the per-doc output is the distinct-min
    // set summarized to exact integers). At 100 TB the fps would flow
    // into the same inverted index x36 builds; this query pins the
    // fingerprint computation itself.
    Query("x65_winnowing", {
      val gram = "ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]"
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL), " +
        "h AS (SELECT doc_id, list_transform(range(len(ts) - 3), " +
        s"i -> ${Sql.md5Bits24(s"md5($gram)")}) AS hs FROM t " +
        "WHERE len(ts) >= 4), " +
        "f AS (SELECT doc_id, len(hs) AS m, list_distinct(" +
        "list_transform(range(CASE WHEN len(hs) < 4 THEN 1 " +
        "ELSE len(hs) - 3 END), " +
        "i -> list_min(list_slice(hs, i + 1, i + 4)))) AS fps FROM h) " +
        "SELECT doc_id, CAST(m AS BIGINT) AS n_grams, " +
        "CAST(len(fps) AS BIGINT) AS n_fps, " +
        "CAST(list_sum(fps) AS BIGINT) AS fp_sum " +
        "FROM f ORDER BY doc_id"
    }) {
      (s, d) =>
        spreadScan(s, table(s, d, "documents")).filter(col("text").isNotNull)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 4)
          .select(col("doc_id"), (size(col("ts")) - 3).as("m"),
            TextFns.winnowFps(col("ts")).as("fps"))
          .select(col("doc_id"), col("m").cast("bigint").as("n_grams"),
            size(col("fps")).cast("bigint").as("n_fps"),
            aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum"))
          .orderBy("doc_id")
    },

    // PII detection + redaction — the compliance pass every pretraining
    // pipeline runs before export: find emails / IPv4s / phone-shaped
    // spans, count them, and replace them with class tags. The fixture
    // corpus is PII-free word soup, so (the x59 pattern) each document
    // first gets DETERMINISTIC synthetic PII derived from its doc_id
    // appended — the detectors then prove themselves on text that
    // genuinely contains what they claim to find, and the oracle
    // recomputes the same synth + scrub. Patterns are dialect-portable
    // (same chars mean the same thing to Java regex and RE2); counts
    // are exact integers and the redacted text is compared by md5, so
    // the match is bit-level. Scale: a pure narrow map — regex count +
    // three chained regexp_replace per row, single scan stage.
    Query("x66_pii_redact", {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b555-\\d{4}\\b"
      "WITH t AS (SELECT doc_id, text || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@mail' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '.com from ' || " +
        "CAST(doc_id % 250 AS VARCHAR) || '.' || " +
        "CAST(doc_id % 200 AS VARCHAR) || '.' || " +
        "CAST(doc_id % 100 AS VARCHAR) || '.' || " +
        "CAST(doc_id % 50 AS VARCHAR) || ' tel 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth " +
        "FROM documents WHERE text IS NOT NULL), " +
        "r AS (SELECT doc_id, synth, " +
        s"CAST(len(regexp_extract_all(synth, '$email')) AS BIGINT) AS n_email, " +
        s"CAST(len(regexp_extract_all(synth, '$ip')) AS BIGINT) AS n_ip, " +
        s"CAST(len(regexp_extract_all(synth, '$phone')) AS BIGINT) AS n_phone, " +
        s"regexp_replace(regexp_replace(regexp_replace(synth, " +
        s"'$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), " +
        s"'$phone', '[PHONE]', 'g') AS red FROM t) " +
        "SELECT doc_id, n_email, n_ip, n_phone, " +
        "CAST(length(red) AS BIGINT) AS red_len, md5(red) AS red_md5 " +
        "FROM r ORDER BY doc_id"
    }) {
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phone = "\\b555-\\d{4}\\b"
        val synth = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail"),
          (col("doc_id") % 7).cast("string"), lit(".com from "),
          (col("doc_id") % 250).cast("string"), lit("."),
          (col("doc_id") % 200).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"), lit("."),
          (col("doc_id") % 50).cast("string"), lit(" tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        spreadScan(s, table(s, d, "documents")).filter(col("text").isNotNull)
          .select(col("doc_id"), synth.as("synth"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("synth"), lit(email), lit(0)))
              .cast("bigint").as("n_email"),
            size(regexp_extract_all(col("synth"), lit(ip), lit(0)))
              .cast("bigint").as("n_ip"),
            size(regexp_extract_all(col("synth"), lit(phone), lit(0)))
              .cast("bigint").as("n_phone"),
            regexp_replace(regexp_replace(regexp_replace(col("synth"),
              email, "[EMAIL]"), ip, "[IP]"), phone, "[PHONE]").as("red"))
          .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
            length(col("red")).cast("bigint").as("red_len"),
            md5(col("red")).as("red_md5"))
          .orderBy("doc_id")
      }
    },

    // Intra-document chunk-level dedup — the WITHIN-document cleaning
    // pass (C4/RefinedWeb remove repeated lines inside one page; the
    // corpus-level dedups q21/x7/x8 only compare ACROSS documents).
    // Chunks are consecutive 8-token windows (the fixture has no line
    // breaks; real corpora would split on '\n' with the same shape).
    // Scale: a pure narrow map — chunking, distinct-count and the
    // dup fraction are array ops (transform/slice/array_distinct)
    // inside ONE projection, no explode, no per-chunk shuffle; the
    // only aggregation is the n_langs-row rollup. Float parity: the
    // per-doc fraction is an exact small-integer division rounded to
    // 6 dp before the language average (x51's discipline).
    Query("x68_intradoc_dedup",
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL " +
        "AND len(string_split(text, ' ')) >= 8), " +
        "d AS (SELECT doc_id, lang, " +
        "CAST(len(ts) // 8 AS BIGINT) AS n_chunks, " +
        "CAST(len(list_distinct(list_transform(range(len(ts) // 8), " +
        "i -> array_to_string(ts[(i*8+1):(i*8+8)], ' ')))) AS BIGINT) " +
        "AS n_uniq FROM t) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chunks) AS BIGINT) AS chunks, " +
        "CAST(SUM(n_chunks - n_uniq) AS BIGINT) AS dup_chunks, " +
        "round(AVG(round((n_chunks - n_uniq) / " +
        "CAST(n_chunks AS DOUBLE), 6)), 4) AS avg_dup_frac, " +
        "round(MAX(round((n_chunks - n_uniq) / " +
        "CAST(n_chunks AS DOUBLE), 6)), 4) AS max_dup_frac " +
        "FROM d GROUP BY lang ORDER BY lang") {
      (s, d) => {
        val ts = split(col("text"), " ")
        val m = floor(size(col("ts")) / 8).cast("int")
        val chunks = transform(sequence(lit(0), col("m") - 1),
          i => concat_ws(" ", slice(col("ts"), i * 8 + 1, lit(8))))
        val frac = round((col("n_chunks") - col("n_uniq")) /
          col("n_chunks").cast("double"), 6)
        table(s, d, "documents")
          .filter(col("text").isNotNull && size(split(col("text"), " ")) >= 8)
          .select(col("doc_id"), col("lang"), ts.as("ts"))
          .select(col("doc_id"), col("lang"), col("ts"), m.as("m"))
          .select(col("doc_id"), col("lang"),
            col("m").cast("bigint").as("n_chunks"),
            size(array_distinct(chunks)).cast("bigint").as("n_uniq"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chunks")).as("chunks"),
            sum(col("n_chunks") - col("n_uniq")).as("dup_chunks"),
            round(avg(frac), 4).as("avg_dup_frac"),
            round(max(frac), 4).as("max_dup_frac"))
          .orderBy("lang")
      }
    },

    // CROSS-document repeated-span coverage — the substring-dedup audit
    // of Lee et al. '22 ("Deduplicating Training Data Makes Language
    // Models Better"): how much of each language's corpus consists of
    // 5-gram spans that also occur in ANOTHER document (x68 measures
    // within-doc repetition; this measures the cross-doc kind exact
    // dedup misses when documents overlap without being identical).
    // Shape: ONE corpus pass — one scan, one explode, a (doc,gram)
    // partial agg (collapses within-doc multiplicity BEFORE the
    // gram-keyed stage, so a pathological million-repeat doc
    // contributes one row), a gram-keyed window COUNT for
    // doc-frequency, and two tiny rollups. No join, no second scan,
    // no driver materialization: the repeated-gram knowledge never
    // leaves the distributed (doc,gram) rows.
    Query("x72_repeated_spans",
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"g AS (SELECT doc_id, lang, unnest(${Sql.allShingles("ts", 5)}) " +
        "AS gram FROM t), " +
        "dg AS (SELECT doc_id, lang, gram, COUNT(*) AS c FROM g " +
        "GROUP BY doc_id, lang, gram), " +
        "nd AS (SELECT gram FROM dg GROUP BY gram HAVING COUNT(*) >= 2), " +
        "p AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_grams, " +
        "CAST(SUM(CASE WHEN gram IN (SELECT gram FROM nd) THEN c " +
        "ELSE 0 END) AS BIGINT) AS n_rep FROM dg GROUP BY doc_id, lang) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_grams) AS BIGINT) AS grams, " +
        "CAST(SUM(n_rep) AS BIGINT) AS rep_grams, " +
        "CAST(SUM(n_rep) AS DOUBLE) / SUM(n_grams) AS dup_frac " +
        "FROM p GROUP BY lang ORDER BY lang") {
      // strategy selection (r14, closing the r12 window-skew residue):
      // the single-pass window form below X72SkewDocs — one corpus
      // derivation, worst-case single-task window buffer bounded by
      // the threshold itself — and the skew-hardened agg+join form
      // above it, where a boilerplate-scale hot gram would otherwise
      // buffer O(n_docs) rows in ONE WindowExec task. Both forms are
      // hash-identical (SkewWindowSpec pins it on a one-gram-in-half-
      // the-docs fixture); the r11 lesson (forked lineage recomputing
      // the scan+explode) does not return because both dg references
      // hang off dg's own aggregate exchange, which ReuseExchange
      // dedupes — plan-pinned in the same spec. See [[x72Frame]].
      (s, d) => x72Frame(spreadScan(s, table(s, d, "documents")),
        skewSafe = docCount(s, d) > X72SkewDocs)
    },

    // Boilerplate FILTER — x39 mines the top-50 cross-corpus repeated
    // 5-grams; this applies that list as a cleanup gate (the C4/CCNet
    // boilerplate-removal step): a document whose gram stream is ≥ 50%
    // mined boilerplate is dropped, and the survivors roll up into a
    // per-language data card. Since r12 the mined list is
    // version-cached corpus METADATA (the x26-profile lifecycle:
    // mined once per corpus version, cost in the bench `build`
    // section) and baked into the probe as a 50-literal codegen InSet
    // — the query plan is ONE scan + ONE explode_outer + the per-doc
    // aggregate, no join and no second corpus pass (the r11 form
    // re-mined per invocation, paying the explode twice). lang and
    // n_chars ride the explode and come back via first() so short
    // docs (no grams) survive with density 0.0.
    Query("x73_boilerplate_filter",
      "WITH t AS (SELECT doc_id, lang, n_chars, " +
        "string_split(text, ' ') AS ts FROM documents " +
        "WHERE text IS NOT NULL), " +
        s"g AS (SELECT doc_id, unnest(${Sql.allShingles("ts", 5)}) " +
        "AS gram FROM t), " +
        "b AS (SELECT gram FROM (SELECT gram, COUNT(*) AS n FROM g " +
        "GROUP BY gram HAVING COUNT(*) >= 2 " +
        "ORDER BY n DESC, gram LIMIT 50)), " +
        "p AS (SELECT doc_id, COUNT(*) AS n_grams, " +
        "CAST(SUM(CASE WHEN gram IN (SELECT gram FROM b) THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_b FROM g GROUP BY doc_id), " +
        "v AS (SELECT t.doc_id, t.lang, t.n_chars, " +
        "CASE WHEN p.n_grams IS NULL THEN 0.0 " +
        "ELSE CAST(p.n_b AS DOUBLE) / p.n_grams END AS density " +
        "FROM t LEFT JOIN p USING (doc_id)) " +
        "SELECT lang, " +
        "CAST(SUM(CASE WHEN density < 0.5 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS kept_docs, " +
        "CAST(SUM(CASE WHEN density < 0.5 THEN n_chars ELSE 0 END) " +
        "AS BIGINT) AS kept_chars, " +
        "CAST(SUM(CASE WHEN density >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS dropped_docs, " +
        "round(AVG(density), 4) AS avg_density " +
        "FROM v GROUP BY lang ORDER BY lang") {
      (s, d) => {
        val bSet = boilerplateTop50(s, d)
        val isB =
          if (bSet.isEmpty) lit(false) else col("gram").isin(bSet: _*)
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            explode_outer(
              TextFns.allShingles(TextFns.tokens(col("text")), 5))
              .as("gram"))
          .groupBy("doc_id")
          .agg(first("lang").as("lang"), first("n_chars").as("n_chars"),
            count(col("gram")).as("n_grams"),
            sum(when(isB, 1).otherwise(0)).as("n_b"))
          .withColumn("density", when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_b").cast("double") / col("n_grams")))
          .groupBy("lang")
          .agg(sum(when(col("density") < 0.5, 1).otherwise(0))
              .as("kept_docs"),
            sum(when(col("density") < 0.5, col("n_chars")).otherwise(0))
              .as("kept_chars"),
            sum(when(col("density") >= 0.5, 1).otherwise(0))
              .as("dropped_docs"),
            round(avg(col("density")), 4).as("avg_density"))
          .orderBy("lang")
      }
    },

    // Corpus admission GATE — the composed keep/drop verdict a Dolma/
    // FineWeb-style pipeline ends with: every document gets exactly one
    // verdict by fixed priority (too_short → duplicate → low_quality →
    // keep), reusing the corpus's own oracle-proven signals (q21's
    // md5 identity for exact dup with min-doc_id canonical, x4's
    // distinct-token ratio for quality). Output is the per-reason data
    // card. Shape: one md5-keyed agg for canonicals, one md5-keyed
    // join back, one tiny rollup — the gate itself is a pure per-row
    // CASE, so the whole decision runs in two shuffles at any scale.
    Query("x74_corpus_gate",
      "WITH c AS (SELECT doc_id, n_chars, text, " +
        "CASE WHEN text IS NOT NULL THEN md5(text) END AS h, " +
        "string_split(text, ' ') AS ts FROM documents), " +
        "m AS (SELECT h, MIN(doc_id) AS canon FROM c " +
        "WHERE h IS NOT NULL GROUP BY h), " +
        "v AS (SELECT c.doc_id, c.n_chars, " +
        "CASE WHEN c.text IS NULL OR c.n_chars < 50 THEN 'too_short' " +
        "WHEN c.doc_id <> m.canon THEN 'duplicate' " +
        "WHEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) < 0.3 " +
        "THEN 'low_quality' ELSE 'keep' END AS reason " +
        "FROM c LEFT JOIN m ON c.h = m.h) " +
        "SELECT reason, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars " +
        "FROM v GROUP BY reason ORDER BY reason") {
      (s, d) => {
        val c = spreadScan(s, table(s, d, "documents"))
          .select(col("doc_id"), col("n_chars"), col("text"),
            md5(col("text")).as("h"),
            TextFns.tokens(col("text")).as("ts"))
        val m = c.filter(col("h").isNotNull)
          .groupBy("h").agg(min(col("doc_id")).as("canon"))
        val reason =
          when(col("text").isNull || col("n_chars") < 50, "too_short")
            .when(col("doc_id") =!= col("canon"), "duplicate")
            .when(size(array_distinct(col("ts"))).cast("double") /
              size(col("ts")) < 0.3, "low_quality")
            .otherwise("keep")
        c.join(m, Seq("h"), "left")
          .select(col("n_chars"), reason.as("reason"))
          .groupBy("reason")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"))
          .orderBy("reason")
      }
    },

    // Train/eval SPLIT-LEAKAGE audit — the eval-integrity check next
    // to x36's external-benchmark contamination: after x35's hash
    // split, does any val/test document leak training content? Two
    // signals per eval doc: exact (md5 identity present in train) and
    // near (≥1 shared winnowing fingerprint with train — x65's k=4
    // local-min sketch, the cheap recall-oriented screen; a hit feeds
    // the x7/x36-style exact verify in a pipeline). Scale shape: one
    // corpus pass for hashes + one winnow explode (the pass every
    // gram query pays); the train fingerprint set is fp-space-bounded
    // and semi-joins the eval side; the report is 2 rows.
    Query("x84_split_leakage", {
      val gram = "ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]"
      "WITH s AS (SELECT doc_id, text, md5(text) AS h, " +
        Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100 AS bkt " +
        "FROM documents), " +
        "t AS (SELECT doc_id, text, h, CASE WHEN bkt < 80 THEN 'train' " +
        "WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split FROM s), " +
        "tok AS (SELECT doc_id, split, string_split(text, ' ') AS ts " +
        "FROM t WHERE text IS NOT NULL), " +
        "h4 AS (SELECT doc_id, split, list_transform(range(len(ts) - 3), " +
        s"i -> ${Sql.md5Bits24(s"md5($gram)")}) AS hs FROM tok " +
        "WHERE len(ts) >= 4), " +
        "f AS (SELECT doc_id, split, unnest(list_distinct(" +
        "list_transform(range(CASE WHEN len(hs) < 4 THEN 1 " +
        "ELSE len(hs) - 3 END), " +
        "i -> list_min(list_slice(hs, i + 1, i + 4))))) AS fp FROM h4), " +
        "tfp AS (SELECT DISTINCT fp FROM f WHERE split = 'train'), " +
        "th AS (SELECT DISTINCT h FROM t WHERE split = 'train' " +
        "AND h IS NOT NULL), " +
        "fleak AS (SELECT DISTINCT f.doc_id FROM f JOIN tfp ON f.fp = tfp.fp " +
        "WHERE f.split <> 'train') " +
        "SELECT split, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN h IN (SELECT h FROM th) THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_exact_leaked, " +
        "CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM fleak) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_fp_leaked " +
        "FROM t WHERE split <> 'train' GROUP BY split ORDER BY split"
    }) {
      (s, d) => {
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
        val split0 = when(bkt < 80, "train").when(bkt < 90, "val")
          .otherwise("test")
        val t = spreadScan(s, table(s, d, "documents"))
          .select(col("doc_id"), col("text"), md5(col("text")).as("h"),
            split0.as("split"))
        val fps = t.filter(col("text").isNotNull)
          .select(col("doc_id"), col("split"),
            TextFns.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 4)
          .select(col("doc_id"), col("split"),
            explode(TextFns.winnowFps(col("ts"))).as("fp"))
        val trainH = t.filter(col("split") === "train")
          .filter(col("h").isNotNull)
          .select(col("h").as("th")).distinct()
        val trainFp = fps.filter(col("split") === "train")
          .select("fp").distinct()
        val fpLeaked = fps.filter(col("split") =!= "train")
          .join(trainFp, Seq("fp"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("fl", lit(1L))
        t.filter(col("split") =!= "train")
          .join(trainH, col("h") === col("th"), "left")
          .join(fpLeaked, Seq("doc_id"), "left")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("th").isNotNull, 1L).otherwise(0L))
              .as("n_exact_leaked"),
            sum(coalesce(col("fl"), lit(0L))).as("n_fp_leaked"))
          .orderBy("split")
      }
    },

    // Repeated-span REMOVAL — the transform half of x72's audit: the
    // [[SpanDedup.cleanedCorpus]] single-pass window transform (see
    // its scaladoc for the shape and the 100 TB factorization),
    // summarized per affected doc with an md5 of its cleaned text so
    // the oracle hash-checks the COMPLETE transform output, not a
    // sample.
    Query("x85_span_removal",
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT doc_id, unnest(range(len(ts) - 4)) AS pos, " +
        s"unnest(${Sql.allShingles("ts", 5)}) AS gram FROM t), " +
        "stats AS (SELECT gram, MIN(doc_id) AS owner FROM g " +
        "GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)), " +
        "rem AS (SELECT g.doc_id, g.pos FROM g " +
        "JOIN stats ON g.gram = stats.gram WHERE g.doc_id <> stats.owner), " +
        "rp AS (SELECT DISTINCT doc_id, pos + u AS tp FROM rem, " +
        "(SELECT unnest(range(5)) AS u)), " +
        "tok AS (SELECT doc_id, lang, len(ts) AS n_tokens, " +
        "unnest(range(len(ts))) AS tp, unnest(ts) AS token FROM t), " +
        "m AS (SELECT tok.doc_id, tok.lang, tok.n_tokens, tok.tp, " +
        "tok.token, (rp.tp IS NOT NULL) AS rm FROM tok " +
        "LEFT JOIN rp ON tok.doc_id = rp.doc_id AND tok.tp = rp.tp), " +
        "k AS (SELECT doc_id, any_value(lang) AS lang, " +
        "CAST(any_value(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_removed, string_agg(CASE WHEN NOT rm THEN token END, ' ' " +
        "ORDER BY tp) AS ct FROM m GROUP BY doc_id) " +
        "SELECT doc_id, lang, n_tokens, n_removed, " +
        "COALESCE(md5(ct), md5('')) AS clean_md5 FROM k " +
        "WHERE n_removed > 0 ORDER BY doc_id") {
      (s, d) => {
        SpanDedup.cleanedCorpus(spreadScan(s, table(s, d, "documents")), 5, 1, skewSafe = true)
          .filter(col("n_removed") > 0)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("n_removed"), md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id")
      }
    },

    // Variable-length ExactSubstr removal — the actual Lee et al. '22
    // semantics x85 approximates: only MAXIMAL duplicated runs of
    // ≥ L consecutive covered tokens are excised (they use L=50;
    // L=20 here because the fixture's cloned passages cluster at
    // 23–93 tokens while its incidental collocations sit at 5–11 —
    // the threshold separates exactly those populations). The run
    // merge is [[SpanDedup.cleanedCorpus]]'s gaps-and-islands pass
    // over the coverage column — rows already exchanged+sorted by
    // (doc_id, tp), no new shuffle (see its scaladoc).
    Query("x95_span_removal_runs",
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT doc_id, unnest(range(len(ts) - 4)) AS pos, " +
        s"unnest(${Sql.allShingles("ts", 5)}) AS gram FROM t), " +
        "stats AS (SELECT gram, MIN(doc_id) AS owner FROM g " +
        "GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)), " +
        "rem AS (SELECT g.doc_id, g.pos FROM g " +
        "JOIN stats ON g.gram = stats.gram WHERE g.doc_id <> stats.owner), " +
        "rp AS (SELECT DISTINCT doc_id, pos + u AS tp FROM rem, " +
        "(SELECT unnest(range(5)) AS u)), " +
        "isl AS (SELECT doc_id, tp, tp - ROW_NUMBER() OVER " +
        "(PARTITION BY doc_id ORDER BY tp) AS grp FROM rp), " +
        "runs AS (SELECT doc_id, grp, COUNT(*) AS rl FROM isl " +
        "GROUP BY doc_id, grp), " +
        "r2 AS (SELECT isl.doc_id, isl.tp FROM isl JOIN runs " +
        "ON isl.doc_id = runs.doc_id AND isl.grp = runs.grp " +
        "WHERE runs.rl >= 20), " +
        "tok AS (SELECT doc_id, lang, len(ts) AS n_tokens, " +
        "unnest(range(len(ts))) AS tp, unnest(ts) AS token FROM t), " +
        "k AS (SELECT tok.doc_id, any_value(tok.lang) AS lang, " +
        "CAST(any_value(tok.n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN r2.tp IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_removed, " +
        "string_agg(CASE WHEN r2.tp IS NULL THEN tok.token END, ' ' " +
        "ORDER BY tok.tp) AS ct FROM tok " +
        "LEFT JOIN r2 ON tok.doc_id = r2.doc_id AND tok.tp = r2.tp " +
        "GROUP BY tok.doc_id) " +
        "SELECT doc_id, lang, n_tokens, n_removed, " +
        "COALESCE(md5(ct), md5('')) AS clean_md5 FROM k " +
        "WHERE n_removed > 0 ORDER BY doc_id") {
      (s, d) => {
        SpanDedup
          .cleanedCorpus(spreadScan(s, table(s, d, "documents")), 5, 20, skewSafe = true)
          .filter(col("n_removed") > 0)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("n_removed"), md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id")
      }
    },

    // Eval DECONTAMINATION transform — the removal half of x36's
    // audit, in the direction real pipelines apply it: the benchmark
    // is immutable, so the TRAIN split is what gets cleaned — every
    // train document sharing ≥1 exact 8-token shingle with any
    // val/test document is dropped, and the output is the dropped-doc
    // roster (the transform's diff; the kept corpus is its
    // complement). Same scale machinery as x36: both sides probe the
    // stored ex8h hash index (explode paid once, at build), hash
    // candidates are re-verified against exact shingle STRINGS
    // (64-bit-collision-proof; the recheck scans are semi-pruned to
    // candidates, ∝ actual contamination), and nothing ever
    // materializes a doc-pair.
    Query("x86_decontaminate", {
      val bkt = Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100"
      "WITH b AS (SELECT doc_id, lang, text, " + bkt + " AS bkt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, lang, CASE WHEN bkt < 80 THEN 'train' " +
        "WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split, " +
        "string_split(text, ' ') AS ts FROM b), " +
        "sh AS (SELECT doc_id, lang, split, " + Sql.shingles("ts", 8) +
        " AS s FROM sp WHERE len(ts) >= 8), " +
        "ex AS (SELECT doc_id, split, unnest(s) AS g FROM sh), " +
        "eg AS (SELECT DISTINCT g FROM ex WHERE split <> 'train'), " +
        "dropped AS (SELECT DISTINCT doc_id FROM ex " +
        "WHERE split = 'train' AND g IN (SELECT g FROM eg)) " +
        "SELECT sh.doc_id, sh.lang FROM sh JOIN dropped " +
        "ON sh.doc_id = dropped.doc_id ORDER BY sh.doc_id"
    }) {
      (s, d) => {
        table(s, d, "documents")
          .join(contaminatedTrainDocs(s, d), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      }
    },

    // Unigram-LM quality scoring — the statistical signal of CCNet's
    // LM filter, corpus-intrinsic form: each doc's mean token
    // log-probability under the STORED unigram model
    // ([[UnigramLM]], built once per corpus version like the other
    // indexes). A very negative doc_lp = rare-token-heavy (noise,
    // codes, mojibake); near zero = stopword soup. Probe shape: one
    // corpus explode + one token-keyed join against the O(vocabulary)
    // freq table (size-guarded broadcast) + per-doc average. Per-doc
    // and per-lang averages round (4 dp) so the ~200-addend double
    // association-order difference between engines is absorbed.
    Query("x87_unigram_lm",
      "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) " +
        "AS token FROM documents WHERE text IS NOT NULL), " +
        "f AS (SELECT token, ln(CAST(COUNT(*) AS DOUBLE) / " +
        "(SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)) AS lp " +
        "FROM tok GROUP BY token), " +
        "dd AS (SELECT t.doc_id, any_value(t.lang) AS lang, " +
        "round(AVG(f.lp), 4) AS doc_lp FROM tok t " +
        "JOIN f ON t.token = f.token GROUP BY t.doc_id) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "round(AVG(doc_lp), 4) AS avg_lp, MIN(doc_lp) AS min_lp, " +
        "MAX(doc_lp) AS max_lp, " +
        "CAST(SUM(CASE WHEN doc_lp < -3.45 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_rare FROM dd GROUP BY lang ORDER BY lang") {
      (s, d) => {
        val freq = UnigramLM.forDir(s, d).load("freq")
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            explode(TextFns.tokens(col("text"))).as("token"))
          .join(PlanGuards.broadcastIfSmall(freq), Seq("token"))
          .groupBy("doc_id")
          .agg(first("lang").as("lang"),
            round(avg(col("lp")), 4).as("doc_lp"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("doc_lp")), 4).as("avg_lp"),
            min(col("doc_lp")).as("min_lp"),
            max(col("doc_lp")).as("max_lp"),
            sum(when(col("doc_lp") < -3.45, 1L).otherwise(0L))
              .as("n_rare"))
          .orderBy("lang")
      }
    },

    // Importance-WEIGHTED deterministic sampling — quality-weighted
    // corpus thinning (the keep-probability ∝ quality-score step of a
    // data-mixing pipeline), with x35's salted-hash determinism: doc
    // kept iff hash16(doc_id)/65536 < w, where w is x4's
    // distinct-token ratio. Both sides of the comparison are IEEE
    // doubles derived from exact integers, so keep decisions are
    // bit-identical across engines — no sampling divergence to
    // round away. One narrow scan + per-lang rollup.
    Query("x88_weighted_sample", {
      val bkt = Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))")
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts, " +
        bkt + " AS bkt FROM documents WHERE text IS NOT NULL), " +
        "v AS (SELECT doc_id, lang, bkt, " +
        "CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS w FROM t), " +
        "k AS (SELECT lang, w, " +
        "(CAST(bkt AS DOUBLE) / 65536.0 < w) AS keep FROM v) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "round(AVG(w), 4) AS avg_w, " +
        "round(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*), 4) AS kept_rate " +
        "FROM k GROUP BY lang ORDER BY lang"
    }) {
      (s, d) => {
        val ts = TextFns.tokens(col("text"))
        val w = size(array_distinct(ts)).cast("double") / size(ts)
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string"))
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(col("lang"), w.as("w"),
            (bkt.cast("double") / 65536.0 < w).as("keep"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            round(avg(col("w")), 4).as("avg_w"),
            round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
              / count(lit(1)), 4).as("kept_rate"))
          .orderBy("lang")
      }
    },

    // Bigram PMI mining — collocation extraction (Church & Hanks '90;
    // the phrase-mining step of a tokenizer/vocab pipeline): top-20
    // adjacent token pairs by pointwise mutual information,
    // pmi = ln(c_ab/N_b) − ln(c_a/N_t) − ln(c_b/N_t), min count 5.
    // Reuses the STORED unigram model for the marginals (its lp IS
    // ln(c/N_t)) and its 1-row stats table for the bigram denominator
    // (N_b = N_t − n_docs, since a doc of L tokens has L−1 bigrams) —
    // a bounded metadata read, not a corpus-wide single-partition
    // window. Plan: one bigram explode (the codegen 2-gram shingle),
    // vocab-sized agg, two size-guarded broadcast joins against the
    // stored freq table, TakeOrdered 20. The full (pmi, a, b) order
    // makes the top-20 tie-proof.
    Query("x90_pmi_bigrams",
      "WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents " +
        "WHERE text IS NOT NULL), " +
        "tok AS (SELECT unnest(ts) AS token FROM t), " +
        "nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM tok), " +
        "f AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token), " +
        s"bg AS (SELECT unnest(${Sql.allShingles("ts", 2)}) AS g FROM t), " +
        "nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM bg), " +
        "bc AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY g " +
        "HAVING COUNT(*) >= 5), " +
        "p AS (SELECT bc.g, bc.c, " +
        "ln(CAST(bc.c AS DOUBLE) / (SELECT v FROM nb)) " +
        "- ln(CAST(fa.c AS DOUBLE) / (SELECT v FROM nt)) " +
        "- ln(CAST(fb.c AS DOUBLE) / (SELECT v FROM nt)) AS pmi " +
        "FROM bc JOIN f fa ON split_part(bc.g, ' ', 1) = fa.token " +
        "JOIN f fb ON split_part(bc.g, ' ', 2) = fb.token) " +
        "SELECT split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b, " +
        "CAST(c AS BIGINT) AS c, round(pmi, 6) AS pmi FROM p " +
        "ORDER BY round(pmi, 6) DESC, a, b LIMIT 20") {
      (s, d) => {
        val lm = UnigramLM.forDir(s, d)
        // the bigram denominator rides IN-PLAN as a 1-row broadcast
        // (x94's pattern) — not a driver `.head`, so GET /query/.../plan
        // triggers zero jobs; the subtraction is exact-int-derived, so
        // the double is bit-identical to the oracle's
        val st = broadcast(lm.load("stats").select(
          (col("n_tokens") - col("n_docs")).cast("double").as("nb")))
        val freq = lm.load("freq")
        val bc = spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(explode(
            TextFns.allShingles(TextFns.tokens(col("text")), 2)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 5)
          .withColumn("a", substring_index(col("g"), " ", 1))
          .withColumn("b", substring_index(col("g"), " ", -1))
        bc.join(PlanGuards.broadcastIfSmall(
            freq.select(col("token").as("a"), col("lp").as("lpa"))), Seq("a"))
          .join(PlanGuards.broadcastIfSmall(
            freq.select(col("token").as("b"), col("lp").as("lpb"))), Seq("b"))
          .crossJoin(st)
          .select(col("a"), col("b"), col("c"),
            round(log(col("c").cast("double") / col("nb"))
              - col("lpa") - col("lpb"), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("a"), col("b"))
          .limit(20)
      }
    },

    // Corpus-overlap report — the dataset-governance number behind
    // x36/x86: how much of the 8-shingle space do the train and eval
    // (val∪test) sides actually share? Exact set sizes and Jaccard
    // over distinct shingle STRINGS: one gram-keyed aggregate with
    // per-side presence flags (map-side combined; no pair join, no
    // doc×doc anything), then a single-row rollup.
    Query("x92_split_overlap", {
      val bkt = Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100"
      "WITH b AS (SELECT doc_id, text, " + bkt + " AS bkt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT CASE WHEN bkt < 80 THEN 'train' ELSE 'eval' END " +
        "AS side, string_split(text, ' ') AS ts FROM b), " +
        s"sh AS (SELECT side, unnest(${Sql.shingles("ts", 8)}) AS g " +
        "FROM sp WHERE len(ts) >= 8), " +
        "f AS (SELECT g, MAX(CASE WHEN side = 'train' THEN 1 ELSE 0 END) " +
        "AS it, MAX(CASE WHEN side = 'eval' THEN 1 ELSE 0 END) AS ie " +
        "FROM sh GROUP BY g) " +
        "SELECT CAST(SUM(it) AS BIGINT) AS n_train, " +
        "CAST(SUM(ie) AS BIGINT) AS n_eval, " +
        "CAST(SUM(it * ie) AS BIGINT) AS n_shared, " +
        "round(CAST(SUM(it * ie) AS DOUBLE) / " +
        "(SUM(it) + SUM(ie) - SUM(it * ie)), 6) AS jaccard FROM f"
    }) {
      (s, d) => {
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(when(bkt < 80, "train").otherwise("eval").as("side"),
            TextFns.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 8)
          .select(col("side"),
            explode(TextFns.shingles(col("ts"), 8)).as("g"))
          .groupBy("g")
          .agg(max(when(col("side") === "train", 1).otherwise(0)).as("it"),
            max(when(col("side") === "eval", 1).otherwise(0)).as("ie"))
          .agg(sum(col("it")).as("n_train"),
            sum(col("ie")).as("n_eval"),
            sum(col("it") * col("ie")).as("n_shared"),
            round(sum(col("it") * col("ie")).cast("double") /
              (sum(col("it")) + sum(col("ie")) -
                sum(col("it") * col("ie"))), 6).as("jaccard"))
      }
    },

    // Bigram-LM doc scoring — the conditional (word-order-aware) twin
    // of x87's unigram score, i.e. the signal of a KenLM-style
    // perplexity filter in corpus-intrinsic form: per doc, the mean
    // ln p(w_i | w_{i-1}) = ln(c_bigram / c_first) under the STORED
    // model (self-scoring, so every bigram exists — no backoff
    // branch). A doc can score HIGH on x87 (common words) yet low
    // here (scrambled order) — exactly what the bigram view adds.
    // Probe: one bigram explode + two size-guarded broadcast joins
    // (bifreq by pair, freq by first token) + per-doc average.
    Query("x93_bigram_lm",
      "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"bg AS (SELECT doc_id, lang, unnest(${Sql.allShingles("ts", 2)}) " +
        "AS g FROM t), " +
        "bc AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS cab FROM bg " +
        "GROUP BY g), " +
        "tok AS (SELECT unnest(ts) AS token FROM t), " +
        "uc AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS ca FROM tok " +
        "GROUP BY token), " +
        "dd AS (SELECT bg.doc_id, any_value(bg.lang) AS lang, " +
        "round(AVG(ln(bc.cab / uc.ca)), 4) AS doc_blp FROM bg " +
        "JOIN bc ON bg.g = bc.g " +
        "JOIN uc ON split_part(bg.g, ' ', 1) = uc.token " +
        "GROUP BY bg.doc_id) " +
        "SELECT lang, COUNT(*) AS n_docs, round(AVG(doc_blp), 4) " +
        "AS avg_blp, MIN(doc_blp) AS min_blp, MAX(doc_blp) AS max_blp " +
        "FROM dd GROUP BY lang ORDER BY lang") {
      (s, d) => {
        val lm = UnigramLM.forDir(s, d)
        val bi = PlanGuards.broadcastIfSmall(lm.load("bifreq")
          .select(col("g"), col("c").cast("double").as("cab")))
        val uni = PlanGuards.broadcastIfSmall(lm.load("freq")
          .select(col("token").as("a"), col("c").cast("double").as("ca")))
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"), explode(
            TextFns.allShingles(TextFns.tokens(col("text")), 2)).as("g"))
          .withColumn("a", substring_index(col("g"), " ", 1))
          .join(bi, Seq("g"))
          .join(uni, Seq("a"))
          .groupBy("doc_id")
          .agg(first("lang").as("lang"),
            round(avg(log(col("cab") / col("ca"))), 4).as("doc_blp"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("doc_blp")), 4).as("avg_blp"),
            min(col("doc_blp")).as("min_blp"),
            max(col("doc_blp")).as("max_blp"))
          .orderBy("lang")
      }
    },

    // BM25 retrieval — the lexical ranking function (Robertson/
    // Walker '94, the Lucene/Elasticsearch default) the corpus's ANN
    // queries (x11/x20) lack a lexical counterpart for: top-10 docs
    // for a fixed 3-term query, k1=1.2, b=0.75, Lucene's
    // ln((N−df+0.5)/(df+0.5)+1) idf. Shape (r17): the per-(doc,term)
    // tf/dl rows come from the STORED postings index (PostingsIndex —
    // the term filter pushes into the token-clustered parquet scan,
    // so the probe is O(matching postings), never a corpus tokenize
    // pass), df is a map-side-combined groupBy over the ≤|terms|
    // filtered groups broadcast back, and the corpus-level N/avglen
    // ride in as a 1-row broadcast (x61's in-plan pattern). Scores
    // round before ranking with a doc_id tie-break, so the top-10 is
    // tie-proof. The scorer itself is [[bm25Scored]]/[[bm25ScoreSql]],
    // shared with x128's hybrid-retrieval lexical arm and the
    // parameterized `GET /search?q=` endpoint.
    Query("x94_bm25",
      s"WITH $bm25ScoreSql " +
        "SELECT doc_id, round(sco, 6) AS score FROM sc " +
        "ORDER BY round(sco, 6) DESC, doc_id LIMIT 10") {
      (s, d) =>
        bm25Scored(s, d)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
    },

    // Exact phrase search over the stored POSITIONAL postings — the
    // declared twin of `GET /search?phrase=`. The oracle slides a
    // 3-token window over the raw token arrays, so the stored `pos`
    // payload itself is hash-audited end to end (a shifted, dropped
    // or unsorted position changes an adjacency count). Probe plan:
    // one term-pushed postings scan, one per-candidate-doc map agg,
    // the shift-and-intersect — O(term occurrences), no corpus scan.
    Query("x144_phrase_search", phraseMatchSql(PhraseTerms)) {
      (s, d) => phraseMatchesFor(s, d, PhraseTerms).orderBy("doc_id")
    },

    // Best-passage (snippet) extraction for the BM25 query terms —
    // where in each matching doc the densest 32-token window sits.
    // Same positional-postings probe; the RANGE-frame window runs
    // over each doc's HIT positions only (every optimal window is
    // anchored at a hit), so the heavy O(doc tokens) work never
    // happens. The oracle recomputes anchored-window counts and the
    // (cnt DESC, p ASC) arg-max from raw text.
    Query("x145_best_window", bestWindowSql(Bm25Terms, SnippetW)) {
      (s, d) => bestWindowFor(s, d, Bm25Terms).orderBy("doc_id")
    },

    // Ordered-proximity search — the Lucene sloppy-phrase (ordered)
    // class, completing the positional family next to x144's exact
    // adjacency: the three benchmark terms in order within a 9-token
    // span. Same stored-postings probe; per-doc work is a nested
    // array-exists chain over the position arrays. The oracle
    // replays the chain with nested DuckDB list_filter lambdas over
    // per-term sorted position lists, so the stored positions are
    // audited under a SECOND access pattern (ordering + bounded gaps,
    // not just adjacency).
    Query("x147_proximity", proximitySql(Bm25Terms, ProxSpan)) {
      (s, d) =>
        proximityMatchesFor(s, d, Bm25Terms, ProxSpan).orderBy("doc_id")
    },

    // Prefix vocabulary probe — the autocomplete/vocabulary-
    // exploration primitive, and the query that exercises the THIRD
    // pushdown class on the token-sorted postings layout: x94/x144
    // push IN-lists, this pushes a PREFIX RANGE (StringStartsWith →
    // row-group min/max skipping on the sorted token column, the
    // B-tree-range analogue). One filtered index scan + one agg:
    // df = rows per token (the table holds one row per (token, doc)),
    // occurrences = Σtf. No corpus scan, no explode, at any size.
    Query("x146_prefix_vocab",
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT tk AS token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df, " +
        "CAST(COUNT(*) AS BIGINT) AS n_occ FROM t " +
        "WHERE tk LIKE 's%' GROUP BY tk ORDER BY tk") {
      (s, d) => prefixVocabFor(s, d, "s").orderBy("token")
    },

    // Temperature-based corpus mixing — the multilingual sampling
    // formula of mBERT/XLM-R (rate ∝ share^α, α=0.7): low-resource
    // languages are up-weighted relative to their raw share. Pure
    // per-lang arithmetic over one aggregate (languages are bounded,
    // so the normalizing window over the 5-row aggregate is O(langs)
    // at any corpus scale); pow's last-ulp differences round away.
    Query("x89_temperature_mix",
      "WITH c AS (SELECT lang, COUNT(*) AS n FROM documents " +
        "GROUP BY lang), " +
        "t AS (SELECT lang, n, CAST(n AS DOUBLE) / " +
        "(SELECT CAST(SUM(n) AS DOUBLE) FROM c) AS p FROM c), " +
        "u AS (SELECT lang, n, p, pow(p, 0.7) AS pt FROM t) " +
        "SELECT lang, CAST(n AS BIGINT) AS n_docs, " +
        "round(p, 6) AS share, " +
        "round(pt / (SELECT SUM(pt) FROM u), 6) AS temp_share, " +
        "round(10000 * pt / (SELECT SUM(pt) FROM u), 2) AS expected_10k " +
        "FROM u ORDER BY lang") {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val all = Window.partitionBy()
        table(s, d, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(all))
          .withColumn("pt", pow(col("p"), 0.7))
          .withColumn("z", sum(col("pt")).over(all))
          .select(col("lang"), col("n").as("n_docs"),
            round(col("p"), 6).as("share"),
            round(col("pt") / col("z"), 6).as("temp_share"),
            round(lit(10000) * col("pt") / col("z"), 2).as("expected_10k"))
          .orderBy("lang")
      }
    },

    // PER-SOURCE HARD CAP — the C4/RefinedWeb domain-cap transform
    // x89 only reports shares for: no single source (domain/crawl
    // host) may contribute more than CapPct% of total corpus
    // CHARACTER mass. Docs are admitted per source in deterministic
    // md5(doc_id) order until the next doc would not fit under the
    // cap (cumulative mass ≤ cap — the same pure-hash membership
    // family as x41/x88, so the keep set is stable under corpus
    // append ORDER and reproducible from the formula alone). Output
    // is per-doc (cum_chars, kept) — the manifest a mixing step
    // left-semi-joins against. The cap itself rides in-plan as a
    // 1-row broadcast (x90's pattern). Scale: the default form is
    // one per-source cumulative-sum window; above
    // [[SourceCapSkewDocs]] the skew-hardened two-level form kicks
    // in ([[sourceCapFrame]]) — per-(source, 256-bucket) windows
    // plus a bounded bucket-offset rollup, so ONE giant source (the
    // common-crawl pathology: a few hosts carry half the crawl)
    // can no longer land its whole row set in a single window task.
    // Hash-equality of the two forms is pinned in SkewWindowSpec.
    Query("x121_source_cap",
      "WITH m AS (SELECT doc_id, source, n_chars, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        s"cap AS (SELECT CAST(SUM(n_chars) AS BIGINT) * $SourceCapPct " +
        "// 100 AS cap FROM m), " +
        "c AS (SELECT doc_id, source, CAST(SUM(n_chars) OVER (" +
        "PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum " +
        "FROM m) " +
        "SELECT c.doc_id, c.source, c.cum AS cum_chars, " +
        "(c.cum <= (SELECT cap FROM cap)) AS kept " +
        "FROM c ORDER BY c.doc_id") {
      (s, d) =>
        sourceCapFrame(table(s, d, "documents"),
          skewSafe = docCount(s, d) > SourceCapSkewDocs)
    },

    // SOURCE SCORECARD — the per-source publication a crawl pipeline
    // reviews before mixing (x44 carries the mass/quality columns;
    // this adds the two signals x44 cannot see): near-dup EXPOSURE
    // (fraction of the source's docs participating in ≥1 Hamming-≤2
    // fingerprint pair — a source full of templated near-dups is a
    // curation problem even when its docs individually pass quality)
    // and CAP status under x121's budget (docs refused, character
    // mass surviving). Scale: the pair participants come from the
    // quotient/banded pair engine (bounded), the cap column from
    // x121's window frame (one corpus exchange), and everything
    // reduces to one per-source aggregate — no corpus-sized join
    // beyond the doc_id equi-joins of the two bounded columns.
    Query("x125_source_scorecard", {
      val pairsSql =
        "part AS (SELECT DISTINCT doc_id FROM (" +
          "SELECT doc_a AS doc_id FROM pairs " +
          "UNION ALL SELECT doc_b FROM pairs)), "
      s"WITH ${DedupQueries.simhash64PairsSql}, " + pairsSql +
        "m AS (SELECT doc_id, source, n_chars, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        s"cap AS (SELECT CAST(SUM(n_chars) AS BIGINT) * $SourceCapPct " +
        "// 100 AS cap FROM m), " +
        "cw AS (SELECT doc_id, source, n_chars, SUM(n_chars) OVER (" +
        "PARTITION BY source ORDER BY h, doc_id) AS cum FROM m), " +
        "base AS (SELECT cw.doc_id, cw.source, cw.n_chars, " +
        "(cw.cum <= (SELECT cap FROM cap)) AS kept, " +
        "(p.doc_id IS NOT NULL) AS paired FROM cw " +
        "LEFT JOIN part p ON cw.doc_id = p.doc_id) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN paired THEN 1 ELSE 0 END) AS BIGINT) AS n_pair_docs, " +
        "round(CAST(SUM(CASE WHEN paired THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*), 6) AS pair_frac, " +
        "CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_capped, " +
        "CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars " +
        "FROM base GROUP BY source ORDER BY source"
    }) {
      (s, d) =>
        val pairs = DedupQueries.simhash64Pairs(s, d)
        val part = pairs.select(col("doc_a").as("doc_id"))
          .unionByName(pairs.select(col("doc_b").as("doc_id")))
          .distinct()
        sourceCapScoresFor(s, d)
          .join(part.withColumn("paired", lit(true)), Seq("doc_id"),
            "left_outer")
          .withColumn("paired", coalesce(col("paired"), lit(false)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("paired").cast("long")).as("n_pair_docs"),
            round(sum(col("paired").cast("long")).cast("double") /
              count(lit(1)), 6).as("pair_frac"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_capped"),
            sum(when(col("kept"), col("n_chars")).otherwise(0L))
              .as("kept_chars"))
          .orderBy("source")
    },

    // HELD-OUT stupid-backoff LM scoring — the real perplexity-filter
    // shape x87/x93 only approximate: those self-score (every event is
    // in-model by construction), while this scores val/test documents
    // against a model built from the x35 TRAIN split ONLY
    // ([[HeldOutLM]], stored build-once), which forces the unseen-
    // event ladder of Brants '07 stupid backoff: seen bigram →
    // ln(c_ab/c_a); unseen bigram but known word → ln(0.4·c_w/N);
    // out-of-vocabulary word → fixed −10 penalty. All rungs are exact-
    // integer-derived arithmetic; per-doc averages round 4 dp before
    // the rollup. Probe = one eval-side bigram explode + three
    // size-guarded broadcast joins + the 1-row N broadcast (in-plan).
    // The fixture's val/test vocabulary is train-covered, so the OOV
    // rung stays 0 here (it is exercised synthetically in
    // HeldOutLMSpec); the bigram→unigram rung fires on real rows.
    Query("x97_backoff_lm", {
      val bkt = Sql.md5Bits16("md5(CAST(doc_id AS VARCHAR))") + " % 100"
      "WITH b AS (SELECT doc_id, lang, text, " + bkt + " AS bkt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, lang, CASE WHEN bkt < 80 THEN 'train' " +
        "WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split, " +
        "string_split(text, ' ') AS ts FROM b), " +
        "tok AS (SELECT unnest(ts) AS token FROM sp " +
        "WHERE split = 'train'), " +
        "uc AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM tok " +
        "GROUP BY token), " +
        "nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM tok), " +
        s"bg0 AS (SELECT unnest(${Sql.allShingles("ts", 2)}) AS g " +
        "FROM sp WHERE split = 'train'), " +
        "bc AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS cab FROM bg0 " +
        "GROUP BY g), " +
        s"ev AS (SELECT doc_id, split, unnest(${Sql.allShingles("ts", 2)}) " +
        "AS g FROM sp WHERE split <> 'train'), " +
        "sc AS (SELECT ev.doc_id, any_value(ev.split) AS split, " +
        "round(AVG(CASE WHEN bc.cab IS NOT NULL THEN ln(bc.cab / ua.c) " +
        "WHEN ub.c IS NOT NULL THEN ln(0.4) + " +
        "ln(ub.c / (SELECT v FROM nt)) ELSE -10.0 END), 4) AS doc_lp, " +
        "CAST(SUM(CASE WHEN bc.cab IS NULL AND ub.c IS NOT NULL " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff, " +
        "CAST(SUM(CASE WHEN ub.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_oov FROM ev LEFT JOIN bc ON ev.g = bc.g " +
        "LEFT JOIN uc ua ON split_part(ev.g, ' ', 1) = ua.token " +
        "LEFT JOIN uc ub ON split_part(ev.g, ' ', 2) = ub.token " +
        "GROUP BY ev.doc_id) " +
        "SELECT split, COUNT(*) AS n_docs, round(AVG(doc_lp), 4) " +
        "AS avg_lp, MIN(doc_lp) AS min_lp, MAX(doc_lp) AS max_lp, " +
        "CAST(SUM(n_backoff) AS BIGINT) AS n_backoff, " +
        "CAST(SUM(n_oov) AS BIGINT) AS n_oov " +
        "FROM sc GROUP BY split ORDER BY split"
    }) {
      (s, d) => {
        val lm = HeldOutLM.forDir(s, d)
        val nt = broadcast(lm.load("stats")
          .select(col("n_tokens").cast("double").as("nt")))
        val bi = PlanGuards.broadcastIfSmall(lm.load("bifreq")
          .select(col("g"), col("c").cast("double").as("cab")))
        val ua = PlanGuards.broadcastIfSmall(lm.load("freq")
          .select(col("token").as("a"), col("c").cast("double").as("ca")))
        val ub = PlanGuards.broadcastIfSmall(lm.load("freq")
          .select(col("token").as("bt"), col("c").cast("double").as("cb")))
        val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull && !HeldOutLM.isTrain(col("doc_id")))
          .select(col("doc_id"),
            when(bkt < 90, "val").otherwise("test").as("split"),
            explode(
              TextFns.allShingles(TextFns.tokens(col("text")), 2)).as("g"))
          .withColumn("a", substring_index(col("g"), " ", 1))
          .withColumn("bt", substring_index(col("g"), " ", -1))
          .join(bi, Seq("g"), "left")
          .join(ua, Seq("a"), "left")
          .join(ub, Seq("bt"), "left")
          .crossJoin(nt)
          .withColumn("lp",
            when(col("cab").isNotNull, log(col("cab") / col("ca")))
              .when(col("cb").isNotNull,
                log(lit(0.4)) + log(col("cb") / col("nt")))
              .otherwise(lit(-10.0)))
          .groupBy("doc_id")
          .agg(first("split").as("split"),
            round(avg(col("lp")), 4).as("doc_lp"),
            sum(when(col("cab").isNull && col("cb").isNotNull, 1L)
              .otherwise(0L)).as("n_backoff"),
            sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_oov"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("doc_lp")), 4).as("avg_lp"),
            min(col("doc_lp")).as("min_lp"),
            max(col("doc_lp")).as("max_lp"),
            sum(col("n_backoff")).as("n_backoff"),
            sum(col("n_oov")).as("n_oov"))
          .orderBy("split")
      }
    },

    // Toxicity / blocklist content gate — the standard Dolma/FineWeb
    // curation tap the quality family lacked (r15 verdict ask #5): a
    // deterministic lexicon-based flagged-SPAN counter plus a
    // threshold verdict. The fixture corpus is clean word soup, so
    // (the x66/x59 pattern) each document first gets DETERMINISTIC
    // synthetic flagged content derived from its doc_id appended —
    // doc_id%4 repetitions of a two-flagged-token span — and the
    // detector proves itself on text that genuinely contains what it
    // claims to find; the oracle recomputes the same plant. The SAME
    // detector columns ([[TextFns.flagged]]/flaggedCount/flaggedSpans)
    // drive the ingest-time gate (IngestQuality.blocklist → reason
    // `toxicity`), so the audit view and the door decision cannot
    // drift. Scale: a pure narrow map — flag transform + two
    // array-local folds per row, single scan stage, no shuffle beyond
    // the declared output sort. The verdict ratio is an exact small-
    // integer division, identical on both engines.
    Query("x135_toxicity", {
      val lexIn = ToxicityLexicon.map("'" + _ + "'").mkString(", ")
      "WITH t AS (SELECT doc_id, text || " +
        "repeat(' frak gorram ok', CAST(doc_id % 4 AS INT)) AS synth " +
        "FROM documents WHERE text IS NOT NULL), " +
        "s AS (SELECT doc_id, string_split(synth, ' ') AS ts FROM t), " +
        "f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, " +
        s"list_transform(ts, x -> CASE WHEN x IN ($lexIn) " +
        "THEN 1 ELSE 0 END) AS fl FROM s), " +
        "r AS (SELECT doc_id, n_tok, " +
        "CAST(list_sum(fl) AS BIGINT) AS n_flagged, " +
        "CAST(len(list_filter(range(len(fl)), " +
        "i -> fl[i+1] = 1 AND (i = 0 OR fl[i] = 0))) AS BIGINT) " +
        "AS n_spans FROM f) " +
        "SELECT doc_id, n_flagged, n_spans, n_tok, " +
        "round(n_flagged / CAST(n_tok AS DOUBLE), 6) AS tox_ratio, " +
        s"n_flagged / CAST(n_tok AS DOUBLE) > $ToxicityMaxRatio AS verdict " +
        "FROM r ORDER BY doc_id"
    }) {
      (s, d) => {
        val planted = concat(col("text"), concat_ws("",
          array_repeat(lit(" frak gorram ok"),
            (col("doc_id") % 4).cast("int"))))
        spreadScan(s, table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(col("doc_id"), TextFns.tokens(planted).as("ts"))
          .select(col("doc_id"),
            size(col("ts")).cast("bigint").as("n_tok"),
            TextFns.flagged(col("ts"), ToxicityLexicon).as("fl"))
          .select(col("doc_id"),
            TextFns.flaggedCount(col("fl")).as("n_flagged"),
            TextFns.flaggedSpans(col("fl")).as("n_spans"),
            col("n_tok"))
          .withColumn("tox_ratio",
            round(col("n_flagged") / col("n_tok").cast("double"), 6))
          .withColumn("verdict",
            col("n_flagged") / col("n_tok").cast("double") > ToxicityMaxRatio)
          .orderBy("doc_id")
      }
    })
}
