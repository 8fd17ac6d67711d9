package graft.streaming

import graft.multimodal.MediaPipeline
import graft.operators.{DedupQueries, KMeansQueries, MediaQueries, VectorIndex, VectorQueries}
import graft.tables.TableStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Dedup-on-ingest: the training-data pipeline's operational flows that
 * keep a growing corpus AND its derived dedup/ANN structures current
 * per micro-batch — the LLM-pipeline analogue of the reference's CDC
 * clone flow, which maintains a derived table alongside every write
 * (kafka-mongodb-connect.yaml:22-33).
 *
 * Two flows:
 *
 *  - [[documentIngestFlow]]: new (doc_id, text[, source]) rows append
 *    idempotently into the `documents` corpus table; the batch's
 *    64-bit SimHash fingerprints + quality keys append into the
 *    `text_fps` sidecar; and the `dedup_decisions` DERIVED table
 *    (doc_id, cluster, canonical) is maintained INCREMENTALLY
 *    (r15): the batch's Hamming-≤2 edges are discovered by an
 *    asymmetric banded probe (batch explodes into its 3 band keys
 *    and broadcasts; the stored fingerprint table scans once, never
 *    shuffles), and the bounded label-level merge graph relabels +
 *    re-elects ONLY the affected clusters — including the
 *    cluster-merge case where a new doc bridges two previously
 *    separate clusters and demotes one old canonical (incremental CC
 *    under edge ADDITIONS is exact; deletions go through the GDPR
 *    batch recompute). `canonical` is x120's QUALITY election
 *    (distinct tokens desc, chars desc, doc_id asc — the
 *    SemDeDup-style retention): a later-arriving BETTER twin wins
 *    the flag and the stored twin demotes, rather than the newcomer
 *    being refused on arrival order; the kept view of the corpus
 *    (canonical ∪ unclustered) therefore equals x122 over the union
 *    at every batch boundary (spec-pinned against the batch engine,
 *    DedupQueries.decisions64Of).
 *
 *  - [[embeddingIngestFlow]]: new (vec_id, embedding) rows append into
 *    the parquet embeddings corpus and are routed into the STORED
 *    IVF + SRP indexes via the checked incremental-ingest APIs
 *    (frozen centroids / frozen planes, O(new rows), layout-compatible
 *    delta segments) — the serving indexes never go stale and never
 *    rebuild on the ingest path. Idempotence is content-level: a
 *    replayed batch anti-joins to empty against the corpus it already
 *    grew, so neither the corpus nor the indexes double-ingest.
 *
 * Admission semantics note: a doc's logged verdict is fixed at its
 * arrival batch. A LATER batch can demote an earlier canonical (its
 * cluster absorbed a smaller doc_id) — `dedup_decisions` always
 * reflects the current global truth, while `ingest_log` records what
 * was decided when; readers wanting the current drop list read the
 * decision table, not the log.
 *
 * Quality gate (r9): [[IngestQuality]] thresholds reject documents
 * BEFORE the corpus sees them — the x38-style repetition rule
 * (duplicate-5-gram fraction) and a minimum token count, both narrow
 * codegen maps over the batch only. A quality-rejected doc is never
 * appended, never fingerprints into the decision table, and logs
 * `(admitted=false, reason='quality')`; near-dup drops log
 * `reason='near_dup'`. A quality rejection is NOT final: the doc never
 * entered the corpus, so re-sending it with corrected content
 * re-evaluates the gate and an upsert supersedes the stale log row —
 * whereas admitted/near-dup docs are settled (they are in the corpus)
 * and re-sends of them are dropped. The default gate is permissive
 * (admit all) so dedup-only deployments are unchanged.
 *
 * Toxicity gate (r16): with `blocklist`+`maxToxicity` set on
 * [[IngestQuality]], a doc whose flagged-token ratio exceeds the
 * threshold is rejected with its own reason `toxicity` — x135's
 * lexicon detector ([[graft.functions.TextFns.flagged]]) applied at
 * the door, same narrow codegen map as the quality rule, retryable
 * the same way.
 *
 * Decontamination gate (r13): with `contaminationDir` set, a
 * quality-passing doc sharing any exact 8-token shingle with that
 * benchmark corpus's val/test split is rejected at the door with
 * reason `contamination` (x86's transform applied at ingest time) —
 * hash-probe of the stored ex8h index + exact-string recheck, both
 * retryable like quality rejections.
 *
 * Source-cap gate (r14; INCREMENTAL since r15): with `sourceCapPct`
 * set, the input schema grows a `source` column and x121's
 * crawl-budget contract is enforced AT THE DOOR: a source's admitted
 * character mass may not exceed sourceCapPct% of total admitted
 * mass. The denominators are served from the `source_mass` VIEW —
 * per-source character mass maintained by folding the corpus's
 * VERSION DIFF ([[TableStore.changesBetween]], which on the
 * append-only manifest chain reads only the delta segments), so the
 * per-trigger cost is O(batch), not the r14 full-corpus text scan;
 * the view carries its own `_synced_v` watermark, making the fold
 * exactly-once under any crash (data + watermark flip in one atomic
 * publish). Per batch the cap is evaluated against (view − this
 * batch's own already-appended mass + this batch's cap-eligible
 * mass); within the batch each source admits docs in x121's
 * deterministic md5(doc_id) order until its allowance binds —
 * refusals log reason `source_cap` and are RETRYABLE (the doc never
 * entered the corpus; once OTHER sources grow the total, a re-send
 * can fit — the crawl-budget semantics). Documented bound
 * (spec-MEASURED since r16: IngestionFlowSpec's bootstrap-overshoot
 * case): the cap denominator counts cap-eligible batch mass BEFORE
 * this batch's own refusals (the admitted-only denominator is a
 * fixpoint), so a source can overshoot its true share by at most
 * sourceCapPct% of the batch's refused mass. At a batch-to-corpus
 * mass ratio r that is a share deviation ≤ pct·r/(1+r) — vanishing
 * at production ratios — and it never compounds: an over-share
 * source admits NOTHING until organic growth dilutes it back under
 * the cap (the spec pins the convergence). Deployment rule where
 * strict shares matter during bootstrap: keep batches ≤ ~10% of the
 * standing corpus mass, or seed the corpus with per-source
 * pre-capped loads. Crash window: the batch's
 * own already-appended mass is SUBTRACTED before evaluation, so a
 * replay after "corpus appended, verdict lost" cannot count a doc's
 * own mass against its re-evaluation (the media gate's self-match
 * lesson).
 *
 * Chunk store (r15, S23): with `chunkStore` set, the x131 chunk view
 * is maintained as a stored `chunks` table — each batch's admitted
 * docs chunk through the ONE shared pipeline
 * ([[graft.operators.CurationQueries.chunkRowsOf]]) and append
 * idempotently keyed on (doc_id, chunk_id). Chunks are pure per-doc
 * derivations of an append-only corpus, so this is the cheapest
 * derived-table class: O(batch) narrow compute, no stored-side scan,
 * no recompute path outside GDPR purges (row prunes).
 */
final class IngestionFlows(spark: SparkSession, store: TableStore,
    embCorpusDir: String,
    checkpointRoot: Option[String] = None,
    trigger: Trigger = Trigger.AvailableNow(),
    quality: IngestQuality = IngestQuality(),
    spanClean: Boolean = false,
    contaminationDir: Option[String] = None,
    sourceCapPct: Option[Int] = None,
    chunkStore: Boolean = false,
    shardStore: Boolean = false) {
  import spark.implicits._

  private def start(df: DataFrame, name: String)(
      body: DataFrame => Unit): StreamingQuery =
    FlowRunner.start(store, checkpointRoot, trigger, df, name)((_, b) => body(b))

  /** New documents → quality gate → corpus + incrementally maintained
    * dedup decisions + per-doc admit/drop log. Input schema: (doc_id
    * long, text string[, source string]). The `source` column is
    * PRESERVED whenever the input carries it (schema-evolving append),
    * independent of whether the cap gate is on — enabling the cap
    * later over a corpus that always had sources must not hit the
    * rebuild-or-backfill wall. */
  def documentIngestFlow(newDocs: DataFrame): StreamingQuery = {
    require(sourceCapPct.isEmpty || newDocs.columns.contains("source"),
      "sourceCapPct requires a `source` column on the ingest input")
    require(!shardStore || newDocs.columns.contains("lang"),
      "shardStore requires a `lang` column (the shard key) on the input")
    val hasSource = newDocs.columns.contains("source")
    start(newDocs, "document_ingest") { batch0 =>
      // one-time migration for a store that predates the r15 sidecar
      // (an r14-era corpus): the incremental machinery is only exact
      // over a COMPLETE fingerprint sidecar and a 64-bit decision
      // table, so first contact rebuilds BOTH from the stored corpus
      // (the documented resync class — review-caught: without it a
      // legacy store's first r15 batch would silently miss near-dups
      // of every pre-existing doc). Decisions rebuild FIRST: a crash
      // between the two writes leaves text_fps absent, so the next
      // trigger re-runs the whole migration instead of stranding a
      // legacy decision table behind a fresh-looking sidecar.
      if (store.exists("documents") && !store.exists("text_fps")) {
        val corpus = store.load("documents")
        store.replace("dedup_decisions",
          graft.operators.DedupQueries.decisions64Of(spark, corpus))
        store.replace("text_fps",
          graft.operators.DedupQueries.fpQualityOf(corpus))
      }
      // which of the batch are genuinely new: a doc is settled once its
      // VERDICT is logged — the ingest_log is written LAST, so a batch
      // that crashed mid-way (corpus appended, derived writes lost)
      // replays in full. Every write below is key-idempotent
      // (appendUnique/upsert) or an idempotent incremental merge, so
      // reprocessing an already-appended doc is harmless; keying
      // freshness off the FIRST write (the corpus) instead would make
      // that crash-replay a silent no-op that permanently loses the
      // doc's verdict. QUALITY rejections are NOT settled: the doc
      // never reached the corpus, so a re-send with corrected content
      // re-enters the gate (and its log row is superseded via upsert
      // below) instead of being permanently anti-joined away. The
      // anti-join runs FIRST so the gate and the incremental probes
      // below cost O(new rows), not O(batch), on replay-heavy batches.
      // quality AND contamination rejections are retryable (the doc
      // never entered the corpus); admitted/near-dup verdicts settle
      val unsettled =
        if (!store.exists("ingest_log")) batch0
        else batch0.join(store.load("ingest_log")
          .filter(col("reason").isNull ||
            !col("reason").isin("quality", "toxicity", "contamination",
              "source_cap"))
          .select("doc_id"), Seq("doc_id"), "left_anti")
      // quality gate (x38's repetition rule + a token-count floor, one
      // codegen map) evaluated ONCE per row; then deterministic
      // in-batch dedup — a micro-batch can carry several sends of a
      // doc_id (a stale row AND its correction), so prefer the
      // gate-PASSING row, then the longest text, then lexicographic:
      // the corrected-re-send contract must not depend on partition
      // order (a bare dropDuplicates picks an arbitrary winner). One
      // persisted frame feeds the corpus append AND the new-doc log.
      val batch = graft.tables.MergeOps.dedupBy(
        unsettled.withColumn("_fail", quality.failure(col("text"))),
        Seq("doc_id"), Seq(
          col("_fail").isNotNull.cast("int"),
          coalesce(length(col("text")), lit(-1)).desc,
          col("text").asc_nulls_last)).persist()
      try {
        // source and lang are PRESERVED whenever the input carries
        // them (schema-evolving append), independent of whether their
        // gates/stores are on — enabling the cap or the shard store
        // later over a corpus that always had the column must not hit
        // the rebuild-or-backfill wall
        val docCols = Seq(col("doc_id"), col("text")) ++
          (if (hasSource) Seq(col("source")) else Nil) ++
          (if (newDocs.columns.contains("lang")) Seq(col("lang")) else Nil)
        val clean = batch.filter(col("_fail").isNull)
          .select(docCols: _*)
        val rejected = batch.filter(col("_fail").isNotNull)
          .select(col("doc_id"), lit(false).as("admitted"),
            col("_fail").as("reason"))
        // eval-decontamination gate (r13): refuse contaminated docs at
        // the door the way near-dups are refused — x86's batch
        // transform moved to ingest time. A quality-passing doc
        // sharing ANY exact 8-token shingle with the benchmark
        // corpus's val/test split is rejected with reason
        // `contamination` and never reaches `documents`. Probe shape
        // is x36/x86's: hash-probe the STORED ex8h index (built once
        // per benchmark version — the benchmark is immutable during
        // ingest, so every batch reuses it), then re-verify hash
        // candidates against exact shingle STRINGS pruned to the
        // candidate hashes — collision-proof, cost ∝ actual
        // contamination, and the per-batch side only ever explodes
        // the BATCH. Like quality, the rejection is retryable (a
        // corrected re-send re-enters the gate) and its log row
        // upserts over any stale verdict.
        val contamIds = contaminationDir.map { cd =>
          val ex = graft.operators.ShingleIndex.forDir(spark, cd)
            .load("ex8h").filter(col("split") =!= "train")
          val freshSh = clean.filter(col("text").isNotNull)
            .select(col("doc_id"),
              graft.functions.TextFns.tokens(col("text")).as("ts"))
            .filter(size(col("ts")) >= 8)
            .select(col("doc_id"), explode(
              graft.functions.TextFns.shingles(col("ts"), 8)).as("g"))
            .withColumn("h", xxhash64(col("g")))
          val candRows = freshSh
            .join(ex.select("h").distinct(), Seq("h"), "left_semi")
          val candH = candRows.select("h").distinct()
          val evalDocs = ex.join(candH, Seq("h"), "left_semi")
            .select("doc_id").distinct()
          // exact-string recheck — the ONE ex8h recheck definition
          // (ShingleIndex.candidateShingles), shared with x36/x86 so
          // shingle width and hash cannot drift between the audit,
          // the transform and this gate
          val evalStr = graft.operators.ShingleIndex
            .candidateShingles(spark, cd, evalDocs, candH)
            .select("g").distinct()
          // persisted for the batch's duration: the anti-join below,
          // the emptiness probe, the log write and the admitted join
          // all reference it (an early unpersist would re-run the
          // whole probe, benchmark scan included, per reference)
          candRows.join(evalStr, Seq("g"), "left_semi")
            .select("doc_id").distinct().persist()
        }
        try {
          val fresh0 = contamIds.fold(clean)(ids =>
            clean.join(ids, Seq("doc_id"), "left_anti"))
          // source-cap gate (r14; made INCREMENTAL in r15): x121's
          // crawl-budget contract at the door, with the denominators
          // served from the `source_mass` VIEW — an incrementally
          // maintained per-source mass aggregate (syncSourceMass: the
          // corpus's version diff folds in O(batch), never a
          // full-corpus text scan per trigger). The crash window
          // ("corpus appended, verdict lost") is handled by
          // SUBTRACTING this batch's own already-appended mass: a
          // narrow membership semi-join on the corpus's doc_id column
          // — the same shape and cost class as the appendUnique
          // anti-join every batch already pays — which matches
          // nothing on the happy path. Within the batch each source
          // admits in x121's deterministic md5(doc_id) order until
          // its allowance binds; refusals are RETRYABLE. Documented
          // bound (unchanged): the cap denominator counts the batch's
          // cap-eligible mass BEFORE its own refusals, so a source
          // can overshoot its true share by at most sourceCapPct% of
          // the batch's refused mass — vanishing at production
          // batch-to-corpus ratios, never compounding.
          val scoredOpt: Option[DataFrame] = sourceCapPct.map { pct =>
            import org.apache.spark.sql.expressions.Window
            val mass = length(coalesce(col("text"), lit(""))).cast("long")
            if (store.exists("documents"))
              // fail with a pointed message, not a mid-plan analysis
              // error, when the gate is turned on over a corpus that
              // predates it (rows appended without a source column)
              require(store.load("documents").columns.contains("source"),
                "sourceCapPct set but the existing `documents` corpus " +
                  "has no `source` column — the gate needs per-source " +
                  "masses; rebuild or backfill the corpus with sources")
            syncSourceMass()
            // the view and the crash-window own-mass rollup are both
            // bounded by SOURCE CARDINALITY — collect each once (the
            // x41 rate-table contract) and derive every denominator
            // driver-side: one narrow probe job + one tiny view read
            // per trigger instead of three aggregate jobs + a join
            val viewRows: Seq[(Option[String], Long)] =
              if (!store.exists("source_mass")) Nil
              else store.load("source_mass")
                .select(col("source"), col("chars")).collect().toSeq
                .map(r => (Option(r.getString(0)), r.getLong(1)))
            // the crash-window subtraction reads the STORED rows'
            // (source, n_chars) off the text_fps sidecar — the corpus
            // truth the view counted — never the re-sent batch row's
            // text, whose corrected content can differ from what
            // appendUnique actually kept (review-caught: subtracting
            // the batch's own lengths overstated a source by the
            // correction delta). Null-text stored docs carry no fps
            // row AND zero mass — consistent on both sides.
            val ownRows: Map[Option[String], Long] =
              if (!store.exists("text_fps")) Map.empty
              else store.load("text_fps")
                .join(fresh0.select("doc_id"), Seq("doc_id"), "left_semi")
                .groupBy("source")
                .agg(sum(col("n_chars")).as("_own")).collect()
                .map(r => (Option(r.getString(0)), r.getLong(1))).toMap
            val priorTotal = viewRows.map(_._2).sum - ownRows.values.sum
            val batchTotal: Long = fresh0
              .agg(coalesce(sum(mass), lit(0L)).as("t"))
              .collect()(0).getLong(0)
            val cap = (priorTotal + batchTotal) * pct / 100
            // per-source prior masses as a broadcast literal frame
            // (null-source rows contribute to the TOTAL but never
            // match the per-source join — unchanged semantics)
            val srcMass = viewRows.collect { case (Some(s), chars) =>
              (s, chars - ownRows.getOrElse(Some(s), 0L))
            }
            val scored0 = fresh0.withColumn("_bcum", sum(mass).over(
              Window.partitionBy("source")
                .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
            (if (srcMass.isEmpty) scored0.withColumn("_cm", lit(0L))
             else {
               import spark.implicits._
               scored0.join(
                   broadcast(srcMass.toDF("source", "_cm")),
                   Seq("source"), "left_outer")
                 .withColumn("_cm", coalesce(col("_cm"), lit(0L)))
             })
              .withColumn("_kept", col("_cm") + col("_bcum") <= cap)
              .persist()
          }
          try {
          val fresh = scoredOpt.fold(fresh0)(sc => sc.filter(col("_kept"))
            .select(fresh0.columns.map(col).toIndexedSeq: _*))
          // which batch docs ALREADY sit in the corpus — i.e. the
          // crash-window re-sends ("corpus appended, verdict lost").
          // Their batch text may be a CORRECTION the corpus never kept
          // (appendUnique lets the stored row win), so every derived
          // row below (fps sidecar, decisions probe, chunks) must
          // derive from the STORED text, never the re-sent text —
          // the same corpus-truth rule the cap subtraction follows.
          // One key-column semi-join on the happy path (empty result);
          // the corpus TEXT is only re-read in the actual heal case.
          val preIds =
            if (!store.exists("documents")) None
            else {
              val ids = fresh.select("doc_id")
                .join(store.load("documents").select("doc_id"),
                  Seq("doc_id"), "left_semi").persist()
              if (ids.isEmpty) { ids.unpersist(); None } else Some(ids)
            }
          // schema-evolving append: a corpus started without sources
          // grows the (nullable) column the first time a sourced
          // batch arrives, instead of walling off the cap gate
          store.appendUnique("documents", fresh, Seq("doc_id"),
            evolveSchema = true)
          // the batch's docs with CORPUS-TRUTH text: identical to
          // `fresh` except crash-window re-sends, whose rows swap in
          // the stored text. Materialized ONCE (the fps sidecar and
          // the chunk store both consume it on the heal path) and
          // released in the try/finally below together with preIds.
          // A batch column the corpus STILL lacks (an all-re-send
          // batch appends nothing, so the schema never evolved —
          // review-caught poison pill) reads as null: the corpus
          // holds no value for it, which IS the corpus truth.
          val corpusTruth: DataFrame = preIds match {
            case None => fresh
            case Some(ids) =>
              val stored = store.load("documents")
              val cols = fresh.schema.fields.map { f =>
                if (stored.columns.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }
              fresh.join(ids, Seq("doc_id"), "left_anti")
                .unionByName(stored
                  .join(ids, Seq("doc_id"), "left_semi")
                  .select(cols.toIndexedSeq: _*))
                .persist()
          }
          try {
          // every verdict class accumulates into ONE log upsert at the
          // very end of the batch body (below): upsert-not-append so a
          // retryable rejection SUPERSEDES a stale retryable row in
          // either direction, and one table rewrite per trigger
          // instead of the r14 three-to-four. The refusal classes are
          // disjoint by construction (each gate sees the previous
          // gates' survivors).
          val refusals = Seq(
            Some(rejected),
            contamIds.map(_.select(col("doc_id"),
              lit(false).as("admitted"),
              lit("contamination").as("reason"))),
            scoredOpt.map(_.filter(!col("_kept"))
              .select(col("doc_id"), lit(false).as("admitted"),
                lit("source_cap").as("reason")))
          ).flatten.reduce(_.unionByName(_))
          var verdicts = refusals
          val freshNonEmpty = !fresh.isEmpty
        if (freshNonEmpty) {
          // near-dup decisions, maintained INCREMENTALLY (r15, 64-bit):
          // the batch fingerprints into the stored `text_fps` sidecar
          // (fp + quality key, one codegen scan of the batch), its new
          // Hamming-≤2 edges come from the asymmetric BANDED probe
          // (batch side explodes into its 3 band keys and BROADCASTS;
          // the stored fingerprint table computes band keys inside one
          // narrow scan, never shuffles), and the bounded edge set
          // merges into the stored decision table — relabel +
          // re-election touch only AFFECTED clusters, so per-batch
          // compute is O(batch + its neighborhoods), not O(corpus
          // pairs). The r14 engine recomputed the full clustering per
          // batch off the ≤2¹⁶ quotient, which 64-bit fingerprints no
          // longer admit — and the recompute was the scale wart anyway.
          // every derived row below derives from corpusTruth, not
          // `fresh`: a crash-window re-send can carry corrected text
          // the corpus never kept (stored row wins), and a sidecar/
          // decision/chunk row computed from THAT text would disagree
          // with the corpus forever (review-caught — the cap
          // subtraction had the same defect in r15 and fixed it the
          // same way)
          val bq = graft.operators.DedupQueries.fpQualityOf(corpusTruth)
            .persist()
          try {
            store.appendUnique("text_fps", bq, Seq("doc_id"))
            mergeDecisions(bq)
          } finally { bq.unpersist(); () }
          // chunk-store maintenance (S23, r15): the x131 chunk view
          // kept current per batch. Chunks are PURE per-doc
          // derivations of an append-only corpus — a new doc never
          // changes an old doc's chunks — so maintenance is exactly
          // one idempotent append of the batch's own chunks, O(batch)
          // narrow compute (replays recompute identical rows off the
          // corpus truth and anti-join away on (doc_id, chunk_id);
          // GDPR purges sweep the table like every doc-keyed store).
          // Parity with the batch engine (stored chunks ==
          // chunkRowsOf(documents) at every batch boundary) is
          // spec-pinned in IngestionFlowSpec.
          // evolveSchema: a chunks table persisted by an older engine
          // version must grow new chunk columns on first contact
          // instead of poisoning every replay (review-caught — the
          // documents append already follows this rule)
          if (chunkStore)
            store.appendUnique("chunks",
              graft.operators.CurationQueries.chunkRowsOf(
                corpusTruth.select(col("doc_id"), col("text"))),
              Seq("doc_id", "chunk_id"), evolveSchema = true)
          // training-shard maintenance (r17, the S19 handoff's other
          // half): the stored x136 shards kept current per batch.
          // Packed windows are append-stable (x100/x117: per-lang
          // greedy concat in doc_id order — new higher-id docs never
          // move packed windows), so maintenance appends the batch's
          // newly-complete windows and rewrites only each touched
          // shard's trailing partial window — O(batch) compute under
          // ShardExport.maintain's checked cover contract (replays
          // are no-ops; out-of-order ids, foreign appends and purges
          // fall back to a full rebuild). Parity with the batch
          // engine (stored shards == windowRowsOf(documents) at every
          // batch boundary) is spec-pinned in IngestionFlowSpec.
          if (shardStore)
            graft.operators.ShardExport.maintain(spark, store,
              corpusTruth.select(col("doc_id"), col("lang"), col("text")))
          // the new docs' verdicts: since r15 the retention policy is
          // x120's QUALITY election (SemDeDup-style), not min-id — a
          // newcomer that beats its admitted twin on the exact-integer
          // quality key WINS the canonical flag (the twin demotes in
          // `dedup_decisions`, the current-truth table); a newcomer
          // that loses logs (admitted=false, 'near_dup'). Docs outside
          // any cluster are admitted.
          // the table may not exist yet (no pair has ever formed) —
          // every doc is then trivially admitted
          val admitted =
            if (!store.exists("dedup_decisions"))
              fresh.select(col("doc_id"), lit(true).as("admitted"),
                lit(null).cast("string").as("reason"))
            else fresh.select(col("doc_id"))
              .join(store.load("dedup_decisions")
                .select(col("doc_id"), col("canonical")),
                Seq("doc_id"), "left_outer")
              .select(col("doc_id"),
                coalesce(col("canonical"), lit(true)).as("admitted"),
                when(not(coalesce(col("canonical"), lit(true))),
                  lit("near_dup")).as("reason"))
          verdicts = verdicts.unionByName(admitted)
          // optional span-clean gate (the x85/SpanDedup transform as a
          // maintained derived table): `documents_clean` is the
          // cross-doc repeated-span-excised view of the corpus as of
          // this batch boundary. Recomputed, not patched, for the same
          // reason as the old decision table: a new doc can introduce
          // NEW duplication that excises spans from previously-clean
          // rows, and a new doc with a smaller doc_id can even take
          // ownership of a span an older doc kept — both cases mutate
          // OLD output rows, which a patch would miss. The span length
          // is cleanedCorpus's default, the one Gdpr.purgeDocuments
          // recomputes the table with.
          if (spanClean)
            store.replace("documents_clean",
              graft.operators.SpanDedup.cleanedCorpus(store.load("documents")))
        }
          // the ingest_log write is LAST — the settledness marker that
          // makes every crash window above replayable (and, new in
          // r15, it now also covers the spanClean recompute: a crash
          // between log and documents_clean can no longer strand the
          // clean view stale forever, because the log write follows).
          // The emptiness probe only runs when it can actually be
          // empty: a non-empty fresh set always carries verdicts
          if (freshNonEmpty || !verdicts.isEmpty)
            store.upsert("ingest_log", verdicts, Seq("doc_id"))
          } finally {
            // release the heal-path caches even when a write throws
            // (review-caught: an exception between persist and here
            // leaked one cached frame per streaming retry)
            if (!(corpusTruth eq fresh)) { corpusTruth.unpersist(); () }
            preIds.foreach { p => p.unpersist(); () }
          }
          } finally { scoredOpt.foreach { sc => sc.unpersist(); () } }
        } finally { contamIds.foreach { ids => ids.unpersist(); () } }
      } finally { batch.unpersist(); () }
    }
  }

  /** Incrementally sync the `source_mass` view — (source, chars,
    * _synced_v) where `_synced_v` is a constant column naming the
    * `text_fps` version the view covers — up to the sidecar's current
    * version. The view deliberately keys on the SIDECAR, not the
    * documents table: the sidecar carries each STORED row's
    * (source, n_chars), so (a) the delta fold never touches text at
    * all, and (b) the gate's crash-window subtraction (text_fps rows
    * ∩ batch ids) is consistent with the view BY CONSTRUCTION — a doc
    * that reached `documents` but whose fps row was lost to a crash
    * is absent from BOTH the view and the subtraction, i.e. treated
    * as not-yet-ingested, which is exactly the gate's
    * corpus-minus-this-batch semantics (the replay completes the
    * sidecar idempotently). The append-only fast path folds ONLY the
    * delta segments (TableStore.changesBetween reads nothing else),
    * O(batch); a rewriting transition (GDPR purge, compaction) or a
    * vacuumed base version falls back to ONE full recompute — the
    * standard IVM resync, after which delta-folding resumes.
    * Exactly-once without a separate commit file: the marker rides
    * INSIDE the view, so the read-merge-replace publishes data and
    * watermark in one atomic version flip — a crash anywhere simply
    * replays from whatever marker the live view carries. */
  private[graft] def syncSourceMass(): Unit = {
    if (!store.exists("text_fps")) return
    val cur = store.version("text_fps")
    def massOf(df: DataFrame): DataFrame = df
      .groupBy("source")
      .agg(sum(col("n_chars")).cast("long").as("chars"))
    def resync(): Unit =
      store.replace("source_mass", massOf(store.load("text_fps"))
        .withColumn("_synced_v", lit(cur.toLong)))
    if (!store.exists("source_mass")) { resync(); return }
    // a ZERO-ROW view (an all-rejected first batch, or a purge that
    // emptied the corpus) carries no marker rows at all — max() is
    // NULL, not a version; treat it as "never synced" and resync
    // (review-caught: getLong on the null aggregate threw and wedged
    // every later trigger)
    val v0Row = store.load("source_mass")
      .agg(max(col("_synced_v"))).collect()(0)
    if (v0Row.isNullAt(0)) { resync(); return }
    val v0: Long = v0Row.getLong(0)
    if (v0 >= cur) return
    if (!store.appendOnlySince("text_fps", v0.toInt)) resync()
    else {
      val delta = massOf(
        store.changesBetween("text_fps", v0.toInt, cur, Seq("doc_id"))
          .drop("_op")) // append-only chain: pure inserts
      store.replace("source_mass",
        IncrementalAgg.merged(
          store.load("source_mass").drop("_synced_v"), delta,
          Seq("source")).withColumn("_synced_v", lit(cur.toLong)))
    }
  }

  /** Merge one batch's Hamming-≤2 edges into the stored
    * `dedup_decisions` table. `bq` = the batch's (doc_id, f, dt,
    * n_chars) rows (already appended to `text_fps`).
    *
    *  - Edge discovery: batch fps explode into their THREE band keys
    *    and broadcast against ONE banded scan of `text_fps` (which
    *    already contains the batch, so in-batch pairs come out of the
    *    same probe); exact-Hamming recheck on collisions — recall
    *    exact for ≤2 by pigeonhole; a doc never matches its own
    *    stored row (the crash-window self-match guard, the media
    *    gate's lesson).
    *  - Component merge: edge endpoints map to their current cluster
    *    labels (themselves when unclustered); the label-level merge
    *    graph — DISTINCT label pairs, the one driver collect, bounded
    *    by the labels a batch touches (a doc with thousands of stored
    *    twins contributes ONE pair) — union-finds to min-label roots.
    *  - Rewrite: only AFFECTED clusters (labels in the merge graph)
    *    relabel, new members join them, and x120's quality election
    *    re-runs on exactly those clusters; everything else is
    *    untouched. Upserts are key-idempotent, so crash replays
    *    re-derive the same edges and re-apply as no-ops. Parity with
    *    the batch engine (DedupQueries.decisions64Of) is spec-pinned
    *    across batches, replays and purges. */
  private def mergeDecisions(bq: DataFrame): Unit = {
    import spark.implicits._
    // asymmetric BANDED probe: the batch side explodes into its THREE
    // 22/21/21-bit band keys (3×batch rows, a tiny broadcast) and the
    // stored side computes its own band keys inside ONE narrow scan;
    // band-colliding candidates re-check the exact Hamming distance.
    // Recall is exact for ≤2 by pigeonhole — and the per-trigger
    // broadcast is 3×batch instead of the media gate's 2081×batch
    // neighbor explosion, which at text batch sizes dominated the
    // trigger (measured: the broadcast build alone was seconds).
    val bb = DedupQueries.banded64(
      bq.select(col("doc_id"), col("f")))
    val edges0 = DedupQueries.banded64(
        store.load("text_fps").select(col("doc_id"), col("f"))).as("s")
      .join(broadcast(bb).as("n"),
        col("s.i") === col("n.i") && col("s.bv") === col("n.bv") &&
          col("s.doc_id") =!= col("n.doc_id"))
      .filter(bit_count(col("s.f").bitwiseXOR(col("n.f"))) <= 2)
      .select(least(col("s.doc_id"), col("n.doc_id")).as("a"),
        greatest(col("s.doc_id"), col("n.doc_id")).as("b"))
      .distinct()
    val curOpt =
      if (store.exists("dedup_decisions")) Some(store.load("dedup_decisions"))
      else None
    // persisted: the label-pair collect AND the endpoint derivation
    // both consume it — unpersisted, the stored-fps probe join (the
    // batch's one corpus-narrow scan) would run twice per trigger
    val labeled = curOpt.fold(
        edges0.withColumn("la", col("a")).withColumn("lb", col("b"))) { cur =>
      edges0
        .join(cur.select(col("doc_id").as("a"), col("cluster").as("_ca")),
          Seq("a"), "left_outer")
        .join(cur.select(col("doc_id").as("b"), col("cluster").as("_cb")),
          Seq("b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("_ca"), col("a")).as("la"),
          coalesce(col("_cb"), col("b")).as("lb"))
    }.persist()
    try {
    // the ONE driver materialization: DISTINCT LABEL PAIRS. An edge's
    // endpoints enter the merge graph as their current cluster LABELS
    // (an unclustered endpoint's label is itself, so a new smaller
    // doc_id can become its component's label) — never as raw edges,
    // so the collect is bounded by (batch docs + affected clusters)²
    // in the worst case and by the handful of labels a batch actually
    // touches in practice, even when a pathological batch doc has
    // thousands of stored twins (those collapse to one label pair).
    val labelPairs = labeled.select(col("la"), col("lb")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (labelPairs.isEmpty) {
      // no new pairs — still establish the (empty) table on first
      // contact, so readers can treat its existence as "the flow has
      // run" (the pre-r15 recompute always published one)
      if (!store.exists("dedup_decisions")) {
        import spark.implicits._
        store.replace("dedup_decisions",
          Seq.empty[(Long, Long, Boolean)]
            .toDF("doc_id", "cluster", "canonical"))
      }
      return
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(x: Long, y: Long): Unit = {
      parent.getOrElseUpdate(x, x); parent.getOrElseUpdate(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
    }
    labelPairs.foreach { case (la, lb) => union(la, lb) }
    val relabel = parent.keys.map(k => (k, find(k))).toSeq
    val relabelDf = relabel.toDF("cluster", "_newc")
    // affected members = old rows of touched clusters (relabeled) +
    // edge endpoints not yet in the table (their label IS their id,
    // so their root comes off the same relabel map — in Spark, no
    // endpoint-level collect)
    val oldMembers = curOpt.fold(
        relabelDf.select(col("cluster").as("doc_id"), col("_newc"))
          .limit(0)) { cur =>
      cur.join(broadcast(relabelDf), Seq("cluster"))
        .select(col("doc_id"), col("_newc"))
    }
    val endpoints = labeled.select(col("a").as("doc_id"), col("la").as("cluster"))
      .unionByName(labeled.select(col("b").as("doc_id"), col("lb").as("cluster")))
      .distinct()
    val newMembers0 = curOpt.fold(endpoints)(cur =>
      endpoints.join(cur.select("doc_id"), Seq("doc_id"), "left_anti"))
    val newMembers = newMembers0
      .join(broadcast(relabelDf), Seq("cluster"))
      .select(col("doc_id"), col("_newc"))
    val members = oldMembers.unionByName(newMembers).distinct()
      .select(col("doc_id"), col("_newc").as("cluster"))
    // x120's election over exactly the affected clusters
    val elected = graft.operators.DedupQueries.electDecisions(
      members, store.load("text_fps"))
    store.upsert("dedup_decisions", elected, Seq("doc_id"))
    } finally { labeled.unpersist(); () }
  }

  /** New embeddings → parquet corpus + incremental ingest into the
    * stored IVF and SRP indexes. Input schema: (vec_id long,
    * embedding array<float>). */
  def embeddingIngestFlow(newEmbs: DataFrame): StreamingQuery =
    start(newEmbs, "embedding_ingest") { batch =>
      val corpus = s"$embCorpusDir/embeddings.parquet"
      val existing =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(corpus)))
          Some(spark.read.parquet(corpus))
        else None
      // content-level idempotence: drop vectors the corpus already
      // holds, so a replayed batch appends nothing and ingests nothing
      val fresh0 = batch.dropDuplicates("vec_id")
      val antiJoined = existing
        .map(c => fresh0.join(c.select("vec_id"), Seq("vec_id"), "left_anti"))
        .getOrElse(fresh0)
      // STAGE the delta before touching the corpus: appending to the
      // corpus path refreshes it and invalidates every plan (cached or
      // not) whose lineage reads that path — which the anti-join does.
      // A scratch materialization breaks the lineage, so the delta the
      // indexes ingest is fixed before the corpus grows. O(batch).
      val scratch = graft.tables.TempDirs.scratch("graft-emb-delta")
      antiJoined.write.parquet(s"$scratch/delta")
      val fresh = spark.read.parquet(s"$scratch/delta")
      try {
        if (fresh.head(1).nonEmpty) {
          // corpus first, then the indexes — the order the checked
          // ingest contract requires (covered + delta == corpus rows)
          fresh.write.mode("append").parquet(corpus)
          VectorIndex.ingest(spark, embCorpusDir, fresh)
          VectorIndex.srpIngest(spark, embCorpusDir, fresh,
            VectorQueries.srpIndexRows)
          // incremental topic assignment (the x26-profile lifecycle):
          // centroids are trained ONCE (first batch, on the corpus as
          // of that batch) and FROZEN in the `topic_centroids` stored
          // table; every later batch assigns its new vectors against
          // the stored model — no retrain on the ingest path, so
          // x114-style balanced sampling over `topic_assignments`
          // stays current while ingest runs (periodic retraining is a
          // batch-boundary decision, not an ingest side effect).
          // Assignment is the same join-free literal-centroid argmin
          // the declared x111/x114/x115 queries use; appendUnique
          // keeps crash replays no-ops. The k-row centroid collect is
          // bounded by construction.
          val cents: Array[Array[Long]] =
            if (store.exists("topic_centroids"))
              store.load("topic_centroids").orderBy("cid").collect()
                .map(_.getSeq[Long](1).toArray)
            else {
              val c = KMeansQueries.train(spark, embCorpusDir)
              store.replace("topic_centroids",
                c.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
                  .toSeq.toDF("cid", "c"))
              c
            }
          // SELF-HEALING assignment sweep: assign every corpus vector
          // still missing from the table, not just this batch's rows —
          // a batch that crashed between the corpus append and this
          // write would otherwise leave its vectors permanently
          // unassigned (the content anti-join makes the replay a
          // corpus no-op, so a fresh-only write never revisits them).
          // Cost: one anti-join against the assignment keys per batch,
          // same order as the content-idempotence anti-join above;
          // output is O(missing), normally just the batch.
          val corpusNow = spark.read.parquet(corpus)
          val unassigned =
            if (!store.exists("topic_assignments")) corpusNow
            else corpusNow.join(
              store.load("topic_assignments").select("vec_id"),
              Seq("vec_id"), "left_anti")
          store.appendUnique("topic_assignments",
            unassigned.select(col("vec_id"),
              KMeansQueries.assignCid(cents,
                KMeansQueries.quantExpr(col("embedding"))).as("cid")),
            Seq("vec_id"))
          ()
        }
      } finally { graft.tables.TempDirs.delete(scratch); () }
    }

  /** New MEDIA documents → parse/fingerprint gate → media corpus +
    * per-doc admit/refuse log — the media sibling of
    * [[documentIngestFlow]]'s near-dup gate: a real crawl pipeline
    * gates EVERY modality at the door, not just text. Input schema:
    * (doc_id long, payload binary).
    *
    * Gate semantics, per batch:
    *  - payloads are fingerprinted INSIDE one narrow mapPartitions
    *    ([[MediaPipeline.mediaFp]] — the same signature definitions
    *    the batch pair queries x98/x110/x112/x113 ride, so the gate
    *    and the audit cannot drift); payload bytes never reach a
    *    wide operator, only (doc_id, kind, fp) flows into the probe.
    *  - undecodable/foreign bytes → refused `media_unreadable`
    *    (MediaCodec parsers are total — corrupt bytes refuse, never
    *    throw).
    *  - a doc whose 64-bit fingerprint lands within Hamming ≤ 2 of an
    *    ADMITTED same-kind doc → refused `media_near_dup`. Probe
    *    shape: the x25/x98 quotient technique with the sides swapped
    *    to fit ingest — the BATCH side explodes into its 2081 ≤2-bit
    *    XOR neighbors ([[graft.operators.Hamming64.masks2]]) and is
    *    BROADCAST; the stored `media_fps` table is equi-join-probed
    *    in one scan per batch. The corpus-sized side never explodes
    *    and never shuffles — the shape that survives a growing
    *    corpus.
    *  - in-batch near-dups: among gate survivors, a doc within ≤ 2 of
    *    a smaller-id readable batch doc is refused (deterministic:
    *    the smallest id of a near-dup chain is admitted; later chain
    *    members refuse even when their direct partner was itself
    *    refused — conservative, content is represented by the chain
    *    head).
    *  - verdict lifecycle mirrors the text gate: ADMITTED docs settle
    *    (re-sends anti-join away before any decode cost); refusals
    *    are RETRYABLE — a re-send with corrected bytes re-enters the
    *    gate and its log row upserts over the stale verdict. Every
    *    write is key-idempotent, so crash replays are no-ops. */
  def mediaIngestFlow(newMedia: DataFrame): StreamingQuery =
    start(newMedia, "media_ingest") { batch0 =>
      val unsettled =
        if (!store.exists("media_ingest_log")) batch0
        else batch0.join(store.load("media_ingest_log")
          .filter(col("admitted")).select("doc_id"), Seq("doc_id"),
          "left_anti")
      // deterministic in-batch winner per doc_id (a stale send AND its
      // correction can share a micro-batch): longest payload, then
      // digest order — never partition order
      val batch = graft.tables.MergeOps.dedupBy(unsettled, Seq("doc_id"),
        Seq(coalesce(length(col("payload")), lit(-1)).desc,
          md5(col("payload")).asc_nulls_last)).persist()
      try {
        val sigs = batch.select(col("doc_id"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, bytes) =>
            MediaPipeline.mediaFp(
              Option(bytes).getOrElse(Array.emptyByteArray)) match {
              case Some((kind, fp)) => (id, kind, fp)
              case None => (id, null.asInstanceOf[String], 0L)
            }
          }).toDF("doc_id", "kind", "fp").persist()
        try {
          val unreadable = sigs.filter(col("kind").isNull).select("doc_id")
          val readable = sigs.filter(col("kind").isNotNull)
          val maskArr = array(graft.operators.Hamming64.masks2
            .map(lit).toIndexedSeq: _*)
          val nbrs = readable
            .select(col("doc_id"), col("kind"), col("fp"),
              explode(maskArr).as("m"))
            .select(col("doc_id"), col("kind"),
              col("fp").bitwiseXOR(col("m")).as("probe"))
          val storedHits =
            if (!store.exists("media_fps"))
              readable.select("doc_id").limit(0)
            else store.load("media_fps").as("s")
              .join(broadcast(nbrs).as("n"),
                col("s.fp") === col("n.probe") &&
                  col("s.kind") === col("n.kind") &&
                  // never match a doc against its OWN stored row: a
                  // batch that crashed between the fps append and the
                  // log write replays its docs, and without this guard
                  // each would refuse as a near-dup of itself while
                  // sitting in the corpus — the log would then
                  // permanently contradict media_docs
                  col("s.doc_id") =!= col("n.doc_id"))
              .select(col("n.doc_id").as("doc_id")).distinct()
          val surv = readable.join(storedHits, Seq("doc_id"), "left_anti")
          val inBatch = surv.as("a")
            .join(broadcast(nbrs).as("n"),
              col("a.fp") === col("n.probe") &&
                col("a.kind") === col("n.kind") &&
                col("a.doc_id") < col("n.doc_id"))
            .select(col("n.doc_id").as("doc_id")).distinct()
          val admitted = surv.join(inBatch, Seq("doc_id"), "left_anti")
          store.appendUnique("media_docs",
            batch.join(admitted.select("doc_id"), Seq("doc_id"),
              "left_semi").select("doc_id", "payload"), Seq("doc_id"))
          store.appendUnique("media_fps",
            admitted.select("doc_id", "kind", "fp"), Seq("doc_id"))
          val log = admitted
            .select(col("doc_id"), lit(true).as("admitted"),
              lit(null).cast("string").as("reason"))
            .unionByName(storedHits.unionByName(inBatch).distinct()
              .select(col("doc_id"), lit(false).as("admitted"),
                lit("media_near_dup").as("reason")))
            .unionByName(unreadable
              .select(col("doc_id"), lit(false).as("admitted"),
                lit("media_unreadable").as("reason")))
          if (!log.isEmpty)
            store.upsert("media_ingest_log", log, Seq("doc_id"))
        } finally { sigs.unpersist(); () }
      } finally { batch.unpersist(); () }
    }
}

/** Admission thresholds for [[IngestionFlows.documentIngestFlow]]:
  * reject when the token count is under `minTokens` or the
  * duplicate-5-gram fraction (x38's repetition rule) exceeds
  * `maxRepetition`. The default admits everything — an inactive rule
  * contributes no predicate, so null-text docs pass a permissive gate
  * exactly as they did before the gate existed. */
object IngestionFlows {

  /** Explicit batch-boundary RETRAIN of the frozen topic model — the
    * other half of [[IngestionFlows.embeddingIngestFlow]]'s freeze
    * doctrine (ingest never retrains; an operator decides when the
    * corpus has drifted enough to re-cluster). Re-trains k-means on
    * the CURRENT embeddings corpus (the per-(corpus version, params)
    * cache makes repeat calls on an unchanged corpus free), REPLACES
    * `topic_centroids`, and recomputes `topic_assignments` for every
    * corpus vector under the new model — replace, not patch: an
    * assignment is a function of the model, so a model change
    * invalidates all of them (cid spaces of different models are not
    * comparable). The ingest flow reads the centroid table each
    * batch, so the next micro-batch assigns under the refreshed model
    * automatically. Not atomic against a concurrently-triggering
    * ingest batch — slot it between triggers, the
    * purge → quiesce → verify discipline ([[graft.tables.Gdpr]]). */
  def refreshTopics(spark: SparkSession, store: TableStore,
      embCorpusDir: String,
      p: KMeansQueries.KMeansParams = KMeansQueries.KMeansParams()): Unit = {
    import spark.implicits._
    val cents = KMeansQueries.train(spark, embCorpusDir, p)
    store.replace("topic_centroids",
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toSeq.toDF("cid", "c"))
    store.replace("topic_assignments",
      spark.read.parquet(s"$embCorpusDir/embeddings.parquet")
        .select(col("vec_id"),
          KMeansQueries.assignCid(cents,
            KMeansQueries.quantExpr(col("embedding"))).as("cid")))
  }
}

final case class IngestQuality(minTokens: Int = 0,
    maxRepetition: Double = 1.0,
    blocklist: Seq[String] = Nil,
    maxToxicity: Double = 1.0) {

  /** Null when the text passes, the rejection reason otherwise —
    * one codegen map over the batch, no shuffle. Reasons are disjoint
    * per doc (`quality` wins over `toxicity` when both trip); both are
    * RETRYABLE — a corrected re-send re-enters every gate. The
    * toxicity arm is x135's detector verbatim
    * ([[graft.functions.TextFns.flagged]]/flaggedCount over the
    * configured blocklist): flagged-token ratio above `maxToxicity`
    * rejects, so the audit view and the door decision share one
    * definition. */
  private[streaming] def failure(text: Column): Column = {
    val ts = graft.functions.TextFns.tokens(text)
    val nTok = size(ts)
    val nGrams = greatest(nTok - 4, lit(0))
    val rep = when(nGrams > 0, lit(1) -
      size(graft.functions.TextFns.shingles(ts, 5)).cast("double") / nGrams)
      .otherwise(lit(0.0))
    val tokFail =
      if (minTokens > 0) text.isNull || nTok < minTokens else lit(false)
    val repFail =
      if (maxRepetition < 1.0) text.isNotNull && rep > maxRepetition
      else lit(false)
    val toxFail =
      if (blocklist.nonEmpty && maxToxicity < 1.0)
        text.isNotNull &&
          graft.functions.TextFns.flaggedCount(
            graft.functions.TextFns.flagged(ts, blocklist)).cast("double") /
            nTok > maxToxicity
      else lit(false)
    when(tokFail || repFail, lit("quality")).when(toxFail, lit("toxicity"))
  }
}
