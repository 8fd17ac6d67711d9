package graft.operators

import graft.Query
import graft.functions.TextFns
import graft.sources.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * BPE merge mining — tokenizer-vocabulary training (Sennrich et al.
 * '16, "Neural Machine Translation of Rare Words with Subword Units";
 * the algorithm behind the GPT-2/Llama tokenizers): k iterations of
 * merge-the-most-frequent-adjacent-symbol-pair over the corpus's
 * word-character sequences, weighted by word frequency. Completes the
 * vocab pipeline that previously ended at counting (x30) and
 * association mining (x47/x90).
 *
 * ARCHITECTURE — the two-tier shape every production tokenizer trainer
 * uses (HuggingFace `tokenizers`, SentencePiece): the CORPUS-scale
 * work is exactly one map-side-combined word-type count (tokens →
 * groupBy word — the only pass that sees 100 TB), and the merge loop
 * runs on the WORD-TYPE table, which is Zipf-bounded vocabulary
 * metadata (millions of types for a web corpus, 31 here), not corpus
 * data. The loop is inherently sequential (merge i+1's pair counts
 * depend on merge i having been applied), so it runs driver-side over
 * the collected type table on the [[StoredIndexes.versionedValue]]
 * build-once lifecycle — the x26-profile/x73-mined-list precedent:
 * learned once per corpus version, build cost in the bench `build`
 * section, no builder-side persist/cache (Bench's hygiene contract).
 * A distributed merge loop would pay k full shuffles of the same tiny
 * table to move one argmax per round — strictly worse at any scale.
 *
 * Determinism: pair counts are exact longs; the argmax tie-breaks on
 * (count DESC, a ASC, b ASC) with plain ASCII string order, and merge
 * application is greedy left-to-right non-overlapping ("a a a" under
 * (a,a) → "aa a") — the classic semantics, and bit-identical to the
 * DuckDB oracle's `replace` on a separator-prefixed encoding.
 *
 * Scale guard: word types are capped at [[MaxTypes]] taken by
 * (count DESC, word ASC) — a TakeOrdered, never a full collect of an
 * unbounded vocabulary. Capping to the most frequent types is what
 * tokenizer trainers do anyway (rare-type tails contribute no merges).
 */
object BpeMiner {

  /** One learned merge: rank (1-based), the merged pair (a, b), the
    * pair's adjacent-occurrence count at merge time, and the corpus
    * symbol count AFTER applying the merge. */
  final case class Merge(rank: Int, a: String, b: String,
      pairCount: Long, nSymbols: Long)

  private val MaxTypes = 1 << 20

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Seq[Merge]]]()

  /** The learned merge list for the corpus at `dir`, built once per
    * corpus version. `k` merges; only [a-z]+ tokens participate (the
    * fixture is entirely [a-z]+; a mixed corpus would normalize
    * upstream). */
  def forDir(s: SparkSession, dir: String, k: Int = 8): Seq[Merge] =
    // cacheKey carries k: a k=4 caller after a k=8 caller must not be
    // served the 8-merge list off the version hit
    StoredIndexes.versionedValue(cache, dir, "documents.parquet",
      "graft-bpe-merges", cacheKey = s"$dir#k=$k") {
      val types = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(explode(TextFns.tokens(col("text"))).as("t"))
        .filter(col("t").rlike("^[a-z]+$"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t"))
        .limit(MaxTypes)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      train(types, k)
    }

  /** The sequential merge loop over the word-type table. Exposed for
    * the spec's hand-checkable cases. */
  private[graft] def train(types: Array[(String, Long)], k: Int)
      : Seq[Merge] = {
    // word type → symbol array (initially single chars)
    var vocab: Array[(Array[String], Long)] =
      types.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val out = Seq.newBuilder[Merge]
    var rank = 1
    while (rank <= k) {
      val pairs = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          pairs.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (pairs.isEmpty) return out.result()
      var best: ((String, String), Long) = null
      pairs.forEach { (p, c) =>
        if (best == null || c > best._2 ||
            (c == best._2 && (p._1 < best._1._1 ||
              (p._1 == best._1._1 && p._2 < best._1._2))))
          best = (p, c)
      }
      val ((a, b), c) = best
      var nSymbols = 0L
      vocab = vocab.map { case (syms, cnt) =>
        val merged = new scala.collection.mutable.ArrayBuffer[String](
          syms.length)
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            merged += a + b; i += 2
          } else { merged += syms(i); i += 1 }
        }
        nSymbols += merged.length * cnt
        (merged.toArray, cnt)
      }
      out += Merge(rank, a, b, c, nSymbols)
      rank += 1
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // declared query + oracle
  // ------------------------------------------------------------------

  /** DuckDB twin: an unrolled-CTE chain (the x50-pagerank technique)
    * over a symbol encoding where every symbol cell is WRAPPED in
    * chr(1) on BOTH sides ("·sym·"), so the merge
    * `replace(w, ·a··b·, ·ab·)` is exactly greedy left-to-right
    * non-overlapping pair merging: cells share no separator (adjacent
    * matches can't steal each other's boundary) and the pattern's
    * trailing separator guards the RIGHT side — a prefix-only
    * encoding matched `·c··a` inside `·c··ab·`, merging (c,a) across
    * a symbol boundary whenever a merged symbol had the right token
    * as a proper prefix (caught by review; the fixture never hits it,
    * an `ab/ca/cab` corpus does). Symbol extraction filters the empty
    * strings the doubled separators introduce. Each wK is
    * MATERIALIZED: the chain references every level twice (pair
    * counts + next merge), and inlining would re-derive w0
    * exponentially. */
  private val Sep = "chr(1)"

  /** The ONE mining-chain builder shared by x96's and x99's oracles
    * (the chain carries the both-sides-separator-guard and tie-break
    * semantics whose prefix-only variant was a confirmed review-caught
    * bug — a second hand-maintained copy invited silent divergence):
    * tok → w0 (word, guarded encoding, cnt) → k rounds of
    * s_i (symbols) / p_i (pair counts) / b_i (argmax) / w_{i+1}
    * (merge applied; LEFT JOIN ON TRUE + COALESCE so an exhausted
    * round — empty b_i — carries every word through unchanged instead
    * of emptying all later levels). */
  private def chainSql(k: Int): String = {
    val chain = (0 until k).map { i =>
      s"s$i AS (SELECT list_filter(string_split(w, $Sep), " +
        s"t -> t <> '') AS ts, cnt FROM w$i), " +
        s"p$i AS (SELECT split_part(g, ' ', 1) AS a, " +
        "split_part(g, ' ', 2) AS b, SUM(cnt) AS c FROM " +
        "(SELECT unnest(list_transform(range(len(ts) - 1), " +
        s"i -> ts[i+1] || ' ' || ts[i+2])) AS g, cnt FROM s$i) " +
        "GROUP BY 1, 2), " +
        s"b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1), " +
        s"w${i + 1} AS MATERIALIZED (SELECT word, COALESCE(replace(w, " +
        s"$Sep || a || $Sep || $Sep || b || $Sep, " +
        s"$Sep || a || b || $Sep), w) AS w, cnt " +
        s"FROM w$i LEFT JOIN b$i ON TRUE)"
    }.mkString(", ")
    "tok AS (SELECT unnest(string_split(text, ' ')) AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "w0 AS MATERIALIZED (SELECT t AS word, regexp_replace(t, '(.)', " +
      s"$Sep || '\\1' || $Sep, 'g') AS w, COUNT(*) AS cnt FROM tok " +
      "WHERE regexp_matches(t, '^[a-z]+$') GROUP BY t), " + chain
  }

  private def oracleSql(k: Int): String = {
    val rows = (0 until k).map { i =>
      s"SELECT ${i + 1} AS rank, a, b, CAST(c AS BIGINT) AS pair_count, " +
        s"(SELECT CAST(SUM(cnt * len(list_filter(string_split(w, $Sep), " +
        s"t -> t <> ''))) AS BIGINT) FROM w${i + 1}) AS n_symbols FROM b$i"
    }.mkString(" UNION ALL ")
    s"WITH ${chainSql(k)}, m AS ($rows) SELECT * FROM m ORDER BY rank"
  }

  /** x99's oracle: the SAME mining chain ([[chainSql]] — one
    * definition, zero drift), then every corpus token joins its word
    * type's post-merge symbol count and rolls up per language. Symbol
    * count is (seps/2) via the length difference — each cell carries
    * exactly two separators. */
  private def oracleEncodeSql(k: Int): String = {
    s"WITH ${chainSql(k)}, " +
      s"enc AS (SELECT word, CAST((length(w) - " +
      s"length(replace(w, $Sep, ''))) / 2 AS BIGINT) AS nsym FROM w$k), " +
      "tokl AS (SELECT lang, unnest(string_split(text, ' ')) AS word " +
      "FROM documents WHERE text IS NOT NULL), " +
      "j AS (SELECT tokl.lang, length(tokl.word) AS nch, enc.nsym " +
      "FROM tokl JOIN enc ON tokl.word = enc.word), " +
      "g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(nch) AS BIGINT) AS n_chars, " +
      "CAST(SUM(nsym) AS BIGINT) AS n_symbols FROM j GROUP BY lang), " +
      "d AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs " +
      "FROM documents WHERE text IS NOT NULL GROUP BY lang) " +
      "SELECT d.lang, d.n_docs, COALESCE(g.n_words, 0) AS n_words, " +
      "COALESCE(g.n_chars, 0) AS n_chars, " +
      "COALESCE(g.n_symbols, 0) AS n_symbols, " +
      "CASE WHEN g.n_symbols > 0 THEN " +
      "round(CAST(g.n_chars AS DOUBLE) / g.n_symbols, 6) END " +
      "AS compression FROM d LEFT JOIN g ON d.lang = g.lang " +
      "ORDER BY d.lang"
  }

  val all: Seq[Query] = Seq(
    Query("x96_bpe_merges", oracleSql(8)) { (s, d) =>
      import s.implicits._
      forDir(s, d, 8)
        .map(m => (m.rank, m.a, m.b, m.pairCount, m.nSymbols))
        .toDF("rank", "a", "b", "pair_count", "n_symbols")
        .orderBy("rank")
    },

    // BPE ENCODING — the apply half of x96's train half: every corpus
    // token encoded under the learned merge list, rolled up per
    // language (words, chars, post-merge symbols, chars-per-symbol
    // compression — the number a tokenizer team actually watches).
    // The merges are driver metadata (x96's cached build), so the
    // whole encode is ONE narrow codegen-friendly pass: per token,
    // wrap chars in the guarded separator encoding, fold the 8
    // literal `replace`s (greedy non-overlapping by the same
    // both-sides-guard argument as the oracle), count cells by
    // separator arithmetic — no join, no explode, no shuffle before
    // the per-lang aggregate. At 100 TB this is the canonical
    // tokenizer-application shape: O(corpus chars) map + O(langs)
    // state.
    Query("x99_bpe_encode", oracleEncodeSql(8)) { (s, d) =>
      val sep = "\u0001"
      val merges = forDir(s, d, 8)
      def encoded(w: org.apache.spark.sql.Column) =
        merges.foldLeft(
          regexp_replace(w, "(.)", sep + "$1" + sep)) { (acc, m) =>
          replace(acc, lit(sep + m.a + sep + sep + m.b + sep),
            lit(sep + m.a + m.b + sep))
        }
      // every non-separator char of the encoding is an original char,
      // so cells = (len(enc) − len(word)) / 2 — ONE evaluation of the
      // replace fold per token (length(enc) − length(translate(enc)))
      // would run the whole fold twice inside the HOF lambda, where
      // no common-subexpression elimination applies
      def nsym(w: org.apache.spark.sql.Column) =
        ((length(encoded(w)) - length(w)).cast("long") / 2).cast("long")
      val ws = filter(TextFns.tokens(col("text")),
        w => w.rlike("^[a-z]+$"))
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"),
          size(ws).cast("long").as("nw"),
          aggregate(transform(ws, w => length(w).cast("long")),
            lit(0L), (a, x) => a + x).as("nch"),
          aggregate(transform(ws, w => nsym(w)),
            lit(0L), (a, x) => a + x).as("nsy"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nch")).as("n_chars"),
          sum(col("nsy")).as("n_symbols"),
          when(sum(col("nsy")) > 0,
            round(sum(col("nch")).cast("double") / sum(col("nsy")), 6))
            .as("compression"))
        .orderBy("lang")
    })
}
