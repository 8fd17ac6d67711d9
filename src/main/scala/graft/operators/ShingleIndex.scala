package graft.operators

import graft.functions.TextFns
import graft.functions.expressions.TextExpressions
import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Build-once stored shingle index over the `documents` corpus, shared
 * by x7 (prefix-filtered Jaccard), x8 (MinHash+LSH) and x36
 * (decontamination). Same build-once/probe-many lifecycle as the
 * vector indexes: version-keyed per corpus, rebuilt when the
 * corpus changes, reclaimed when superseded.
 *
 * What is stored is deliberately COMPACT — fixed-width hashes and
 * short band strings, never the shingle strings or arrays themselves:
 * a materialized (doc_id, s[]) array table is several times larger
 * than the source text it derives from, and scanning it back loses to
 * recomputing the arrays in one codegen pass (measured — the r8 first
 * cut stored the arrays and made x7/x36 ~80% slower). The queries
 * therefore probe the stored index for CANDIDATE GENERATION (the part
 * that needs global state: document frequencies, rankings, shared
 * vocabularies) and recompute the exact-verify arrays from `documents`
 * with the ShinglesDistinct codegen expression, which is one narrow
 * scan of the original text.
 *
 * Tables:
 *  - `pfx3` (doc_id, n, h): the df-ascending AllPairs prefix index —
 *    only each doc's ⌊n/5⌋+1 rarest shingles, as xxhash64 keys. x7's
 *    candidate self-join input; the expensive double-window ranking
 *    (global df + per-doc rank — two full shuffles of the exploded
 *    corpus) runs once per corpus version instead of once per query.
 *  - `bands3` (doc_id, bv): the 4 MinHash LSH band signatures per
 *    document — x8's bucket equi-join input, one MinHashBands codegen
 *    pass at build instead of per query.
 *  - `ex8h` (doc_id, h): xxhash64 of each distinct 8-token shingle
 *    (docs with ≥8 tokens) — both sides of x36's train-vocabulary /
 *    test-probe join ride these 16-byte rows instead of ~60-char
 *    strings, and the tokenize+explode lineage runs once, at build.
 *  - `wfp` (doc_id, fps, n): winnowing fingerprint sets (x65's
 *    window minima, bigint arrays SMALLER than the text they derive
 *    from — the array-storage rule above is about shingle STRINGS) —
 *    x130's probe and verify unit, replacing an md5-per-4-gram
 *    recompute at probe time.
 *
 * Unlike the vector indexes there is deliberately NO incremental
 * ingest here: pfx3's prefix selection depends on the GLOBAL
 * df-ascending canonical order, so new documents shift document
 * frequencies and can change which shingles enter OLD documents'
 * prefixes — appending only the new docs' prefix entries would
 * silently break the completeness guarantee the whole operator rests
 * on. bands3/ex8h are per-document and could append, but a corpus
 * change invalidates pfx3 regardless, so the whole index rebuilds on
 * the version transition (correct-by-construction over fast).
 */
object ShingleIndex {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  /** Candidate docs' exact 8-token shingle STRINGS, re-pruned to the
    * candidate hash set so the downstream distinct/join shuffles only
    * matched shingles (∝ hits, never a candidate doc's whole
    * vocabulary) — the collision-proof string-recheck stage of every
    * ex8h probe. ONE definition next to the index it rechecks, shared
    * by x36 (contamination audit), x86 (decontamination transform)
    * and the ingest-time contamination gate: the shingle width and
    * hash function here must stay in lockstep with the `ex8h` build
    * below, and a single site makes that a local invariant. */
  def candidateShingles(spark: SparkSession, dir: String,
      ids: org.apache.spark.sql.DataFrame,
      candHashes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    table(spark, dir, "documents")
      .join(ids, Seq("doc_id"), "left_semi")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 8)
      .select(col("doc_id"),
        explode(TextFns.shingles(col("ts"), 8)).as("g"))
      .join(candHashes.withColumnRenamed("h", "__h"),
        xxhash64(col("g")) === col("__h"), "left_semi")

  def forDir(spark: SparkSession, dir: String): TableStore =
    StoredIndexes.versioned(cache, dir, "documents.parquet",
      "graft-shingle-index") { root =>
      val store = new TableStore(spark, root)
      val docs = table(spark, dir, "documents")
      val sh = DedupQueries.shingledFrom(docs)
      // spread each table across the session's shuffle width at build:
      // a source corpus of a few parquet files would otherwise produce
      // few-file index tables whose probe stages run on 1-2 tasks —
      // the scan parallelism of the INDEX, not the corpus, bounds
      // every probe (observed: single-task distincts costing seconds)
      // r18: the four tables are INDEPENDENT derivations of the corpus
      // — write them as concurrent jobs (StoredIndexes.inParallel,
      // guide §2.6) so each write's straggler tail back-fills with the
      // next table's scan instead of idling the whole build
      val bkt = TextFns.md5Bits16(col("doc_id").cast("string")) % 100
      StoredIndexes.inParallel(
        () => store.replace("pfx3",
          DedupQueries.prefixIndex(sh).repartition(col("h"))),
        () => store.replace("bands3", sh.select(col("doc_id"),
          explode(TextExpressions.minhash_bands(col("s"))).as("bv"))
          .repartition(col("bv"))),
        // the x35 split is a pure hash of doc_id: computing it once per
        // INDEX ROW here (and storing it) keeps the probe free of md5 —
        // the r8 first cut recomputed it per shingle row at probe time,
        // ~50× more md5 than the per-document formulation it replaced
        () => store.replace("ex8h", docs
          .filter(col("text").isNotNull)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 8)
          .select(col("doc_id"),
            explode(TextFns.shingles(col("ts"), 8)).as("g"))
          .select(col("doc_id"), xxhash64(col("g")).as("h"),
            when(bkt < 80, "train").when(bkt < 90, "val")
              .otherwise("test").as("split"))
          .repartition(col("h"))),
        // `wfp` (doc_id, fps, n): each doc's winnowing fingerprint SET
        // (x65's 24-bit window minima, the ONE winnowSetsOf definition
        // CurationSpec's fixture drives also pin) — x130's probe/verify
        // unit. The array-storage rule above is about SHINGLE STRINGS
        // (several times the source text); winnow fps are ~n/2 bigints
        // per doc — SMALLER than the text — while the recompute they
        // replace is an md5 per 4-gram, so here the stored form wins
        // (measured: x130 1.86 → 1.0 s at sf0.1). Per-document rows,
        // but the corpus version transition rebuilds the whole
        // index anyway (see the pfx3 note), so wfp rides the same
        // lifecycle.
        () => store.replace("wfp",
          DedupQueries.winnowSetsOf(docs).repartition(col("doc_id"))))
      store
    }
}
