package graft.operators

import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Build-once stored 64-bit SimHash index over the `documents` corpus,
 * shared by the whole text near-dup family (x25 pairs, x34/x40
 * clustering, x118 split assignment, x120/x122 quality election, x124
 * pair mining, x125/x126 rollups). Same version-keyed
 * build-once/probe-many lifecycle as ShingleIndex and the vector
 * indexes.
 *
 * Tables:
 *  - `fp64` (doc_id, f): the 64-bit SimHash per document (non-null
 *    text), 16 bytes/doc — tiny relative to the text it derives from,
 *    so unlike the shingle ARRAYS (deliberately recomputed per query;
 *    see the ShingleIndex header) the fingerprints are stored: every
 *    probe reads the narrow table instead of re-tokenizing and
 *    re-hashing the corpus.
 *  - `cl64` (doc_id, cluster): connected components of the Hamming-≤2
 *    pair graph over `fp64`, cluster = min doc_id of the component —
 *    computed by the DISTRIBUTED pointer-jumping CC
 *    ([[DedupQueries.connectedComponents]]; the 64-bit fingerprint
 *    space is corpus-sized, so the 16-bit era's ≤2¹⁶ driver
 *    union-find does not apply). A dedup decision is corpus STATE:
 *    clustering once per corpus version is both the cheap shape (7
 *    family queries share it) and the honest 100 TB design (the same
 *    doctrine as the ingest flow's maintained `dedup_decisions`).
 *
 * Like ShingleIndex there is deliberately NO incremental ingest here:
 * the batch path rebuilds per corpus version; the STREAMING path
 * (IngestionFlows.documentIngestFlow) maintains its own incremental
 * fingerprint + decision tables per micro-batch, which is where
 * incremental near-dup maintenance actually lives.
 */
object SimhashIndex {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  def forDir(spark: SparkSession, dir: String): TableStore =
    StoredIndexes.versioned(cache, dir, "documents.parquet",
      "graft-simhash-index") { root =>
      val store = new TableStore(spark, root)
      // spread across the session's shuffle width at build, like the
      // shingle index: probe parallelism is bounded by the INDEX's
      // file count, not the corpus's
      store.replace("fp64",
        DedupQueries.simhash64FpsOf(table(spark, dir, "documents"))
          .repartition(spark.sessionState.conf.numShufflePartitions,
            col("doc_id")))
      val fps = store.load("fp64")
      val nPresent = fps.select(col("f")).distinct().count()
      store.replace("cl64",
        DedupQueries.connectedComponents(spark,
          DedupQueries.hamming64PairsOf(fps, nPresent)
            .select(col("doc_a"), col("doc_b"))))
      store
    }
}
