package graft.operators

import graft.tables.TableStore
import org.apache.spark.sql.SparkSession

/**
 * Build-once stored DSIR weight table over the `documents` corpus,
 * shared by the selection (x129) and resample (x134) queries. Same
 * version-keyed build-once/probe-many lifecycle as
 * SimhashIndex / ShingleIndex / the vector indexes, and the same
 * doctrine that moved the trigram profile (r8), the unigram LM (r9)
 * and the boilerplate list (r12) off per-invocation recompute: the
 * (bucket, log-ratio) table and the per-doc weights it induces are
 * corpus METADATA — a function of the corpus version alone — so
 * computing them inside every probe plan re-ran the full corpus
 * tokenize pass once per query (x134 paid x129's whole weight
 * pipeline again; bench: 3.2 s + 2.5 s that were mostly the same
 * scan twice).
 *
 * Table:
 *  - `weights` (doc_id, wt): the UNROUNDED DSIR log-ratio weight per
 *    non-null-text document ([[CurationQueries.dsirWeightsRaw]] — one
 *    tokenize scan, 64-row ratio table broadcast back, no token
 *    shuffle; that audited build plan is unchanged, it just runs once
 *    per corpus version instead of once per probe). 16 bytes/doc —
 *    the same tiny-sidecar class as SimhashIndex's fp64.
 *
 * Probe cost after the build: x129 is one narrow scan + TakeOrdered
 * over the stored table; x134 adds a codegen'd Gumbel-noise
 * projection on the same scan. Neither touches `documents`.
 *
 * Incremental ingest maintenance is deliberately NOT provided (the
 * SimhashIndex/ShingleIndex scope rule): the batch path rebuilds per
 * corpus version. Unlike `source_mass` (a per-source SUM that folds
 * in O(batch)), DSIR weights are NOT incrementally foldable — every
 * appended batch shifts the raw-pool bucket distribution, which
 * changes the log-ratio table, which changes EVERY stored document's
 * weight, so an "incremental" maintainer would still rewrite the
 * whole weights table per trigger while adding crash-window states.
 * A corpus-version rebuild is the honest cost, and it amortizes over
 * both probes plus any downstream selection runs.
 */
object DsirIndex {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  /** The stored weights for (corpus version, `target`). The target is
    * a BUILD KNOB on the IvfParams pattern (r16 verdict ask #5): each
    * target distribution — a language, a curated seed doc-id set —
    * gets its own cache entry and stored table keyed on
    * (dir, target.key), so selection toward a new domain never evicts
    * the serving build, and an unchanged (corpus, target) pair is a
    * version hit. */
  def forDir(spark: SparkSession, dir: String,
      target: CurationQueries.DsirTarget =
        CurationQueries.DsirTarget.Default): TableStore =
    StoredIndexes.versioned(cache, dir, "documents.parquet",
      "graft-dsir-weights",
      cacheKey = s"$dir|dsir|${target.key}") { root =>
      val store = new TableStore(spark, root)
      store.replace("weights",
        CurationQueries.dsirWeightsRaw(spark, dir, target)
          .repartition(spark.sessionState.conf.numShufflePartitions,
            org.apache.spark.sql.functions.col("doc_id")))
      store
    }
}
