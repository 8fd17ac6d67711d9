package graft.streaming

import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * S14 — incremental materialized aggregate: a per-key COUNT/SUM view
 * maintained by DELTA MERGE, never recomputed from history. Each
 * micro-batch aggregates only ITS OWN rows (map-side combined, one
 * small shuffle over the batch) and folds the partials into the
 * stored view with a full-outer coalesce-add — so per-batch cost is
 * O(batch) + O(view), where the view is bounded by KEY CARDINALITY,
 * not by how many events ever flowed. At 100 TB/day of events and a
 * few thousand keys, the view rewrite is kilobytes; the classic
 * alternative (recompute the aggregate over the full history each
 * trigger) grows without bound. This is incremental view maintenance
 * for the distributive aggregates (COUNT/SUM/MIN/MAX fold cleanly;
 * AVG = SUM/COUNT at read time; non-distributive aggs need sketches —
 * x48/x55/x57's families, whose mergeability is exactly what makes
 * them IVM-able too).
 *
 * Exactly-once: the additive fold is NOT naturally idempotent (a
 * replayed batch would double-count), so this flow REQUIRES the
 * store's batch-id skip (`FlowRunner`) — i.e. a persistent
 * `checkpointRoot` — and refuses to start without one. (The reference
 * gets the same effect from consumer-group offsets plus
 * duplicate-tolerant upserts, inventario/main.go:91-93; an additive
 * aggregate has no such tolerance, hence the hard requirement.)
 */
object IncrementalAgg {

  /** Fold `delta` partials into `current` by full-outer coalesce-add
    * on every non-key column. Columns absent on one side count as
    * zero; key sets union. NULL keys merge null-safely (`<=>`): a
    * null group key is one group, exactly as groupBy produced it — a
    * plain equi-join would re-emit a fresh NULL row per fold and the
    * view's total would drift. */
  def merged(current: DataFrame, delta: DataFrame,
      key: Seq[String]): DataFrame = {
    val adds = delta.columns.toSeq.diff(key)
    require(adds.nonEmpty, "delta carries no aggregate columns")
    val d = delta.columns.foldLeft(delta)((df, c) =>
      df.withColumnRenamed(c, s"_delta_$c"))
    current.join(d,
        key.map(k => col(k) <=> col(s"_delta_$k")).reduce(_ && _),
        "full_outer")
      .select(key.map(k =>
        when(col(k).isNull && col(s"_delta_$k").isNotNull,
          col(s"_delta_$k")).otherwise(col(k)).as(k)) ++
        adds.map(c =>
          (coalesce(col(c), lit(0L)) +
            coalesce(col(s"_delta_$c"), lit(0L))).as(c)): _*)
  }

  /** Apply one batch's partials to the stored view. */
  def applyDelta(store: TableStore, view: String, delta: DataFrame,
      key: Seq[String]): Unit =
    if (!store.exists(view)) store.replace(view, delta)
    else store.replace(view, merged(store.load(view), delta, key))
}

/** Streaming front for [[IncrementalAgg]] over the generic events
  * shape (`event_type`, `value`). */
final class AggFlows(spark: SparkSession, store: TableStore,
    checkpointRoot: Option[String],
    trigger: Trigger = Trigger.AvailableNow()) {

  require(checkpointRoot.isDefined,
    "incremental aggregates double-count on replay without the " +
      "batch-id skip — pass a persistent checkpointRoot")

  /** Maintain view `event_stats(event_type, n, total_cents)` from an
    * events stream. Money kept in integer cents so the fold is exact
    * under any association order. */
  def eventTypeStatsFlow(events: DataFrame): StreamingQuery =
    FlowRunner.start(store, checkpointRoot, trigger, events,
      "event_stats") { (_, batch) =>
      val delta = batch
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("bigint")).as("total_cents"))
      IncrementalAgg.applyDelta(store, "event_stats", delta,
        Seq("event_type"))
    }
}
