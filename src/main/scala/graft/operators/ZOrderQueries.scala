package graft.operators

import graft.Query
import graft.functions.ZOrder
import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Z-ordered table layout + the declared query that rides it — the
 * multi-dimensional pruning story next to x37's bucketing (join
 * co-location) and the partitioned ANN indexes (single-key pruning):
 * events are rewritten ONCE per corpus version sorted by the Morton
 * index of (user_id, ts), so every parquet file covers a small
 * rectangle of that plane and a query box selective in both
 * dimensions skips all non-intersecting files via ordinary min/max
 * row-group statistics. A single-column sort prunes by ONE
 * dimension only; at 100 TB the difference is scanning ~6 % of the
 * fact instead of ~25 % for a week×user-range slice (ZOrderSpec
 * measures exactly this ratio on the fixture).
 *
 * Build-once like the bucketed facts: version-keyed per
 * corpus, built during warmup, amortized across every 2-d slice
 * query; the bench `build` section carries the layout cost. The
 * scale bounds (grid edges) come from one min/max aggregate over the
 * corpus — two scalars on the driver, never data.
 */
object ZOrderQueries {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  private val NumFiles = 32

  private def forDir(s: SparkSession, d: String): TableStore =
    StoredIndexes.versioned(cache, d, "events.parquet",
      "graft-zorder-events") { root =>
      val store = new TableStore(s, root)
      // write timestamps as TIMESTAMP_MICROS: Spark's INT96 default
      // carries NO parquet min/max statistics, which would silence the
      // ts half of the pruning this layout exists for. Save/restore —
      // a session-global flip inside a lazily-invoked builder would
      // leak into every later parquet write in the session
      val confKey = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.getOption(confKey)
      s.conf.set(confKey, "TIMESTAMP_MICROS")
      try {
      val ev = table(s, d, "events")
      val b = ev.agg(min(col("user_id")), max(col("user_id")),
        min(col("ts").cast("long")), max(col("ts").cast("long"))).head
      val (uLo, uHi) = (b.getLong(0).toDouble, b.getLong(1).toDouble)
      val (tLo, tHi) = (b.getLong(2).toDouble, b.getLong(3).toDouble)
      val z = ZOrder.zvalue(col("user_id"), uLo, uHi,
        col("ts").cast("long"), tLo, tHi)
      store.replace("events_z", ev.withColumn("_z", z)
        .repartitionByRange(NumFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z"))
      } finally prev match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
      store
    }

  /** The z-ordered events relation (for specs and ad-hoc slices). */
  def zEvents(s: SparkSession, d: String): DataFrame =
    forDir(s, d).load("events_z")

  val all: Seq[Query] = Seq(

    // A user-range × one-week box over the z-ordered fact: both
    // predicates push to the scan, and the layout makes BOTH prune
    // (min/max stats per file cover small rectangles). Results are
    // layout-independent by construction — the oracle runs the same
    // filter on the raw fixture.
    Query("x69_zorder_box",
      "SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE user_id BETWEEN 4 AND 8 " +
        "AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-17' " +
        "GROUP BY 1 ORDER BY 1") {
      (s, d) =>
        zEvents(s, d)
          .filter(col("user_id").between(4, 8) &&
            col("ts") >= to_timestamp(lit("2024-01-10")) &&
            col("ts") < to_timestamp(lit("2024-01-17")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100).cast("bigint")).as("cents"))
          .orderBy("event_type")
    })
}
