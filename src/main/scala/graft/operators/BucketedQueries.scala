package graft.operators

import graft.Query
import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Fact-to-fact co-located join over the BUCKETED table layout
 * (TableStore.replaceBucketed) — the declared-query realization of the
 * 100 TB fact-join story: both fact tables are written ONCE per corpus
 * version hash-CLUSTERED BY the join key (same bucket count), so the
 * join and the follow-on per-key aggregation ride the layout's
 * HashPartitioning instead of shuffling either side (PlanSpec pins the
 * zero-Exchange shape with broadcast disabled; the layout is what
 * Delta/Iceberg express as CLUSTERED BY).
 *
 * Build-once like the ANN/shingle indexes: version-keyed per
 * corpus, built during warmup, probed by the query; the bench `build`
 * section reports the amortized layout cost. The version watches
 * `lineitem.parquet` (the large side; the fixtures version both fact
 * tables together).
 */
object BucketedQueries {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  private def forDir(s: SparkSession, d: String): TableStore =
    StoredIndexes.versioned(cache, d, "lineitem.parquet",
      "graft-bucketed-facts") { root =>
      val store = new TableStore(s, root)
      // independent tables — bucket them as concurrent jobs
      // (StoredIndexes.inParallel, guide §2.6): each write is a
      // narrow 8-task shuffle whose tail otherwise idles the box
      StoredIndexes.inParallel(
        () => store.replaceBucketed("orders_b", table(s, d, "orders"),
          bucketBy = Seq("o_orderkey"), numBuckets = 8,
          sortBy = Seq("o_orderkey")),
        () => store.replaceBucketed("lineitem_b", table(s, d, "lineitem"),
          bucketBy = Seq("l_orderkey"), numBuckets = 8,
          sortBy = Seq("l_orderkey")))
      store
    }

  val all: Seq[Query] = Seq(

    // top-10 orders by total line quantity: orders⋈lineitem on the
    // bucket key + per-order aggregation — both stages co-located on
    // the stored layout — then a bounded TakeOrdered for determinism
    Query("x37_colocated_join",
      "SELECT o_orderkey, n_items, qty FROM (" +
        "SELECT o_orderkey, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderkey) " +
        "ORDER BY qty DESC, o_orderkey LIMIT 10") {
      (s, d) =>
        val store = forDir(s, d)
        store.load("orders_b")
          .join(store.load("lineitem_b"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("bigint")).as("qty"))
          .select(col("o_orderkey"), col("n_items"), col("qty"))
          .orderBy(col("qty").desc, col("o_orderkey"))
          .limit(10)
    })
}
