package graft.operators

import graft.Query
import graft.sources.Tables.table
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Fact-to-fact co-located join over a BUCKETED table layout — the
 * declared-query realization of the 100 TB fact-join story: both fact
 * tables are written ONCE per corpus version hash-CLUSTERED BY the
 * join key (same bucket count, sorted within each bucket), so the join
 * and the follow-on per-key aggregation ride the layout's
 * HashPartitioning instead of shuffling either side (PlanSpec pins the
 * zero-Exchange shape with broadcast disabled; the layout is what
 * Delta/Iceberg express as CLUSTERED BY).
 *
 * Spark's planner reads the bucket spec from the session catalog, so
 * each table is written with `saveAsTable` as an external catalog
 * entry over a path in the build's scratch root, and x37 reads it back
 * with `spark.table`. The layout is replace-only by nature (appends
 * would break the bucket invariant), which is why it lives here and
 * not in the versioned TableStore: each corpus version builds a fresh
 * pair of tables.
 *
 * Build-once like the ANN/shingle indexes: version-keyed per
 * corpus, built during warmup, probed by the query; the bench `build`
 * section reports the amortized layout cost. The version watches
 * `lineitem.parquet` (the large side; the fixtures version both fact
 * tables together).
 */
object BucketedQueries {

  /** Session-catalog ids of the two bucketed fact tables. */
  private[graft] final case class Facts(orders: String, lineitem: String)

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Facts]]()

  /** Catalog id of bucketed table `name` built under scratch `root`:
    * a hash of the root keeps the entries of different corpus versions
    * (one root each) apart. */
  private def catalogId(root: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    s"graft_${h}_${name}_v0"
  }

  /** The bucketed layout of corpus `d`, built on first use per corpus
    * version. */
  private[graft] def forDir(s: SparkSession, d: String): Facts =
    StoredIndexes.versioned(cache, d, "lineitem.parquet",
      "graft-bucketed-facts") { root =>
      val facts = Facts(catalogId(root, "orders_b"),
        catalogId(root, "lineitem_b"))
      def bucketed(src: String, id: String, key: String): () => Unit = () =>
        table(s, d, src).write.mode("overwrite").format("parquet")
          .option("path", java.nio.file.Paths.get(root, id).toString)
          .bucketBy(8, key).sortBy(key)
          .saveAsTable(id)
      // independent tables — bucket them as concurrent jobs
      // (StoredIndexes.inParallel, guide §2.6): each write is a
      // narrow 8-task shuffle whose tail otherwise idles the box
      StoredIndexes.inParallel(
        bucketed("orders", facts.orders, "o_orderkey"),
        bucketed("lineitem", facts.lineitem, "l_orderkey"))
      facts
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
        val facts = forDir(s, d)
        s.table(facts.orders)
          .join(s.table(facts.lineitem),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("bigint")).as("qty"))
          .select(col("o_orderkey"), col("n_items"), col("qty"))
          .orderBy(col("qty").desc, col("o_orderkey"))
          .limit(10)
    })
}
