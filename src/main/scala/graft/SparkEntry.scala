package graft

import graft.operators.{AsofQueries, BloomJoin, BoletiaQueries, BpeMiner, BucketedQueries, CoreQueries, CurationQueries, DedupQueries, GraphQueries, KMeansQueries, LinkQueries, MediaQueries, PackingQueries, PqQueries, QualityOps, StatefulQueries, TextQueries, TpchQueries, VectorQueries, ZOrderQueries}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every declared query (SURVEY.md §2.1): name → builder + oracle. */
  val declared: Seq[Query] =
    CoreQueries.all ++ BoletiaQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ VectorQueries.all ++ MediaQueries.all ++
      StatefulQueries.all ++ AsofQueries.all ++ BucketedQueries.all ++
      GraphQueries.all ++ BloomJoin.all ++ ZOrderQueries.all ++
      QualityOps.all ++ TpchQueries.all ++ LinkQueries.all ++
      BpeMiner.all ++ PackingQueries.all ++ KMeansQueries.all ++
      CurationQueries.all ++ PqQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way broadcast-join enrichment + aggregation (survey Q16). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.table(spark, d, "customer")
      .join(broadcast(Tables.table(spark, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.table(spark, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("custs"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
      .orderBy("r_name", "n_name")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for probabilistic ops (rows-only
    * driver check). */
  val oracleSql: Map[String, String] =
    declared.collect { case Query(n, _, Some(sql)) => n -> sql }.toMap
}
