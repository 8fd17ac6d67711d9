package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{Bench, LocalSession, SparkEntry}
import graft.operators.{PostingsIndex, ShingleIndex, SimhashIndex, StoredIndexes}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer probe, on the [[LocalSession]] recipe:
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.Probe <mode> [names…]`
  *
  *  - `plan`: formatted physical plans; with no names, rewrites the
  *    sections PLANS.md already has (taken at sf0.001 on 8 cores).
  *  - `explain`: executed plan with runtime metrics, per node.
  *  - `focus`: noop-write seconds of SPARK_GRAFT_FOCUS_ROUNDS rounds
  *    (default 5) after a warmup, so a change is read against
  *    run-to-run noise (default queries: the dedup trio).
  *  - `build`: cold wall time of each stored-index build kind (one
  *    build per corpus version per JVM) and `StoredIndexes.buildLog`.
  *
  * SPARK_GRAFT_CONF="k=v;k=v" adds session settings for conf A/Bs. */
object Probe {
  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noopWrite(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  /** (name, formatted physical plan) per query, unexecuted. */
  def plan(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, String)] =
    names.map(n => n -> SparkEntry.queries(n)(spark, sfDir)
      .queryExecution.explainString(FormattedMode))

  /** Per query: a header with its collect seconds, then one
    * `[metrics]` line per executed-plan node ([[Bench.planNodes]]). */
  def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[String] = names.flatMap { name =>
    val df = SparkEntry.queries(name)(spark, sfDir)
    val sec = timed(df.collect())
    f"[explain] ==== $name ($sec%.3f s) ====" +:
      Bench.planNodes(df.queryExecution.executedPlan).map { case (p, depth) =>
        val shown = p.metrics.collect { case (k, m)
          if (k.toLowerCase.contains("time") || k == "numOutputRows" ||
            k == "numFiles" || k.contains("spill")) && m.value > 0 =>
          s"$k=${m.value}"
        }
        (s"[metrics] ${"  " * depth}${p.nodeName}" +: shown.toSeq).mkString(" ")
      }
  }

  /** (name, seconds of each round) per query, after one warmup round. */
  def focus(spark: SparkSession, sfDir: String, names: Seq[String],
      rounds: Int = 5): Seq[(String, Seq[Double])] = {
    names.foreach(noopWrite(spark, sfDir, _)) // codegen + index builds
    val times = (1 to rounds).map { _ =>
      val row = names.map(n => timed(noopWrite(spark, sfDir, n)))
      System.gc()
      row
    }
    names.zipWithIndex.map { case (n, i) => n -> times.map(_(i)) }
  }

  /** Stored-index builds by kind; bucketed and SRP are forced through
    * a query that reads them. */
  private val buildKinds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "postings" -> ((s, d) => PostingsIndex.forDir(s, d)),
    "simhash" -> ((s, d) => SimhashIndex.forDir(s, d)),
    "shingle" -> ((s, d) => ShingleIndex.forDir(s, d)),
    "bucketed" -> ((s, d) => noopWrite(s, d, "x37_colocated_join")),
    "srp" -> ((s, d) => noopWrite(s, d, "x150_srp_radius_curve")))

  /** (kind, seconds) per named build kind, all kinds if none named. */
  def build(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, Double)] = {
    val kinds = buildKinds.map(_._1)
    require(names.forall(kinds.contains), s"build kinds: ${kinds.mkString(" ")}")
    buildKinds.filter(k => names.isEmpty || names.contains(k._1))
      .map { case (k, f) => k -> timed(f(spark, sfDir)) }
  }

  private def section(name: String, plan: String): String =
    s"\n## $name\n\n```\n${plan.take(60000)}\n```\n"

  /** Rewrites PLANS.md's sections, in its order, from current plans. */
  def writePlans(spark: SparkSession, sfDir: String): Unit = {
    val path = Paths.get("PLANS.md")
    val names = Files.readAllLines(path).asScala.toSeq
      .collect { case l if l.startsWith("## ") => l.drop(3).trim }
    val sf = Paths.get(sfDir).getFileName
    val head =
      s"""# PLANS - formatted physical plans of flagship queries
         |
         |Generated at $sf by `SPARK_GRAFT_CPUS=8 runMain graft.tools.Probe plan`.
         |The shapes asserted by PlanSpec (pushdown, pruning, broadcasts,
         |top-k, partial agg) are visible here; see SCALING.md for the
         |100 TB argument.
         |""".stripMargin
    Files.writeString(path,
      head + plan(spark, sfDir, names).map((section _).tupled).mkString)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<dir> Probe <plan|explain|focus|build> [names...]"
    val mode = args.headOption.getOrElse("")
    require(Set("plan", "explain", "focus", "build")(mode), usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val names = args.toSeq.drop(1)
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = LocalSession(conf = conf)
    spark.sparkContext.setLogLevel(if (mode == "plan") "ERROR" else "WARN")
    try mode match {
      case "plan" if names.isEmpty => writePlans(spark, sfDir)
      case "plan" => plan(spark, sfDir, names).map((section _).tupled).foreach(print)
      case "explain" => explain(spark, sfDir, names).foreach(println)
      case "focus" =>
        val rounds = sys.env.getOrElse("SPARK_GRAFT_FOCUS_ROUNDS", "5").toInt
        val qs = if (names.nonEmpty) names
          else Seq("x7_ngram_jaccard", "x8_minhash_lsh", "x36_contamination")
        focus(spark, sfDir, qs, rounds).foreach { case (n, xs) =>
          val s = xs.sorted
          println(f"[focus] $n%-22s min=${s.head}%.3f med=${s(s.size / 2)}%.3f max=${s.last}%.3f")
        }
      case "build" =>
        build(spark, sfDir, names).foreach { case (k, sec) =>
          println(f"[build] $k total=$sec%.2fs")
        }
        StoredIndexes.buildLog.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
          println(f"[buildlog] $k ${v.toDouble}%.2fs")
        }
    } finally spark.stop()
  }
}
