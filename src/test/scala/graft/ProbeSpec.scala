package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** The one developer tool runs its modes as plain functions on the
  * suite's session, so it is exercised here and cannot drift from the
  * code it probes; and every entry point builds its session through
  * [[LocalSession]]. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("plan returns the formatted physical plan of a query") {
    val Seq((name, plan)) = Probe.plan(spark, TestSpark.sf, Seq("q2_point"))
    assert(name === "q2_point")
    assert(plan.startsWith("== Physical Plan =="))
    assert(plan.contains("Scan parquet") && plan.contains("customer.parquet"))
  }

  test("explain returns one metrics line per executed-plan node") {
    val lines = Probe.explain(spark, TestSpark.sf, Seq("q2_point"))
    assert(lines.head.startsWith("[explain] ==== q2_point ("))
    val df = SparkEntry.queries("q2_point")(spark, TestSpark.sf)
    df.collect()
    val nodes = Bench.planNodes(df.queryExecution.executedPlan)
    val metrics = lines.tail
    assert(metrics.size === nodes.size)
    metrics.zip(nodes).foreach { case (l, (n, _)) =>
      assert(l.startsWith("[metrics]") && l.contains(n.nodeName), l)
    }
  }

  test("focus returns one timing per round") {
    val Seq((name, secs)) = Probe.focus(spark, TestSpark.sf, Seq("q2_point"), rounds = 3)
    assert(name === "q2_point")
    assert(secs.size === 3 && secs.forall(_ > 0))
  }

  test("one session recipe: only LocalSession builds a session or reads the core count") {
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def filesWith(s: String): Seq[String] = sources
      .filter(p => Files.readString(p).contains(s))
      .map(_.getFileName.toString)
    // split literals so this file does not match itself; the core
    // count is read as the quoted env key
    assert(filesWith("SparkSession" + ".builder") === Seq("LocalSession.scala"))
    assert(filesWith("\"SPARK_GRAFT_" + "CPUS\"") === Seq("LocalSession.scala"))
  }
}
