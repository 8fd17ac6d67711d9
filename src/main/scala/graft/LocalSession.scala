package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point runs on: Bench,
  * Verify, StreamBench, the Probe tool and the test suites.
  *
  * `local[n]` with n shuffle partitions, UTC session time, no UI, the
  * engine's SQL functions ([[GraftExtensions]]) and a periodic
  * ContextCleaner GC every 60 s instead of the 30 min default: a full
  * bench run can finish inside one default interval, i.e. with zero
  * cleanups. */
object LocalSession {
  /** Cores for `local[n]`: SPARK_GRAFT_CPUS, default 32. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** @param conf extra settings applied on top of the recipe */
  def apply(cpus: Int = LocalSession.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .withExtensions(new GraftExtensions)
    conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
