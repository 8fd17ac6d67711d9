package graft.perfbench

import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its result as one JSON
  * object. `run.py` is the entry point that prepares the tables,
  * launches this and prints the final result line.
  *
  *   Main --workload saga|serving --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --out FILE [--reps R] [--cores N]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a.getOrElse("reps", "3").toInt, cores, a("data"), a("work"))
    val res = new Result
    val host = new HostSample
    val sampler = new java.util.Timer("graftbench-host", true)
    sampler.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = host.sampleLoad()
    }, 1000, 1000)
    try ctx.workload match {
      case "saga" => Saga.run(ctx, res)
      case "serving" => Serving.run(ctx, res)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.failures += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    sampler.cancel()
    // not program layers: they let a noisy run be attributed to the host
    res.metric("host.steal_frac", host.stealFrac, "frac")
    res.metric("host.load1", host.load1, "count")
    val header = Header.json(ctx)
    ctx.stop()
    Files.writeString(Paths.get(a("out")), res.toJson(header))
    if (ctx.trace)
      res.writeSpans(Paths.get(ctx.workDir, s"spans-${ctx.workload}-${ctx.seed}.jsonl"))
  }
}

/** The machine and configuration a result was measured on. */
object Header {
  def json(ctx: Ctx): String = {
    val rt = Runtime.getRuntime
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.getConf.getAll.toSeq.sorted
        .filterNot { case (k, _) => k.contains("dir") || k.endsWith(".id") ||
          k.contains("host") || k.contains("port") || k.startsWith("spark.app.") }
        .toMap)
      .getOrElse(Map.empty)
    Json.value(scala.collection.immutable.ListMap(
      "workload" -> ctx.workload, "seed" -> ctx.seed,
      "nproc" -> rt.availableProcessors(), "master" -> s"local[${ctx.cores}]",
      "heap_max_mb" -> rt.maxMemory() / (1L << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "spark_conf" -> conf))
  }
}
