package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** What one run of a workload is given. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    trace: Boolean, reps: Int, cores: Int, dataDir: String, workDir: String) {

  private var current: SparkSession = null

  /** The run's session, on `local[cores]`. */
  def newSession(): SparkSession = {
    current = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current
  }

  def stop(): Unit = if (current != null) { current.stop(); current = null }

  /** A private copy of the generated tables in a directory no earlier
    * repetition used, so every stored index keyed on it is built anew. */
  def freshDataCopy(tag: String): String = {
    val dst = Paths.get(workDir, "data-" + tag)
    Files.createDirectories(dst)
    val it = Files.list(Paths.get(dataDir))
    try it.forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    finally it.close()
    dst.toString
  }
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The tail of `xs` at percentile `p`, fixed per workload as the
    * highest percentile with at least 10 of a run's usual number of
    * samples beyond it (a percentile chosen per run would jump as the
    * sample count varies), and how many samples lie beyond it. */
  def tail(xs: Seq[Double], p: Double): (Double, Int) = {
    val v = pct(xs, p)
    (v, xs.count(_ > v))
  }
}

/** A named interval in the trace: operations, their phases, and the
  * Spark jobs and stages under them. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** What a run reports: metrics with units, output checks, operation
  * accounting, free-form details and (traced runs) spans. */
final class Result {
  val metrics = LinkedHashMap.empty[String, (Double, String)]
  val failures = ArrayBuffer.empty[String]
  val details = LinkedHashMap.empty[String, String]
  val spans = ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L
  private var nextSpan = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  def detail(name: String, value: Any): Unit = details(name) = Json.value(value)

  def span(parent: Long, op: Long, name: String, start: Long, end: Long): Long =
    synchronized {
      nextSpan += 1
      spans += Span(nextSpan, parent, op, name, start, end)
      nextSpan
    }

  /** Children spans for the Spark jobs in `js` (and their stages)
    * under `parent`. */
  def jobSpans(parent: Long, op: Long, js: Seq[JobRec]): Unit = js.foreach { j =>
    val jid = span(parent, op, s"job ${j.id}", j.start, j.end)
    j.stages.foreach(s => span(jid, op, s"stage ${s.id} (${s.tasks} tasks)", s.start, s.end))
  }

  def toJson(header: String): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    val ds = details.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    "{\"header\":" + header + ",\"correct\":" + failures.isEmpty +
      ",\"attempted\":" + attempted + ",\"failed\":" + failed +
      ",\"failures\":" + failures.map(Json.str).mkString("[", ",", "]") +
      ",\"metrics\":" + ms + ",\"details\":" + ds + "}"
  }

  def writeSpans(path: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
}

/** Wall-clock helpers: epoch ms for spans, nanoTime for latencies. */
object Clock {
  def ms: Long = System.currentTimeMillis()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Live heap after full collections, in MB. Spark releases broadcast
    * and shuffle state from a cleaner thread once a collection has
    * found its driver-side references dead, so the collections repeat,
    * with pauses, until the live heap stops shrinking. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed / 1e6 }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 6) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** Seconds covered by at least one of the epoch-ms windows `ws`. */
  def unionSeconds(ws: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var upTo = Long.MinValue
    ws.sortBy(_._1).foreach { case (a, b) =>
      if (b > upTo) { covered += b - math.max(a, upTo); upTo = b }
    }
    covered / 1e3
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** MB of the files under `root` that are not in `before` (a
    * [[files]] listing): what a write added. */
  def writtenMb(root: String, before: Map[String, Long]): Double =
    files(root).collect { case (f, n) if !before.contains(f) => n }.sum / 1e6

  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val w = Files.walk(Paths.get(root))
    try {
      val b = Map.newBuilder[String, Long]
      w.forEach(f => if (Files.isRegularFile(f)) b += f.toString -> Files.size(f))
      b.result()
    } finally w.close()
  }

}

/** Seconds of stored-index builds per index kind, from the engine's
  * own build log. */
object IndexBuilds {
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    graft.operators.StoredIndexes.buildLog.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }
  /** The builds since `before` (a [[snapshot]]). */
  def since(before: Map[String, Double]): Map[String, Double] =
    snapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.filter(_._2 > 0)

  def report(res: Result, builds: Map[String, Double]): Unit = {
    res.metric("operators.index_builds", builds.size.toDouble, "count")
    res.metric("operators.index_build_s", builds.values.sum, "s")
    builds.foreach { case (k, v) => res.metric(s"operators.index_build_s.$k", v, "s") }
  }
}

/** Seeded 24-hex-digit ids, the ObjectId shape the Boletia tables use. */
object Ids {
  def hex24(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(24)
}
