package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job with its stages' aggregated task metrics.
  * Times are epoch milliseconds (the listener events' clock). */
final case class JobRec(id: Int, start: Long, end: Long, callSite: String,
    stages: Seq[StageRec])

final case class StageRec(id: Int, start: Long, end: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** Catalyst's analysis → planning span of one SQL execution. */
final case class PlanRec(start: Long, end: Long)

/** Trigger phase durations (ms) of one streaming micro-batch. */
final case class ProgressRec(batchId: Long, durations: Map[String, Long])

/** Listens to the session from outside the engine: a SparkListener for
  * jobs and stages, a QueryExecutionListener for Catalyst's phases and
  * a StreamingQueryListener for micro-batch progress. Records only
  * while `on` is set, so a traced run can interleave traced and
  * untraced operations and report what tracing costs. */
final class Probe(spark: SparkSession) {
  @volatile var on = false

  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val stageRecs =
    new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val jobsBuf = ArrayBuffer.empty[JobRec]
  private val plansBuf = ArrayBuffer.empty[PlanRec]
  private val progressBuf = ArrayBuffer.empty[ProgressRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val site = e.stageInfos.sortBy(_.stageId).headOption
        .map(s => s.name + "\n" + s.details).getOrElse("")
      jobStarts.put(e.jobId, (e.time, site, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null && s.submissionTime.isDefined)
        stageRecs.put(s.stageId, StageRec(s.stageId, s.submissionTime.get,
          s.completionTime.getOrElse(s.submissionTime.get), s.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStarts.remove(e.jobId)
      if (st != null) {
        val (start, site, stageIds) = st
        // skipped stages never complete: only run stages are kept
        val stages = stageIds.flatMap(id => Option(stageRecs.remove(id)))
        jobsBuf.synchronized { jobsBuf += JobRec(e.jobId, start, e.time, site, stages) }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val p = PlanRec(ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max)
        plansBuf.synchronized { plansBuf += p }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        import scala.jdk.CollectionConverters._
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progressBuf.synchronized { progressBuf += ProgressRec(e.progress.batchId, d) }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Wait until the asynchronous listener bus delivered every event
    * posted so far (the SQL and streaming listener buses ride on it). */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobs: Seq[JobRec] = { drain(); jobsBuf.synchronized(jobsBuf.toSeq) }
  def plans: Seq[PlanRec] = { drain(); plansBuf.synchronized(plansBuf.toSeq) }
  def progress: Seq[ProgressRec] = { drain(); progressBuf.synchronized(progressBuf.toSeq) }

  def detach(): Unit = {
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Aggregates over a set of jobs, reported per operation. */
object JobStats {
  /** Per-layer Spark metrics of `js`, each divided by `ops`. `wallS` is
    * the wall time the jobs ran in and `cores` the executor slots, for
    * the utilization ratio. */
  def metrics(prefix: String, js: Seq[JobRec], ops: Int, wallS: Double,
      cores: Int): Seq[(String, Double, String)] = {
    val st = js.flatMap(_.stages)
    val n = ops.max(1).toDouble
    val runS = st.map(_.runMs).sum / 1e3
    Seq(
      (s"spark.exec_s$prefix", js.map(j => j.end - j.start).sum / 1e3 / n, "s"),
      (s"spark.stages$prefix", st.size / n, "count"),
      (s"spark.tasks$prefix", st.map(_.tasks).sum / n, "count"),
      (s"spark.single_task_stage_frac$prefix",
        if (st.isEmpty) 0.0 else st.count(_.tasks == 1).toDouble / st.size, "frac"),
      (s"spark.executor_run_s$prefix", runS / n, "s"),
      (s"spark.executor_cpu_s$prefix", st.map(_.cpuNs).sum / 1e9 / n, "s"),
      (s"spark.utilization$prefix",
        if (wallS <= 0) 0.0 else runS / (cores * wallS), "frac"),
      (s"spark.shuffle_write_mb$prefix", st.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB"),
      (s"spark.spill_mb$prefix", st.map(_.spillBytes).sum / 1e6 / n, "MB"))
  }
}

/** Host counters from /proc over a run, so a noisy run can be
  * attributed to the machine rather than the program. */
final class HostSample {
  private def cpu(): Array[Long] =
    try {
      val l = scala.io.Source.fromFile("/proc/stat")
      try l.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally l.close()
    } catch { case _: Throwable => Array.empty }
  private val t0 = cpu()
  private val loads = ArrayBuffer.empty[Double]

  def sampleLoad(): Unit = synchronized {
    try {
      val l = scala.io.Source.fromFile("/proc/loadavg")
      try loads += l.getLines().next().split(" ")(0).toDouble
      finally l.close()
    } catch { case _: Throwable => () }
  }
  sampleLoad()

  /** Share of CPU time the hypervisor stole since construction. */
  def stealFrac: Double = {
    val t1 = cpu()
    if (t0.length < 8 || t1.length < 8) 0.0
    else {
      val total = t1.zip(t0).take(8).map { case (a, b) => a - b }.sum
      if (total <= 0) 0.0 else (t1(7) - t0(7)).toDouble / total
    }
  }
  def load1: Double = synchronized { sampleLoad(); loads.sum / loads.size }
}
