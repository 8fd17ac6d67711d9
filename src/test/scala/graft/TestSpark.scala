package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test
  * JVM; suites grab the same session lazily). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSession(cpus = 8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** The specs' reference cosine: double-widened sequential fold,
    * 6-decimal HALF_UP — the driver-side twin of the engine's
    * round(VectorFns.cosine, 6). ONE definition so every suite
    * agrees on what "exact" means. */
  def cos6(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble; i += 1
    }
    BigDecimal(d / math.sqrt(na) / math.sqrt(nb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Exact listener-bus drain for metric-collecting listeners: blocks
    * until every queued event is delivered (LiveListenerBus
    * .waitUntilEmpty, reached via reflection because the member is
    * private[spark]) — counter-stability polling is only a heuristic
    * and can exit early across a mid-drain stall. Falls back to a
    * bounded sleep if the internal API ever moves. */
  def drainListenerBus(s: SparkSession): Unit =
    try {
      val sc = s.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(2000) }

  /** The task count of the widest stage of every Spark job `body`
    * starts, in start order (the listener bus is drained before and
    * after, so the window holds exactly `body`'s jobs when nothing else
    * runs meanwhile). A non-empty `site` keeps only the jobs whose call
    * site names it (a stage's name and details carry the calling
    * frames), so a job another thread runs meanwhile is not counted. */
  def jobTasks(s: SparkSession, site: String = "")(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(st => (st.name + "\n" + st.details)
            .contains(site))) {
          tasks.add(j.stageInfos.map(_.numTasks).max); ()
        }
    }
    drainListenerBus(s)
    s.sparkContext.addSparkListener(l)
    try { body; drainListenerBus(s) }
    finally s.sparkContext.removeSparkListener(l)
    tasks.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
  }
}
