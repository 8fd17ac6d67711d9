package graft.perfbench

import scala.collection.mutable

import graft.streaming.Flows
import graft.tables.TableStore
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `saga`: the Boletia reservation dataflow. A seeded request stream
  * derived from `lineitem`, against an `inventario` derived from
  * `part`, goes through `Flows.admissionFlow` in fixed-size
  * micro-batches; each batch is appended after the previous one
  * committed. The stream carries redeliveries, requests beyond an
  * event's capacity, requests for closed or unknown events and invalid
  * requests. An independent model of the admission rules gives the
  * expected outcome of every batch. */
object Saga {
  final case class Req(id: String, evento: String, email: String, cantidad: Int,
      seq: Long)

  /** Requests per micro-batch. A batch costs ~4 s of per-trigger work
    * (about 38 Spark jobs) whatever its size; at 30k requests the
    * per-request work in `MergeOps` is about a quarter of the batch (measured
    * medians on 4 cores: 1k requests 4.0 s, 10k 4.5 s, 30k 5.4 s). */
  val BatchSize = 30000
  /** An event's capacity is this many seats per unit of its part's
    * `p_size` (1–50): a run's ~120k requests leave most events with
    * seats and exhaust the smallest ones. */
  val SeatsPerSize = 20
  /** A run commits 3–4 timed batches, too few for any percentile to
    * have 10 samples beyond it: the tail is the slowest batch. */
  val TailPercentile = 100.0
  val RedeliveryRate = 0.05

  /** The request stream: request `i` is a pure function of (seed, i),
    * and batch `k` holds requests k·B … k·B+B−1 plus redeliveries of
    * requests from the two batches before. */
  final class Stream(seed: Long, lineitem: Array[(Long, Long, Double)]) {
    private def rng(salt: Long, i: Long) =
      new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 1000003L + i)

    def request(i: Long): Req = {
      val r = rng(1, i)
      val (order, part, qty) = lineitem((i % lineitem.length).toInt)
      val hex = Ids.hex24(s"req-$seed-$i")
      val u = r.nextDouble()
      val id = if (u < 0.01) "X" + hex.drop(1) else hex
      val cantidad = if (u >= 0.01 && u < 0.025) -(i % 2).toInt else qty.toInt % 6 + 1
      val evento = if (r.nextDouble() < 0.01) s"ev-missing-${i % 50}" else s"ev$part"
      Req(id, evento, s"c${order % 997}@boletia.mx", cantidad, i)
    }

    def batch(k: Int): Seq[Req] = {
      val r = rng(2, k)
      val base = k.toLong * BatchSize
      (0 until BatchSize).flatMap { j =>
        val fresh = request(base + j)
        if (base >= 1 && r.nextDouble() < RedeliveryRate)
          Seq(fresh, request(math.max(0L, base - 2 * BatchSize) +
            r.nextLong(math.min(base, 2L * BatchSize) + j)))
        else Seq(fresh)
      }
    }
  }

  /** The admission rules, applied one batch at a time: invalid requests
    * are rejected; duplicates within a batch collapse to the earliest;
    * a request already admitted is a no-op; per event, requests are
    * decided in (seq, id, email, cantidad) order against the remaining
    * capacity. */
  final class Model(inv: Map[String, (Int, String)]) {
    val capacity = mutable.Map(inv.map { case (k, (c, _)) => k -> c }.toSeq: _*)
    // requests are tracked by seq, of which a request's id is a
    // function: bit sets keep the model's own footprint in the live
    // heap reading small and independent of how many batches ran
    private val admitted = new java.util.BitSet
    private val rejected = mutable.Map.empty[String, java.util.BitSet]
    private def reject(r: Req, why: String): Unit =
      rejected.getOrElseUpdate(why, new java.util.BitSet).set(r.seq.toInt)
    def admittedCount: Int = admitted.cardinality
    def rejectedCount: Int = rejected.values.map(_.cardinality).sum
    var seats = 0L
    private val hexId = "^[0-9a-f]{24}$".r

    def apply(batch: Seq[Req]): Unit = {
      val valid = batch.filter { r =>
        val why =
          if (r.cantidad <= 0) "cantidad_invalida"
          else if (r.id == null || hexId.findFirstIn(r.id).isEmpty) "id_invalido"
          else null
        if (why != null) reject(r, why)
        why == null
      }
      val fresh = valid.groupBy(_.id).values.map(_.minBy(_.seq))
        .filterNot(r => admitted.get(r.seq.toInt))
      fresh.groupBy(_.evento).foreach { case (ev, rs) =>
        val order = rs.toSeq.sortBy(r => (r.seq, r.id, r.email, r.cantidad))
        inv.get(ev) match {
          case None => order.foreach(reject(_, "no_existe"))
          case Some((_, estado)) if estado != "A" =>
            order.foreach(reject(_, "evento_cerrado"))
          case Some(_) => order.foreach { r =>
            if (capacity(ev) >= r.cantidad) {
              capacity(ev) -= r.cantidad
              admitted.set(r.seq.toInt)
              seats += r.cantidad
            } else reject(r, "sin_capacidad")
          }
        }
      }
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val t00 = System.nanoTime()
    val spark = ctx.newSession()
    res.detail("session_s", Clock.secondsSince(t00))
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    val li = spark.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .as[(Long, Long, Double)].collect()
    val parts = spark.read.parquet(s"${ctx.dataDir}/part.parquet")
      .select(col("p_partkey"), col("p_size")).as[(Long, Int)].collect()
    val pick = new java.util.SplittableRandom(ctx.seed)
    val inv = parts.map { case (k, size) =>
      (Ids.hex24(s"inv-${ctx.seed}-$k"), s"ev$k", size * SeatsPerSize,
        if (pick.nextDouble() < 0.05) "C" else "A")
    }
    val invMap = inv.map { case (_, n, c, e) => n -> (c, e) }.toMap
    val stream = new Stream(ctx.seed, li)

    // set-up, repeated: a fresh store, the admission flow started on it
    // and one warm batch through it; the first repetition is also the
    // JVM's warm-up
    var store: TableStore = null
    var storeRoot = ""
    var query: StreamingQuery = null
    var ms: MemoryStream[Req] = null
    val warm = stream.batch(0).take(BatchSize / 10)
    val setups = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to ctx.reps) {
      if (query != null) query.stop()
      val t0 = System.nanoTime()
      storeRoot = s"${ctx.workDir}/saga-store-$r"
      store = new TableStore(spark, storeRoot)
      store.init("inventario", inv.toSeq.toDF("id", "nombre", "capacidad", "estado")
        .select(col("id"), col("nombre"), col("capacidad"), lit("Cat").as("categoria"),
          col("estado"), lit(null).cast("string").as("idres"),
          lit(null).cast("string").as("email"), lit(null).cast("int").as("canres")))
      store.init("reservas", graft.sources.Tables.reservas(spark).limit(0))
      val flows = new Flows(spark, store, trigger = Trigger.ProcessingTime(0))
      ms = MemoryStream[Req](spark, ctx.cores)
      val c0 = System.nanoTime()
      query = flows.admissionFlow(ms.toDS().toDF())
      starts += Clock.secondsSince(c0)
      ms.addData(warm)
      query.processAllAvailable()
      setups += Clock.secondsSince(t0)
    }
    val model = new Model(invMap)
    model(warm)
    res.metric("setup_s", Stats.median(setups.toSeq), "s")
    res.detail("setup_reps_s", setups.toSeq)
    // warm window, untimed: one full-size batch through the last
    // repetition's flow, so the timed batches start on warm code paths
    val tw = System.nanoTime()
    val warmBatch = stream.batch(1)
    ms.addData(warmBatch)
    query.processAllAvailable()
    model(warmBatch)
    res.detail("warm_s", Clock.secondsSince(tw))

    val probe = if (ctx.trace) new Probe(spark) else null
    final case class Batch(k: Int, n: Int, traced: Boolean, start: Long, end: Long,
        seconds: Double, writtenMb: Double)
    val batches = mutable.ArrayBuffer.empty[Batch]
    val gc0 = Clock.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var k = 2
    while (System.nanoTime() < deadline || (ctx.trace && batches.size < 2)) {
      val traced = ctx.trace && k % 2 == 0
      if (probe != null) probe.on = traced
      val b = stream.batch(k)
      val before = if (traced) Clock.files(storeRoot) else Map.empty[String, Long]
      res.attempted += b.size
      val (s0, n0) = (Clock.ms, System.nanoTime())
      try {
        ms.addData(b)
        query.processAllAvailable()
        val secs = Clock.secondsSince(n0)
        val s1 = Clock.ms
        val written = if (traced) Clock.writtenMb(storeRoot, before) else 0.0
        batches += Batch(k, b.size, traced, s0, s1, secs, written)
        model(b)
      } catch {
        case e: Throwable =>
          res.failed += b.size
          res.failures += s"batch $k: ${e.getClass.getSimpleName}: ${e.getMessage}"
          batches += Batch(k, b.size, traced, s0, Clock.ms, Double.PositiveInfinity, 0.0)
      }
      k += 1
    }
    val wall = Clock.secondsSince(t0)
    val gcS = Clock.gcSeconds() - gc0
    if (probe != null) probe.on = false
    res.metric("heap_live_mb", Clock.liveHeapMb(), "MB")

    val ok = batches.filterNot(_.seconds.isInfinite)
    val untraced = batches.filterNot(_.traced).map(_.seconds).toSeq
    val (tailV, beyond) = Stats.tail(untraced, TailPercentile)
    res.metric("ops_per_s", ok.map(_.n).sum / wall, "1/s")
    res.metric("latency_p50_s", Stats.median(untraced), "s")
    res.metric("latency_tail_s", tailV, "s")
    res.detail("latency_tail", Map("percentile" -> TailPercentile, "beyond" -> beyond))
    res.detail("latency_samples", untraced.size)
    res.detail("batches", batches.size)
    res.detail("batch_s", batches.map(_.seconds).toSeq)
    res.detail("timed_wall_s", wall)

    if (probe != null) {
      val traced = batches.filter(_.traced).toSeq
      val jobs = probe.jobs
      val plans = probe.plans
      val progress = probe.progress
      val n = traced.size.max(1).toDouble
      val perBatch = traced.map { b =>
        val js = jobs.filter(j => j.start >= b.start && j.start <= b.end)
        val ps = plans.filter(p => p.start >= b.start && p.start <= b.end)
        val id = res.span(0, b.k, s"batch ${b.k}", b.start, b.end)
        ps.foreach(p => res.span(id, b.k, "plan", p.start, p.end))
        res.jobSpans(id, b.k, js)
        (js, ps.map(p => p.end - p.start).sum / 1e3)
      }
      // micro-batch progress of the traced batches (the stream's
      // batch ids count from 0 at the flow's start, as `k` does)
      val prog = progress.filter(p => traced.exists(_.k == p.batchId))
      def phase(key: String): Double =
        Stats.median(prog.map(_.durations.getOrElse(key, 0L) / 1e3))
      prog.foreach { p =>
        traced.find(_.k == p.batchId).foreach { b =>
          val id = res.span(0, b.k, s"trigger ${p.batchId}", b.start, b.end)
          p.durations.foreach { case (ph, d) => res.span(id, b.k, ph, b.start, b.start + d) }
        }
      }
      res.metric("streaming.trigger_s", phase("triggerExecution"), "s")
      res.metric("streaming.add_batch_s", phase("addBatch"), "s")
      res.metric("streaming.wal_commit_s", phase("walCommit"), "s")
      res.metric("streaming.planning_s", phase("queryPlanning"), "s")
      res.metric("streaming.jobs_per_batch", perBatch.map(_._1.size).sum / n, "count")
      res.metric("tables.store_mb_written_per_batch", traced.map(_.writtenMb).sum / n, "MB")
      res.metric("catalyst.plan_s", perBatch.map(_._2).sum / n, "s")
      res.metric("streaming.start_s", Stats.median(starts.toSeq), "s")
      JobStats.metrics("", perBatch.flatMap(_._1), traced.size, traced.map(_.seconds).sum,
        ctx.cores).foreach { case (k, v, u) => res.metric(k, v, u) }
      res.metric("jvm.gc_s", gcS, "s")
      res.metric("trace.overhead_frac", Stats.median(traced.map(_.seconds)) /
        Stats.median(untraced) - 1.0, "frac")
      probe.detach()
    }
    query.stop()
    check(res, spark, store, model, inv.map { case (_, n, c, _) => n -> c }.toMap)
  }

  /** The committed tables against the model: admitted and rejected
    * counts, and per event, initial capacity = remaining capacity +
    * admitted seats. */
  private def check(res: Result, spark: SparkSession, store: TableStore, model: Model,
      initial: Map[String, Int]): Unit = {
    val reservas = store.load("reservas")
    val nAdm = reservas.count()
    val seats = reservas.agg(coalesce(sum(col("cantidad")), lit(0L))).head().getLong(0)
    val nRej = store.load("rechazos").count()
    res.check(nAdm == model.admittedCount, s"admitted $nAdm, expected ${model.admittedCount}")
    res.check(seats == model.seats, s"admitted seats $seats, expected ${model.seats}")
    res.check(nRej == model.rejectedCount, s"rejected $nRej, expected ${model.rejectedCount}")
    val perEvent = reservas.groupBy(col("evento")).agg(sum(col("cantidad")).as("s"))
    val rows: Array[Row] = store.load("inventario")
      .join(perEvent, col("nombre") === col("evento"), "left")
      .select(col("nombre"), col("capacidad"), coalesce(col("s"), lit(0L)))
      .collect()
    val bad = rows.count { r =>
      val (n, cap, s) = (r.getString(0), r.getInt(1), r.getLong(2))
      initial(n) != cap + s || model.capacity(n) != cap
    }
    res.check(rows.length == initial.size, s"inventario has ${rows.length} events")
    res.check(bad == 0, s"$bad events break initial = remaining + admitted")
    res.detail("admitted", nAdm)
    res.detail("rejected", nRej)
  }
}
