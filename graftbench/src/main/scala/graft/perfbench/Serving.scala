package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable

import graft.api.RestService
import graft.tables.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `serving`: closed-loop clients against `RestService` on loopback
  * with a fixed, seeded mix of point reads, BM25 and dense search, and
  * reservation writes (POST and DELETE `/reservas`). Every request
  * kind has an expected status; a deliberate 404 is expected, any other
  * status or an exception is a failure. */
object Serving {
  /** Request kinds: (name, route, expected status). */
  val Kinds: Seq[(String, String, Int)] = Seq(
    ("inventario_get", "inventario_get", 200),
    ("inventario_missing", "inventario_get", 404),
    ("reserva_get", "reserva_get", 200),
    ("reserva_missing", "reserva_get", 404),
    ("search_bm25", "search", 200),
    ("search_dense", "search", 200),
    ("reserva_post", "reserva_post", 200),
    ("reserva_delete", "reserva_delete", 200))
  /** The mix: every client sends this cycle of 20 kinds over and over,
    * starting at its own offset, half a cycle apart (30% inventory
    * reads, 20% reservation reads, 10% deliberate 404s, 30% search, 10%
    * writes, each spread evenly), so a short run's mix does not drift
    * with the seed; the seed picks the events, ids, terms and vectors. */
  val Sequence: Seq[String] = Seq(
    "inventario_get", "search_bm25", "reserva_get", "inventario_get",
    "search_dense", "reserva_get", "inventario_get", "reserva_post",
    "search_bm25", "inventario_missing", "inventario_get", "reserva_get",
    "search_dense", "inventario_get", "reserva_delete", "search_bm25",
    "reserva_get", "inventario_get", "search_dense", "reserva_missing")
  val Routes: Seq[String] = Kinds.map(_._2).distinct
  val Writes = Set("reserva_post", "reserva_delete")
  /** A run makes ~70 reads: p85 is the highest percentile with at
    * least 10 of them beyond it. Both latencies are over all reads:
    * the median falls among the point reads (two thirds of the reads),
    * the tail among the searches. */
  val TailPercentile = 85.0
  /** The RestService handler each route runs in, as it appears in the
    * call site of the Spark jobs it starts. */
  val Handler: Map[String, String] = Map(
    "inventario_get" -> "RestService.getInventario",
    "reserva_get" -> "RestService.getReservaId",
    "search" -> "RestService.routeSearch",
    "reserva_post" -> "RestService.postReserva",
    "reserva_delete" -> "RestService.deleteReservaId")
  val Capacity = 1000000
  val SeedReservas = 5000
  val Terms: Seq[String] = Seq("hash", "join", "filter", "stream", "window",
    "vector", "merge", "spark", "query", "table")

  /** One request. `recorded`: the probe was recording when it started,
    * so the Spark jobs it started were recorded too. */
  final case class Sample(kind: String, start: Long, end: Long, seconds: Double,
      status: Int, traced: Boolean, recorded: Boolean)

  /** The tables a run serves: events from `part`, reservations from
    * `lineitem`. */
  final class Seed(spark: SparkSession, dataDir: String, seed: Long) {
    import spark.implicits._
    val events: Array[(String, String)] = spark.read.parquet(s"$dataDir/part.parquet")
      .select(col("p_partkey")).as[Long].collect()
      .map(k => (Ids.hex24(s"ev-$seed-$k"), s"ev$k"))
    val reservas: Array[(String, String, String, String, Int)] =
      spark.read.parquet(s"$dataDir/lineitem.parquet").limit(SeedReservas)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .as[(Long, Long, Double)].collect().zipWithIndex.map { case ((o, p, q), i) =>
          (Ids.hex24(s"res-$seed-$i"), s"ev$p", "A", s"c${o % 997}@boletia.mx",
            q.toInt % 6 + 1)
        }
    val nVectors: Long = spark.read.parquet(s"$dataDir/embeddings.parquet").count()

    def init(store: TableStore): Unit = {
      store.init("eventos", events.toSeq.map { case (id, n) => (id, n, Capacity, "Cat", "A") }
        .toDF("id", "nombre", "capacidad", "categoria", "estado"))
      store.init("inventario", events.toSeq.map { case (id, n) => (id, n, Capacity, "Cat", "A") }
        .toDF("id", "nombre", "capacidad", "categoria", "estado")
        .select(col("*"), lit(null).cast("string").as("idres"),
          lit(null).cast("string").as("email"), lit(null).cast("int").as("canres")))
      store.init("reservas", reservas.toSeq.toDF("id", "evento", "estado", "email", "cantidad"))
    }
  }

  /** One closed-loop client with its own seeded choice of requests. */
  final class Client(idx: Int, seed: Long, port: Int, data: Seed) {
    private val rng = new java.util.SplittableRandom(seed * 7919L + idx)
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(30)).build()
    private val base = s"http://127.0.0.1:$port"
    /** Reservations this client made and has not cancelled yet. */
    val made = mutable.ArrayBuffer.empty[(String, String, Int)]
    val cancelled = mutable.ArrayBuffer.empty[(String, String, Int)]
    private var nPost = 0

    private val offset = 10 * math.max(idx, 0)
    /** Requests picked so far. */
    var sent = 0
    def pick(): String = {
      val k = Sequence((offset + sent) % Sequence.size)
      sent += 1
      if (k == "reserva_delete" && made.isEmpty) "reserva_post" else k
    }

    private def get(path: String) = HttpRequest.newBuilder(URI.create(base + path)).GET()

    /** Send one request of `kind`; returns the status. */
    def send(kind: String): Int = {
      val req = kind match {
        case "inventario_get" => get(s"/reservas/eventos/${data.events(rng.nextInt(data.events.length))._2}")
        case "inventario_missing" => get(s"/reservas/eventos/ev-missing-${rng.nextInt(1000)}")
        case "reserva_get" => get(s"/reservas/${data.reservas(rng.nextInt(data.reservas.length))._1}")
        case "reserva_missing" => get(s"/reservas/${Ids.hex24(s"none-$seed-${rng.nextLong()}")}")
        case "search_bm25" =>
          val a = Terms(rng.nextInt(Terms.size))
          val b = Terms(rng.nextInt(Terms.size))
          get(s"/search?q=$a+$b&k=10")
        case "search_dense" => get(s"/search?like=${rng.nextLong(data.nVectors)}&k=10")
        case "reserva_post" =>
          val ev = data.events(rng.nextInt(data.events.length))._2
          val n = 1 + rng.nextInt(4)
          nPost += 1
          HttpRequest.newBuilder(URI.create(base + "/reservas")).POST(
            HttpRequest.BodyPublishers.ofString(
              s"""{"Evento":"$ev","Email":"client$idx-$nPost@boletia.mx","Cantidad":$n}"""))
        case "reserva_delete" =>
          get(s"/reservas/${made.head._1}").DELETE()
      }
      val resp = http.send(req.timeout(Duration.ofSeconds(120)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode == 200) kind match {
        case "reserva_post" =>
          val id = "\"_id\"\\s*:\\s*\"([0-9a-f]{24})\"".r
            .findFirstMatchIn(resp.body).map(_.group(1)).getOrElse("")
          val ev = "\"Evento\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(resp.body)
            .map(_.group(1)).getOrElse("")
          val n = "\"Cantidad\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(resp.body)
            .map(_.group(1).toInt).getOrElse(0)
          made += ((id, ev, n))
        case "reserva_delete" => cancelled += made.remove(0)
        case _ => ()
      }
      resp.statusCode
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val t00 = System.nanoTime()
    val spark = ctx.newSession()
    res.detail("session_s", Clock.secondsSince(t00))
    val seed = new Seed(spark, ctx.dataDir, ctx.seed)
    val nClients = math.max(1, math.min(2, ctx.cores))
    val want = Kinds.map(k => k._1 -> k._3).toMap

    // set-up, repeated: a seeded store, the service started on it over
    // a fresh copy of the tables, and one BM25 and one dense search,
    // which wait for the service's own pre-warm of its search indexes.
    // Every repetition builds those indexes anew; the first one is also
    // the JVM's warm-up.
    var svc: RestService = null
    var store: TableStore = null
    var storeRoot = ""
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Map[String, Double]]
    for (r <- 1 to ctx.reps) {
      if (svc != null) svc.stop()
      val dir = ctx.freshDataCopy(s"serving-$r")
      val noBuilds = IndexBuilds.snapshot()
      val t0 = System.nanoTime()
      storeRoot = s"${ctx.workDir}/serving-store-$r"
      store = new TableStore(spark, storeRoot)
      seed.init(store)
      svc = new RestService(spark, store, 0, analyticsDir = Some(dir))
      svc.start()
      val warm = new Client(-r, ctx.seed, svc.boundPort, seed)
      Seq("search_bm25", "search_dense").foreach { k =>
        val got = warm.send(k)
        res.check(got == 200, s"set-up $k: status $got")
      }
      setups += Clock.secondsSince(t0)
      builds += IndexBuilds.since(noBuilds)
    }
    res.metric("setup_s", Stats.median(setups.toSeq), "s")
    res.detail("setup_reps_s", setups.toSeq)
    res.detail("clients", nClients)

    val clients = (0 until nClients).map(i => new Client(i, ctx.seed, svc.boundPort, seed))
    // warm window, untimed, on the service the timed window uses: every
    // client sends half a cycle of its request sequence, so together
    // they send every kind once over and the timed window starts on
    // warm code paths
    val tw = System.nanoTime()
    val warmBad = new java.util.concurrent.atomic.AtomicInteger(0)
    clients.map { c =>
      val t = new Thread(() => (1 to Sequence.size / 2).foreach { _ =>
        val kind = c.pick()
        val ok = try c.send(kind) == want(kind) catch { case _: Throwable => false }
        if (!ok) warmBad.incrementAndGet()
      }, "graftbench-warm")
      t.start(); t
    }.foreach(_.join())
    res.check(warmBad.get == 0, s"warm window: ${warmBad.get} requests failed")
    res.detail("warm_s", Clock.secondsSince(tw))

    val probe = if (ctx.trace) new Probe(spark) else null
    val before = Clock.files(storeRoot)
    val samples = java.util.Collections.synchronizedList(new java.util.ArrayList[Sample]())
    val errors = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val gc0 = Clock.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    // a traced run traces every other cycle of each client's request
    // sequence (20 requests, counted from the start of the timed
    // window), neighbouring clients out of phase, so traced and
    // untraced requests have the same mix of kinds; the probe records
    // while any traced request runs
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = clients.zipWithIndex.map { case (c, i) =>
      val first = c.sent
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val kind = c.pick()
          val tr = ctx.trace && ((c.sent - 1 - first) / Sequence.size + i) % 2 == 0
          if (tr) { inFlight.incrementAndGet(); probe.on = true }
          val rec = probe != null && probe.on
          val (s0, n0) = (Clock.ms, System.nanoTime())
          val status =
            try c.send(kind)
            catch { case e: Throwable => errors.add(s"$kind: ${e.getMessage}"); -1 }
          val secs = Clock.secondsSince(n0)
          if (tr && inFlight.decrementAndGet() == 0) probe.on = false
          samples.add(Sample(kind, s0, Clock.ms, secs, status, tr, rec))
        }
      }, s"graftbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = Clock.secondsSince(t0)
    val gcS = Clock.gcSeconds() - gc0
    if (probe != null) probe.on = false
    res.metric("heap_live_mb", Clock.liveHeapMb(), "MB")

    import scala.jdk.CollectionConverters._
    val all = samples.asScala.toSeq
    all.foreach { s =>
      res.attempted += 1
      if (s.status != want(s.kind)) res.failed += 1
    }
    errors.asScala.take(5).foreach(e => res.failures += s"request failed: $e")
    all.filter(s => s.status != want(s.kind) && s.status != -1).take(5).foreach { s =>
      res.failures += s"${s.kind}: status ${s.status}, expected ${want(s.kind)}"
    }
    // a failed request counts against every latency limit
    def lat(ss: Seq[Sample]) = ss.map(s => if (s.status == want(s.kind)) s.seconds
      else Double.PositiveInfinity)
    val untraced = all.filterNot(_.traced)
    val reads = lat(untraced.filterNot(s => Writes(s.kind)))
    val writes = lat(untraced.filter(s => Writes(s.kind)))
    val (tailV, beyond) = Stats.tail(reads, TailPercentile)
    res.metric("ops_per_s", all.count(s => s.status == want(s.kind)) / wall, "1/s")
    res.metric("latency_p50_s", Stats.median(reads), "s")
    res.metric("latency_tail_s", tailV, "s")
    res.metric("api.write.p50_s", Stats.median(writes), "s")
    res.detail("latency_tail", Map("percentile" -> TailPercentile, "beyond" -> beyond))
    res.detail("read_samples", reads.size)
    res.detail("write_samples", writes.size)
    res.detail("timed_wall_s", wall)
    res.detail("kind_counts", all.groupBy(_.kind).map { case (k, v) => k -> v.size })
    res.detail("kind_p50_s", untraced.groupBy(_.kind).map { case (k, v) =>
      k -> Stats.median(v.map(_.seconds)) })
    val nWrites = all.count(s => Writes(s.kind) && s.status == 200)
    val writtenMb = Clock.writtenMb(storeRoot, before)

    if (probe != null) {
      val traced = all.filter(_.traced)
      val jobs = probe.jobs
      val plans = probe.plans
      // The probe records every job that starts while a traced request
      // runs, whichever request started it, so job counts and times are
      // divided by the requests that started while it recorded.
      val recorded = all.filter(_.recorded)
      val ops = traced.zipWithIndex.map { case (s, i) => (s, i + 1L) }
      val routeOf = Kinds.map(k => k._1 -> k._2).toMap
      Routes.foreach { route =>
        val rs = ops.collect { case (s, op) if routeOf(s.kind) == route => s -> op }
        val js = jobs.filter(_.callSite.contains(Handler(route)))
        // request → route → the route's jobs that start inside it
        rs.foreach { case (s, op) =>
          val req = res.span(0, op, s"request ${s.kind}", s.start, s.end)
          res.jobSpans(res.span(req, op, route, s.start, s.end), op,
            js.filter(j => j.start >= s.start && j.start <= s.end))
        }
        val rec = recorded.filter(s => routeOf(s.kind) == route)
        res.metric(s"api.$route.p50_s", Stats.median(rs.map(_._1.seconds)), "s")
        res.metric(s"api.$route.jobs_per_request", js.size / rec.size.max(1).toDouble, "count")
        res.metric(s"api.$route.spark_share",
          if (rec.isEmpty) 0.0 else js.map(j => j.end - j.start).sum / 1e3 /
            rec.map(_.seconds).sum, "frac")
      }
      val n = recorded.size.max(1)
      res.metric("catalyst.plan_s", plans.map(p => p.end - p.start).sum / 1e3 / n, "s")
      res.metric("sources.schema_jobs",
        jobs.count(_.callSite.contains("graft.sources.")) / n.toDouble, "count")
      // the search indexes, built by every set-up repetition: the
      // median repetition's seconds per index kind
      IndexBuilds.report(res, builds.flatMap(_.keys).distinct.map { k =>
        k -> Stats.median(builds.map(_.getOrElse(k, 0.0)).toSeq)
      }.toMap)
      JobStats.metrics("", jobs, n, Clock.unionSeconds(traced.map(s => (s.start, s.end))),
        ctx.cores).foreach { case (k, v, u) => res.metric(k, v, u) }
      res.metric("jvm.gc_s", gcS, "s")
      val tReads = traced.filterNot(s => Writes(s.kind)).map(_.seconds)
      res.metric("trace.overhead_frac", Stats.median(tReads) /
        Stats.median(reads) - 1.0, "frac")
      probe.detach()
    }
    res.metric("tables.store_mb_per_write", writtenMb / nWrites.max(1), "MB")
    svc.stop()
    check(res, store, seed, clients.flatMap(c => c.made ++ c.cancelled),
      clients.flatMap(_.cancelled).map(_._1).toSet)
  }

  /** After the run: every reservation a client made is stored, the
    * cancelled ones with estado X, and per event, initial capacity =
    * remaining capacity + seats reserved through the API. */
  private def check(res: Result, store: TableStore, seed: Seed,
      made: Seq[(String, String, Int)], cancelled: Set[String]): Unit = {
    val ids = made.map(_._1).toSet
    val rows = store.load("reservas").filter(col("id").isin(ids.toSeq: _*))
      .select("id", "estado").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    res.check(rows.size == ids.size, s"${ids.size - rows.size} reservations missing")
    val wrong = rows.count { case (id, e) => e != (if (cancelled(id)) "X" else "A") }
    res.check(wrong == 0, s"$wrong reservations with the wrong estado")
    val seats = made.groupBy(_._2).map { case (ev, ms) => ev -> ms.map(_._3).sum }
    val inv = store.load("inventario").select("nombre", "capacidad").collect()
      .map(r => r.getString(0) -> r.getInt(1))
    val bad = inv.count { case (n, cap) => cap + seats.getOrElse(n, 0) != Capacity }
    res.check(inv.length == seed.events.length, s"inventario has ${inv.length} events")
    res.check(bad == 0, s"$bad events break initial = remaining + reserved")
    res.detail("reservations_made", made.size)
  }
}
