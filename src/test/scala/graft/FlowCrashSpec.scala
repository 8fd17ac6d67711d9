package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import graft.api.RestService
import graft.operators.BoletiaQueries
import graft.sources.Tables
import graft.streaming.{Flows, HoldExpiry}
import graft.streaming.HoldExpiry.HoldEvent
import graft.tables.TableStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A write flow whose batch crashes part-way, then replays from its
  * checkpoint, applies the batch exactly once; and a REST write that
  * lands inside a flow's read-to-publish window is not lost. The crash
  * is a manifest write that fails: the path of the NEXT manifest of
  * the batch's second written table is made a directory. */
class FlowCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(doc: String): String =
    "\"" + doc.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The seeded Boletia store (Opera Boheme: capacidad 17 and one
    * active 3-seat reservation, so its B2 cap0 is 20) and a checkpoint
    * root outside it. */
  private def seeded(): (String, TableStore, String) = {
    val root = Files.createTempDirectory("graft-crash").toString
    val store = new TableStore(spark, root)
    store.init("eventos", Tables.eventos(spark))
    store.init("inventario", Tables.inventario(spark))
    store.init("reservas", Tables.reservas(spark))
    (root, store, Files.createTempDirectory("graft-crash-ckpt").toString)
  }

  private def blockNextManifest(root: String, store: TableStore,
      table: String): Path =
    Files.createDirectories(
      Paths.get(root, table, s"m${store.version(table) + 1}"))

  /** Run `start()` once with `table`'s next manifest blocked (the
    * batch must fail), then once more after unblocking it (the batch
    * replays from the checkpoint). */
  private def crashThenReplay(root: String, store: TableStore,
      table: String)(start: () => StreamingQuery): Unit = {
    val block = blockNextManifest(root, store, table)
    val crashed = start()
    try intercept[StreamingQueryException](crashed.processAllAvailable())
    finally crashed.stop()
    Files.delete(block)
    val replay = start()
    try replay.processAllAvailable() finally replay.stop()
  }

  private def b2(store: TableStore): Map[String, Long] =
    BoletiaQueries.capacityInvariant(store.load("inventario"),
      store.load("reservas")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def capacidad(store: TableStore, nombre: String): Int =
    store.load("inventario").filter(col("nombre") === nombre)
      .select("capacidad").collect().head.getInt(0)

  test("admission replay: a batch that crashed before reservas decrements capacidad once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val (root, store, ckpt) = seeded()
    val before = b2(store)
    val flows = new Flows(spark, store, checkpointRoot = Some(ckpt))
    val ms = MemoryStream[Req]
    ms.addData(
      Req("619c1dae4b2120000195b001", "Opera Boheme", "a@x.com", 2, 1),
      Req("619c1dae4b2120000195b002", "Opera Boheme", "b@x.com", 3, 2))
    crashThenReplay(root, store, "reservas")(
      () => flows.admissionFlow(ms.toDS().toDF()))
    assert(capacidad(store, "Opera Boheme") === 12) // 17 − 2 − 3
    assert(b2(store) === before)
    assert(store.lastCommitted("admission") === 0L)
  }

  test("cancellation replay: a batch that crashed before inventario returns the seats once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val (root, store, ckpt) = seeded()
    val before = b2(store)
    val flows = new Flows(spark, store, checkpointRoot = Some(ckpt))
    val ms = MemoryStream[CancelId]
    ms.addData(CancelId("619c1dae4b21200001952449")) // Boheme, 3 seats
    crashThenReplay(root, store, "inventario")(
      () => flows.cancellationFlow(ms.toDS().toDF()))
    assert(capacidad(store, "Opera Boheme") === 20) // 17 + 3
    assert(store.load("reservas").filter(col("id") === "619c1dae4b21200001952449")
      .select("estado").collect().head.getString(0) === "X")
    assert(b2(store) === before)
  }

  test("consumer replay: a batch that crashed before devoluciones returns the seats once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val (root, store, ckpt) = seeded()
    store.init("devoluciones", Seq.empty[String].toDF("id"))
    val flows = new Flows(spark, store, checkpointRoot = Some(ckpt))
    val ms = MemoryStream[Msg]
    ms.addData(Msg("boletia.reservas",
      q("""{"_id": {"$oid": "619c1dae4b21200001952449"}, "evento": "Opera Boheme", "estado": "X", "email": "pepediaz@gmail.com", "cantidad": 3}""")))
    crashThenReplay(root, store, "devoluciones")(
      () => flows.consumerFlow(ms.toDS().toDF()))
    assert(capacidad(store, "Opera Boheme") === 20) // 17 + 3, not 23
    assert(store.load("devoluciones").collect().map(_.getString(0)).toSeq ===
      Seq("619c1dae4b21200001952449"))
  }

  test("hold-expiry replay: a batch that crashed before expired_holds returns the seats once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = Files.createTempDirectory("graft-crash").toString
      val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
      val store = new TableStore(spark, root)
      store.init("inventario",
        Seq(("Opera", 96, "Cultural", "A"), ("Rock", 200, "Musica", "A"))
          .toDF("nombre", "capacidad", "categoria", "estado"))
      def ts(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
      val ms = MemoryStream[HoldEvent]
      def start() = HoldExpiry.flow(store, ms.toDS(), timeoutMs = 60000L,
        checkpointRoot = Some(ckpt))
      ms.addData(
        HoldEvent("r1", "Opera", 5, "hold", ts("10:00:00")),
        HoldEvent("r3", "Rock", 2, "hold", ts("10:00:10")))
      val first = start()
      try first.processAllAvailable() finally first.stop()
      // the heartbeat's watermark expires r1 and r3 in one batch
      ms.addData(HoldEvent("r9", "Rock", 1, "hold", ts("10:30:00")))
      crashThenReplay(root, store, "expired_holds")(() => start())
      assert(capacidad(store, "Opera") === 101) // 96 + 5, not 106
      assert(capacidad(store, "Rock") === 202) // 200 + 2, not 204
      assert(store.load("expired_holds").select("id").collect()
        .map(_.getString(0)).sorted.toSeq === Seq("r1", "r3"))
    } finally prevProvider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("lost update: POST /reservas inside the admission flow's read-to-publish window is kept") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val (_, store, _) = seeded()
    val before = b2(store)
    val restId = "aaaaaaaaaaaaaaaaaaaaaa11"
    val svc = new RestService(spark, store, idGen = () => restId)
    svc.start()
    FlowCrashSpec.port = svc.boundPort
    FlowCrashSpec.posted.set(false)
    // the flow has bound inventario when its write job first evaluates
    // a request, and that evaluation sends the REST request
    val hook = udf { (n: Int) => FlowCrashSpec.postOnce(); n }
      .asNondeterministic()
    val ms = MemoryStream[Req]
    ms.addData(Req("619c1dae4b2120000195c001", "Opera Boheme", "f@x.com", 2, 1))
    val qry = new Flows(spark, store).admissionFlow(
      ms.toDS().toDF().withColumn("cantidad", hook(col("cantidad"))))
    try qry.processAllAvailable() finally { qry.stop(); svc.stop() }
    assert(FlowCrashSpec.status === 200)
    assert(capacidad(store, "Opera Boheme") === 11) // 17 − 2 (flow) − 4 (REST)
    assert(b2(store) === before)
    val estados = store.load("reservas").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(estados.get(restId) === Some("A"))
    assert(estados.get("619c1dae4b2120000195c001") === Some("A"))
  }

  test("contention: admission triggers under a steady POST /reservas loop all commit and keep every write") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val (root, seededStore, _) = seeded()
    // room for every request of the run on one event
    seededStore.replace("inventario", seededStore.load("inventario")
      .withColumn("capacidad", when(col("nombre") === "Opera Boheme", 100000)
        .otherwise(col("capacidad"))))
    // the REST tier and the flow write through their own instances, so
    // each instance's commit counts are one writer's
    val (flowStore, restStore) =
      (new TableStore(spark, root), new TableStore(spark, root))
    val before = b2(flowStore)
    val ids = new java.util.concurrent.atomic.AtomicLong
    val svc = new RestService(spark, restStore,
      idGen = () => f"bbbbbbbbbbbbbbbb${ids.incrementAndGet()}%08d")
    svc.start()
    @volatile var done = false
    val statuses = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val loop = new Thread(() => while (!done) {
      val t0 = System.nanoTime()
      val conn = new URI(s"http://127.0.0.1:${svc.boundPort}/reservas").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setReadTimeout(120000)
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"Evento": "Opera Boheme", "Email": "r@x.com", "Cantidad": 1}"""
          .getBytes(UTF_8))
      statuses.add(conn.getResponseCode)
      latencies.add((System.nanoTime() - t0) / 1000000)
    })
    val ms = MemoryStream[Req]
    val qry = new Flows(spark, flowStore,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .admissionFlow(ms.toDS().toDF())
    val triggers = 4
    val perTrigger = 5
    loop.start()
    try (0 until triggers).foreach { t =>
      ms.addData((0 until perTrigger).map { i =>
        val n = t * perTrigger + i
        Req(f"619c1dae4b2120000195d$n%03d", "Opera Boheme", "f@x.com", 1, n)
      })
      qry.processAllAvailable()
    } finally { done = true; loop.join(); qry.stop(); svc.stop() }
    assert(statuses.asScala.toSet === Set(200))
    val posted = ids.get
    val flowCounts = flowStore.commitCounts
    val restCounts = restStore.commitCounts
    // what a REST write waits while a flow batch re-runs under the
    // root lock: reported, not asserted
    val waits = latencies.asScala.toVector.sorted
    info(s"$posted POST /reservas; flow commits $flowCounts, " +
      s"REST commits $restCounts; POST latency p50 " +
      s"${waits(waits.length / 2)} ms, max ${waits.last} ms")
    assert(capacidad(flowStore, "Opera Boheme") ===
      100000 - triggers * perTrigger - posted)
    assert(b2(flowStore) === before)
    val admitted = flowStore.load("reservas").filter(col("estado") === "A")
      .select("id").as[String].collect().toSet
    assert((0 until triggers * perTrigger)
      .forall(n => admitted(f"619c1dae4b2120000195d$n%03d")))
    assert((1L to posted).forall(n => admitted(f"bbbbbbbbbbbbbbbb$n%08d")))
  }
}

/** The REST side of the lost-update case: Spark tasks call it from the
  * executor threads of this JVM. */
object FlowCrashSpec {
  @volatile var port = 0
  @volatile var status = 0
  val posted = new java.util.concurrent.atomic.AtomicBoolean(false)

  def postOnce(): Unit =
    if (posted.compareAndSet(false, true)) {
      val conn = new URI(s"http://127.0.0.1:$port/reservas").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setReadTimeout(120000)
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"Evento": "Opera Boheme", "Email": "r@x.com", "Cantidad": 4}"""
          .getBytes(UTF_8))
      status = conn.getResponseCode
    }
}
