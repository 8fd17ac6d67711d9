package graft

import java.nio.file.Files
import graft.sources.Tables
import graft.streaming.Flows
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

// top-level so Spark can derive encoders
case class Req(id: String, evento: String, email: String, cantidad: Int, seq: Long)
case class CancelId(id: String)
case class CancelName(nombre: String)
case class NReq(id: String, evento: String, email: String,
    cantidad: Option[Int], seq: Long)

/** Golden end-to-end streaming scenarios S1–S8 (SURVEY §2.2): replay
  * the reference README's transcript through MemoryStream-driven flows
  * and assert final table states. */
class FlowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(doc: String): String =
    "\"" + doc.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def eventoMsg(id: String, nombre: String, cap: Int): String =
    q(s"""{"_id": {"$$oid": "$id"}, "nombre": "$nombre", "capacidad": $cap, "categoria": "Opera", "estado": "A"}""")

  private def reservaMsg(id: String, evento: String, estado: String,
      email: String, cantidad: Int): String =
    q(s"""{"_id": {"$$oid": "$id"}, "evento": "$evento", "estado": "$estado", "email": "$email", "cantidad": $cantidad}""")

  private def freshStore(): (TableStore, Flows) = {
    val root = Files.createTempDirectory("graft-flows").toString
    val store = new TableStore(spark, root)
    store.init("eventos", Tables.eventos(spark).limit(0))
    store.init("inventario", Tables.inventario(spark).limit(0))
    store.init("reservas", Tables.reservas(spark).limit(0))
    (store, new Flows(spark, store))
  }

  private def seededStore(): (TableStore, Flows) = {
    val root = Files.createTempDirectory("graft-flows").toString
    val store = new TableStore(spark, root)
    store.init("eventos", Tables.eventos(spark))
    store.init("inventario", Tables.inventario(spark))
    store.init("reservas", Tables.reservas(spark))
    (store, new Flows(spark, store))
  }

  private def run(qry: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    qry.processAllAvailable(); qry.stop()
  }

  test("S1: event creation clones into inventario with same id, full capacity; duplicate nombre rejected") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(
      eventoMsg("619c1b9190812c00013e29c1", "Opera Boheme", 20),
      eventoMsg("619c1b9190812c00013e29c2", "Opera Rigoletto", 30),
      eventoMsg("ffffffffffffffffffffffff", "Opera Boheme", 99)) // dup nombre
    run(flows.eventCreationFlow(ms.toDF()))
    val evs = store.load("eventos").orderBy("nombre").collect()
    assert(evs.length === 2)
    assert(evs.map(_.getString(1)).toSeq === Seq("Opera Boheme", "Opera Rigoletto"))
    assert(evs.head.getInt(2) === 20) // dup's 99 did not win
    val inv = store.load("inventario").orderBy("nombre").collect()
    assert(inv.length === 2)
    assert(inv.head.getString(0) === "619c1b9190812c00013e29c1") // same _id (O2)
    assert(inv.head.getInt(2) === 20)
  }

  test("S2+S8: admission decrements capacity in order, oversell rejected, unknown event rejected") {
    val (store, flows) = freshStore()
    store.init("inventario", Tables.inventario(spark).limit(0))
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // seed one active event with capacity 20, no reservation echo yet
    store.init("inventario", Seq(
      Tables.Inventario("619c1ca490812c00013e29c3", "Opera Boheme", 20,
        "Opera", "A", null, null, 0)).toDF()
      .withColumn("canres", lit(null).cast("int")))
    val ms = MemoryStream[Req]
    ms.addData(
      Req("619c1dae4b21200001952449", "Opera Boheme", "pepediaz@gmail.com", 3, 1),
      Req("619c1dae4b2120000195244b", "Opera Boheme", "maria@gmail.com", 18, 2), // 17 < 18 → reject
      Req("619c1dae4b2120000195244c", "Opera Boheme", "luis@gmail.com", 17, 3),  // exactly fits
      Req("619c1dae4b2120000195244d", "Nope", "x@gmail.com", 1, 4))              // unknown event
    run(flows.admissionFlow(ms.toDS().toDF()))
    val inv = store.load("inventario").collect().head
    assert(inv.getInt(2) === 0) // 20 - 3 - 17
    assert(inv.getString(5) === "619c1dae4b2120000195244c") // last admitted echo
    assert(inv.getInt(7) === 17)
    val res = store.load("reservas").orderBy("id").collect()
    assert(res.map(_.getString(0)).toSeq ===
      Seq("619c1dae4b21200001952449", "619c1dae4b2120000195244c"))
    assert(res.forall(_.getString(2) == "A"))
    val rech = store.load("rechazos").orderBy("id").collect()
    assert(rech.map(r => (r.getString(0), r.getString(4))).toSeq === Seq(
      ("619c1dae4b2120000195244b", "sin_capacidad"),
      ("619c1dae4b2120000195244d", "no_existe")))
  }

  test("O16: invalid requests (cantidad<=0, malformed id) rejected before the fold") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    store.init("inventario", Seq(
      Tables.Inventario("619c1ca490812c00013e29c3", "Opera Boheme", 20,
        "Opera", "A", null, null, 0)).toDF()
      .withColumn("canres", lit(null).cast("int")))
    val ms = MemoryStream[Req]
    ms.addData(
      Req("619c1dae4b21200001952449", "Opera Boheme", "a@b", 0, 1),  // cantidad<=0
      Req("619c1dae4b2120000195244a", "Opera Boheme", "a@b", -5, 2), // would inflate capacity
      Req("NOT-A-HEX-ID-AT-ALL-0000", "Opera Boheme", "a@b", 3, 3))  // bad id
    run(flows.admissionFlow(ms.toDS().toDF()))
    // capacity untouched — the negative "request" did NOT become a seat return
    assert(store.load("inventario").collect().head.getInt(2) === 20)
    assert(store.load("reservas").count() === 0)
    val motivos = store.load("rechazos").collect().map(_.getString(4)).sorted
    assert(motivos.toSeq === Seq("cantidad_invalida", "cantidad_invalida", "id_invalido"))
  }

  test("S5b: duplicate request ids WITHIN one batch decrement capacity once") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    store.init("inventario", Seq(
      Tables.Inventario("619c1ca490812c00013e29c3", "Opera Boheme", 20,
        "Opera", "A", null, null, 0)).toDF()
      .withColumn("canres", lit(null).cast("int")))
    val ms = MemoryStream[Req]
    ms.addData( // same id twice in one micro-batch
      Req("619c1dae4b21200001952449", "Opera Boheme", "pepediaz@gmail.com", 3, 1),
      Req("619c1dae4b21200001952449", "Opera Boheme", "pepediaz@gmail.com", 3, 2))
    run(flows.admissionFlow(ms.toDS().toDF()))
    assert(store.load("inventario").collect().head.getInt(2) === 17) // not 14
    assert(store.load("reservas").count() === 1)
  }

  test("S5: redelivered admission request is a no-op") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    store.init("inventario", Tables.inventario(spark)
      .filter(col("nombre") === "Opera Boheme")
      .withColumn("capacidad", lit(20))
      .withColumn("idres", lit(null).cast("string"))
      .withColumn("email", lit(null).cast("string"))
      .withColumn("canres", lit(null).cast("int")))
    val ms = MemoryStream[Req]
    val req = Req("619c1dae4b21200001952449", "Opera Boheme", "pepediaz@gmail.com", 3, 1)
    ms.addData(req)
    run(flows.admissionFlow(ms.toDS().toDF()))
    val ms2 = MemoryStream[Req]
    ms2.addData(req) // redelivery in a later batch
    run(flows.admissionFlow(ms2.toDS().toDF()))
    assert(store.load("inventario").collect().head.getInt(2) === 17) // not 14
    assert(store.load("reservas").count() === 1)
  }

  test("S3: customer cancel → estado X, seats returned, canres sentinel") {
    val (store, flows) = seededStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[CancelId]
    ms.addData(CancelId("619c1dae4b21200001952449")) // Boheme active res of 3
    run(flows.cancellationFlow(ms.toDS().toDF()))
    val res = store.load("reservas")
      .filter(col("id") === "619c1dae4b21200001952449").collect().head
    assert(res.getString(2) === "X")
    val inv = store.load("inventario")
      .filter(col("nombre") === "Opera Boheme").collect().head
    assert(inv.getInt(2) === 20) // 17 + 3 returned
    assert(inv.getInt(7) === -1) // sentinel parity
    // cancelling an already-X reservation is a no-op
    val ms2 = MemoryStream[CancelId]
    ms2.addData(CancelId("619c1dae4b21200001952449"))
    run(flows.cancellationFlow(ms2.toDS().toDF()))
    assert(store.load("inventario")
      .filter(col("nombre") === "Opera Boheme").collect().head.getInt(2) === 20)
  }

  test("S4: organizer cancel cascades to active reservations, X history untouched") {
    val (store, flows) = seededStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[CancelName]
    ms.addData(CancelName("Opera Boheme"))
    run(flows.organizerCancelFlow(ms.toDS().toDF()))
    assert(store.load("eventos")
      .filter(col("nombre") === "Opera Boheme").collect().head.getString(4) === "C")
    assert(store.load("inventario")
      .filter(col("nombre") === "Opera Boheme").collect().head.getString(4) === "C")
    val res = store.load("reservas").orderBy("id").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(res("619c1dae4b21200001952449") === "C") // was A → cascaded
    assert(res("619c1dae4b2120000195244a") === "X") // history kept
    assert(res("61a2a4c9a80e2a0001a93f36") === "A") // other event untouched
  }

  test("motivo parity: both admission engines label a cancelled-event request evento_cerrado") {
    // the same requests through the batch-MERGE flow and the keyed-state
    // flow must leave the SAME rechazos rows and the same widened
    // inventario row: Final Futbol is seeded estado='C' (the batch fold
    // derives evento_cerrado from inventario estado, the stateful fold
    // from its state), four requests break the O16 rule, and two are
    // admitted on Opera Boheme, the later one widening its row
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val reqs = Seq(
      NReq("619c1dae4b2120000195ffff", "Final Futbol", "x@y.z", Some(2), 1),
      NReq("619c1dae4b2120000195fff0", "Opera Boheme", "x@y.z", Some(0), 2),
      NReq("619c1dae4b2120000195fff1", "Opera Boheme", "x@y.z", None, 3),
      NReq("NOT-A-HEX-ID-AT-ALL-0000", "Opera Boheme", "x@y.z", Some(1), 4),
      NReq(null, "Opera Boheme", "x@y.z", Some(1), 5),
      NReq("619c1dae4b2120000195fff2", "Opera Boheme", "w@y.z", Some(2), 6),
      NReq("619c1dae4b2120000195fff3", "Opera Boheme", "v@y.z", Some(1), 7))
    def rechazoRows(store: TableStore) =
      store.load("rechazos").collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getString(4)))
        .toSeq.sorted
    def boheme(store: TableStore) =
      store.load("inventario").filter(col("nombre") === "Opera Boheme")
        .select("capacidad", "idres", "email", "canres").collect().toSeq
    val (storeA, flowsA) = seededStore()
    val msA = MemoryStream[NReq]
    msA.addData(reqs)
    run(flowsA.admissionFlow(msA.toDS().toDF()))
    val (storeB, flowsB) = seededStore()
    val msB = MemoryStream[NReq]
    msB.addData(reqs)
    val qB = flowsB.admissionFlowStateful(msB.toDS().toDF())
    run(qB)
    val expected = Seq(
      (None, "Opera Boheme", "id_invalido"),
      (Some("619c1dae4b2120000195fff0"), "Opera Boheme", "cantidad_invalida"),
      (Some("619c1dae4b2120000195fff1"), "Opera Boheme", "cantidad_invalida"),
      (Some("619c1dae4b2120000195ffff"), "Final Futbol", "evento_cerrado"),
      (Some("NOT-A-HEX-ID-AT-ALL-0000"), "Opera Boheme", "id_invalido"))
    assert(rechazoRows(storeA) === expected)
    assert(rechazoRows(storeB) === expected)
    // 17 seeded − 2 − 1; the last admitted request fills the echo columns
    val widened = Seq(Row(14, "619c1dae4b2120000195fff3", "v@y.z", 1))
    assert(boheme(storeA) === widened)
    assert(boheme(storeB) === widened)
  }

  test("malformed CDC payloads persist to dead_letter (no silent drop)") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(
      q("{not json at all"),
      eventoMsg("619c1b9190812c00013e29c1", "Opera Boheme", 20))
    run(flows.eventCreationFlow(ms.toDF()))
    // the good row landed …
    assert(store.load("eventos").count() === 1)
    // … and the bad one is retained verbatim, not dropped
    val dl = store.load("dead_letter").collect()
    assert(dl.length === 1)
    assert(dl.head.getString(0) === "event_creation")
    assert(dl.head.getString(1).contains("not json"))
    // replaying the same batch content does not double-append
    val ms2 = MemoryStream[String]
    ms2.addData(q("{not json at all"))
    run(flows.eventCreationFlow(ms2.toDF()))
    assert(store.load("dead_letter").count() === 1)
  }

  test("S7: one correctly-formatted notification per template") {
    val (store, flows) = freshStore()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(
      reservaMsg("619c1dae4b21200001952449", "Opera Boheme", "A", "pepediaz@gmail.com", 3),
      reservaMsg("619c1dae4b21200001952449", "Opera Boheme", "X", "pepediaz@gmail.com", 3),
      reservaMsg("61a2a4c9a80e2a0001a93f37", "Final Futbol", "C", "luis@gmail.com", 4))
    run(flows.notificationFlow(ms.toDF()))
    val notes = store.load("notificaciones").orderBy("subject", "body").collect()
    assert(notes.length === 3)
    val bodies = notes.map(_.getString(3)).toSet
    assert(bodies.contains(
      "Su reserva 619c1dae4b21200001952449 de 3 boletos para el evento Opera Boheme está confirmada"))
    assert(bodies.contains(
      "Su reserva 619c1dae4b21200001952449 de 3 boletos para el evento Opera Boheme fue cancelada a petición suya"))
    assert(bodies.contains(
      "Su reserva 61a2a4c9a80e2a0001a93f37 de 4 boletos para el evento Final Futbol fue cancelada, el evento fue suspendido por los organizadores"))
    assert(notes.map(_.getString(2)).count(_ == "Confirmación de reserva") === 1)
  }
}
