package graft.streaming

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * The reference's asynchronous dataflows (SURVEY.md §2.2 S1–S7,
 * §3.1–3.3) as acyclic Structured Streaming queries over TableStore
 * tables.
 *
 * Design stance (SURVEY §7.1): the reference's cyclic topology
 * (reservas ↔ inventario echo messages, canres=-1 sentinels) exists
 * because its consumers react to their own writes via CDC. Here every
 * flow is a forward pipeline — source stream → foreachBatch MERGE —
 * so echo messages are never generated; scenario tests assert
 * equivalent FINAL STATE, not equal message traffic (S6).
 *
 * Exactly-once: Spark checkpointing replays a failed batch;
 * every MERGE here is idempotent (insert-if-absent on message id,
 * guarded CAS transitions, per-key folds keyed by a monotone seq), so
 * redelivery is a no-op — the engine-grade version of the reference's
 * duplicate-insert tolerance (inventario/main.go:91-93, S5).
 *
 * Each flow is one `foreachBatch` writer per table (single-writer rule
 * for TableStore swaps). In production the sources/sinks are Kafka
 * (`spark.readStream.format("kafka")`) and Delta MERGE; MemoryStream
 * drives the same code in tests.
 */
final class Flows(spark: SparkSession, store: TableStore,
    checkpointRoot: Option[String] = None,
    trigger: Trigger = Trigger.AvailableNow()) {
  import spark.implicits._

  // dead_letter is the one table WRITTEN BY SEVERAL flows (each appends
  // its own rows). TableStore's per-table write lock already serializes
  // concurrent creation/appends; seeding the (empty) table here is
  // belt-and-braces that additionally keeps every runtime write on the
  // cheap append path (no first-batch replace() of an empty table).
  if (!store.exists("dead_letter"))
    store.init("dead_letter",
      Seq.empty[(String, String)].toDF("flow", "raw"))

  private def start(df: DataFrame, name: String)(
      body: DataFrame => Unit): StreamingQuery =
    FlowRunner.start(store, checkpointRoot, trigger, df, name)(body)

  /** O25 deviation, wired: malformed CDC payloads (null id after
    * parsing) land verbatim in the `dead_letter` table instead of the
    * reference's no-ack poison-retry loop (inventario/main.go:70-79).
    * Returns the well-formed rows. Keyed on (flow, raw) so a
    * crash-replayed batch cannot double-append.
    *
    * Callers must pass `parsed` PERSISTED: the bad-row anti-join here
    * and every downstream consumer of the good rows re-scan it, and an
    * unpersisted frame would re-run the topic scan + from_json per
    * action (the r4 double-parse). No eager emptiness probe here —
    * appendUnique skips empty appends internally on a frame it
    * persists itself, so the parse lineage is evaluated exactly once
    * per batch (first clean batch creates an empty dead_letter table,
    * a one-time no-op write). */
  private def routeDeadLetters(flow: String, parsed: DataFrame): DataFrame = {
    val bad = CdcCodec.deadLetter(parsed)
      .select(lit(flow).as("flow"), col("raw"))
    store.appendUnique("dead_letter", bad, Seq("flow", "raw"))
    parsed.filter(col("id").isNotNull)
  }

  // -------------------------------------------------------------------
  // S1 — event creation: eventos CDC post-images upsert into eventos
  // (unique nombre → first write wins) and clone into inventario with
  // the SAME _id and full capacity (the MongoDB sink connector's role,
  // kafka-mongodb-connect.yaml:22-33).
  // -------------------------------------------------------------------
  def eventCreationFlow(rawEventos: DataFrame): StreamingQuery =
    start(rawEventos, "event_creation") { batch =>
      // parse once: the parsed frame feeds the dead-letter probe and
      // two appendUnique sinks — unpersisted it would re-run from_json
      // over the batch per action
      val parsed0 = CdcCodec.parseEvento(batch).persist()
      val parsed = routeDeadLetters("event_creation", parsed0)
      val evCols = store.load("eventos").columns
      // O17: unique-key insert; duplicate nombre rejected (first wins).
      // Insert-only tables take the log-structured append path: only
      // the fresh rows are written, never the whole snapshot.
      store.appendUnique("eventos",
        parsed.select(evCols.map(col).toIndexedSeq: _*), Seq("nombre"),
        tieBreak = Seq(col("id")))
      store.appendUnique("inventario", MergeOps.inventarioClones(parsed),
        Seq("nombre"), tieBreak = Seq(col("id")))
      parsed0.unpersist()
      ()
    }

  // -------------------------------------------------------------------
  // S2/S8 — reservation admission: requests stream → per-key ordered
  // fold with oversell guard (O19) → inventario decrement + reservas
  // insert. `seq` = message offset (admission order within key). The
  // fold reads inventario afresh every trigger, so what the other
  // writers of the table (the REST tier, the seat-return flows, hold
  // expiry) changed between triggers is what it admits against.
  // -------------------------------------------------------------------
  def admissionFlow(requests: DataFrame): StreamingQuery =
    start(requests, "admission") { rawBatch0 =>
      // the source batch feeds two branches (invalid-routing and the
      // fold pipeline); persist so the stream source is scanned once
      val rawBatch = rawBatch0.persist()
      // O16: invalid requests are refused BEFORE the fold
      val validated = rawBatch.withColumn("__invalid",
        MergeOps.requestFault(col("cantidad"), col("id")))
      store.appendUnique("rechazos",
        validated.filter(col("__invalid").isNotNull)
          .select(col("id"), col("evento"), col("email"), col("cantidad"),
            col("__invalid").as("motivo")), Seq("id", "motivo"))
      // redelivery dedup, two layers: within-batch duplicates collapse
      // to the earliest seq (a dup would otherwise decrement capacity
      // twice while inserting one reservation), then anything already
      // registered in reservas is a cross-batch duplicate → no-op
      // (S5; the reference's IsDup-tolerated insert,
      // inventario/main.go:91-93). min_by hash-aggregates with map-side
      // partials — measurably cheaper than a row_number window sort on
      // large batches.
      val batch = validated.filter(col("__invalid").isNull).drop("__invalid")
        .groupBy(col("id"))
        .agg(min_by(struct(col("evento"), col("email"), col("cantidad"),
          col("seq")), col("seq")).as("__r"))
        .select(col("id"), col("__r.evento").as("evento"),
          col("__r.email").as("email"), col("__r.cantidad").as("cantidad"),
          col("__r.seq").as("seq"))
        .join(store.load("reservas").select(col("id")),
          Seq("id"), "left_anti")
        .persist() // consumed by the fold AND the unknown-event check
      val inv = store.load("inventario")
      val (updatedInv, log0) = MergeOps.admitReservations(inv, batch)
      // the admission log feeds three sinks (widening, reservas insert,
      // rejections); without caching, the cogroup fold re-executes per
      // sink — measured 5.8k → 50k req/s on a 600k-request batch
      val log = log0.persist()
      val admitted = log.filter(col("admitted"))
      // the last admitted reservation per key is the latest seq, id as
      // the deterministic tiebreak for equal seq
      store.replace("inventario", MergeOps.widenLastAdmitted(updatedInv,
        admitted, struct(col("seq"), col("id"))))
      // O22: idempotent reservation registration — reservas only ever
      // GROWS on this path, so it appends a delta segment (O(admitted)
      // write) instead of rewriting the registry (O(history))
      val newRows = admitted.select(col("id"), col("evento"),
        lit("A").as("estado"), col("email"), col("cantidad"))
      store.appendUnique("reservas", newRows, Seq("id"))
      // rejections (sold out / closed event / unknown event) —
      // observable outcome of the 404 path (reservas/main.go:166-173).
      // The fold only emits admitted=false; WHICH guard failed is
      // derived from the event's estado in the snapshot the fold read
      // (this flow carries no cancels): evento_cerrado for a closed
      // event, sin_capacidad for a sold-out one.
      val estados = inv.select(col("nombre").as("__n"),
        col("estado").as("__estado"))
      val rejected = log.filter(!col("admitted"))
        .join(estados, col("evento") === col("__n"), "left")
        .select(col("id"), col("evento"), col("email"), col("cantidad"),
          when(col("__estado") =!= "A", "evento_cerrado")
            .otherwise("sin_capacidad").as("motivo"))
        .unionByName(MergeOps.unknownEventRequests(inv, batch)
          .select(col("id"), col("evento"), col("email"), col("cantidad"),
            lit("no_existe").as("motivo")))
      store.appendUnique("rechazos", rejected, Seq("id", "motivo"))
      rawBatch.unpersist()
      batch.unpersist()
      log.unpersist()
    }

  // -------------------------------------------------------------------
  // S3 — customer cancellation: CAS estado A→X on reservas (O20), then
  // seat return +cantidad on inventario (O21). The pre-image
  // (evento, cantidad) is read under the same guard the CAS uses.
  // -------------------------------------------------------------------
  def cancellationFlow(cancelIds: DataFrame): StreamingQuery =
    start(cancelIds, "cancellation") { batch =>
      val res = store.load("reservas")
      // pre-image of rows the CAS will transition (estado='A' guard)
      val pre = res.join(batch.select(col("id").as("__cid")),
        col("id") === col("__cid"), "left_semi")
        .filter(col("estado") === "A")
        .select(col("id"), col("evento"), col("email"), col("cantidad"))
      // O20: guarded state transition
      store.replace("reservas", MergeOps.customerCancel(res, batch))
      // O21: seat return; not-found (event already cancelled) tolerated
      val updatedInv = MergeOps.returnSeats(store.load("inventario"), pre)
      // canres=-1 parity with the reference's sentinel document state
      val sentinel = pre.select(col("evento").as("__e"),
        col("id").as("__idres"), col("email").as("__email"))
      val widened = MergeOps.guardedUpdate(updatedInv,
        sentinel.withColumnRenamed("__e", "nombre"), Seq("nombre"),
        guard = col("estado") === "A",
        sets = Map("idres" -> col("__b___idres"), "email" -> col("__b___email"),
          "canres" -> lit(-1)),
        batchCols = Seq("__idres", "__email"))
      store.replace("inventario", widened)
    }

  // -------------------------------------------------------------------
  // S4 — organizer cancellation: eventos estado→C (O18), propagate to
  // inventario, cascade all ACTIVE reservations → 'C' keeping 'X' rows
  // as history (O23, inventario/main.go:99-103).
  // -------------------------------------------------------------------
  def organizerCancelFlow(cancelNames: DataFrame): StreamingQuery =
    start(cancelNames, "organizer_cancel") { batch =>
      Seq("eventos", "inventario").foreach(t =>
        store.replace(t, MergeOps.cancelEvents(store.load(t), batch)))
      store.replace("reservas",
        MergeOps.cancelReservas(store.load("reservas"), batch))
    }

  // -------------------------------------------------------------------
  // Consumer-side parity (inventario/main.go:56-133): one subscription
  // over BOTH CDC topics {boletia.inventario, boletia.reservas} with
  // content-based routing (O24) and message-type dispatch (O26):
  //   inventario msgs: creation/seat-return echoes dropped (O27),
  //     admitted reservations registered idempotently (O22), organizer
  //     cancels cascaded (O23);
  //   reservas msgs: estado='X' → seat return (O21), others dropped.
  // Input frame: (topic, value) — KafkaIO.readTopics shape.
  // -------------------------------------------------------------------
  def consumerFlow(messages: DataFrame): StreamingQuery =
    start(messages, "consumer") { batch0 =>
      // the source batch is scanned by both topic branches — persist so
      // the stream source reads once; each branch's PARSED frame is
      // persisted BEFORE routeDeadLetters (its dead-letter anti-join is
      // the frame's first action), so from_json runs exactly once per
      // message per batch — the r4 cut probed bad.isEmpty pre-persist
      // and paid one extra topic-scan+parse per batch
      val src = batch0.persist()
      val invParsed = CdcCodec.parseInventario(
        src.filter(col("topic") === "boletia.inventario").select(col("value")))
        .persist()
      // invMsgs feeds two branches (register, cascade probe+apply) and
      // the dead-letter anti-join runs off invParsed inside
      // routeDeadLetters — all narrow filters over the cached parse
      val invMsgs = routeDeadLetters("consumer", invParsed)
        .withColumn("clase",
          CdcCodec.classifyInventario(col("canres"), col("estado")))
      // O22: admitted-reservation messages → register (DetReserva
      // projection: idres→id, nombre→evento, canres→cantidad)
      val newReservas = invMsgs.filter(col("clase") === "insert_reservation")
        .select(col("idres").as("id"), col("nombre").as("evento"),
          lit("A").as("estado"), col("email"), col("canres").as("cantidad"))
      store.appendUnique("reservas", newReservas, Seq("id"))
      // O23: organizer-cancel messages → cascade (estado C propagates)
      val cancelled = invMsgs.filter(col("clase") === "cascade_cancel")
        .select(col("nombre"))
      if (!cancelled.isEmpty) {
        store.replace("reservas",
          MergeOps.cancelReservas(store.load("reservas"), cancelled))
        store.replace("inventario",
          MergeOps.cancelEvents(store.load("inventario"), cancelled))
      }
      // O21: customer-cancel messages (estado='X') → seat return;
      // creation echoes (estado='A') dropped (inventario/main.go:111-113).
      // A reservation is returnable at most ONCE: dedupe within the
      // batch and against the processed-returns table, else a
      // redelivered X message (at-least-once) would inflate capacity.
      if (!store.exists("devoluciones"))
        store.init("devoluciones", Seq.empty[String].toDF("id"))
      val resParsed = CdcCodec.parseReserva(
        src.filter(col("topic") === "boletia.reservas").select(col("value")))
        .persist()
      val returns = routeDeadLetters("consumer", resParsed)
        .filter(col("estado") === "X")
        .dropDuplicates("id")
        .join(store.load("devoluciones"), Seq("id"), "left_anti")
        .select(col("id"), col("evento"), col("cantidad"))
        .persist()
      if (!returns.isEmpty) {
        store.replace("inventario",
          MergeOps.returnSeats(store.load("inventario"), returns))
        store.appendUnique("devoluciones", returns.select(col("id")), Seq("id"))
      }
      returns.unpersist()
      resParsed.unpersist()
      invParsed.unpersist()
      src.unpersist()
      ()
    }

  // -------------------------------------------------------------------
  // S7 — notifications: every reservas post-image formats exactly one
  // email by estado template (O29, notificaciones/main.go:76-96).
  // Append-only sink; in production the ForeachWriter hands rows to
  // SES — here they land in a `notificaciones` table.
  // -------------------------------------------------------------------
  def notificationFlow(rawReservas: DataFrame): StreamingQuery =
    start(rawReservas, "notifications") { batch =>
      val parsed0 = CdcCodec.parseReserva(batch).persist()
      val parsed = routeDeadLetters("notifications", parsed0)
      val formatted = parsed.select(
        col("id"), col("email"),
        when(col("estado") === "A", "Confirmación de reserva")
          .otherwise("Cancelación de reserva").as("subject"),
        concat(
          format_string("Su reserva %s de %d boletos para el evento %s",
            col("id"), col("cantidad"), col("evento")),
          when(col("estado") === "A", lit(" está confirmada"))
            .when(col("estado") === "C",
              lit(" fue cancelada, el evento fue suspendido por los organizadores"))
            .otherwise(lit(" fue cancelada a petición suya"))).as("body"))
      // appendUnique keyed on (id, body): crash-replay of a batch must
      // not double-send; the same reservation legitimately produces
      // different bodies over its lifecycle (A then X)
      store.appendUnique("notificaciones", formatted, Seq("id", "body"))
      parsed0.unpersist()
      ()
    }
}
