package graft.streaming

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

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
    trigger: Trigger = Trigger.AvailableNow(),
    dedupHorizon: Long = Flows.DefaultDedupHorizon) {
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
  // insert. `seq` = message offset (admission order within key).
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
      // derived from the event's estado (static within a batch — this
      // flow carries no cancels), so both admission engines label a
      // closed-event rejection evento_cerrado and a sold-out one
      // sin_capacidad.
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
  // S2/S5/S8, keyed-state variant (ROADMAP §7): admission decisions
  // run against per-key state in the Spark state store
  // (StatefulAdmission.admit) instead of reloading the inventario
  // snapshot per batch — O(batch) per trigger, incremental (changelog)
  // state checkpointing, and the tables become downstream
  // materializations of the emitted log. Same outcomes as
  // admissionFlow; StatefulAdmissionSpec replays the S2/S5b/S5/S8/O16
  // scenarios against it.
  // -------------------------------------------------------------------
  def admissionFlowStateful(requests: DataFrame): StreamingQuery = {
    // the input may be the plain request stream, or the UNIONED
    // lifecycle stream with a `kind` column ("create" | "req" | "ret" |
    // "cancel") so (capacidad, estado) has a single owner — see
    // StatefulAdmission
    val withKind =
      if (requests.columns.contains("kind")) requests
      else requests.withColumn("kind", lit("req"))
    val validated = withKind.select(
      col("id"),
      coalesce(col("evento"), lit("")).as("evento"),
      col("email"),
      coalesce(col("cantidad").cast("int"), lit(0)).as("cantidad"),
      coalesce(col("seq").cast("long"), lit(0L)).as("seq"),
      when(col("kind") =!= "req", lit(null).cast("string"))
        .otherwise(MergeOps.requestFault(col("cantidad"), col("id")))
        .as("motivo"),
      coalesce(col("kind"), lit("req")).as("kind")).as[SReq]
    // state seeded once, at query start: (capacidad, estado) from the
    // inventario snapshot, and the dedup maps from the DURABLE
    // registries — `seen` from reservas, `returned` from devoluciones
    // (joined through reservas for the event key). These are the same
    // anti-joins the batch admissionFlow performs per batch; seeding
    // them here makes a fresh-checkpoint restart safe: a redelivered
    // request/return whose effect is already in the inventario snapshot
    // is recognized as a duplicate instead of double-applied. Registry
    // entries carry the SeedSeq sentinel; StatefulAdmission.admit
    // re-anchors them at the key's first offset of THIS run, so they
    // age out of state only after the run's own traffic spans the
    // dedup horizon (the registry stays the durable record; the next
    // restart reseeds). Both registries may post-date query start
    // (events can be born via the `create` kind), so both loads are
    // guarded.
    val reg =
      if (store.exists("reservas"))
        store.load("reservas").select(col("evento"), col("id"))
      else Seq.empty[(String, String)].toDF("evento", "id")
    val seenByKey = reg.groupBy(col("evento").as("nombre"))
      .agg(collect_list(col("id")).as("__seen"))
    val devol =
      if (store.exists("devoluciones")) store.load("devoluciones")
      else Seq.empty[String].toDF("id")
    val retByKey = devol.join(reg, Seq("id"))
      .groupBy(col("evento").as("nombre"))
      .agg(collect_list(col("id")).as("__ret"))
    val init = store.load("inventario")
      .select(col("nombre"), col("capacidad").cast("long").as("capacidad"),
        col("estado"))
      .join(seenByKey, Seq("nombre"), "left")
      .join(retByKey, Seq("nombre"), "left")
      .select(col("nombre"), col("capacidad"), col("estado"),
        coalesce(col("__seen"), array().cast("array<string>")).as("__seen"),
        coalesce(col("__ret"), array().cast("array<string>")).as("__ret"))
      .as[(String, Long, String, Seq[String], Seq[String])]
      .groupByKey(_._1)
      .mapValues(t => InvState(t._2, t._3,
        t._4.iterator.map(_ -> StatefulAdmission.SeedSeq).toMap,
        t._5.iterator.map(_ -> StatefulAdmission.SeedSeq).toMap))
    // local copy so the state function captures a Long, not `this`
    // (Flows is not serializable and must not ride to executors)
    val horizon = dedupHorizon
    val log = validated.groupByKey(_.evento)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        init)(StatefulAdmission.admit(horizon) _)
    start(log.toDF(), "admission_stateful") { batch0 =>
      val log = batch0.persist()
      val changes = log.filter(col("kind") =!= "reject")
      if (!changes.isEmpty) {
        // creates materialize FIRST (appendUnique on nombre — first
        // wins, S1 parity; categoria is not carried on the lifecycle
        // stream), so the lastState merge below sees the new keys and
        // same-batch admissions land on them
        val created = changes.filter(col("kind") === "create")
          .select(col("id"), col("evento").as("nombre"),
            col("cantidad").as("capacidad"),
            lit(null).cast("string").as("categoria"),
            lit("A").as("estado"))
        if (!created.isEmpty) {
          store.appendUnique("eventos", created, Seq("nombre"),
            tieBreak = Seq(col("id")))
          store.appendUnique("inventario", MergeOps.inventarioClones(created),
            Seq("nombre"), tieBreak = Seq(col("id")))
        }
        val inv0 = store.load("inventario")
        val capType = inv0.schema("capacidad").dataType
        // the LAST state-changing event per key carries the key's
        // final (capacidad, estado) — `ord` IS the fold order (the
        // operator emits it), so no re-derivation of comparator
        // tiebreaks here. One guarded MERGE applies both, touching
        // only keys present in the batch.
        val lastState = changes.groupBy(col("evento").as("nombre"))
          .agg(max_by(struct(col("capacidad"), col("estado")),
            col("ord")).as("__s"))
          .select(col("nombre"), col("__s.capacidad").as("__cap"),
            col("__s.estado").as("__estado"))
        val capped = MergeOps.guardedUpdate(inv0, lastState,
          Seq("nombre"), guard = lit(true),
          sets = Map(
            "capacidad" -> col("__b___cap").cast(capType),
            "estado" -> col("__b___estado")),
          batchCols = Seq("__cap", "__estado"))
        // `ord` is the fold order, so the last admission is its max
        val admitted = log.filter(col("kind") === "admit")
        store.replace("inventario",
          MergeOps.widenLastAdmitted(capped, admitted, col("ord")))
        store.appendUnique("reservas", admitted.select(col("id"),
          col("evento"), lit("A").as("estado"), col("email"),
          col("cantidad")), Seq("id"))
        // applied seat returns are durably recorded: devoluciones is
        // the registry the restart reseed reads `returned` from (and
        // the one the batch consumerFlow anti-joins against)
        val returnedIds = changes.filter(col("kind") === "return")
          .select(col("id"))
        if (!returnedIds.isEmpty) {
          if (!store.exists("devoluciones"))
            store.init("devoluciones", Seq.empty[String].toDF("id"))
          store.appendUnique("devoluciones", returnedIds, Seq("id"))
        }
        // O18/O23 organizer cancels: eventos estado + reservas cascade
        // (active rows only; X history untouched) — table-side
        // materialization of the state transition
        val cancelled = changes.filter(col("kind") === "cancel")
          .select(col("evento").as("nombre")).distinct()
        if (!cancelled.isEmpty) {
          store.replace("eventos",
            MergeOps.cancelEvents(store.load("eventos"), cancelled))
          store.replace("reservas",
            MergeOps.cancelReservas(store.load("reservas"), cancelled))
        }
      }
      store.appendUnique("rechazos", log.filter(col("motivo").isNotNull)
        .select(col("id"), col("evento"), col("email"), col("cantidad"),
          col("motivo")), Seq("id", "motivo"))
      log.unpersist()
      ()
    }
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

object Flows {
  /** Default dedup-state TTL for the keyed-state admission variant, in
    * stream-offset (`seq`) units: per key, admitted/returned ids older
    * than this many offsets behind the key's high-water mark are
    * evicted from the state store. The reservas/devoluciones registries
    * remain the durable dedup record — every (re)start reseeds from
    * them — so the horizon only has to cover duplicate lag WITHIN one
    * uninterrupted run. */
  val DefaultDedupHorizon: Long = 1L << 20
}
