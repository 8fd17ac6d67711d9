package graft.streaming

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues,
  Trigger}

/**
 * Reservation-HOLD expiry — the timeout leg the reference's seat saga
 * lacks (reservas holds seats on admission, `contratos.go:7-37`, and
 * only an explicit cancel ever returns them; a real booking system
 * expires unconfirmed holds): every hold gets an EVENT-TIME TIMER at
 * ts + timeout; a confirm/cancel before the deadline settles the hold
 * (state cleared, timer deleted); the watermark passing the deadline
 * fires the timer and emits an expiry, which the flow turns into a
 * once-only seat return.
 *
 * Built on Spark 4's `transformWithState` arbitrary-state API
 * (StatefulProcessor + ValueState + registerTimer) rather than the
 * older GroupState API: timers are first-class (no manual deadline
 * bookkeeping scanned per batch), the hold state is a typed
 * ValueState in RocksDB, and expiry work
 * happens in `handleExpiredTimer` — proportional to FIRING timers,
 * not to open holds. That is the 100 TB shape: a billion open holds
 * cost nothing per batch until their deadlines arrive.
 *
 * Delivery semantics match the reference's consumers (at-least-once +
 * idempotence, `inventario/main.go:91-93`):
 *  - a redelivered hold re-arms the same ts-derived deadline (no-op);
 *  - EVERY settle leaves a tombstone (state sentinel, reclaimed by an
 *    event-time cleanup timer — TTL state is processing-time-only and
 *    unavailable in EventTime mode), so a hold arriving AFTER its
 *    settle — out-of-order within the watermark delay, or a
 *    redelivered duplicate — is dropped instead of re-arming a
 *    settled reservation;
 *  - a hold and its settle carrying the SAME timestamp apply
 *    hold-first (explicit kind-priority tiebreak — a stable sort on
 *    ts alone would keep nondeterministic arrival order);
 *  - unknown kinds are DROPPED, never treated as settles (a typo'd
 *    kind must not silently clear a live hold);
 *  - the downstream seat return applies the inventario effect BEFORE
 *    recording the dedup key (consumerFlow's order): a crash between
 *    the two replays at-least-once rather than losing the return.
 */
object HoldExpiry {

  /** kind ∈ hold | confirm | cancel; ts is event time. */
  final case class HoldEvent(id: String, evento: String, cantidad: Int,
      kind: String, ts: java.sql.Timestamp)

  final case class Expired(id: String, evento: String, cantidad: Int)

  // public: the state encoder's generated projection code accesses
  // the fields from Janino-compiled classes, which cannot see a
  // private member. deadline == SettledSentinel marks a tombstone.
  final case class Hold(evento: String, cantidad: Int, deadline: Long)

  private val SettledSentinel = -1L

  final class Processor(timeoutMs: Long, tombstoneWindowMs: Long)
      extends StatefulProcessor[String, HoldEvent, Expired] {
    @transient private var hold: org.apache.spark.sql.streaming.ValueState[Hold] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hold = getHandle.getValueState[Hold]("hold",
        Encoders.product[Hold], TTLConfig.NONE)

    // same-ts tiebreak: the hold applies before its settle
    private def rank(kind: String): Int = kind match {
      case "hold" => 0
      case "confirm" | "cancel" => 1
      case _ => 2
    }

    private def tombstone(settleTs: Long): Unit = {
      hold.update(Hold("", 0, SettledSentinel))
      // reclaimed by an event-time cleanup timer: a late/redelivered
      // hold can only trail its settle by the watermark delay, far
      // inside the tombstone window
      getHandle.registerTimer(settleTs + tombstoneWindowMs)
    }

    override def handleInputRows(key: String, rows: Iterator[HoldEvent],
        timerValues: TimerValues): Iterator[Expired] = {
      // a micro-batch can carry a hold AND its settle; apply in
      // (event-time, kind) order so the outcome does not depend on
      // partition/arrival order even at equal timestamps
      rows.toSeq.sortBy(e => (e.ts.getTime, rank(e.kind))).foreach { e =>
        e.kind match {
          case "hold" =>
            val prev = Option(hold.get())
            if (!prev.exists(_.deadline == SettledSentinel)) {
              // redelivery re-arms the SAME deadline (idempotent): the
              // deadline derives from the event's own ts, not arrival
              val deadline = e.ts.getTime + timeoutMs
              if (!prev.exists(_.deadline == deadline)) {
                prev.foreach(p => getHandle.deleteTimer(p.deadline))
                hold.update(Hold(e.evento, e.cantidad, deadline))
                getHandle.registerTimer(deadline)
              }
            } // else: the reservation is settled — drop the late hold
          case "confirm" | "cancel" =>
            Option(hold.get()) match {
              case Some(p) if p.deadline != SettledSentinel =>
                getHandle.deleteTimer(p.deadline)
                tombstone(e.ts.getTime)
              case Some(_) => // already tombstoned: no-op
              case None =>
                // settle outran its hold (or arrived after expiry):
                // tombstone so a late hold cannot re-arm
                tombstone(e.ts.getTime)
            }
          case _ => // unknown kind: drop — NEVER settle on malformed
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Expired] =
      Option(hold.get()) match {
        case Some(h) if h.deadline == SettledSentinel =>
          hold.clear() // tombstone window over — reclaim the state
          Iterator.empty
        case Some(h) =>
          hold.clear()
          Iterator.single(Expired(key, h.evento, h.cantidad))
        case None => Iterator.empty
      }
  }

  /** The expiry stream: holds grouped by reservation id through the
    * timer processor, watermarked on event time. */
  def expiries(events: Dataset[HoldEvent], timeoutMs: Long,
      watermarkDelay: String = "0 seconds",
      tombstoneWindowMs: Long = 24L * 3600 * 1000): Dataset[Expired] = {
    implicit val enc = Encoders.product[Expired]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new Processor(timeoutMs, tombstoneWindowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Operational flow: expiries return their seats to `inventario`
    * and append once into `expired_holds`. Ordering follows
    * consumerFlow (Flows.scala seat returns): dedup against the
    * record table FIRST, apply the inventario effect, THEN record —
    * a crash between effect and record replays at-least-once (the
    * reference's tolerated semantics) instead of recording first and
    * silently LOSING the return on replay.
    *
    * REPLAY BOUND (explicit, because the failure consequence differs
    * from consumerFlow's): a crash BETWEEN the inventario replace and
    * the expired_holds append replays the batch, whose ids were never
    * recorded, so their seat returns apply a SECOND time — and
    * admitReservations' negative-cantidad path increments capacidad
    * unconditionally (it cannot clamp: inventario keeps only the
    * REMAINING count, the original capacity lives upstream in the
    * eventos source). Worst case is therefore one extra cantidad per
    * expired hold in the crashed batch — transient phantom capacity
    * that oversells at most that many seats until reconciliation, the
    * mirror image of record-first's permanently LOST returns. The
    * reference makes the same trade (consumer effect before offset
    * commit); a deployment needing the clamp feeds the eventos
    * capacity table into a post-merge `least(capacidad, original)`
    * reconciliation view. The increment itself is
    * [[graft.tables.MergeOps.returnSeats]], exactly like consumerFlow's
    * devoluciones — no bespoke inventario merge, and unknown eventos
    * are tolerated the same way. */
  def flow(store: TableStore,
      events: Dataset[HoldEvent], timeoutMs: Long,
      checkpointRoot: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      watermarkDelay: String = "0 seconds",
      tombstoneWindowMs: Long = 24L * 3600 * 1000): StreamingQuery =
    FlowRunner.start(store, checkpointRoot, trigger,
      expiries(events, timeoutMs, watermarkDelay, tombstoneWindowMs).toDF(),
      "hold_expiry") { batch =>
        val fresh =
          (if (store.exists("expired_holds"))
            batch.join(store.load("expired_holds").select("id"),
              Seq("id"), "left_anti")
          else batch).persist()
        try {
          if (!fresh.isEmpty) {
            store.replace("inventario",
              MergeOps.returnSeats(store.load("inventario"), fresh))
            // fresh is already deduped against the table and a timer
            // fires once per key, so a plain append suffices —
            // appendUnique would re-run the identical anti-join
            store.append("expired_holds", fresh)
          }
        } finally { fresh.unpersist(); () }
    }
}
