package graft.streaming

import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger}

/**
 * S19 — PACK-ON-INGEST: the streaming twin of x100's batch packing
 * manifest. Documents arriving on the ingest stream are assigned to
 * fixed-W-token training windows AS THEY ARRIVE: a per-shard (lang)
 * token-offset counter lives in typed ValueState, each batch's docs
 * extend the shard's window stream from wherever the previous batch
 * left it, and the (lang, window_id, doc_id, start_tok, end_tok) span
 * rows append to the `packing_manifest` table. A training job can
 * therefore start consuming windows while ingest is still running —
 * the batch x100 form requires the corpus to be complete first.
 *
 * Order contract: windows pack in ARRIVAL order (what a production
 * loader does — append order is pack order), with doc_id as the
 * deterministic tiebreak WITHIN a micro-batch (partition arrival
 * order is not deterministic; batch boundaries are, via the
 * checkpoint).
 *
 * Duplicate contract — two kinds, two mechanisms:
 *  - CHECKPOINT replays restore the pre-batch offset and re-derive
 *    byte-identical spans; the manifest's doc_id anti-join drops
 *    them. Exact.
 *  - SOURCE redeliveries (an at-least-once producer re-sending a doc
 *    in a LATER batch) are dropped INSIDE the operator by a
 *    packed-doc map BEFORE the offset advances — without this, a
 *    duplicate would move the offset while its spans anti-join away,
 *    leaving a permanent hole in the window tiling (caught by
 *    review). The map is OFFSET-scoped, not clock-scoped: each entry
 *    records the stream position it was packed at, and evicts once
 *    the shard's offset has advanced `horizonTokens` past that
 *    position, bounding state at O(horizon / avg doc length)
 *    entries per shard, deterministically and replay-safely — a
 *    wall-clock TTL was tried first, but TTL state needs
 *    TimeMode.ProcessingTime, whose clock-driven no-data batches
 *    never let an AvailableNow run terminate (observed: a livelock
 *    of ~14 empty micro-batches/second). A redelivery arriving from
 *    further back than the horizon would re-pack the doc at a new
 *    offset — a horizon of ~1M tokens dwarfs any realistic
 *    redelivery distance, and the PackingSpec tiling audit detects a
 *    violation after the fact.
 *
 * Scale: the durable state is ONE long per shard plus the
 * horizon-bounded dedup map; per-batch work is O(batch docs)
 * arithmetic plus an O(map) eviction sweep, after a codegen tokenize
 * (the text column never enters the stateful operator — only
 * (doc_id, lang, n) rows do).
 */
object PackingFlow {

  final case class DocCount(doc_id: Long, lang: String, n: Long)
  final case class Span(lang: String, window_id: Long, doc_id: Long,
      start_tok: Long, end_tok: Long)

  final class Processor(w: Int, horizonTokens: Long)
      extends StatefulProcessor[String, DocCount, Span] {
    @transient private var off: org.apache.spark.sql.streaming.ValueState[Long] = _
    // doc_id → offset it was packed at; offset-scoped eviction below
    @transient private var packed: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      off = getHandle.getValueState[Long]("off",
        Encoders.scalaLong, TTLConfig.NONE)
      packed = getHandle.getMapState[Long, Long]("packed",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[DocCount],
        timerValues: TimerValues): Iterator[Span] = {
      var cur = if (off.exists()) off.get() else 0L
      val out = Seq.newBuilder[Span]
      // doc_id order within the batch: partition arrival order is
      // nondeterministic, batch boundaries are not; distinctBy drops
      // in-batch duplicates (first occurrence after the sort)
      rows.toSeq.sortBy(_.doc_id).distinctBy(_.doc_id).foreach { d =>
        if (d.n > 0 && !packed.containsKey(d.doc_id)) {
          var k = cur / w
          val last = (cur + d.n - 1) / w
          while (k <= last) {
            out += Span(key, k, d.doc_id,
              math.max(0L, k * w - cur),
              math.min(d.n, (k + 1) * w - cur))
            k += 1
          }
          cur += d.n
          // record the pack END offset: eviction measures how far the
          // stream has moved past the doc, so a doc longer than the
          // horizon cannot evict itself in its own batch
          packed.updateValue(d.doc_id, cur)
        }
      }
      off.update(cur)
      // offset-scoped eviction: forget docs packed more than
      // horizonTokens ago — O(map) per batch, map bounded by
      // horizon / avg doc length entries (keys collected first:
      // removal during a state-store iteration is not defined)
      val cut = cur - horizonTokens
      if (cut > 0) {
        val expired = packed.iterator()
          .filter(_._2 < cut).map(_._1).toList
        expired.foreach(packed.removeKey)
      }
      out.result().iterator
    }
  }

  /** The span stream: (doc_id, lang, text) rows → tokenize (codegen,
    * outside the operator) → per-lang offset state → spans. TimeMode
    * .None: the dedup map is offset-scoped, so no clock is involved
    * (and ProcessingTime mode's clock-driven no-data batches would
    * keep an AvailableNow run from ever terminating). */
  def spans(docs: DataFrame, w: Int = 256,
      horizonTokens: Long = 1L << 20): Dataset[Span] = {
    implicit val enc = Encoders.product[Span]
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("lang").cast("string"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long")
          .as("n"))
      .as[DocCount](Encoders.product[DocCount])
      .groupByKey(_.lang)(Encoders.STRING)
      .transformWithState(new Processor(w, horizonTokens),
        TimeMode.None(), OutputMode.Append())
  }

  /** Operational flow: spans land once in `packing_manifest` via the
    * store's appendUnique primitive ((doc_id, window_id) is a unique
    * span key) — it persists the anti-joined batch so the stateful
    * micro-batch plan executes once, not once per reference, and it
    * is the checkpoint-replay guard (the operator's TTL map already
    * drops source-level redeliveries before the offset moves). */
  def flow(store: TableStore, docs: DataFrame, w: Int = 256,
      checkpointRoot: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      horizonTokens: Long = 1L << 20): StreamingQuery =
    FlowRunner.start(store, checkpointRoot, trigger,
      spans(docs, w, horizonTokens).toDF(), "packing") { (_, batch) =>
        store.appendUnique("packing_manifest", batch,
          Seq("doc_id", "window_id"))
      }
}
