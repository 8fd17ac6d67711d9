package graft.streaming

import graft.tables.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/**
 * Flow observability: a [[StreamingQueryListener]] that lands every
 * micro-batch's progress as a row in a `flow_metrics` table — the
 * operational telemetry a broker-borne topology needs to spot a
 * lagging consumer BEFORE the backlog becomes an incident (input rows
 * and trigger latency per batch per flow, stateful-operator row counts
 * for state-growth regressions). The reference's Go services log this
 * ad hoc to stdout (`inventario/main.go`'s per-message prints); here
 * it is a queryable table next to the data, the way a 1000-executor
 * deployment would ship progress to its metrics store.
 *
 * Rows are keyed (run_id, batch_id) through `appendUnique`, so a
 * redelivered progress event (listener-bus replay, overlapping
 * attach/detach) cannot double-count a batch. Writes happen on the
 * listener-bus thread against a DIFFERENT table than any flow writes —
 * each is its own store commit, which never conflicts with a flow's —
 * and a listener failure
 * must never take down the flow it observes, so the write path
 * swallows (but counts) its own errors.
 */
final class FlowMetrics(spark: SparkSession, store: TableStore,
    table: String = "flow_metrics") extends StreamingQueryListener {

  @volatile private var failedWrites0 = 0L
  def failedWrites: Long = failedWrites0

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    try {
      import spark.implicits._
      val row = (
        Option(p.name).getOrElse(""),
        p.runId.toString,
        p.batchId,
        p.timestamp,
        p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.toLong)
          .getOrElse(-1L),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.sources.map(_.description).mkString("; "))
      store.appendUnique(table,
        Seq(row).toDF("flow", "run_id", "batch_id", "ts", "input_rows",
          "trigger_ms", "state_rows", "sources"),
        Seq("run_id", "batch_id"))
    } catch {
      case _: Throwable => failedWrites0 += 1
    }
  }
}

object FlowMetrics {
  /** Attach a metrics listener; caller detaches via [[detach]]. */
  def attach(spark: SparkSession, store: TableStore,
      table: String = "flow_metrics"): FlowMetrics = {
    val l = new FlowMetrics(spark, store, table)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: FlowMetrics): Unit =
    spark.streams.removeListener(l)
}
