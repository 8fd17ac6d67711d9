package graft.streaming

import graft.tables.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The shared foreachBatch launcher for every flow class (Flows,
  * IngestionFlows): one streaming query per flow, TableStore
  * batch-commit-log replay protection when a persistent checkpoint
  * makes batchIds monotonic across restarts. */
private[streaming] object FlowRunner {

  /** Start `df` as a foreachBatch query named `name`. batchId-based
    * replay protection is only sound when batchIds are monotonic
    * across restarts, i.e. with a persistent checkpoint. A temp
    * checkpoint restarts numbering at 0 on every start and the guard
    * would silently drop real batches — so without `checkpointRoot`
    * the guard is off. Either way the commit is written after `body`,
    * so a crash between a table swap and the commit re-runs the whole
    * batch: key-deduplicated appends absorb that, but a flow that
    * publishes two tables re-applies a half-done batch (ROADMAP "Known
    * defects", owned by §4 and §11). */
  def start(store: TableStore, checkpointRoot: Option[String],
      trigger: Trigger, df: DataFrame, name: String)(
      body: DataFrame => Unit): StreamingQuery = {
    val w = df.writeStream
      .queryName(name)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (checkpointRoot.isEmpty || batchId > store.lastCommitted(name)) {
          body(batch)
          if (checkpointRoot.isDefined) store.commitBatch(name, batchId)
        }
      }
    checkpointRoot.foreach(r => w.option("checkpointLocation", s"$r/$name"))
    w.start()
  }
}
