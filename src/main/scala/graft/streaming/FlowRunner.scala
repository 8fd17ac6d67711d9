package graft.streaming

import graft.tables.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The shared foreachBatch launcher for every flow class (Flows,
  * IngestionFlows): one streaming query per flow, each micro-batch body
  * run as one [[TableStore.commit]]. */
private[streaming] object FlowRunner {

  /** Start `df` as a foreachBatch query named `name`. With a persistent
    * checkpoint the commit also marks `(name, batchId)`, so the batch
    * id becomes visible with the tables the body wrote through the
    * handle, and a replayed batch whose id the store already holds is
    * skipped. A temp checkpoint restarts numbering at 0 on every start
    * and the skip would silently drop real batches, so without
    * `checkpointRoot` no id is marked or checked. */
  def start(store: TableStore, checkpointRoot: Option[String],
      trigger: Trigger, df: DataFrame, name: String)(
      body: (TableStore#Commit, DataFrame) => Unit): StreamingQuery = {
    val w = df.writeStream
      .queryName(name)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (checkpointRoot.isEmpty || batchId > store.lastCommitted(name))
          store.commit { c =>
            if (checkpointRoot.isDefined) c.markBatch(name, batchId)
            body(c, batch)
          }
      }
    checkpointRoot.foreach(r => w.option("checkpointLocation", s"$r/$name"))
    w.start()
  }
}
