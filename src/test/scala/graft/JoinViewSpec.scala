package graft

import java.nio.file.Files
import graft.tables.{JoinView, TableStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental materialized join view: changed-key partial recompute
  * equals the full join after every kind of base mutation, touches
  * only affected view segments, and replays idempotently. */
class JoinViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh() =
    new TableStore(spark, Files.createTempDirectory("graft-jview").toString)

  private def full(store: TableStore): Set[(Int, String, String)] =
    store.load("orders").join(store.load("custs"), Seq("ck"))
      .select("ck", "item", "name").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  private def view(store: TableStore): Set[(Int, String, String)] =
    store.load("v").select("ck", "item", "name").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  private def sync(store: TableStore): Long =
    JoinView.sync(store, "v", "orders", "custs",
      joinKey = Seq("ck"), aKey = Seq("oid"), bKey = Seq("ck"))

  test("view tracks the join through inserts, updates and deletes — O(change) each hop") {
    import spark.implicits._
    val store = fresh()
    store.init("orders", Seq((1, 10, "apple"), (2, 10, "pear"), (3, 20, "fig"))
      .toDF("oid", "ck", "item"))
    store.init("custs", Seq((10, "Ana"), (20, "Bo"), (30, "Cy"))
      .toDF("ck", "name"))

    assert(sync(store) === -1L) // first call: full build
    assert(view(store) === full(store))
    assert(sync(store) === 0L) // cursors current: no-op, no publish
    val vStable = store.version("v")
    assert(store.version("v") === vStable)

    // insert on the N side: one key rederived
    store.append("orders", Seq((4, 30, "kiwi")).toDF("oid", "ck", "item"))
    assert(sync(store) === 1L)
    assert(view(store) === full(store))

    // update on the 1 side: only that key's rows rewritten, the
    // untouched view segments carry byte-identical
    val filesBefore = store.load("v").inputFiles.toSet
    store.upsert("custs", Seq((10, "ANA")).toDF("ck", "name"), Seq("ck"))
    assert(sync(store) === 1L)
    assert(view(store) === full(store))
    assert((filesBefore & store.load("v").inputFiles.toSet).nonEmpty,
      "incremental sync rewrote unaffected view segments")

    // delete on the N side: the key's view rows shrink with it
    store.deleteWhere("orders", col("oid") === 2)
    assert(sync(store) === 1L)
    assert(view(store) === full(store))

    // both sides change between syncs; keys union
    store.append("orders", Seq((5, 20, "lime")).toDF("oid", "ck", "item"))
    store.upsert("custs", Seq((30, "CY")).toDF("ck", "name"), Seq("ck"))
    assert(sync(store) === 2L)
    assert(view(store) === full(store))
  }

  test("streaming micro-batches maintain the view through foreachBatch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = fresh()
    store.init("orders", Seq((1, 10, "apple")).toDF("oid", "ck", "item"))
    store.init("custs", Seq((10, "Ana"), (20, "Bo")).toDF("ck", "name"))
    sync(store)

    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Int, Int, String)]
    val q = in.toDF().toDF("oid", "ck", "item")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.appendUnique("orders", batch, Seq("oid"))
        sync(store) // per-batch incremental maintenance
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    in.addData((2, 20, "pear"), (3, 10, "fig"))
    q.processAllAvailable(); q.stop()
    assert(view(store) === full(store))
    assert(view(store).map(_._1) === Set(10, 20))

    // replayed batch: appendUnique drops the dup rows, sync sees no
    // version movement on either base → publishes nothing
    val vStable = store.version("v")
    store.appendUnique("orders",
      Seq((2, 20, "pear")).toDF("oid", "ck", "item"), Seq("oid"))
    assert(sync(store) === 0L)
    assert(store.version("v") === vStable)
  }

  test("composite key with a NULL field syncs through the typed-literal delta path") {
    import spark.implicits._
    val store = fresh()
    // composite (ck, region) key; ck carries a NULL — lit() would have
    // typed it NullType and leaned on IN-coercion; Literal.create
    // types it from the changed-key schema
    store.init("orders",
      Seq((1, Some(10), "eu", "apple"), (2, None, "us", "pear"),
        (3, Some(20), "eu", "fig"))
        .toDF("oid", "ck", "region", "item"))
    store.init("custs",
      Seq((Some(10), "eu", "Ana"), (Some(20), "eu", "Bo"),
        (None: Option[Int], "us", "Nil"))
        .toDF("ck", "region", "name"))
    def syncC(): Long = JoinView.sync(store, "vc", "orders", "custs",
      joinKey = Seq("ck", "region"), aKey = Seq("oid"),
      bKey = Seq("ck", "region"))
    def fullC() = store.load("orders")
      .join(store.load("custs"), Seq("ck", "region"))
      .select("ck", "region", "item", "name").collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    def viewC() = store.load("vc")
      .select("ck", "region", "item", "name").collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(syncC() === -1L)
    assert(viewC() === fullC())
    // touch a NON-null key and a null-keyed row in one delta: the IN
    // predicate must carry both tuple literals without widening tricks
    store.append("orders", Seq((4, Some(10), "eu", "kiwi"))
      .toDF("oid", "ck", "region", "item"))
    store.upsert("orders", Seq((2, None: Option[Int], "us", "plum"))
      .toDF("oid", "ck", "region", "item"), Seq("oid"))
    val n = syncC()
    assert(n > 0L, s"expected a delta sync, got $n")
    assert(viewC() === fullC())
  }

  test("vacuumed cursor falls back to a full rebuild that still matches") {
    import spark.implicits._
    val store = fresh()
    store.init("orders", Seq((1, 10, "apple")).toDF("oid", "ck", "item"))
    store.init("custs", Seq((10, "Ana")).toDF("ck", "name"))
    sync(store)
    // age the orders cursor out of the horizon
    for (i <- 0 until 5)
      store.append("orders", Seq((100 + i, 10, s"x$i")).toDF("oid", "ck", "item"))
    store.vacuum("orders", keepVersions = 1)
    assert(sync(store) === -1L) // full rebuild, not an error
    assert(view(store) === full(store))
  }

  test("a failed sync leaves the view and both cursors where they were; the next sync converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-jview").toString
    val store = new TableStore(spark, root)
    store.init("orders", Seq((1, 10, "apple"), (2, 20, "fig"))
      .toDF("oid", "ck", "item"))
    store.init("custs", Seq((10, "Ana"), (20, "Bo")).toDF("ck", "name"))
    assert(sync(store) === -1L)
    val synced = view(store)
    store.append("orders", Seq((3, 20, "kiwi")).toDF("oid", "ck", "item"))
    store.upsert("custs", Seq((10, "ANA")).toDF("ck", "name"), Seq("ck"))
    val cursors = Seq("a", "b").map(s => store.lastCommitted(s"_jview_v__$s"))
    val v = store.version("v")
    val block = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "v", s"m${v + 1}"))
    intercept[java.io.IOException](sync(store))
    assert(store.version("v") === v)
    assert(Seq("a", "b").map(s => store.lastCommitted(s"_jview_v__$s")) === cursors)
    assert(view(store) === synced)
    java.nio.file.Files.delete(block)
    assert(sync(store) === 2L)
    assert(view(store) === full(store))
  }
}
