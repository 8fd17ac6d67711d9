package graft

import java.nio.file.{Files, Paths}
import graft.tables.TableStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Log-structured store contracts: appends write deltas (not
  * snapshots), manifests compose segments, compaction bounds segment
  * counts, and readers keep their call-time snapshot across writes. */
class TableStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh() =
    new TableStore(spark, Files.createTempDirectory("graft-store").toString)

  test("append writes a delta segment, not a new snapshot") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    store.append("t", Seq((2, "b")).toDF("k", "v"))
    store.append("t", Seq((3, "c")).toDF("k", "v"))
    assert(store.load("t").count() === 3)
    // each delta segment holds only its own rows — the second append's
    // segment dir must contain exactly 1 row
    val segDf = spark.read.parquet(
      store.load("t").inputFiles.map(f => Paths.get(f.stripPrefix("file:"))
        .getParent.toString).distinct.sorted.last)
    assert(segDf.count() === 1)
    assert(store.load("t").inputFiles.map(f =>
      Paths.get(f.stripPrefix("file:")).getParent.toString).distinct.length === 3)
  }

  test("appendUnique drops existing keys and skips empty appends") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    store.appendUnique("t", Seq((1, "dup"), (2, "b")).toDF("k", "v"), Seq("k"))
    assert(store.load("t").count() === 2)
    val before = store.load("t").inputFiles.toSet
    // all-duplicate batch: nothing new → no segment, no version churn
    store.appendUnique("t", Seq((1, "x"), (2, "y")).toDF("k", "v"), Seq("k"))
    assert(store.load("t").inputFiles.toSet === before)
  }

  test("appendUnique tieBreak picks the first row among in-batch dups") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq.empty[(Int, String)].toDF("k", "v"))
    store.appendUnique("t", Seq((1, "z"), (1, "a"), (2, "m")).toDF("k", "v"),
      Seq("k"), tieBreak = Seq(col("v")))
    val rows = store.load("t").orderBy("k").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "m")))
  }

  test("compaction bounds the segment count") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((0, "s")).toDF("k", "v"))
    (1 to 20).foreach(i => store.append("t", Seq((i, "s")).toDF("k", "v")))
    assert(store.load("t").count() === 21)
    val segDirs = store.load("t").inputFiles.map(f =>
      Paths.get(f.stripPrefix("file:")).getParent.toString).distinct
    assert(segDirs.length <= 17,
      s"compaction never ran: ${segDirs.length} segments")
  }

  test("compact: many tiny files rewrite into few, content identical") {
    import spark.implicits._
    val store = fresh()
    // 12 appends of 50 rows each, every segment multi-file
    store.init("t", (0 until 50).map(i => (i, i.toString))
      .toDF("k", "v").repartition(4))
    (1 to 11).foreach(b => store.append("t",
      (b * 50 until b * 50 + 50).map(i => (i, i.toString))
        .toDF("k", "v").repartition(4)))
    val before = store.load("t")
    val filesBefore = before.inputFiles.length
    val sumBefore = before.agg(sum(col("k"))).head.getLong(0)
    store.compact("t", targetRowsPerFile = 200)
    val after = store.load("t")
    assert(after.count() === 600)
    assert(after.agg(sum(col("k"))).head.getLong(0) === sumBefore)
    assert(after.inputFiles.length === 3, // ceil(600/200)
      s"expected 3 files, got ${after.inputFiles.length} (was $filesBefore)")
    // single fresh segment — the manifest no longer unions deltas
    assert(after.inputFiles.map(f =>
      Paths.get(f.stripPrefix("file:")).getParent.toString)
      .distinct.length === 1)
  }

  test("compact keeps a partitioned layout and its pruning") {
    import spark.implicits._
    val store = fresh()
    store.replace("t", (0 until 300).map(i => (i, s"p${i % 3}"))
      .toDF("k", "part").repartition(8), partitionBy = Seq("part"))
    (1 to 3).foreach(b => store.append("t",
      (300 + b * 10 until 310 + b * 10).map(i => (i, s"p${i % 3}"))
        .toDF("k", "part").repartition(8)))
    store.compact("t", targetRowsPerFile = 1000)
    assert(store.partitionColumns("t") === Seq("part"))
    val after = store.load("t")
    assert(after.count() === 330)
    val pruned = after.filter(col("part") === "p1")
      .queryExecution.executedPlan.toString
    assert(pruned.matches("(?s).*PartitionFilters: \\[[^\\]]*part.*"),
      s"partition pruning lost after compact:\n$pruned")
  }

  test("concurrent appends to a shared sink lose no rows") {
    // dead_letter is appended to by several flows concurrently; two
    // appends that both read version v conflict at the commit, and the
    // loser re-runs on v+1 instead of dropping the winner's segment
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = fresh()
    store.init("shared", Seq.empty[(String, Int)].toDF("flow", "n"))
    val writers = (1 to 4).map { f =>
      Future {
        (1 to 5).foreach { i =>
          store.appendUnique("shared",
            Seq((s"flow$f", i)).toDF("flow", "n"), Seq("flow", "n"))
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(store.load("shared").count() === 20)
  }

  test("vacuum reclaims superseded versions, keeps the horizon readable") {
    import spark.implicits._
    val store = fresh()
    val root = {
      store.init("t", Seq((1, "a")).toDF("k", "v")) // v0: d0
      store.append("t", Seq((2, "b")).toDF("k", "v")) // v1: d0,d1
      store.replace("t", Seq((9, "z")).toDF("k", "v")) // v2: d2
      Paths.get(store.load("t").inputFiles.head.stripPrefix("file:"))
        .getParent.getParent
    }
    // a reader bound INSIDE the horizon (v1, keepVersions=2 keeps v1+v2)
    val insideHorizon = spark.read.parquet(
      root.resolve("d0").toString, root.resolve("d1").toString)
    store.vacuum("t", keepVersions = 2)
    assert(Files.exists(root.resolve("d0")) && Files.exists(root.resolve("d1")))
    assert(!Files.exists(root.resolve("m0")), "m0 survived the horizon")
    assert(insideHorizon.count() === 2) // live reader unaffected
    assert(store.load("t").collect().map(_.getInt(0)).toSeq === Seq(9))
    // shrink the horizon to the current version only: v0/v1 segments go
    store.vacuum("t", keepVersions = 1)
    assert(!Files.exists(root.resolve("d0")), "superseded segment retained")
    assert(!Files.exists(root.resolve("d1")), "superseded segment retained")
    assert(Files.exists(root.resolve("d2")))
    assert(!Files.exists(root.resolve("m1")))
    assert(store.load("t").collect().map(_.getInt(0)).toSeq === Seq(9))
    // the store keeps working after GC: appends continue the version chain
    store.append("t", Seq((10, "w")).toDF("k", "v"))
    assert(store.load("t").count() === 2)
  }

  test("auto-vacuum: long-running replace churn does not leak storage") {
    import spark.implicits._
    val store = new graft.tables.TableStore(spark,
      Files.createTempDirectory("graft-store").toString, autoVacuumKeep = 4)
    store.init("t", Seq((0, "v")).toDF("k", "v"))
    (1 to 12).foreach(i => store.replace("t", Seq((i, "v")).toDF("k", "v")))
    val root = Paths.get(store.load("t").inputFiles.head.stripPrefix("file:"))
      .getParent.getParent
    // versions 0..12 existed; only the last 4 manifests (and their
    // segments) survive without any explicit vacuum call
    val files = Files.list(root).iterator()
    var segs = 0; var manifests = 0
    while (files.hasNext) {
      val n = files.next().getFileName.toString
      if (n.startsWith("d")) segs += 1
      if (n.startsWith("m")) manifests += 1
    }
    assert(manifests === 4, s"expected 4 manifests, found $manifests")
    assert(segs === 4, s"expected 4 live segments, found $segs")
    assert(store.load("t").collect().map(_.getInt(0)).toSeq === Seq(12))
  }

  test("partitioned replace: filters on the partition column prune directories") {
    import spark.implicits._
    val store = fresh()
    store.replace("p", (0 until 64).map(i => (i, i % 8)).toDF("k", "cell"),
      partitionBy = Seq("cell"))
    val probed = store.load("p").filter(col("cell").isin(1, 3))
    // collect() drives probed's own QueryExecution (count() would plan
    // and execute a separate aggregate, leaving these metrics empty)
    assert(probed.collect().length === 16)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in:\n$plan")
    // runtime metrics prove only the 2 probed cell directories were read
    val scanned = probed.queryExecution.executedPlan.collectLeaves().head
      .metrics("numFiles").value
    val total = store.load("p").inputFiles.length
    assert(scanned < total, s"scan read all $total files")
  }

  test("partitioned append: delta segments keep the hive layout and pruning") {
    import spark.implicits._
    val store = fresh()
    store.replace("p", (0 until 64).map(i => (i, i % 8)).toDF("k", "cell"),
      partitionBy = Seq("cell"))
    assert(store.partitionColumns("p") === Seq("cell"))
    // append writes a layout-compatible (partitioned) delta segment —
    // the r7 store forbade this (replace-only partitioned tables)
    store.append("p", Seq((100, 1), (101, 3)).toDF("k", "cell"))
    assert(store.partitionColumns("p") === Seq("cell"))
    val probed = store.load("p").filter(col("cell").isin(1, 3))
    assert(probed.collect().length === 18)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in:\n$plan")
    // multi-segment partitioned reads union one scan per segment —
    // sum the file metrics across all scan leaves
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val total = store.load("p").inputFiles.length
    assert(scanned < total, s"scan read all $total files")
    // the partition column itself reads back correctly across segments
    assert(store.load("p").filter(col("cell") === 3).count() === 9)
    assert(store.load("p").count() === 66)
  }

  test("appendUnique into a partitioned table dedups across segments and keeps the layout") {
    import spark.implicits._
    val store = fresh()
    store.replace("p", (0 until 16).map(i => (i, i % 4)).toDF("k", "cell"),
      partitionBy = Seq("cell"))
    // k=3 already exists (dropped); k=100 is fresh (appended into the
    // hive layout); the anti-join reads the multi-segment union path
    store.appendUnique("p", Seq((3, 3), (100, 1)).toDF("k", "cell"), Seq("k"))
    assert(store.load("p").count() === 17)
    assert(store.load("p").filter(col("k") === 3).count() === 1)
    assert(store.partitionColumns("p") === Seq("cell"))
    assert(store.load("p").filter(col("cell") === 1)
      .collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 5, 9, 13, 100))
    // an all-duplicate batch appends nothing (no empty segment)
    val before = store.load("p").inputFiles.length
    store.appendUnique("p", Seq((100, 1)).toDF("k", "cell"), Seq("k"))
    assert(store.load("p").inputFiles.length === before)
  }

  test("empty append to a partitioned table is a no-op, not a poisoned segment") {
    import spark.implicits._
    val store = fresh()
    store.replace("p", (0 until 16).map(i => (i, i % 4)).toDF("k", "cell"),
      partitionBy = Seq("cell"))
    // a zero-row partitionBy write emits no parquet files; recording
    // that segment would make every later load() fail schema inference
    store.append("p", Seq.empty[(Int, Int)].toDF("k", "cell"))
    assert(store.load("p").count() === 16)
    store.append("p", Seq((100, 1)).toDF("k", "cell"))
    assert(store.load("p").count() === 17)
  }

  test("partitioned append: compaction preserves the layout") {
    import spark.implicits._
    val store = fresh()
    store.replace("p", (0 until 16).map(i => (i, i % 4)).toDF("k", "cell"),
      partitionBy = Seq("cell"))
    // enough appends to cross CompactThreshold (16 segments)
    (0 until 17).foreach(i =>
      store.append("p", Seq((100 + i, i % 4)).toDF("k", "cell")))
    assert(store.partitionColumns("p") === Seq("cell"))
    assert(store.load("p").count() === 33)
    val probed = store.load("p").filter(col("cell") === 2)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"compacted table lost pruning:\n$plan")
  }

  test("upsert supersedes same-key rows and keeps the rest") {
    import spark.implicits._
    val store = fresh()
    // creates on first use
    store.upsert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    assert(store.load("t").count() === 2)
    // incoming rows WIN over stored ones (unlike appendUnique); other
    // keys are untouched
    store.upsert("t", Seq((2, "B2"), (3, "c")).toDF("k", "v"), Seq("k"))
    val got = store.load("t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "B2", 3 -> "c"))
    // exactly one row per key survives — no duplicate (2, ...) rows
    assert(store.load("t").count() === 3)
    // idempotent: replaying the same upsert changes nothing
    store.upsert("t", Seq((2, "B2"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(store.load("t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === got)
  }

  test("upsert keeps a partitioned table's layout (pruning still works)") {
    import spark.implicits._
    val store = fresh()
    store.replace("t", Seq((1, "p1", "a"), (2, "p2", "b"))
      .toDF("k", "part", "v"), partitionBy = Seq("part"))
    store.upsert("t", Seq((2, "p2", "B2"), (3, "p1", "c"))
      .toDF("k", "part", "v"), Seq("k"))
    assert(store.load("t").select("k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
      === Set((1, "a"), (2, "B2"), (3, "c")))
    // the rewrite must preserve the hive layout: a partition filter
    // still prunes to only p1's files at execution time
    assert(store.partitionColumns("t") === Seq("part"))
    val pruned = store.load("t").filter(col("part") === "p1")
    assert(pruned.collect().length === 2)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().head
      .metrics("numFiles").value
    val p1Files = store.load("t").inputFiles.count(_.contains("part=p1"))
    assert(scanned === p1Files && p1Files <
      store.load("t").inputFiles.length,
      s"partition pruning lost after upsert: scanned $scanned")
  }

  test("MVCC: a plan captured before a write keeps its snapshot") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    val snapshot = store.load("t")
    store.replace("t", Seq((9, "z")).toDF("k", "v"))
    store.append("t", Seq((10, "w")).toDF("k", "v"))
    assert(snapshot.collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(store.load("t").count() === 2)
  }

  test("time travel: loadVersion binds each historical snapshot by number") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v")) // v0
    store.append("t", Seq((2, "b")).toDF("k", "v")) // v1
    store.upsert("t", Seq((1, "A"), (3, "c")).toDF("k", "v"), Seq("k")) // v2
    assert(store.version("t") === 2)
    def rows(v: Int) = store.loadVersion("t", v).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(0) === Seq((1, "a")))
    assert(rows(1) === Seq((1, "a"), (2, "b")))
    assert(rows(2) === Seq((1, "A"), (2, "b"), (3, "c")))
    val e = intercept[IllegalArgumentException](store.loadVersion("t", 7))
    assert(e.getMessage.contains("no readable version 7"))
  }

  test("time travel: a vacuumed version fails with a pointed error") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    store.replace("t", Seq((2, "b")).toDF("k", "v"))
    store.replace("t", Seq((3, "c")).toDF("k", "v"))
    store.vacuum("t", keepVersions = 1)
    val e = intercept[IllegalArgumentException](store.loadVersion("t", 0))
    assert(e.getMessage.contains("vacuumed"))
    assert(store.loadVersion("t", 2).count() === 1)
  }

  test("CDC fast path: append-only chain diffs read ONLY the delta segments") {
    import spark.implicits._
    val store = fresh()
    store.init("t", (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")) // v0
    store.append("t", Seq((101, "x")).toDF("k", "v")) // v1
    store.append("t", Seq((102, "y")).toDF("k", "v")) // v2
    val cdc = store.changesBetween("t", 0, 2, Seq("k"))
    val got = cdc.collect().map(r => (r.getInt(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    assert(got === Seq((101, "x", "insert"), (102, "y", "insert")))
    // the v0 base segment (100 rows) must not be in the scan at all
    val dirs = cdc.inputFiles.map(f => java.nio.file.Paths
      .get(f.stripPrefix("file:")).getParent.getFileName.toString).distinct
    assert(dirs.sorted.toSeq === Seq("d1", "d2"))
  }

  test("CDC general path: a rewriting transition yields insert/update/delete") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")) // v0
    // upsert: 1 updated, 4 inserted; then a replace dropping key 2
    store.upsert("t", Seq((1, "A"), (4, "d")).toDF("k", "v"), Seq("k")) // v1
    store.replace("t", store.load("t").filter(col("k") =!= 2)) // v2
    val got = store.changesBetween("t", 0, 2, Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1, "A", "update"), (2, "b", "delete"),
      (4, "d", "insert")))
    // self-diff is empty; delete rows carry the departed values
    assert(store.changesBetween("t", 2, 2, Seq("k")).count() === 0)
  }

  private def content(store: TableStore, name: String) =
    store.load(name).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

  test("syncTo: append-only hops replicate O(delta); repeat is a no-op") {
    import spark.implicits._
    val store = fresh()
    store.init("src", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.syncTo("src", "dst", Seq("k")) === 0) // initial full copy
    assert(content(store, "dst") === Seq((1, "a"), (2, "b")))
    store.append("src", Seq((3, "c")).toDF("k", "v"))
    store.append("src", Seq((4, "d")).toDF("k", "v"))
    assert(store.syncTo("src", "dst", Seq("k")) === 2)
    assert(content(store, "dst") === Seq((1, "a"), (2, "b"), (3, "c"),
      (4, "d")))
    // the incremental apply landed as a DELTA segment on dst, not a
    // rewrite: dst's scan now covers two segment dirs
    val segs = store.load("dst").inputFiles.map(f => java.nio.file.Paths
      .get(f.stripPrefix("file:")).getParent.getFileName.toString).distinct
    assert(segs.length === 2, s"expected base+delta segments, got $segs")
    // already-synced: version unchanged, content unchanged
    assert(store.syncTo("src", "dst", Seq("k")) === 2)
    assert(content(store, "dst") === Seq((1, "a"), (2, "b"), (3, "c"),
      (4, "d")))
  }

  test("syncTo: rewriting hops reconcile updates and deletes") {
    import spark.implicits._
    val store = fresh()
    store.init("src", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    store.syncTo("src", "dst", Seq("k"))
    store.upsert("src", Seq((1, "A"), (4, "d")).toDF("k", "v"), Seq("k"))
    store.replace("src", store.load("src").filter(col("k") =!= 2))
    store.syncTo("src", "dst", Seq("k"))
    assert(content(store, "dst") === content(store, "src"))
    assert(content(store, "dst") === Seq((1, "A"), (3, "c"), (4, "d")))
  }

  test("schema evolution: unflagged drift rejects; evolveSchema adds nullable columns") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    // silent drift: extra column without the flag → pointed rejection
    val e1 = intercept[IllegalArgumentException](
      store.append("t", Seq((2, "b", 9.5)).toDF("k", "v", "score")))
    assert(e1.getMessage.contains("score") &&
      e1.getMessage.contains("evolveSchema"))
    // retype is never allowed, flag or not
    val e2 = intercept[IllegalArgumentException](
      store.append("t", Seq(("3", "c")).toDF("k", "v"),
        evolveSchema = true))
    assert(e2.getMessage.contains("RETYPE"))
    // evolution: new nullable column; old segment reads it as null
    store.append("t", Seq((2, "b", 9.5)).toDF("k", "v", "score"),
      evolveSchema = true)
    val rows = store.load("t").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(rows.toSeq === Seq((1, "a", None), (2, "b", Some(9.5))))
    // a later batch may omit the evolved column (filled as null)
    store.append("t", Seq((3, "d")).toDF("k", "v"), evolveSchema = true)
    assert(store.load("t").filter(col("k") === 3)
      .select("score").collect().head.isNullAt(0))
    // compact materializes the evolved schema into the files
    store.compact("t")
    assert(store.load("t").schema.fieldNames.toSeq === Seq("k", "v", "score"))
    assert(store.load("t").count() === 3)
  }

  test("deleteWhere rewrites only segments containing matches") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.append("t", Seq((3, "c"), (4, "d")).toDF("k", "v"))
    store.append("t", Seq((5, "e"), (6, "f")).toDF("k", "v"))
    val before = store.load("t").inputFiles.toSet
    val vBefore = store.version("t")
    // k = 3 lives only in the middle segment
    assert(store.deleteWhere("t", col("k") === 3) === 1L)
    assert(store.version("t") === vBefore + 1)
    assert(store.load("t").select("k").as[Int].collect().sorted.toSeq ===
      Seq(1, 2, 4, 5, 6))
    val after = store.load("t").inputFiles.toSet
    // segments 1 and 3 are carried byte-identical (same files);
    // only the matched segment was rewritten
    assert((before & after).nonEmpty, "untouched segments were rewritten")
    assert(before != after)
    // prior version still time-travels to the deleted row
    assert(store.loadVersion("t", vBefore).filter(col("k") === 3)
      .count() === 1L)
    // CDC across the delete reports it as _op = delete
    val ch = store.changesBetween("t", vBefore, vBefore + 1, Seq("k"))
    assert(ch.filter(col("_op") === "delete").select("k").as[Int]
      .collect().toSeq === Seq(3))
  }

  test("deleteWhere: NULL predicate rows survive; no-match publishes nothing") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, Some(10)), (2, None), (3, Some(30)))
      .toDF("k", "score"))
    // score > 20 is NULL for k=2 — SQL DELETE keeps it
    assert(store.deleteWhere("t", col("score") > 20) === 1L)
    assert(store.load("t").select("k").as[Int].collect().sorted.toSeq ===
      Seq(1, 2))
    val v = store.version("t")
    assert(store.deleteWhere("t", col("score") > 999) === 0L)
    assert(store.version("t") === v, "no-match delete bumped the version")
  }

  test("deleteWhere: partitioned layout preserved; full wipe leaves readable empty table") {
    import spark.implicits._
    val store = fresh()
    store.replace("t", Seq((1, "x"), (2, "y"), (3, "x")).toDF("k", "part"),
      partitionBy = Seq("part"))
    assert(store.deleteWhere("t", col("part") === "y") === 1L)
    assert(store.partitionColumns("t") === Seq("part"))
    assert(store.load("t").count() === 2L)
    // fully-deleted segments drop; wiping everything stays readable
    assert(store.deleteWhere("t", lit(true)) === 2L)
    assert(store.load("t").count() === 0L)
    assert(store.load("t").schema.fieldNames.toSet === Set("k", "part"))
  }

  test("partition columns align integral types instead of failing retype") {
    import spark.implicits._
    val store = fresh()
    // writer computes the partition value as INT; hive inference reads
    // the path-encoded value back as int too, so the recorded type is
    // int. A later append that computed the SAME values as BIGINT is
    // the identical on-disk layout (cell=7/) — it must align, not fail.
    store.replace("t", Seq((1L, 7), (2L, 8)).toDF("id", "cell"),
      partitionBy = Seq("cell"))
    store.append("t",
      Seq((3L, 7L)).toDF("id", "cell"))
    val got = store.load("t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.get(1)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // read type stays pinned to the recorded int — no per-segment drift
    assert(store.load("t").schema("cell").dataType.catalogString === "int")
    // a NON-partition integral mismatch is still a hard retype error
    val e = intercept[IllegalArgumentException](
      store.append("t", Seq((4, 9L)).toDF("id", "cell")
        .select(col("id").cast("int").as("id"), col("cell"))))
    assert(e.getMessage.contains("RETYPE") && e.getMessage.contains("id"))
    // the exemption is not type-blind: a partition value that cannot
    // round-trip into the recorded type would NULL under the pinned
    // read — loud failure, not silent corruption
    val e2 = intercept[IllegalArgumentException](
      store.append("t", Seq((5L, "x7")).toDF("id", "cell")))
    assert(e2.getMessage.contains("do not parse") &&
      e2.getMessage.contains("cell"))
    // numeric strings DO round-trip (the SRP-bucket writer's case)
    store.append("t", Seq((6L, "9")).toDF("id", "cell"))
    assert(store.load("t").filter(col("cell") === 9).count() === 1L)
  }

  test("schema evolution: CDC across an evolving history aligns the old side") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v")) // v0
    store.append("t", Seq((2, "b", 7.0)).toDF("k", "v", "score"),
      evolveSchema = true) // v1 (append-only fast path)
    val fast = store.changesBetween("t", 0, 1, Seq("k")).collect()
    assert(fast.map(r => (r.getInt(0), r.getString(1),
      r.getDouble(2), r.getString(3))).toSeq === Seq((2, "b", 7.0, "insert")))
    // rewriting hop: general path must null-fill the old side's
    // missing column instead of failing resolution
    store.upsert("t", Seq((1, "A", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "v", "score"), Seq("k")) // v2
    val gen = store.changesBetween("t", 0, 2, Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3))).sortBy(_._1)
    assert(gen.toSeq === Seq((1, "A", "update"), (2, "b", "insert")))
  }

  test("CDC reports a NULL-ing update as NULL, never the stale old value") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "x"), (2, "y")).toDF("k", "v")) // v0
    store.upsert("t", Seq((1, null.asInstanceOf[String])).toDF("k", "v"),
      Seq("k")) // v1: k=1's v legitimately becomes NULL
    val ch = store.changesBetween("t", 0, 1, Seq("k")).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2)))
    assert(ch.toSeq === Seq((1, None, "update")),
      "a coalesce over the sides would resurrect the stale 'x'")
    // ...and a downstream sync replicates the NULL, not the stale value
    store.init("dst", store.loadVersion("t", 0))
    // seed the cursor at v0, then sync the NULL-ing hop
    store.commit(_.markBatch("_sync_t__dst", 0))
    store.syncTo("t", "dst", Seq("k"))
    assert(store.load("dst").filter(col("k") === 1)
      .select("v").head.isNullAt(0), "sync replicated the stale value")
  }

  test("CDC detects a value moving between same-typed columns (null-skip hashing)") {
    import spark.implicits._
    val store = fresh()
    // Spark's hash functions skip nulls without perturbing the
    // accumulator — without presence markers, (x, null) → (null, x)
    // hashes identically and the update vanishes from the feed
    store.init("t", Seq((1, "x", null.asInstanceOf[String]))
      .toDF("k", "a", "b")) // v0
    store.upsert("t", Seq((1, null.asInstanceOf[String], "x"))
      .toDF("k", "a", "b"), Seq("k")) // v1: x moves a → b
    val ch = store.changesBetween("t", 0, 1, Seq("k")).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)),
        Option(r.getString(2)), r.getString(3)))
    assert(ch.toSeq === Seq((1, None, Some("x"), "update")),
      "the cross-column null swap was invisible to the change feed")
  }

  test("partition value probe uses the STRING domain the path stores") {
    import spark.implicits._
    val store = fresh()
    store.replace("t", Seq((1L, 7), (2L, 8)).toDF("id", "cell"),
      partitionBy = Seq("cell"))
    // double 9.5 try_casts to int 9, but the path would store "9.5"
    // and the pinned int read would null it — must fail loudly
    val e = intercept[IllegalArgumentException](
      store.append("t", Seq((3L, 9.5)).toDF("id", "cell")))
    assert(e.getMessage.contains("do not parse"), e.getMessage)
  }

  test("syncTo follows source schema evolution on both hop kinds") {
    import spark.implicits._
    val store = fresh()
    store.init("src", Seq((1, "a")).toDF("k", "v"))
    store.syncTo("src", "dst", Seq("k"))
    // append-only hop that EVOLVES the schema
    store.append("src", Seq((2, "b", 9.5)).toDF("k", "v", "score"),
      evolveSchema = true)
    store.syncTo("src", "dst", Seq("k"))
    assert(store.load("dst").schema.fieldNames.toSeq ===
      Seq("k", "v", "score"))
    assert(store.load("dst").count() === 2L)
    // rewriting hop after evolution (upsert resets the segment chain)
    store.upsert("src", Seq((1, "A", 1.0)).toDF("k", "v", "score"), Seq("k"))
    store.syncTo("src", "dst", Seq("k"))
    val rows = store.load("dst").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(rows.toSeq === Seq((1, "A", Some(1.0)), (2, "b", Some(9.5))))
  }

  test("syncTo: a vacuumed base version falls back to a full resync") {
    import spark.implicits._
    val store = fresh()
    store.init("src", Seq((1, "a")).toDF("k", "v"))
    store.syncTo("src", "dst", Seq("k")) // synced at v0
    store.replace("src", Seq((2, "b")).toDF("k", "v"))
    store.replace("src", Seq((3, "c")).toDF("k", "v"))
    store.vacuum("src", keepVersions = 1) // v0 (the sync base) is gone
    assert(store.syncTo("src", "dst", Seq("k")) === 2)
    assert(content(store, "dst") === Seq((3, "c")))
  }

  // -- snapshot handle: one resolution per (table, version) ----------

  test("handle: a repeated load of an unchanged version runs only its own job") {
    import spark.implicits._
    val store = fresh()
    store.init("t", (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"))
    assert(store.load("t").count() === 50L)
    // no listing job, no schema-inference job: resolving runs nothing,
    // a collect is one job, and a count runs exactly the jobs a count
    // of an already-resolved frame runs (AQE submits its map stage as
    // a job of its own, so that is two)
    assert(TestSpark.jobTasks(spark)(store.load("t")).isEmpty)
    val collect = TestSpark.jobTasks(spark)(
      assert(store.load("t").collect().length === 50))
    assert(collect.size === 1, s"jobs: $collect")
    val resolved = store.load("t")
    val counted = TestSpark.jobTasks(spark)(
      assert(resolved.count() === 50L))
    val jobs = TestSpark.jobTasks(spark)(
      assert(store.load("t").count() === 50L))
    assert(jobs === counted)
  }

  test("handle: two loads of one version self-join through Column references") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val a = store.load("t")
    val b = store.load("t")
    val same = a.join(b, a("k") === b("k")).select(a("k"), b("v"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(same === Seq((1, "a"), (2, "b"), (3, "c")))
    // a("k") and b("k") are distinct attributes: an off-by-one join
    // pairs neighbours instead of collapsing to k = k
    val next = a.join(b, a("k") + 1 === b("k")).select(a("v"), b("v"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(next === Seq(("a", "b"), ("b", "c")))
  }

  test("handle: every version transition is visible on the next load") {
    import spark.implicits._
    val store = fresh()
    def seen() = content(store, "t")
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    assert(seen() === Seq((1, "a")))
    store.append("t", Seq((2, "b")).toDF("k", "v"))
    assert(seen() === Seq((1, "a"), (2, "b")))
    store.appendUnique("t", Seq((2, "x"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(seen() === Seq((1, "a"), (2, "b"), (3, "c")))
    store.upsert("t", Seq((1, "A")).toDF("k", "v"), Seq("k"))
    assert(seen() === Seq((1, "A"), (2, "b"), (3, "c")))
    assert(store.deleteWhere("t", col("k") === 2) === 1L)
    assert(seen() === Seq((1, "A"), (3, "c")))
    val before = store.version("t")
    store.compact("t")
    // same rows, new files: the load must list the compacted segment
    assert(store.version("t") === before + 1)
    assert(store.load("t").inputFiles.forall(
      _.contains(s"/d${before + 1}/")), "compact's files, not the old ones")
    assert(seen() === Seq((1, "A"), (3, "c")))
    store.append("t", Seq((4, "d", 0.5)).toDF("k", "v", "s"),
      evolveSchema = true)
    assert(store.load("t").columns.toSeq === Seq("k", "v", "s"))
    assert(seen() === Seq((1, "A"), (3, "c"), (4, "d")))
    store.replace("t", Seq((9, "z")).toDF("k", "v"))
    assert(seen() === Seq((9, "z")))
  }

  test("handle: concurrent first loads of a new version resolve it once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val store = fresh()
    store.init("t", (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"))
    store.append("t", Seq((51, "v51")).toDF("k", "v"))
    // resolving a version runs no job (the manifest records the
    // schema); four loads racing on the new version share one
    // resolution, so every frame reads through one relation
    val go = new java.util.concurrent.CountDownLatch(1)
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.DataFrame]()
    val jobs = TestSpark.jobTasks(spark) {
      val ts = (1 to 4).map { _ =>
        val t = new Thread(() => { go.await(); frames.add(store.load("t")); () })
        t.start(); t
      }
      go.countDown()
      ts.foreach(_.join())
    }
    assert(jobs.isEmpty, s"jobs: $jobs")
    val relations = frames.toArray(Array.empty[org.apache.spark.sql.DataFrame])
      .toSeq.map(_.queryExecution.analyzed
        .collectFirst { case r: LogicalRelation => r.relation }.get)
    assert(relations.size === 4 && relations.forall(_ eq relations.head))
    assert(store.load("t").count() === 51L)
  }

  test("a fresh version of every publish kind resolves with no Spark job") {
    import spark.implicits._
    val store = fresh()
    Seq("flat" -> Nil, "part" -> Seq("v")).foreach { case (t, parts) =>
      def resolvesFree(publish: String) = {
        val jobs = TestSpark.jobTasks(spark)(store.load(t))
        assert(jobs.isEmpty, s"$t after $publish: $jobs")
      }
      store.replace(t, Seq((1, "a"), (2, "b")).toDF("k", "v"), parts)
      resolvesFree("replace")
      store.append(t, Seq((3, "a")).toDF("k", "v"))
      resolvesFree("append")
      store.appendUnique(t, Seq((3, "x"), (4, "b")).toDF("k", "v"), Seq("k"))
      resolvesFree("appendUnique")
      store.append(t, Seq((5, "a", 0.5)).toDF("k", "v", "s"),
        evolveSchema = true)
      resolvesFree("evolving append")
      store.upsert(t, Seq((1, "b", 1.5)).toDF("k", "v", "s"), Seq("k"))
      resolvesFree("upsert")
      assert(store.deleteWhere(t, col("k") === 2) === 1L)
      resolvesFree("deleteWhere")
      store.compact(t)
      resolvesFree("compact")
      val rows = store.load(t).select("k", "v", "s").collect()
        .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).sortBy(_._1)
      assert(rows.toSeq === Seq((1, "b", Some(1.5)), (3, "a", None),
        (4, "b", None), (5, "a", Some(0.5))), t)
      assert(store.partitionColumns(t) === parts)
    }
  }

  test("a manifest without #schema still reads, and the next publish records it") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    def manifest(t: String) = new String(Files.readAllBytes(
      Paths.get(root, t, s"m${store.version(t)}")), "UTF-8")
    Seq("flat" -> Nil, "part" -> Seq("v")).foreach { case (t, parts) =>
      store.replace(t, Seq((1, "a"), (2, "b")).toDF("k", "v"), parts)
      val recorded = manifest(t).split("\n").filter(_.startsWith("#schema="))
      assert(recorded.length === 1, manifest(t))
      // the manifest as a writer that recorded no schema left it
      val m0 = Paths.get(root, t, "m0")
      Files.write(m0, manifest(t).split("\n")
        .filterNot(_.startsWith("#schema=")).mkString("\n").getBytes("UTF-8"))
      // the legacy version reads through the footer fallback: one job
      val jobs = TestSpark.jobTasks(spark)(
        assert(store.load(t).schema.fieldNames.toSeq === Seq("k", "v")))
      assert(jobs.size === 1, s"$t legacy read: $jobs")
      assert(content(store, t) === Seq((1, "a"), (2, "b")))
      store.append(t, Seq((3, "a")).toDF("k", "v"))
      assert(manifest(t).split("\n").filter(_.startsWith("#schema=")).toSeq ===
        recorded.toSeq, manifest(t))
      assert(TestSpark.jobTasks(spark)(store.load(t)).isEmpty)
      assert(content(store, t) === Seq((1, "a"), (2, "b"), (3, "a")))
    }
  }

  test("handle: a version published by another instance is visible") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val reader = new TableStore(spark, root)
    val writer = new TableStore(spark, root)
    writer.init("t", Seq((1, "a")).toDF("k", "v"))
    assert(content(reader, "t") === Seq((1, "a")))
    writer.append("t", Seq((2, "b")).toDF("k", "v"))
    assert(content(reader, "t") === Seq((1, "a"), (2, "b")))
    writer.replace("t", Seq((3, "c")).toDF("k", "v"))
    assert(content(reader, "t") === Seq((3, "c")))
  }

  test("handle: a table re-created at the same version is read fresh") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(content(store, "t") === Seq((1, "a"), (2, "b")))
    // the store pointer names every table's version: re-creating a
    // table at the same version re-creates the store root
    graft.tables.TempDirs.delete(root)
    store.init("t", Seq((7, "q")).toDF("k", "v"))
    assert(store.version("t") === 0)
    assert(content(store, "t") === Seq((7, "q")))
  }

  test("manifest bytes: each header kind renders in one fixed format") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    def manifest(t: String) = new String(Files.readAllBytes(
      Paths.get(root, t, s"m${store.version(t)}")), "UTF-8")
    def field(n: String, t: String) =
      s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}"""
    def schema(fs: String*) =
      "#schema=" + fs.mkString("""{"type":"struct","fields":[""", ",", "]}")
    // a flat table leads with its schema, then its segments
    store.init("flat", Seq((1, "a")).toDF("k", "v"))
    store.append("flat", Seq((2, "b")).toDF("k", "v"))
    assert(manifest("flat") === schema(field("k", "integer"),
      field("v", "string")) + "\nd0\nd1")
    // a schema-evolving append records the superset schema
    store.append("flat", Seq((3, "c", 1.5)).toDF("k", "v", "w"),
      evolveSchema = true)
    assert(manifest("flat") === schema(field("k", "integer"),
      field("v", "string"), field("w", "double")) + "\nd0\nd1\nd2")
    // a partitioned table leads with its layout, then the schema
    store.replace("part", Seq((1, "a"), (2, "b")).toDF("k", "p"), Seq("p"))
    store.append("part", Seq((3, "c")).toDF("k", "p"))
    assert(manifest("part") === "#partitionBy=p\n" + schema(
      field("k", "integer"), field("p", "string")) + "\nd0\nd1")
    store.append("part", Seq((4, "a", 7L)).toDF("k", "p", "x"),
      evolveSchema = true)
    val evolved = schema(field("k", "integer"), field("p", "string"),
      field("x", "long"))
    assert(manifest("part") === s"#partitionBy=p\n$evolved\nd0\nd1\nd2")
    // deleteWhere re-renders the headers around the rewritten segment,
    // and an emptied table drops the layout but keeps the schema
    assert(store.deleteWhere("part", col("k") === 1) === 1L)
    assert(manifest("part") === s"#partitionBy=p\n$evolved\nd3_0\nd1\nd2")
    assert(store.deleteWhere("part", lit(true)) === 3L)
    assert(manifest("part") === s"$evolved\nd4")
  }

  test("a manifest header the parser does not know fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    val m = Paths.get(root, "t", "m0")
    Files.write(m, ("#zorder=k\n" + new String(Files.readAllBytes(m)))
      .getBytes("UTF-8"))
    // neither carried through nor dropped: every reader of the manifest
    // refuses it
    Seq[() => Any](
      () => store.append("t", Seq((2, "b")).toDF("k", "v")),
      () => store.deleteWhere("t", col("k") === 1),
      () => store.load("t")).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("#zorder=k"), e.getMessage)
    }
    assert(store.version("t") === 0)
  }

  test("handle: a warm hit reads no manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    assert(content(store, "t") === Seq((1, "a")))
    // an unparseable manifest under the handle's (version, mtime) key:
    // only a read that parses it can fail
    val m = Paths.get(root, "t", "m0")
    val mtime = Files.getLastModifiedTime(m)
    Files.write(m, "#unparseable\n".getBytes("UTF-8"))
    Files.setLastModifiedTime(m, mtime)
    assert(content(store, "t") === Seq((1, "a")))
  }

  // -- the store commit ----------------------------------------------

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("on disk: one store pointer names every table version and flow batch id") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    store.append("t", Seq((2, "b")).toDF("k", "v"))
    store.init("u", Seq((3, "c")).toDF("k", "v"))
    store.commit(_.markBatch("f", 3))
    assert(names(Paths.get(root)) === Set("_pointer", "t", "u"))
    assert(names(Paths.get(root, "t")) === Set("m0", "m1", "d0", "d1"))
    assert(new String(Files.readAllBytes(Paths.get(root, "_pointer")),
      "UTF-8") === "table\tt\t1\ntable\tu\t0\nflow\tf\t3")
    assert(store.lastCommitted("f") === 3L && store.lastCommitted("g") === -1L)
  }

  test("a manifest above the live version is not a readable version") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    // the manifest a flip writes before it moves the pointer, left by
    // a flip that never moved it
    val orphan = Paths.get(root, "t", "m1")
    Files.write(orphan, Files.readAllBytes(Paths.get(root, "t", "m0")))
    assert(!store.versionExists("t", 1))
    val e = intercept[IllegalArgumentException](store.loadVersion("t", 1))
    assert(e.getMessage.contains("no readable version 1"), e.getMessage)
    store.append("t", Seq((2, "b")).toDF("k", "v"))
    assert(store.version("t") === 1 && store.versionExists("t", 1))
    assert(new String(Files.readAllBytes(orphan), "UTF-8").endsWith("d0\nd1"))
    assert(content(store, "t") === Seq((1, "a"), (2, "b")))
  }

  test("a 64-partition replace lists its segment once: the load runs no job") {
    import spark.implicits._
    val store = fresh()
    store.replace("fwd", (0 until 640).map(i => (i, i % 64)).toDF("k", "bkt"),
      partitionBy = Seq("bkt"))
    val jobs = TestSpark.jobTasks(spark)(store.load("fwd"))
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(store.load("fwd").filter(col("bkt") === 5).count() === 10L)
  }

  test("a body that throws after staging two tables leaves neither, nor its batch id") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("a", Seq((1, "a")).toDF("k", "v"))
    store.append("a", Seq((2, "b")).toDF("k", "v"))
    store.init("b", Seq((5, "e")).toDF("k", "v"))
    val before = Seq("a", "b").map(t => t -> names(Paths.get(root, t))).toMap
    val e = intercept[IllegalStateException](store.commit { c =>
      c.append("a", Seq((3, "c")).toDF("k", "v"))
      c.replace("b", Seq((9, "z")).toDF("k", "v"))
      c.markBatch("f", 7)
      assert(content(store, "a") === Seq((1, "a"), (2, "b")))
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage === "boom")
    assert(store.version("a") === 1 && store.version("b") === 0)
    assert(store.lastCommitted("f") === -1L)
    assert(content(store, "a") === Seq((1, "a"), (2, "b")))
    assert(content(store, "b") === Seq((5, "e")))
    // every committed segment and manifest survives; the staged ones go
    assert(Seq("a", "b").forall(t => names(Paths.get(root, t)) === before(t)))
  }

  test("a commit whose written table moved re-runs its body on fresh reads") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    var runs = 0
    store.commit { c =>
      runs += 1
      val seen = c.load("t").count().toInt
      // another writer commits t inside this commit's window
      if (runs == 1) store.append("t", Seq((2, "b")).toDF("k", "v"))
      c.append("t", Seq((10 + seen, "c")).toDF("k", "v"))
    }
    assert(runs === 2)
    assert(content(store, "t") === Seq((1, "a"), (2, "b"), (12, "c")))
  }

  test("a table only read is not checked; a commit that keeps conflicting fails loudly") {
    import spark.implicits._
    val store = fresh()
    store.init("r", Seq((1, "a")).toDF("k", "v"))
    store.init("w", Seq((1, "a")).toDF("k", "v"))
    var runs = 0
    store.commit { c =>
      runs += 1
      c.load("r").count()
      if (runs == 1) store.append("r", Seq((2, "b")).toDF("k", "v"))
      c.append("w", Seq((2, "b")).toDF("k", "v"))
    }
    assert(runs === 1, "a moved read-only table must not force a re-run")
    runs = 0
    intercept[java.util.ConcurrentModificationException](store.commit { c =>
      runs += 1
      c.version("w")
      store.append("w", Seq((10 + runs, "x")).toDF("k", "v"))
      c.append("w", Seq((0, "lost")).toDF("k", "v"))
    })
    // one optimistic run, then one under the root lock, where the
    // nested append still flips first
    assert(runs === 2)
    assert(!content(store, "w").exists(_._2 == "lost"))
    assert(store.load("w").count() === 2L + 2L)
  }

  test("a body that throws while a table it only read moves runs once and rethrows its own error") {
    import spark.implicits._
    val store = fresh()
    store.init("r", Seq((1, "a")).toDF("k", "v"))
    store.init("w", Seq((1, "a")).toDF("k", "v"))
    var runs = 0
    val e = intercept[IllegalArgumentException](store.commit { c =>
      runs += 1
      c.load("r").count()
      c.append("w", Seq((2, "b")).toDF("k", "v"))
      store.append("r", Seq((2, "b")).toDF("k", "v"))
      require(false, "bad batch")
    })
    assert(e.getMessage.contains("bad batch"), e.getMessage)
    assert(runs === 1)
    assert(store.version("r") === 1 && store.version("w") === 0)
  }

  test("a slow commit racing a table's stream of short commits finishes, and so do they") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = fresh()
    store.init("t", Seq((0, "seed")).toDF("k", "v"))
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var done = false
    // another writer commits t every 50 ms until the slow commit is in
    val short = Future {
      var n = 0
      while (!done) {
        n += 1
        store.append("t", Seq((n, "short")).toDF("k", "v"))
        started.countDown()
        Thread.sleep(50)
      }
      n
    }
    var runs = 0
    val seen = store.commit { c =>
      runs += 1
      val rows = c.load("t").count()
      started.await()
      Thread.sleep(1000)
      c.append("t", Seq((-1, "slow")).toDF("k", "v"))
      rows
    }
    done = true
    val n = Await.result(short, 120.seconds)
    // the optimistic run loses to the short commits; the locked re-run
    // cannot
    assert(runs === 2)
    val rows = content(store, "t")
    assert(rows.length === 1 + n + 1)
    assert(rows.count(_._2 == "slow") === 1)
    assert(rows.count(_._2 == "short") === n)
    assert(seen >= 2L)
  }

  test("two instances on one root never clobber each other's tables") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft-store").toString
    val (a, b) = (new TableStore(spark, root), new TableStore(spark, root))
    // b commits y while a's commit on x is open
    a.commit { c =>
      c.replace("x", Seq((1, "a")).toDF("k", "v"))
      b.replace("y", Seq((2, "b")).toDF("k", "v"))
    }
    assert(a.version("x") === 0 && a.version("y") === 0)
    val stores = Seq(a, b, new TableStore(spark, root), new TableStore(spark, root))
    Await.result(Future.sequence(stores.zipWithIndex.map { case (s, i) =>
      Future((1 to 5).foreach(n =>
        s.replace(s"t$i", Seq((n, "v")).toDF("k", "v"))))
    }), 120.seconds)
    assert((0 until 4).map(i => a.version(s"t$i")) === Seq(4, 4, 4, 4))
    assert(a.version("x") === 0 && a.version("y") === 0)
  }

  test("vacuum never reclaims a segment staged by a commit in flight") {
    import spark.implicits._
    val store = fresh()
    store.init("t", Seq((1, "a")).toDF("k", "v"))
    store.commit { c =>
      c.append("t", Seq((2, "b")).toDF("k", "v"))
      store.vacuum("t", keepVersions = 1)
    }
    assert(content(store, "t") === Seq((1, "a"), (2, "b")))
  }

  test("syncTo: a failed apply leaves the replica and its cursor; the next sync converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, root)
    store.init("src", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.syncTo("src", "dst", Seq("k")) === 0)
    store.upsert("src", Seq((1, "A"), (3, "c")).toDF("k", "v"), Seq("k"))
    val v = store.version("dst")
    val block = Files.createDirectories(Paths.get(root, "dst", s"m${v + 1}"))
    intercept[java.io.IOException](store.syncTo("src", "dst", Seq("k")))
    assert(store.version("dst") === v)
    assert(store.lastCommitted("_sync_src__dst") === 0L)
    assert(content(store, "dst") === Seq((1, "a"), (2, "b")))
    Files.delete(block)
    assert(store.syncTo("src", "dst", Seq("k")) === 1)
    assert(content(store, "dst") === Seq((1, "A"), (2, "b"), (3, "c")))
  }
}
