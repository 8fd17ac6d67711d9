package graft

import java.nio.file.{Files, Paths}
import graft.operators.{PostingsIndex, ShingleIndex, StoredIndexes}
import graft.tables.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Retired-root retention (r13): a long-lived serving process rewrites
  * its corpus repeatedly, and each rewrite retires the previous stored
  * index root. The sweep applies the TableStore VACUUM contract to
  * those scratch roots — reclaim past the horizon, keep younger roots
  * so an in-flight reader's snapshot stays readable. */
class StoredIndexGcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeCorpus(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private val base = (1L to 6L).map(i =>
    i -> s"alpha$i beta gamma delta epsilon zeta eta theta iota kappa")

  test("rebuilds retire old roots; horizon protects in-flight readers; sweep reclaims") {
    val dir = Files.createTempDirectory("graft-idxgc").toString
    writeCorpus(dir, base)
    val before = StoredIndexes.retiredRoots
    val store1 = ShingleIndex.forDir(spark, dir)
    val reader = store1.load("ex8h") // lazy plan over build 1's root
    val rows1 = reader.count()
    assert(rows1 > 0)
    // corpus rewrite → fingerprint transition → rebuild retires root 1
    writeCorpus(dir, base :+ (7L ->
      "one two three four five six seven eight nine ten"))
    val store2 = ShingleIndex.forDir(spark, dir)
    assert(!(store2 eq store1), "rewrite must rebuild")
    val retired1 = StoredIndexes.retiredRoots -- before
    assert(retired1.size === 1, s"exactly build 1's root retired: $retired1")
    // within the horizon nothing is reclaimed: the in-flight reader's
    // snapshot still resolves (same row count off the old root)
    assert(StoredIndexes.sweepRetired(3600L * 1000).isEmpty)
    assert(retired1.forall(r => Files.exists(Paths.get(r))))
    assert(reader.count() === rows1,
      "in-flight reader lost its snapshot inside the horizon")
    // second rewrite → two retired roots outstanding
    writeCorpus(dir, base :+ (8L ->
      "red green blue cyan magenta yellow black white gray pink"))
    ShingleIndex.forDir(spark, dir)
    val retired2 = StoredIndexes.retiredRoots -- before
    assert(retired2.size === 2)
    // horizon 0 = post-quiesce sweep: all retired roots reclaimed from
    // disk and deregistered; the LIVE build is untouched
    val swept = StoredIndexes.sweepRetired(0L)
    assert(retired2.subsetOf(swept.toSet))
    retired2.foreach(r => assert(!Files.exists(Paths.get(r)), s"$r survived"))
    assert((StoredIndexes.retiredRoots -- before).isEmpty)
    val live = ShingleIndex.forDir(spark, dir)
    assert(live.load("ex8h").count() > 0, "live index must survive the sweep")
    graft.tables.TempDirs.delete(dir)
  }

  /** What an in-flight or finished Spark append leaves beside the data
    * files, none of which the parquet reader reads: a rewritten
    * `_SUCCESS` marker and a task attempt's file under `_temporary/`. */
  private def touchMetadata(dir: String): Unit = {
    val t = Paths.get(dir, "documents.parquet")
    val success = t.resolve("_SUCCESS")
    Files.write(success, "rewritten".getBytes("UTF-8"))
    Files.setLastModifiedTime(success, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 5000))
    val attempt = t.resolve("_temporary/0/part-x.parquet")
    Files.createDirectories(attempt.getParent)
    Files.write(attempt, "not yet committed".getBytes("UTF-8"))
  }

  test("a metadata-only change is not a new corpus version; a real append is") {
    val dir = Files.createTempDirectory("graft-idxver").toString
    writeCorpus(dir, base)
    val store1 = ShingleIndex.forDir(spark, dir)
    val rows1 = store1.load("ex8h").count()
    touchMetadata(dir)
    assert(ShingleIndex.forDir(spark, dir) eq store1,
      "_SUCCESS / _temporary changes must not rebuild")
    // the in-flight writer's job ends and cleans up its attempt dir
    TempDirs.delete(Paths.get(dir, "documents.parquet", "_temporary").toString)
    assert(ShingleIndex.forDir(spark, dir) eq store1)
    import spark.implicits._
    Seq(7L -> "one two three four five six seven eight nine ten")
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val store2 = ShingleIndex.forDir(spark, dir)
    assert(!(store2 eq store1), "an appended data file must rebuild")
    assert(store2.load("ex8h").count() > rows1)
    TempDirs.delete(dir)
  }

  test("ingest absorbs a batch after an in-flight append's attempt files vanished") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-idxtmp").toString
    writeCorpus(dir, base)
    // the index is built while another writer's attempt file sits in
    // _temporary/; that writer's job then cleans it up
    touchMetadata(dir)
    val ps0 = PostingsIndex.forDir(spark, dir)
    TempDirs.delete(Paths.get(dir, "documents.parquet", "_temporary").toString)
    val delta = Seq(7L -> "one two three four five six seven eight nine ten")
      .toDF("doc_id", "text")
    delta.write.mode("append").parquet(s"$dir/documents.parquet")
    val ps1 = PostingsIndex.ingest(spark, dir, delta)
    assert(ps1 eq ps0, "the batch extends the covered version: absorb, not rebuild")
    assert(ps1.load("stats").head.getLong(2) === 7L)
    TempDirs.delete(dir)
  }

  test("inParallel: a failing step lets a slower sibling's write finish, then rethrows unwrapped") {
    class InjectedStepFailure extends RuntimeException("injected build-step failure")
    val dir = Files.createTempDirectory("graft-inparallel").toString
    val out = s"$dir/sibling.parquet"
    try {
      intercept[InjectedStepFailure](StoredIndexes.inParallel(
        () => throw new InjectedStepFailure,
        () => { Thread.sleep(300); spark.range(1000).write.parquet(out) }))
      assert(spark.read.parquet(out).count() === 1000,
        "the sibling step's write must complete, not be interrupted")
    } finally graft.tables.TempDirs.delete(dir)
  }
}
