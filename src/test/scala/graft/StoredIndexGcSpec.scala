package graft

import java.nio.file.{Files, Paths}
import graft.operators.{ShingleIndex, StoredIndexes}
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

  test("rebuilds retire old roots; horizon protects in-flight readers; sweep reclaims") {
    val dir = Files.createTempDirectory("graft-idxgc").toString
    val base = (1L to 6L).map(i =>
      i -> s"alpha$i beta gamma delta epsilon zeta eta theta iota kappa")
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
