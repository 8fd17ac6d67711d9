package graft

import java.nio.file.Files
import graft.operators.VectorIndex
import graft.sources.Tables
import graft.streaming.IngestionFlows
import graft.tables.TableStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup-on-ingest flows: a corpus grown through micro-batches
  * must end in the same state as a batch build — decisions table equal
  * to x34's clustering of the unioned corpus, stored ANN indexes
  * covering every vector without a rebuild — and replaying a batch
  * must change nothing anywhere (content-level idempotence). */
class IngestionFlowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  test("document ingest: near-dup of an admitted doc is dropped; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingdoc").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    // batch 1: two distinct docs
    ms.addData((1L, "the quick brown fox jumps over the lazy dog"),
      (5L, "completely different content about spark engines"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === 2)
    val log1 = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log1 === Map(1L -> true, 5L -> true), "no dups yet — both admitted")
    // batch 2: doc 7 duplicates doc 1's text → same fingerprint →
    // non-canonical in the recomputed clustering → dropped
    ms.addData((7L, "the quick brown fox jumps over the lazy dog"))
    run(flows.documentIngestFlow(df))
    val log2 = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log2(7L) === false, "near-dup of stored corpus must be dropped")
    val dec = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === Set((1L, 1L, true), (7L, 1L, false)))
    // batch 3: REPLAY of batch 2 — nothing may change
    val v0 = (store.load("documents").count(), store.load("ingest_log").count())
    ms.addData((7L, "the quick brown fox jumps over the lazy dog"))
    run(flows.documentIngestFlow(df))
    assert((store.load("documents").count(),
      store.load("ingest_log").count()) === v0, "replay must be a no-op")
    graft.tables.TempDirs.delete(root)
  }

  test("crash window: corpus appended but verdict lost — replay recovers the log") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingcrash").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    ms.addData((1L, "the quick brown fox jumps over the lazy dog"))
    run(flows.documentIngestFlow(df))
    // simulate a batch that died AFTER the corpus append but BEFORE the
    // decision recompute / log write: the doc is in `documents` with no
    // verdict anywhere
    store.appendUnique("documents",
      Seq((7L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), Seq("doc_id"))
    assert(!store.load("ingest_log").collect().map(_.getLong(0)).contains(7L))
    // the replayed batch must complete the lost derived writes: verdict
    // logged (near-dup of doc 1), decision table covers the doc, and the
    // corpus does NOT double-append
    ms.addData((7L, "the quick brown fox jumps over the lazy dog"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === 2, "no double append")
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log === Map(1L -> true, 7L -> false),
      "replay recovers the lost verdict")
    val dec = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === Set((1L, 1L, true), (7L, 1L, false)))
    graft.tables.TempDirs.delete(root)
  }

  /** Exact-length single-token text, unique per doc — length is the
    * gate's mass unit, uniqueness keeps the near-dup gate quiet. */
  private def capText(id: Long, len: Int): String = {
    val head = s"q$id"
    head + "z" * (len - head.length)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("source-cap gate: a flooding source is budget-limited at the door; refusal retryable; replay no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingcap").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      sourceCapPct = Some(40))
    val ms = MemoryStream[(Long, String, String)]
    def df = ms.toDS().toDF("doc_id", "text", "source")
    // batch 1: three sources, masses 40/30/30 — total 100, cap 40,
    // every source fits whole
    ms.addData((1L, capText(1, 40), "s1"), (2L, capText(2, 30), "s2"),
      (3L, capText(3, 30), "s3"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === 3)
    assert(store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap ===
      Map(1L -> true, 2L -> true, 3L -> true))
    // batch 2: s1 floods with 4×50 chars. cap = 40% × (100 + 200) =
    // 120; s1's prior mass 40 admits exactly ONE 50-char doc (40+50 ≤
    // 120, 40+100 > 120) — the md5(doc_id)-least one, x121's order
    val flood = Seq(10L, 11L, 12L, 13L)
    ms.addData(flood.map(i => (i, capText(i, 50), "s1")): _*)
    run(flows.documentIngestFlow(df))
    val expKept = flood.minBy(i => (md5hex(i.toString), i))
    val log2 = store.load("ingest_log")
      .filter(col("doc_id").isin(flood: _*)).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(log2(expKept) === ((true, null)), s"md5-least doc $expKept admitted")
    (flood.toSet - expKept).foreach { i =>
      assert(log2(i) === ((false, "source_cap")), s"doc $i refused")
    }
    assert(store.load("documents").count() === 4, "refused docs never enter the corpus")
    // batch 3: REPLAY of the flood — the admitted doc is settled
    // (anti-joined away); the refused docs re-enter the gate, the
    // corpus hasn't grown, so they refuse again: total no-op
    val v0 = (store.load("documents").count(),
      store.load("ingest_log").collect().map(_.toString).sorted.toSeq)
    ms.addData(flood.map(i => (i, capText(i, 50), "s1")): _*)
    run(flows.documentIngestFlow(df))
    assert((store.load("documents").count(),
      store.load("ingest_log").collect().map(_.toString).sorted.toSeq) === v0,
      "replay must be a no-op")
    // batch 4: OTHER sources grow the total, and the refused flood
    // docs re-enter automatically (uncheckpointed MemoryStream
    // replays everything; retryable refusals are exactly the rows the
    // settled-filter lets back in). Cap-eligible batch = {10,12,13,
    // 20,21} mass 350, cap = 40% × (150 + 350) = 200: s1's next two
    // docs in md5 order (12 at 140, 13 at 190) fit, the third (10 at
    // 240) stays refused; s2/s3 fit whole.
    ms.addData((20L, capText(20, 100), "s2"), (21L, capText(21, 100), "s3"))
    run(flows.documentIngestFlow(df))
    val floodMd5 = flood.sortBy(i => (md5hex(i.toString), i))
    val log4 = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log4(floodMd5(1)) === true && log4(floodMd5(2)) === true,
      "two more flood docs fit under the grown cap")
    assert(log4(floodMd5(3)) === false, "the md5-last flood doc still refused")
    assert(log4(20L) === true && log4(21L) === true)
    assert(store.load("documents").count() === 8)
    // batch 5: one more growth doc lands the last refused doc EXACTLY
    // at the cap (≤ boundary): corpus 450 + batch {10, 22} mass 150 →
    // cap = 40% × 600 = 240; s1 190 + 50 = 240 ≤ 240 → admitted
    ms.addData((22L, capText(22, 100), "s2"))
    run(flows.documentIngestFlow(df))
    val log5 = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log5(floodMd5(3)) === true,
      "refused doc admitted once the total grew (boundary ≤ cap)")
    assert(store.load("documents").count() === 10)
    graft.tables.TempDirs.delete(root)
  }

  test("source-cap bootstrap overshoot: measured against the documented bound; self-correcting, never compounding") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingcapboot").toString
    val store = new TableStore(spark, root)
    val pct = 40
    val flows = new IngestionFlows(spark, store, root,
      sourceCapPct = Some(pct))
    val ms = MemoryStream[(Long, String, String)]
    def df = ms.toDS().toDF("doc_id", "text", "source")
    def massOf(src: String): Long = store.load("documents")
      .filter(col("source") === src)
      .agg(coalesce(sum(length(col("text"))), lit(0L)))
      .collect()(0).getLong(0)
    def totalMass: Long = store.load("documents")
      .agg(coalesce(sum(length(col("text"))), lit(0L)))
      .collect()(0).getLong(0)
    // WORST CASE: the whole corpus arrives as one bootstrap batch
    // (prior mass 0). s1 floods 10×50, s2/s3 send 300/200 — cap is
    // computed against the batch's PRE-refusal mass (0+1000)·40% =
    // 400, so s1 lands 8×50 = 400 of an ADMITTED total of 900: share
    // 44.4% — the documented overshoot, at its maximum
    ms.addData(((100L to 109L).map(i => (i, capText(i, 50), "s1")) ++
      Seq((200L, capText(200, 300), "s2"), (300L, capText(300, 200), "s3"))): _*)
    run(flows.documentIngestFlow(df))
    val refused1 = store.load("ingest_log").filter(!col("admitted"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(refused1.length === 2 && refused1.forall(_._2 === "source_cap"),
      "exactly the flood's over-cap tail refuses")
    val (s1m, tot) = (massOf("s1"), totalMass)
    assert(s1m === 400L && tot === 900L)
    val refusedMass = 2 * 50L
    val overshoot = s1m - pct / 100.0 * tot
    assert(overshoot > 0, "the bootstrap residue is real on a flood")
    assert(overshoot <= pct / 100.0 * refusedMass + 1e-9,
      "documented bound: overshoot ≤ pct% of the batch's refused mass")
    // NON-COMPOUNDING: more flood on the same trigger shape adds no
    // new overshoot — s1 already holds ≥ its denominator share, so
    // every new s1 doc refuses and s1's admitted mass is unchanged
    ms.addData((110L, capText(110, 45), "s1"), (111L, capText(111, 45), "s1"))
    run(flows.documentIngestFlow(df))
    assert(massOf("s1") === 400L && totalMass === 900L,
      "an over-share source admits nothing more; overshoot never grows")
    // SELF-CORRECTING: other sources grow the denominator, every
    // retryable refusal re-enters (uncheckpointed MemoryStream
    // replays all four refused s1 docs: 2×50 + 2×45 = 190), and s1
    // converges back UNDER its cap: eligible batch 190 + 600 = 790,
    // cap = 40%·(900 + 790) = 676 ≥ s1's 400 + 190
    ms.addData((201L, capText(201, 300), "s2"), (301L, capText(301, 300), "s3"))
    run(flows.documentIngestFlow(df))
    assert(massOf("s1") === 590L && totalMass === 1690L)
    assert(massOf("s1").toDouble / totalMass <= pct / 100.0,
      "after organic growth the source sits back inside its share")
    graft.tables.TempDirs.delete(root)
  }

  test("source-cap crash window: corpus appended but verdict lost — replay must not double-count the doc's own mass") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingcapcrash").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      sourceCapPct = Some(50))
    val ms = MemoryStream[(Long, String, String)]
    def df = ms.toDS().toDF("doc_id", "text", "source")
    // corpus: total 100, s1 holds 20
    ms.addData((1L, capText(1, 20), "s1"), (2L, capText(2, 40), "s2"),
      (3L, capText(3, 40), "s3"))
    run(flows.documentIngestFlow(df))
    // simulate a crash AFTER the corpus append, BEFORE the verdict:
    // doc 10 (s1, 50 chars) is in `documents` with no log row
    store.appendUnique("documents",
      Seq((10L, capText(10, 50), "s1")).toDF("doc_id", "text", "source"),
      Seq("doc_id"))
    assert(!store.load("ingest_log").collect().map(_.getLong(0)).contains(10L))
    // replayed batch: CORRECT evaluation excludes the doc's own
    // appended mass — cap = 50% × (100 + 50) = 75, s1 20 + 50 = 70 ≤
    // 75 → admitted. Double-counting it (prior 70, cap 50% × 200 =
    // 100, mass 70 + 50 = 120 > 100) would refuse a doc that is
    // ALREADY in the corpus — a verdict/corpus inconsistency.
    ms.addData((10L, capText(10, 50), "s1"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === 4, "no double append")
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log(10L) === true,
      "replay must admit: the doc's own appended mass is not prior mass")
    graft.tables.TempDirs.delete(root)
  }

  test("quality gate: short/repetitive docs rejected before the corpus; replay no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingqual").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      quality = graft.streaming.IngestQuality(
        minTokens = 4, maxRepetition = 0.5))
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    ms.addData(
      (1L, "a perfectly reasonable document about spark engines"),
      (2L, "too short"),                                    // < 4 tokens
      (3L, "spam spam spam spam spam spam spam spam"))      // rep 0.75
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").collect().map(_.getLong(0)).toSet
      === Set(1L), "only the quality-passing doc reaches the corpus")
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(log === Map(
      1L -> ((true, None)),
      2L -> ((false, Some("quality"))),
      3L -> ((false, Some("quality")))))
    // rejected docs never fingerprint: the decision table knows only doc 1
    assert(store.load("dedup_decisions").collect().isEmpty ||
      store.load("dedup_decisions").collect().map(_.getLong(0)).toSet
        .subsetOf(Set(1L)))
    // near-dup of the admitted doc still drops with its own reason
    ms.addData((9L, "a perfectly reasonable document about spark engines"))
    run(flows.documentIngestFlow(df))
    val log9 = store.load("ingest_log").filter(col("doc_id") === 9L)
      .collect().head
    assert(log9.getBoolean(1) === false &&
      log9.getString(2) === "near_dup")
    // replay of everything: nothing changes anywhere
    val v0 = (store.load("documents").count(),
      store.load("ingest_log").count())
    ms.addData((2L, "too short"),
      (3L, "spam spam spam spam spam spam spam spam"),
      (9L, "a perfectly reasonable document about spark engines"))
    run(flows.documentIngestFlow(df))
    assert((store.load("documents").count(),
      store.load("ingest_log").count()) === v0)
    graft.tables.TempDirs.delete(root)
  }

  test("toxicity gate: blocklist-ratio docs rejected with their own reason; corrected re-send admitted") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingtox").toString
    val store = new TableStore(spark, root)
    // x135's lexicon + detector, as the door policy: >20% flagged
    // tokens rejects with reason `toxicity` (disjoint from `quality`)
    val flows = new IngestionFlows(spark, store, root,
      quality = graft.streaming.IngestQuality(
        minTokens = 3,
        blocklist = graft.operators.TextQueries.ToxicityLexicon,
        maxToxicity = 0.2))
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    ms.addData(
      (1L, "a perfectly reasonable document about spark engines"),
      (2L, "frak gorram frak this smeg garbage frak"),   // 5/7 flagged
      (3L, "one gorram word in an otherwise long clean document"), // 1/9
      (4L, "so short"))                                  // quality, not tox
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L),
      "sub-threshold flagged content passes; above-threshold rejects")
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(log === Map(
      1L -> ((true, None)),
      2L -> ((false, Some("toxicity"))),
      3L -> ((true, None)),
      4L -> ((false, Some("quality")))),
      "toxicity and quality are distinct, disjoint reasons")
    // retryable: the corrected re-send re-enters the gate and wins;
    // the stale toxicity verdict is superseded, not duplicated
    ms.addData((2L, "a fully cleaned replacement document about engines"))
    run(flows.documentIngestFlow(df))
    val log2 = store.load("ingest_log").filter(col("doc_id") === 2L)
      .collect()
    assert(log2.length === 1 && log2.head.getBoolean(1) === true,
      "corrected re-send is admitted and supersedes the toxicity row")
    assert(store.load("documents").filter(col("doc_id") === 2L).count() === 1)
    graft.tables.TempDirs.delete(root)
  }

  test("quality rejection is not final: a corrected re-send is admitted") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingresend").toString
    val store = new TableStore(spark, root)
    // a persistent checkpoint, so each run() below delivers only the
    // NEW sends (the corrected re-send must arrive in its own batch,
    // not unioned with the stale one it corrects)
    val flows = new IngestionFlows(spark, store, root,
      checkpointRoot = Some(s"$root/_ckpt"),
      quality = graft.streaming.IngestQuality(minTokens = 4))
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    // batch 1: doc 9 fails the gate — logged, never enters the corpus
    ms.addData((9L, "too short"))
    run(flows.documentIngestFlow(df))
    assert(!store.exists("documents") ||
      store.load("documents").collect().isEmpty)
    val log1 = store.load("ingest_log").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(log1 === Seq((9L, false, "quality")))
    // batch 2: the producer re-sends doc 9 with corrected content — the
    // gate re-evaluates (a quality rejection is not settled), the doc
    // enters the corpus, and the stale log row is SUPERSEDED in place
    ms.addData((9L, "a corrected perfectly valid document about engines"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").collect().map(_.getLong(0)).toSeq
      === Seq(9L), "corrected re-send must reach the corpus")
    val log2 = store.load("ingest_log").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
      .toSeq
    assert(log2 === Seq((9L, true, None)),
      "exactly one log row per doc; the quality row must be superseded")
    // batch 3: replaying the corrected send is a no-op — the doc is now
    // settled (admitted)
    ms.addData((9L, "a corrected perfectly valid document about engines"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === 1L &&
      store.load("ingest_log").count() === 1L)
    graft.tables.TempDirs.delete(root)
  }

  test("same-batch stale + corrected send: the gate-passing row wins") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingrace").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      quality = graft.streaming.IngestQuality(minTokens = 4))
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    // both sends land in ONE micro-batch; admission must not depend on
    // partition order — the quality-passing correction wins
    ms.addData((9L, "too short"),
      (9L, "a corrected perfectly valid document about engines"))
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").collect().map(_.getLong(0)).toSeq
      === Seq(9L), "the corrected row must win the in-batch dedup")
    val log = store.load("ingest_log").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
      .toSeq
    assert(log === Seq((9L, true, None)))
    graft.tables.TempDirs.delete(root)
  }

  test("document ingest over the fixture corpus matches x34 on the union") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingfix").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val docs = Tables.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mid = docs.length / 2
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    ms.addData(docs.take(mid): _*)
    run(flows.documentIngestFlow(df))
    ms.addData(docs.drop(mid): _*)
    run(flows.documentIngestFlow(df))
    assert(store.load("documents").count() === docs.length.toLong)
    // the INCREMENTALLY maintained decision table equals the batch
    // engine over the full (unioned) corpus: same rows and clusters as
    // x34's clustering, and canonical = x120's quality election
    // (decisions64Of) — the r15 parity pin
    val viaFlow = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val viaBatch = graft.operators.DedupQueries
      .decisions64Of(spark, store.load("documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaFlow === viaBatch,
      "incremental decisions diverge from the batch engine")
    val viaX34 = SparkEntry.queries("x34_dedup_clusters")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFlow.map(t => (t._1, t._2)) === viaX34,
      "flow clusters diverge from x34 clustering")
    // every doc has exactly one logged verdict; second-batch verdicts
    // agree with the final decision table (their arrival state IS the
    // final state)
    assert(store.load("ingest_log").count() === docs.length.toLong)
    val finalDec = viaFlow.map(t => t._1 -> t._3).toMap
    val lateLog = store.load("ingest_log")
      .filter(col("doc_id").isin(docs.drop(mid).map(_._1): _*))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    lateLog.foreach { case (id, admitted) =>
      assert(admitted === finalDec.getOrElse(id, true),
        s"doc $id: arrival verdict != final clustering")
    }
    graft.tables.TempDirs.delete(root)
  }

  test("x137's recall audit measures the incrementally grown IVF index (frozen-centroid drift)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ingaudit").toString
    val emb = Tables.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // seed corpus must contain the audit's fixed query slice (100..107)
    emb.filter(col("vec_id") < 120).write.parquet(s"$dir/embeddings.parquet")
    val store = new TableStore(spark,
      Files.createTempDirectory("graft-ingaudit-store").toString)
    val flows = new IngestionFlows(spark, store, dir)
    val ivf0 = VectorIndex.forDir(spark, dir)
    def recalls(nProbe: Int): Map[Long, Double] =
      graft.operators.VectorQueries.annRecall(spark, dir, nProbe)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val before3 = recalls(3)
    assert(recalls(VectorIndex.Cells).values.forall(_ === 1.0),
      "full probe exact on the seed corpus")
    // grow the corpus through the flow: frozen centroids absorb the
    // delta (no rebuild), which is exactly the serving state whose
    // recall an operator must be able to audit
    val rows = emb.filter(col("vec_id") >= 120 && col("vec_id") < 160)
      .as[(Long, Seq[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Seq[Float])]
    def df = ms.toDS().toDF("vec_id", "embedding")
    ms.addData(rows: _*)
    run(flows.embeddingIngestFlow(df))
    assert(VectorIndex.forDir(spark, dir) eq ivf0,
      "audit must run against the SAME (not rebuilt) index")
    // the audit still holds its invariants on the grown index: full
    // probe stays EXACT (drift can only affect partial probes — every
    // vector is in some cell, and probing all cells is exact search),
    // and partial-probe recall remains a valid, possibly-shifted
    // measurement over the same 8 queries
    assert(recalls(VectorIndex.Cells).values.forall(_ === 1.0),
      "full probe must remain exact after incremental growth")
    val after3 = recalls(3)
    assert(after3.keySet === before3.keySet && after3.size === 8)
    after3.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
    graft.tables.TempDirs.delete(dir)
  }

  test("embedding ingest: stored indexes absorb batches without rebuild; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ingemb").toString
    val emb = Tables.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.filter(col("vec_id") < 40).write.parquet(s"$dir/embeddings.parquet")
    val store = new TableStore(spark,
      Files.createTempDirectory("graft-ingemb-store").toString)
    val flows = new IngestionFlows(spark, store, dir)
    // build the serving indexes on the seed corpus (the query path)
    val ivf0 = VectorIndex.forDir(spark, dir)
    val srp0 = VectorIndex.srpForDir(spark, dir,
      graft.operators.VectorQueries.srpIndexRows)
    val rows = emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
      .as[(Long, Seq[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Seq[Float])]
    def df = ms.toDS().toDF("vec_id", "embedding")
    ms.addData(rows: _*)
    run(flows.embeddingIngestFlow(df))
    // the flow grew the corpus and ingested — the SAME index objects
    // now cover 50 vectors (no rebuild on the ingest path)
    assert(VectorIndex.forDir(spark, dir) eq ivf0, "flow ingest must not rebuild IVF")
    assert(VectorIndex.srpForDir(spark, dir,
      graft.operators.VectorQueries.srpIndexRows) eq srp0,
      "flow ingest must not rebuild SRP")
    assert(ivf0.corpus.count() === 50)
    assert(srp0.load("srp_idx").select("vec_id").distinct().count() === 50)
    assert(spark.read.parquet(s"$dir/embeddings.parquet").count() === 50)
    // r14: incremental topic assignment — the first flow batch froze a
    // trained model into `topic_centroids`, and every ingested vector
    // got the cid the batch argmin against those centroids gives
    def argminCid(cents: Array[Array[Long]], e: Seq[Float]): Int = {
      val q = e.toArray.map(x => math.floor(x.toDouble * 1000).toLong + 2048)
      var bestKey = Long.MaxValue
      for (i <- cents.indices) {
        var d = 0L
        for (j <- q.indices) { val t = q(j) - cents(i)(j); d += t * t }
        val key = d * cents.length + i
        if (key < bestKey) bestKey = key
      }
      (bestKey % cents.length).toInt
    }
    val cents0 = store.load("topic_centroids").orderBy("cid").collect()
      .map(_.getSeq[Long](1).toArray)
    assert(cents0.length === 8, "first batch must train + freeze the model")
    // the self-healing sweep assigns the WHOLE corpus (seed vectors
    // included), not just the batch — cluster-balanced sampling over
    // the table must see every vector
    val all50 = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val assigns0 = store.load("topic_assignments").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigns0.keySet === all50.map(_._1).toSet)
    all50.foreach { case (id, e) =>
      assert(assigns0(id) === argminCid(cents0, e), s"vec $id cid")
    }
    // REPLAY the same batch: content-level idempotence — corpus and
    // indexes unchanged, still no rebuild
    ms.addData(rows: _*)
    run(flows.embeddingIngestFlow(df))
    assert(spark.read.parquet(s"$dir/embeddings.parquet").count() === 50,
      "replayed batch must not double-append the corpus")
    assert(VectorIndex.forDir(spark, dir) eq ivf0)
    assert(ivf0.corpus.count() === 50)
    assert(srp0.load("srp_idx").select("vec_id").distinct().count() === 50)
    assert(store.load("topic_assignments").count() === 50L,
      "replay must not duplicate topic assignments")
    // a SECOND fresh batch: the model stays FROZEN (no retrain on the
    // ingest path — same centroid rows) and the new vectors land with
    // the frozen-model argmin
    val rows2 = emb.filter(col("vec_id") >= 50 && col("vec_id") < 55)
      .as[(Long, Seq[Float])].collect().toSeq
    ms.addData(rows2: _*)
    run(flows.embeddingIngestFlow(df))
    val cents1 = store.load("topic_centroids").orderBy("cid").collect()
      .map(_.getSeq[Long](1).toArray)
    assert(cents1.zip(cents0).forall { case (a, b) => a.sameElements(b) },
      "ingest must NOT retrain the frozen topic model")
    val assigns1 = store.load("topic_assignments").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows2.foreach { case (id, e) =>
      assert(assigns1(id) === argminCid(cents0, e), s"vec $id frozen-model cid")
    }
    // EXPLICIT batch-boundary retrain (the freeze doctrine's other
    // half): the model re-trains on the grown corpus and EVERY corpus
    // vector's assignment recomputes under it — replace, not patch
    graft.streaming.IngestionFlows.refreshTopics(spark, store, dir)
    val cents2 = store.load("topic_centroids").orderBy("cid").collect()
      .map(_.getSeq[Long](1).toArray)
    assert(!cents2.zip(cents0).forall { case (a, b) => a.sameElements(b) },
      "retrain on the grown corpus must move at least one centroid")
    val assigns2 = store.load("topic_assignments").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigns2.size === 55, "refresh must cover the WHOLE corpus")
    val all55 = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    all55.foreach { case (id, e) =>
      assert(assigns2(id) === argminCid(cents2, e), s"vec $id refreshed cid")
    }
    // and the NEXT flow batch assigns under the refreshed model
    val rows3 = emb.filter(col("vec_id") >= 55 && col("vec_id") < 58)
      .as[(Long, Seq[Float])].collect().toSeq
    ms.addData(rows3: _*)
    run(flows.embeddingIngestFlow(df))
    val assigns3 = store.load("topic_assignments").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows3.foreach { case (id, e) =>
      assert(assigns3(id) === argminCid(cents2, e),
        s"vec $id must use the refreshed model")
    }
    graft.tables.TempDirs.delete(dir)
  }

  test("media crash window: fps appended but verdict lost — replay recovers ADMITTED, never self-near-dup") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.{MediaCodec, MediaPipeline}
    val root = Files.createTempDirectory("graft-ingmediacrash").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, Array[Byte])]
    def df = ms.toDS().toDF("doc_id", "payload")
    // simulate a batch that died AFTER the corpus+fps appends but
    // BEFORE the log write: the doc exists in media_docs/media_fps
    // with no verdict anywhere
    val img = MediaCodec.encodePng(9, 8, (x, _) => x * 10)
    val (kind, fp) = MediaPipeline.mediaFp(img).get
    store.appendUnique("media_docs",
      Seq((7L, img)).toDF("doc_id", "payload"), Seq("doc_id"))
    store.appendUnique("media_fps",
      Seq((7L, kind, fp)).toDF("doc_id", "kind", "fp"), Seq("doc_id"))
    // the replayed batch must complete the lost verdict as ADMITTED —
    // without the own-row probe guard the doc would refuse as a
    // near-dup of ITSELF while sitting in the corpus
    ms.addData((7L, img))
    val q = flows.mediaIngestFlow(df)
    q.processAllAvailable(); q.stop()
    val v = store.load("media_ingest_log").filter(col("doc_id") === 7L)
      .collect().head
    assert(v.getBoolean(1), s"crash-replayed admitted doc refused: $v")
    assert(store.load("media_docs").count() === 1, "no double-append")
    assert(store.load("media_fps").count() === 1)
    // and a GENUINE near-dup of it still refuses
    val near = MediaCodec.encodePng(9, 8,
      (x, y) => if (x == 8 && y == 0) 0 else x * 10)
    ms.addData((8L, near))
    val q2 = flows.mediaIngestFlow(df)
    q2.processAllAvailable(); q2.stop()
    assert(store.load("media_ingest_log").filter(col("doc_id") === 8L)
      .collect().head.getString(2) === "media_near_dup")
    graft.tables.TempDirs.delete(root)
  }

  test("topic crash window: corpus appended but assignments lost — the sweep heals the hole") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ingtopichole").toString
    val emb = Tables.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.filter(col("vec_id") < 30).write.parquet(s"$dir/embeddings.parquet")
    val store = new TableStore(spark,
      Files.createTempDirectory("graft-ingtopichole-store").toString)
    val flows = new IngestionFlows(spark, store, dir)
    val ms = MemoryStream[(Long, Seq[Float])]
    def df = ms.toDS().toDF("vec_id", "embedding")
    ms.addData(emb.filter(col("vec_id") >= 30 && col("vec_id") < 35)
      .as[(Long, Seq[Float])].collect().toSeq: _*)
    val q = flows.embeddingIngestFlow(df)
    q.processAllAvailable(); q.stop()
    assert(store.load("topic_assignments").count() === 35L)
    // crash simulation: vectors land in the corpus with no assignment
    emb.filter(col("vec_id") >= 35 && col("vec_id") < 40)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    assert(store.load("topic_assignments").count() === 35L)
    // ANY later batch heals the hole (self-healing sweep assigns every
    // unassigned corpus vector, not just its own rows)
    ms.addData(emb.filter(col("vec_id") >= 40 && col("vec_id") < 42)
      .as[(Long, Seq[Float])].collect().toSeq: _*)
    val q2 = flows.embeddingIngestFlow(df)
    q2.processAllAvailable(); q2.stop()
    assert(store.load("topic_assignments").count() === 42L,
      "sweep must assign the crash-window vectors too")
    graft.tables.TempDirs.delete(dir)
  }

  test("media gate: near-dup fingerprints refused at the door; unreadable refused; replay no-op; corrected re-send admitted") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.MediaCodec
    val root = Files.createTempDirectory("graft-ingmedia").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, Array[Byte])]
    def df = ms.toDS().toDF("doc_id", "payload")
    def logMap = store.load("media_ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    // 9×8 canvases make the dHash grid the exact pixel array
    def png(pix: (Int, Int) => Int) = MediaCodec.encodePng(9, 8, pix)
    val imgA = png((x, _) => x * 10)            // all gradients ascending
    val imgB = png((x, _) => (8 - x) * 10)      // all descending: Hamming 64 from A
    val wavSamples = Array.tabulate(650)(i => ((i * 7) % 801 - 400).toShort)
    val wav1 = MediaCodec.encodeWavPcm16(8000, 1, wavSamples)
    // batch 1: all distinct → all admitted
    ms.addData((1L, imgA), (2L, imgB), (3L, wav1))
    run(flows.mediaIngestFlow(df))
    assert(logMap === Map(1L -> ((true, null)), 2L -> ((true, null)),
      3L -> ((true, null))))
    assert(store.load("media_docs").count() === 3)
    assert(store.load("media_fps").collect().map(_.getString(1)).sorted
      .toSeq === Seq("audio", "image", "image"))
    // batch 2: imgC = imgA with ONE flipped gradient (Hamming 1) →
    // refused; wav2 = wav1 with one perturbed sample (≤ 2 envelope
    // bits) → refused; imgD a genuinely different pattern (alternating
    // gradients, Hamming 32 from both A and B) → admitted; garbage →
    // media_unreadable
    val imgC = png((x, y) => if (x == 8 && y == 0) 0 else x * 10)
    val pert = wavSamples.clone(); pert(100) = (pert(100) + 300).toShort
    val wav2 = MediaCodec.encodeWavPcm16(8000, 1, pert)
    val imgD = png((x, _) => (x % 2) * 50)
    val junk = Array.tabulate(64)(i => (i * 97).toByte)
    ms.addData((10L, imgC), (11L, wav2), (12L, imgD), (13L, junk))
    run(flows.mediaIngestFlow(df))
    val log2 = logMap
    assert(log2(10L) === ((false, "media_near_dup")), "dHash Hamming 1 vs doc 1")
    assert(log2(11L) === ((false, "media_near_dup")), "audio fp ≤2 bits vs doc 3")
    assert(log2(12L) === ((true, null)))
    assert(log2(13L) === ((false, "media_unreadable")))
    assert(store.load("media_docs").count() === 4)
    // REPLAY batch 2: nothing may change (admitted settle; refusals
    // re-evaluate to the same verdict against the same corpus)
    ms.addData((10L, imgC), (11L, wav2), (12L, imgD), (13L, junk))
    run(flows.mediaIngestFlow(df))
    assert(logMap === log2, "replay must be a verdict no-op")
    assert(store.load("media_docs").count() === 4)
    assert(store.load("media_fps").count() === 4)
    // batch 3: in-batch near-dup pair, both new vs the corpus — the
    // smaller id wins, the larger refuses; and the unreadable doc 13
    // re-sent with VALID distinct bytes is admitted (retryable)
    val imgF = png((x, y) => if (y < 4) x * 10 else (8 - x) * 10)
    val imgG = png((x, y) =>
      if (x == 8 && y == 0) 0 else if (y < 4) x * 10 else (8 - x) * 10)
    val imgE = png((x, _) => ((x + 1) % 2) * 50)
    ms.addData((20L, imgF), (21L, imgG), (13L, imgE))
    run(flows.mediaIngestFlow(df))
    val log3 = logMap
    assert(log3(20L) === ((true, null)), "chain head admitted")
    assert(log3(21L) === ((false, "media_near_dup")), "in-batch near-dup refused")
    assert(log3(13L) === ((true, null)), "corrected re-send admitted")
    assert(store.load("media_docs").count() === 6)
    graft.tables.TempDirs.delete(root)
  }

  test("contamination gate: eval-shingle overlap rejected at the door; train overlap and clean docs admitted; replay + corrected re-send") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // benchmark corpus: doc 1 is train (md5 bucket < 80), doc 5 is val
    // (bucket 80-89) — the x35 split the stored ex8h index records
    val bench = Files.createTempDirectory("graft-bench").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$bench/documents.parquet")
    val root = Files.createTempDirectory("graft-ingcontam").toString
    val store = new TableStore(spark, root)
    // persistent checkpoint: each run delivers only NEW sends — the
    // reason-transition steps below need the re-send to arrive in its
    // OWN batch (a full replay would put both versions of a doc in one
    // batch, where the in-batch dedup rule rightly prefers the
    // gate-passing one)
    val flows = new IngestionFlows(spark, store, root,
      checkpointRoot = Some(root),
      quality = graft.streaming.IngestQuality(minTokens = 3),
      contaminationDir = Some(bench))
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    ms.addData(
      // shares the 8-shingle "one..eight" with VAL doc 5 → rejected
      (100L, "one two three four five six seven eight"),
      // shares 8 tokens with TRAIN doc 1 only → the gate guards the
      // eval split, not train → admitted
      (102L, "alpha beta gamma delta epsilon zeta eta theta"),
      // clean → admitted
      (104L, "red green blue cyan magenta yellow black white"))
    run(flows.documentIngestFlow(df))
    def log() = store.load("ingest_log").collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.getString(2)))).toMap
    val l1 = log()
    assert(l1(100L) === ((false, Some("contamination"))))
    assert(l1(102L) === ((true, None)))
    assert(l1(104L) === ((true, None)))
    val ids1 = store.load("documents").collect().map(_.getLong(0)).toSet
    assert(ids1 === Set(102L, 104L), "contaminated doc must never enter the corpus")
    // replay: same rejection, no growth anywhere
    val v0 = (store.load("documents").count(), store.load("ingest_log").count())
    ms.addData((100L, "one two three four five six seven eight"))
    run(flows.documentIngestFlow(df))
    assert((store.load("documents").count(),
      store.load("ingest_log").count()) === v0)
    assert(log()(100L) === ((false, Some("contamination"))))
    // corrected re-send: contamination is retryable — the clean text
    // re-enters the gate, is admitted, and the log row is superseded
    ms.addData((100L, "entirely fresh material with no benchmark overlap at all"))
    run(flows.documentIngestFlow(df))
    assert(log()(100L) === ((true, None)))
    assert(store.load("documents").collect().map(_.getLong(0)).toSet
      === Set(100L, 102L, 104L))
    // retryable reasons supersede in BOTH directions: a contamination
    // rejection followed by a quality-failing re-send must read
    // "quality", not the stale "contamination" (and the converse is
    // the gate order itself)
    ms.addData((106L, "one two three four five six seven eight"))
    run(flows.documentIngestFlow(df))
    assert(log()(106L) === ((false, Some("contamination"))))
    ms.addData((106L, "shorty"))
    run(flows.documentIngestFlow(df))
    assert(log()(106L) === ((false, Some("quality"))))
    graft.tables.TempDirs.delete(root)
  }

  test("quality election at the door: a later BETTER twin wins the canonical flag") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingelect").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    // duplicating the whole token multiset preserves every per-bit
    // count's SIGN, so the fingerprints are identical (a Hamming-0
    // pair) while the duplicate carries strictly more characters —
    // same distinct-token count, larger n_chars → the election key
    // (dt desc, n_chars desc, doc_id asc) prefers the LONGER doc
    val base = "alpha beta gamma delta epsilon zeta"
    ms.addData((5L, base))
    run(flows.documentIngestFlow(df))
    assert(store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap === Map(5L -> true))
    // the later, better twin ARRIVES and WINS — not refused on
    // arrival order (pre-r15 min-id retention would have dropped it)
    ms.addData((9L, s"$base $base"))
    run(flows.documentIngestFlow(df))
    val byId = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(byId(9L) === ((true, None)), "the better twin must be admitted")
    val dec = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === Set((5L, 5L, false), (9L, 5L, true)),
      "cluster keeps the min-id label; canonical moves to the better twin")
    // the kept view (canonical ∪ unclustered) = x122 over the union,
    // via the batch engine parity
    val viaBatch = graft.operators.DedupQueries
      .decisions64Of(spark, store.load("documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === viaBatch, "incremental decisions != batch engine")
    // a WORSE twin arriving after both still refuses as near_dup
    ms.addData((12L, base))
    run(flows.documentIngestFlow(df))
    val byId3 = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(byId3(12L) === ((false, Some("near_dup"))))
    // replay of the winning twin: a no-op everywhere
    val v0 = (store.load("documents").count(),
      store.load("dedup_decisions").collect().map(_.toString).sorted.toSeq)
    ms.addData((9L, s"$base $base"))
    run(flows.documentIngestFlow(df))
    assert((store.load("documents").count(),
      store.load("dedup_decisions").collect().map(_.toString).sorted.toSeq)
      === v0, "replay must be a no-op")
    graft.tables.TempDirs.delete(root)
  }

  test("cluster merge: a new doc bridging two stored clusters relabels + re-elects both") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingmerge").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    // two separate Hamming-0 clusters {3,7} and {10,14}
    ms.addData((3L, t1), (7L, s"$t1 $t1"), (10L, t2), (14L, s"$t2 $t2 $t2"))
    run(flows.documentIngestFlow(df))
    val dec1 = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec1 === Set((3L, 3L, false), (7L, 3L, true),
      (10L, 10L, false), (14L, 10L, true)))
    // doc 2 duplicates BOTH texts' multisets? it cannot — instead
    // bridge via a doc whose fp equals t1's AND t2's... impossible at
    // Hamming 0; bridge transitively: doc 2 = t1-dup (joins cluster 3
    // with a smaller id → label moves to 2), then verify the batch
    // engine agrees — the relabel path exercised is old-cluster
    // relabel + new min-id label
    ms.addData((2L, s"$t1 $t1 $t1"))
    run(flows.documentIngestFlow(df))
    val dec2 = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec2 === Set((2L, 2L, true), (3L, 2L, false), (7L, 2L, false),
      (10L, 10L, false), (14L, 10L, true)),
      "new smaller-id doc must become the label AND win the election")
    val viaBatch = graft.operators.DedupQueries
      .decisions64Of(spark, store.load("documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec2 === viaBatch)
    graft.tables.TempDirs.delete(root)
  }

  test("source_mass view: exactly-once version-diff IVM — delta fold, no-op resync, purge resync") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingmass").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      sourceCapPct = Some(50))
    // the view keys on the text_fps SIDECAR's version chain (stored
    // n_chars + stored source — never the corpus text)
    def fpsRows(rows: (Long, Long, String)*) =
      rows.toSeq.map { case (id, n, s) => (id, 0L, 1L, n, s) }
        .toDF("doc_id", "f", "dt", "n_chars", "source")
    def massView(): Map[String, Long] =
      store.load("source_mass").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // bootstrap: full recompute once
    store.replace("text_fps", fpsRows((1L, 4L, "s1"), (2L, 2L, "s2")))
    flows.syncSourceMass()
    assert(massView() === Map("s1" -> 4L, "s2" -> 2L))
    // append-only delta: folds ONLY the delta segments — proved
    // structurally by making the OLD segment unreadable (move its
    // files away): a full rescan would throw, the delta fold cannot
    // see it
    store.appendUnique("text_fps", fpsRows((3L, 6L, "s1")), Seq("doc_id"))
    val seg0 = java.nio.file.Paths.get(root, "text_fps", "d0")
    val stash = java.nio.file.Paths.get(root, "d0_stash")
    java.nio.file.Files.move(seg0, stash)
    try flows.syncSourceMass()
    finally java.nio.file.Files.move(stash, seg0)
    assert(massView() === Map("s1" -> 10L, "s2" -> 2L),
      "delta fold must not rescan the base segment")
    // already synced: calling again publishes NOTHING (version pinned)
    val v = store.version("source_mass")
    flows.syncSourceMass()
    assert(store.version("source_mass") === v, "no-op sync must not publish")
    // the marker is exactly-once under replay: a fresh flows instance
    // (a restart) syncs to the same state
    new IngestionFlows(spark, store, root, sourceCapPct = Some(50))
      .syncSourceMass()
    assert(massView() === Map("s1" -> 10L, "s2" -> 2L))
    assert(store.version("source_mass") === v)
    // rewriting transition (GDPR delete) → one full resync, correct
    store.deleteWhere("text_fps",
      org.apache.spark.sql.functions.col("doc_id") === 1L)
    flows.syncSourceMass()
    assert(massView() === Map("s1" -> 6L, "s2" -> 2L))
    // a purge that empties the sidecar publishes a ZERO-ROW view;
    // later syncs must not NPE on the missing marker (review-caught)
    store.deleteWhere("text_fps",
      org.apache.spark.sql.functions.lit(true))
    flows.syncSourceMass()
    assert(massView() === Map.empty[String, Long])
    flows.syncSourceMass() // marker-less view: resync, never throw
    assert(massView() === Map.empty[String, Long])
    store.appendUnique("text_fps", fpsRows((9L, 7L, "s3")), Seq("doc_id"))
    flows.syncSourceMass()
    assert(massView() === Map("s3" -> 7L), "view recovers after emptiness")
    graft.tables.TempDirs.delete(root)
  }

  test("legacy r14-era store: first r15 batch backfills the sidecar and rebuilds decisions") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-inglegacy").toString
    val store = new TableStore(spark, root)
    // an r14-shaped store: a corpus and a (stale, pre-64-bit) decision
    // table exist; the text_fps sidecar does not
    val t1 = "alpha beta gamma delta epsilon zeta"
    store.replace("documents",
      Seq((3L, t1), (10L, "one two three four five six")).toDF("doc_id", "text"))
    store.replace("dedup_decisions",
      Seq((999L, 999L, true)).toDF("doc_id", "cluster", "canonical"))
    store.replace("ingest_log",
      Seq((3L, true, null.asInstanceOf[String]),
        (10L, true, null.asInstanceOf[String]))
        .toDF("doc_id", "admitted", "reason"))
    val flows = new IngestionFlows(spark, store, root)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    // the arriving doc is a Hamming-0 twin of STORED doc 3 (duplicated
    // multiset) and BETTER (longer) — without the backfill the probe
    // would see an empty sidecar and admit it as pairless
    ms.addData((7L, s"$t1 $t1"))
    run(flows.documentIngestFlow(df))
    assert(store.exists("text_fps") &&
      store.load("text_fps").count() === 3L,
      "sidecar must cover the legacy corpus plus the batch")
    val dec = store.load("dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === Set((3L, 3L, false), (7L, 3L, true)),
      "stale decisions replaced; twin detected against the LEGACY doc")
    val viaBatch = graft.operators.DedupQueries
      .decisions64Of(spark, store.load("documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec === viaBatch)
    graft.tables.TempDirs.delete(root)
  }

  test("cap crash window with a CORRECTED re-send: subtraction uses the STORED row's mass") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingcapfix").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root,
      sourceCapPct = Some(50))
    val ms = MemoryStream[(Long, String, String)]
    def df = ms.toDS().toDF("doc_id", "text", "source")
    ms.addData((1L, capText(1, 20), "s1"), (2L, capText(2, 40), "s2"),
      (3L, capText(3, 40), "s3"))
    run(flows.documentIngestFlow(df))
    // crash window: doc 10 (s1, 50 chars) reached the corpus AND the
    // sidecar, but its verdict was lost
    store.appendUnique("documents",
      Seq((10L, capText(10, 50), "s1")).toDF("doc_id", "text", "source"),
      Seq("doc_id"))
    store.appendUnique("text_fps",
      graft.operators.DedupQueries.fpQualityOf(
        Seq((10L, capText(10, 50), "s1")).toDF("doc_id", "text", "source")),
      Seq("doc_id"))
    // the unsettled re-send carries CORRECTED (longer, 90-char)
    // content. The gate must subtract the STORED row's 50 chars (what
    // the view counted): prior total = 150 − 50 = 100, cap = 50% ×
    // (100 + 90) = 95, s1 = (70 − 50) + 90 = 110 > 95 → REFUSED —
    // exactly what the r14 corpus-anti-join semantics decide on the
    // same state. Subtracting the BATCH row's 90 instead
    // (review-caught) would compute total 60 / cap 75 / s1 70 ≤ 75
    // and wrongly admit.
    ms.addData((10L, capText(10, 90), "s1"))
    run(flows.documentIngestFlow(df))
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(log(10L) === ((false, Some("source_cap"))),
      "stored-mass subtraction must drive the decision")
    graft.tables.TempDirs.delete(root)
  }

  test("S23 chunk store: batch-engine parity across batches, replay no-op, purge sweeps") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingchunk").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root, chunkStore = true)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    def longText(seed: Int, n: Int): String =
      (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    def storedChunks() = store.load("chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toSet
    def batchEngine() = graft.operators.CurationQueries
      .chunkRowsOf(store.load("documents").select("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toSet
    // batch 1: a multi-chunk doc (70 tokens → 3 chunks) + a 1-chunk doc
    ms.addData((1L, longText(1, 70)), (2L, longText(2, 20)))
    run(flows.documentIngestFlow(df))
    assert(storedChunks() === batchEngine(), "batch 1 parity")
    assert(storedChunks().count(_._1 == 1L) === 3)
    // batch 2: another doc — old docs' chunks unchanged, new ones added
    ms.addData((3L, longText(3, 40)))
    run(flows.documentIngestFlow(df))
    assert(storedChunks() === batchEngine(), "batch 2 parity")
    // replay of batch 2: nothing may change
    val v0 = storedChunks()
    ms.addData((3L, longText(3, 40)))
    run(flows.documentIngestFlow(df))
    assert(storedChunks() === v0, "replay must be a chunk-store no-op")
    // crash window: corpus appended, chunk write lost — the replayed
    // batch completes the chunk store (doc 9 is unsettled: no verdict)
    store.appendUnique("documents",
      Seq((9L, longText(9, 30))).toDF("doc_id", "text"), Seq("doc_id"))
    ms.addData((9L, longText(9, 30)))
    run(flows.documentIngestFlow(df))
    assert(storedChunks() === batchEngine(), "crash-window replay heals")
    assert(storedChunks().exists(_._1 == 9L))
    // corrected re-send IN the crash window (review-caught): doc 11's
    // 30-token text reached the corpus, every derived write was lost,
    // and the retry carries a LONGER corrected text. The corpus keeps
    // the stored row (appendUnique), so the healed chunks AND the fps
    // sidecar must derive from the STORED 30-token text — deriving
    // from the re-sent 70-token text would append phantom chunk_ids
    // 1–2 and a sidecar row disagreeing with the corpus forever
    store.appendUnique("documents",
      Seq((11L, longText(11, 30))).toDF("doc_id", "text"), Seq("doc_id"))
    ms.addData((11L, longText(11, 70)))
    run(flows.documentIngestFlow(df))
    assert(storedChunks() === batchEngine(),
      "corrected crash-window re-send must chunk the STORED text")
    assert(storedChunks().count(_._1 == 11L) === 1, "30 tokens = 1 chunk")
    val fps11 = store.load("text_fps").filter(col("doc_id") === 11L)
      .select("n_chars").collect().map(_.getLong(0))
    assert(fps11.toSeq === Seq(longText(11, 30).length.toLong),
      "the fps sidecar must carry the stored row's length, not the re-send's")
    // GDPR purge: the subject's chunk rows go with the corpus rows
    graft.tables.Gdpr.purgeDocuments(store, Seq(1L))
    assert(!storedChunks().exists(_._1 == 1L), "purged doc's chunks must go")
    assert(storedChunks() === batchEngine(), "post-purge parity")
    assert(graft.tables.Gdpr.verifyErasure(store, Seq(1L)).isEmpty)
    graft.tables.TempDirs.delete(root)
  }

  test("shard store: incremental export == x136 rebuild at every batch boundary; replay no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingshard").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root, shardStore = true)
    val ms = MemoryStream[(Long, String, String)]
    def df = ms.toDS().toDF("doc_id", "lang", "text")
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"s${seed}_$i").mkString(" ")
    // name-based projection: the hive-partitioned read appends `lang`
    // after the data columns, the rebuild frame leads with it
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("lang", "window_id", "n_tok", "w_md5").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    def stored() = rows(store.load("shards"))
    def rebuilt() = rows(graft.operators.ShardExport
      .windowRowsOf(store.load("documents")
        .select("doc_id", "lang", "text")))
    // batch 1: en stream 300 tokens (W=256 → window 0 full, window 1
    // a 44-token partial tail); de stream one 60-token partial window
    ms.addData((1L, "en", words(1, 100)), (2L, "en", words(2, 200)),
      (3L, "de", words(3, 60)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "batch 1 parity")
    val tail0 = stored().find(w => w._1 == "en" && w._2 == 1L).get
    val full0 = stored().find(w => w._1 == "en" && w._2 == 0L).get
    assert(full0._3 === 256L && tail0._3 === 44L)
    // batch 2 extends en by 300 tokens: the PACKED window 0 must not
    // move (append-stability — byte-identical md5), the partial tail
    // rewrites full, a new partial appears; de is untouched
    ms.addData((4L, "en", words(4, 300)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "batch 2 parity")
    assert(stored().find(w => w._1 == "en" && w._2 == 0L).get === full0,
      "a packed window moved — append-stability broken")
    val tail1 = stored().find(w => w._1 == "en" && w._2 == 1L).get
    assert(tail1._3 === 256L && tail1._4 != tail0._4,
      "the trailing partial window must extend to full")
    assert(stored().find(w => w._1 == "en" && w._2 == 2L).get._3 === 88L)
    assert(stored().count(_._1 == "de") === 1)
    // replay of batch 2: shard store, state and cover all unchanged
    val v0 = (stored(), store.load("shard_state").collect().toSet,
      store.load("shard_cover").head.getLong(0))
    ms.addData((4L, "en", words(4, 300)))
    run(flows.documentIngestFlow(df))
    assert((stored(), store.load("shard_state").collect().toSet,
      store.load("shard_cover").head.getLong(0)) === v0,
      "replay must be a shard-store no-op")
    // crash window: corpus appended, shard write lost — the replayed
    // batch heals the store incrementally (doc 9 is unsettled)
    store.appendUnique("documents",
      Seq((9L, "de", words(9, 30))).toDF("doc_id", "lang", "text"),
      Seq("doc_id"))
    ms.addData((9L, "de", words(9, 30)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "crash-window replay heals")
    assert(stored().find(w => w._1 == "de" && w._2 == 0L).get._3 === 90L)
    // an OUT-OF-ORDER id (0 < every absorbed en doc) belongs
    // mid-stream — incremental append would misplace it, so the cover
    // check must fall back to a full rebuild, which re-packs it in
    // doc_id order (earlier windows legitimately move here)
    ms.addData((0L, "en", words(0, 50)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "out-of-order doc must trigger rebuild")
    assert(stored().find(w => w._1 == "en" && w._2 == 0L).get._4 != full0._4,
      "the rebuilt stream must start with doc 0's tokens")
    // GDPR purge: window arrays are not doc-keyed, so the purge
    // itself re-packs the remaining corpus — no purged token survives
    // the call, and the maintenance state resets with it
    graft.tables.Gdpr.purgeDocuments(store, Seq(1L))
    assert(stored() === rebuilt(), "purge must re-pack the shards")
    assert(!stored().exists(w => w._1 == "en" && w._4 == full0._4),
      "a window still carrying the purged doc's token stream survived")
    // and ingest keeps extending incrementally off the reset state
    ms.addData((20L, "de", words(20, 10)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "post-purge incremental parity")
    // crash INSIDE maintain: shards written, state/cover lost — the
    // replay must re-derive byte-identical windows (the tail segment
    // slices back to the state's recorded length, so an
    // already-extended tail row cannot double-absorb the batch —
    // review-caught). Simulate by reverting state+cover to their
    // pre-batch snapshot and re-running maintain with the same batch.
    val stateSnap = store.load("shard_state")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val coverSnap = store.load("shard_cover").head.getLong(0)
    val tailBatch = Seq((30L, "de", words(30, 40)))
    store.appendUnique("documents",
      tailBatch.toDF("doc_id", "lang", "text"), Seq("doc_id"))
    graft.operators.ShardExport.maintain(spark, store,
      tailBatch.toDF("doc_id", "lang", "text"))
    val afterFirst = stored()
    assert(afterFirst === rebuilt(), "first maintain parity")
    // crash: shards kept, state+cover roll back
    store.replace("shard_state",
      stateSnap.toSeq.toDF("lang", "max_doc_id", "total_toks"))
    store.replace("shard_cover", Seq(coverSnap).toDF("n_rows"))
    graft.operators.ShardExport.maintain(spark, store,
      tailBatch.toDF("doc_id", "lang", "text"))
    assert(stored() === afterFirst,
      "crash-window replay must not double-absorb the batch's tokens")
    assert(stored() === rebuilt(), "post-crash-replay parity")
    // a NULL shard key cannot be addressed incrementally — the batch
    // falls back to a full rebuild (never an unrecoverable throw on a
    // replaying stream) and the hive default partition carries it
    val nullBatch = Seq((40L, null.asInstanceOf[String], words(40, 20)))
    store.appendUnique("documents",
      nullBatch.toDF("doc_id", "lang", "text"), Seq("doc_id"))
    graft.operators.ShardExport.maintain(spark, store,
      nullBatch.toDF("doc_id", "lang", "text"))
    assert(rows(store.load("shards").filter(col("lang").isNull))
      .nonEmpty, "null-lang docs must still pack (default partition)")
    assert(stored() === rebuilt(), "null-lang fallback parity")
    // purging EVERYTHING leaves an empty but READABLE shard table
    // (a zero-row partitioned write would emit no parquet files and
    // wedge every later load — review-caught), and ingest resumes
    val allIds = store.load("documents").select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    graft.tables.Gdpr.purgeDocuments(store, allIds)
    assert(store.load("shards").count() === 0,
      "fully-purged corpus must read back as an empty shard table")
    ms.addData((50L, "en", words(50, 30)))
    run(flows.documentIngestFlow(df))
    assert(stored() === rebuilt(), "ingest resumes after a full purge")
    assert(stored().nonEmpty)
    // and the resume restored the lang-partitioned layout (the empty
    // table was necessarily flat; the first real batch rebuilds)
    val probe = store.load("shards").filter(col("lang") === "en")
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString
      .contains("PartitionFilters"),
      "resumed shard table lost its partitioned layout")
    graft.tables.TempDirs.delete(root)
  }

  test("schema upgrades cannot poison replays: a new batch column") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingschema").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root)
    val text = (0 until 40).map(i => s"w$i").mkString(" ")
    // a SOURCELESS corpus with doc 1 stuck in the crash window (no
    // verdict)
    store.appendUnique("documents",
      Seq((1L, text)).toDF("doc_id", "text"), Seq("doc_id"))
    // the upgraded pipeline re-sends doc 1 WITH a source column (an
    // all-re-send batch appends nothing, so `documents` never evolves):
    // the upgrade must heal in place, not throw on every deterministic
    // replay
    val ms = MemoryStream[(Long, String, String)]
    ms.addData((1L, text, "s1"))
    run(flows.documentIngestFlow(ms.toDS().toDF("doc_id", "text", "source")))
    val log = store.load("ingest_log").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(log(1L), "the healed re-send must settle with a verdict")
    // corpus truth: the sidecar's source is NULL (the corpus holds
    // none), never the re-send's 's1'
    val fps = store.load("text_fps").filter(col("doc_id") === 1L)
      .select("source").collect().map(r => Option(r.getString(0)))
    assert(fps.toSeq === Seq(None),
      "sidecar must carry the corpus-truth (absent) source")
    graft.tables.TempDirs.delete(root)
  }
}
