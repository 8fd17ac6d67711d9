package graft

import java.nio.file.Files
import graft.operators.{ShingleIndex, SpanDedup, VectorIndex}
import graft.streaming.IngestionFlows
import graft.tables.{Gdpr, TableStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GDPR erasure through the DERIVED stores: purging a document must
  * leave no trace in anything the pipeline materialized from it — the
  * flow-maintained decision/clean tables (explicitly recomputed by
  * [[Gdpr.purgeDocuments]]) and the fingerprint-versioned stored query
  * indexes (invalidated by the corpus rewrite itself, rebuilt on the
  * next probe). */
class GdprDerivedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("purgeDocuments erases the doc from corpus, decisions, clean view and log — and derived rows REGROW") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-gdprdoc").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root, spanClean = true)
    val ms = MemoryStream[(Long, String)]
    // 1 and 7 identical (near-dup cluster, 1 canonical); 9 shares 1's
    // 5-gram span (loses it to owner 1); 5 unrelated
    ms.addData(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (7L, "alpha beta gamma delta epsilon zeta"),
      (9L, "prefix alpha beta gamma delta epsilon suffix"),
      (5L, "one two three four five six seven"))
    val q = flows.documentIngestFlow(ms.toDS().toDF("doc_id", "text"))
    q.processAllAvailable(); q.stop()

    def cleanOf(id: Long): String = store.load("documents_clean")
      .filter(col("doc_id") === id).select("clean_text")
      .collect().head.getString(0)
    assert(store.load("documents").count() === 4)
    assert(cleanOf(7L) === "", "non-owner twin fully excised pre-purge")
    assert(cleanOf(9L) === "prefix suffix")
    val dec1 = store.load("dedup_decisions")
      .filter(col("doc_id").isin(1L, 7L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("canonical")).toMap
    assert(dec1 === Map(1L -> true, 7L -> false))

    // purge doc 1: the subject's document disappears everywhere, AND
    // derived state regrows — 7 becomes canonical of its (now
    // 1-less) cluster, and spans 1 owned are re-owned or freed
    assert(Gdpr.purgeDocuments(store, Seq(1L)) === 1L)
    assert(store.load("documents").filter(col("doc_id") === 1L).isEmpty)
    assert(store.load("documents_clean").filter(col("doc_id") === 1L).isEmpty)
    assert(store.load("dedup_decisions").filter(col("doc_id") === 1L).isEmpty)
    assert(store.load("ingest_log").filter(col("doc_id") === 1L).isEmpty)
    // re-elected canonical: 7 is now the smallest of its cluster (or
    // unclustered) — either way its decision row must not say "dropped
    // as a near-dup of the erased doc"
    val dec7 = store.load("dedup_decisions").filter(col("doc_id") === 7L)
      .collect().map(_.getAs[Boolean]("canonical"))
    assert(dec7.isEmpty || dec7.head === true)
    // span ownership shifted to 7 (new min doc_id): 7 regrows its full
    // text; 9 still loses the span to 7
    assert(cleanOf(7L) === "alpha beta gamma delta epsilon zeta")
    assert(cleanOf(9L) === "prefix suffix")
    // the derived tables equal a from-scratch build of the purged
    // corpus (recompute, not patch)
    val fromScratch = SpanDedup.cleanedCorpus(store.load("documents"), 5)
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val derived = store.load("documents_clean")
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(derived === fromScratch)
    // idempotent, and verification reports nothing left behind
    assert(Gdpr.purgeDocuments(store, Seq(1L)) === 0L)
    assert(Gdpr.verifyErasure(store, Seq(1L)) === Map.empty)
  }

  test("purging a quality-rejected doc erases its verdict row even though no corpus row exists") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-gdprq").toString
    val store = new TableStore(spark, root)
    // a restrictive gate: doc 3's two-token text fails the floor and
    // never reaches the corpus — only its (admitted=false,'quality')
    // log row exists
    val flows = new IngestionFlows(spark, store, root,
      quality = graft.streaming.IngestQuality(minTokens = 3))
    val ms = MemoryStream[(Long, String)]
    ms.addData((3L, "too short"),
      (4L, "this document is long enough to pass the floor"))
    val q = flows.documentIngestFlow(ms.toDS().toDF("doc_id", "text"))
    q.processAllAvailable(); q.stop()
    assert(store.load("documents").filter(col("doc_id") === 3L).isEmpty)
    assert(store.load("ingest_log").filter(col("doc_id") === 3L)
      .count() === 1L)
    // the purge returns 0 corpus rows but MUST still drop the verdict
    // row — it is a record about the subject's document
    assert(Gdpr.purgeDocuments(store, Seq(3L)) === 0L)
    assert(store.load("ingest_log").filter(col("doc_id") === 3L).isEmpty)
    assert(Gdpr.verifyErasure(store, Seq(3L)) === Map.empty)
  }

  test("re-purge clears stale derived rows even when the corpus rows are already gone") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-gdprrace").toString
    val store = new TableStore(spark, root)
    store.init("documents",
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (9L, "prefix alpha beta gamma delta epsilon suffix"))
        .toDF("doc_id", "text"))
    store.replace("documents_clean",
      SpanDedup.cleanedCorpus(store.load("documents"), 5))
    assert(Gdpr.purgeDocuments(store, Seq(1L)) === 1L)
    assert(Gdpr.verifyErasure(store, Seq(1L)) === Map.empty)
    // simulate the documented race: an in-flight ingest batch pinned a
    // pre-purge snapshot and overwrote the derived table with it
    store.replace("documents_clean",
      Seq((1L, "stale lang", 6L, 0L, "alpha beta gamma delta epsilon zeta"),
        (9L, "stale lang", 7L, 5L, "prefix suffix"))
        .toDF("doc_id", "lang", "n_tokens", "n_removed", "clean_text"))
    assert(Gdpr.verifyErasure(store, Seq(1L)) === Map("documents_clean" -> 1L))
    // the remedy loop: an idempotent RE-purge (0 corpus rows deleted)
    // must still converge the derived stores
    assert(Gdpr.purgeDocuments(store, Seq(1L)) === 0L)
    assert(Gdpr.verifyErasure(store, Seq(1L)) === Map.empty)
    // and the recompute restored doc 9's true post-purge clean state
    val c9 = store.load("documents_clean").filter(col("doc_id") === 9L)
      .select("n_removed").head.getLong(0)
    assert(c9 === 0L, "doc 9 should own its spans once doc 1 is purged")
  }

  test("unigram LM builds an empty model on a fully-purged corpus instead of crashing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lmempty").toString
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val lm = graft.operators.UnigramLM.forDir(spark, dir)
    assert(lm.load("freq").isEmpty)
    assert(lm.load("stats").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 0L)))
    // the probing queries return empty, not an error
    assert(SparkEntry.queries("x87_unigram_lm")(spark, dir).isEmpty)
    assert(SparkEntry.queries("x90_pmi_bigrams")(spark, dir).isEmpty)
  }

  test("stored query indexes cannot surface purged content: fingerprint versioning forces rebuild") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-gdpridx").toString
    val uniq = "zzqx" // token only doc 42 ever carried
    def docRows(withPurged: Boolean) = {
      val base = Seq(
        (42L, s"alpha beta gamma delta epsilon $uniq theta iota kappa lambda", "en", "web"),
        (43L, s"alpha beta gamma delta epsilon $uniq theta iota kappa lambda", "en", "web"),
        (50L, "one two three four five six seven eight nine ten", "en", "web"),
        (51L, "red orange yellow green blue indigo violet pink brown black", "en", "web"),
        (52L, "spark engines process corpora with catalyst optimizer rules applied", "en", "web"))
      (if (withPurged) base else base.filterNot(_._1 == 42L))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    def embRows(withPurged: Boolean) = {
      // vec 42 duplicates vec 0's embedding exactly — guaranteed to
      // share its SRP buckets and sit at the top of any ANN result
      val all = (Seq(0L, 1L, 2L, 3L) :+ 42L).map { id =>
        val r = new scala.util.Random(if (id == 42L) 0L else id)
        (id, Array.fill(64)(r.nextFloat() * 2 - 1), id.toInt % 7)
      }
      (if (withPurged) all else all.filterNot(_._1 == 42L))
        .toDF("vec_id", "embedding", "label")
    }
    docRows(withPurged = true).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    embRows(withPurged = true).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    // pre-purge: every surface sees doc/vec 42
    val x34 = SparkEntry.queries("x34_dedup_clusters")
    val x11 = SparkEntry.queries("x11_ann_lsh")
    val x20 = SparkEntry.queries("x20_ann_ivf")
    assert(x34(spark, dir).filter(col("doc_id") === 42L).count() === 1)
    assert(x11(spark, dir).filter(col("vec_id") === 42L).count() === 1)
    assert(x20(spark, dir).filter(col("vec_id") === 42L).count() === 1)
    assert(ShingleIndex.forDir(spark, dir).load("pfx3")
      .filter(col("doc_id") === 42L).count() > 0)
    // the lexical serving tier (r17 postings index) sees 42's content
    assert(graft.operators.TextQueries.bm25ScoredFor(spark, dir, Seq(uniq))
      .filter(col("doc_id") === 42L).count() === 1)
    assert(graft.operators.PostingsIndex.forDir(spark, dir)
      .load("postings").filter(col("doc_id") === 42L).count() > 0)

    // erase doc/vec 42 (copy-on-write corpus rewrite — in the
    // TableStore path this is deleteWhere; here the corpus dir is the
    // plain-parquet serving layout, so the rewrite IS the erasure)
    docRows(withPurged = false).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    embRows(withPurged = false).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    // post-purge: every probe rebuilds from the purged corpus — no
    // query output and no index table can surface 42 or its content
    assert(x34(spark, dir).filter(col("doc_id") === 42L).isEmpty)
    assert(x11(spark, dir).filter(col("vec_id") === 42L).isEmpty)
    assert(x20(spark, dir).filter(col("vec_id") === 42L).isEmpty)
    val shingle = ShingleIndex.forDir(spark, dir)
    assert(shingle.load("pfx3").filter(col("doc_id") === 42L).isEmpty)
    assert(shingle.load("bands3").filter(col("doc_id") === 42L).isEmpty)
    assert(shingle.load("ex8h").filter(col("doc_id") === 42L).isEmpty)
    assert(VectorIndex.forDir(spark, dir).corpus
      .filter(col("vec_id") === 42L).isEmpty)
    // postings rebuild: 42's rows gone from the stored index AND from
    // the serving probes (BM25 + phrase both ride it) — doc 43 still
    // carries the token, so the probes themselves stay exercised
    val ps = graft.operators.PostingsIndex.forDir(spark, dir)
    assert(ps.load("postings").filter(col("doc_id") === 42L).isEmpty)
    assert(ps.load("cpostings").filter(col("doc_id") === 42L).isEmpty)
    val bm = graft.operators.TextQueries.bm25ScoredFor(spark, dir, Seq(uniq))
    assert(bm.filter(col("doc_id") === 42L).isEmpty)
    assert(bm.filter(col("doc_id") === 43L).count() === 1)
    val ph = graft.operators.TextQueries.phraseMatchesFor(spark, dir,
      Seq("epsilon", uniq, "theta"))
    assert(ph.filter(col("doc_id") === 42L).isEmpty)
    assert(ph.filter(col("doc_id") === 43L).count() === 1)
  }

  test("purge sweeps the r14 doc-keyed stores: media corpus/fps/log + packing spans; re-send re-enters the gate") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.MediaCodec
    val root = Files.createTempDirectory("graft-gdprmedia").toString
    val store = new TableStore(spark, root)
    // checkpointed: the post-purge batch must process ONLY the new
    // arrival (an uncheckpointed MemoryStream would replay the purged
    // doc itself alongside it)
    val flows = new IngestionFlows(spark, store, root,
      checkpointRoot = Some(root))
    val ms = MemoryStream[(Long, Array[Byte])]
    val imgA = MediaCodec.encodePng(9, 8, (x, _) => x * 10)
    val imgB = MediaCodec.encodePng(9, 8, (x, _) => (8 - x) * 10)
    ms.addData((1L, imgA), (2L, imgB))
    val q = flows.mediaIngestFlow(ms.toDS().toDF("doc_id", "payload"))
    q.processAllAvailable(); q.stop()
    assert(store.load("media_docs").count() === 2)
    // and a packing manifest referencing both docs
    store.appendUnique("packing_manifest",
      Seq(("en", 0L, 1L, 0L, 5L), ("en", 0L, 2L, 0L, 3L))
        .toDF("lang", "window_id", "doc_id", "start_tok", "end_tok"),
      Seq("doc_id", "window_id"))

    Gdpr.purgeDocuments(store, Seq(1L))
    Seq("media_docs", "media_fps", "media_ingest_log", "packing_manifest")
      .foreach { t =>
        assert(store.load(t).filter(col("doc_id") === 1L).isEmpty,
          s"purged doc survives in $t")
      }
    assert(Gdpr.verifyErasure(store, Seq(1L)).isEmpty)
    assert(store.load("media_docs").count() === 1, "doc 2 untouched")
    assert(store.load("packing_manifest").count() === 1)

    // with the fingerprint gone, the SAME bytes re-sent under a new id
    // are evaluated fresh and ADMITTED — erasure means the system
    // forgot the content, not just the row
    ms.addData((9L, imgA))
    val q2 = flows.mediaIngestFlow(ms.toDS().toDF("doc_id", "payload"))
    q2.processAllAvailable(); q2.stop()
    val v = store.load("media_ingest_log").filter(col("doc_id") === 9L)
      .collect().head
    assert(v.getBoolean(1), "re-sent erased content must re-enter the gate")
    graft.tables.TempDirs.delete(root)
  }
}
