package graft

import java.nio.file.Files
import graft.functions.TextFns
import graft.operators.SpanDedup
import graft.sources.Tables
import graft.streaming.IngestionFlows
import graft.tables.TableStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-doc repeated-span removal (the x85 transform): ownership,
  * coverage, and the cleaned-corpus invariant — after excision, no
  * originally cross-doc-duplicated 5-gram survives as a contiguous
  * span in more than one document. */
class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def clean(rows: Seq[(Long, String)], n: Int = 5,
      minRun: Int = 1): Map[Long, (Long, String)] = {
    import spark.implicits._
    SpanDedup.cleanedCorpus(rows.toDF("doc_id", "text"), n, minRun)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))
      .toMap
  }

  test("grams_with_sentinel equals the lead()-window gram rebuild") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val n = 5
    val rnd = new scala.util.Random(85)
    // random token arrays incl. lengths < n (all-sentinel docs) and a
    // doc with repeated tokens
    val rows = (0L until 40L).map { id =>
      val len = rnd.nextInt(12)
      (id, (0 until len).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
    } :+ (99L, "a a a a a a a")
    val docs = rows.toDF("doc_id", "text").filter(col("text") =!= "")
    // the r12 construction the expression replaces, byte for byte
    val byDoc = Window.partitionBy("doc_id").orderBy("tp")
    val tok = docs.select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("tp", "token")))
    val oldGram = when(lead(col("token"), n - 1).over(byDoc).isNotNull,
      concat_ws(" ", col("token") +:
        (1 until n).map(k => lead(col("token"), k).over(byDoc)): _*))
      .otherwise(concat(col("doc_id").cast("string"), lit("#"),
        col("tp").cast("string")))
    val old = tok.withColumn("gram", oldGram)
      .select(col("doc_id"), col("tp"), col("gram"))
    val mine = docs.select(col("doc_id"),
      posexplode(graft.functions.expressions.TextExpressions
        .grams_with_sentinel(TextFns.tokens(col("text")),
          col("doc_id").cast("string"), n)).as(Seq("tp", "gram")))
      .select(col("doc_id"), col("tp").cast("int").as("tp"), col("gram"))
    assert(mine.exceptAll(old).count() === 0 &&
      old.exceptAll(mine).count() === 0,
      "narrow grams differ from the lead()-window rebuild")
  }

  test("hashed_bucket_counts equals the md5Bits16 explode+count pipeline") {
    import spark.implicits._
    val B = 64
    val docs = Tables.table(spark, TestSpark.sf, "documents")
      .filter(col("text").isNotNull).limit(200)
    // the per-token relational pipeline the expression replaces
    val old = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("tk"))
      .withColumn("bk", TextFns.md5Bits16(col("tk")) % B)
      .groupBy("doc_id", "bk").agg(count(lit(1)).as("c"))
    val mine = docs.select(col("doc_id"),
      posexplode(graft.functions.expressions.TextExpressions
        .hashed_bucket_counts(TextFns.tokens(col("text")), B))
        .as(Seq("bk", "c")))
      .filter(col("c") > 0)
    assert(mine.exceptAll(old).count() === 0 &&
      old.exceptAll(mine).count() === 0,
      "fused bucket counts differ from the md5Bits16 pipeline")
  }

  test("owner (min doc_id) keeps all its occurrences; non-owner loses the span") {
    val out = clean(Seq(
      (1L, "a b c d e f"),
      (2L, "z a b c d e")))
    // dup gram "a b c d e": doc 1 owns it, doc 2's tokens 1..5 are
    // covered by the removed span at position 1
    assert(out(1L) === ((0L, "a b c d e f")))
    assert(out(2L) === ((5L, "z")))
  }

  test("identical docs: the non-owner is fully excised, empty survives as ''") {
    val out = clean(Seq((1L, "a b c d e"), (2L, "a b c d e")))
    assert(out(1L) === ((0L, "a b c d e")))
    assert(out(2L) === ((5L, "")))
  }

  test("docs shorter than the span length are never touched, even when identical") {
    val out = clean(Seq((1L, "a b c"), (2L, "a b c")))
    assert(out(1L) === ((0L, "a b c")))
    assert(out(2L) === ((0L, "a b c")))
  }

  test("overlapping removed spans excise the union of their coverage") {
    // docs 2's "a b c d e" (pos 1) and "c d e f g" (pos 3) both dup →
    // tokens 1..7 go, keeping only the ends
    val out = clean(Seq(
      (1L, "a b c d e x y c d e f g"),
      (2L, "q a b c d e f g r")))
    assert(out(2L)._2 === "q r")
    assert(out(2L)._1 === 7L)
    assert(out(1L) === ((0L, "a b c d e x y c d e f g")))
  }

  test("within-doc repetition alone is not cross-doc duplication") {
    val out = clean(Seq(
      (1L, "a b c d e a b c d e"),
      (2L, "totally unrelated content words here")))
    assert(out(1L)._1 === 0L)
    assert(out(2L)._1 === 0L)
  }

  test("minRun: a covered run shorter than L survives untouched; a run >= L is excised") {
    // doc 2 carries TWO duplicated stretches of doc 1's text: a 5-token
    // one ("a b c d e") and an 8-token one ("p q r s t u v w").
    // At L=8 only the long run goes; at L=1 (default) both go.
    val docs = Seq(
      (1L, "a b c d e x1 x2 p q r s t u v w"),
      (2L, "m1 a b c d e m2 p q r s t u v w m3"))
    val strict = clean(docs, 5, 8)
    assert(strict(1L) === ((0L, "a b c d e x1 x2 p q r s t u v w")))
    assert(strict(2L) === ((8L, "m1 a b c d e m2 m3")))
    val loose = clean(docs)
    assert(loose(2L) === ((13L, "m1 m2 m3")))
  }

  test("minRun: adjacent covered positions merge into ONE maximal run across gram joins") {
    // doc 2's tokens 1..10 are covered by two OVERLAPPING duplicated
    // 5-gram spans from different positions — they must merge into a
    // single 10-token run (>= L=10), not two runs of < 10
    val out = clean(Seq(
      (1L, "a b c d e x y f g h i j"),
      (2L, "z a b c d e f g h i j w")), 5, 10)
    assert(out(2L) === ((10L, "z w")))
    assert(out(1L)._1 === 0L)
  }

  test("minRun=1 is exactly the x85 semantics") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "q a b c d e r"))
    assert(clean(docs) === clean(docs, 5, 1))
  }

  test("fixture invariant at L=20: runs < L survive, no dup run >= L survives; fixed point") {
    val docs = Tables.table(spark, TestSpark.sf, "documents")
    val cleaned = SpanDedup.cleanedCorpus(docs, 5, 20)
    val all = SpanDedup.cleanedCorpus(docs, 5, 1)
    // non-vacuous: the fixture has BOTH populations — docs whose
    // covered runs are all short (untouched at L=20 but touched at
    // L=1) and docs with >= 20-token cloned passages
    val touched20 = cleaned.filter(col("n_removed") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val touched1 = all.filter(col("n_removed") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(touched20.nonEmpty, "no >= 20-token cloned passage in fixture")
    assert((touched1 -- touched20).nonEmpty,
      "no short-run-only doc in fixture — the threshold is vacuous")
    // short-run-only docs come through byte-identical
    val untouched = cleaned.filter(col("n_removed") === 0)
      .join(docs, Seq("doc_id"))
      .filter(col("clean_text") =!= col("text"))
    assert(untouched.isEmpty, "an untouched doc's text changed")
    // fixed point: re-running the L=20 transform on the cleaned corpus
    // removes nothing — i.e. no duplicated run >= 20 survived anywhere
    val again = SpanDedup.cleanedCorpus(
      cleaned.select(col("doc_id"), col("lang"),
        col("clean_text").as("text")), 5, 20)
    assert(again.filter(col("n_removed") > 0).isEmpty,
      "a >= 20-token duplicated run survived the first pass")
  }

  test("fixture invariant: no originally cross-doc-dup 5-gram survives in >1 cleaned doc") {
    val docs = Tables.table(spark, TestSpark.sf, "documents")
    def grams(df: org.apache.spark.sql.DataFrame, textCol: String) = df
      .filter(col(textCol).isNotNull)
      .select(col("doc_id"), explode(
        TextFns.allShingles(TextFns.tokens(col(textCol)), 5)).as("gram"))
      .distinct()
    val dupGrams = grams(docs, "text")
      .groupBy("gram").agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx")).select("gram")
    val cleaned = SpanDedup.cleanedCorpus(docs, 5)
    // sanity: the fixture actually exercises the transform
    assert(cleaned.filter(col("n_removed") > 0).count() > 0,
      "fixture has no cross-doc spans — invariant is vacuous")
    val survivors = grams(cleaned, "clean_text")
      .join(dupGrams, Seq("gram"))
      .groupBy("gram").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
    assert(survivors.isEmpty,
      s"dup spans survived in >1 doc: ${survivors.take(5).mkString(", ")}")
    // and conservation: removal only ever shrinks a doc
    assert(cleaned.filter(
      size(TextFns.tokens(col("clean_text"))) >
        col("n_tokens")).isEmpty)
  }

  test("ingest flow sibling: documents_clean tracks the corpus across batches; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spanclean").toString
    val store = new TableStore(spark, root)
    val flows = new IngestionFlows(spark, store, root, spanClean = true)
    val ms = MemoryStream[(Long, String)]
    def df = ms.toDS().toDF("doc_id", "text")
    def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.processAllAvailable(); q.stop()
    }
    def cleanState(): Map[Long, (Long, String)] =
      store.load("documents_clean").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toMap
    // batch 1: no cross-doc dup yet
    ms.addData((1L, "alpha beta gamma delta epsilon zeta"),
      (5L, "one two three four five six seven"))
    run(flows.documentIngestFlow(df))
    assert(cleanState().values.forall(_._1 === 0L))
    // batch 2: doc 9 shares doc 1's 5-gram span → the NEW doc loses it
    // (doc 1, smaller id, owns); doc 1's existing cleaned row must be
    // recomputed-but-unchanged
    ms.addData((9L, "prefix alpha beta gamma delta epsilon suffix"))
    run(flows.documentIngestFlow(df))
    val st = cleanState()
    assert(st(1L)._1 === 0L)
    assert(st(9L) === ((5L, "prefix suffix")))
    // the derived table equals a from-scratch transform of the corpus
    val batch = SpanDedup.cleanedCorpus(store.load("documents"), 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toMap
    assert(st === batch)
    // replay: re-sending batch 2 changes nothing anywhere
    ms.addData((9L, "prefix alpha beta gamma delta epsilon suffix"))
    run(flows.documentIngestFlow(df))
    assert(cleanState() === st)
    assert(store.load("documents").count() === 3)
  }
}
