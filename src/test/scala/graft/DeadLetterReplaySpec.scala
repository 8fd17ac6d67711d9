package graft

import java.nio.file.Files
import graft.streaming.{CdcCodec, DeadLetterReplay}
import graft.tables.TableStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quarantine drain: after a codec fix, replay re-parses dead-letter
  * payloads, merges the now-decodable rows through the flow's own
  * idempotent MERGE, removes exactly those payloads, and leaves
  * still-broken rows (and other flows' rows) in place. */
class DeadLetterReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh() =
    new TableStore(spark, Files.createTempDirectory("graft-dlq").toString)

  /** JSON-string-quote a document the way the connector's
    * JsonConverter does (CdcCodecSpec's convention). */
  private def q(doc: String): String =
    "\"" + doc.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // an evento post-image in the LEGACY id form (plain "_id" string,
  // not extended-JSON {"$oid": ...}) — the v1 codec null-ids it
  private def legacyEvento(id: String, nombre: String): String =
    q(s"""{"_id":"$id","nombre":"$nombre","capacidad":50,""" +
      """"categoria":"Cultural","estado":"A"}""")

  test("replay drains only the rows the fixed codec decodes; idempotent") {
    import spark.implicits._
    val store = fresh()
    store.init("eventos", Seq.empty[(String, String, Int, String, String)]
      .toDF("id", "nombre", "capacidad", "categoria", "estado"))
    // quarantine: two payloads in a legacy id form the v1 codec
    // null-ids (the "bug" the fix addresses), one genuinely broken
    // payload, and one row belonging to ANOTHER flow
    store.init("dead_letter", Seq(
      ("event_creation", legacyEvento("a" * 24, "Opera Boheme")),
      ("event_creation", legacyEvento("b" * 24, "Rock Fest")),
      ("event_creation", "{totally broken"),
      ("other_flow", legacyEvento("c" * 24, "Not Mine")))
      .toDF("flow", "raw"))

    // v1 codec: rejects all four (BOM breaks the quote-stripping)
    assert(CdcCodec.parseEvento(
      store.load("dead_letter").select(col("raw").as("value")))
      .filter(col("id").isNotNull).count() === 0L)

    // the "fixed" codec additionally understands the legacy id form —
    // it parses DIFFERENTLY but echoes the payload verbatim as `raw`
    // (the drain contract)
    def fixedParse(df: org.apache.spark.sql.DataFrame) = {
      val legacy = new org.apache.spark.sql.types.StructType()
        .add("_id", org.apache.spark.sql.types.StringType)
      CdcCodec.parseEvento(df).withColumn("id",
        coalesce(col("id"),
          from_json(CdcCodec.unquote(col("raw")), legacy).getField("_id")))
    }

    val n = DeadLetterReplay.replay(store, "event_creation", fixedParse) {
      good =>
        store.appendUnique("eventos",
          good.select("id", "nombre", "capacidad", "categoria", "estado"),
          Seq("nombre"))
    }
    assert(n === 2L)
    assert(store.load("eventos").select("nombre").as[String]
      .collect().sorted.toSeq === Seq("Opera Boheme", "Rock Fest"))
    // quarantine: the broken row and the other flow's row survive
    val left = store.load("dead_letter").collect()
      .map(r => (r.getString(0), r.getString(1).take(8))).toSet
    assert(left.map(_._1) === Set("event_creation", "other_flow"))
    assert(left.exists(_._2.startsWith("{totally")))
    // second replay: nothing decodable remains for this flow
    assert(DeadLetterReplay.replay(store, "event_creation", fixedParse)(
      _ => fail("apply must not run on an empty drain")) === 0L)
  }
}
