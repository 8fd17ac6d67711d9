package graft

import java.nio.file.Files
import graft.streaming.Flows
import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput bench: pushes every lineitem row of
  * SPARK_GRAFT_SF_DIR through the FULL admission flow (validation,
  * redelivery dedup, per-key fold, table swaps, rejection log) and
  * prints one JSON line per measurement with requests/sec.
  *
  * Two batching regimes:
  *   - `admission_throughput`: the whole corpus as ONE micro-batch —
  *     peak bulk throughput.
  *   - `admission_throughput_multibatch`: the corpus split into
  *     SPARK_GRAFT_STREAM_ROUNDS micro-batches through one long-running
  *     query — the steady-state regime, where the flow pays
  *     O(table + history) per trigger (snapshot reload + anti-join
  *     against the growing reservas registry).
  *
  * Context for the numbers: the reference consumes ONE message at a
  * time per topic partition (single-partition topics, blocking
  * channel, commit-per-message — clientes.yaml:151, inventario/
  * main.go:50-66), so its ceiling is a few hundred messages/sec per
  * consumer. */
object StreamBench {
  case class R(id: String, evento: String, email: String, cantidad: Int, seq: Long)
  /** A raw two-topic CDC wire message (KafkaIO.readTopics shape). */
  case class M(topic: String, value: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variant = sys.env.getOrElse("SPARK_GRAFT_STREAM_VARIANT", "both")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROUNDS", "10").toInt
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val requests = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      lower(md5(concat(col("l_orderkey"), lit("-"), col("l_linenumber"),
        lit("-"), col("l_partkey")))).substr(1, 24).as("id"),
      col("l_partkey").cast("string").as("evento"),
      lit("e@y.z").as("email"),
      col("l_quantity").cast("int").as("cantidad"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("seq"))
      .as[R].collect()
    val n = requests.length

    def freshStore(): TableStore = {
      val root = Files.createTempDirectory("graft-streambench").toString
      val store = new TableStore(spark, root)
      store.init("inventario", MergeOps.inventarioClones(
        spark.read.parquet(s"$sfDir/part.parquet").select(
          col("p_partkey").cast("string").as("id"),
          col("p_partkey").cast("string").as("nombre"),
          (col("p_size") * 1000).as("capacidad"),
          lit("Cat").as("categoria"), lit("A").as("estado"))))
      store.init("reservas", graft.sources.Tables.reservas(spark).limit(0))
      store
    }

    def run(metric: String, nRounds: Int): Unit = {
      val store = freshStore()
      // long-running trigger so each addData round is its own
      // micro-batch of ONE live query
      val flows = new Flows(spark, store,
        trigger = Trigger.ProcessingTime(0))
      // multi-partition source: a single-partition MemoryStream would
      // serialize every scan of the batch through one thread
      val ms = MemoryStream[R](spark, LocalSession.cpus)
      val chunk = (n + nRounds - 1) / nRounds
      val t0 = System.nanoTime()
      val q = flows.admissionFlow(ms.toDS().toDF())
      requests.grouped(chunk).foreach { c =>
        ms.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val admitted = store.load("reservas").count()
      println(s"""{"metric":"$metric","requests":$n,"admitted":$admitted,""" +
        s""""batches":$nRounds,"sec":$secs,"req_per_sec":${(n / secs).toLong},"sf":"$sfDir"}""")
    }

    // ------------------------------------------------------------------
    // consumerFlow end-to-end (the reference's whole async consumer
    // topology, inventario/main.go:56-133): two-topic subscribe +
    // routing + JSON unquote/parse + idempotent registration + cascade
    // cancels + once-only seat returns, under 5% redelivery. Wire
    // messages are string-quoted JSON post-images — exactly what the
    // connector puts on the topics.
    def jq(doc: String): String =
      "\"" + doc.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def runConsumer(metric: String, nRounds: Int): Unit = {
      val store = freshStore()
      val flows = new Flows(spark, store, trigger = Trigger.ProcessingTime(0))
      val inserts = requests.map { r =>
        M("boletia.inventario", jq(
          s"""{"_id": {"$$oid": "${r.id.reverse}"}, "nombre": "${r.evento}", """ +
            s""""capacidad": 100, "categoria": "Cat", "estado": "A", """ +
            s""""idres": {"$$oid": "${r.id}"}, "email": "${r.email}", """ +
            s""""canres": ${r.cantidad}}"""))
      }
      // every 10th registered reservation comes back as a customer
      // cancel (estado X → seat return); one organizer cancel per
      // round exercises the cascade branch every micro-batch
      val returns = requests.zipWithIndex.collect { case (r, i) if i % 10 == 0 =>
        M("boletia.reservas", jq(
          s"""{"_id": {"$$oid": "${r.id}"}, "evento": "${r.evento}", """ +
            s""""estado": "X", "email": "${r.email}", "cantidad": ${r.cantidad}}"""))
      }
      val cancels = requests.take(nRounds).map { r =>
        M("boletia.inventario", jq(
          s"""{"_id": {"$$oid": "${r.id.reverse}"}, "nombre": "${r.evento}", """ +
            s""""capacidad": 100, "categoria": "Cat", "estado": "C", """ +
            s""""idres": null, "email": null, "canres": null}"""))
      }
      // 5% redelivery: duplicate every 20th message (both topics) —
      // the registration appendUnique and the devoluciones anti-join
      // must absorb them without double effects
      val base = inserts ++ cancels ++ returns
      val msgs = base ++ base.zipWithIndex.collect {
        case (m, i) if i % 20 == 0 => m
      }
      val nm = msgs.length
      val ms = MemoryStream[M](spark, LocalSession.cpus)
      val chunk = (nm + nRounds - 1) / nRounds
      val t0 = System.nanoTime()
      val q = flows.consumerFlow(ms.toDS().toDF())
      msgs.grouped(chunk).foreach { c =>
        ms.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val registered = store.load("reservas").count()
      val returned = store.load("devoluciones").count()
      println(s"""{"metric":"$metric","messages":$nm,"registered":$registered,""" +
        s""""returned":$returned,"batches":$nRounds,"sec":$secs,""" +
        s""""msg_per_sec":${(nm / secs).toLong},"sf":"$sfDir"}""")
    }

    // ------------------------------------------------------------------
    // S19 pack-on-ingest throughput: the documents corpus through the
    // full PackingFlow topology (codegen tokenize → per-shard typed
    // ValueState offset fold + offset-scoped dedup map → manifest
    // appendUnique). RocksDB provider — transformWithState requires
    // multiple column families. Reported per-batch docs/sec is the
    // ingest-side rate a trainer's window supply sustains.
    def runPacking(metric: String, nRounds: Int): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      val root = Files.createTempDirectory("graft-streambench-pack").toString
      val store = new TableStore(spark, root)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("lang").cast("string"),
          col("text"))
        .as[(Long, String, String)].collect()
      val nd = docs.length
      val ms = MemoryStream[(Long, String, String)](spark, LocalSession.cpus)
      val chunk = (nd + nRounds - 1) / nRounds
      val t0 = System.nanoTime()
      val q = graft.streaming.PackingFlow.flow(store,
        ms.toDS().toDF("doc_id", "lang", "text"),
        trigger = Trigger.ProcessingTime(0))
      docs.grouped(chunk).foreach { c =>
        ms.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val spans = store.load("packing_manifest").count()
      println(s"""{"metric":"$metric","docs":$nd,"spans":$spans,""" +
        s""""batches":$nRounds,"sec":$secs,""" +
        s""""docs_per_sec":${(nd / secs).toLong},"sf":"$sfDir"}""")
    }

    // ------------------------------------------------------------------
    // S22 gated document-ingest throughput: the documents corpus
    // through documentIngestFlow with the quality AND source-cap
    // gates on. Since r15 both hot-path legs are O(batch)-shaped: the
    // cap denominators come from the source_mass view (version-diff
    // IVM — the r14 form re-scanned the corpus's full text mass every
    // trigger, measured 105 docs/s steady-state with the gate biting)
    // and the dedup decisions merge incrementally (batch-side
    // neighbor broadcast against one narrow scan of the stored
    // fingerprints + affected-cluster re-election, replacing the r14
    // full-corpus recompute per trigger).
    def runIngest(metric: String, nRounds: Int,
        chunkStore: Boolean = false, shardStore: Boolean = false): Unit = {
      val root = Files.createTempDirectory("graft-streambench-ingest").toString
      val store = new TableStore(spark, root)
      val flows = new graft.streaming.IngestionFlows(spark, store, root,
        trigger = Trigger.ProcessingTime(0),
        quality = graft.streaming.IngestQuality(minTokens = 2),
        // the fixture's 20 sources hold ~5% each — a 3% cap makes the
        // gate genuinely bite, so the measurement covers the refusal
        // path (log upserts), not just the pass-through
        sourceCapPct = Some(3),
        chunkStore = chunkStore,
        shardStore = shardStore)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"),
          col("source").cast("string"), col("lang").cast("string"))
        .as[(Long, String, String, String)].collect()
      val nd = docs.length
      val ms = MemoryStream[(Long, String, String, String)](spark, LocalSession.cpus)
      val chunk = (nd + nRounds - 1) / nRounds
      val t0 = System.nanoTime()
      val q = flows.documentIngestFlow(
        ms.toDS().toDF("doc_id", "text", "source", "lang"))
      docs.grouped(chunk).foreach { c =>
        ms.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val log = store.load("ingest_log")
      val admitted = log.filter(col("admitted")).count()
      val capped = log.filter(col("reason") === "source_cap").count()
      val chunks =
        if (!chunkStore || !store.exists("chunks")) ""
        else s""""chunks":${store.load("chunks").count()},"""
      val shards =
        if (!shardStore || !store.exists("shards")) ""
        else s""""windows":${store.load("shards").count()},"""
      println(s"""{"metric":"$metric","docs":$nd,"admitted":$admitted,""" +
        s""""source_capped":$capped,$chunks$shards"batches":$nRounds,"sec":$secs,""" +
        s""""docs_per_sec":${(nd / secs).toLong},"sf":"$sfDir"}""")
    }

    require(Set("both", "batch", "consumer", "packing", "ingest")(variant),
      s"unknown SPARK_GRAFT_STREAM_VARIANT '$variant' " +
        "(expected both | batch | consumer | packing | ingest)")
    if (variant == "both" || variant == "batch") {
      run("admission_throughput", 1)
      run("admission_throughput_multibatch", rounds)
    }
    if (variant == "both" || variant == "consumer") {
      runConsumer("consumer_throughput", 1)
      runConsumer("consumer_throughput_multibatch", rounds)
    }
    if (variant == "both" || variant == "packing") {
      runPacking("packing_throughput", 1)
      runPacking("packing_throughput_multibatch", rounds)
    }
    if (variant == "both" || variant == "ingest") {
      runIngest("ingest_throughput", 1)
      runIngest("ingest_throughput_multibatch", rounds)
      // the S23 chunk tier's marginal cost on the same gated flow
      runIngest("ingest_throughput_chunks_multibatch", rounds,
        chunkStore = true)
      // the r17 incremental training-shard tier on the same gated flow
      runIngest("ingest_throughput_shards_multibatch", rounds,
        shardStore = true)
    }
    spark.stop()
  }
}
