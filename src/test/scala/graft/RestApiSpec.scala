package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.api.RestService
import graft.sources.Tables
import graft.tables.TableStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** O6/O7 — the HTTP parameter-binding layer over the engine's tables,
  * driven over a real socket. Routes, JSON field names, status codes
  * and error texts mirror the reference services
  * (eventos/main.go:38-41, reservas/main.go:48-53), replayed against
  * the FIXTURES.md seed state. */
class RestApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var root: String = _
  private var svc: RestService = _
  private var store: TableStore = _
  private val seq = new AtomicLong(1)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-rest").toString
    store = new TableStore(spark, root)
    store.init("eventos", Tables.eventos(spark))
    store.init("inventario", Tables.inventario(spark))
    store.init("reservas", Tables.reservas(spark))
    // deterministic 24-hex ids so assertions can name them
    svc = new RestService(spark, store,
      idGen = () => f"${seq.getAndIncrement()}%024x",
      analyticsDir = Some(TestSpark.sf))
    svc.start()
  }

  override def afterAll(): Unit = if (svc != null) svc.stop()

  private def http(method: String, path: String, body: String = null)
      : (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:${svc.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
    (code, text.trim)
  }

  test("GET /eventos lists all events with Go-marshal field names") {
    val (code, bodyText) = http("GET", "/eventos")
    assert(code === 200)
    assert(bodyText.startsWith("[") && bodyText.count(_ == '{') === 3)
    assert(bodyText.contains("\"Nombre\":\"Opera Boheme\""))
    assert(bodyText.contains("\"Capacidad\":20"))
    assert(bodyText.contains("\"Estado\":\"C\"")) // Final Futbol
  }

  test("GET /eventos/{nombre} binds the path param into a point lookup") {
    val (code, bodyText) = http("GET", "/eventos/Opera%20Boheme")
    assert(code === 200)
    assert(bodyText.contains("\"Nombre\":\"Opera Boheme\"") &&
      bodyText.contains("\"Categoria\":\"Opera\""))
    assert(http("GET", "/eventos/No%20Existe")._1 === 404)
  }

  test("POST /eventos creates with estado=A; duplicate name is a 400") {
    val (code, bodyText) = http("POST", "/eventos",
      """{"Nombre": "Concierto Jazz", "Capacidad": 50, "Categoria": "Music"}""")
    assert(code === 200)
    assert(bodyText.contains("\"Estado\":\"A\"") &&
      bodyText.contains("\"Capacidad\":50"))
    val (c2, t2) = http("GET", "/eventos/Concierto%20Jazz")
    assert(c2 === 200 && t2.contains("\"Categoria\":\"Music\""))
    val (c3, t3) = http("POST", "/eventos",
      """{"Nombre": "Concierto Jazz", "Capacidad": 9, "Categoria": "Music"}""")
    assert(c3 === 400 && t3 === "Evento Concierto Jazz ya existente")
    assert(http("POST", "/eventos", "not json")._1 === 400)
  }

  test("DELETE /eventos/{nombre} cancels (estado→C) like the organizer route") {
    http("POST", "/eventos",
      """{"Nombre": "Feria Libro", "Capacidad": 10, "Categoria": "Expo"}""")
    val (code, text) = http("DELETE", "/eventos/Feria%20Libro")
    assert(code === 200 && text === "Evento: Feria Libro cancelado")
    assert(http("GET", "/eventos/Feria%20Libro")._2
      .contains("\"Estado\":\"C\""))
    assert(http("DELETE", "/eventos/No%20Existe")._1 === 404)
  }

  test("GET /reservas/eventos exposes inventory as Inventario (Disponible)") {
    val (code, bodyText) = http("GET", "/reservas/eventos")
    assert(code === 200)
    assert(bodyText.contains("\"Disponible\":17")) // Boheme: 20 − 3 active
    val (c2, t2) = http("GET", "/reservas/eventos/Opera%20Rigoletto")
    assert(c2 === 200 && t2.contains("\"Disponible\":27"))
  }

  test("point reads on an unchanged store run one Spark job each") {
    // the store's snapshot handle resolves each table version once: a
    // warm point read lists no files and infers no schema, so the
    // filtered collect is its only job
    val inv = "/reservas/eventos/Opera%20Boheme"
    val res = "/reservas/" + "0" * 23 + "1"
    Seq(inv, res).foreach(http("GET", _))
    // counted by the handler's call site: RestService.start's search
    // pre-warm may still be building indexes on its own thread
    val invJobs = TestSpark.jobTasks(spark, "RestService.getInventario")(
      assert(http("GET", inv)._1 === 200))
    assert(invJobs.size === 1, s"inventario point read jobs: $invJobs")
    val resJobs = TestSpark.jobTasks(spark, "RestService.getReservaId")(
      http("GET", res))
    assert(resJobs.size === 1, s"reserva point read jobs: $resJobs")
  }

  test("POST /reservas admits a covered request and decrements inventory") {
    val (code, bodyText) = http("POST", "/reservas",
      """{"Evento": "Opera Boheme", "Email": "new@x.com", "Cantidad": 2}""")
    assert(code === 200)
    assert(bodyText.contains("\"Estado\":\"A\"") &&
      bodyText.contains("\"Cantidad\":2"))
    // guarded decrement landed: 17 − 2
    assert(http("GET", "/reservas/eventos/Opera%20Boheme")._2
      .contains("\"Disponible\":15"))
    // the settled reservation row is readable by id
    val id = bodyText.split("\"_id\":\"")(1).takeWhile(_ != '"')
    val (c2, t2) = http("GET", s"/reservas/$id")
    assert(c2 === 200 && t2.contains("\"Email\":\"new@x.com\""))
  }

  test("POST /reservas rejections mirror the reference's guards") {
    assert(http("POST", "/reservas",
      """{"Evento": "Opera Boheme", "Email": "a@x.com", "Cantidad": 0}""")
      ===(400, "Cantidad incorrecta"))
    // capacity guard: more seats than remain
    val (c1, t1) = http("POST", "/reservas",
      """{"Evento": "Opera Boheme", "Email": "a@x.com", "Cantidad": 999}""")
    assert(c1 === 404 && t1.contains("sin capacidad"))
    // estado guard: Final Futbol is cancelled (estado=C)
    assert(http("POST", "/reservas",
      """{"Evento": "Final Futbol", "Email": "a@x.com", "Cantidad": 1}""")._1
      === 404)
    // unknown event
    assert(http("POST", "/reservas",
      """{"Evento": "Nada", "Email": "a@x.com", "Cantidad": 1}""")._1 === 404)
  }

  test("GET /reservas/{evento}/{email} returns DetReserva renames") {
    val (code, bodyText) =
      http("GET", "/reservas/Opera%20Boheme/pepediaz@gmail.com")
    assert(code === 200)
    // seed has an active and a customer-cancelled reservation for pepe
    assert(bodyText.count(_ == '{') === 2)
    assert(bodyText.contains("\"idres\":") &&
      bodyText.contains("\"nombre\":\"Opera Boheme\"") &&
      bodyText.contains("\"canres\":3"))
  }

  test("GET /query/{name} exposes every declared engine query over HTTP") {
    val (code, bodyText) = http("GET", "/query/q1_scan")
    assert(code === 200)
    assert(bodyText.contains("\"r_regionkey\":0") &&
      bodyText.contains("\"r_name\":"))
    // limit binds into the plan
    val (c2, t2) = http("GET", "/query/q13_topk?limit=3")
    assert(c2 === 200 && t2.count(_ == '{') === 3)
    assert(http("GET", "/query/no_such_query")._1 === 404)
  }

  test("GET /query/{name}/plan returns the formatted physical plan without executing") {
    val (code, text) = http("GET", "/query/q2_point/plan")
    assert(code === 200)
    assert(text.contains("PushedFilters") && text.contains("c_custkey"),
      s"plan surface lost the pushdown detail:\n$text")
    assert(http("GET", "/query/nope/plan")._1 === 404)
  }

  test("GET /metrics surfaces flow telemetry; 404 before any batch recorded") {
    assert(http("GET", "/metrics")._1 === 404) // listener never ran here
    // seed one telemetry row the way FlowMetrics would
    import spark.implicits._
    val store = new TableStore(spark, root)
    store.appendUnique("flow_metrics",
      Seq(("document_ingest", "run-1", 0L,
        new java.sql.Timestamp(0).toString, 42L, 17L, 0L, "files"))
        .toDF("flow", "run_id", "batch_id", "ts", "input_rows",
          "trigger_ms", "state_rows", "sources"),
      Seq("run_id", "batch_id"))
    val (code, bodyText) = http("GET", "/metrics")
    assert(code === 200 && bodyText.contains("\"input_rows\":42"))
    val (c2, t2) = http("GET", "/metrics/document_ingest")
    assert(c2 === 200 && t2.contains("\"flow\":\"document_ingest\""))
    val (c3, t3) = http("GET", "/metrics/no_such_flow")
    assert(c3 === 200 && t3 === "[]") // scoped to an unknown flow: empty
  }

  test("DELETE /reservas/{id} is a CAS A→X; repeat and bad ids rejected") {
    val seeded = "619c1dae4b21200001952449" // pepe's active reserva
    val (code, text) = http("DELETE", s"/reservas/$seeded")
    assert(code === 200)
    assert(text === s"reserva Id: $seeded Cliente: pepediaz@gmail.com " +
      "Evento: Opera Boheme cancelada")
    // second cancel: guard fails (estado already X)
    val (c2, t2) = http("DELETE", s"/reservas/$seeded")
    assert(c2 === 404 && t2.contains("ya cancelada"))
    assert(http("DELETE", "/reservas/zzz")._1 === 400)
    assert(http("GET", "/reservas/zzz")._1 === 400)
    assert(http("DELETE", "/reservas/" + "0" * 24)._1 === 404)
  }

  test("REST event writes reach the saga's fixed point") {
    // DELETE /eventos is the organizer cancel (S4): the event's
    // inventario row closes, so it admits nothing more, and its active
    // reservations cascade to C
    val ana = "61a2a4c9a80e2a0001a93f36" // Opera Rigoletto, estado A
    assert(http("DELETE", "/eventos/Opera%20Rigoletto")._1 === 200)
    assert(http("POST", "/reservas",
      """{"Evento": "Opera Rigoletto", "Email": "a@x.com", "Cantidad": 1}""")
      ._1 === 404)
    assert(http("GET", "/reservas/eventos/Opera%20Rigoletto")._2
      .contains("\"Estado\":\"C\""))
    assert(http("GET", s"/reservas/$ana")._2.contains("\"Estado\":\"C\""))
    // POST /eventos clones the event into inventario (S1), so a new
    // event is reservable at once
    assert(http("POST", "/eventos",
      """{"Nombre": "Teatro Nuevo", "Capacidad": 5, "Categoria": "Teatro"}""")
      ._1 === 200)
    assert(http("POST", "/reservas",
      """{"Evento": "Teatro Nuevo", "Email": "b@x.com", "Cantidad": 2}""")
      ._1 === 200)
    assert(http("GET", "/reservas/eventos/Teatro%20Nuevo")._2
      .contains("\"Disponible\":3"))
  }

  test("GET /tables/{name} version, time travel, and change feed") {
    import spark.implicits._
    store.init("tt_demo", Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    store.append("tt_demo", Seq((3, "c")).toDF("k", "v")) // v1
    store.upsert("tt_demo", Seq((1, "A")).toDF("k", "v"), Seq("k")) // v2

    val (vc, vt) = http("GET", "/tables/tt_demo/version")
    assert(vc === 200 && vt === "{\"name\":\"tt_demo\",\"version\":2}")

    val (ac, at) = http("GET", "/tables/tt_demo/at/0")
    assert(ac === 200 && at.count(_ == '{') === 2 &&
      at.contains("\"v\":\"a\""))
    assert(http("GET", "/tables/tt_demo/at/9")._1 === 404)
    assert(http("GET", "/tables/tt_demo/at/x")._1 === 400)

    // append-only hop v0→v1: one insert row
    val (c1, t1) = http("GET", "/tables/tt_demo/changes?from=0&to=1&key=k")
    assert(c1 === 200 && t1.count(_ == '{') === 1 &&
      t1.contains("\"_op\":\"insert\"") && t1.contains("\"k\":3"))
    // rewriting hop v0→v2: the upsert shows as an update
    val (c2, t2) = http("GET", "/tables/tt_demo/changes?from=0&key=k")
    assert(c2 === 200 && t2.contains("\"_op\":\"update\"") &&
      t2.contains("\"v\":\"A\""))
    assert(http("GET", "/tables/tt_demo/changes?from=0")._1 === 400)
    assert(http("GET", "/tables/nope/version")._1 === 404)
  }

  test("GET /tables/{name}/drift diffs two snapshots' column profiles") {
    import spark.implicits._
    store.init("dr_demo", Seq((1, "a"), (2, "a")).toDF("k", "v")) // v0
    store.append("dr_demo", Seq((3, "b"), (4, "c")).toDF("k", "v")) // v1
    val (code, text) = http("GET", "/tables/dr_demo/drift?from=0")
    assert(code === 200)
    assert(text.contains("\"col\":\"_table\"") &&
      text.contains("\"before\":2") && text.contains("\"after\":4"))
    assert(http("GET", "/tables/dr_demo/drift")._1 === 400)
    assert(http("GET", "/tables/nope/drift?from=0")._1 === 404)
  }

  test("DELETE /subjects/{email} purges PII and reports per-table counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pii = "pepediaz@gmail.com"
    store.init("notificaciones",
      Seq(("r1", pii, "s", "b")).toDF("id", "email", "subject", "body"))
    val nBefore = store.load("reservas").count()
    val (code, text) = http("DELETE", s"/subjects/$pii")
    assert(code === 200)
    assert(text.contains("\"deleted_notificaciones\":1"))
    // accounting rows survive redacted; the message log row is gone
    assert(store.load("reservas").count() === nBefore)
    assert(store.load("reservas").filter(col("email") === pii).count() === 0)
    assert(store.load("notificaciones").count() === 0)
    // idempotent: a retry reports zeros with a 200
    val (c2, t2) = http("DELETE", s"/subjects/$pii")
    assert(c2 === 200 && t2.contains("\"redacted_reservas\":0"))
  }

  test("DELETE /subjects/documents/{id} erases a corpus doc and its derived rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    store.init("documents",
      Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
        .toDF("doc_id", "text"))
    store.init("ingest_log",
      Seq((100L, true, null: String), (101L, true, null: String))
        .toDF("doc_id", "admitted", "reason"))
    // async contract: the handler never runs the corpus-scale purge on
    // the HTTP thread — it 202-accepts and names the status URL; the
    // client polls /purge for completion (and /verify for erasure)
    def awaitPurge(id: String): String = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var st = http("GET", s"/subjects/documents/$id/purge")._2
      while (st.contains("pending") && System.nanoTime() < deadline) {
        Thread.sleep(50)
        st = http("GET", s"/subjects/documents/$id/purge")._2
      }
      st
    }
    // no job submitted yet → status 404s
    assert(http("GET", "/subjects/documents/100/purge")._1 === 404)
    val (code, text) = http("DELETE", "/subjects/documents/100")
    assert(code === 202 && text.contains("\"accepted\":true") &&
      text.contains("/subjects/documents/100/purge"))
    val st1 = awaitPurge("100")
    assert(st1.contains("\"status\":\"done\"") &&
      st1.contains("\"deleted_documents\":1"), st1)
    assert(store.load("documents").filter(col("doc_id") === 100L).isEmpty)
    assert(store.load("ingest_log").filter(col("doc_id") === 100L).isEmpty)
    // idempotent; non-numeric ids are not routed
    val (c2, _) = http("DELETE", "/subjects/documents/100")
    assert(c2 === 202)
    val st2 = awaitPurge("100")
    assert(st2.contains("\"deleted_documents\":0"), st2)
    val (c3, _) = http("DELETE", "/subjects/documents/nope")
    assert(c3 === 404)
    // Long-overflow digits must 404, not 500 through toLong
    val (c4, _) = http("DELETE",
      "/subjects/documents/99999999999999999999")
    assert(c4 === 404)
    // the SLA verify leg: purged doc reports erased, live doc reports
    // its residual references
    val (cv, tv) = http("GET", "/subjects/documents/100/verify")
    assert(cv === 200 && tv.contains("\"erased\":true"))
    val (cv2, tv2) = http("GET", "/subjects/documents/101/verify")
    assert(cv2 === 200 && tv2.contains("\"erased\":false") &&
      tv2.contains("\"documents\":1"))
  }

  // ------------------------------------------------------ GET /search
  // The parameterized retrieval endpoint: a NOVEL query string (terms
  // the benchmark queries never score) ranked against an independent
  // driver-side BM25 recompute over the raw fixture text — doc level
  // and the chunk-level variant riding x133's arithmetic frame.

  /** Parse the endpoint's JSON rows into (ids..., score) tuples
    * without a JSON library: rows are flat objects of numbers. */
  private def jsonRows(text: String): Seq[Map[String, Double]] =
    "\\{[^}]*\\}".r.findAllIn(text).map { obj =>
      "\"(\\w+)\":([-0-9.eE]+)".r.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.toSeq

  private lazy val fixtureDocs: Seq[(Long, Array[String])] =
    spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
      .toSeq.sortBy(_._1)

  /** Spark round(col, 6) is HALF_UP over BigDecimal — mirror it. */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent doc-level BM25 (k1=1.2, b=0.75, Lucene idf, round 6),
    * restated from scratch over the collected fixture. */
  private def refDocBm25(terms: Seq[String]): Seq[(Long, Double)] = {
    val n = fixtureDocs.size.toDouble
    val avglen = fixtureDocs.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t =>
      t -> fixtureDocs.count(_._2.contains(t)).toDouble).toMap
    fixtureDocs.flatMap { case (id, ts) =>
      val dl = ts.length.toDouble
      val sco = terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1) * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * dl / avglen))
      }.sum
      if (sco == 0.0) None
      else Some((id, round6(sco)))
    }
  }

  /** Independent chunk-level BM25: W=32/S=24 token windows (tail < 8
    * dropped, chunk 0 always kept), chunk-level df/N/avgdl. */
  private def refChunkBm25(terms: Seq[String])
      : Seq[(Long, Long, Double)] = {
    val chunks = fixtureDocs.flatMap { case (id, ts) =>
      val n = ts.length
      Iterator.from(0).map(_ * 24).takeWhile(_ < n)
        .filter(st => st == 0 || n - st >= 8)
        .map(st => (id, (st / 24).toLong, ts.slice(st, math.min(st + 32, n))))
    }
    val nch = chunks.size.toDouble
    val avgdl = chunks.map(_._3.length.toLong).sum.toDouble / nch
    val df = terms.map(t =>
      t -> chunks.count(_._3.contains(t)).toDouble).toMap
    chunks.flatMap { case (id, cid, ck) =>
      val dl = ck.length.toDouble
      val sco = terms.map { t =>
        val tf = ck.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((nch - df(t) + 0.5) / (df(t) + 0.5) + 1) * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      if (sco == 0.0) None
      else Some((id, cid, round6(sco)))
    }
  }

  /** Independent phrase recompute: sliding-window equality over the
    * collected fixture tokens. */
  private def refPhrase(ph: Seq[String]): Seq[(Long, Long)] =
    fixtureDocs.map { case (id, ts) =>
      id -> ts.sliding(ph.size).count(_.sameElements(ph)).toLong
    }.filter(_._2 > 0)

  /** Independent best-window recompute (x145's semantics): densest
    * w-token window anchored at a hit, ties to the smallest start. */
  private def refBestWindow(terms: Set[String], w: Int)
      : Map[Long, (Long, Long)] =
    fixtureDocs.flatMap { case (id, ts) =>
      val hits = ts.zipWithIndex.collect { case (t, p) if terms(t) => p }
      if (hits.isEmpty) None
      else {
        val best = hits.map(p => (hits.count(h => h >= p && h < p + w), p))
          .sortBy { case (c, p) => (-c, p) }.head
        Some(id -> (best._2.toLong, best._1.toLong))
      }
    }.toMap

  test("GET /search?phrase= matches a sliding-window recompute over raw text") {
    // the fixture's most frequent trigram — guaranteed hits, chosen
    // from the data so the test never goes vacuously green
    val ph = fixtureDocs.flatMap(_._2.sliding(3).map(_.toSeq))
      .groupBy(identity)
      .maxBy { case (p, occ) => (occ.size, p.mkString(" ")) }._1
    val (code, text) = http("GET", s"/search?phrase=${ph.mkString("+")}&k=100")
    assert(code === 200, text)
    val got = jsonRows(text)
      .map(m => (m("doc_id").toLong, m("phrase_tf").toLong))
    val want = refPhrase(ph).sortBy { case (id, tf) => (-tf, id) }.take(100)
    assert(got === want, "phrase ranking must equal the recompute")
    assert(got.nonEmpty)
  }

  test("GET /search snippet=1 adds x145's best-window offsets to both arms") {
    val terms = Seq("vector", "slow")
    val bw = refBestWindow(terms.toSet, 32)
    val (code, text) = http("GET", "/search?q=vector+slow&k=5&snippet=1")
    assert(code === 200, text)
    val rows = jsonRows(text)
    assert(rows.nonEmpty)
    rows.foreach { m =>
      val id = m("doc_id").toLong
      assert((m("win_start").toLong, m("win_hits").toLong) === bw(id),
        s"snippet window drifted from the recompute for doc $id")
    }
    // ranking itself is unchanged by the snippet join
    val bare = jsonRows(http("GET", "/search?q=vector+slow&k=5")._2)
      .map(m => (m("doc_id").toLong, m("score")))
    assert(rows.map(m => (m("doc_id").toLong, m("score"))) === bare)
    // phrase arm: the window covers the phrase's distinct terms
    val ph = fixtureDocs.flatMap(_._2.sliding(2).map(_.toSeq))
      .groupBy(identity)
      .maxBy { case (p, occ) => (occ.size, p.mkString(" ")) }._1
    val pbw = refBestWindow(ph.toSet, 32)
    val (c2, t2) = http("GET",
      s"/search?phrase=${ph.mkString("+")}&k=5&snippet=1")
    assert(c2 === 200, t2)
    val prows = jsonRows(t2)
    assert(prows.nonEmpty)
    prows.foreach { m =>
      val id = m("doc_id").toLong
      assert((m("win_start").toLong, m("win_hits").toLong) === pbw(id))
    }
  }

  test("GET /search?phrase= validates its parameters") {
    assert(http("GET", "/search?phrase=")._1 === 400)
    assert(http("GET", "/search?phrase=a&q=b")._1 === 400)
    assert(http("GET", "/search?phrase=a&like=0")._1 === 400)
    assert(http("GET", "/search?phrase=a&unit=chunk")._1 === 400)
    val many = (1 to 33).map(i => s"t$i").mkString("+")
    assert(http("GET", s"/search?phrase=$many")._1 === 400)
    assert(http("GET", "/search?phrase=" + "z" * 65)._1 === 400)
    // a phrase with no corpus hit is an empty result, not an error
    assert(http("GET", "/search?phrase=zz+yy+xx") === ((200, "[]")))
    // inapplicable parameters are 400s, never silent fall-throughs
    // (review-caught: some arms rejected loudly, others dropped the
    // flag): nprobe belongs to the dense arm, snippet to the lexical
    // doc-level arms
    assert(http("GET", "/search?phrase=a&nprobe=2")._1 === 400)
    assert(http("GET", "/search?q=hash&nprobe=2")._1 === 400)
    assert(http("GET", "/search?q=hash&unit=chunk&snippet=1")._1 === 400)
    assert(http("GET", "/search?like=0&snippet=1")._1 === 400)
    assert(http("GET", "/search?q=hash&like=0&snippet=1")._1 === 400)
  }

  test("GET /search?near= matches an ordered-proximity recompute") {
    val terms = Seq("vector", "slow")
    def ref(span: Int): Seq[(Long, Long)] = fixtureDocs.flatMap {
      case (id, ts) =>
        def pos(w: String) =
          ts.zipWithIndex.collect { case (x, p) if x == w => p }
        val n = pos(terms.head).count(p1 => pos(terms(1)).exists(p2 =>
          p2 > p1 && p2 <= p1 + span))
        if (n > 0) Some(id -> n.toLong) else None
    }
    val (code, text) = http("GET", "/search?near=vector+slow&span=16&k=100")
    assert(code === 200, text)
    val got = jsonRows(text)
      .map(m => (m("doc_id").toLong, m("prox_tf").toLong))
    val want = ref(16).sortBy { case (id, tf) => (-tf, id) }.take(100)
    assert(got === want)
    assert(got.nonEmpty)
    // default span is 8
    val d8 = jsonRows(http("GET", "/search?near=vector+slow&k=100")._2)
      .map(m => (m("doc_id").toLong, m("prox_tf").toLong))
    assert(d8 === ref(8).sortBy { case (id, tf) => (-tf, id) }.take(100))
    // validations
    assert(http("GET", "/search?near=")._1 === 400)
    assert(http("GET", "/search?near=a")._1 === 400)
    assert(http("GET", "/search?near=a+b&q=c")._1 === 400)
    assert(http("GET", "/search?near=a+b&like=0")._1 === 400)
    assert(http("GET", "/search?near=a+b&prefix=s")._1 === 400)
    assert(http("GET", "/search?near=a+b&span=0")._1 === 400)
    assert(http("GET", "/search?near=a+b&span=257")._1 === 400)
    assert(http("GET", "/search?near=a+b&span=nope")._1 === 400)
    assert(http("GET", "/search?q=a&span=3")._1 === 400)
    assert(http("GET", "/search?phrase=a+b&span=3")._1 === 400)
    // no hit is an empty result, not an error
    assert(http("GET", "/search?near=zz+yy") === ((200, "[]")))
  }

  test("GET /search?prefix= lists the vocabulary like a raw-text recompute") {
    val (code, text) = http("GET", "/search?prefix=s&k=100")
    assert(code === 200, text)
    val got = "\\{[^}]*\\}".r.findAllIn(text).map { obj =>
      val tok = "\"token\":\"(\\w+)\"".r.findFirstMatchIn(obj).get.group(1)
      val df = "\"df\":(\\d+)".r.findFirstMatchIn(obj).get.group(1).toLong
      val n = "\"n_occ\":(\\d+)".r.findFirstMatchIn(obj).get.group(1).toLong
      (tok, df, n)
    }.toSeq
    val want = fixtureDocs
      .flatMap { case (id, ts) => ts.map(id -> _) }
      .filter(_._2.startsWith("s"))
      .groupBy(_._2)
      .map { case (tok, occ) =>
        (tok, occ.map(_._1).distinct.size.toLong, occ.size.toLong)
      }.toSeq.sortBy { case (tok, df, _) => (-df, tok) }.take(100)
    assert(got === want)
    assert(got.nonEmpty)
    // validations: its own arm, loudly
    assert(http("GET", "/search?prefix=")._1 === 400)
    assert(http("GET", "/search?prefix=s&q=hash")._1 === 400)
    assert(http("GET", "/search?prefix=s&phrase=a")._1 === 400)
    assert(http("GET", "/search?prefix=s&like=0")._1 === 400)
    assert(http("GET", "/search?prefix=s&snippet=1")._1 === 400)
    assert(http("GET", "/search?prefix=" + "z" * 65)._1 === 400)
    assert(http("GET", "/search?prefix=a+b")._1 === 400)
    // no matching vocabulary is an empty result, not an error
    assert(http("GET", "/search?prefix=zzz") === ((200, "[]")))
  }

  test("GET /search ranks a novel query like an independent BM25 recompute") {
    val (code, text) = http("GET", "/search?q=vector+slow+data&k=5")
    assert(code === 200, text)
    val got = jsonRows(text)
      .map(m => (m("doc_id").toLong, m("score")))
    val want = refDocBm25(Seq("vector", "slow", "data"))
      .sortBy { case (id, s) => (-s, id) }.take(5)
    assert(got === want, "endpoint ranking must equal the recompute")
    // k binds: a different k returns a prefix of the same ranking
    val (c2, t2) = http("GET", "/search?q=vector+slow+data&k=2")
    assert(c2 === 200 && jsonRows(t2)
      .map(m => (m("doc_id").toLong, m("score"))) === want.take(2))
  }

  test("GET /search?unit=chunk rides x133's arithmetic frame for novel terms") {
    val (code, text) = http("GET", "/search?q=vector+slow&k=5&unit=chunk")
    assert(code === 200, text)
    val got = jsonRows(text)
      .map(m => (m("doc_id").toLong, m("chunk_id").toLong, m("score")))
    val want = refChunkBm25(Seq("vector", "slow"))
      .sortBy { case (id, cid, s) => (-s, id, cid) }.take(5)
    assert(got === want, "chunk ranking must equal the recompute")
  }

  test("GET /search with the benchmark terms equals the declared x94/x133 top-k") {
    val (_, docText) = http("GET", "/search?q=hash+join+filter&k=10")
    val gotDoc = jsonRows(docText).map(m => (m("doc_id").toLong, m("score")))
    val x94 = SparkEntry.queries("x94_bm25")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotDoc === x94, "one scorer definition: endpoint == x94")
    val (_, chText) = http("GET", "/search?q=hash+join+filter&k=10&unit=chunk")
    val gotCh = jsonRows(chText)
      .map(m => (m("doc_id").toLong, m("chunk_id").toLong, m("score")))
    val x133 = SparkEntry.queries("x133_chunk_bm25")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotCh === x133, "one scorer definition: endpoint == x133")
  }

  test("GET /search?like= serves dense more-like-this off the stored IVF index") {
    // parity with the declared x20 (one ivfKnn definition): like=0 is
    // exactly the benchmark probe
    val (c0, t0) = http("GET", "/search?like=0&k=10")
    assert(c0 === 200)
    val got0 = jsonRows(t0).map(m => (m("vec_id").toLong, m("cos")))
    val x20 = SparkEntry.queries("x20_ann_ivf")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got0 === x20, "one probe definition: endpoint == x20")
    // a NOVEL query vector: the anchor ranks itself first (cos 1.0)
    // and every returned cosine equals a driver-side exact recompute
    val (c7, t7) = http("GET", "/search?like=7&k=5")
    assert(c7 === 200)
    val got7 = jsonRows(t7).map(m => (m("vec_id").toLong, m("cos")))
    assert(got7.head._1 === 7L && got7.head._2 === 1.0,
      "the query vector is its own nearest neighbor")
    assert(got7.map(_._2) === got7.map(_._2).sorted.reverse, "cos desc")
    val embs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got7.foreach { case (id, c) =>
      assert(math.abs(c - cos(embs(7L), embs(id))) < 1e-6, s"cos of $id")
    }
    // unknown vector -> 404; malformed -> 400
    assert(http("GET", "/search?like=99999999")._1 === 404)
    assert(http("GET", "/search?like=nope")._1 === 400)
    // chunk granularity is lexical-only: no silent doc-level downgrade
    assert(http("GET", "/search?like=0&unit=chunk")._1 === 400)
    assert(http("GET", "/search?q=hash&like=0&unit=chunk")._1 === 400)
    // a present-but-empty q is the same client error the lone-q route
    // rejects — not a silent dense-only fallback in another schema
    assert(http("GET", "/search?q=&like=0")._1 === 400)
  }

  test("a warm dense /search runs no wide job (no fwd partition discovery)") {
    // the first request builds and retunes the index; the warm one
    // reads the 64-bucket fwd table through the store's handle, so no
    // 64-task listing job runs per request
    assert(http("GET", "/search?like=3&k=5")._1 === 200)
    val jobs = TestSpark.jobTasks(spark)(
      assert(http("GET", "/search?like=5&k=5")._1 === 200))
    assert(jobs.nonEmpty && jobs.max <= 8, s"task counts per job: $jobs")
  }

  test("GET /search?like=&nprobe= overrides the probe width; full probe is exact") {
    // nprobe = Cells probes every cell, so the endpoint result IS
    // brute-force top-k — recomputed here driver-side from the raw
    // parquet, independent of every engine expression
    val (c, t) = http("GET", "/search?like=7&k=10&nprobe=8")
    assert(c === 200)
    val got = jsonRows(t).map(m => (m("vec_id").toLong, m("cos").toDouble))
    val embs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = embs.find(_._1 == 7L).get._2
    val exact = embs.map { case (id, v) => (id, TestSpark.cos6(v, q)) }
      .sortBy { case (id, cc) => (-cc, id) }.take(10).toSeq
    assert(got === exact, "full-probe endpoint != driver-side exact top-10")
    // a narrow width is honored: endpoint == the engine's ivfKnn at
    // the same width (one probe definition), and its candidate pool
    // is the single probed cell's
    val (c1, t1) = http("GET", "/search?like=7&k=10&nprobe=1")
    assert(c1 === 200)
    val got1 = jsonRows(t1).map(m => (m("vec_id").toLong, m("cos").toDouble))
    val eng1 = graft.operators.VectorQueries.ivfKnn(spark, TestSpark.sf, 7L, 1)
      .orderBy(org.apache.spark.sql.functions.col("cos").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got1 === eng1, "one probe definition: endpoint == ivfKnn(w=1)")
    // malformed / non-positive widths are client errors, not silent
    // fall-throughs to the serving default
    assert(http("GET", "/search?like=7&nprobe=nope")._1 === 400)
    assert(http("GET", "/search?like=7&nprobe=0")._1 === 400)
    assert(http("GET", "/search?like=7&nprobe=-3")._1 === 400)
  }

  test("GET /search?like=&index=srp serves the SRP multi-probe arm") {
    // full radius probes every bucket → the endpoint result IS the
    // brute-force top-10, recomputed driver-side from raw parquet
    val (c4, t4) = http("GET", "/search?like=7&k=10&index=srp&radius=4")
    assert(c4 === 200)
    val got4 = jsonRows(t4).map(m => (m("vec_id").toLong, m("cos")))
    val embs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q7 = embs.find(_._1 == 7L).get._2
    val exact = embs.map { case (id, v) => (id, TestSpark.cos6(v, q7)) }
      .sortBy { case (id, cc) => (-cc, id) }.take(10).toSeq
    assert(got4 === exact, "full-radius endpoint != driver-side exact")
    // one probe definition: endpoint == srpKnn at the same radius
    val (c0, t0) = http("GET", "/search?like=7&k=10&index=srp&radius=0")
    assert(c0 === 200)
    val got0 = jsonRows(t0).map(m => (m("vec_id").toLong, m("cos")))
    val eng0 = graft.operators.VectorQueries
      .srpKnn(spark, TestSpark.sf, 7L, 0)
      .orderBy(org.apache.spark.sql.functions.col("cos").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got0 === eng0, "one probe definition: endpoint == srpKnn(r=0)")
    // index=ivf is the explicit spelling of the default family
    val (ci, ti) = http("GET", "/search?like=0&k=10&index=ivf")
    assert(ci === 200)
    assert(jsonRows(ti) === jsonRows(http("GET", "/search?like=0&k=10")._2))
    // unknown vector under the srp arm is still a 404
    assert(http("GET", "/search?like=99999999&index=srp")._1 === 404)
    // knob/arm mismatches are 400s, never silent fall-throughs: an
    // unknown index, radius off srp, nprobe on srp, a hybrid q with
    // the srp arm, and index/radius on the lexical arms
    assert(http("GET", "/search?like=7&index=bogus")._1 === 400)
    assert(http("GET", "/search?like=7&radius=2")._1 === 400)
    assert(http("GET", "/search?like=7&index=ivf&radius=2")._1 === 400)
    assert(http("GET", "/search?like=7&index=srp&nprobe=2")._1 === 400)
    assert(http("GET", "/search?like=7&index=srp&radius=-1")._1 === 400)
    assert(http("GET", "/search?like=7&index=srp&radius=nope")._1 === 400)
    assert(http("GET", "/search?q=hash&like=7&index=srp")._1 === 400)
    assert(http("GET", "/search?q=hash&index=ivf")._1 === 400)
    assert(http("GET", "/search?q=hash&radius=1")._1 === 400)
    assert(http("GET", "/search?phrase=a&index=srp")._1 === 400)
    assert(http("GET", "/search?prefix=s&index=srp")._1 === 400)
    assert(http("GET", "/search?near=a+b&radius=1")._1 === 400)
    // a parameter of another arm is a 400 on every arm, not only on
    // the arms that happened to list it: span on the dense and hybrid
    // arms, snippet on near
    assert(http("GET", "/search?like=7&span=3")._1 === 400)
    assert(http("GET", "/search?q=hash&like=7&span=3")._1 === 400)
    assert(http("GET", "/search?near=a+b&snippet=1")._1 === 400)
  }

  test("GET /search?like=&index=pq serves the ADC-then-re-rank arm") {
    // a re-rank depth covering the whole corpus re-ranks every vector
    // → the endpoint result IS the brute-force top-10, recomputed
    // driver-side from raw parquet
    val (cf, tf) = http("GET", "/search?like=7&k=10&index=pq&rerank=1000")
    assert(cf === 200)
    val gotf = jsonRows(tf).map(m => (m("vec_id").toLong, m("cos")))
    val embs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q7 = embs.find(_._1 == 7L).get._2
    val exact = embs.map { case (id, v) => (id, TestSpark.cos6(v, q7)) }
      .sortBy { case (id, cc) => (-cc, id) }.take(10).toSeq
    assert(gotf === exact, "full-depth endpoint != driver-side exact")
    // one probe definition: endpoint == pqKnn at the same depth
    val (c10, t10) = http("GET", "/search?like=7&k=10&index=pq&rerank=10")
    assert(c10 === 200)
    val got10 = jsonRows(t10).map(m => (m("vec_id").toLong, m("cos")))
    val eng10 = graft.operators.PqQueries
      .pqKnn(spark, TestSpark.sf, 7L, 10)
      .orderBy(org.apache.spark.sql.functions.col("cos").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got10 === eng10, "one probe definition: endpoint == pqKnn(R=10)")
    // the effective re-rank depth floors at k: a depth below k would
    // deterministically truncate the response (the candidate set is
    // capped at depth rows) — k=20 yields 20 rows whatever the
    // serving default, and an explicit rerank=5 with k=10 still
    // fills all 10 (the nprobe-clamp doctrine, not a silent drop)
    assert(jsonRows(http("GET",
      "/search?like=7&k=20&index=pq")._2).size === 20)
    assert(jsonRows(http("GET",
      "/search?like=7&k=10&index=pq&rerank=5")._2).size === 10)
    // unknown vector under the pq arm is still a 404
    assert(http("GET", "/search?like=99999999&index=pq")._1 === 404)
    // knob/arm mismatches are 400s, never silent fall-throughs:
    // rerank off pq, the wrong knobs on pq, a hybrid q with the pq
    // arm, and rerank on the lexical arms
    assert(http("GET", "/search?like=7&rerank=20")._1 === 400)
    assert(http("GET", "/search?like=7&index=ivf&rerank=20")._1 === 400)
    assert(http("GET", "/search?like=7&index=srp&rerank=20")._1 === 400)
    assert(http("GET", "/search?like=7&index=pq&nprobe=2")._1 === 400)
    assert(http("GET", "/search?like=7&index=pq&radius=2")._1 === 400)
    assert(http("GET", "/search?like=7&index=pq&rerank=0")._1 === 400)
    assert(http("GET", "/search?like=7&index=pq&rerank=nope")._1 === 400)
    assert(http("GET", "/search?q=hash&like=7&index=pq")._1 === 400)
    assert(http("GET", "/search?q=hash&rerank=5")._1 === 400)
    assert(http("GET", "/search?phrase=a&rerank=5")._1 === 400)
    assert(http("GET", "/search?prefix=s&rerank=5")._1 === 400)
    assert(http("GET", "/search?near=a+b&rerank=5")._1 === 400)
  }

  test("GET /search?like=&index=ivfadc serves the composed probe+ADC+re-rank pipeline") {
    // probing every cell and re-ranking the whole corpus → exact
    val (cf, tf) = http("GET",
      "/search?like=7&k=10&index=ivfadc&nprobe=8&rerank=1000")
    assert(cf === 200)
    val gotf = jsonRows(tf).map(m => (m("vec_id").toLong, m("cos")))
    val embs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q7 = embs.find(_._1 == 7L).get._2
    val exact = embs.map { case (id, v) => (id, TestSpark.cos6(v, q7)) }
      .sortBy { case (id, cc) => (-cc, id) }.take(10).toSeq
    assert(gotf === exact, "full-knob ivfadc endpoint != driver-side exact")
    // one probe definition: endpoint == ivfadcKnn at the same knobs
    val (cn, tn) = http("GET",
      "/search?like=7&k=10&index=ivfadc&nprobe=2&rerank=20")
    assert(cn === 200)
    val gotn = jsonRows(tn).map(m => (m("vec_id").toLong, m("cos")))
    val engn = graft.operators.PqQueries
      .ivfadcKnn(spark, TestSpark.sf, 7L, 2, 20)
      .orderBy(org.apache.spark.sql.functions.col("cos").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotn === engn,
      "one probe definition: endpoint == ivfadcKnn(w=2, R=20)")
    // BOTH knobs are legal on this arm (it composes the two indexes)
    assert(http("GET", "/search?like=7&index=ivfadc&nprobe=2")._1 === 200)
    assert(http("GET", "/search?like=7&index=ivfadc&rerank=20")._1 === 200)
    // the metadata filter: full knobs + label == driver-side exact
    // over that label's vectors only (x153's serving twin)
    val lbl = graft.operators.PqQueries.FilterLabel
    val (cl, tl) = http("GET",
      s"/search?like=7&k=10&index=ivfadc&nprobe=8&rerank=1000&label=$lbl")
    assert(cl === 200)
    val gotl = jsonRows(tl).map(m => (m("vec_id").toLong, m("cos")))
    val lrows = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val exactl = lrows.filter(_._3 == lbl)
      .map { case (id, v, _) => (id, TestSpark.cos6(v, q7)) }
      .sortBy { case (id, cc) => (-cc, id) }.take(10).toSeq
    assert(gotl === exactl, "filtered endpoint != filtered exact")
    // unknown vector is still a 404; wrong knobs and hybrid are 400s
    assert(http("GET", "/search?like=99999999&index=ivfadc")._1 === 404)
    assert(http("GET", "/search?like=7&index=ivfadc&radius=1")._1 === 400)
    assert(http("GET", "/search?like=7&index=ivfadc&rerank=0")._1 === 400)
    assert(http("GET", "/search?like=7&index=ivfadc&nprobe=0")._1 === 400)
    assert(http("GET", "/search?q=hash&like=7&index=ivfadc")._1 === 400)
    // label off its arm, malformed labels, label on lexical arms
    assert(http("GET", "/search?like=7&label=3")._1 === 400)
    assert(http("GET", "/search?like=7&index=pq&label=3")._1 === 400)
    assert(http("GET", "/search?like=7&index=srp&label=3")._1 === 400)
    assert(http("GET", "/search?like=7&index=ivfadc&label=x")._1 === 400)
    assert(http("GET", "/search?q=hash&label=3")._1 === 400)
    assert(http("GET", "/search?phrase=a&label=3")._1 === 400)
    assert(http("GET", "/search?prefix=s&label=3")._1 === 400)
    assert(http("GET", "/search?near=a+b&label=3")._1 === 400)
  }

  test("GET /search?q=&like= fuses both arms with x128's RRF combiner") {
    // independent fusion recompute: fetch each arm's top-20 from the
    // already-verified single-arm endpoints, fuse driver-side with
    // rrf = sum 1/(60 + rank), compare against the hybrid endpoint
    val lexArm = jsonRows(http("GET", "/search?q=vector+slow&k=20")._2)
      .map(m => m("doc_id").toLong)
    val denArm = jsonRows(http("GET", "/search?like=7&k=20")._2)
      .map(m => m("vec_id").toLong)
    val lexRank = lexArm.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val denRank = denArm.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val want = (lexRank.keySet ++ denRank.keySet).toSeq
      .map { d =>
        val rrf = lexRank.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          denRank.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (d, round6(rrf))
      }
      .sortBy { case (d, r) => (-r, d) }.take(5)
    val (code, text) = http("GET", "/search?q=vector+slow&like=7&k=5")
    assert(code === 200, text)
    val got = jsonRows(text).map(m => (m("doc_id").toLong, m("rrf")))
    assert(got === want, "hybrid fusion must equal the driver recompute")
    // rank columns surface which arm(s) admitted each doc
    assert(text.contains("\"lex_rank\":") && text.contains("\"den_rank\":"))
  }

  test("GET /search validates its parameters") {
    assert(http("GET", "/search")._1 === 400)
    assert(http("GET", "/search?q=")._1 === 400)
    assert(http("GET", "/search?q=hash&unit=para")._1 === 400)
    assert(http("GET", "/search/extra?q=hash")._1 === 404)
    // a parameter no arm knows is refused by name, never ignored
    Seq("/search?like=7&nprob=2" -> "nprob", "/search?like=7&foo=1" -> "foo",
        "/search?q=hash&limit=3" -> "limit").foreach { case (url, name) =>
      val (c, t) = http("GET", url)
      assert(c === 400 && t.contains(s"unknown search parameter $name"),
        s"$url: $c $t")
    }
    // q is bounded input (it binds into the plan as isin literals):
    // too many terms or an oversized term is a 400, not a giant plan
    val manyTerms = (1 to 33).map(i => s"t$i").mkString("+")
    assert(http("GET", s"/search?q=$manyTerms")._1 === 400)
    assert(http("GET", "/search?q=" + "z" * 65)._1 === 400)
    // literal '+' in a %2B-escaped term must NOT be re-decoded into a
    // space (the double-decode regression): one term, zero hits, 200
    val (cp, tp) = http("GET", "/search?q=a%2Bb")
    assert(cp === 200 && tp === "[]",
      "a+b is one literal term (no corpus hit), not two split terms")
  }

  test("a warm POST /reservas compiles no codegen class per call") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the request's values travel as rows through the admission fold,
    // so a warm call hits the codegen cache whatever its Cantidad (the
    // /search tests above have finished the pre-warm, which compiles
    // on its own thread)
    def reserve(n: Int) = assert(http("POST", "/reservas",
      s"""{"Evento": "Opera Boheme", "Email": "cg@x.com", "Cantidad": $n}""")
      ._1 === 200)
    reserve(1); reserve(1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    reserve(1); reserve(2); reserve(3)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }

  test("a warm POST /reservas runs no more Spark jobs than the guarded update did") {
    // a warm call ran 8 jobs when the route had its own guard and
    // update, two of them inferring the schema of the inventario and
    // reservas versions the previous call wrote; the store now reads
    // both from their manifests (nothing else runs jobs now: the
    // pre-warm is done)
    val body = """{"Evento": "Opera Boheme", "Email": "jc@x.com", "Cantidad": 1}"""
    assert(http("POST", "/reservas", body)._1 === 200)
    val jobs = TestSpark.jobTasks(spark)(
      assert(http("POST", "/reservas", body)._1 === 200))
    assert(jobs.size <= 6, s"POST /reservas jobs: $jobs")
  }

  test("a point read of a version the service just wrote runs one job") {
    // the POST publishes a fresh inventario version; reading it runs
    // the point lookup's collect and no schema job
    assert(http("POST", "/reservas",
      """{"Evento": "Opera Boheme", "Email": "pr@x.com", "Cantidad": 1}""")
      ._1 === 200)
    val jobs = TestSpark.jobTasks(spark) {
      val (code, text) = http("GET", "/reservas/eventos/Opera%20Boheme")
      assert(code === 200 && text.contains("\"Nombre\":\"Opera Boheme\""), text)
    }
    assert(jobs.size === 1, s"GET /reservas/eventos/{n} jobs: $jobs")
  }
}
