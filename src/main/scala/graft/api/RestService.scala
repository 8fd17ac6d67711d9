package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.{CurationQueries, PqQueries, TextQueries, VectorQueries}
import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * O6/O7 — the reference's HTTP read/write surface, re-expressed as a
 * parameter-binding layer over the engine's tables.
 *
 * Route inventory mirrors the two Go services exactly
 * (eventos/main.go:38-41, reservas/main.go:48-53):
 *
 *   GET    /eventos                     list events
 *   GET    /eventos/{nombre}            point lookup by unique name
 *   POST   /eventos                     create (estado=A, fresh id)
 *   DELETE /eventos/{nombre}            organizer cancel (estado→C)
 *   GET    /reservas/eventos            list inventory
 *   GET    /reservas/eventos/{nombre}   inventory point lookup
 *   GET    /reservas/{evento}/{email}   customer's reservations
 *   GET    /reservas/{id}               reservation by 24-hex id
 *   POST   /reservas                    reserve seats (guarded decrement)
 *   DELETE /reservas/{id}               customer cancel (CAS A→X)
 *
 * Engine-side control-plane routes beyond the reference:
 *
 *   GET /query/{name}?limit=            any declared query, limit-capped
 *   GET /query/{name}/plan              formatted physical plan (no exec)
 *   GET /search?…&k=                    lexical, dense and hybrid
 *                                       retrieval (RestService.SearchArms)
 *   GET /metrics[/{flow}]               per-batch flow telemetry rows
 *   GET /tables/{t}/version             live version number
 *   GET /tables/{t}/at/{v}?limit=       time-travel snapshot read
 *   GET /tables/{t}/changes?from=&to=&key=   version-diff CDC feed
 *   GET /tables/{t}/drift?from=&to=     column-profile diff (data card)
 *   DELETE /subjects/{email}            GDPR data-subject erasure
 *   DELETE /subjects/documents/{id}     GDPR corpus-doc erasure — 202 + async job
 *   GET /subjects/documents/{id}/purge  purge-job status (pending/done/failed)
 *   GET /subjects/documents/{id}/verify erasure-completeness check (residual refs)
 *
 * JSON field names and error texts follow the Go structs' marshal
 * output (contratos/contratos.go:7-37 — `Inventario.Disponible`,
 * `DetReserva`'s `idres`/`nombre`/`canres` renames, `Reserva`'s `_id`)
 * so a reference client can point at this service unchanged.
 *
 * Semantics: each parameter binds into a Catalyst filter on the backing
 * table (point lookups are pushed-down scans, never driver-side
 * seeks), and each write is the corresponding MergeOps rule — the
 * SAME definitions the streaming flows run, so the sync API and the
 * async saga cannot disagree. The event and reservation writes
 * collapse the part of the reference's async saga they start into one
 * handler that persists the saga's fixed point:
 *
 *  - POST /eventos inserts the event and its inventario clone (S1);
 *  - DELETE /eventos cancels the event and its inventario row and
 *    cascades its active reservations (S4);
 *  - POST /reservas runs the saga's admission fold
 *    (`MergeOps.admitReservations`, O19) on the one request and writes
 *    the settled reservation row (S2).
 *
 * Each write route's guard and tables are one `TableStore.commit`, and
 * the route replies after it returns: a flow that writes the same
 * table meanwhile makes the route re-run on fresh reads, so neither
 * write is lost.
 *
 * DELETE /reservas is the customer CAS A→X (O20) alone: the S3 seat
 * return stays with the flows.
 *
 * Existence guards are plain counts. A `limit` would name its counter
 * from a JVM-wide sequence, so every call would compile a new class,
 * and `isEmpty` runs one job per partition batch it tries.
 *
 * Scale stance: this is the interactive seam, not the bulk path —
 * handlers serialize through one writer lock (the reference leans on
 * Mongo's per-document findAndModify for the same guarantee), reads
 * collect only point lookups or dimension-sized listings, and bulk
 * mutation traffic belongs on the streaming flows. The server is
 * JDK-built-in (com.sun.net.httpserver), so the API layer adds no
 * dependency beyond Spark itself.
 */
final class RestService(spark: SparkSession, store: TableStore,
    port: Int = 0, idGen: () => String = RestService.objectIdGen(),
    analyticsDir: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val lock = new Object
  // corpus-document purges run OFF the request thread: the purge
  // recomputes the derived stores (dedup_decisions, documents_clean)
  // from the full corpus, so at real corpus sizes a synchronous
  // handler would hold the writer lock past any client timeout. One
  // daemon worker serializes purges among themselves; each job takes
  // the same writer lock as every other mutation while it runs.
  private val purgeExec = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-purge"); t.setDaemon(true); t
    })
  // doc_id → (status, lastUpdateMillis). Terminal statuses are kept
  // for [[RestService.PurgeStatusRetentionMs]] so clients can poll
  // completion, then evicted on the next submit — without eviction a
  // long-lived serving process would retain one entry per doc_id ever
  // purged (the same unbounded-growth class the stored-index
  // retired-root sweep closes).
  private val purgeJobs =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val purgeSeq = new AtomicLong(0L)

  private def evictStalePurgeStatuses(): Unit = {
    val cut = System.currentTimeMillis() - RestService.PurgeStatusRetentionMs
    val it = purgeJobs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue._1.startsWith("pending") && e.getValue._2 <= cut)
        it.remove()
    }
  }
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/eventos", (ex: HttpExchange) => safely(ex)(routeEventos))
  server.createContext("/reservas", (ex: HttpExchange) => safely(ex)(routeReservas))
  server.createContext("/query", (ex: HttpExchange) => safely(ex)(routeQuery))
  server.createContext("/metrics", (ex: HttpExchange) => safely(ex)(routeMetrics))
  server.createContext("/tables", (ex: HttpExchange) => safely(ex)(routeTables))
  server.createContext("/subjects", (ex: HttpExchange) => safely(ex)(routeSubjects))
  server.createContext("/search", (ex: HttpExchange) => safely(ex)(routeSearch))
  // READ CONCURRENCY (r17): handlers run on a small fixed pool
  // instead of the dispatcher thread. Writes still serialize — every
  // mutation takes the single writer `lock` (the reference leans on
  // Mongo's per-document findAndModify for the same guarantee), so
  // pooling changes nothing about write semantics — while reads
  // (point lookups, /search probes, /metrics) no longer queue behind
  // an in-flight write or behind each other. Reads were ALWAYS
  // concurrent with the streaming flows' writes (the versioned store
  // serves committed snapshots), so a read racing an HTTP write is
  // not a new consistency class; RestConcurrencySpec pins both
  // properties with a latch-held writer lock. Pool is small and
  // bounded: this is the interactive seam — bulk traffic belongs on
  // the flows.
  private val httpPool = java.util.concurrent.Executors
    .newFixedThreadPool(RestService.HttpPoolThreads, r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    })
  server.setExecutor(httpPool)

  def start(): Unit = {
    server.start()
    // Pre-warm the search tier's stored indexes OFF the request
    // path (r16 ADVICE): a COLD first search would otherwise pay the
    // postings/IVF build inside its request — occupying one of the
    // HttpPoolThreads pool slots for the whole build and adding
    // seconds to that caller's latency — so the daemon build runs
    // during startup slack instead. Warm-path requests racing the
    // build converge on the same StoredIndexes cache entry
    // (compute() serializes per key), so no double build.
    analyticsDir.foreach { dir =>
      val t = new Thread(() => {
        try {
          graft.operators.PostingsIndex.forDir(spark, dir)
          graft.operators.VectorIndex.forDir(spark, dir)
          ()
        } catch { case _: Throwable => () } // cold build retries on demand
      }, "graft-search-prewarm")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Stop accepting requests FIRST, then drain the purge worker: a
    * 202-accepted purge whose job is still queued must run before the
    * process exits, or the acceptance was a lie. The purge registry is
    * deliberately in-memory (this is the interactive seam; acceptance
    * is not a durable contract across a CRASH): a client whose status
    * poll 404s after a restart re-submits — the purge is idempotent,
    * so the re-submit is always safe. */
  def stop(): Unit = {
    server.stop(0)
    httpPool.shutdown()
    purgeExec.shutdown()
    purgeExec.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------------
  // routing
  // ------------------------------------------------------------------

  private def segments(ex: HttpExchange): List[String] =
    ex.getRequestURI.getPath.split("/").toList
      .filter(_.nonEmpty).map(URLDecoder.decode(_, UTF_8))

  private def safely(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try f(ex)
    catch {
      case e: Throwable =>
        // if the handler already sent headers, this second reply throws;
        // swallow it rather than escaping into the HttpServer dispatcher
        try reply(ex, 500, s"Internal Server Error: ${e.getMessage}")
        catch { case _: Throwable => () }
    } finally ex.close()

  private def routeEventos(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("eventos")) => listEventos(ex)
      case ("GET", List("eventos", nombre)) => getEvento(ex, nombre)
      case ("POST", List("eventos")) => postEvento(ex)
      case ("DELETE", List("eventos", nombre)) => deleteEvento(ex, nombre)
      case _ => reply(ex, 404, "Not Found")
    }

  private def routeReservas(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("reservas", "eventos")) => listInventario(ex)
      case ("GET", List("reservas", "eventos", nombre)) => getInventario(ex, nombre)
      case ("GET", List("reservas", evento, email)) => getReservasCliente(ex, evento, email)
      case ("GET", List("reservas", id)) => getReservaId(ex, id)
      case ("POST", List("reservas")) => postReserva(ex)
      case ("DELETE", List("reservas", id)) => deleteReservaId(ex, id)
      case _ => reply(ex, 404, "Not Found")
    }

  /** Doc-id path-segment extractor: ASCII digits only (Character
    * .isDigit admits non-ASCII digit aliases) and Long-parseable
    * (overflow digits must 404, not 500 through toLong). */
  private object DocId {
    def unapply(id: String): Option[Long] =
      if (id.nonEmpty && id.forall(c => c >= '0' && c <= '9'))
        scala.util.Try(id.toLong).toOption
      else None
  }

  /** DELETE /subjects/{email} — data-subject erasure (GDPR art. 17)
    * over the operational tables, the [[graft.tables.Gdpr]] purge
    * behind the same writer lock every other mutation takes. Returns
    * the per-table affected-row report; idempotent, so a retried
    * erasure request reports zeros rather than erroring. */
  private def routeSubjects(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("DELETE", List("subjects", email)) => lock.synchronized {
        val rep = graft.tables.Gdpr.purgeSubject(store, email)
        replyJson(ex, 200,
          s"""{"redacted_reservas":${rep.redactedReservas},""" +
            s""""deleted_notificaciones":${rep.deletedNotificaciones},""" +
            s""""deleted_dead_letter":${rep.deletedDeadLetter}}""")
      }
      // DELETE /subjects/documents/{doc_id} — corpus-document erasure
      // through the flow-derived stores (dedup decisions, cleaned
      // corpus, ingest log) via Gdpr.purgeDocuments. The guard is
      // ASCII-digits + parseable: Character.isDigit alone admits
      // non-ASCII digits and Long-overflow strings, turning a
      // malformed id into a 500 (or a silent alias) instead of a 404.
      // ASYNC (202): the purge recomputes the corpus-derived stores,
      // so the handler only ENQUEUES the job — the response names the
      // status and verify URLs; completion is polled, never awaited on
      // the HTTP thread. Re-submitting while a purge is pending is a
      // no-op re-accept; re-submitting after completion re-runs the
      // (idempotent) purge, which then reports deleted_documents 0.
      case ("DELETE", List("subjects", "documents", DocId(docId))) =>
        // each submit gets a GENERATION-stamped pending marker: a
        // worker only runs for (and only resolves) its own marker, so
        // a re-submit arriving between a purge's completion and its
        // status write can neither be skipped nor have its pending
        // state clobbered by the older job's terminal status — a bare
        // "pending" string made those two markers indistinguishable
        evictStalePurgeStatuses()
        val marker = s"pending:${purgeSeq.incrementAndGet()}"
        val markerEntry = (marker, System.currentTimeMillis())
        purgeJobs.put(docId, markerEntry)
        try purgeExec.execute(() => {
          // a newer submit supersedes this job; its own queued run
          // (the worker is single-threaded, so strictly after us)
          // will do the purge
          val cur = purgeJobs.get(docId)
          if (cur != null && cur._1 == marker) {
            val st =
              try {
                val n = lock.synchronized {
                  graft.tables.Gdpr.purgeDocuments(store, Seq(docId))
                }
                s"done:$n"
              } catch { case e: Throwable => s"failed:${e.getMessage}" }
            purgeJobs.replace(docId, cur,
              (st, System.currentTimeMillis()))
            ()
          }
        })
        catch {
          // a DELETE racing stop(): refuse honestly instead of leaving
          // a phantom "pending" that no worker will ever resolve
          case _: java.util.concurrent.RejectedExecutionException =>
            purgeJobs.remove(docId, markerEntry)
            reply(ex, 503, "service shutting down; purge not accepted")
            return
        }
        ex.getResponseHeaders.add("Location",
          s"/subjects/documents/$docId/purge")
        replyJson(ex, 202,
          s"""{"accepted":true,"doc_id":$docId,""" +
            s""""status":"/subjects/documents/$docId/purge",""" +
            s""""verify":"/subjects/documents/$docId/verify"}""")
      // GET /subjects/documents/{id}/purge — purge-job status: the
      // completion/error side of the 202 contract (verify answers
      // "is it gone", this answers "did my job run, and what did it
      // delete / why did it fail")
      case ("GET", List("subjects", "documents", DocId(docId), "purge")) =>
        purgeJobs.get(docId) match {
          case null => reply(ex, 404, "no purge submitted for this doc")
          case (s, _) if s.startsWith("pending") =>
            replyJson(ex, 200, """{"status":"pending"}""")
          case (s, _) if s.startsWith("done:") => replyJson(ex, 200,
            s"""{"status":"done","deleted_documents":${s.drop(5)}}""")
          case (s, _) => replyJson(ex, 200,
            s"""{"status":"failed","error":${mapper.writeValueAsString(
              s.drop(7))}}""")
        }
      // GET /subjects/documents/{id}/verify — the second half of the
      // erasure SLA loop (purge → quiesce flows → verify): which
      // stores still reference the doc. Empty residual = erasure
      // complete in corpus AND derived tables.
      case ("GET", List("subjects", "documents", DocId(docId), "verify")) =>
        val residual = graft.tables.Gdpr.verifyErasure(store, Seq(docId))
        val body = residual.toSeq.sortBy(_._1)
          .map { case (t, n) => "\"" + t + "\":" + n }
          .mkString("{", ",", "}")
        replyJson(ex, 200,
          s"""{"erased":${residual.isEmpty},"residual":$body}""")
      case _ => reply(ex, 404, "Not Found")
    }

  /** GET /metrics[/{flow}] — the ops surface over FlowMetrics'
    * `flow_metrics` table: the most recent batches (bounded by a
    * plan-side top-k on batch_id desc, never an unbounded collect), so
    * a dashboard or a lag alarm reads consumer telemetry over HTTP the
    * same way data readers use /query. 404s cleanly when no listener
    * has ever recorded a batch. */
  private def routeMetrics(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", "metrics" :: rest) if rest.length <= 1 =>
        if (!store.exists("flow_metrics"))
          reply(ex, 404, "no flow metrics recorded")
        else {
          val base = store.load("flow_metrics")
          val scoped = rest.headOption.fold(base)(f =>
            base.filter(col("flow") === f))
          val rows = scoped
            .orderBy(col("batch_id").desc, col("run_id"))
            .limit(100).toJSON.collect()
          replyJson(ex, 200, rows.mkString("[", ",", "]"))
        }
      case _ => reply(ex, 404, "Not Found")
    }

  /** GET /query/{name}[?limit=N] — the analytics side of O6: every
    * declared engine query (SparkEntry.queries) becomes an HTTP
    * endpoint over `analyticsDir`. The name binds to the prebuilt
    * Catalyst plan; `limit` caps the response rows DRIVER-SIDE VIA THE
    * PLAN (a `.limit` on top — TakeOrdered/CollectLimit, never a full
    * collect of an unbounded result). Rows serialize through Spark's
    * own toJSON (schema-faithful, codegen'd). */
  private def routeQuery(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex), analyticsDir) match {
      case (_, _, None) => reply(ex, 404, "analytics surface not enabled")
      // the ops EXPLAIN surface: the formatted physical plan of any
      // declared query, so a dashboard or a reviewer checks pushdown/
      // broadcast shapes over HTTP without a Spark shell. The QUERY
      // itself never executes, but a few builders lawfully run
      // bounded driver-side work while CONSTRUCTING the plan: the
      // version-cached corpus-metadata builds (stored indexes,
      // learned profiles, codebooks — amortized, rebuilt only on a
      // corpus-version change) and O(1)-row scalar reads (ANN query
      // vectors, x57's capped candidate pre-pass). A plan request can
      // therefore pay a first-touch metadata build; it cannot trigger
      // an unbounded query execution. (x61/x71/x90 were migrated to
      // keep their scalars in-plan for exactly this reason.)
      case ("GET", List("query", name, "plan"), Some(dir)) =>
        graft.SparkEntry.queries.get(name) match {
          case None => reply(ex, 404, s"unknown query $name")
          case Some(build) => reply(ex, 200,
            build(spark, dir).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        }
      case ("GET", List("query", name), Some(dir)) =>
        graft.SparkEntry.queries.get(name) match {
          case None => reply(ex, 404, s"unknown query $name")
          case Some(build) =>
            val rows = build(spark, dir).limit(rowLimit(ex))
              .toJSON.collect()
            replyJson(ex, 200, rows.mkString("[", ",", "]"))
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // Parameterized retrieval over the stored corpus: arbitrary terms
  // and vec_ids bind into the SAME plans the declared queries run
  // (bm25ScoredFor, ivfKnn, … — one definition with the benchmark, so
  // the endpoint cannot drift from it). RestService.SearchArms lists
  // each arm and the parameters it accepts; the request's arm is picked
  // once (searchArm), and a parameter no arm knows, one outside the
  // arm's set, a value its check refuses or a missing key parameter is
  // a 400, never a silent fall-through. Ranking is (score desc, id…);
  // k is capped like /query's limit.
  private def routeSearch(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex), analyticsDir) match {
      case (_, _, None) => reply(ex, 404, "analytics surface not enabled")
      case ("GET", List("search"), Some(dir)) =>
        val p = queryParams(ex)
        val arm = RestService.searchArm(p)
        // a label filter needs label metadata in the corpus: a 400 up
        // front, not a missing-column 500 later
        RestService.searchError(arm, p).orElse(Option.when(
            p.contains("label") && !PqQueries.hasLabels(spark, dir))(
            "corpus has no label metadata")) match {
          case Some(err) => reply(ex, 400, err)
          case None =>
            val k = p.get("k").flatMap(_.toIntOption)
              .getOrElse(10).min(100).max(1)
            def int(n: String, absent: => Int): Int =
              p.get(n).fold(absent)(_.toInt)
            // duplicate q terms are score no-ops (tf is keyed by
            // token); phrase and near keep order and duplicates
            // ("a b a" is a chain of three)
            val q = RestService.searchTerms(p.getOrElse("q", "")).distinct
            def toks(n: String) = RestService.searchTerms(p(n))
            lazy val vid = p("like").toLong
            // absent = the measured-recall serving policy (retuneIvf);
            // ivfKnn clamps to the cell count
            val nprobe = int("nprobe", -1).min(1024)
            // the depth floors at k: the candidate set IS depth rows,
            // so a smaller depth would silently truncate the response
            def rerank =
              int("rerank", PqQueries.pqServingRerank(dir)).min(1024).max(k)
            val byCos = Seq("cos", "vec_id")
            try {
              val (found, order) = arm match {
                case "bm25" => (TextQueries.bm25ScoredFor(spark, dir, q),
                  Seq("score", "doc_id"))
                case "chunk" => (CurationQueries.chunkBm25For(spark, dir, q),
                  Seq("score", "doc_id", "chunk_id"))
                case "phrase" => (TextQueries.phraseMatchesFor(spark, dir,
                  toks("phrase")), Seq("phrase_tf", "doc_id"))
                case "near" => (TextQueries.proximityMatchesFor(spark, dir,
                  toks("near"), int("span", 8)), Seq("prox_tf", "doc_id"))
                case "prefix" => (TextQueries.prefixVocabFor(spark, dir,
                  p("prefix")), Seq("df", "token"))
                // x128's RRF combiner: terms-bound BM25 × vec_id-bound IVF
                case "hybrid" => (CurationQueries.rrfFused(
                  TextQueries.bm25ScoredFor(spark, dir, q),
                  VectorQueries.ivfKnn(spark, dir, vid, nprobe)
                    .select(col("vec_id").as("doc_id"), col("cos"))),
                  Seq("rrf", "doc_id"))
                case "srp" => (VectorQueries.srpKnn(spark, dir, vid,
                  int("radius", -1)), byCos)
                case "pq" => (PqQueries.pqKnn(spark, dir, vid, rerank), byCos)
                case "ivfadc" => (PqQueries.ivfadcKnn(spark, dir, vid, nprobe,
                  rerank, p.get("label").map(_.toInt)), byCos)
                case _ => (VectorQueries.ivfKnn(spark, dir, vid, nprobe), byCos)
              }
              val ranking = col(order.head).desc +: order.tail.map(col)
              val top = found.orderBy(ranking: _*).limit(k)
              // x145's densest 32-token window per hit, joined to the k
              // ranked rows (inner by construction: every hit has a
              // term hit; left for schema honesty)
              val shown =
                if (!p.get("snippet").contains("1")) top
                else top.join(TextQueries.bestWindowFor(spark, dir,
                    (if (arm == "phrase") toks("phrase") else q).distinct),
                  Seq("doc_id"), "left").orderBy(ranking: _*)
              replyJson(ex, 200,
                Json.arr(shown.collect().toIndexedSeq.map(Json.row)))
            } catch {
              case e: NoSuchElementException if p.contains("like") =>
                reply(ex, 404, e.getMessage)
            }
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // time-travel / CDC surface over the versioned store: version
  // numbers, snapshot-as-of reads, and the change feed between two
  // versions — the lakehouse control-plane calls (Delta DESCRIBE
  // HISTORY / VERSION AS OF / table_changes) a downstream incremental
  // consumer drives through. Reads are limit-capped in-plan like
  // /query; the CDC fast path stays O(delta) end-to-end.
  // decode from the RAW query: URI.getQuery already resolves %XX, so
  // decoding it again turns an escaped literal '+' (%2B) into a space
  // and throws on an escaped '%' — split the raw string, decode once.
  // A bare `name` has the value ""; a repeated name keeps its first.
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
      .filter(_.nonEmpty).map { kv =>
        val (n, v) = kv.span(_ != '=')
        URLDecoder.decode(n, UTF_8) -> URLDecoder.decode(v.drop(1), UTF_8)
      }.groupMapReduce(_._1)(_._2)((first, _) => first)

  private def qparam(ex: HttpExchange, name: String): Option[String] =
    queryParams(ex).get(name)

  private def rowLimit(ex: HttpExchange): Int =
    qparam(ex, "limit").flatMap(_.toIntOption)
      .getOrElse(100).min(10000).max(1)

  private def routeTables(ex: HttpExchange): Unit =
    (ex.getRequestMethod, segments(ex)) match {
      case ("GET", List("tables", name, "version")) =>
        if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
        else replyJson(ex, 200, Json.obj("name" -> name,
          "version" -> store.version(name)))
      case ("GET", List("tables", name, "at", v)) =>
        v.toIntOption match {
          case None => reply(ex, 400, s"bad version $v")
          case Some(ver) =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = store.loadVersion(name, ver)
                .limit(rowLimit(ex)).toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              reply(ex, 404, e.getMessage) }
        }
      case ("GET", List("tables", name, "changes")) =>
        (qparam(ex, "from").flatMap(_.toIntOption),
          qparam(ex, "to").flatMap(_.toIntOption),
          qparam(ex, "key").map(_.split(",").toSeq.filter(_.nonEmpty))) match {
          case (Some(f), to, Some(key)) if key.nonEmpty =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = store.changesBetween(name, f,
                  to.getOrElse(store.version(name)), key)
                .limit(rowLimit(ex)).toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              reply(ex, 400, e.getMessage) }
          case _ => reply(ex, 400,
            "changes needs from=<version> and key=<col,...> " +
              "(to=<version> defaults to current)")
        }
      // GET /tables/{name}/drift?from=&to= — the data-card diff
      // between two snapshots (QualityOps.drift over loadVersion):
      // O(columns) report rows, one scan per side
      case ("GET", List("tables", name, "drift")) =>
        (qparam(ex, "from").flatMap(_.toIntOption),
          qparam(ex, "to").flatMap(_.toIntOption)) match {
          case (Some(f), to) =>
            if (!store.exists(name)) reply(ex, 404, s"unknown table $name")
            else try {
              val rows = graft.operators.QualityOps.drift(
                store.loadVersion(name, f),
                store.loadVersion(name, to.getOrElse(store.version(name))))
                .toJSON.collect()
              replyJson(ex, 200, rows.mkString("[", ",", "]"))
            } catch { case e: IllegalArgumentException =>
              // 400 like the changes route: same version-range error class
              reply(ex, 400, e.getMessage) }
          case _ => reply(ex, 400,
            "drift needs from=<version> (to=<version> defaults to current)")
        }
      case _ => reply(ex, 404, "Not Found")
    }

  // ------------------------------------------------------------------
  // read handlers — each URL parameter becomes a pushed-down filter
  // ------------------------------------------------------------------

  private def eventoJson(r: Row): String = Json.obj(
    "Id" -> r.getAs[String]("id"), "Nombre" -> r.getAs[String]("nombre"),
    "Capacidad" -> r.getAs[Int]("capacidad"),
    "Categoria" -> r.getAs[String]("categoria"),
    "Estado" -> r.getAs[String]("estado"))

  private def inventarioJson(r: Row): String = Json.obj(
    "Id" -> r.getAs[String]("id"), "Nombre" -> r.getAs[String]("nombre"),
    "Disponible" -> r.getAs[Int]("capacidad"),
    "Categoria" -> r.getAs[String]("categoria"),
    "Estado" -> r.getAs[String]("estado"))

  private def reservaJson(id: String, evento: String, estado: String,
      email: String, cantidad: Int): String = Json.obj(
    "_id" -> id, "Evento" -> evento, "Estado" -> estado,
    "Email" -> email, "Cantidad" -> cantidad)

  private def detReservaJson(r: Row): String = Json.obj(
    "idres" -> r.getAs[String]("id"), "nombre" -> r.getAs[String]("evento"),
    "Estado" -> r.getAs[String]("estado"), "Email" -> r.getAs[String]("email"),
    "canres" -> r.getAs[Int]("cantidad"))

  private def listEventos(ex: HttpExchange): Unit =
    replyJson(ex, 200, Json.arr(store.load("eventos")
      .orderBy("id").collect().toSeq.map(eventoJson)))

  private def getEvento(ex: HttpExchange, nombre: String): Unit =
    store.load("eventos").filter(col("nombre") === nombre)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, eventoJson(r))
      case None => reply(ex, 404, "Not Found")
    }

  private def listInventario(ex: HttpExchange): Unit =
    replyJson(ex, 200, Json.arr(store.load("inventario")
      .orderBy("id").collect().toSeq.map(inventarioJson)))

  private def getInventario(ex: HttpExchange, nombre: String): Unit =
    store.load("inventario").filter(col("nombre") === nombre)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, inventarioJson(r))
      case None => reply(ex, 404, "Not Found")
    }

  private def getReservasCliente(ex: HttpExchange, evento: String,
      email: String): Unit =
    replyJson(ex, 200, Json.arr(store.load("reservas")
      .filter(col("evento") === evento && col("email") === email)
      .orderBy("id").collect().toSeq.map(detReservaJson)))

  private def getReservaId(ex: HttpExchange, id: String): Unit =
    if (!RestService.isHexId(id))
      reply(ex, 400, "id incorrecta, el formato es /id/(12 bytes hex)")
    else store.load("reservas").filter(col("id") === id)
      .collect().headOption match {
      case Some(r) => replyJson(ex, 200, reservaJson(r.getAs[String]("id"),
        r.getAs[String]("evento"), r.getAs[String]("estado"),
        r.getAs[String]("email"), r.getAs[Int]("cantidad")))
      case None => reply(ex, 404, "Not Found")
    }

  // ------------------------------------------------------------------
  // write handlers — MergeOps primitives behind parameter binding
  // ------------------------------------------------------------------

  private def body(ex: HttpExchange): Option[JsonNode] =
    try Option(mapper.readTree(new String(
      ex.getRequestBody.readAllBytes(), UTF_8)))
    catch { case _: Throwable => None }

  /** Case-insensitive field access — Go's encoding/json matches request
    * fields to struct names case-insensitively, so `nombre` and
    * `Nombre` both bind. */
  private def field(n: JsonNode, name: String): Option[JsonNode] = {
    val it = n.fields()
    var found: Option[JsonNode] = None
    while (it.hasNext && found.isEmpty) {
      val e = it.next()
      if (e.getKey.equalsIgnoreCase(name)) found = Some(e.getValue)
    }
    found
  }
  private def str(n: JsonNode, name: String): String =
    field(n, name).map(_.asText("")).getOrElse("")
  private def int(n: JsonNode, name: String): Int =
    field(n, name).map(_.asInt(0)).getOrElse(0)

  private def postEvento(ex: HttpExchange): Unit = body(ex) match {
    case None => reply(ex, 400, "JSON no válido")
    case Some(js) => lock.synchronized {
      import spark.implicits._
      val (id, nombre) = (idGen(), str(js, "Nombre"))
      val row = Seq((id, nombre, int(js, "Capacidad"),
        str(js, "Categoria"), "A"))
        .toDF("id", "nombre", "capacidad", "categoria", "estado")
      val created = store.commit { c =>
        val target = c.load("eventos")
        // O17 insert-if-absent on the unique name (eventos/main.go:75-78:
        // duplicate insert → 400 "ya existente")
        val absent = target.filter(col("nombre") === nombre).count() == 0
        if (absent) {
          // typed as the live table, so append's retype check holds
          c.appendUnique("eventos", row.select(target.schema.fields
            .map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*),
            Seq("nombre"))
          // S1: the inventario clone makes the event reservable
          c.appendUnique("inventario", MergeOps.inventarioClones(row),
            Seq("nombre"))
        }
        absent
      }
      if (!created) reply(ex, 400, s"Evento $nombre ya existente")
      else replyJson(ex, 200, Json.obj("Id" -> id, "Nombre" -> nombre,
        "Capacidad" -> int(js, "Capacidad"),
        "Categoria" -> str(js, "Categoria"), "Estado" -> "A"))
    }
  }

  private def deleteEvento(ex: HttpExchange, nombre: String): Unit =
    lock.synchronized {
      import spark.implicits._
      val names = Seq(nombre).toDF("nombre")
      val found = store.commit { c =>
        val target = c.load("eventos")
        val found = target.filter(col("nombre") === nombre).count() > 0
        if (found) {
          // S4: estado→C on the event and its inventario row (O18), and
          // its active reservations cascade (O23)
          c.replace("eventos", MergeOps.cancelEvents(target, names))
          c.replace("inventario",
            MergeOps.cancelEvents(c.load("inventario"), names))
          c.replace("reservas",
            MergeOps.cancelReservas(c.load("reservas"), names))
        }
        found
      }
      if (!found) reply(ex, 404, "Not Found")
      else reply(ex, 200, s"Evento: $nombre cancelado")
    }

  private def postReserva(ex: HttpExchange): Unit = body(ex) match {
    case None => reply(ex, 400, "JSON no válido")
    case Some(js) =>
      val (evento, email, cant) =
        (str(js, "Evento"), str(js, "Email"), int(js, "Cantidad"))
      if (cant <= 0) reply(ex, 400, "Cantidad incorrecta")
      else lock.synchronized {
        import spark.implicits._
        val id = idGen()
        val admitted = store.commit { c =>
          // O19 guarded decrement (reservas/main.go:152-166): the
          // admission fold over a one-request batch, so the request's
          // values are rows, not plan literals
          val inv = c.load("inventario")
          val (_, log) = MergeOps.admitReservations(inv,
            Seq((id, evento, email, cant, 0L))
              .toDF("id", "evento", "email", "cantidad", "seq"))
          // the decision is the fold's one log row; the post-image is
          // applied from that collected row, so the fold runs once
          val rows = log.collect()
          val admitted = rows.head.getAs[String]("motivo") == null
          if (admitted) {
            c.replace("inventario", MergeOps.applyAdmissions(inv,
              spark.createDataFrame(java.util.Arrays.asList(rows: _*),
                log.schema)))
            // the saga's settled end-state: the reservation row the
            // async route lands via CDC (S2/S4)
            c.append("reservas", Seq((id, evento, "A", email, cant))
              .toDF("id", "evento", "estado", "email", "cantidad"))
          }
          admitted
        }
        if (!admitted) reply(ex, 404,
          s"evento $evento no encontrado o sin capacidad en este momento")
        else replyJson(ex, 200, reservaJson(id, evento, "A", email, cant))
      }
  }

  private def deleteReservaId(ex: HttpExchange, id: String): Unit =
    if (!RestService.isHexId(id))
      reply(ex, 400, "id incorrecta, el formato es /id/(12 bytes hex)")
    else lock.synchronized {
      import spark.implicits._
      val hit = store.commit { c =>
        val target = c.load("reservas")
        val hit = target.filter(col("id") === id && col("estado") === "A")
          .collect().headOption
        // O20 CAS A→X (reservas/main.go:186-195)
        if (hit.isDefined) c.replace("reservas",
          MergeOps.customerCancel(target, Seq(id).toDF("id")))
        hit
      }
      hit match {
        case None =>
          reply(ex, 404, s"reserva Id $id no encontrada o ya cancelada")
        case Some(r) =>
          reply(ex, 200, s"reserva Id: $id Cliente: " +
            s"${r.getAs[String]("email")} Evento: " +
            s"${r.getAs[String]("evento")} cancelada")
      }
    }

  // ------------------------------------------------------------------

  private def reply(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = text.getBytes(UTF_8)
    // JDK HttpServer: length 0 means "chunked/arbitrary", -1 means empty
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  private def replyJson(ex: HttpExchange, code: Int, json: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json;charset=utf8")
    reply(ex, code, json)
  }
}

object RestService {

  /** /search input bounds: the q-terms become isin plan literals, so
    * the request surface must cap them the way /query caps limit.
    * 32 terms × 64 chars covers any human query; anything bigger is
    * a malformed or abusive request → 400. */
  val SearchMaxTerms = 32
  val SearchMaxTermLen = 64

  /** The /search arms, each with the parameters it accepts and one
    * value check per parameter. The first parameter listed is the
    * arm's key and must be present; every arm takes k (default 10,
    * clamped to [1, 100]).
    *
    *   bm25    q=<terms>[&snippet=1]       doc-level BM25 (x94); snippet
    *                                       adds x145's best window
    *   chunk   q=<terms>&unit=chunk        chunk-level BM25 (x133)
    *   phrase  phrase=<terms>[&snippet=1]  exact adjacency (x144)
    *   near    near=<terms>[&span=S]       ordered proximity within
    *                                       span+1 tokens (x147), span 8
    *   prefix  prefix=<p>                  vocabulary by prefix (x146)
    *   ivf     like=<vec_id>[&nprobe=N]    stored-IVF more-like-this
    *                                       (x20)
    *   srp     like=&index=srp[&radius=R]  SRP multi-probe (x11)
    *   pq      like=&index=pq[&rerank=R]   ADC top-R, exact re-rank
    *   ivfadc  like=&index=ivfadc[&nprobe=&rerank=&label=L]
    *                                       probe + ADC + re-rank (x152),
    *                                       label pre-filter (x153)
    *   hybrid  q=<terms>&like=<vec_id>     RRF of bm25 and ivf (x128)
    *
    * An absent nprobe, radius or rerank means the measured-recall pick
    * of retuneIvf, retuneSrp or retunePq. unit=doc and index=ivf may be
    * spelled out where they are the arm's own. label also needs label
    * metadata in the corpus, which routeSearch checks. A query
    * parameter that no arm lists (a mistyped `nprob`, or /query's
    * `limit`) is refused by name. */
  val SearchArms: Map[String, ListMap[String, String => Boolean]] = {
    val any: String => Boolean = _ => true
    def is(v: String): String => Boolean = _ == v
    def int(lo: Int, hi: Int = Int.MaxValue): String => Boolean =
      _.toIntOption.exists(i => i >= lo && i <= hi)
    // terms bind into the plan as isin literals: bounded input, like
    // /query's limit
    def bounded(ts: Seq[String], min: Int) = ts.size >= min &&
      ts.size <= SearchMaxTerms && ts.forall(_.length <= SearchMaxTermLen)
    def terms(min: Int): String => Boolean = v => bounded(searchTerms(v), min)
    val q = "q" -> ((v: String) => bounded(searchTerms(v).distinct, 1))
    val like = "like" -> ((v: String) => v.toLongOption.isDefined)
    val (k, doc, snippet) = ("k" -> any, "unit" -> is("doc"), "snippet" -> any)
    val (nprobe, rerank) = ("nprobe" -> int(1), "rerank" -> int(1))
    Map(
      "bm25" -> ListMap(q, k, doc, snippet),
      "chunk" -> ListMap(q, k, "unit" -> is("chunk")),
      "phrase" -> ListMap("phrase" -> terms(1), k, doc, snippet),
      "near" -> ListMap("near" -> terms(2), k, "span" -> int(1, 256)),
      "prefix" -> ListMap("prefix" -> ((v: String) => v.nonEmpty &&
        v.length <= SearchMaxTermLen && !v.exists(_.isWhitespace)), k),
      "ivf" -> ListMap(like, k, doc, "index" -> is("ivf"), nprobe),
      "srp" -> ListMap(like, k, doc, "index" -> is("srp"), "radius" -> int(0)),
      "pq" -> ListMap(like, k, doc, "index" -> is("pq"), rerank),
      "ivfadc" -> ListMap(like, k, doc, "index" -> is("ivfadc"), nprobe, rerank,
        "label" -> int(Int.MinValue)),
      "hybrid" -> ListMap(like, q, k, doc, "index" -> is("ivf"), nprobe))
  }
  private[api] val SearchParams: Set[String] =
    SearchArms.values.flatMap(_.keys).toSet

  private[api] def searchTerms(v: String): Seq[String] =
    v.split("\\s+").toSeq.filter(_.nonEmpty)

  /** The arm a /search request runs: like first (hybrid with a
    * non-empty q, else the dense family its index names), then near,
    * prefix, phrase, and last q, split by unit. */
  private[api] def searchArm(p: Map[String, String]): String =
    if (p.contains("like"))
      if (p.get("q").exists(searchTerms(_).nonEmpty)) "hybrid"
      else p.get("index").filter(Set("srp", "pq", "ivfadc")).getOrElse("ivf")
    else Seq("near", "prefix", "phrase").find(p.contains)
      .getOrElse(if (p.get("unit").contains("chunk")) "chunk" else "bm25")

  /** Why `arm` refuses the search parameters `p`, if it does. */
  private[api] def searchError(arm: String,
      p: Map[String, String]): Option[String] = {
    val accepts = SearchArms(arm)
    val key = accepts.head._1
    p.keys.find(!SearchParams.contains(_))
      .map(n => s"unknown search parameter $n")
      .orElse(p.keys.find(!accepts.contains(_))
        .map(n => s"$n does not apply to a $arm search"))
      .orElse(Option.when(!p.contains(key))(s"missing $key parameter"))
      .orElse(p.collectFirst { case (n, v) if !accepts(n)(v) =>
        s"invalid $n for a $arm search: $v" })
  }

  /** Request-handler pool size: enough that interactive reads never
    * queue behind one slow request, small enough that concurrent
    * Spark jobs can't starve the executors (local scheduling is FAIR
    * within a JVM; on a cluster these are driver-side threads). */
  val HttpPoolThreads = 4

  /** How long a terminal purge-job status stays pollable before the
    * next submit may evict it. One hour comfortably covers any sane
    * completion-polling loop while bounding the status map by the
    * hourly purge rate. */
  val PurgeStatusRetentionMs: Long = 3600L * 1000

  /** bson.ObjectId stand-in: 24 hex chars, time-prefixed + counter —
    * unique and roughly sortable like the original. */
  def objectIdGen(): () => String = {
    val counter = new AtomicLong(new java.util.Random().nextInt(1 << 24))
    () => {
      val secs = (System.currentTimeMillis() / 1000) & 0xffffffffL
      f"$secs%08x${counter.getAndIncrement() & 0xffffffffffffffffL}%016x"
    }
  }

  def isHexId(s: String): Boolean =
    s.length == 24 && s.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0)
}

/** Minimal JSON emission for the fixed response shapes (no reflection,
  * no extra dependency; requests parse through jackson which ships with
  * Spark). */
private object Json {
  def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
  def value(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case null => "null"
    case other => other.toString
  }
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => "\"" + k + "\":" + value(v) }
      .mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  /** A row as an object of its column names and values. */
  def row(r: Row): String = obj(r.schema.fieldNames.toSeq.zip(r.toSeq): _*)
}
