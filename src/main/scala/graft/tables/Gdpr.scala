package graft.tables

import org.apache.spark.sql.functions._

/**
 * Data-subject erasure (GDPR art. 17 "right to be forgotten") over the
 * operational tables — the data-governance mutation the reference's
 * insert/update-only collections (README.md:47) have no answer to.
 *
 * Erasure is NOT uniform row deletion: reservas rows are the seat
 * accounting the B2 capacity invariant folds over (contratos.go:7-37
 * — evento/cantidad/estado), so deleting them would corrupt inventory
 * math for everyone else. The standard split:
 *
 *  - reservas: REDACT — the email column is replaced with a constant
 *    tombstone via a keyed upsert; evento/cantidad/estado survive, so
 *    every aggregate and the admission registries are untouched.
 *  - notificaciones: DELETE — a per-subject message log with no
 *    accounting role; rows are addressed to the subject's email.
 *  - dead_letter: DELETE rows whose raw payload CONTAINS the email —
 *    quarantined malformed messages can carry PII verbatim.
 *
 * All three legs are [[TableStore]] primitives (upsert / deleteWhere),
 * so they inherit its properties: copy-on-write at segment
 * granularity, atomic version flips, CDC visibility of the change,
 * and — deliberately — time travel to pre-erasure snapshots until the
 * vacuum horizon passes (production erasure SLAs are retention-window
 * bounded for exactly this reason; `store.vacuum(name, 1)` force-
 * expires history immediately). The purge is idempotent: a second run
 * matches nothing and publishes nothing.
 */
object Gdpr {

  /** Tombstone written over redacted PII columns. Constant (not a
    * per-subject hash): erased rows must not stay linkable. */
  val Tombstone = "<erased>"

  final case class PurgeReport(
      redactedReservas: Long,
      deletedNotificaciones: Long,
      deletedDeadLetter: Long) {
    def total: Long =
      redactedReservas + deletedNotificaciones + deletedDeadLetter
  }

  /** Erase documents from the ingest corpus AND every flow-derived
    * store that embeds their content or ids — erasure must not be
    * recoverable from a derived table the pipeline materialized:
    *
    *  - `documents`: segment-pruned DELETE of the doc rows.
    *  - `dedup_decisions`: RECOMPUTED from the post-purge corpus, not
    *    row-pruned — removing a doc can change canonical elections
    *    (a cluster whose canonical was purged elects a new one; a
    *    doc that was dropped as this doc's near-dup may become
    *    canonical again).
    *  - `documents_clean`: RECOMPUTED — span ownership shifts (a span
    *    whose min-doc_id owner was purged is owned by the survivor,
    *    and if only two docs shared it, it stops being duplicated at
    *    all), so surviving docs' cleaned text can GROW back.
    *  - `ingest_log`: the doc's verdict row deletes.
    *
    * The stored QUERY indexes (ShingleIndex, SRP/IVF) need no call
    * here: they are version-keyed on the corpus files, so the
    * purge's copy-on-write rewrite invalidates them and the next probe
    * rebuilds from the post-purge corpus — GdprDerivedSpec pins
    * exactly that (no probe can surface purged content afterwards).
    * Like [[purgeSubject]], pre-purge snapshots remain time-travelable
    * until vacuum.
    *
    * NOT atomic against a concurrently running documentIngestFlow
    * batch — see [[verifyErasure]] for the purge → quiesce → verify
    * loop an erasure SLA runs.
    *
    * Returns the number of corpus rows erased. */
  def purgeDocuments(store: TableStore, docIds: Seq[Long]): Long = {
    val n =
      if (!store.exists("documents")) 0L
      else store.deleteWhere("documents", col("doc_id").isin(docIds: _*))
    // recompute the derived tables when the corpus changed — OR when a
    // derived table still references the ids even though the corpus
    // rows are already gone. The latter is the race-remedy path: a
    // purge landing mid ingest-batch can be overwritten by the flow's
    // pre-purge-snapshot recompute, and the documented fix is an
    // idempotent RE-purge — which deletes 0 corpus rows, so a purely
    // n-gated recompute would never clear the residuals and the
    // purge → quiesce → verify loop could not converge.
    val residual = n == 0L &&
      Seq("dedup_decisions", "documents_clean", "text_fps")
        .exists(t => store.exists(t) &&
          !store.load(t).filter(col("doc_id").isin(docIds: _*)).isEmpty)
    if ((n > 0L || residual) && store.exists("documents")) {
      val remaining = store.load("documents")
      val spark = remaining.sparkSession
      // full batch recompute (pairs + distributed CC + quality
      // election) — the purge is a rare admin op, and removing a doc
      // can re-elect canonicals or split components, which only a
      // recompute sees. The fingerprint sidecar re-derives with it.
      if (store.exists("dedup_decisions"))
        store.replace("dedup_decisions",
          graft.operators.DedupQueries.decisions64Of(spark, remaining))
      if (store.exists("text_fps"))
        store.replace("text_fps",
          graft.operators.DedupQueries.fpQualityOf(remaining))
      if (store.exists("documents_clean"))
        store.replace("documents_clean",
          graft.operators.SpanDedup.cleanedCorpus(remaining))
    } else if (residual) {
      // no corpus table to recompute from: prune the rows directly
      Seq("dedup_decisions", "documents_clean", "text_fps").foreach { t =>
        if (store.exists(t))
          store.deleteWhere(t, col("doc_id").isin(docIds: _*))
      }
    }
    // the verdict-row prune is NOT gated on n: a QUALITY-REJECTED doc
    // was never appended to the corpus (deleteWhere returns 0) yet its
    // (admitted=false, reason='quality') log row is still a record
    // about the subject's document and must go
    if (store.exists("ingest_log"))
      store.deleteWhere("ingest_log", col("doc_id").isin(docIds: _*))
    // r14 doc_id-keyed stores: the media corpus and its derived
    // fingerprint/verdict tables (the payload and its perceptual
    // signature ARE subject content — and with the fingerprint gone,
    // a future re-send of the same bytes re-enters the gate fresh:
    // erasure means the system forgot it), plus the packing
    // manifest's span rows (they record the doc's token layout; the
    // affected windows keep a hole, which the trainer-side reader
    // tolerates exactly like any filtered span), plus (r15) the
    // chunk store — chunk fingerprints derive from the doc's tokens
    // and are independent per doc, so a row prune IS the full purge
    Seq("media_docs", "media_fps", "media_ingest_log", "packing_manifest",
      "chunks")
      .foreach { t =>
        if (store.exists(t))
          store.deleteWhere(t, col("doc_id").isin(docIds: _*))
      }
    // (r17) the training-shard store packs doc TOKENS into window
    // arrays — NOT doc-keyed, so a row prune cannot erase a purged
    // document's content; erasure = re-packing the remaining corpus
    // (window ids after the purged doc's position legitimately move).
    // Gated on an actual corpus change like the decision recompute; a
    // race-window re-add by a concurrent flow batch falls to the
    // purge → quiesce → verify loop, whose maintain-side cover check
    // rebuilds from the already-purged corpus on the next trigger.
    if (n > 0L && store.exists("shards") && store.exists("documents"))
      graft.operators.ShardExport.rebuildStore(
        store.load("documents").sparkSession, store)
    n
  }

  /** Post-purge verification: which of `docIds` are still referenced
    * by the corpus or any flow-derived table. Empty = erasure is
    * complete in the derived stores. This is the check an erasure SLA
    * loop runs AFTER quiescing the ingest flows: [[purgeDocuments]]
    * itself cannot be atomic against a concurrently running
    * `documentIngestFlow` batch (the flow's derived-table recompute
    * reads a corpus snapshot pinned at batch start, so a purge landing
    * mid-batch can be overwritten by pre-purge state) — the remedy is
    * purge → quiesce/await trigger → verify, re-purging on leftovers
    * (idempotent). */
  def verifyErasure(store: TableStore, docIds: Seq[Long]): Map[String, Long] =
    Seq("documents", "dedup_decisions", "documents_clean", "ingest_log",
      "text_fps", "media_docs", "media_fps", "media_ingest_log",
      "packing_manifest", "chunks")
      .filter(store.exists)
      .map { t =>
        t -> store.load(t).filter(col("doc_id").isin(docIds: _*)).count()
      }
      .filter(_._2 > 0L)
      .toMap

  /** Erase `email` from the operational tables of `store`. Missing
    * tables are skipped (a young deployment may not have produced
    * notifications yet). Returns per-table affected-row counts. */
  def purgeSubject(store: TableStore, email: String): PurgeReport = {
    // case-INSENSITIVE matching throughout: email domains are
    // case-insensitive by RFC 1035 and most providers fold the local
    // part too, so a subject stored as Ana@X.com must not survive a
    // purge request for ana@x.com — a byte-exact compare would leave
    // the row behind while the erasure report claims success
    val emailLc = email.toLowerCase(java.util.Locale.ROOT)
    val matches = lower(col("email")) === emailLc
    val redacted =
      if (!store.exists("reservas")) 0L
      else {
        val hit = store.load("reservas").filter(matches)
        val n = hit.count()
        if (n > 0L)
          store.upsert("reservas",
            hit.withColumn("email", lit(Tombstone)), Seq("id"))
        n
      }
    val notif =
      if (!store.exists("notificaciones")) 0L
      else store.deleteWhere("notificaciones", matches)
    val dead =
      if (!store.exists("dead_letter")) 0L
      else {
        // anchored match, not substring: a bare contains(email) would
        // also erase OTHER subjects' payloads whose address merely
        // contains this one (ana@x.com ⊂ mariana@x.com) — permanent
        // loss of someone else's replayable quarantine row. Require
        // the char before/after the match (if any) to be outside the
        // email alphabet.
        // (?iu), not (?i): bare CASE_INSENSITIVE is ASCII-only in Java
        // regex — without UNICODE_CASE a quarantined "JOSÉ@X.COM"
        // would survive a purge of josé@x.com while the lower()
        // comparisons above (which do fold é/É) erased the other legs
        val boundary = "[^A-Za-z0-9._%+@-]"
        val anchored = s"(?iu)(^|$boundary)${java.util.regex.Pattern.quote(email)}($boundary|$$)"
        store.deleteWhere("dead_letter", col("raw").rlike(anchored))
      }
    PurgeReport(redacted, notif, dead)
  }
}
