package graft.operators

import graft.functions.TextFns
import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-shard EXPORT — the materialization step downstream of the
 * packing manifest (r15 verdict ask #6): x100 maps every W-token
 * training window to the document spans that fill it; this writer
 * actually BUILDS those windows and writes them as per-shard parquet
 * files — the artifact a trainer's data loader mmaps, completing the
 * manifest tier (x100 manifest → x117 epoch order → x119 loader
 * schedule → exported shards).
 *
 * Lifecycle: build-once per corpus version ([[StoredIndexes]]
 * version cache, kind `graft-shard-export` in the bench `build`
 * section), stored table `shards(lang, window_id, n_tok, tokens,
 * w_md5)` hive-partitioned by `lang` — each shard (= lang stream,
 * matching x100's shard-local packing contract) is its own directory
 * of files, which is exactly the per-shard file layout a loader
 * schedule addresses. Every window carries its md5 content key so
 * shard integrity is checkable without re-reading the corpus. The
 * ingest flow keeps a TableStore-resident twin current PER BATCH via
 * [[maintain]] (r17 — see the store-maintenance section below).
 *
 * Shape: ONE manifest-driven join. The manifest is recomputed from
 * [[PackingQueries.manifestOf]] (the SAME definition x100 hash-pins —
 * the stored shards cannot drift from the declared manifest), joined
 * back to the corpus on doc_id, each manifest row slices its span
 * out of the document's token array, and one (lang, window_id)
 * aggregate concatenates the slices in doc_id order (windows are
 * ≤ W tokens by construction, so the grouped state is bounded).
 *
 * 100 TB: this is the one operator in the packing tier that MUST move
 * the token payload — it is the export job. The payload moves twice,
 * both times usefully: once hash-partitioned by doc_id into the
 * manifest join (full arrays, each exactly once — the slice projects
 * W-bounded segments in the same stage, so the per-(doc,window)
 * duplication never hits a shuffle), once as W-bounded segments into
 * the window aggregate. Everything else (offsets, window ids, spans)
 * is the manifest's narrow arithmetic. The final repartition by lang
 * makes each shard directory contiguous files; at real scale the
 * shard key widens to (lang, file-group) exactly as x100 documents,
 * which also bounds the per-task window count.
 */
object ShardExport {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  def forDir(spark: SparkSession, dir: String): TableStore =
    StoredIndexes.versioned(cache, dir, "documents.parquet",
      "graft-shard-export") { root =>
      val store = new TableStore(spark, root)
      store.replace("shards",
        windowRows(spark, dir).repartition(col("lang")),
        partitionBy = Seq("lang"))
      store
    }

  /** The materialized windows (lang, window_id, n_tok, tokens, w_md5)
    * — the BUILD plan; probes read the stored table. */
  private[operators] def windowRows(s: SparkSession, d: String): DataFrame =
    windowRowsOf(table(s, d, "documents"))

  /** [[windowRows]] over ANY (doc_id, lang, text) frame — the full
    * rebuild the store maintainer shares with the dir build. */
  private[graft] def windowRowsOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
    val seg = PackingQueries.manifestOfDocs(docsIn)
      .join(docs, Seq("doc_id"))
      .select(col("lang"), col("window_id"), col("doc_id"),
        slice(col("ts"), col("start_tok") + 1,
          (col("end_tok") - col("start_tok")).cast("int")).as("sg"))
    windowAgg(seg)
  }

  /** The (lang, window_id) window assembly over a span-segment frame
    * (lang, window_id, doc_id, sg) — doc_id-ordered concat, token
    * count, md5 content key. ONE definition for the full rebuild and
    * the incremental tail extension (the tail's stored tokens enter
    * as a doc_id = −1 segment, sorting ahead of every real doc). */
  private def windowAgg(seg: DataFrame): DataFrame =
    seg.groupBy("lang", "window_id")
      .agg(flatten(transform(sort_array(collect_list(
        struct(col("doc_id"), col("sg")))),
        x => x.getField("sg"))).as("tokens"))
      .select(col("lang"), col("window_id"),
        size(col("tokens")).cast("long").as("n_tok"),
        col("tokens"),
        md5(concat_ws(" ", col("tokens"))).as("w_md5"))

  // ------------------------------------------------- store maintenance
  // The S19 handoff's missing half (r16 verdict ask #4): x136 rebuilds
  // all shards per corpus VERSION, but packed windows are
  // append-stable by construction (x100/x117: packing is a per-lang
  // greedy concat in doc_id order, so new higher-id docs never move
  // packed windows) — per-batch maintenance is therefore
  //   append every newly-complete window + rewrite only each
  //   lang-shard's trailing PARTIAL window,
  // O(batch) compute: the batch manifests against per-lang base
  // offsets carried in a ≤|langs|-row state table (no stored-side
  // scan), the only stored rows read back are the ≤|langs| partial
  // tails, and the only rewritten rows are those same tails
  // (TableStore.upsert is a snapshot rewrite in this store — the
  // documented production swap is a key-pruned Delta/Iceberg MERGE;
  // the newly-complete windows ride a pure appendUnique either way).
  //
  // Checked contract (the VectorIndex/PostingsIndex class, adapted to
  // a replaying stream): `shard_cover` tracks how many CORPUS ROWS the
  // shards absorb; a batch's docs split per-lang into FRESH
  // (doc_id > the lang's absorbed max — never seen) and STALE
  // (≤ max — crash-window replays). Absorbed rows + fresh rows must
  // equal the corpus row count, else FULL REBUILD: an out-of-order
  // new doc (belongs mid-stream — incremental append would misplace
  // it), a foreign append, or a GDPR purge (rows shrank) all land
  // here and rebuild instead of silently corrupting shards. A pure
  // replay has zero fresh rows and is a NO-OP (the spec pins it).
  // Crash windows inside maintain self-heal: shards write first,
  // state after — and the tail segment is SLICED to the length the
  // state says it had (a crashed run may have already extended the
  // stored tail row; re-reading it verbatim would duplicate the
  // batch's tokens on replay — review-caught), so a replay re-derives
  // byte-identical windows from the OLD state and the keyed
  // upsert/appendUnique writes land idempotently; a crash between
  // state and cover fails the next cover check into a rebuild (safe,
  // never wrong).

  private val W = PackingQueries.WindowW

  /** Full rebuild of the store-resident shard tables from the CURRENT
    * `documents` corpus — maintain's contract-violation fallback, and
    * the GDPR purge path: window token arrays are not doc-keyed, so a
    * row prune cannot erase a purged document's tokens; re-packing
    * the remaining corpus is the erasure. */
  private[graft] def rebuildStore(spark: SparkSession,
      store: TableStore): Unit = {
    import spark.implicits._
    val corpus = store.load("documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val rows = windowRowsOf(corpus)
    // a fully-purged/empty corpus packs no windows, and a zero-row
    // PARTITIONED write emits no parquet files (TableStore documents
    // the hazard on append — every later load would fail schema
    // inference); a flat empty write carries its schema
    if (rows.isEmpty) store.replace("shards", rows)
    else store.replace("shards", rows.repartition(col("lang")),
      partitionBy = Seq("lang"))
    // max_doc_id covers EVERY corpus row (null-text docs too), else
    // their replay misclassifies as fresh and fails the cover check
    store.replace("shard_state", corpus
      .select(col("doc_id"), col("lang"),
        when(col("text").isNotNull,
          size(TextFns.tokens(col("text"))).cast("long"))
          .otherwise(lit(0L)).as("n"))
      .groupBy("lang")
      .agg(max(col("doc_id")).as("max_doc_id"),
        sum(col("n")).as("total_toks")))
    store.replace("shard_cover",
      Seq(store.load("documents").count()).toDF("n_rows"))
  }

  /** Incrementally absorb `batch` (doc_id, lang, text — the rows the
    * ingest flow just appended to the store's `documents` corpus)
    * into the stored `shards` table. Contract and fallback above;
    * first contact (or any contract violation) builds from the full
    * corpus. `lang` is the shard key (the x100/x136 contract; at real
    * scale it widens to (lang, file-group)) — a batch carrying a
    * NULL lang falls back to the full rebuild rather than poisoning
    * the stream: the incremental path's per-lang joins cannot address
    * a null key, the rebuild's hive default partition can, and a
    * replaying batch must never hit an unconditional throw
    * (review-caught — the first cut require()d here, which a single
    * null value would have turned into an unrecoverable poison pill).
    * All batch-sized work is distributed and the batch tokenizes
    * exactly ONCE (the persisted projection carries the arrays); the
    * only driver-side rows are the ≤|langs| state and tail keys. */
  def maintain(spark: SparkSession, store: TableStore,
      batch: DataFrame): Unit = {
    import spark.implicits._
    def fullRebuild(): Unit = rebuildStore(spark, store)
    if (!store.exists("shards") || !store.exists("shard_state") ||
        !store.exists("shard_cover")) { fullRebuild(); return }
    val corpusRows = store.load("documents").count()
    val cover = store.load("shard_cover").head.getLong(0)
    // bounded state read: one row per lang shard
    val state = store.load("shard_state").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // empty state ⟺ the last rebuild saw an EMPTY corpus, whose
    // zero-row shards table was necessarily written FLAT (see
    // rebuildStore); the first real batch rebuilds instead of
    // appending, restoring the lang-partitioned layout for good
    if (state.isEmpty) { fullRebuild(); return }
    val stateDf = state.toSeq.map { case (l, (mx, t)) => (l, mx, t) }
      .toDF("lang", "max_doc_id", "base")
    // ONE tokenize pass for the whole maintainer: the persisted
    // projection carries the token arrays, and the manifest, segment
    // slice and state fold all read them (the UnigramLM build rule)
    val fresh = batch.select(col("doc_id"), col("lang"), col("text"))
      .join(broadcast(stateDf.select("lang", "max_doc_id")),
        Seq("lang"), "left")
      .filter(col("max_doc_id").isNull ||
        col("doc_id") > col("max_doc_id"))
      .drop("max_doc_id")
      .withColumn("ts",
        when(col("text").isNotNull, TextFns.tokens(col("text"))))
      .withColumn("n", coalesce(size(col("ts")), lit(0L)).cast("long"))
      .persist()
    try {
      if (!batch.filter(col("lang").isNull).limit(1).isEmpty) {
        fullRebuild(); return
      }
      val freshN = fresh.count()
      if (cover + freshN != corpusRows) { fullRebuild(); return }
      if (freshN == 0) return // pure replay
      // per-lang base offsets = where each stored stream ended
      val man = PackingQueries.manifestOfCounts(
        fresh.filter(col("n") > 0).select("doc_id", "lang", "n"),
        Some(stateDf.select("lang", "base")))
      val batchSeg = man
        .join(fresh.select(col("doc_id"), col("ts")), Seq("doc_id"))
        .select(col("lang"), col("window_id"), col("doc_id"),
          slice(col("ts"), col("start_tok") + 1,
            (col("end_tok") - col("start_tok")).cast("int")).as("sg"))
      // the ≤|langs| partial tails re-enter as doc_id = −1 segments
      // (sorting ahead of every real doc — the stream they prefix);
      // only langs the batch actually extends, and SLICED to the
      // state's recorded length (`keep`), so a crashed run's
      // already-extended tail row replays to the identical bytes
      val batchLangs = fresh.select("lang").distinct()
        .collect().map(_.getString(0)).toSet
      val tails: Seq[(String, Long, Long)] = state.toSeq.collect {
        case (l, (_, t)) if t % W != 0 && batchLangs(l) =>
          (l, (t - 1) / W, t % W)
      }
      val tailsDf = tails.toDF("lang", "window_id", "keep")
      val tailSeg = store.load("shards")
        .join(broadcast(tailsDf), Seq("lang", "window_id"))
        .select(col("lang"), col("window_id"), lit(-1L).as("doc_id"),
          slice(col("tokens"), lit(1), col("keep").cast("int")).as("sg"))
      val newRows = windowAgg(batchSeg.unionByName(tailSeg)).persist()
      try {
        // tail windows REWRITE (≤|langs| keys), complete windows
        // APPEND; both keyed — idempotent across crash replays
        val tailKeys = broadcast(tailsDf.select("lang", "window_id"))
        val tailRows = newRows
          .join(tailKeys, Seq("lang", "window_id"), "left_semi")
        val freshRows = newRows
          .join(tailKeys, Seq("lang", "window_id"), "left_anti")
        if (tails.nonEmpty) // skip the snapshot rewrite entirely
          store.upsert("shards", tailRows, Seq("lang", "window_id"))
        store.appendUnique("shards", freshRows, Seq("lang", "window_id"))
      } finally { newRows.unpersist(); () }
      // state advances LAST (see the crash-window note above)
      val freshStats = fresh
        .groupBy("lang")
        .agg(max(col("doc_id")).as("mx"), sum(col("n")).as("nt"))
        .join(broadcast(stateDf), Seq("lang"), "left")
        .select(col("lang"),
          greatest(col("mx"), coalesce(col("max_doc_id"),
            lit(Long.MinValue))).as("max_doc_id"),
          (col("nt") + coalesce(col("base"), lit(0L)))
            .as("total_toks"))
      store.upsert("shard_state", freshStats, Seq("lang"))
      store.replace("shard_cover",
        Seq(cover + freshN).toDF("n_rows"))
    } finally { fresh.unpersist(); () }
  }
}
