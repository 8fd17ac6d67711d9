package graft.operators

import graft.functions.VectorFns
import graft.sources.Tables.table
import graft.tables.TableStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stored IVF index over the `embeddings` table: build ONCE, probe per
 * query. This is the operational half of the billion-vector ANN story
 * — x20's k-means was always the right algorithm, but rebuilding the
 * index inside every query made the index a per-query cost. Here the
 * build writes two tables through TableStore:
 *
 *  - `ivf_corpus` (vec_id, embedding, cell) — REPLACEd with
 *    `partitionBy = cell`, so the segment lays out as hive-style
 *    `cell=K/` directories and a probe's `cell IN (...)` filter
 *    becomes a PartitionFilter that prunes whole directories from the
 *    scan: probe cost is O(probed cells), not O(corpus);
 *  - `ivf_centroids` (cell, m) — Cells×Dim numbers, the driver-side
 *    routing table every query ranks to pick its probe cells.
 *
 * Determinism: k-means runs on a fixed-point projection
 * (floor(x·2¹⁶) as int64) whose per-cell sums are exact integers, so
 * centroid arithmetic has no float-accumulation-order exposure —
 * Spark and the DuckDB oracle derive bit-identical cells, probes and
 * top-k (see VectorQueries.x20Sql, which replays the same build
 * relationally).
 *
 * Scale: at 100 TB the build is one shuffle-free scoring pass per
 * Lloyd round (each round broadcasts Cells×Dim centroid literals into
 * a codegen'd distance cascade) plus one aggregate; the centroid sync
 * is a driver collect of Cells×Dim numbers — the k-means
 * synchronization barrier, not a data collect. The corpus rewrite is
 * one repartition-by-cell write, amortized over every query that
 * probes it.
 */
object VectorIndex {

  val Cells = 8
  val Iters = 2
  val Dim = 64
  val Scale = 65536 // 2^16: x·Scale is exact in double

  /** Hive-partition fanout of the `fwd` forward (vec_id → embedding)
    * lookup table: a point fetch prunes to 1/FwdBuckets of the corpus
    * at PLANNING time, then parquet row-group min/max stats on the
    * within-partition vec_id sort skip everything but the one group
    * holding the id. */
  val FwdBuckets = 64

  /** IVF build knobs. The defaults are ORACLE-PINNED (x20Sql replays
    * exactly this build relationally), so x20 hash-matches DuckDB;
    * production tunes them per corpus — cells ∝ √n is the usual IVF
    * sizing, `iters` trades build cost for centroid quality, `dim`
    * follows the embedding column. Non-default builds get their own
    * cache entry + stored tables (keyed by (dir, params)), so tuning
    * experiments never evict the serving index. */
  final case class IvfParams(cells: Int = Cells, iters: Int = Iters,
      dim: Int = Dim)

  private def ivfKey(dir: String, p: IvfParams): String =
    s"$dir|ivf|${p.cells}|${p.iters}|${p.dim}"

  /** The standard IVF sizing rule, cells ≈ √n (never below the
    * oracle-pinned default): balances the driver-ranked routing table
    * (Cells×Dim numbers) against per-cell scan width — at 10⁹ vectors
    * this yields ~31.6k cells of ~31.6k vectors, keeping both the
    * probe ranking and the probed partitions bounded. */
  def sizedParams(corpusRows: Long): IvfParams =
    IvfParams(cells =
      math.max(Cells.toDouble, math.sqrt(corpusRows.toDouble)).toInt)

  /** A built index: the centroid routing table (kept in memory — it is
    * Cells×Dim numbers) plus the TableStore holding the
    * cell-partitioned corpus. */
  final case class Ivf(centroids: Array[(Long, Array[Double])],
      store: TableStore) {
    /** The stored corpus: (vec_id, embedding, cell), cell-partitioned. */
    def corpus: DataFrame = store.load("ivf_corpus")

    /** Rank the stored centroids against a (fixed-point-projected)
      * query vector and return the nProbe nearest cell ids —
      * (distance, cell) ordering, same tie-break as the oracle. */
    def probeCells(qd: Array[Double], nProbe: Int): Seq[Long] =
      centroids.map { case (c, m) => (l2(qd, m), c) }
        .sorted.take(nProbe).map(_._2).toSeq

    /** Point-fetch a corpus vector's embedding from the stored `fwd`
      * forward table: the bkt literal partition-prunes to one of the
      * [[FwdBuckets]] directories at planning, the vec_id predicate
      * row-group-skips inside it (the table is vec_id-sorted within
      * partitions) — a bounded lookup at any corpus size, never a
      * corpus scan (r16 ADVICE: the serving endpoint used to fetch
      * the query row with a full embeddings.parquet filter-scan per
      * request). */
    def lookup(vecId: Long): Option[Seq[Float]] =
      store.load("fwd").filter(fwdKey(vecId))
        .select(col("embedding")).collect()
        .headOption.map(_.getSeq[Float](0))
  }

  /** The `fwd` point-lookup predicate for `vecId`, the one form
    * [[Ivf.lookup]] and ingest's replay probe share: without the bkt
    * predicate a probe opens every bucket directory. floorMod, matching
    * the writer's pmod — Scala's sign-preserving % would probe a
    * nonexistent negative bucket for a negative vec_id. */
  private def fwdKey(vecId: Long): Column =
    col("bkt") === java.lang.Math.floorMod(vecId, FwdBuckets.toLong).toInt &&
      col("vec_id") === vecId

  // One index per (corpus dir, corpus version) per JVM: Verify/Bench
  // build during their first x20 invocation (warmup, in Bench's case)
  // and every later invocation probes the stored tables. The version is
  // the embeddings data-file listing (StoredIndexes.dataListing): a
  // corpus mutated in place — the continuous-upsert analogue of the
  // reference's CDC clone (kafka-mongodb-connect.yaml:22-33) — triggers
  // a rebuild on the next probe instead of silently serving a stale
  // index. Retired builds are retained until JVM exit (readers holding
  // lazy plans over the old index keep their snapshot; TempDirs
  // reclaims at shutdown). Cache/versioning/build-time accounting
  // live in StoredIndexes.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Ivf]]()

  def forDir(spark: SparkSession, dir: String,
      params: IvfParams = IvfParams()): Ivf =
    StoredIndexes.versioned(cache, dir, "embeddings.parquet",
      "graft-ivf-index", cacheKey = ivfKey(dir, params))(
      root => build(spark, dir, root, params))

  /** Incrementally absorb new vectors into the stored IVF index
    * WITHOUT a rebuild: assigns them to cells with the FROZEN
    * centroids and appends layout-compatible delta segments into the
    * cell-partitioned corpus table — O(new rows) instead of
    * O(corpus), the standard IVF serving practice (centroid drift is
    * tolerated until the next full rebuild; pruning is preserved
    * because TableStore appends keep the hive layout). Call AFTER the
    * corpus itself has grown APPEND-ONLY by exactly `rows`; the
    * checked contract and its rebuild fallback are
    * [[StoredIndexes.maintain]]'s. The covered-row counter is carried
    * on the cache entry, so the coverage check never rescans the
    * index. Maintains the DEFAULT-params serving index (the one the
    * declared queries probe); parameter experiments rebuild via
    * forDir. */
  def ingest(spark: SparkSession, dir: String, rows: DataFrame): Ivf =
    maintainIvf(spark, dir, Some(rows))

  /** Force a fresh default-params build for the CURRENT corpus
    * version — the retune policy's rebuild arm
    * ([[VectorQueries.retuneIvf]]): unconditionally re-trains
    * centroids and replaces the cache entry even when the corpus
    * version is unchanged, because the entry may be an
    * ingest-maintained index whose FROZEN centroids have drifted from
    * the grown corpus — exactly the state `forDir`'s version hit
    * would keep serving. */
  def rebuild(spark: SparkSession, dir: String): Ivf =
    maintainIvf(spark, dir, None)

  private def maintainIvf(spark: SparkSession, dir: String,
      delta: Option[DataFrame]): Ivf =
    StoredIndexes.maintain(spark, cache, dir, "embeddings.parquet",
      "graft-ivf-index", delta, cacheKey = ivfKey(dir, IvfParams()))(
      (root, _) => build(spark, dir, root, IvfParams()))(
      // backfill for entries built before any ingest (forDir): the
      // IVF corpus count is a parquet metadata read
      prev => if (prev.rows >= 0) prev.rows else prev.index.corpus.count()) {
      (ivf, rows, _) =>
        val base = rows
          .select(col("vec_id"), col("embedding"),
            transform(col("embedding"),
              x => floor(x.cast("double") * Scale).cast("bigint")).as("pfp"))
          .withColumn("pd", transform(col("pfp"), f => f.cast("double")))
        val assigned = assignCells(base, ivf.centroids)
          .select(col("vec_id"), col("embedding"),
            col("cell").cast("int").as("cell"))
        // REPLAY-SAFE appends (review-caught: two tables made the
        // absorption non-atomic — an attempt that died between them
        // would re-append its ivf_corpus rows on retry, and duplicate
        // vec_ids would occupy top-k slots). TableStore appends are
        // ATOMIC per table (segment files, then the manifest pointer
        // via ATOMIC_MOVE), so a dead attempt left each table either
        // the WHOLE batch segment or nothing — replay detection is a
        // single-vec_id presence probe (limit-1; the fwd side is
        // partition-pruned by [[fwdKey]], ivf_corpus is
        // cell-partitioned, where vec_id gives no pruning — that probe
        // is an unavoidable narrow scan), never a per-batch anti-join
        // that would shuffle the stored corpus every trigger. Appended
        // segments keep each table's recorded layout (cell dirs / bkt
        // dirs + vec_id sort).
        val st = ivf.store
        val marker = rows.agg(min(col("vec_id"))).head
        def absorbed(tbl: String): Boolean =
          marker.isNullAt(0) || {
            val m = marker.getLong(0)
            val key = if (tbl == "fwd") fwdKey(m) else col("vec_id") === m
            !st.load(tbl).filter(key).limit(1).isEmpty
          }
        if (!absorbed("ivf_corpus"))
          st.append("ivf_corpus", assigned.repartition(col("cell")))
        if (!absorbed("fwd"))
          st.append("fwd",
            fwdRows(rows.select(col("vec_id"), col("embedding"))))
    }

  private val srpCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  /** Build-once stored SRP-LSH inverted index: (vec_id, tb) rows
    * written through TableStore PARTITIONED BY the bucket id, so a
    * query's `tb IN (<its L buckets>)` filter partition-prunes the
    * probe down to L directories out of the L·2^K the index has —
    * the same build-once/probe-many layout as the IVF index. The
    * bucket computation is supplied by the caller (it owns the plane
    * literals the oracle mirrors). Rebuilds when the corpus version
    * changes, like [[forDir]]. */
  def srpForDir(spark: SparkSession, dir: String,
      index: DataFrame => DataFrame): TableStore =
    StoredIndexes.versioned(srpCache, dir, "embeddings.parquet",
      "graft-srp-index")(srpBuild(spark, dir, index))

  private def srpBuild(spark: SparkSession, dir: String,
      index: DataFrame => DataFrame)(root: String): TableStore = {
    val store = new TableStore(spark, root)
    store.replace("srp_idx",
      index(table(spark, dir, "embeddings")).repartition(col("tb")),
      partitionBy = Seq("tb"))
    store
  }

  /** SRP twin of [[ingest]]: bucket the new vectors with the caller's
    * (deterministic) index function and append into the stored
    * bucket-partitioned inverted index — O(new rows), layout and
    * pruning preserved, same checked contract. The covered counter
    * means coverage checks never rescan the index — the O(index)
    * distinct-count only runs once as a backfill for an entry built
    * by [[srpForDir]] before its first ingest. */
  def srpIngest(spark: SparkSession, dir: String, rows: DataFrame,
      index: DataFrame => DataFrame): TableStore =
    StoredIndexes.maintain(spark, srpCache, dir, "embeddings.parquet",
      "graft-srp-index", Some(rows))(
      (root, _) => srpBuild(spark, dir, index)(root))(
      prev => if (prev.rows >= 0) prev.rows
        else prev.index.load("srp_idx").select(col("vec_id")).distinct().count()) {
      (st, rows, _) => st.append("srp_idx", index(rows).repartition(col("tb")))
    }

  /** The fixed-point projection both engines cluster on, as a local
    * computation (for the driver-side query vector). Matches
    * `list_transform(e, x -> floor(CAST(x AS DOUBLE) * Scale))`. */
  def fixedPoint(e: Seq[Float]): Array[Double] =
    e.iterator.map(x => math.floor(x.toDouble * Scale)).toArray

  /** Sequential double fold, the same IEEE op order as the oracle's
    * list_sum — used for driver-side probe ranking. */
  def l2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val v = a(i) - b(i); acc += v * v; i += 1 }
    acc
  }

  /** Nearest-centroid assignment: one codegen vec_l2sq distance column
    * per centroid (the same sequential double fold the oracle's
    * list_sum performs), then a strict-< cascade that keeps the LOWEST
    * cell id on ties, matching the oracle's ORDER BY (dist, cell).
    * `cents` must be sorted by cell. */
  def assignCells(base: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    // argmin as ONE array_min over (dist, rank) STRUCTS — struct
    // ordering is lexicographic, so the minimum is the smallest exact
    // DOUBLE distance with ties to the smaller rank = the earlier
    // cell, exactly the r14 when-chain's rule (that when-chain rebuilt
    // cell/best per step, each referencing the previous expression
    // twice, and its collapsed-Project codegen grew EXPONENTIALLY in
    // the cell count — janino's 64 KB limit at cells=16). A scalar
    // dist·k+rank key (the KMeansQueries.assignCid trick) is NOT
    // usable here: post-update centroids are fractional means, so the
    // integer encode would floor real distances before comparing
    // (review-caught — assignCid's centroids stay integer via
    // floorDiv, this path's do not).
    val key = array_min(array(cents.zipWithIndex.map { case ((_, m), i) =>
      struct(
        VectorFns.l2sq(col("pd"), array(m.map(lit).toIndexedSeq: _*))
          .as("d"),
        lit(i).as("i"))
    }.toIndexedSeq: _*))
    val cellIds = array(cents.map(c => lit(c._1)).toIndexedSeq: _*)
    base.withColumn("__k", key)
      .withColumn("cell", element_at(cellIds, col("__k.i") + 1))
      .drop("__k")
  }

  /** k-means over the fixed-point projection: deterministic seeds
    * (vec_id < cells), `iters` Lloyd rounds, then the corpus +
    * centroids written through TableStore at `root`. */
  private def build(spark: SparkSession, dir: String, root: String,
      p: IvfParams): Ivf = {
    val base = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * Scale).cast("bigint")).as("pfp"))
      .withColumn("pd", transform(col("pfp"), f => f.cast("double")))
    val seeds = base.filter(col("vec_id") < p.cells)
      .select(col("vec_id"), col("pd")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    var cents: Array[(Long, Array[Double])] = seeds
    for (_ <- 0 until p.iters) {
      val assigned = assignCells(base, cents)
      // posexplode + (cell, component) groupBy with TWO aggregate
      // columns: the r14 dim+1-column aggregate blew janino's 64 KB
      // method limit (interpreted fallback on the training pass —
      // the same defect, and fix, as the KMeansQueries trainer)
      // two-step select: a single select would hoist the collapsed
      // argmin `cell` expression into a Project ABOVE the Generate and
      // re-evaluate it per exploded row (×dim) — the KMeansQueries
      // trainer's lesson
      val agg = assigned
        .select(col("cell"), col("pfp"))
        .select(col("cell"), posexplode(col("pfp")).as(Seq("j", "x")))
        .groupBy("cell", "j")
        .agg(count(lit(1)).as("cnt"), sum(col("x")).as("s"))
        .collect()
      cents = agg.groupBy(_.getLong(0)).map { case (cell, rows) =>
        val m = new Array[Double](p.dim)
        rows.foreach(r =>
          m(r.getInt(1)) = r.getLong(3).toDouble / r.getLong(2))
        (cell, m)
      }.toArray.sortBy(_._1)
    }
    // cell is written as INT explicitly (cells ∝ √n stays far under
    // 2³¹ at any feasible corpus) so the stored type matches what
    // hive partition inference reads back — appends then never see a
    // writer-bigint / recorded-int mismatch
    val fin = assignCells(base, cents)
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))
    val store = new TableStore(spark, root)
    // repartition by cell first so each cell directory is one file —
    // at scale this is the co-location that makes a probe read
    // contiguous data instead of a sliver of every task's output
    store.replace("ivf_corpus", fin.repartition(col("cell")),
      partitionBy = Seq("cell"))
    import spark.implicits._
    store.replace("ivf_centroids",
      cents.map { case (c, m) => (c, m.toSeq) }.toSeq.toDF("cell", "m"))
    store.replace("fwd", fwdRows(base), partitionBy = Seq("bkt"))
    Ivf(cents, store)
  }

  /** The `fwd` forward-lookup rows of ANY (vec_id, embedding) frame:
    * bucket-partitioned, vec_id-sorted within partitions so a point
    * fetch is partition-pruned + row-group-skipped ([[Ivf.lookup]]).
    * Shared by the build and the ingest append (appended segments
    * keep the same layout, so lookups stay bounded after growth). */
  private def fwdRows(rows: DataFrame): DataFrame =
    rows.select(pmod(col("vec_id"), lit(FwdBuckets)).cast("int").as("bkt"),
        col("vec_id"), col("embedding"))
      .repartition(col("bkt")).sortWithinPartitions("vec_id")
}
