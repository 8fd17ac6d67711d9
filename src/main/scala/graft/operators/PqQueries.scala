package graft.operators

import graft.Query
import graft.functions.VectorFns
import graft.sources.Tables
import graft.tables.TableStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) over the embedding corpus — the vector
 * COMPRESSION tier between x63's scalar quantization (1 byte/dim, 4×)
 * and the IVF cell partitioning (x20): split each vector into M
 * subspaces, train a K-centroid codebook per subspace, and store each
 * vector as M sub-centroid ids (Jégou et al., "Product Quantization
 * for Nearest Neighbor Search", TPAMI 2011 — the standard billion-
 * scale ANN memory layout). Reference scope: the reference backend has
 * no vector search at all; this completes the engine's quantized-ANN
 * family (x63/x64 scalar-quant ADC, x20 IVF, x11 SRP).
 *
 * At the fixture's dim=64 with M=8, K=16: 256 bytes of floats become
 * M log₂K = 32 BITS per vector — codes are what a 100 TB ANN store
 * actually scans (the FAISS IVFADC layout: codes live inside x20's
 * cell partitions; a query probes cells and reads codes, never
 * floats). Search is asymmetric distance (ADC): the query stays
 * full-precision, each subspace precomputes a K-entry lookup table of
 * query-to-centroid distances (M·K bounded numbers, broadcast), and a
 * vector's distance is M table lookups + (M−1) adds — no per-
 * dimension arithmetic in the scan at all, unlike x64's scalar-quant
 * ADC which still touches every dimension.
 *
 * Engine shape (every choice mirrors an already-proven doctrine):
 *  - Integer arithmetic end to end: vectors ride the x111 fixed-point
 *    quantization (floor(e·1000)+2048), centroid means use FLOOR
 *    division (`Math.floorDiv` / DuckDB `//`), distances are exact
 *    integer sums — bit-reproducible across engines, no float
 *    summation order anywhere ([[KMeansQueries]]' doctrine).
 *  - Per-subspace training is Lloyd's over the SLICED vectors with
 *    first-K-by-vec_id seeds (the x20 IVF seeding convention; PQ
 *    subspaces are low-dimensional and the final declared outputs
 *    carry per-cluster SSE, so seed quality is measured, not
 *    assumed). All M subspaces train in ONE pass per iteration: a
 *    narrow argmin projection builds (sub, cid, subvector) structs,
 *    one explode + posexplode feeds a map-side-combined
 *    (sub, cid, component) aggregate — M·K·subDim bounded groups, the
 *    same shuffle shape as x111 (the r14 janino lesson: two aggregate
 *    columns over exploded rows stay codegen'd at any dimension).
 *  - Codebooks follow the stored-model lifecycle
 *    ([[StoredIndexes.versionedValue]]): trained once per corpus
 *    version, M·K·subDim bounded driver numbers (the x41 rate-table
 *    collect contract), then ride every probe as literals — the
 *    declared queries are single narrow scans, no joins.
 *  - Empty-cluster rule: a cluster that captures no vectors keeps its
 *    previous centroid (both engines COALESCE the same way — the
 *    x111 rule, NOT the IVF drop-the-cell rule, so the codebook
 *    always has exactly K usable entries per subspace).
 *
 * The oracle replays the ENTIRE build relationally (quantize → slice
 * → seed → 2 Lloyd rounds per subspace → final assignment) as
 * MATERIALIZED CTE chains — the x111/x20 oracle technique — so the
 * hash check pins training, encoding and search, not just the final
 * ranking.
 */
object PqQueries {

  /** Subspace count: dim must divide evenly (64 → 8 × 8-dim). */
  private[graft] val M = 8
  /** Centroids per subspace codebook (codes are log₂K = 4 bits). */
  private[graft] val K = 16
  /** Lloyd rounds per subspace (the x111/x20 default). */
  private[graft] val Iters = 2

  /** Fixture subspace width — ORACLE-ONLY (the engine derives it from
    * the seed vectors; only the SQL pins the fixture's 64-dim). */
  private val OracleSubDim = KMeansQueries.Dim / M

  /** PQ build knobs. The defaults are ORACLE-PINNED (x148-x152's SQL
    * replays exactly this build), so the declared queries hash-match
    * DuckDB; production tunes them per corpus — x151's measured curve
    * is the tuning signal (on the fixture the K=16 default is COARSE:
    * pure-ADC recall@10 ~0.24-0.34, so a production corpus would
    * raise k and/or m until the curve clears its floor at a
    * serveable depth; PqProbeSpec pins that a k=32 build strictly
    * lowers quantization distortion). Non-default builds get their
    * own cache entries + stored code tables (keyed by (dir, params),
    * the IvfParams doctrine), so tuning experiments never evict the
    * serving index. `m` must divide the embedding dim; seeding needs
    * contiguous vec_ids 0..k-1. */
  final case class PqParams(m: Int = M, k: Int = K, iters: Int = Iters) {
    require(m > 0 && k > 0 && iters >= 0,
      s"PqParams needs m > 0, k > 0, iters >= 0 (got m=$m k=$k iters=$iters)")
  }

  private def pqKey(dir: String, p: PqParams): String =
    s"$dir|pq|${p.m}|${p.k}|${p.iters}"

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Array[Array[Array[Long]]]]]()

  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  /** All M subspaces' argmin keys in ONE codegen pass over the full
    * quantized vector: element ss is min over cid of (squared-L2
    * dist of subvector ss)·K + cid — the [[KMeansQueries]] minKey
    * trick per subspace. dist ≤ subDim·4096² ≈ 2²⁸·subDim so the ·K
    * shift cannot overflow; cid < K makes each key unique and
    * (dist, cid)-lexicographic. Since r17 this is the
    * [[graft.functions.expressions.CodebookArgminKeys]] primitive
    * loop — the M·K interpreted `aggregate(zip_with(...))` folds it
    * replaces dominated both the x148 encode pass and every training
    * iteration (measured ~8×/~3×); arithmetic and tie-breaks are
    * bit-identical. */
  private def argminKeys(cbs: Array[Array[Array[Long]]], v: Column): Column =
    graft.functions.expressions.VectorExpressions
      .codebook_argmin_keys(v, cbs)

  /** The quantized subvector for subspace `ss` (1-based slice). */
  private def subCol(v: Column, ss: Int, subDim: Int): Column =
    slice(v, ss * subDim + 1, subDim)

  /** Train the M per-subspace codebooks once per corpus version.
    * Returns cbs(sub)(cid)(component) — M·K·subDim bounded longs. */
  private[graft] def train(s: SparkSession, d: String,
      p: PqParams = PqParams()): Array[Array[Array[Long]]] =
    StoredIndexes.versionedValue(cache, d, "embeddings.parquet",
      "graft-pq-codebooks", pqKey(d, p)) {
      val q = KMeansQueries.quantized(s, d)
      val seedRows = q.filter(col("vec_id") < p.k)
        .orderBy("vec_id")
        .select(col("vec_id").cast("long"), col("v")).collect()
      require(seedRows.length == p.k &&
        seedRows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i },
        s"PQ seeding needs contiguous vec_ids 0..${p.k - 1} " +
          s"(got ${seedRows.length} rows)")
      val dim = seedRows.head.getSeq[Long](1).length
      require(dim % p.m == 0,
        s"dim $dim not divisible into ${p.m} subspaces")
      val subDim = dim / p.m
      var cbs: Array[Array[Array[Long]]] =
        Array.tabulate(p.m, p.k) { (ss, c) =>
          seedRows(c).getSeq[Long](1)
            .slice(ss * subDim, ss * subDim + subDim).toArray
        }
      var it = 0
      while (it < p.iters) {
        // argmin select and the generators MUST be separate steps (the
        // x111 lesson: a generator's sibling expressions re-evaluate
        // once per exploded row if they share its Project); the M keys
        // come from ONE codegen pass and the struct Project derives
        // each cid from its key
        val rows = q
          .select(col("v"), argminKeys(cbs, col("v")).as("ks"))
          .select(array((0 until p.m).map(ss =>
            struct(lit(ss).as("s"),
              (element_at(col("ks"), ss + 1) % p.k)
                .cast("int").as("cid"),
              subCol(col("v"), ss, subDim).as("sv"))): _*).as("a"))
          .select(explode(col("a")).as("e"))
          .select(col("e.s").as("s"), col("e.cid").as("cid"),
            posexplode(col("e.sv")).as(Seq("j", "x")))
          .groupBy("s", "cid", "j")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sm"))
          .collect()
        val next = cbs.map(_.map(_.clone())) // empty cluster keeps its centroid
        rows.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            Math.floorDiv(r.getLong(4), r.getLong(3))
        }
        cbs = next
        it += 1
      }
      cbs
    }

  // ------------------------------------------------------ stored codes
  // Codes are what a PQ store SCANS — re-deriving them per probe with
  // the M·K argmin (as the first-cut x149 did) re-pays the encode on
  // every search, exactly the per-request recompute class the stored
  // postings index closed for BM25. One encode pass per corpus version
  // writes the M-byte-per-vector code table; every ADC probe then does
  // M literal-array lookups per stored CODE row, touching no floats
  // and no per-dimension arithmetic — the FAISS memory layout the
  // module doc describes, now actually stored.

  private val codesCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  /** The M-wide PQ code array for an argmin-KEYS column ([[argminKeys]]
    * output) — each subspace's cid decoded from its key. Callers
    * compute the keys in a SEPARATE projection step so the M·K scan
    * runs once per row, not once per decoded element. */
  private def codeFromKeys(cbs: Array[Array[Array[Long]]], ks: Column): Column =
    array(cbs.indices.map(ss =>
      pmod(element_at(ks, ss + 1), lit(cbs(ss).length)).cast("int")): _*)

  /** Build-once stored `pq_codes` (vec_id, code array<int> of M sub-
    * centroid ids) on the version-keyed lifecycle — the
    * DsirIndex tiny-sidecar class (M·4 bytes/vector here; M·log₂K
    * bits in a bit-packed production layout). Incremental ingest
    * maintenance is deliberately NOT provided (the SimhashIndex scope
    * rule): new vectors CAN be encoded with frozen codebooks — the
    * standard serving practice — but the corpus version also
    * versions the codebooks themselves, and serving codes from one
    * codebook version while training another is a consistency seam
    * this engine resolves the same way as IVF centroid drift: rebuild
    * per corpus version, with the x151 audit measuring whether the
    * codebooks still rank well. */
  private[graft] def codesFor(s: SparkSession, d: String,
      p: PqParams = PqParams()): TableStore =
    StoredIndexes.versioned(codesCache, d, "embeddings.parquet",
      "graft-pq-codes", cacheKey = pqKey(d, p) + "|codes") { root =>
      val store = new TableStore(s, root)
      val cbs = train(s, d, p)
      store.replace("pq_codes",
        KMeansQueries.quantized(s, d)
          .select(col("vec_id"), argminKeys(cbs, col("v")).as("ks"))
          .select(col("vec_id"), codeFromKeys(cbs, col("ks")).as("code"))
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("vec_id")))
      store
    }

  /** The ADC distance of a stored `code` column to a quantized query
    * vector: M lookups into the query's per-subspace literal LUTs +
    * (M−1) adds — no floats, no per-dimension work. */
  private def adcExpr(luts: Array[Array[Long]], code: Column): Column =
    luts.indices.map(ss =>
      element_at(array(luts(ss).map(lit).toIndexedSeq: _*),
        element_at(code, ss + 1) + 1)).reduce(_ + _)

  /** Per-subspace K-entry LUT of exact integer distances from a
    * quantized query vector to the trained codebooks — M·K bounded
    * driver longs, computed once per query. */
  private def queryLuts(cbs: Array[Array[Array[Long]]],
      qv: Array[Long]): Array[Array[Long]] = {
    val subDim = cbs(0)(0).length
    Array.tabulate(cbs.length, cbs(0).length)((ss, c) =>
      sqDist(qv.slice(ss * subDim, ss * subDim + subDim), cbs(ss)(c)))
  }

  /** The shared exact-re-rank tail of every PQ serving arm:
    * broadcast-semi-join the bounded candidate frame against the
    * corpus, score exactly one cosine per candidate against the
    * full-precision query, 6-rounded — ONE definition so the pq and
    * ivfadc arms cannot diverge on rounding, tie-breaks or join
    * strategy. */
  private def rerankExact(s: SparkSession, d: String, qe: Seq[Float],
      cand: DataFrame): DataFrame = {
    import s.implicits._
    val q = Seq(Tuple1(qe)).toDF("qe")
    Tables.table(s, d, "embeddings")
      .join(broadcast(cand.select("vec_id")), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("qe")), 6).as("cos"))
  }

  /** The shared fixed-point grid, driver-side — bit-identical to
    * [[KMeansQueries.quantExpr]] (float→double is exact; ·1000, floor
    * and +2048 are the same IEEE/integer ops in the same order). */
  private def quantize(e: Seq[Float]): Array[Long] =
    e.map(x => math.floor(x.toDouble * 1000).toLong + 2048).toArray

  // ------------------------------------------------ IVFADC composition
  // The layout the module doc promises: codes INSIDE the IVF cell
  // partitions (Jégou et al. §V — the FAISS IVFADC memory layout, the
  // standard billion-scale serving shape). A query probes nProbe
  // cells (partition-pruned at PLANNING time, the x20 contract),
  // ADC-scans only those cells' M-int code rows, and exact-re-ranks
  // the top R — at 100 TB the scan touches nProbe/cells of the code
  // sidecar and R full vectors, never the corpus. Both knobs are the
  // already-audited ones: nProbe from the x142 curve, R from x151's.

  private val ivfadcCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[TableStore]]()

  /** Build-once stored `ivfadc_codes` (cell, vec_id, code),
    * cell-partitioned: ONE scan of the already-built IVF corpus
    * (which carries the cell assignment) through the PQ encoder — no
    * join, the cell rides along. Rebuild-per-corpus-version like its
    * two parents (both key on the same corpus version). */
  private[graft] def ivfadcFor(s: SparkSession, d: String): TableStore =
    StoredIndexes.versioned(ivfadcCache, d, "embeddings.parquet",
      "graft-ivfadc-codes") { root =>
      val store = new TableStore(s, root)
      val cbs = train(s, d)
      // label rides INLINE in the code sidecar (the FAISS
      // metadata-alongside-codes layout): a filtered search pushes
      // the predicate into the SAME pruned scan — partition pruning
      // by cell AND row-group skipping by label on one narrow table,
      // no id-set join at any corpus size. One build-time join. The
      // column is OPTIONAL: a corpus without label metadata (or one
      // whose post-ingest schema inference dropped it) builds a
      // label-free sidecar and the serving layer 400s label filters
      // against it ([[hasLabels]]) instead of 500ing every request;
      // rows with a NULL label (e.g. ingested deltas that carried no
      // metadata) never match a filter — standard SQL semantics,
      // stated here so it is a contract, not a surprise.
      val embT = Tables.table(s, d, "embeddings")
      val base = VectorIndex.forDir(s, d).corpus
        .withColumn("__ks",
          argminKeys(cbs, KMeansQueries.quantExpr(col("embedding"))))
      val withLbl =
        if (embT.columns.contains("label"))
          base.join(embT.select(col("vec_id"), col("label")),
            Seq("vec_id"))
            .select(col("cell"), col("vec_id"), col("label"),
              codeFromKeys(cbs, col("__ks")).as("code"))
        else
          base.select(col("cell"), col("vec_id"),
            codeFromKeys(cbs, col("__ks")).as("code"))
      store.replace("ivfadc_codes", withLbl.repartition(col("cell")),
        partitionBy = Seq("cell"))
      store
    }

  /** (vec_id, cos): the full IVFADC serving pipeline for corpus
    * vector `queryId` — probe `nprobe` cells off the in-memory
    * routing table, ADC-scan ONLY those cells' stored codes
    * (partition-pruned), exact-cosine re-rank the top `rerank`.
    * Negative knobs mean "the measured serving policy" (retuneIvf's
    * width, retunePq's depth). Throws NoSuchElementException for an
    * absent queryId (→ 404). */
  /** Whether corpus `d` carries label metadata — the /search route
    * 400s a `&label=` filter against a label-less corpus (loud
    * validation, not a 500 from a missing column). Schema read only. */
  private[graft] def hasLabels(s: SparkSession, d: String): Boolean =
    Tables.table(s, d, "embeddings").columns.contains("label")

  private[graft] def ivfadcKnn(s: SparkSession, d: String, queryId: Long,
      nprobe: Int = -1, rerank: Int = -1,
      label: Option[Int] = None): DataFrame = {
    require(label.isEmpty || hasLabels(s, d),
      "label filtering requires label metadata in the corpus")
    val ivf = VectorIndex.forDir(s, d)
    val qe = ivf.lookup(queryId).getOrElse(
      throw new NoSuchElementException(s"no such vector: $queryId"))
    val w =
      if (nprobe >= 1) nprobe else VectorQueries.servingProbeWidth(d)
    val cells = ivf.probeCells(VectorIndex.fixedPoint(qe), w)
    val luts = queryLuts(train(s, d), quantize(qe))
    val r = if (rerank >= 1) rerank else pqServingRerank(d)
    val base = ivfadcFor(s, d).load("ivfadc_codes")
      .filter(col("cell").isin(cells: _*))
    // pre-filter, not post-filter: the predicate lands in the SAME
    // pruned code scan (PushedFilters next to the PartitionFilters),
    // so ADC ranks only label-matching candidates and the top-R
    // budget is spent entirely inside the filtered set — the
    // filtered-ANN failure mode (over-fetch starvation after a
    // post-filter) cannot occur at the candidate stage; what remains
    // is the nProbe coverage question, which the x142 curve measures
    val cand = label.foldLeft(base)((b, l) => b.filter(col("label") === l))
      .select(col("vec_id"), adcExpr(luts, col("code"))
        .cast("bigint").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(r)
    rerankExact(s, d, qe, cand)
  }

  /** x152's declared re-rank depth (the declared query pins fixed
    * knobs so the oracle can replay them; serving reads both knobs
    * from the measured policies instead). */
  private[graft] val IvfadcRerank = 50

  /** (nprobe, n_hits, avg_recall): the FILTERED probe-width recall
    * curve — x142's frame with BOTH arms restricted to one metadata
    * label (x154's engine body). The filtered-ANN coverage question
    * x153 defers to the curve is a DIFFERENT number than x142's:
    * inside each probed cell the filter decimates candidates ~10×
    * here, so a width that clears the unfiltered floor can miss the
    * filtered one — measured, not assumed, and the per-request
    * `&nprobe=` override is the consumer. Audit-class cost (the
    * label restriction rides a semi-join here; the SERVING path
    * pushes the predicate into the inline-label code scan). */
  private[graft] def filteredRecallCurve(s: SparkSession, d: String,
      label: Int = FilterLabel): DataFrame =
    VectorQueries.recallCurve(s, d, label = Some(label))

  // ------------------------------------------- re-rank depth policy
  // ADC ranks by codebook-quantized distance, so its top-10 is an
  // approximation twice over (quantization + L2-vs-cosine); the
  // standard repair is re-ranking: take ADC's top-R candidates, score
  // those R exactly, return the exact top-10 (Jégou et al. §V.D —
  // IVFADC's verification step). R is the PQ family's probe-width
  // knob, exactly as nProbe is IVF's and Hamming radius is SRP's.
  // x151 measures recall@10 at every grid depth (anchored at R =
  // corpus size, where the re-rank IS exact search — structural 1.0),
  // retunePq picks the smallest depth clearing the floor, and
  // `/search?like=&index=pq` serves at that policy.

  /** The measured re-rank depth grid; the corpus-size anchor is
    * appended at audit time. */
  private[graft] val RerankGrid = Seq(10, 20, 50, 100, 200)

  /** (rerank_depth, n_hits, avg_recall): the measured recall@10 curve
    * of ADC-then-exact-re-rank over the stored code table, x151's
    * engine body and [[retunePq]]'s decision input. ONE ADC pass over
    * stored codes scores all 8 audit queries (the per-query LUTs ride
    * as literals — no join for the scoring), each (query, candidate)
    * pair carries its ADC rank, a depth qualifies the pair iff rank ≤
    * depth, and the exact-cosine re-rank + per-(depth, qid) top-10
    * ride the shared audit frame (x142/x150's technique). The final
    * grid entry is the corpus size: re-ranking everything is exact
    * search, so its recall is structurally 1.0 — the anchor proving
    * the frame sound (spec-pinned). Batch-boundary audit cost. */
  private[graft] def pqRerankCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cbs = train(s, d)
    val qRows = VectorQueries.recallQueries(s, d)
    val n = Tables.table(s, d, "embeddings").count()
    val depths = RerankGrid.map(_.toLong).filter(_ < n) :+ n
    val codes = codesFor(s, d).load("pq_codes")
    val scoredAll = codes.select(col("vec_id"),
      explode(array(qRows.map { case (qid, e) =>
        struct(lit(qid).as("qid"),
          adcExpr(queryLuts(cbs, quantize(e)), col("code"))
            .cast("bigint").as("adc"))
      }.toIndexedSeq: _*)).as("x"))
      .select(col("x.qid").as("qid"), col("vec_id"), col("x.adc"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col("vec_id"))
    val ranked = scoredAll.withColumn("rn", row_number().over(wAdc))
    val q = qRows.toSeq.toDF("qid", "qe")
    // exact cosine once per (query, candidate) pair; depths then
    // qualify pairs by ADC rank — no re-scoring per depth (the
    // shared x137-frame tail lives in VectorQueries.gridRecallFrame)
    val scored = ranked
      .join(Tables.table(s, d, "embeddings"), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("rn").as("pv"),
        round(VectorFns.cosine(col("embedding"), col("qe")), 6).as("cos"))
    VectorQueries.gridRecallFrame(s, d, q, scored, depths, "rerank_depth")
  }

  /** The re-rank depth `/search?like=&index=pq` serves `d` at: 10
    * (pure ADC ranking — the depth at which re-ranking top-k cannot
    * reorder beyond it) until a [[retunePq]] run picks one from the
    * measured curve ([[StoredIndexes.servingKnob]]). */
  private[graft] def pqServingRerank(d: String): Int =
    StoredIndexes.servingKnob(d, "pq_rerank", 10)

  /** Audit-driven PQ retune — retuneIvf/retuneSrp's sibling for the
    * third ANN family: re-measures the re-rank curve on the CURRENT
    * codes and picks the smallest depth whose mean recall@10 ≥
    * `floor`. The corpus-size anchor re-ranks everything (exact
    * search at full-scan cost), so an unreachable floor degrades to
    * honest exactness, never a silent miss. Batch-boundary
    * scheduling, like refreshTopics. */
  private[graft] def retunePq(s: SparkSession, d: String,
      floor: Double = 0.9): Long = {
    val curve = pqRerankCurve(s, d).collect()
    val r = curve
      .collectFirst { case row if row.getDouble(2) >= floor =>
        row.getLong(0) }
      .getOrElse(curve.last.getLong(0))
    StoredIndexes.setServingKnob(d, "pq_rerank", r.toInt)
    r
  }

  /** (vec_id, cos): ADC top-`rerank` candidates off the STORED code
    * table, re-ranked by exact cosine — the `/search?like=&index=pq`
    * serving arm, ivfKnn/srpKnn's shape over the PQ index: query
    * vector from the stored fwd forward table (bounded point fetch),
    * LUTs driver-side (M·K longs), candidate generation = one narrow
    * scan of M-int code rows into a map-local TakeOrdered(R), exact
    * scoring touches only the R re-rank rows. `rerank` < 1 means
    * "the serving policy's depth" ([[pqServingRerank]]). Throws
    * NoSuchElementException for an absent queryId (→ 404). */
  private[graft] def pqKnn(s: SparkSession, d: String,
      queryId: Long, rerank: Int = -1): DataFrame = {
    val qe = VectorIndex.forDir(s, d).lookup(queryId).getOrElse(
      throw new NoSuchElementException(s"no such vector: $queryId"))
    val cbs = train(s, d)
    val luts = queryLuts(cbs, quantize(qe))
    val r = if (rerank >= 1) rerank else pqServingRerank(d)
    val cand = codesFor(s, d).load("pq_codes")
      .select(col("vec_id"), adcExpr(luts, col("code"))
        .cast("bigint").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(r)
    rerankExact(s, d, qe, cand)
  }

  // ------------------------------------------------------- oracle SQL

  /** Exact integer squared-L2 between two sliced-subvector SQL
    * expressions (x111's distSql at the subspace width). */
  private def sdist(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range($OracleSubDim), j -> " +
      s"($a[CAST(j+1 AS INT)]-$b[CAST(j+1 AS INT)])" +
      s"*($a[CAST(j+1 AS INT)]-$b[CAST(j+1 AS INT)]))) AS BIGINT)"

  /** One subspace's training chain: slice → first-K seed → Iters
    * assign/update rounds (keep-previous-centroid on empty) → final
    * assignment `a{ss}{Iters+1}`, final codebook `c{ss}{Iters}`. */
  private def subChain(ss: Int): String = {
    val lo = ss * OracleSubDim + 1
    val hi = ss * OracleSubDim + OracleSubDim
    def assign(prevC: String, name: String): String =
      s"""$name AS MATERIALIZED (
  SELECT vec_id, any_value(v) AS v, min_by(cid, dist*$K+cid) AS cid FROM (
    SELECT q.vec_id, q.v, c.cid, ${sdist("q.v", "c.c")} AS dist
    FROM sub$ss q CROSS JOIN $prevC c) GROUP BY vec_id)"""
    def update(prevC: String, a: String, name: String): String =
      s"""$name AS MATERIALIZED (
  SELECT p.cid, COALESCE(u.c, p.c) AS c FROM $prevC p LEFT JOIN (
    SELECT cid, list_transform(range($OracleSubDim), j ->
      list_sum(list_transform(list(v), vv -> vv[CAST(j+1 AS INT)])) // count(*)) AS c
    FROM $a GROUP BY cid) u ON p.cid = u.cid)"""
    val rounds = new StringBuilder
    var prev = s"c${ss}0"
    for (r <- 1 to Iters) {
      rounds ++= ",\n" + assign(prev, s"a$ss$r")
      rounds ++= ",\n" + update(prev, s"a$ss$r", s"c$ss$r")
      prev = s"c$ss$r"
    }
    rounds ++= ",\n" + assign(prev, s"a$ss${Iters + 1}")
    s"""sub$ss AS MATERIALIZED (SELECT vec_id, list_slice(v, $lo, $hi) AS v FROM q),
c${ss}0 AS MATERIALIZED (SELECT vec_id AS cid, v AS c FROM sub$ss WHERE vec_id < $K)$rounds"""
  }

  /** Quantize + all M subspace chains (no leading WITH — callers
    * prepend it so they can append their own CTEs). */
  private lazy val pqCtes: String =
    s"""q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, e ->
    CAST(floor(CAST(e AS DOUBLE)*1000) + 2048 AS BIGINT)) AS v
  FROM embeddings),
${(0 until M).map(subChain).mkString(",\n")}"""

  private def finalA(ss: Int) = s"a$ss${Iters + 1}"
  private def finalC(ss: Int) = s"c$ss$Iters"

  private lazy val x148Sql: String = {
    val perSub = (0 until M).map { ss =>
      s"SELECT $ss AS sub, d.cid, COUNT(*) AS n, " +
        "CAST(SUM(d.dist) AS BIGINT) AS sse, " +
        "CAST(list_sum(any_value(c.c)) AS BIGINT) AS m_sum " +
        s"FROM (SELECT a.cid, ${sdist("a.v", "c.c")} AS dist " +
        s"FROM ${finalA(ss)} a JOIN ${finalC(ss)} c ON a.cid = c.cid) d " +
        s"JOIN ${finalC(ss)} c ON d.cid = c.cid GROUP BY d.cid"
    }.mkString(" UNION ALL ")
    s"WITH $pqCtes, r AS ($perSub) " +
      "SELECT CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS cid, " +
      "n, sse, m_sum FROM r ORDER BY sub, cid"
  }

  private lazy val x149Sql: String = {
    val luts = (0 until M).map { ss =>
      s"l$ss AS MATERIALIZED (SELECT c.cid, ${sdist("qq.v", "c.c")} AS dd " +
        s"FROM ${finalC(ss)} c, (SELECT v FROM sub$ss WHERE vec_id = 0) qq)"
    }.mkString(",\n")
    val joins = (1 until M).map { ss =>
      s"JOIN ${finalA(ss)} ON ${finalA(ss)}.vec_id = ${finalA(0)}.vec_id " +
        s"JOIN l$ss ON ${finalA(ss)}.cid = l$ss.cid"
    }.mkString(" ")
    s"""WITH $pqCtes,
$luts
SELECT ${finalA(0)}.vec_id AS vec_id,
  CAST(${(0 until M).map(ss => s"l$ss.dd").mkString(" + ")} AS BIGINT) AS adc_dist
FROM ${finalA(0)} JOIN l0 ON ${finalA(0)}.cid = l0.cid $joins
ORDER BY adc_dist, vec_id LIMIT 10"""
  }

  private lazy val x151Sql: String = {
    val qLo = VectorQueries.RecallQLo
    val qHi = VectorQueries.RecallQHi
    // per-query, per-subspace LUTs straight off the sliced-subvector
    // CTEs (the audit queries are corpus vectors, so their quantized
    // slices already exist in sub{ss})
    val luts = (0 until M).map { ss =>
      s"lq$ss AS MATERIALIZED (SELECT s.vec_id AS qid, c.cid, " +
        s"${sdist("s.v", "c.c")} AS dd FROM sub$ss s " +
        s"CROSS JOIN ${finalC(ss)} c " +
        s"WHERE s.vec_id >= $qLo AND s.vec_id < $qHi)"
    }.mkString(",\n")
    val joins = (1 until M).map { ss =>
      s"JOIN ${finalA(ss)} ON ${finalA(ss)}.vec_id = ${finalA(0)}.vec_id " +
        s"JOIN lq$ss ON lq$ss.cid = ${finalA(ss)}.cid " +
        s"AND lq$ss.qid = lq0.qid"
    }.mkString(" ")
    s"""WITH $pqCtes,
$luts,
aq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id >= $qLo AND vec_id < $qHi),
adc AS MATERIALIZED (SELECT lq0.qid, ${finalA(0)}.vec_id,
  CAST(${(0 until M).map(ss => s"lq$ss.dd").mkString(" + ")} AS BIGINT) AS adc
  FROM ${finalA(0)} JOIN lq0 ON lq0.cid = ${finalA(0)}.cid $joins),
rk AS MATERIALIZED (SELECT qid, vec_id,
  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adc),
cnt AS (SELECT COUNT(*) AS n FROM embeddings),
dep AS (SELECT CAST(unnest(list_append(
  list_filter([${RerankGrid.mkString(", ")}], x -> x < n), n))
  AS BIGINT) AS depth FROM cnt),
sc AS (SELECT dep.depth, rk.qid, rk.vec_id,
  round(${VectorFns.Sql.cosine("e.embedding", "aq.qe")}, 6) AS cos
  FROM rk JOIN dep ON rk.rn <= dep.depth
  JOIN embeddings e ON e.vec_id = rk.vec_id JOIN aq ON aq.qid = rk.qid),
top AS (SELECT depth, qid, vec_id FROM (SELECT depth, qid, vec_id,
  ROW_NUMBER() OVER (PARTITION BY depth, qid
  ORDER BY cos DESC, vec_id) AS rr FROM sc) WHERE rr <= 10),
ex AS (SELECT qid, vec_id FROM (SELECT aq.qid, e.vec_id,
  ROW_NUMBER() OVER (PARTITION BY aq.qid ORDER BY
  round(${VectorFns.Sql.cosine("e.embedding", "aq.qe")}, 6) DESC, e.vec_id)
  AS rn FROM embeddings e, aq) WHERE rn <= 10),
exr AS (SELECT dep.depth, ex.qid, ex.vec_id FROM ex CROSS JOIN dep)
SELECT exr.depth AS rerank_depth,
  CAST(COUNT(top.vec_id) AS BIGINT) AS n_hits,
  round(COUNT(top.vec_id) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_recall
FROM exr LEFT JOIN top ON top.depth = exr.depth AND top.qid = exr.qid
  AND top.vec_id = exr.vec_id
GROUP BY exr.depth ORDER BY rerank_depth"""
  }

  /** The composed IVFADC replay (x152), optionally restricted to one
    * metadata label (x153) — ONE generator so the filtered query is
    * provably the same pipeline plus a predicate. */
  private def ivfadcSql(label: Option[Int]): String = {
    val luts = (0 until M).map { ss =>
      s"l$ss AS MATERIALIZED (SELECT c.cid, ${sdist("qq.v", "c.c")} AS dd " +
        s"FROM ${finalC(ss)} c, (SELECT v FROM sub$ss WHERE vec_id = 0) qq)"
    }.mkString(",\n")
    val joins = (1 until M).map { ss =>
      s"JOIN ${finalA(ss)} ON ${finalA(ss)}.vec_id = cnd.vec_id " +
        s"JOIN l$ss ON ${finalA(ss)}.cid = l$ss.cid"
    }.mkString(" ")
    s"""WITH ${VectorQueries.ivfBuildSql},
$pqCtes,
$luts,
qd AS (SELECT pd AS v FROM base WHERE vec_id = 0),
qv0 AS (SELECT embedding AS v FROM base WHERE vec_id = 0),
probe AS (SELECT cell FROM (SELECT c.cell, ROW_NUMBER() OVER
  (ORDER BY ${VectorFns.Sql.l2sq("qd.v", "c.m")}, c.cell) AS rn
  FROM c2 c, qd) WHERE rn <= ${VectorQueries.NProbe}),
cnd AS MATERIALIZED (SELECT f.vec_id FROM af f
  JOIN probe p ON f.cell = p.cell${label.fold("")(l =>
    s" JOIN embeddings lf ON lf.vec_id = f.vec_id WHERE lf.label = $l")}),
adc AS MATERIALIZED (SELECT cnd.vec_id,
  CAST(${(0 until M).map(ss => s"l$ss.dd").mkString(" + ")} AS BIGINT) AS adc
  FROM cnd JOIN ${finalA(0)} ON ${finalA(0)}.vec_id = cnd.vec_id
  JOIN l0 ON ${finalA(0)}.cid = l0.cid $joins),
rrk AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER
  (ORDER BY adc, vec_id) AS rn FROM adc) WHERE rn <= $IvfadcRerank)
SELECT e.vec_id, round(${VectorFns.Sql.cosine("e.embedding", "qv0.v")}, 6)
  AS cos
FROM embeddings e JOIN rrk ON rrk.vec_id = e.vec_id, qv0
ORDER BY cos DESC, e.vec_id LIMIT 10"""
  }

  private lazy val x152Sql: String = ivfadcSql(None)

  /** x153's declared label — mid-distribution, ~10% selectivity. */
  private[graft] val FilterLabel = 7

  private lazy val x153Sql: String = ivfadcSql(Some(FilterLabel))

  val all: Seq[Query] = Seq(

    // PQ codebook report: per (subspace, centroid) cluster size, exact
    // integer SSE (the quantization DISTORTION a PQ user tunes M and K
    // against — measured, not assumed, the x137/x142 audit doctrine)
    // and the centroid component sum. The declared query is ONE narrow
    // encode pass over the corpus (trained codebooks ride as literals;
    // dist and cid both decode from the single argmin key) into an
    // M·K-bounded aggregate; the codebook side of the join is an
    // M·K-row literal frame.
    Query("x148_pq_codebook", x148Sql) {
      (s, d) => {
        import s.implicits._
        val cbs = train(s, d)
        val enc = KMeansQueries.quantized(s, d)
          .select(argminKeys(cbs, col("v")).as("ks"))
          .select(posexplode(col("ks")).as(Seq("sub", "key")))
          .select(col("sub").cast("long").as("sub"),
            pmod(col("key"), lit(K)).cast("long").as("cid"),
            ((col("key") - pmod(col("key"), lit(K))) / K)
              .cast("long").as("dist"))
          .groupBy("sub", "cid")
          .agg(count(lit(1)).as("n"), sum(col("dist")).as("sse"))
        val mSums = (0 until M).flatMap(ss => (0 until K).map(c =>
          (ss.toLong, c.toLong, cbs(ss)(c).sum))).toDF("sub", "cid", "m_sum")
        enc.join(broadcast(mSums), Seq("sub", "cid"))
          .select(col("sub"), col("cid"), col("n"), col("sse"), col("m_sum"))
          .orderBy("sub", "cid")
      }
    },

    // PQ asymmetric-distance kNN — the SEARCH half: the query vector
    // stays full-precision (well, fixed-point — the shared integer
    // grid), each subspace precomputes its K-entry distance lookup
    // table driver-side (M·K bounded longs from the cached codebooks
    // + one bounded 1-row query fetch, x64's documented pattern), and
    // every corpus vector's distance is M literal-array lookups
    // indexed by its PQ code + (M−1) integer adds — a single narrow
    // scan + TakeOrdered, no joins, no per-dimension work. This is
    // the plan an IVFADC store runs inside each probed cell at
    // 100 TB; x64 keeps the per-dimension scalar-quant variant for
    // contrast. Exact integers end to end — no rounding needed before
    // the (adc_dist, vec_id) ranking.
    Query("x149_pq_adc", x149Sql) {
      (s, d) => {
        val cbs = train(s, d)
        val qRow = KMeansQueries.quantized(s, d)
          .filter(col("vec_id") === 0).select(col("v"))
          .collect()
        require(qRow.nonEmpty, "query vector 0 missing")
        val qv = qRow.head.getSeq[Long](0).toArray
        val luts = queryLuts(cbs, qv)
        // the STORED code table, not a per-probe re-encode: the scan
        // reads M ints per vector and does M LUT lookups — the plan a
        // PQ store actually runs (the encode amortizes in the
        // `graft-pq-codes` build; PqSpec pins stored == re-derived)
        codesFor(s, d).load("pq_codes")
          .select(col("vec_id"), adcExpr(luts, col("code"))
            .cast("bigint").as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id")).limit(10)
      }
    },

    // The re-rank depth curve: recall@10 of ADC-top-R-then-exact-
    // re-rank at every grid depth, anchored at R = corpus size (re-
    // ranking everything IS exact search — structural 1.0, the frame-
    // soundness anchor). retunePq picks the `/search?like=&index=pq`
    // serving depth from this curve — the same audit-drives-serving
    // doctrine as x142→nProbe (IVF) and x150→radius (SRP), closing
    // the probe-width loop for all three ANN families. The oracle
    // replays the full pipeline relationally: the training chains,
    // per-query LUTs off the sliced subvector CTEs, ADC rank, and the
    // cosine re-rank.
    Query("x151_pq_rerank_curve", x151Sql) {
      (s, d) => pqRerankCurve(s, d)
    },

    // The full IVFADC pipeline at the declared knobs (nProbe=3 cells,
    // R=50 re-rank): probe → partition-pruned ADC code scan → exact
    // re-rank → top-10. The oracle replays BOTH stored structures'
    // builds (the IVF Lloyd chain and all M PQ subspace chains) plus
    // the probe, the ADC rank and the re-rank — the hash pins the
    // entire composed pipeline, training included, across engines.
    Query("x152_ivfadc", x152Sql) {
      (s, d) =>
        ivfadcKnn(s, d, 0L, VectorQueries.NProbe, IvfadcRerank)
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
    },

    // Metadata-FILTERED vector search (the pgvector-WHERE / FAISS
    // IDSelector / Vespa filtered-ANN case): top-10 among vectors
    // with label = 7 only, through the same IVFADC pipeline. The
    // label lives INLINE in the code sidecar, so the predicate is a
    // PRE-filter in the pruned code scan (PushedFilters next to
    // PartitionFilters — no id-set join, no post-filter starvation
    // at the candidate stage); the oracle is the x152 replay plus
    // the predicate, generated by the same function.
    Query("x153_filtered_ivfadc", x153Sql) {
      (s, d) =>
        ivfadcKnn(s, d, 0L, VectorQueries.NProbe, IvfadcRerank,
            Some(FilterLabel))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
    },

    // The coverage question x153 raises, measured: recall@10 of the
    // probe under the label filter at EVERY width, both arms
    // restricted to the same filtered universe (oracle = x142's
    // replay from the same generator, plus the predicate on both
    // arms). The filtered number is structurally different from
    // x142's — the filter decimates per-cell candidates — and an
    // operator serving filtered workloads reads THIS curve when
    // choosing the &nprobe= override.
    Query("x154_filtered_recall", VectorQueries.ivfCurveSql(
        Some(FilterLabel))) {
      (s, d) => filteredRecallCurve(s, d)
    }
  )
}
