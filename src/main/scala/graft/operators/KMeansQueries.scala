package graft.operators

import graft.Query
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Topic clustering over the embedding corpus — the k-means step of a
 * training-data mixing pipeline (cluster-balanced sampling, domain
 * discovery over document embeddings). Reference scope: the reference
 * backend has no clustering; this extends the x41/x44/x89 mixing
 * family with the standard embedding-space grouping operator.
 *
 * Engine shape (the 100 TB design):
 *  - Embeddings are QUANTIZED to integers up front
 *    (floor(e·1000)+2048), so every distance, centroid mean and
 *    tie-break is integer arithmetic: bit-reproducible across Spark
 *    and DuckDB, no float-summation order sensitivity anywhere.
 *    Centroid means use FLOOR division on both engines
 *    (`Math.floorDiv` / DuckDB `//`), so parity holds even for
 *    corpora with components below the -2.048 quantization floor
 *    (negative sums — truncating `/` would diverge there).
 *  - Seeding is deterministic FARTHEST-POINT over an md5-ranked
 *    sample (k-means++-style spread, exact integer arithmetic): the
 *    `8·k` corpus vectors with the smallest (md5Bits16(vec_id),
 *    vec_id) form the candidate sample — a map-local TakeOrdered, no
 *    shuffle of the corpus — seed 0 is the sample head, and each next
 *    seed maximizes its minimum squared-L2 distance to the seeds
 *    chosen so far (ties → smallest vec_id). This replaces the
 *    first-K-by-vec_id seed, which (a) assumed 0-based contiguous ids
 *    and (b) collapses clusters when early vectors are co-located
 *    (KMeansSpec pins the SSE win on exactly that fixture). The
 *    oracle replays seeding exactly as an unrolled CTE chain.
 *  - Lloyd's iterations are inherently sequential, so the model
 *    follows the stored-model lifecycle ([[UnigramLM]], [[BpeMiner]]):
 *    centroids are trained once per (corpus version, params)
 *    ([[StoredIndexes.versionedValue]]; params ride the cache key on
 *    the [[VectorIndex.IvfParams]] pattern, so tuning experiments
 *    never evict the serving model) in `iters` passes, each pass ONE
 *    narrow scan + posexplode + a map-side-combined (cid, component)
 *    groupBy (the shuffle moves k·(dim+1) partial sums per task, not
 *    rows; two aggregate columns keep whole-stage codegen inside
 *    janino's method limit at ANY dimension — the r14 dim+1-column
 *    form fell back to the interpreted aggregate at dim 64). The
 *    k×dim centroid table is bounded by construction — the only
 *    driver materialization beyond the 8k-row seed sample.
 *  - The declared query then assigns every vector in ONE narrow pass:
 *    the trained centroids ride as literal arrays inside a single
 *    `array_min` argmin expression (key = dist·k+cid, so one
 *    array_min yields both the assignment and its distance; ties
 *    break to the smallest cid), followed by one k-group aggregate.
 *    No join, no explode, no per-row UDF.
 *
 * Empty-cluster rule: a cluster that captures no vectors keeps its
 * previous centroid (both engines COALESCE the same way).
 */
object KMeansQueries {

  private[graft] val Dim = 64
  /** vectors kept per cluster by the balanced sample (x114). */
  private val SampleK = 5

  /** k-means build knobs. Defaults are ORACLE-PINNED (the x111/x114
    * oracles replay exactly this build as CTE chains); production
    * tunes them per corpus. Non-default builds get their own cache
    * entry (keyed by (dir, params)). */
  final case class KMeansParams(k: Int = 8, iters: Int = 2) {
    require(k > 0 && iters >= 0, s"bad KMeansParams: k=$k iters=$iters")
    /** seed-candidate sample size: 8·k (64 at the default k). */
    def sampleN: Int = 8 * k
  }

  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    String, StoredIndexes.Cached[Array[Array[Long]]]]()

  private def cacheKey(dir: String, p: KMeansParams): String =
    s"$dir|kmeans|${p.k}|${p.iters}"

  /** Quantization expression over a float-array embedding column. */
  private[graft] def quantExpr(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000).cast("long") + 2048)

  /** Integer-quantized embedding frame: v[j] = floor(e_j·1000)+2048. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")
      .select(col("vec_id"), quantExpr(col("embedding")).as("v"))

  /** argmin over the literal centroid table, encoded as ONE value:
    * min over cid of (squared-L2 dist)·k + cid. dist ≤ 64·4096² ≈ 2³⁰
    * so the ·k shift cannot overflow for any sane k; cid < k makes
    * the key unique and (dist, cid)-lexicographic. `v` is the
    * quantized vector column. Since r17 the k-fold argmin is ONE
    * codegen primitive loop ([[graft.functions.expressions
    * .CodebookArgminKeys]], the M=1 case) instead of k interpreted
    * `aggregate(zip_with(...))` folds — identical integer arithmetic
    * and tie-break, ~3× on the assign pass. */
  private def minKey(cents: Array[Array[Long]], v: Column): Column =
    element_at(graft.functions.expressions.VectorExpressions
      .codebook_argmin_keys(v, Array(cents)), 1)

  /** Cluster id of the quantized vector column against trained
    * centroids — the join-free literal argmin, exposed for the
    * semantic-dedup view (x115) and the ingest-time assignment flow.
    */
  private[graft] def assignCid(cents: Array[Array[Long]],
      v: Column = col("v")): Column =
    (minKey(cents, v) % cents.length).cast("int")

  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  /** Deterministic farthest-point seeds from the md5-ranked sample
    * (sorted by (rank, vec_id) ascending). Chosen seeds have min-dist
    * 0, so they are never re-picked while a distinct candidate
    * remains; a degenerate all-duplicate sample yields duplicate
    * centroids, which the assignment tie-break handles. */
  private[graft] def spreadSeeds(sample: Array[(Long, Array[Long])],
      k: Int): Array[Array[Long]] = {
    require(sample.nonEmpty, "k-means seeding needs a non-empty corpus")
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head._2)
    while (seeds.length < k) {
      var bestId = Long.MaxValue; var bestD = -1L
      var bestV: Array[Long] = null
      sample.foreach { case (id, v) =>
        var md = Long.MaxValue
        seeds.foreach { c => val d = sqDist(v, c); if (d < md) md = d }
        if (md > bestD || (md == bestD && id < bestId)) {
          bestD = md; bestId = id; bestV = v
        }
      }
      seeds += bestV
    }
    seeds.toArray
  }

  /** Train once per (corpus version, params): spread seed, then
    * `iters` assign→update rounds. Each round is one Spark job:
    * narrow argmin scan → posexplode → groupBy(cid, j) with ONE count
    * and ONE sum (map-side combined into k·dim groups) → k·dim-row
    * collect. The r14 form aggregated dim+1 separate sum columns in
    * one groupBy(cid), which blew `hashAgg_doAggregateWithKeys` past
    * janino's 64 KB method limit at dim = 64 — Spark fell back to the
    * INTERPRETED aggregate on the training pass, the worst place to
    * lose codegen. Two aggregates over exploded rows stay compiled at
    * any dimension, and the engine stops hardcoding the dimension
    * anywhere (it is read off each vector; only the ORACLE SQL pins
    * the fixture's 64). */
  private[graft] def train(s: SparkSession, d: String,
      p: KMeansParams = KMeansParams()): Array[Array[Long]] =
    StoredIndexes.versionedValue(centroidCache, d, "embeddings.parquet",
      "graft-kmeans", cacheKey(d, p)) {
      val q = quantized(s, d)
      val sample = q.select(col("vec_id").cast("long").as("vec_id"),
          col("v"), graft.functions.TextFns.md5Bits16(
            col("vec_id").cast("string")).as("rk"))
        .sort(col("rk"), col("vec_id")).limit(p.sampleN)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      var cents: Array[Array[Long]] = spreadSeeds(sample, p.k)
      var it = 0
      while (it < p.iters) {
        // the argmin select and the posexplode MUST be two steps: a
        // single select puts the generator's sibling expressions in a
        // Project ABOVE the Generate, re-evaluating the k-fold argmin
        // once per EXPLODED row (×dim — measured 9.8 s vs 1.0 s on the
        // fixture); the two-step form pins the Project below, one
        // argmin per input row
        val rows = q
          .select(assignCid(cents).as("cid"), col("v"))
          .select(col("cid"), posexplode(col("v")).as(Seq("j", "x")))
          .groupBy("cid", "j")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps its centroid
        rows.foreach { r =>
          // FLOOR division = DuckDB `//` (truncating `/` diverges
          // on negative sums, i.e. any component < -2.048)
          next(r.getInt(0))(r.getInt(1)) =
            Math.floorDiv(r.getLong(3), r.getLong(2))
        }
        cents = next
        it += 1
      }
      cents
    }

  /** Exact squared-L2 between two quantized-vector SQL expressions. */
  private def distSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range($Dim), j -> " +
      s"($a[CAST(j+1 AS INT)]-$b[CAST(j+1 AS INT)])" +
      s"*($a[CAST(j+1 AS INT)]-$b[CAST(j+1 AS INT)]))) AS BIGINT)"

  /** The unrolled training chain shared by every k-means oracle:
    * quantize → md5-ranked sample → farthest-point seed CTEs s0..s7 →
    * iters×(assign, update) → final assignment a_N + final centroids
    * c_N (x50's pagerank CTE technique). Defaults-only: the declared
    * queries run KMeansParams(). */
  private[graft] def trainCtes(p: KMeansParams = KMeansParams()): String = {
    def assign(prevC: String, name: String): String =
      s"""$name AS MATERIALIZED (
  SELECT vec_id, any_value(v) AS v, min_by(cid, dist*${p.k}+cid) AS cid FROM (
    SELECT q.vec_id, q.v, $prevC.cid,
      ${distSql("q.v", s"$prevC.c")} AS dist
    FROM q CROSS JOIN $prevC) GROUP BY vec_id)"""
    def update(prevC: String, a: String, name: String): String =
      s"""$name AS MATERIALIZED (
  SELECT $prevC.cid, COALESCE(u.c, $prevC.c) AS c FROM $prevC LEFT JOIN (
    SELECT cid, list_transform(range($Dim), j ->
      list_sum(list_transform(list(v), vv -> vv[CAST(j+1 AS INT)])) // count(*)) AS c
    FROM $a GROUP BY cid) u ON $prevC.cid = u.cid)"""
    // farthest-point seed CTEs: s_i picks the sample row maximizing
    // min distance to s_0..s_{i-1} (ties → smallest vec_id)
    def seed(i: Int): String =
      if (i == 0) "s0 AS MATERIALIZED (SELECT vec_id, v FROM smp ORDER BY rk, vec_id LIMIT 1)"
      else {
        val joins = (0 until i).map(j => s"CROSS JOIN s$j").mkString(" ")
        val dists = (0 until i).map(j => distSql("smp.v", s"s$j.v"))
          .mkString(", ")
        s"""s$i AS MATERIALIZED (SELECT vec_id, v FROM (
    SELECT smp.vec_id AS vec_id, smp.v AS v, LEAST($dists) AS md
    FROM smp $joins) ORDER BY md DESC, vec_id LIMIT 1)"""
      }
    val seedCtes = (0 until p.k).map(seed).mkString(",\n")
    val c0 = (0 until p.k)
      .map(i => s"SELECT $i AS cid, v AS c FROM s$i").mkString(" UNION ALL ")
    val rounds = new StringBuilder
    var prev = "c0"
    for (r <- 1 to p.iters) {
      rounds ++= ",\n" + assign(prev, s"a$r")
      rounds ++= ",\n" + update(prev, s"a$r", s"c$r")
      prev = s"c$r"
    }
    rounds ++= ",\n" + assign(prev, s"a${p.iters + 1}")
    s"""WITH q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, e ->
    CAST(floor(CAST(e AS DOUBLE)*1000) + 2048 AS BIGINT)) AS v
  FROM embeddings),
smp AS MATERIALIZED (SELECT vec_id, v, rk FROM (
  SELECT vec_id, v, ${graft.functions.TextFns.Sql.md5Bits16(
      "md5(CAST(vec_id AS VARCHAR))")} AS rk FROM q)
  ORDER BY rk, vec_id LIMIT ${p.sampleN}),
$seedCtes,
c0 AS MATERIALIZED ($c0)$rounds"""
  }

  /** Final-assignment / final-centroid CTE names for the default
    * unroll (shared by the x111/x114/x115 oracles). */
  private val P = KMeansParams()
  private[graft] val FinalA = s"a${P.iters + 1}"
  private val FinalC = s"c${P.iters}"

  private def oracleSql: String =
    s"""${trainCtes()},
d3 AS (SELECT $FinalA.vec_id, $FinalA.cid,
    ${distSql(s"$FinalA.v", s"$FinalC.c")} AS dist
  FROM $FinalA JOIN $FinalC ON $FinalA.cid = $FinalC.cid)
SELECT d3.cid, count(*) AS n, CAST(sum(d3.dist) AS BIGINT) AS sse,
  CAST(list_sum(any_value($FinalC.c)) AS BIGINT) AS centroid_sum
FROM d3 JOIN $FinalC ON d3.cid = $FinalC.cid GROUP BY d3.cid ORDER BY d3.cid"""

  private def sampleOracleSql: String =
    s"""${trainCtes()}
SELECT cid, vec_id, rk FROM (
  SELECT $FinalA.cid, $FinalA.vec_id, CAST(ROW_NUMBER() OVER (
    PARTITION BY $FinalA.cid
    ORDER BY ${graft.functions.TextFns.Sql.md5Bits16(
      s"md5(CAST($FinalA.vec_id AS VARCHAR))")}, $FinalA.vec_id) AS INT) AS rk
  FROM $FinalA)
WHERE rk <= $SampleK ORDER BY cid, rk"""

  val all: Seq[Query] = Seq(
    // Per-cluster report after Iters assign→update rounds + a final
    // assignment: size, exact integer SSE against the trained
    // centroids, and the centroid component sum (pins every centroid
    // value — and, through the seed CTEs, the whole farthest-point
    // seeding trajectory). The oracle unrolls the same rounds as
    // MATERIALIZED CTEs (x50's pagerank unroll technique, plus
    // MATERIALIZED because the farthest-point seed chain references
    // every earlier seed — plain CTE inlining would re-expand the
    // chain exponentially), so a hash match proves the complete
    // iterative training path, not just the last pass.
    Query("x111_kmeans_topics", oracleSql) { (s, d) =>
      val cents = train(s, d)
      val k = cents.length
      val sumByCid = map_from_arrays(
        array((0 until k).map(i => lit(i)).toIndexedSeq: _*),
        array(cents.map(c => lit(c.sum)).toIndexedSeq: _*))
      quantized(s, d)
        .select(minKey(cents, col("v")).as("key"))
        .select((col("key") % k).cast("int").as("cid"),
          expr(s"key div $k").as("dist"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("sse"))
        .select(col("cid"), col("n"), col("sse"),
          element_at(sumByCid, col("cid")).as("centroid_sum"))
        .orderBy("cid")
    },

    // Cluster-BALANCED sampling — the reason a mixing pipeline runs
    // k-means at all (SemDeDup/DoReMi-style domain balancing): exactly
    // SampleK vectors per discovered cluster, chosen by the x80
    // reproducible-reservoir technique (md5-rank row_number ≤ k
    // compiles to WindowGroupLimit, so every map task keeps only its
    // local top-k before the single cid shuffle — stable under
    // partitioning and reruns). Assignment is x111's join-free
    // literal-centroid argmin, so the whole query is one narrow scan +
    // one K-partition window. The oracle replays training through the
    // shared CTE chain, then ranks with the same md5 arithmetic.
    Query("x114_cluster_sample", sampleOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cents = train(s, d)
      quantized(s, d)
        .select(col("vec_id"), assignCid(cents).as("cid"))
        .select(col("cid"), col("vec_id"),
          row_number().over(Window.partitionBy(col("cid"))
            .orderBy(graft.functions.TextFns.md5Bits16(
              col("vec_id").cast("string")), col("vec_id"))).as("rk"))
        .filter(col("rk") <= SampleK)
        .orderBy("cid", "rk")
    })
}
