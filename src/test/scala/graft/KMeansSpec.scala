package graft

import graft.operators.KMeansQueries
import graft.operators.KMeansQueries.KMeansParams
import org.scalatest.funsuite.AnyFunSuite

/** Topic clustering (x111): the distributed Lloyd trainer and the
  * literal-centroid assignment pass equal an independent single-machine
  * recompute over the collected fixture — seeding trajectory, every
  * centroid component, cluster size and SSE, not just the aggregate
  * shape. All arithmetic is integer (quantized embeddings), so
  * equality is exact. Also pins the production knobs: farthest-point
  * spread seeding beats first-K seeding on a fixture with co-located
  * early vectors, and parameterized builds get their own
  * cache entries (the BpeMiner k-in-cacheKey lesson). */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val K = 8
  private val Dim = 64
  private val Iters = 2

  private def md5bits16(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** Collected, quantized fixture vectors (the reference substrate). */
  private lazy val vecs: Array[(Long, Array[Long])] = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.table(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
          .map(e => math.floor(e.toDouble * 1000).toLong + 2048)
        (r.getLong(0), v)
      }
  }

  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var j = 0
    while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
    s
  }

  /** (dist·8 + cid)-argmin, the engine's tie rule re-stated. */
  private def argmin(cents: Array[Array[Long]], v: Array[Long]): (Int, Long) = {
    var bestKey = Long.MaxValue
    var i = 0
    while (i < cents.length) {
      val key = sqDist(cents(i), v) * cents.length + i
      if (key < bestKey) bestKey = key
      i += 1
    }
    ((bestKey % cents.length).toInt, bestKey / cents.length)
  }

  /** Independent farthest-point seed recompute: md5-ranked sample of
    * 8·K, head first, then argmax-of-min-dist with smallest-vec_id
    * tie-break — the engine contract restated from scratch. */
  private def refSpreadSeeds(
      vs: Array[(Long, Array[Long])], k: Int): Array[Array[Long]] = {
    val sample = vs.sortBy { case (id, _) => (md5bits16(id.toString), id) }
      .take(8 * k)
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head._2)
    while (seeds.length < k) {
      var bestId = Long.MaxValue; var bestD = -1L
      var bestV: Array[Long] = null
      sample.foreach { case (id, v) =>
        val md = seeds.map(c => sqDist(v, c)).min
        if (md > bestD || (md == bestD && id < bestId)) {
          bestD = md; bestId = id; bestV = v
        }
      }
      seeds += bestV
    }
    seeds.toArray
  }

  /** Plain-Scala Lloyd reference: same seeds, same rounds, same
    * floor-division update, same empty-cluster retention. */
  private def refLloyd(vs: Array[(Long, Array[Long])],
      seeds: Array[Array[Long]], iters: Int): Array[Array[Long]] = {
    val k = seeds.length
    var cents = seeds.map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(Array.fill(Dim)(0L))
      val ns = Array.fill(k)(0L)
      vs.foreach { case (_, v) =>
        val (cid, _) = argmin(cents, v)
        ns(cid) += 1
        var j = 0
        while (j < Dim) { sums(cid)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k)(i =>
        if (ns(i) == 0) cents(i)
        else sums(i).map(s => Math.floorDiv(s, ns(i))))
    }
    cents
  }

  private lazy val refCents: Array[Array[Long]] =
    refLloyd(vecs, refSpreadSeeds(vecs, K), Iters)

  private def sse(cents: Array[Array[Long]],
      vs: Array[(Long, Array[Long])]): Long =
    vs.map { case (_, v) => argmin(cents, v)._2 }.sum

  test("distributed trainer reproduces the single-machine seed + Lloyd trajectory") {
    val trained = KMeansQueries.train(spark, TestSpark.sf)
    assert(trained.length === K)
    trained.zip(refCents).zipWithIndex.foreach { case ((t, r), i) =>
      assert(t.sameElements(r), s"centroid $i diverges from the reference")
    }
  }

  test("declared report equals the reference per-cluster (n, sse, centroid_sum)") {
    val ref = vecs.map { case (_, v) => argmin(refCents, v) }
      .groupBy(_._1).map { case (cid, as) =>
        cid -> ((as.length.toLong, as.map(_._2).sum, refCents(cid).sum))
      }
    val got = SparkEntry.queries("x111_kmeans_topics")(spark, TestSpark.sf)
      .collect()
    assert(got.length === ref.size) // every non-empty cluster reported once
    got.foreach { r =>
      val (n, sse, csum) = ref(r.getInt(0))
      assert(r.getLong(1) === n, s"cluster ${r.getInt(0)} size")
      assert(r.getLong(2) === sse, s"cluster ${r.getInt(0)} sse")
      assert(r.getLong(3) === csum, s"cluster ${r.getInt(0)} centroid_sum")
    }
  }

  test("argmin key encoding cannot overflow at the quantization bounds") {
    // components are in [floor(min·1000)+2048, floor(max·1000)+2048];
    // the engine's key is dist·k+cid, so dist must stay below 2⁶⁰.
    // Negative components (embedding < -2.048) are SUPPORTED — the
    // update uses floor division on both engines — they just widen
    // the distance range checked here.
    val lo = vecs.flatMap(_._2).min
    val hi = vecs.flatMap(_._2).max
    val maxDiff = hi - math.min(lo, 0L)
    assert(Dim.toLong * maxDiff * maxDiff < (1L << 60),
      s"dist bound overflows the ·k key shift (component range [$lo,$hi])")
  }

  test("balanced sample equals the reference recompute and is exactly k per cluster") {
    val ref = vecs.map { case (id, v) => (argmin(refCents, v)._1, id) }
      .groupBy(_._1).map { case (cid, as) =>
        cid -> as.map(_._2).sortBy(id => (md5bits16(id.toString), id)).take(5)
      }
    val got = SparkEntry.queries("x114_cluster_sample")(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    got.groupBy(_._1).foreach { case (cid, rows) =>
      assert(rows.length === math.min(5, ref(cid).length), s"cluster $cid size")
      assert(rows.sortBy(_._3).map(_._2).toSeq === ref(cid).toSeq,
        s"cluster $cid sample diverges from the md5-rank reference")
    }
    assert(got.map(_._1).distinct.sorted.toSeq === ref.keys.toSeq.sorted)
  }

  test("sample rank-filter compiles to WindowGroupLimit (map-side top-k)") {
    val p = SparkEntry.queries("x114_cluster_sample")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"no map-side group limit:\n$p")
    assert(!p.contains("Join"), s"sample pass plans a join:\n$p")
  }

  test("assignment pass is one narrow scan: no join, map-side combine") {
    val df = SparkEntry.queries("x111_kmeans_topics")(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"assignment pass plans a join:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  /** A corpus whose FIRST 8 vec_ids are co-located (the crawl-order
    * pathology: early documents from one domain): 4 well-separated
    * true clusters, ids 0–7 all inside cluster 0. */
  private def colocatedFixture(): String = {
    import spark.implicits._
    val dir = graft.tables.TempDirs.scratch("kmeans-colocated")
    def vec(center: Double, jitter: Int): Array[Float] =
      Array.tabulate(Dim)(j => (center + (jitter * 7 + j) % 3 * 0.001).toFloat)
    val centers = Array(0.1, 0.9, 1.7, 2.5)
    val rows =
      (0L to 7L).map(id => (id, vec(centers(0), id.toInt))) ++
        (8L until 40L).map(id => (id, vec(centers((id % 4).toInt), id.toInt)))
    rows.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("spread seeding beats first-K seeding on co-located early vectors (SSE)") {
    val dir = colocatedFixture()
    try {
      val qv = {
        import org.apache.spark.sql.functions._
        graft.sources.Tables.table(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding")).collect()
          .map { r =>
            (r.getLong(0), r.getSeq[Float](1).toArray
              .map(e => math.floor(e.toDouble * 1000).toLong + 2048))
          }
      }
      val spread = KMeansQueries.train(spark, dir, KMeansParams(k = 4))
      // the first-K arm runs the same Lloyd rounds from the first 4
      // vectors by vec_id; refLloyd is pinned equal to the engine below
      val firstKSeeds = qv.filter(_._1 < 4).sortBy(_._1).map(_._2)
      val firstK = refLloyd(qv, firstKSeeds, Iters)
      val (sseSpread, sseFirst) = (sse(spread, qv), sse(firstK, qv))
      // first-K seeds all sit inside cluster 0 → at most a couple of
      // true clusters get their own centroid; spread seeds cover all 4
      assert(sseSpread < sseFirst,
        s"spread $sseSpread should beat first-K $sseFirst")
      // and the trainer matches the independent recompute on this
      // fixture too (seeding + training, non-default k)
      val ref = refLloyd(qv, refSpreadSeeds(qv, 4), Iters)
      spread.zip(ref).zipWithIndex.foreach { case ((t, r), i) =>
        assert(t.sameElements(r), s"fixture centroid $i diverges")
      }
    } finally graft.tables.TempDirs.delete(dir)
  }

  test("parameterized builds get their own cache entries (k in the key)") {
    val dir = colocatedFixture()
    try {
      val k4 = KMeansQueries.train(spark, dir, KMeansParams(k = 4))
      val k2 = KMeansQueries.train(spark, dir, KMeansParams(k = 2))
      assert(k4.length === 4 && k2.length === 2,
        "a params variant must not serve another variant's cached model")
      // same params → cache hit (the same driver array instance)
      assert(KMeansQueries.train(spark, dir, KMeansParams(k = 4)) eq k4)
    } finally graft.tables.TempDirs.delete(dir)
  }

  test("engine is dimension-agnostic: dim-16 corpus trains, assigns and dedups end-to-end") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 16-dim corpus (the fixture is 64): the ENGINE paths — quantize,
    // posexplode update aggregate, literal-centroid argmin, x115-shaped
    // semantic dedup — must carry the dimension from the data, with no
    // 64 baked in anywhere (only the ORACLE SQL pins the fixture dim)
    val dim = 16
    val rnd = new scala.util.Random(20260815L)
    val dir = java.nio.file.Files.createTempDirectory("graft-km16").toString
    val rows = (0L until 120L).map { id =>
      val center = (id % 3).toInt
      val v = Array.tabulate(dim)(j =>
        (center * 0.8f - 0.8f) + (rnd.nextFloat() - 0.5f) * 0.2f +
          (if (j % 3 == center) 0.5f else 0f))
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .write.parquet(s"$dir/embeddings.parquet")
    val p = KMeansParams(k = 3, iters = 2)
    val cents = KMeansQueries.train(spark, dir, p)
    assert(cents.length === 3)
    assert(cents.forall(_.length === dim), "centroid dim must track the data")
    // independent reference over the collected corpus
    val vs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).toArray
          .map(e => math.floor(e.toDouble * 1000).toLong + 2048))
      }
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var j = 0
      while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    def refArgmin(cs: Array[Array[Long]], v: Array[Long]): Int = {
      var bk = Long.MaxValue; var i = 0
      while (i < cs.length) {
        val k2 = sq(cs(i), v) * cs.length + i
        if (k2 < bk) bk = k2
        i += 1
      }
      (bk % cs.length).toInt
    }
    val sample = vs.sortBy { case (id, _) => (md5bits16(id.toString), id) }
      .take(p.sampleN)
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head._2)
    while (seeds.length < p.k) {
      var bestId = Long.MaxValue; var bestD = -1L
      var bestV: Array[Long] = null
      sample.foreach { case (id, v) =>
        val md = seeds.map(c => sq(v, c)).min
        if (md > bestD || (md == bestD && id < bestId)) {
          bestD = md; bestId = id; bestV = v
        }
      }
      seeds += bestV
    }
    var ref = seeds.toArray.map(_.clone())
    for (_ <- 0 until p.iters) {
      val sums = Array.fill(p.k)(Array.fill(dim)(0L))
      val ns = Array.fill(p.k)(0L)
      vs.foreach { case (_, v) =>
        val cid = refArgmin(ref, v)
        ns(cid) += 1
        var j = 0
        while (j < dim) { sums(cid)(j) += v(j); j += 1 }
      }
      ref = Array.tabulate(p.k)(i =>
        if (ns(i) == 0) ref(i) else sums(i).map(s => Math.floorDiv(s, ns(i))))
    }
    assert(cents.map(_.toSeq).toSeq === ref.map(_.toSeq).toSeq,
      "dim-16 training trajectory must equal the reference")
    // assignment + x115-shaped semantic dedup run end-to-end on dim 16
    val assigned = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        KMeansQueries.assignCid(cents,
          KMeansQueries.quantExpr(col("embedding"))).as("cl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vs.foreach { case (id, v) =>
      assert(assigned(id) === refArgmin(cents, v), s"vec $id assignment")
    }
    assert(assigned.values.toSet.size === 3, "all three clusters populated")
    graft.tables.TempDirs.delete(dir)
  }
}
