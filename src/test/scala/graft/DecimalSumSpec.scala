package graft

import graft.functions.expressions.{DecimalFns, DecimalSum128, DecimalSumFns,
  DecimalSumUtil, DecimalTimesCompact}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.scalatest.funsuite.AnyFunSuite

/** A hand-built [[DecimalSum128]] whose result is DECIMAL(4,2): a
  * result precision small enough that a few rows overflow it, which
  * no real child type allows (the result is always p + 10 digits). */
private final class NarrowDsum(c: Expression) extends DecimalSum128(c) {
  override lazy val dataType: DataType = DecimalType(4, 2)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): NarrowDsum = new NarrowDsum(cs.head)
}

/** [[DecimalSumFns.dsum]] must be VALUE- and TYPE-identical to the
  * built-in `sum` over decimals — including nulls (skipped; all-null
  * and empty groups yield null), negatives, the grouped/merge path
  * (multiple input partitions force partial + final aggregation, so
  * the 128-bit carry arithmetic in BOTH update and merge is
  * exercised), and the product shape the wired sites feed it
  * ((37,4)/(38,4)-typed children whose values are compact). The
  * oracle hash gate depends on this equality. */
class DecimalSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dsum equals built-in sum over grouped decimal(18,2) with nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    val rows = (0 until 20000).map { i =>
      val d: java.lang.Double =
        if (i % 97 == 0) null
        else math.round(rnd.nextDouble() * 1e9 - 5e8) / 100.0
      (i % 7, d)
    }
    val df = rows.toDF("g", "d").repartition(8)
      .select(col("g"), col("d").cast("decimal(18,2)").as("v"))
    val both = df.groupBy("g").agg(
      DecimalSumFns.dsum(col("v")).as("mine"),
      sum(col("v")).as("builtin"))
    assert(both.schema("mine").dataType === both.schema("builtin").dataType)
    assert(both.schema("mine").nullable === both.schema("builtin").nullable)
    assert(both.filter(!(col("mine") <=> col("builtin"))).count() === 0)
  }

  test("dsum: all-null group and empty frame yield null like the built-in") {
    import spark.implicits._
    val df = Seq((0, null: java.lang.Double), (0, null: java.lang.Double))
      .toDF("g", "d")
      .select(col("g"), col("d").cast("decimal(18,2)").as("v"))
    val r = df.groupBy("g").agg(
      DecimalSumFns.dsum(col("v")).as("mine"),
      sum(col("v")).as("builtin")).head
    assert(r.isNullAt(1) && r.isNullAt(2))
    val empty = df.filter(lit(false)).agg(
      DecimalSumFns.dsum(col("v")).as("mine"),
      sum(col("v")).as("builtin")).head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("dsum over the wired product shape ((18,2)x(19,2) -> (38,4))") {
    import spark.implicits._
    val rnd = new scala.util.Random(56)
    val rows = (0 until 20000).map { _ =>
      (math.round(rnd.nextDouble() * 1e7) / 100.0,
        math.round(rnd.nextDouble() * 100) / 100.0)
    }
    val df = rows.toDF("p", "disc").repartition(8)
    val prod = DecimalFns.dtimes(DecimalFns.dcast(col("p")),
      lit(1).cast("decimal(1,0)") - DecimalFns.dcast(col("disc")))
    val both = df.agg(
      DecimalSumFns.dsum(prod).as("mine"), sum(prod).as("builtin"))
    assert(both.schema("mine").dataType === both.schema("builtin").dataType)
    val r = both.head
    assert(r.getDecimal(0) === r.getDecimal(1))
  }

  test("dsum carry path: sums past one long's unscaled range stay exact") {
    import spark.implicits._
    // 4000 rows x 9e18-ish unscaled values: the lo limb wraps many
    // times, so a wrong carry would be off by 2^64 — compare against
    // the built-in (BigDecimal-buffered) sum and an exact driver-side
    // fold. Also exercises negatives (alternating signs, net positive).
    val rows = (0 until 4000).map { i =>
      val sign = if (i % 3 == 0) -1 else 1
      BigDecimal(sign * (9e16.toLong + i)) / 100
    }
    val df = rows.map(_.toString).toDF("s").repartition(8)
      .select(col("s").cast("decimal(18,2)").as("v"))
    val both = df.agg(
      DecimalSumFns.dsum(col("v")).as("mine"), sum(col("v")).as("builtin"))
    val r = both.head
    val exact = rows.sum
    assert(BigDecimal(r.getDecimal(0)) === exact)
    assert(BigDecimal(r.getDecimal(1)) === exact)
  }

  test("dsum merge path: per-partition partials combine exactly") {
    import spark.implicits._
    // one distinct value per partition, partition-local partials are
    // 128-bit; with 64 partitions the merge path must chain carries
    val df = (0 until 64).flatMap(p => (0 until 500).map(_ => p))
      .toDF("p").repartition(64, col("p"))
      .select((col("p") * 1000000 + lit(999999999999999L)).cast("string")
        .cast("decimal(18,2)").as("v"))
    val both = df.agg(
      DecimalSumFns.dsum(col("v")).as("mine"), sum(col("v")).as("builtin"))
    val r = both.head
    assert(r.getDecimal(0) === r.getDecimal(1))
  }

  test("make128 overflow: null when nullOnOverflow, ArithmeticException otherwise") {
    // long-fit branch: 1000 needs 4 digits, DECIMAL(3,0) holds 3
    assert(DecimalSumUtil.make128(0L, 1000L, 3, 0, nullOnOverflow = true) === null)
    intercept[ArithmeticException](
      DecimalSumUtil.make128(0L, 1000L, 3, 0, nullOnOverflow = false))
    assert(DecimalSumUtil.make128(0L, 999L, 3, 0, nullOnOverflow = false)
      .toJavaBigDecimal.longValueExact === 999L)
    // 128-bit branch: (hi=1, lo=0) is 2^64 ≈ 1.8e19, 20 digits
    assert(DecimalSumUtil.make128(1L, 0L, 19, 0, nullOnOverflow = true) === null)
    intercept[ArithmeticException](
      DecimalSumUtil.make128(1L, 0L, 19, 0, nullOnOverflow = false))
    assert(DecimalSumUtil.make128(1L, 0L, 20, 0, nullOnOverflow = false)
      .toJavaBigDecimal.toBigIntegerExact === java.math.BigInteger.ONE.shiftLeft(64))
  }

  test("input domain: precision <= 18 or a compact product, rejected at analysis otherwise") {
    def attr(p: Int) = AttributeReference("v", DecimalType(p, 2))()
    assert(DecimalSum128(attr(18)).checkInputDataTypes().isSuccess)
    assert(DecimalSum128(DecimalTimesCompact(attr(18), attr(18)))
      .checkInputDataTypes().isSuccess)
    assert(DecimalSum128(attr(19)).checkInputDataTypes().isFailure)
    import spark.implicits._
    val wide = Seq("1.50").toDF("s").select(col("s").cast("decimal(38,2)").as("v"))
    intercept[AnalysisException](wide.agg(DecimalSumFns.dsum(col("v"))).collect())
  }

  test("end to end: a narrow DecimalSum128 nulls on overflow like sum") {
    import spark.implicits._
    // per group, sums that fit DECIMAL(4,2) (60.00, the edge 99.99),
    // sums one step past it (100.00) or far past it (150.00, -120.00),
    // and an all-null group; 8 partitions exercise the merge path
    val rows = Seq.fill(10)((0, "6.00")) ++ Seq.fill(11)((1, "9.09")) ++
      Seq.fill(20)((2, "5.00")) ++ Seq.fill(20)((3, "7.50")) ++
      Seq.fill(16)((4, "-7.50")) ++ Seq.fill(3)((5, null: String))
    val df = rows.toDF("g", "s").repartition(8)
      .select(col("g"), col("s").cast("decimal(3,2)").as("v"))
    val narrow = Bridge.column(
      new NarrowDsum(Bridge.expression(col("v"))).toAggregateExpression())
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val both = df.groupBy("g").agg(narrow.as("mine"),
        sum(col("v")).cast("decimal(4,2)").as("builtin"))
      assert(both.schema("mine").dataType === DecimalType(4, 2))
      val got = both.orderBy("g").collect()
        .map(r => (r.getInt(0), Option(r.getDecimal(1)).map(BigDecimal(_)),
          Option(r.getDecimal(2)).map(BigDecimal(_)))).toSeq
      assert(got.map(r => r._2) === Seq(Some(BigDecimal("60.00")),
        Some(BigDecimal("99.99")), None, None, None, None))
      assert(got.map(_._2) === got.map(_._3), "null-on-overflow parity")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
