package graft

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics of the MERGE primitives (SURVEY O17–O23). */
class MergeOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def inv(rows: (String, String, Int, String, String)*) =
    rows.toDF("id", "nombre", "capacidad", "categoria", "estado")

  test("insertIfAbsent: existing key dropped, batch dups collapse") {
    // O17 is TableStore.appendUnique on the unique key
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-merge").toString)
    store.init("t", Seq(("1", "a"), ("2", "b")).toDF("id", "nombre"))
    val batch = Seq(("3", "b"), ("4", "c"), ("5", "c")).toDF("id", "nombre")
    store.appendUnique("t", batch, Seq("nombre"), Seq(col("id")))
    val out = store.load("t").orderBy("id").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("1", "2", "4"))
  }

  test("guardedUpdate: only matched+guarded rows change") {
    val target = inv(("1", "a", 10, "Op", "A"), ("2", "b", 20, "Op", "C"))
    val batch = Seq(("a"), ("b")).toDF("nombre")
    val out = MergeOps.guardedUpdate(target, batch, Seq("nombre"),
      guard = col("estado") === "A", sets = Map("capacidad" -> lit(99)))
      .orderBy("id").collect()
    assert(out.map(_.getInt(2)).toSeq === Seq(99, 20))
  }

  test("semiJoinUpdate: cascade touches only active rows of listed keys") {
    val res = Seq(
      ("r1", "a", "A"), ("r2", "a", "X"), ("r3", "b", "A"))
      .toDF("id", "evento", "estado")
    val cancelled = Seq("a").toDF("nombre")
    val out = MergeOps.semiJoinUpdate(res, cancelled, "evento", "nombre",
      guard = col("estado") === "A", sets = Map("estado" -> lit("C")))
      .orderBy("id").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("C", "X", "A"))
  }

  test("admitReservations: ordered fold, oversell guard, cross-key independence") {
    val i = inv(("1", "a", 5, "Op", "A"), ("2", "b", 2, "Op", "A"),
      ("3", "c", 9, "Op", "C"))
    val reqs = Seq(
      ("ra1", "a", "x@y", 3, 1L), // admitted, cap 5→2
      ("ra2", "a", "x@y", 3, 2L), // rejected (2 < 3)
      ("ra3", "a", "x@y", 2, 3L), // admitted, cap 2→0
      ("rb1", "b", "z@y", 1, 1L), // admitted independently
      ("rc1", "c", "w@y", 1, 1L)) // rejected: estado C
      .toDF("id", "evento", "email", "cantidad", "seq")
    val (updated, log) = MergeOps.admitReservations(i, reqs)
    val caps = updated.orderBy("nombre").collect()
      .map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(caps === Map("a" -> 0, "b" -> 1, "c" -> 9))
    val admitted = log.filter(col("admitted")).select("id")
      .collect().map(_.getString(0)).toSet
    assert(admitted === Set("ra1", "ra3", "rb1"))
  }

  test("admitReservations: seat return increments without guard") {
    val i = inv(("1", "a", 0, "Op", "A"))
    val reqs = Seq(("rr", "a", "x@y", -3, 1L))
      .toDF("id", "evento", "email", "cantidad", "seq")
    val (updated, log) = MergeOps.admitReservations(i, reqs)
    assert(updated.collect().head.getInt(2) === 3)
    assert(log.filter(col("admitted")).count() === 1)
  }

  test("admitReservations: capacity never goes negative (property)") {
    val rnd = new scala.util.Random(7)
    val i = inv(("1", "a", 10, "Op", "A"), ("2", "b", 3, "Op", "A"))
    val reqs = (1 to 40).map { k =>
      (s"r$k", if (rnd.nextBoolean()) "a" else "b", "e@y",
        rnd.nextInt(6) + 1, k.toLong)
    }.toDF("id", "evento", "email", "cantidad", "seq")
    val (updated, log) = MergeOps.admitReservations(i, reqs)
    val caps = updated.collect().map(_.getInt(2))
    assert(caps.forall(_ >= 0), s"oversold: ${caps.mkString(",")}")
    // conservation: initial = remaining + Σ admitted
    val admittedSum = log.filter(col("admitted") && col("cantidad") > 0)
      .agg(sum("cantidad")).collect().head.getLong(0)
    assert(caps.sum + admittedSum === 13)
  }

  test("admitReservations: a duplicated inventario key fails, naming the key") {
    // inventario is unique on nombre; a second row for a key is a
    // corrupt table, not a second capacity to admit against
    val i = inv(("1", "a", 5, "Op", "A"), ("2", "a", 9, "Op", "A"),
      ("3", "b", 2, "Op", "A"))
    val reqs = Seq(("ra1", "a", "x@y", 1, 1L), ("rb1", "b", "z@y", 1, 1L))
      .toDF("id", "evento", "email", "cantidad", "seq")
    val (_, log) = MergeOps.admitReservations(i, reqs)
    val e = intercept[Exception](log.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(chain.contains("IllegalStateException") &&
      chain.contains("more than one row for nombre 'a'"), chain)
  }

  test("admitReservations: one log row per request, each refusal with its motivo") {
    val i = Seq(
      ("1", "a", 2, "Op", "A"), ("2", "c", 9, "Op", "C"),
      ("3", "n", 9, "Op", null))
      .toDF("id", "nombre", "capacidad", "categoria", "estado")
    val reqs = Seq(
      ("ra1", "a", "x@y", 2, 1L),  // admitted, cap 2→0
      ("ra2", "a", "x@y", 1, 2L),  // sold out
      ("rc1", "c", "x@y", 1, 1L),  // estado C
      ("rn1", "n", "x@y", 1, 1L),  // null estado reads sold out
      ("rz1", "zz", "x@y", 1, 1L)) // no inventario row
      .toDF("id", "evento", "email", "cantidad", "seq")
    val (updated, log) = MergeOps.admitReservations(i, reqs)
    val got = log.select("id", "admitted", "motivo").collect()
      .map(r => (r.getString(0), r.getBoolean(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("ra1", true, None),
      ("ra2", false, Some("sin_capacidad")),
      ("rc1", false, Some("evento_cerrado")),
      ("rn1", false, Some("sin_capacidad")),
      ("rz1", false, Some("no_existe"))))
    val caps = updated.collect().map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(caps === Map("a" -> 0, "c" -> 9, "n" -> 9))
  }
}
