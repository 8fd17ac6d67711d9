package graft

import graft.tables.{MergeOps, TableStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style invariant tests over seeded-random inputs (SURVEY
  * §5.2 #4): the implicit contracts the reference maintains must hold
  * for ANY request sequence, not just the README transcript. Seeded
  * RNG keeps runs reproducible without a resolver-side scalacheck
  * bridge. */
class InvariantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomCase(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val events = (0 until 1 + rnd.nextInt(4)).map { i =>
      (s"e$i", s"ev$i", 5 + rnd.nextInt(20), "Cat",
        if (rnd.nextInt(5) == 0) "C" else "A")
    }
    val reqs = (0 until rnd.nextInt(30)).map { k =>
      (s"r$seed-$k", s"ev${rnd.nextInt(events.size + 1)}", "e@y",
        1 + rnd.nextInt(8), k.toLong)
    }
    (events.toDF("id", "nombre", "capacidad", "categoria", "estado"),
      reqs.toDF("id", "evento", "email", "cantidad", "seq"),
      events)
  }

  test("invariant (i)+(ii): capacity conservation and non-negativity, any sequence") {
    (1 to 15).foreach { seed =>
      val (inv, reqs, events) = randomCase(seed)
      val (updated, log) = MergeOps.admitReservations(inv, reqs)
      val caps = updated.select("nombre", "capacidad").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(caps.values.forall(_ >= 0), s"seed=$seed oversold")
      val admittedPerEvent = log.filter(col("admitted"))
        .groupBy("evento").agg(sum("cantidad").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      events.foreach { case (_, nombre, cap0, _, _) =>
        assert(caps(nombre) + admittedPerEvent.getOrElse(nombre, 0L) === cap0,
          s"seed=$seed conservation broken for $nombre")
      }
    }
  }

  test("invariant (iii): insert-if-absent is idempotent under redelivery") {
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val store = new TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft-inv").toString)
      store.init("t", (0 until 5).map(i => (s"k$i", i)).toDF("id", "v"))
      val batch = (0 until 10).map(_ => (s"k${rnd.nextInt(12)}", 99)).toDF("id", "v")
      store.appendUnique("t", batch, Seq("id"), Seq(col("v")))
      val once = store.load("t").orderBy("id").collect().toSeq
      store.appendUnique("t", batch, Seq("id"), Seq(col("v")))
      assert(store.load("t").orderBy("id").collect().toSeq === once,
        s"seed=$seed not idempotent")
      // uniqueness always holds
      assert(once.length === once.map(_.getString(0)).distinct.length)
    }
  }

  test("invariant (iv): an 'X' row never transitions again under guarded CAS") {
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val states = (0 until 12).map(i =>
        (s"r$i", Seq("A", "C", "X")(rnd.nextInt(3)))).toDF("id", "estado")
      val cancels = (0 until 8).map(_ => s"r${rnd.nextInt(14)}").toDF("id")
      val out = MergeOps.guardedUpdate(states, cancels, Seq("id"),
        guard = col("estado") === "A", sets = Map("estado" -> lit("X")))
      val before = states.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      out.collect().foreach { r =>
        val (id, st) = (r.getString(0), r.getString(1))
        if (before(id) == "X") assert(st === "X", s"seed=$seed X row changed")
        if (before(id) == "C") assert(st === "C", s"seed=$seed C row changed")
      }
    }
  }

  test("B2 invariant holds end-to-end on the seeded Boletia fixture") {
    val out = SparkEntry.queries("b2_invariant")(spark, TestSpark.sf).collect()
    val cap0 = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cap0("Opera Boheme") === 20)
    assert(cap0("Opera Rigoletto") === 30)
  }
}
