package graft.operators

import graft.Query
import graft.sources.Tables
import graft.sources.Tables.OracleCte
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Domain queries over the Boletia tables (B1–B4 in SURVEY.md §2.1),
 * replaying the reference README's transcript state. The tables are
 * engine-created (FIXTURES.md §2), so the oracle SQL carries the same
 * seed rows as self-contained VALUES CTEs.
 */
object BoletiaQueries {

  /** B2 per event: capacidad + Σ active reservations (nombre, cap0),
    * which every writer of inventario and reservas must keep equal to
    * the event's original capacity. */
  def capacityInvariant(inventario: DataFrame, reservas: DataFrame)
      : DataFrame = {
    val act = reservas
      .filter(col("estado") === "A")
      .groupBy(col("evento"))
      .agg(sum(col("cantidad")).as("act"))
    inventario
      .join(act, col("evento") === col("nombre"), "left")
      .select(col("nombre"),
        (col("capacidad") + coalesce(col("act"), lit(0L))).as("cap0"))
      .orderBy("nombre")
  }

  val all: Seq[Query] = Seq(

    // O9/O10: full inventario scan with capacidad surfaced as disponible
    // (contratos.go:18 alias; reservas/main.go:57-72)
    Query("b1_inventario",
      s"WITH ${OracleCte.inventario} " +
        "SELECT nombre, capacidad AS disponible, categoria, estado " +
        "FROM inventario ORDER BY nombre") {
      (s, _) =>
        Tables.inventario(s)
          .select(col("nombre"), col("capacidad").as("disponible"),
            col("categoria"), col("estado"))
          .orderBy("nombre")
    },

    // O19 invariant: current capacity + Σ active reservations = original
    // capacity (reservas/main.go:153 vs inventario/main.go:118 symmetry)
    Query("b2_invariant",
      s"WITH ${OracleCte.inventario}, ${OracleCte.reservas} " +
        "SELECT i.nombre, CAST(i.capacidad + COALESCE(r.act, 0) AS BIGINT) AS cap0 " +
        "FROM inventario i LEFT JOIN (SELECT evento, CAST(SUM(cantidad) AS BIGINT) AS act " +
        "FROM reservas WHERE estado = 'A' GROUP BY evento) r ON r.evento = i.nombre " +
        "ORDER BY i.nombre") {
      (s, _) => capacityInvariant(Tables.inventario(s), Tables.reservas(s))
    },

    // O23 cascade observable: reservation counts per estado
    Query("b3_estado_count",
      s"WITH ${OracleCte.reservas} " +
        "SELECT estado, COUNT(*) AS n FROM reservas GROUP BY estado ORDER BY estado") {
      (s, _) =>
        Tables.reservas(s)
          .groupBy("estado")
          .agg(count(lit(1)).as("n"))
          .orderBy("estado")
    },

    // O12: (evento, email) secondary-index lookup (reservas/main.go:92-109)
    Query("b4_lookup",
      s"WITH ${OracleCte.reservas} " +
        "SELECT id, cantidad FROM reservas " +
        "WHERE evento = 'Opera Boheme' AND email = 'pepediaz@gmail.com' ORDER BY id") {
      (s, _) =>
        Tables.reservas(s)
          .filter(col("evento") === "Opera Boheme" &&
            col("email") === "pepediaz@gmail.com")
          .select(col("id"), col("cantidad"))
          .orderBy("id")
    })
}
