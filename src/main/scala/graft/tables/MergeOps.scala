package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Batch MERGE primitives — the declarative re-expression of the
 * reference's MongoDB `findAndModify` mutations (SURVEY.md §2
 * O17–O23). Each primitive takes the current table snapshot plus a
 * batch of changes and returns the new snapshot (storage swap is
 * TableStore's job), so the same functions serve batch jobs and
 * `foreachBatch` streaming sinks.
 *
 * Scale notes: every primitive is a single equi-join (or
 * aggregate+join) on the merge key — at 100 TB these run as shuffle
 * hash joins partitioned by key, or broadcast joins when the change
 * batch is small (the common case for CDC micro-batches: a batch of
 * thousands merging into a table of billions broadcasts the batch, not
 * the table).
 *
 * The Boletia write rules are defined here once each, so the
 * streaming flows, hold expiry and the REST handlers apply the same
 * rule:
 *
 *  - [[requestFault]] — O16 request validation;
 *  - [[inventarioClones]] — O2, an event's inventario row;
 *  - [[widenLastAdmitted]] — the inventario document shape
 *    (README.md:443-454), the last admitted reservation per event;
 *  - [[cancelEvents]] — O18, estado → C by nombre (eventos and
 *    inventario);
 *  - [[cancelReservas]] — O23, the cascade onto active reservas;
 *  - [[customerCancel]] — O20, a customer's A → X cancel;
 *  - [[returnSeats]] — O21, seat returns as a negative admission fold.
 */
object MergeOps {

  /** One row per `key`: the FIRST by `tieBreak` ordering, an arbitrary
    * row when the ordering is empty (dropDuplicates — a hash agg, no
    * window shuffle). The ONE in-batch keyed dedup shared by the
    * idempotent merges, TableStore.appendUnique and the ingest flows,
    * so ordering/determinism fixes land in one place. */
  def dedupBy(df: DataFrame, key: Seq[String],
      tieBreak: Seq[Column] = Nil): DataFrame =
    if (tieBreak.isEmpty) df.dropDuplicates(key)
    else {
      val w = Window.partitionBy(key.map(col): _*).orderBy(tieBreak: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === lit(1)).drop("__rn")
    }

  /** O18/O20 — guarded single-column update: WHEN MATCHED AND guard
    * THEN SET. `guard` may reference target columns; `sets` assigns
    * target columns from target and/or batch columns (batch columns
    * must be selected into the join via `batchCols`). */
  def guardedUpdate(target: DataFrame, batch: DataFrame, key: Seq[String],
      guard: Column, sets: Map[String, Column],
      batchCols: Seq[String] = Nil): DataFrame = {
    // dedupe batch keys (deterministically, by batch-column order): a
    // left join against duplicate keys would MULTIPLY target rows
    val cols = (key ++ batchCols).distinct
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(cols.filterNot(key.contains).map(col) :+ lit(1): _*)
    val b = batch
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(cols.map(c => col(c).as(s"__b_$c")): _*)
    val joined = target.join(b,
      key.map(k => col(k) === col(s"__b_$k")).reduce(_ && _), "left")
    val matched = col(s"__b_${key.head}").isNotNull && guard
    joined.select(target.columns.map { c =>
      sets.get(c) match {
        case Some(v) => when(matched, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** O23 — cascade / semi-join update: set columns on every target row
    * whose key appears in `filterSource` and that passes `guard`. */
  def semiJoinUpdate(target: DataFrame, filterSource: DataFrame,
      targetKey: String, sourceKey: String, guard: Column,
      sets: Map[String, Column]): DataFrame = {
    val keys = filterSource.select(col(sourceKey).as("__k")).distinct()
    val joined = target.join(keys, col(targetKey) === col("__k"), "left")
    val matched = col("__k").isNotNull && guard
    joined.select(target.columns.map { c =>
      sets.get(c) match {
        case Some(v) => when(matched, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** O19/O21 + S8 — the one genuinely stateful operator: per-key
    * ordered admission of capacity deltas with an oversell guard.
    *
    * Requests are folded per event key in `(seq, id, email, cantidad)`
    * order (`seq` stands in for Kafka offset order, which the
    * reference gets for free from single-partition topics): each
    * request is admitted iff the event exists, estado='A', and
    * remaining capacity covers it; admitted requests decrement the
    * running capacity. Seat returns are the same fold with negative
    * `cantidad` and no capacity guard.
    *
    * Returns (updated inventario, admission log with `admitted` flag).
    *
    * Implementation: both sides as one tagged union, shuffled once on
    * the event key, then each key folds in plain Scala
    * ([[foldAdmitPartition]], O(n) per key, JIT-compiled). This is the
    * textbook case for dropping out of Catalyst: a data-dependent
    * running fold that emits a per-element decision log has no
    * efficient expression form (an `aggregate` fold that appends to an
    * array accumulator is O(n²) in copies — measured 30 s for 600k
    * requests where the typed cogroup form took ~2 s).
    * Per-key serialization is the semantic the reference relies on;
    * cross-key parallelism is what it never had. */
  /** Typed fold records — top-level-object case classes so their
    * product encoders codegen (no generic-Row boxing on the hot path;
    * the Row-based first cut of this fold cost ~10× in the bench). */
  final case class AdmitReq(id: String, evento: String, email: String,
      cantidad: Int, seq: Long)
  /** Flat fold output — one row per request. Flat rows (vs a per-key
    * nested log array) keep the output encoder a cheap product
    * encoder. */
  final case class AdmitOut(id: String, evento: String, email: String,
      cantidad: Int, admitted: Boolean, seq: Long)

  /** The admission ordering: (seq, id, email, cantidad), nulls first.
    * Hand-written so it allocates nothing per comparison and accepts
    * null ids and emails, which a tuple Ordering throws on. */
  private[tables] object AdmitReqOrder
      extends java.util.Comparator[AdmitReq] with Serializable {
    private def nc(a: String, b: String): Int =
      if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
      else a.compareTo(b)
    override def compare(x: AdmitReq, y: AdmitReq): Int = {
      var c = java.lang.Long.compare(x.seq, y.seq)
      if (c != 0) return c
      c = nc(x.id, y.id)
      if (c != 0) return c
      c = nc(x.email, y.email)
      if (c != 0) return c
      Integer.compare(x.cantidad, y.cantidad)
    }
  }

  /** One row of the tagged-union cogroup input: side 0 = inventario
    * (capacidad/estado live), side 1 = request (id/email/cantidad/seq
    * live). Top-level case class so the product encoder codegens. */
  final case class AdmitMerge(k: String, side: Int, capacidad: Int,
      estado: String, id: String, email: String, cantidad: Int, seq: Long)

  /** The per-partition admission fold over key-clustered, side-ordered
    * [[AdmitMerge]] rows (a key's inventario row first, then its
    * requests — the upstream sort guarantees it). Requests of a key
    * sort by [[AdmitReqOrder]] — deliberately NOT the Catalyst sort,
    * whose UTF8String binary order diverges from String.compareTo on
    * non-ASCII ids, so moving the sort there would change which
    * request of a tied seq admits — and fold against the key's
    * capacity; keys missing either side emit nothing
    * (unknownEventRequests surfaces the no-inventario ones).
    * inventario is unique on `nombre` (every
    * writer appends keyed on it, like the reference's unique index),
    * so a second inventario row for a key throws
    * IllegalStateException naming the key rather than guessing which
    * row's capacity admits. */
  private[tables] def foldAdmitPartition(
      rows: Iterator[AdmitMerge]): Iterator[AdmitOut] = {
    val it = rows.buffered
    new Iterator[Array[AdmitOut]] {
      override def hasNext: Boolean = it.hasNext
      override def next(): Array[AdmitOut] = {
        val k = it.head.k
        @inline def same(r: AdmitMerge): Boolean =
          if (k == null) r.k == null else k == r.k
        val inv = if (it.head.side == 0) it.next() else null
        if (inv != null && it.hasNext && same(it.head) && it.head.side == 0)
          throw new IllegalStateException(
            s"inventario has more than one row for nombre '$k'")
        val reqB = new scala.collection.mutable.ArrayBuffer[AdmitReq](8)
        while (it.hasNext && same(it.head)) {
          val r = it.next()
          reqB += AdmitReq(r.id, k, r.email, r.cantidad, r.seq)
        }
        if (inv == null || reqB.isEmpty) Array.empty
        else {
          val arr = reqB.toArray
          if (arr.length > 1) java.util.Arrays.sort(arr, AdmitReqOrder)
          var cap = inv.capacidad.toLong
          val active = inv.estado == "A"
          arr.map { r =>
            val ok = active && (r.cantidad <= 0 || cap >= r.cantidad)
            if (ok) cap -= r.cantidad
            AdmitOut(r.id, k, r.email, r.cantidad, ok, r.seq)
          }
        }
      }
    }.flatMap(_.iterator)
  }

  def admitReservations(inventario: DataFrame, requests: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = inventario.sparkSession
    import spark.implicits._

    // project to the typed fold inputs: only (nombre, capacidad,
    // estado) ride the shuffle for the target side — the rest of the
    // inventario row rejoins AFTER the fold, so wide target schemas
    // never pay the fold's encoder cost.
    //
    // r18 (guide §4 — objects only where the fold itself runs): the r9
    // form was groupByKey(lambda).cogroup(groupByKey(lambda)), which
    // pays a WHOLE object-deserialization pass per side just to
    // extract the grouping key (AppendColumns) before CoGroupExec
    // deserializes both sides again for the fold. The tagged union
    // keys relationally (no objects), shuffles ONCE, clusters with the
    // Tungsten radix sort on (k, side), and deserializes each row
    // exactly once — inside the fold that needs the object.
    val invM = inventario.select(
      col("nombre").cast("string").as("k"), lit(0).as("side"),
      col("capacidad").cast("int").as("capacidad"),
      col("estado").cast("string").as("estado"),
      lit(null).cast("string").as("id"), lit(null).cast("string").as("email"),
      lit(0).as("cantidad"), lit(0L).as("seq"))
    val reqM = requests.select(
      col("evento").cast("string").as("k"), lit(1).as("side"),
      lit(0).as("capacidad"), lit(null).cast("string").as("estado"),
      col("id").cast("string").as("id"),
      col("email").cast("string").as("email"),
      col("cantidad").cast("int").as("cantidad"),
      col("seq").cast("long").as("seq"))
    val log = invM.unionByName(reqM)
      .repartition(col("k"))
      .sortWithinPartitions(col("k"), col("side"))
      .as[AdmitMerge]
      .mapPartitions(foldAdmitPartition _)
      .toDF()

    // the updated snapshot is DERIVED FROM THE LOG (cap' = cap − Σ
    // admitted deltas per key — exactly the fold's final capacity), so
    // a caller that persists `log` evaluates the cogroup ONCE for both
    // outputs instead of once per output. The per-key delta side is one
    // row per touched key — broadcastable in the CDC common case.
    val delta = log.filter(col("admitted"))
      .groupBy(col("evento").as("__nombre"))
      .agg(sum(col("cantidad")).as("__delta"))
    val capType = inventario.schema("capacidad").dataType
    val updated = inventario
      .join(delta, col("nombre") === col("__nombre"), "left")
      .select(inventario.columns.map {
        case "capacidad" => (col("capacidad") - coalesce(col("__delta"), lit(0L)))
          .cast(capType).as("capacidad")
        case c => col(c)
      }: _*)
    (updated, log)
  }

  /** O16 (reservas/main.go:112-115,142-145) — why a reservation
    * request is refused before admission: `cantidad_invalida` for a
    * null or non-positive quantity (a cantidad ≤ 0 "request" would
    * otherwise read as a seat return), `id_invalido` for a null or
    * non-24-hex id; null when the request is valid. */
  def requestFault(cantidad: Column, id: Column): Column =
    when(cantidad.isNull || cantidad <= 0, "cantidad_invalida")
      .when(id.isNull || !id.rlike("^[0-9a-f]{24}$"), "id_invalido")

  /** O2 (kafka-mongodb-connect.yaml:22-33) — the inventario row of each
    * new `eventos` row: same id and full capacity, no reservation
    * echo yet. */
  def inventarioClones(eventos: DataFrame): DataFrame =
    eventos.select(col("id"), col("nombre"), col("capacidad"),
      col("categoria"), col("estado"),
      lit(null).cast("string").as("idres"),
      lit(null).cast("string").as("email"),
      lit(null).cast("int").as("canres"))

  /** The inventario document shape (README.md:443-454): each event
    * touched by `admitted` (id, evento, email, cantidad) carries its
    * last admitted reservation, the greatest by `order`, in
    * idres/email/canres. */
  def widenLastAdmitted(inv: DataFrame, admitted: DataFrame,
      order: Column): DataFrame = {
    val last = admitted.groupBy(col("evento").as("nombre"))
      .agg(max_by(struct(col("id"), col("email"), col("cantidad")), order)
        .as("__r"))
      .select(col("nombre"), col("__r.id").as("__idres"),
        col("__r.email").as("__email"), col("__r.cantidad").as("__canres"))
    guardedUpdate(inv, last, Seq("nombre"), guard = lit(true),
      sets = Map("idres" -> col("__b___idres"), "email" -> col("__b___email"),
        "canres" -> col("__b___canres")),
      batchCols = Seq("__idres", "__email", "__canres"))
  }

  /** O18 (eventos/main.go:45-59) — organizer cancel: estado → C on
    * every `target` row (eventos or inventario) whose nombre is in
    * `names`, whatever its estado. */
  def cancelEvents(target: DataFrame, names: DataFrame): DataFrame =
    guardedUpdate(target, names, Seq("nombre"), guard = lit(true),
      sets = Map("estado" -> lit("C")))

  /** O23 (inventario/main.go:99-103) — the cancel cascade: every
    * ACTIVE reserva of an event in `names` → C; customer-cancelled X
    * rows stay as history. */
  def cancelReservas(reservas: DataFrame, names: DataFrame): DataFrame =
    semiJoinUpdate(reservas, names, targetKey = "evento",
      sourceKey = "nombre", guard = col("estado") === "A",
      sets = Map("estado" -> lit("C")))

  /** O20 (reservas/main.go:186-195) — customer cancel: the CAS A → X
    * on every reserva whose id is in `ids`; a reserva that is not
    * active keeps its estado. */
  def customerCancel(reservas: DataFrame, ids: DataFrame): DataFrame =
    guardedUpdate(reservas, ids, Seq("id"), guard = col("estado") === "A",
      sets = Map("estado" -> lit("X")))

  /** O21 (inventario/main.go:114-133) — `returned` reservations (id,
    * evento, cantidad) give their seats back: the admission fold with
    * negative cantidad, which no capacity guard stops; an event that is
    * gone or no longer active takes nothing back. Every return sits at
    * seq 0 — without a capacity guard fold order cannot change the
    * outcome, and the fold's id tiebreak keeps it deterministic (a
    * monotonically_increasing_id would vary across retries). Returns
    * the updated inventario. */
  def returnSeats(inventario: DataFrame, returned: DataFrame): DataFrame =
    admitReservations(inventario, returned.select(col("id"), col("evento"),
      lit(null).cast("string").as("email"),
      (-col("cantidad")).cast("int").as("cantidad"), lit(0L).as("seq")))._1

  /** Unknown-event requests (no inventario row) — needed by flows to
    * emit rejections the fold never saw. */
  def unknownEventRequests(inventario: DataFrame, requests: DataFrame): DataFrame =
    requests.join(inventario.select(col("nombre")),
      requests("evento") === col("nombre"), "left_anti")
}
