package graft.tables

import org.apache.spark.sql.functions._

/**
 * Incremental materialized JOIN view — `view = a ⋈ b` on a shared join
 * key, maintained from the two base tables' change feeds instead of
 * recomputed. The aggregate sibling is `streaming/IncrementalAgg`
 * (distributive folds); joins need a different delta rule, and this is
 * the practical one (the "changed-key partial recompute" used by
 * incremental dbt models and the delete+insert mode of most IVM
 * engines):
 *
 *   K        = join keys present in either side's CDC since last sync
 *   view'    = (view − rows with key ∈ K) ∪ (a⋈b restricted to K)
 *
 * which is correct for any join multiplicity (1-1, 1-N, N-M) because
 * every row whose key participates in ANY base change is rederived
 * from the CURRENT snapshots — inserts, updates and deletes all
 * reduce to it.
 *
 * Cost is O(change), not O(view): the subtraction is
 * [[TableStore.deleteWhere]] (segment-pruned copy-on-write — view
 * segments without affected keys are carried byte-identical), the
 * addition is an append of the rederived slice, and the slice join
 * probes the base tables with a semi-join on K (pushed-down IN at the
 * gate's key counts; at corpus scale the same shape rides a broadcast
 * semi-join — K is bounded by the CHANGE volume either way, never by
 * table size). The view and its two version cursors (the base
 * versions it was derived from, kept as batch ids in the store
 * pointer) land in one store commit, so a failed sync leaves all three
 * where they were. A cursor aged past the vacuum horizon falls back
 * to one full rebuild, like [[TableStore.syncTo]].
 */
object JoinView {

  /** Hard cap on distinct changed keys collected to the driver for
    * the IN-list delete; past it the sync degrades to a full rebuild
    * (cheaper than a multi-hundred-thousand-literal predicate). */
  private val MaxInlineKeys = 65536

  /** Bring `view` up to date with `a ⋈ b` (inner join on `joinKey`).
    * `aKey`/`bKey` are the UNIQUE keys of the base tables (the CDC
    * precondition); `joinKey` must be a column set present in both.
    * Returns the number of join keys rederived (−1 for a full
    * (re)build). */
  def sync(store: TableStore, view: String, a: String, b: String,
      joinKey: Seq[String], aKey: Seq[String], bKey: Seq[String]): Long =
    store.commit { c =>
      val (fa, fb) = (s"_jview_${view}__a", s"_jview_${view}__b")
      val (av, bv) = (c.version(a), c.version(b))
      require(av >= 0 && bv >= 0, s"base table missing for view $view")
      val (la, lb) =
        (store.lastCommitted(fa).toInt, store.lastCommitted(fb).toInt)

      // the view rows of the join keys that changed since the cursors;
      // the number of keys, or −1 when the change is too wide (or its
      // keys defy literals) and the view is rebuilt instead
      def rederive(): Long = {
        val changed =
          (if (la < av) store.changesBetween(a, la, av, aKey)
            .select(joinKey.map(col): _*)
          else c.load(a).limit(0).select(joinKey.map(col): _*))
            .unionByName(
              if (lb < bv) store.changesBetween(b, lb, bv, bKey)
                .select(joinKey.map(col): _*)
              else c.load(b).limit(0).select(joinKey.map(col): _*))
            .distinct()
        val keys = changed.limit(MaxInlineKeys + 1).collect()
        if (keys.length > MaxInlineKeys) -1L
        else if (keys.isEmpty) 0L
        else {
          // key ∈ K as a pushed-down predicate (single-column IN, or an
          // IN over struct tuples for composite keys). Literals are
          // built with Literal.create against the changed-key SCHEMA
          // types, not lit(): lit() infers from the runtime value, so a
          // null key field became NullType (leaning on IN-coercion to
          // widen it) and an array/struct-typed key threw outright. If
          // a key value still defies literal construction, fall back to
          // the rebuild escape hatch rather than failing the sync.
          val hit: Option[org.apache.spark.sql.Column] =
            try {
              val types = changed.schema.fields.map(_.dataType)
              def keyLit(v: Any, i: Int) = org.apache.spark.sql.graft.Bridge
                .column(org.apache.spark.sql.catalyst.expressions.Literal
                  .create(v, types(i)))
              Some(
                if (joinKey.length == 1)
                  col(joinKey.head).isin(
                    keys.map(r => keyLit(r.get(0), 0)).toIndexedSeq: _*)
                else
                  struct(joinKey.map(col): _*).isin(keys.map(r => struct(
                    joinKey.indices.map(i => keyLit(r.get(i), i)): _*))
                    .toIndexedSeq: _*))
            } catch { case scala.util.control.NonFatal(_) => None }
          hit.fold(-1L) { h =>
            c.deleteWhere(view, h)
            // restricting ONE side to K suffices for an inner join:
            // every result row's key comes from both sides, so the
            // a-side filter already bounds the slice to K
            c.append(view, c.load(a).filter(h).join(c.load(b), joinKey))
            keys.length.toLong
          }
        }
      }

      val synced = c.exists(view) && la >= 0 && lb >= 0
      if (synced && la == av && lb == bv) 0L
      else {
        // a cursor older than the vacuum horizon → full rebuild
        val n =
          if (synced && store.versionExists(a, la) &&
              store.versionExists(b, lb)) rederive()
          else -1L
        if (n < 0L) c.replace(view, c.load(a).join(c.load(b), joinKey))
        c.markBatch(fa, av); c.markBatch(fb, bv)
        n
      }
    }
}
