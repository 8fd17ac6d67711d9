package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Column ⇄ Expression bridge. Spark 4 narrowed these converters to
  * `private[sql]`; extension libraries (this one included) reach them
  * via a shim in the sql package namespace — the same technique used
  * by Delta/Iceberg/Sedona for their custom expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-wraps a (typically `localCheckpoint`ed) frame's physical RDD in
    * a FRESH `LogicalRDD` carrying no inherited constraints or stats.
    * Why: `Dataset.checkpoint` copies the optimized plan's constraints
    * onto its `LogicalRDD`; when that leaf is later self-joined or
    * unioned, `DeduplicateRelations`/`Union.rewriteConstraints` can hit
    * a constraint referencing an attribute id that is no longer in the
    * re-instanced output — `java.util.NoSuchElementException: key not
    * found: <attr>` at analysis time (observed on the CC superstep's
    * `lab.unionByName(prop)` + self-join in Spark 4.1.2). Dropping the
    * constraints loses nothing here: the callers' loop plans are
    * trivial scans/aggregates that gain no pruning from them. Zero data
    * movement — `toRdd` over a checkpointed plan is a scan of the
    * already-materialized blocks. */
  def freshLeaf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema)
  }

  /** A copy of `df` whose every `LogicalRelation` leaf is re-instanced
    * with fresh attribute ids (and every reference above it rewritten
    * to match), over the SAME resolved relations: their file listings
    * and schemas are reused, nothing is listed, inferred or read. Two
    * copies of one frame carry distinct ids, so they self-join like two
    * independent reads would; handing out the one frame twice would
    * make `a("id") === b("id")` compare an attribute with itself. The
    * copy drops the Dataset-id tags it inherits: the tag's id set is
    * shared by reference, so keeping it would stamp every copy's id on
    * every other copy and make their columns look ambiguous in a join. */
  def freshRelations(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    val plan = cdf.queryExecution.analyzed.transformUpWithNewOutput {
      case r: LogicalRelation =>
        val n = r.newInstance()
        n -> r.output.zip(n.output)
    }
    plan.foreach(_.unsetTagValue(classic.Dataset.DATASET_ID_TAG))
    classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** `s` with every field, element and map value nullable: the schema
    * a file source reads rows written under `s` back as. */
  def nullable(s: StructType): StructType = s.asNullable

  /** True for a path under a table root (relative, with a leading
    * `/`) that Spark's file index leaves out of a read: `_SUCCESS` and
    * other `_` names that are not `k=v` partition dirs, dot-files,
    * `_temporary/` attempt dirs and `._COPYING_` files. */
  def readerSkips(path: String): Boolean =
    HadoopFSUtils.shouldFilterOutPath(path)
}
