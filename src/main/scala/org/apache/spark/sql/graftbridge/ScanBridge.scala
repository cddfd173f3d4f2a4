package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EvalMode, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Bridge into the `execution.datasources` seam for
  * [[graft.sources.SnapshotFileIndex]]: a custom `FileIndex` receives
  * catalyst `Expression` filters and must (a) hand the translatable
  * subset to the manifest-stats pruner as `sources.Filter`s and (b)
  * apply partition filters EXACTLY — Spark does not re-apply them above
  * a file scan. Both helpers wrap Spark's own machinery so the
  * semantics are Spark's, not a re-implementation; the shim lives in
  * the org.apache.spark.sql package tree, the established pattern for
  * such seams.
  */
object ScanBridge {

  /** Hive partition-dir string → catalyst value of `dt`: Spark's own
    * string cast (ANSI, so a malformed value fails loudly instead of
    * reading as null) in the session's time zone — the parse Spark's
    * partition inference applies, so a `p_start=2024-01-15 00%3A00%3A00`
    * dir reads the same through this index and through
    * `spark.read.parquet`, for every type a partitioned write accepts.
    */
  def partitionValue(raw: String, dt: DataType, timeZone: String): Any =
    Cast(Literal(UTF8String.fromString(raw)), dt, Some(timeZone), EvalMode.ANSI).eval()

  /** Whether [[partitionValue]] can produce a `dt` value. */
  def canParsePartitionValue(dt: DataType): Boolean = Cast.canAnsiCast(StringType, dt)

  /** Catalyst predicate → pushdown `Filter`, when expressible. The
    * consumer treats None conservatively (no pruning from this
    * conjunct).
    */
  def translate(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** Exact partition-pruning predicate over partition-value rows —
    * the same bind-and-interpret Spark's `PartitioningAwareFileIndex`
    * uses, so a partition filter the stats walker cannot reason about
    * is still applied exactly, never dropped.
    */
  def partitionPredicate(filters: Seq[Expression],
                         partitionSchema: StructType): InternalRow => Boolean = {
    if (filters.isEmpty) return _ => true
    val bound = Predicate.createInterpreted(filters.reduce(And).transform {
      case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
    })
    row => bound.eval(row)
  }
}
