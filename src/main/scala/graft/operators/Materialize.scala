package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.PlanBridge

/** The engine's one way to materialize an intermediate: a lazy local
  * checkpoint filled by ONE job that also counts the rows, the rows
  * whose boolean column `flag` is true, and their bytes, which the
  * result reports as its plan statistics. A bare checkpoint keeps the
  * estimate of the plan it copied (terabytes for a three-row candidate
  * list); with real sizes the planner broadcasts small sides on its own,
  * and callers answer emptiness from `rows` without a second job.
  */
object Materialize {

  final case class Materialized(df: DataFrame, rows: Long, flagged: Long)

  def apply(df: DataFrame, flag: Option[String] = None): Materialized = {
    val cp = df.localCheckpoint(eager = false)
    val fi = flag.fold(-1)(cp.schema.fieldIndex)
    // the pass runs on the checkpointed RDD, under the calling thread's
    // conf; a physical plan's rows are UnsafeRows (Spark's own collect
    // relies on it)
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val (rows, flagged, bytes) = PlanBridge.withConfPropagated(cp.sparkSession)(
      rdd.mapPartitions { it =>
        var n, f, b = 0L
        it.foreach { r =>
          n += 1
          if (fi >= 0 && !r.isNullAt(fi) && r.getBoolean(fi)) f += 1
          b += r.asInstanceOf[UnsafeRow].getSizeInBytes
        }
        Iterator((n, f, b))
      }.fold((0L, 0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3)))
    Materialized(PlanBridge.withStats(cp, bytes, rows), rows, flagged)
  }
}
