package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.operators.{Snapshot, SnapshotStats}
import graft.sources.SnapshotSource

/** Metadata-only aggregation under the VANILLA SQL front end.
  *
  * `SELECT count(*), min(c), max(c), count(c) FROM snapshot_table`
  * — the reference's row-count sanity probes and watermark lookups
  * (e.g. the MAX(date) "where did the last load stop" query every
  * incremental DAG issues before extracting, consumo_detalle.py's
  * delete-window bounds) — needs ZERO data files on a snapshot table:
  * the manifest already carries exact per-file row counts and exact
  * per-column min/max/null-count reduced from the parquet footers at
  * commit time. On 100 TB that is the difference between a
  * sub-second planning-time answer and a full-table scan, and it is
  * what every production lakehouse does for `count(*)`.
  *
  * The rewrite fires only when the answer is PROVABLY the same row
  * the scan would return:
  *
  *  - whole-table aggregate (empty grouping) or grouping by BARE
  *    PARTITION-COLUMN attributes (`GROUP BY fecha`, `SELECT DISTINCT
  *    periodo` — partition values and per-file live-row counts are
  *    manifest metadata, so per-group folds stay exact; groups whose
  *    rows are all vector-deleted are dropped, and group counts above
  *    `spark.graft.metaAgg.maxGroups` refuse rather than inline a huge
  *    literal relation), and the child is the bare snapshot relation
  *    (possibly under a column-pruning Project) — any Filter, join or
  *    generator in between disables the rewrite;
  *  - every output expression is `count(<non-null literal>)`
  *    (count(*)), `count(col)`, `min(col)`, `max(col)` — no
  *    DISTINCT, no FILTER clause — or a plain literal;
  *  - every live file carries usable stats; string stats must be
  *    exact (not truncated at collection) and every recorded bound
  *    must decode — [[SnapshotStats.metadataAgg]] REFUSES otherwise
  *    and the plan stays a real scan: wrong-but-fast is never an
  *    option;
  *  - aggregates over DATA columns additionally require a vector-free
  *    version (a deleted row may have been a file's min/max/null
  *    carrier). `count(*)` and aggregates over PARTITION columns stay
  *    exact even under deletion vectors — live rows = `stats.rows −
  *    dv.rows` and partition values are both manifest metadata — and
  *    under active column mapping, so they also serve the
  *    merge-on-read fallback relation. `min(fecha)`/`max(fecha)` on a
  *    date-PARTITIONED fact — THE watermark probe of every
  *    incremental DAG — answers from partition values, live-weighted.
  *
  * The aggregate folds driver-side from O(#files) manifest entries;
  * the whole Aggregate subtree is replaced by a one-row
  * [[LocalRelation]], so the final plan touches no files at all.
  */
case class MetadataAggRewrite(session: SparkSession) extends Rule[LogicalPlan] {
  import MetadataAggRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case agg @ Aggregate(groups, aggExprs, child, _) if aggExprs.nonEmpty =>
      val rewritten =
        for {
          rel <- unwrap(child)
          m <- SnapshotSource.pinnedScan(rel.relation).map(_._2)
          // grouping (if any) must be bare partition-column attributes:
          // partition values are manifest metadata, so the groups — and
          // per-group folds — stay exact
          gAttrs <- groups.foldLeft(Option(Vector.empty[AttributeReference])) {
            case (acc, a: AttributeReference) if m.partitionCols.contains(a.name) =>
              acc.map(_ :+ a)
            case _ => None
          }
          groupCols = gAttrs.map(_.name).distinct
          groupIdx = gAttrs.map(a => a.exprId -> groupCols.indexOf(a.name)).toMap
          cells <- classifyAll(aggExprs, groupIdx)
          local <- answer(agg.output, cells, groupCols, m)
        } yield local
      rewritten.getOrElse(agg)
  }

  /** The bare relation, looking through column-pruning Projects only
    * (attribute-only project lists — anything computed, and the
    * aggregate is no longer over the raw table).
    */
  @annotation.tailrec
  private def unwrap(p: LogicalPlan): Option[LogicalRelation] = p match {
    case l: LogicalRelation if !l.isStreaming => Some(l)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => unwrap(c)
    case _ => None
  }

  private def classifyAll(es: Seq[NamedExpression],
                          groupIdx: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int]): Option[Seq[Cell]] = {
    val cells = es.map {
      case Alias(child, _) => classifyExpr(child, groupIdx)
      case ne => classifyExpr(ne, groupIdx)
    }
    if (cells.forall(_.isDefined)) Some(cells.flatten) else None
  }

  private def classifyExpr(e: Expression,
                           groupIdx: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int]): Option[Cell] = e match {
    case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
      ae.aggregateFunction match {
        // count(*) / count(1): every argument a non-null constant
        case Count(es) if es.nonEmpty && es.forall(x =>
            x.foldable && x.eval(InternalRow.empty) != null) => Some(RowCount)
        case Count(Seq(a: AttributeReference)) => Some(NonNullCount(a.name))
        case Min(a: AttributeReference) => Some(MinOf(a.name, a.dataType))
        case Max(a: AttributeReference) => Some(MaxOf(a.name, a.dataType))
        case _ => None
      }
    // a projected grouping column (only partition attrs reach here)
    case a: AttributeReference if groupIdx.contains(a.exprId) =>
      Some(GroupRef(groupIdx(a.exprId), a.dataType))
    // `CAST(max(c) AS date)` etc — ubiquitous in ported SQL; the cast
    // folds over the computed value at rewrite time
    case c: Cast => classifyExpr(c.child, groupIdx).map(CastCell(_, c))
    case l: Literal => Some(Passthrough(l.value))
    case _ => None
  }

  /** Hard cap on rewritten group counts: a grouped fold materializes
    * one LocalRelation row per partition group, and an over-partitioned
    * table could otherwise inline an enormous literal relation into
    * the plan. Past the cap the plan stays a real scan.
    */
  private def maxGroups: Int =
    session.conf.getOption("spark.graft.metaAgg.maxGroups").map(_.toInt).getOrElse(10000)

  private def answer(output: Seq[Attribute], cells: Seq[Cell],
                     groupCols: Seq[String],
                     m: Snapshot.Manifest): Option[LogicalPlan] = {
    // every live file must carry stats — an imported file without a
    // recorded row count makes even count(*) unanswerable
    if (!m.files.forall(m.stats.contains)) return None
    def colsOf(cell: Cell): Seq[String] = cell match {
      case NonNullCount(c) => Seq(c)
      case MinOf(c, _) => Seq(c)
      case MaxOf(c, _) => Seq(c)
      case CastCell(inner, _) => colsOf(inner)
      case _ => Nil
    }
    val cols = cells.flatMap(colsOf).distinct
    val dataCols = cols.filterNot(m.partitionCols.contains)
    if (cols.isEmpty && groupCols.isEmpty) {
      // global count(*): no job at all — rows and vector sizes are
      // already in memory
      val n = m.files.iterator
        .map(f => m.stats(f).rows - m.dvs.get(f).map(_.rows).getOrElse(0L)).sum
      build(output, cells, Seq(Left(n)))
    } else {
      // data-column bounds are not exact under deletion vectors (a
      // deleted row may carry a file's min/max/null-count); partition
      // values and live counts are
      if (dataCols.nonEmpty) {
        val live = m.files.toSet
        if (m.dvs.keysIterator.exists(live)) return None
      }
      if (groupCols.nonEmpty) {
        val tuples = m.files.map(f =>
          groupCols.map(Snapshot.partitionValues(m.partitionCols, f).get)).distinct
        if (tuples.size > maxGroups) return None
      }
      try {
        val rows = SnapshotStats.metadataAggBy(session, m, cols, groupCols).collect()
        build(output, cells, rows.toSeq.map(Right(_)))
      } catch {
        // unusable / truncated / undecodable stats: the engine refused
        // — fall back to the real scan (never wrong-but-fast)
        case NonFatal(_) => None
      }
    }
  }

  /** One InternalRow per engine row (or the jobless global count on the
    * Left). A cast evaluates over the already-folded inner value.
    */
  private def build(output: Seq[Attribute], cells: Seq[Cell],
                    rows: Seq[Either[Long, org.apache.spark.sql.Row]]): Option[LogicalPlan] = {
    try {
      def eval(cell: Cell, row: Either[Long, org.apache.spark.sql.Row]): Any = cell match {
        case RowCount => row.fold(identity, r => r.getLong(r.fieldIndex("n")))
        case NonNullCount(c) =>
          row.toOption.map(r => r.getLong(r.fieldIndex(s"cnt_$c"))).get
        case MinOf(c, dt) => row.toOption.map(r =>
          CatalystTypeConverters.createToCatalystConverter(dt)(r.get(r.fieldIndex(s"min_$c")))).get
        case MaxOf(c, dt) => row.toOption.map(r =>
          CatalystTypeConverters.createToCatalystConverter(dt)(r.get(r.fieldIndex(s"max_$c")))).get
        case GroupRef(i, dt) => row.toOption.map(r =>
          CatalystTypeConverters.createToCatalystConverter(dt)(r.get(r.fieldIndex(s"__g_$i")))).get
        case Passthrough(v) => v
        case CastCell(inner, cast) =>
          cast.withNewChildren(Seq(Literal(eval(inner, row), cast.child.dataType)))
            .eval(InternalRow.empty)
      }
      val data = rows.map(r => InternalRow.fromSeq(cells.map(eval(_, r))))
      Some(LocalRelation(output, data, isStreaming = false, None))
    } catch { case NonFatal(_) => None }
  }
}

private object MetadataAggRewrite {
  sealed trait Cell
  case object RowCount extends Cell
  final case class NonNullCount(col: String) extends Cell
  final case class MinOf(col: String, dt: org.apache.spark.sql.types.DataType) extends Cell
  final case class MaxOf(col: String, dt: org.apache.spark.sql.types.DataType) extends Cell
  final case class Passthrough(value: Any) extends Cell
  final case class CastCell(inner: Cell, cast: Cast) extends Cell
  final case class GroupRef(idx: Int, dt: org.apache.spark.sql.types.DataType) extends Cell
}
