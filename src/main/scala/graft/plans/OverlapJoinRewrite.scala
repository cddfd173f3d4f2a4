package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.unsafe.types.CalendarInterval

/** Catalyst optimizer rule: rewrite a pure interval-overlap join
  * (`s < p_end AND e >= p_start`, no equi-conjunct) into the bucketed
  * equi-join of operators.OverlapJoin.bucketedOverlap — automatically,
  * when BOTH sides are too large to broadcast.
  *
  * Without this rule Catalyst's only plan for the overlap condition is a
  * nested-loop join: fine when one side is dimension-sized (broadcast
  * BNLJ — the rule deliberately leaves that case alone), catastrophic
  * O(|fact| × |periods|) when both sides are big. The rewrite explodes
  * each side onto day-grain buckets, joins on the bucket equi-key (so
  * Catalyst picks SMJ/SHJ with a real shuffle key), keeps the original
  * predicate as a residual, and dedups by construction — a pair is
  * emitted only in the bucket containing the overlap's start
  * (SURVEY.md §4.3; reference sites consumo_bloques_hora.py:140,
  * indicadores_cia.py:163-165).
  *
  * Fires only on: Inner join, condition = overlap conjuncts (plus
  * optional extra residuals), both interval bounds TimestampType
  * attributes, no cross-side equality conjunct, and both sides above
  * the autoBroadcastJoinThreshold by plan statistics.
  */
case class OverlapJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private val grain = "day"
  private val step = new CalendarInterval(0, 1, 0L)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _) if j.resolved =>
      tryRewrite(j, left, right, cond).getOrElse(j)
  }

  private def tsAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute if a.dataType == TimestampType => Some(a)
    case _ => None
  }

  private def tryRewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                         cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)

    // an existing cross-side equality already gives Catalyst a shuffle
    // key — nothing to fix
    val hasEqui = conjuncts.exists {
      case EqualTo(l, r) =>
        (l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
          (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet))
      case _ => false
    }
    if (hasEqui) return None

    // s < pe (left start before right end), possibly written mirrored
    val lt = conjuncts.collectFirst {
      case c @ LessThan(l, r) if tsAttr(l).exists(left.outputSet.contains) &&
        tsAttr(r).exists(right.outputSet.contains) => (c: Expression, tsAttr(l).get, tsAttr(r).get)
      case c @ GreaterThan(r, l) if tsAttr(l).exists(left.outputSet.contains) &&
        tsAttr(r).exists(right.outputSet.contains) => (c: Expression, tsAttr(l).get, tsAttr(r).get)
    }
    // e >= ps (left end at/after right start), possibly mirrored
    val ge = conjuncts.collectFirst {
      case c @ GreaterThanOrEqual(l, r) if tsAttr(l).exists(left.outputSet.contains) &&
        tsAttr(r).exists(right.outputSet.contains) => (c: Expression, tsAttr(l).get, tsAttr(r).get)
      case c @ LessThanOrEqual(r, l) if tsAttr(l).exists(left.outputSet.contains) &&
        tsAttr(r).exists(right.outputSet.contains) => (c: Expression, tsAttr(l).get, tsAttr(r).get)
    }
    (lt, ge) match {
      case (Some((_, s, pe)), Some((_, e, ps))) if s != e || ps != pe =>
        // leave broadcast-able cases to BNLJ — it streams the fact side
        // once and is optimal there
        val threshold = SQLConf.get.autoBroadcastJoinThreshold
        if (threshold >= 0 &&
          (left.stats.sizeInBytes <= threshold || right.stats.sizeInBytes <= threshold))
          return None

        val lb = explodeBuckets(left, s, e)
        val rb = explodeBuckets(right, ps, pe)
        val dedup = EqualTo(trunc(Greatest(Seq(s, ps))), lb.output.last)
        val newCond = (EqualTo(lb.output.last, rb.output.last) +: dedup +: conjuncts)
          .reduce(And)
        val joined = Join(lb, rb, Inner, Some(newCond), JoinHint.NONE)
        // restore the original output (drop the bucket columns)
        Some(Project(j.output, joined))
      case _ => None
    }
  }

  // timezone-aware expressions built inside the optimizer must carry an
  // explicit zone or the plan flips back to unresolved
  private def tz: Option[String] = Some(SQLConf.get.sessionLocalTimeZone)

  private def trunc(e: Expression): Expression =
    TruncTimestamp(Literal(grain), e, tz)

  /** child + exploded bucket column over [trunc(lo), trunc(max(lo,hi))]
    * (Greatest guards malformed hi<lo rows from failing sequence();
    * they produce no matches either way).
    */
  private def explodeBuckets(child: LogicalPlan, lo: Attribute, hi: Attribute): LogicalPlan = {
    val seq = Sequence(trunc(lo), trunc(Greatest(Seq(lo, hi))), Some(Literal(step)), tz)
    val gen = Explode(seq)
    val bucket = AttributeReference("__graft_bucket", TimestampType, nullable = true)()
    Generate(gen, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bucket), child = child)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects the
  * overlap-join rewrite and the native graft_* functions into any
  * session (cluster-wide, no code changes in the submitting job): a
  * pure-SQL user gets `SELECT graft_dot(...)` without touching Scala.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import graft.expressions._
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  private def intArg(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  private def fn(name: String)(b: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft.expressions", name),
      (exprs: Seq[Expression]) => b(exprs))

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => OverlapJoinRewrite(session))
    ext.injectOptimizerRule(session => NanosTsPushdown(session))
    ext.injectOptimizerRule(session => FuzzyJoinRewrite(session))
    ext.injectOptimizerRule(session => MetadataAggRewrite(session))
    // GraftCatalog support: DML capture FIRST (it must lift a whole
    // UPDATE/MERGE before the read rewrite touches its target), then
    // the native-scan read rewrite, then the maintenance-verb dialect
    ext.injectResolutionRule(session => GraftDmlCapture(session))
    ext.injectResolutionRule(session => GraftNativeReads(session))
    ext.injectResolutionRule(session => GraftAnalyzeCapture(session))
    ext.injectHintResolutionRule(session => GraftAlterNames(session))
    // MV auto-routing runs POST-HOC: the plan is fully resolved and the
    // native-read swaps are done, so the matcher sees final leaves
    ext.injectPostHocResolutionRule(session => MvAutoRoute(session))
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectFunction(fn("graft_dot")(e => DotProduct(e(0), e(1))))
    ext.injectFunction(fn("graft_simhash32")(e => SimHash32(e(0))))
    ext.injectFunction(fn("graft_minhash_sig")(e => MinhashSig(e(0), intArg(e(1)))))
    ext.injectFunction(fn("graft_shingle_hashes")(e =>
      ShingleHashes(e(0), intArg(e(1)), intArg(e(2)))))
    ext.injectFunction(fn("graft_token_hashes")(e =>
      ShingleHashes(e(0), 1, 8, distinct = false)))
    ext.injectFunction(fn("graft_lsh_bucket")(e => LshBucket(e(0), intArg(e(1)))))
    ext.injectFunction(fn("graft_bottomk")(e => BottomK(e(0), intArg(e(1)))))
    ext.injectFunction(fn("graft_topk_pairs")(e => TopKPairs(e(0), e(1), intArg(e(2)))))
    ext.injectFunction(fn("graft_detln")(e => DetLn(e(0))))
    // the CDC table-valued function, catalog-name-resolved
    ext.injectTableFunction((new FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.plans", "table_changes"),
      (exprs: Seq[Expression]) => GraftCatalogResolve.tableChanges(
        org.apache.spark.sql.SparkSession.active, exprs)))
  }
}
