package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.catalog.GraftTable
import graft.operators.{MatView, Snapshot}
import graft.sources.SnapshotSource

/** MV AUTO-ROUTING: a query whose rollup matches a FRESH materialized
  * view's defining SQL answers from the MV's state instead of
  * re-aggregating the fact table — the warehouse behavior the
  * reference leans on implicitly (BigQuery routes matching rollups
  * onto its materialized views). At 100 TB this is the difference
  * between a metadata-sized scan of the rollup and a full pass over
  * the fact table the MV already paid for.
  *
  * Opt-in per session: `spark.graft.mv.autoRoute` names candidate MV
  * paths (comma-separated), and/or `spark.graft.mv.autoRouteNamespace`
  * names a graft-catalog namespace whose materialized views are ALL
  * candidates (catalog-scoped discovery — one bounded listing, the
  * automatic behavior BigQuery users expect). When several candidates
  * match one query, the smallest state (exact manifest row counts)
  * wins. Unset, the rule is two conf lookups — zero cost to everyone
  * else.
  *
  * Two match tiers, both conservative:
  *
  *  - EXACT: the analyzed query subtree equals the MV's analyzed
  *    defining plan — same inner-join/filter tree over the same source
  *    tables, same grouping, same aggregate expressions, same output
  *    aliases — compared structurally with attribute identity taken by
  *    (SOURCE LEAF lineage, lower-cased name) and all plan-local ids
  *    (attribute exprIds, alias ids, aggregate resultIds) normalized
  *    away. Leaf lineage matters: a join exposing the same column name
  *    on both sides (fact.v, dim.v) must never let a predicate on one
  *    side match a defining predicate on the other. The swap is the
  *    bare MV scan.
  *  - ROLLUP CONTAINMENT ([[routeRollup]]): the query's CHILD tree
  *    equals the defining child tree (same joins, same filters, same
  *    freshness gate) but it groups by a SUBSET of the MV's keys — or,
  *    the TIME-HIERARCHY tier, by DETERMINISTIC scalar expressions of
  *    them (`date_trunc('month', day_key)`, `year(day_key)`, bucket
  *    maps): every fact row of a fine group shares its key values, so
  *    any deterministic function of them is constant per group and
  *    commutes with the rollup exactly — with aggregates derivable
  *    from the MV state — COUNT(*) → SUM(count
  *    column), SUM(e) → SUM(sum column), MIN/MAX(e) → MIN/MAX of the
  *    matching state column, grouping keys passed through (the
  *    standard rollup-compensation rewrite; the MV's COUNT(*) is never
  *    zero per group, so re-summing counts is exact), COUNT(e) →
  *    SUM(matching non-null-count column), and AVG(e) over a DECIMAL
  *    argument → SUM(sum column) / SUM(count column) when the MV
  *    exposes BOTH for the same argument (the routed division replays
  *    Average's own evaluate chain, so parity is bitwise; floating-
  *    point AVG refuses — Spark's own double sum buffer is partition-
  *    order-dependent, so bitwise parity is not even well-defined for
  *    the direct plan). Top-level filter
  *    conjuncts referencing ONLY the MV's bare-column grouping keys
  *    are peeled and re-applied to the MV STATE (every fact row of a
  *    state group shares its key values, so key predicates commute
  *    with the rollup exactly); the residue must still equal the
  *    defining tree. The swap is a compensating Filter+Aggregate OVER
  *    the MV scan — still metadata-sized next to the fact table.
  *    COUNT(DISTINCT f(keys)) over a KEY-PURE argument derives from
  *    the view state alone — the distinct fact values are exactly the
  *    distinct values over the member fine groups — no side table
  *    needed (covers MVs created before the distinct-state tier).
  *    COUNT(DISTINCT x) over a non-key argument derives when the view
  *    co-maintains the matching distinct-state side table
  *    ([[MatView.sidePath]]) and
  *    the side is EXACTLY in sync with the view: the coarse count is
  *    `count_distinct(__v)` over the side's member fine groups —
  *    state-sized, exact (the side holds every live (fine keys, value)
  *    pair), joined back on the coarse keys.
  *    `graft_bottomk(h, k)` over the same hash argument and the same k
  *    as a sketch state column derives as the KMV MERGE of the member
  *    fine groups' sketches — bottomk(∪ bottomk(G_i)) = bottomk(∪ G_i),
  *    so the routed sketch (and any estimator on top) is bitwise the
  *    direct plan's; a mismatched k or hash expression refuses
  *    (truncation at different thresholds does not commute). Anything
  *    else
  *    (multi-argument DISTINCT, FILTER clauses, floating AVG, non-key
  *    predicates not in the defining tree) stays on the fact table —
  *    wrong-but-routed is never an option.
  *
  * Freshness gate, exact by construction: every source LEAF in the
  * query is pinned at one version (snapshot reader isolation); the
  * rewrite fires only when each leaf's pinned version EQUALS the MV's
  * recorded watermark for that source — the MV state then IS the
  * query's answer bitwise, regardless of what committed since. A stale
  * MV (source advanced past the watermark) silently stays unrouted.
  */
case class MvAutoRoute(session: SparkSession) extends Rule[LogicalPlan] {
  import MvAutoRoute._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = session.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty)
    val nsConf = session.conf.getOption(NsConfKey).map(_.trim).filter(_.nonEmpty)
    if ((conf.isEmpty && nsConf.isEmpty) || inRoute.get() || !plan.resolved)
      return plan
    // namespace listing is metadata-sized but not free — skip it (and
    // the explicit-path entry builds) for plans with nothing to route.
    // A node carrying subquery expressions may hide an Aggregate inside
    // them (WHERE x > (SELECT avg(v) …)) — transformUpWithSubqueries
    // covers those, so the early exit must not skip them.
    if (!plan.exists(n => n.isInstanceOf[Aggregate] || n.subqueries.nonEmpty))
      return plan
    val listed = conf.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val discovered = nsConf.toSeq.flatMap(namespaceCandidates)
    val paths = (listed ++ discovered).distinct
    val entries = paths.flatMap(p => entryFor(session, p))
    if (entries.isEmpty) return plan
    plan.transformUpWithSubqueries {
      case agg: Aggregate if agg.resolved =>
        val qLeaves = leafMap(agg)
        // ALL candidates that can answer; on several, the SMALLEST
        // state wins (manifest row counts are exact — the point of the
        // route is reading the least state). Stale or mismatched
        // candidates never reach this list.
        val routed = entries.flatMap { e =>
          val p = if (same(agg, e.defining, e.watermarks, qLeaves, e.leaves))
            replace(e, agg)
          else routeRollup(e, agg, qLeaves)
          p.map(e.stateRows -> _)
        }
        if (routed.isEmpty) agg else routed.minBy(_._1)._2
    }
  }

  /** All FRESH-or-stale materialized views in a graft-catalog
    * namespace (`<catalog>.<ns…>`): one directory listing plus one
    * latest-manifest read per table — metadata-sized. Non-MV tables
    * (including distinct-state side tables) are skipped; staleness is
    * the matcher's job, not discovery's.
    *
    * Cached per namespace with a short TTL, because the analyzer
    * invokes this rule for EVERY aggregate-bearing query (and can fire
    * it more than once in its fixed-point batch) — without the cache a
    * large namespace pays repeated listing + manifest I/O per query.
    * [[MatView.create]] invalidates the cache ([[invalidateDiscovery]])
    * so a freshly created view is discoverable immediately; a dropped
    * view's stale path fails entryFor harmlessly until the TTL expires.
    */
  private def namespaceCandidates(ns: String): Seq[String] = {
    val now = System.nanoTime()
    val hit = discoveryCache.get(ns)
    if (hit != null && now - hit._1 < DiscoveryTtlNanos) return hit._2
    val parts = ns.split('.').map(_.trim).filter(_.nonEmpty).toSeq
    val listed: Seq[String] =
      if (parts.size < 2) Nil
      else {
        val cm = session.sessionState.catalogManager
        if (!cm.isCatalogRegistered(parts.head)) Nil
        else cm.catalog(parts.head) match {
          case g: graft.catalog.GraftCatalog =>
            try g.listTables(parts.tail.toArray).toSeq
              .map(id => g.pathFor(id)).sorted
              .filter(p => Snapshot.latestManifest(session, p).exists(MatView.isMatView))
            catch { case _: Exception => Nil }
          case _ => Nil
        }
      }
    discoveryCache.put(ns, (now, listed))
    listed
  }

  private def qr(path: String): String = Snapshot.qualifiedRoot(session, path)

  private def entryFor(session: SparkSession, mvPath: String): Option[Entry] =
    MatView.routeInfo(session, mvPath).flatMap { case (ver, sqlText, srcs) =>
      cache.computeIfAbsent((qr(mvPath), ver), _ => {
        val resolved = srcs.map { case (parts, wm) =>
          GraftCatalogResolve.pathOf(session, parts).flatMap(p => wm.map(qr(p) -> _))
        }
        if (resolved.exists(_.isEmpty)) None // non-catalog source or no watermark
        else {
          val analyzed =
            try {
              inRoute.set(true)
              PlanBridge.dataFrame(session,
                session.sessionState.sqlParser.parsePlan(sqlText))
                .queryExecution.analyzed
            } catch { case _: Exception => null }
            finally inRoute.set(false)
          if (analyzed == null) None
          else {
            val leaves = leafMap(analyzed)
            // distinct-state side tables backing the defining
            // COUNT(DISTINCT) columns, keyed by normalized argument —
            // only sides EXACTLY in sync with the view qualify (a side
            // ahead of the view across a crash window must not serve)
            val dstate: Map[Expression, (String, Long)] = strip(analyzed) match {
              case ag: Aggregate => ag.aggregateExpressions.flatMap { ne =>
                val (nm, ex) = ne match {
                  case al: Alias => (al.name, al.child)
                  case a => (a.name, a: Expression)
                }
                ex match {
                  case ae: AggregateExpression
                      if ae.isDistinct && ae.filter.isEmpty =>
                    ae.aggregateFunction match {
                      case c: Count if c.children.size == 1 =>
                        MatView.sideRouteInfo(session, mvPath, MatView.sidePath(mvPath, nm))
                          .map(norm(c.children.head, leaves) -> _)
                      case _ => None
                    }
                  case _ => None
                }
              }.toMap
              case _ => Map.empty
            }
            // AVG columns the view auto-expanded into the `<mv>__avgs`
            // side: normalized argument → (side path, side version,
            // state column stem) — only when the side is EXACTLY in
            // sync with the view
            val astate: Map[Expression, (String, Long, String)] =
              strip(analyzed) match {
                case ag: Aggregate =>
                  MatView.sideRouteInfo(session, mvPath, MatView.avgSidePath(mvPath)) match {
                    case Some((sp, sv)) => ag.aggregateExpressions.flatMap { ne =>
                      val (nm, ex) = ne match {
                        case al: Alias => (al.name, al.child)
                        case a => (a.name, a: Expression)
                      }
                      ex match {
                        case ae: AggregateExpression
                            if !ae.isDistinct && ae.filter.isEmpty =>
                          ae.aggregateFunction match {
                            case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average =>
                              Some(norm(a.child, leaves) -> ((sp, sv, nm)))
                            case _ => None
                          }
                        case _ => None
                      }
                    }.toMap
                    case None => Map.empty
                  }
                case _ => Map.empty
              }
            Some(Entry(mvPath, ver, resolved.flatten.toMap, analyzed,
              leaves, stateRowsOf(mvPath, ver), dstate, astate))
          }
        }
      })
    }

  /** The MV's state size in rows from its own manifest file stats —
    * exact and metadata-priced; files without stats push the candidate
    * to the back of the selection order rather than guessing.
    */
  private def stateRowsOf(mvPath: String, ver: Long): Long =
    try {
      val m = Snapshot.manifest(session, mvPath, ver)
      val rows = m.files.map(f => m.stats.get(f).map(_.rows))
      if (rows.isEmpty) 0L
      else if (rows.exists(_.isEmpty)) Long.MaxValue
      else rows.flatten.sum
    } catch { case _: Exception => Long.MaxValue }

  /** (qualified table root, pinned version) when the node is a snapshot
    * scan leaf — both the native relation and the DV/column-mapping
    * fallback, plus the pre-swap v2 form.
    */
  private def leafInfo(p: LogicalPlan): Option[(String, Long)] = p match {
    case l: LogicalRelation =>
      SnapshotSource.pinnedScan(l.relation).map { case (path, m) => (qr(path), m.version) }
    case DataSourceV2Relation(t: GraftTable, _, _, _, _, _) =>
      Some((qr(t.path), t.manifest.version))
    case _ => None
  }

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case other => other
  }

  /** LEAF LINEAGE: every attribute a source relation outputs, mapped
    * to a stable cross-plan identity `<qualified table root>#<k>`
    * where k is the leaf's occurrence index among same-path leaves in
    * pre-order (self-joins keep their sides apart; two structurally
    * matching plans visit corresponding leaves in the same order).
    * Attributes NOT produced by a leaf (mid-tree aliases, subquery
    * projections) are absent — [[norm]] gives them a plan-local
    * identity, so any cross-plan comparison involving one REFUSES.
    */
  private type Leaves = Map[ExprId, String]

  private def leafMap(p: LogicalPlan): Leaves = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val m = scala.collection.mutable.Map.empty[ExprId, String]
    p.foreach { n =>
      leafInfo(n).foreach { case (path, _) =>
        val k = counts.getOrElse(path, 0)
        counts(path) = k + 1
        n.output.foreach(a => m.getOrElseUpdate(a.exprId, s"$path#$k"))
      }
    }
    m.toMap
  }

  /** Expression identity across two independently-analyzed plans over
    * the same tables: attribute references compare by (SOURCE LEAF,
    * lower-cased name) — name alone is not identity when a join
    * exposes the same column name on both sides (a filter on `dim.v`
    * must never match a defining filter on `fact.v`); their exprIds
    * are plan-local and AttributeReference.equals includes them.
    * AggregateExpression resultIds and alias ids/case are normalized
    * away. An attribute with no leaf lineage keeps a plan-local
    * identity (its exprId), which can never equal the other plan's —
    * ambiguity refuses the route.
    */
  private def norm(e: Expression, lv: Leaves): Expression = e.transformUp {
    case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq(lv.getOrElse(ar.exprId, s"?${ar.exprId.id}@${ar.exprId.jvmId}"),
          ar.name.toLowerCase))
    case ae: AggregateExpression => ae.copy(resultId = ExprId(0))
    case al: Alias => Alias(al.child, al.name.toLowerCase)(exprId = ExprId(0))
  }

  private def same(a0: LogicalPlan, b0: LogicalPlan, wm: Map[String, Long],
                   la: Leaves, lb: Leaves): Boolean = {
    val (a, b) = (strip(a0), strip(b0))
    (leafInfo(a), leafInfo(b)) match {
      case (Some((pa, va)), Some((pb, _))) =>
        // the freshness gate: the QUERY's pinned version must equal the
        // MV's watermark — then the MV state is the answer bitwise
        pa == pb && wm.get(pa).contains(va)
      case (None, None) => (a, b) match {
        case (Filter(c1, x), Filter(c2, y)) =>
          norm(c1, la) == norm(c2, lb) && same(x, y, wm, la, lb)
        case (Join(l1, r1, t1, c1, _), Join(l2, r2, t2, c2, _)) =>
          t1 == t2 && c1.map(norm(_, la)) == c2.map(norm(_, lb)) &&
            same(l1, l2, wm, la, lb) && same(r1, r2, wm, la, lb)
        case (Aggregate(g1, a1, x, _), Aggregate(g2, a2, y, _)) =>
          g1.map(norm(_, la)) == g2.map(norm(_, lb)) &&
            a1.map(norm(_, la)) == a2.map(norm(_, lb)) &&
            same(x, y, wm, la, lb)
        case (Project(p1, x), Project(p2, y)) =>
          p1.map(norm(_, la)) == p2.map(norm(_, lb)) && same(x, y, wm, la, lb)
        case _ => false
      }
      case _ => false
    }
  }

  /** ROLLUP-CONTAINMENT tier: `agg` groups by a subset of the MV's
    * keys over the SAME child tree (joins+filters+freshness all equal
    * via [[same]]) and every output is derivable from the MV state —
    * swap in a compensating Aggregate over the MV scan. Returns None
    * whenever any output is not provably derivable.
    */
  private def routeRollup(e: Entry, agg: Aggregate,
                          qLeaves: Leaves): Option[LogicalPlan] = {
    val defn = strip(e.defining) match {
      case d: Aggregate => d
      case _ => return None
    }
    // cross-plan expression identity: query-side attrs carry the query
    // plan's leaf lineage, defining-side attrs the entry's — names
    // collide across join sides, leaves do not
    def normQ(x: Expression): Expression = norm(x, qLeaves)
    def normD(x: Expression): Expression = norm(x, e.leaves)
    // classify the MV state columns: key columns by normalized
    // grouping expression; SUM/MIN/MAX columns by normalized argument;
    // the COUNT(*) column
    val gmNorm = defn.groupingExpressions.map(normD)
    var keyCol = Map.empty[Expression, String]
    var sumCol = Map.empty[Expression, String]
    var minCol = Map.empty[Expression, String]
    var maxCol = Map.empty[Expression, String]
    var cntColOf = Map.empty[Expression, String] // COUNT(x): non-null count
    var cntCol = Option.empty[String]
    // graft_bottomk(h, k) KMV sketch state, by (normalized hash arg, k)
    var kmvCol = Map.empty[(Expression, Int), String]
    def isCountStar(c: Count): Boolean = c.children match {
      case Seq(Literal(v, _)) => v != null
      case _ => false
    }
    defn.aggregateExpressions.foreach { ne =>
      val (nm, ex) = ne match {
        case al: Alias => (al.name, al.child)
        case a => (a.name, a: Expression)
      }
      ex match {
        case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
          ae.aggregateFunction match {
            case c: Count if isCountStar(c) => cntCol = cntCol.orElse(Some(nm))
            case c: Count if c.children.size == 1 =>
              cntColOf += normD(c.children.head) -> nm
            case s: Sum => sumCol += normD(s.child) -> nm
            case m: Min => minCol += normD(m.child) -> nm
            case m: Max => maxCol += normD(m.child) -> nm
            case b: graft.expressions.BottomK =>
              kmvCol += (normD(b.child), b.k) -> nm
            case _ => // unusable state column; queries needing it refuse
          }
        case other if gmNorm.contains(normD(other)) =>
          keyCol += normD(other) -> nm
        case _ =>
      }
    }
    // every query grouping expression must be DERIVABLE from the MV's
    // exposed key columns: a bare key (state column passthrough) or —
    // the TIME-HIERARCHY tier — a deterministic scalar expression
    // whose every key-subtree maps to a state column (GROUP BY
    // date_trunc('month', day_key) over a day-keyed MV, the
    // reference's hora → diario → mensual rollup family,
    // consumo_usuarios.py:278-291). Exact by the same argument as the
    // key-predicate peel: every fact row of a fine group shares its
    // key values, so ANY deterministic function of them is constant
    // per group and commutes with the rollup. Expressions referencing
    // a non-key attribute, nondeterministic ones, and subqueries
    // refuse.
    val gqNorm = agg.groupingExpressions.map(normQ)
    def translateKey(g: Expression): Option[Expression] = {
      if (!g.deterministic || g.containsPattern(
          org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION))
        return None
      import org.apache.spark.sql.catalyst.expressions.{TruncDate, TruncTimestamp}
      import org.apache.spark.sql.types.StringType
      val t = g.transformDown {
        case x if keyCol.contains(normQ(x)) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(keyCol(normQ(x))))
        // GRAIN NESTING: date_trunc('month', ts) over an MV keyed by
        // date_trunc('day', ts) rewrites to date_trunc('month',
        // day_key) — truncating an already-truncated value to a
        // COARSER nesting grain is the identity composition
        // (month∘day = month). ISO weeks only nest over sub-day
        // grains, and nothing coarser nests over week (a week spans
        // month/year boundaries).
        case x @ TruncTimestamp(Literal(fg, StringType), childE, tz) =>
          keyCol.collectFirst {
            case (TruncTimestamp(Literal(fk, StringType), kc, _), nm)
                if kc == normQ(childE) && grainNests(fg.toString, fk.toString) =>
              TruncTimestamp(Literal.create(fg.toString, StringType),
                org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(nm)),
                tz): Expression
          }.getOrElse(x)
        case x @ TruncDate(childE, Literal(fg, StringType)) =>
          keyCol.collectFirst {
            case (TruncDate(kc, Literal(fk, StringType)), nm)
                if kc == normQ(childE) && grainNests(fg.toString, fk.toString) =>
              TruncDate(
                org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(nm)),
                Literal.create(fg.toString, StringType)): Expression
          }.getOrElse(x)
        // FIELD EXTRACTION over a truncation key: year(ts) is exact
        // over a date_trunc('day', ts) key because day-truncation
        // preserves the year (generally: extract E survives a trunc
        // to grain g iff g preserves E's field — see extractSurvives;
        // ISO weeks break every date field except weekofyear). The
        // analyzer wraps timestamp extracts in a Cast-to-date, so the
        // match looks through it; re-analysis of the rebuilt tree
        // re-applies the coercion over the key column.
        case x: Expression if x.children.size == 1 &&
            extractFieldOf(x).isDefined =>
          val inner = x.children.head match {
            case Cast(c, org.apache.spark.sql.types.DateType, _, _) => c
            case other => other
          }
          keyCol.collectFirst {
            case (TruncTimestamp(Literal(fk, StringType), kc, _), nm)
                if kc == normQ(inner) &&
                  extractSurvives(extractFieldOf(x).get, fk.toString) =>
              x.withNewChildren(Seq(
                org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(nm))))
            case (TruncDate(kc, Literal(fk, StringType)), nm)
                if kc == normQ(inner) &&
                  extractSurvives(extractFieldOf(x).get, fk.toString) =>
              x.withNewChildren(Seq(
                org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(nm))))
          }.getOrElse(x)
      }
      if (t.exists(x =>
        x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference] ||
        x.isInstanceOf[AggregateExpression])) None
      else Some(t)
    }
    val gTrans: Seq[Expression] =
      agg.groupingExpressions.map(g => translateKey(g).getOrElse(return None))
    // KEY-PREDICATE COMPENSATION: conjuncts of the query's top filter
    // that are themselves key-derivable expressions (bare keys,
    // expressions of keys, nested grains) peel off and re-apply to the
    // MV STATE instead — every fact row of a state group shares its
    // key values, so any deterministic function of them commutes with
    // the rollup exactly. The residue must still equal the defining
    // child tree.
    val (peelPred, childQ): (Option[Column], LogicalPlan) =
      strip(agg.child) match {
        case Filter(cond, rest) =>
          import org.apache.spark.sql.catalyst.expressions.And
          def conjuncts(x: Expression): Seq[Expression] = x match {
            case And(l, r) => conjuncts(l) ++ conjuncts(r)
            case other => Seq(other)
          }
          val conjs = conjuncts(cond)
          val (peel, residue) = conjs.partition(c =>
            c.references.nonEmpty && translateKey(c).isDefined)
          if (peel.isEmpty) (None, agg.child)
          else (Some(peel
            .map(c => org.apache.spark.sql.graftbridge.ColumnBridge.column(
              translateKey(c).get))
            .reduce(_ && _)),
            residue.reduceOption(And).map(r => Filter(r, rest): LogicalPlan)
              .getOrElse(rest))
        case _ => (None, agg.child)
      }
    if (!same(childQ, defn.child, e.watermarks, qLeaves, e.leaves)) return None
    // the routed grouping columns carry synthesized names (`__gk_<i>`,
    // one per query grouping expression) — expression keys have no
    // state-column name of their own, and the reserved prefix can
    // never collide with MV state columns
    val gkCols: Seq[Column] = gTrans.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.graftbridge.ColumnBridge.column(t).as(s"__gk_$i")
    }
    val gkNames = gTrans.indices.map(i => s"__gk_$i")
    // Average's evaluate chain replayed over re-summed state: exact
    // decimal buffers (the same Divide + cast) for decimal args, exact
    // long sums → one double division for integral args; floating args
    // refuse on principle. The when-guard returns NULL for an all-null
    // coarse group instead of an ANSI divide-by-zero.
    def avgChain(a: Average, sumC: Column, cntC: Column): Option[Column] = {
      val cnt = F.sum(cntC)
      a.child.dataType match {
        case dt: org.apache.spark.sql.types.DecimalType =>
          val sumT = org.apache.spark.sql.types.DecimalType(
            math.min(dt.precision + 10,
              org.apache.spark.sql.types.DecimalType.MAX_PRECISION), dt.scale)
          Some(F.when(cnt > 0, F.sum(sumC).cast(sumT) /
            cnt.cast(org.apache.spark.sql.types.DecimalType(20, 0))))
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType =>
          Some(F.when(cnt > 0, F.sum(sumC).cast("double") / cnt.cast("double")))
        case _ => None
      }
    }
    // each query output: an expression of the query's own grouping
    // expressions (passthrough over the routed grouping columns), a
    // re-aggregate over the MV state, or a COUNT(DISTINCT) derived
    // from key state / the distinct-state side table (still
    // state-sized — the whole point)
    val outs: Seq[Out] =
      agg.aggregateExpressions.map { ne =>
        val ex = ne match { case al: Alias => al.child; case a => a: Expression }
        ex match {
          case ae: AggregateExpression if ae.filter.isEmpty && ae.isDistinct =>
            ae.aggregateFunction match {
              // COUNT(DISTINCT f(keys)) where the argument is key-pure:
              // the distinct values over the facts are exactly the
              // distinct values over the member fine groups (f of the
              // key is constant per group) — derivable from the view
              // state ALONE, no side table needed (covers MVs created
              // before the distinct-state tier existed). count_distinct
              // skips NULL state values exactly as the direct plan
              // skips NULL fact values.
              case c: Count if c.children.size == 1 &&
                  translateKey(c.children.head).isDefined =>
                AggOut(F.count_distinct(
                  org.apache.spark.sql.graftbridge.ColumnBridge.column(
                    translateKey(c.children.head).get)))
              // COUNT(DISTINCT x) over a non-key argument = number of
              // distinct __v values across the member fine groups in
              // the side table — exact, because the side holds EVERY
              // live (fine keys, value) pair; the key-predicate peel
              // applies unchanged (side rows carry all key columns)
              case c: Count if c.children.size == 1 &&
                  e.dstate.contains(normQ(c.children.head)) =>
                val (p, v) = e.dstate(normQ(c.children.head))
                DOut(p, v)
              case _ => return None
            }
          case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
            ae.aggregateFunction match {
              // COALESCE covers the global-rollup-over-empty-MV edge
              // (COUNT over zero rows is 0, SUM over zero rows is null)
              case c: Count if isCountStar(c) && cntCol.isDefined =>
                AggOut(F.coalesce(F.sum(F.col(cntCol.get)), F.lit(0L)))
              case c: Count if c.children.size == 1 &&
                  cntColOf.contains(normQ(c.children.head)) =>
                AggOut(F.coalesce(
                  F.sum(F.col(cntColOf(normQ(c.children.head)))), F.lit(0L)))
              // ...or from the avg side's non-null-count state
              case c: Count if c.children.size == 1 &&
                  e.astate.contains(normQ(c.children.head)) =>
                val (p, v, stem) = e.astate(normQ(c.children.head))
                AOut(p, v, F.coalesce(F.sum(F.col(s"__c_$stem")), F.lit(0L)))
              case s: Sum if sumCol.contains(normQ(s.child)) =>
                AggOut(F.sum(F.col(sumCol(normQ(s.child)))))
              // ...or from the avg side's sum state when the view
              // declares only AVG of the same argument
              case s: Sum if e.astate.contains(normQ(s.child)) =>
                val (p, v, stem) = e.astate(normQ(s.child))
                AOut(p, v, F.sum(F.col(s"__s_$stem")))
              case m: Min if minCol.contains(normQ(m.child)) =>
                AggOut(F.min(F.col(minCol(normQ(m.child)))))
              case m: Max if maxCol.contains(normQ(m.child)) =>
                AggOut(F.max(F.col(maxCol(normQ(m.child)))))
              // graft_bottomk(h, k) over the SAME hash argument and the
              // SAME k as a sketch state column: the coarse sketch is
              // the KMV merge of the member fine groups' sketches —
              // bottomk(∪ bottomk(G_i)) = bottomk(∪ G_i), the classic
              // merge identity, so the routed sketch (and any estimate
              // derived from it) is BITWISE the direct plan's. A
              // different k or hash expression refuses: k-truncation
              // does not commute across mismatched thresholds.
              case b: graft.expressions.BottomK
                  if kmvCol.contains((normQ(b.child), b.k)) =>
                // the transform(coalesce) wrapper only re-pins element
                // non-nullability (manifest DDL loses containsNull=false
                // on the state column; sketch elements are never null) —
                // without it the final bind-cast to the query's exact
                // array type is rejected
                AggOut(F.transform(
                  F.slice(F.array_sort(F.array_distinct(F.flatten(
                    F.collect_list(F.col(kmvCol((normQ(b.child), b.k))))))),
                    1, b.k),
                  x => F.coalesce(x, F.lit(0L))))
              // AVG(x) = SUM(sum state) / SUM(non-null-count state) —
              // exact when the sums are DECIMAL (the routed division
              // replays Average's own evaluate chain bitwise: exact
              // decimal sum buffers, then the same Divide + final cast
              // the binding Project applies) or INTEGRAL (exact long
              // sums, one double division). Floating-point AVG
              // REFUSES: Spark's own double sum buffer is partition-
              // order-dependent, so bitwise parity between the routed
              // reassociation and the direct plan cannot be guaranteed.
              case a: Average if sumCol.contains(normQ(a.child)) &&
                  cntColOf.contains(normQ(a.child)) =>
                avgChain(a, F.col(sumCol(normQ(a.child))),
                  F.col(cntColOf(normQ(a.child)))) match {
                  case Some(c) => AggOut(c)
                  case None => return None
                }
              // ...or from the `<mv>__avgs` side state the view
              // auto-expanded its own AVG column into (the view
              // exposes only the avg; the sums live in the side)
              case a: Average if e.astate.contains(normQ(a.child)) =>
                val (p, v, stem) = e.astate(normQ(a.child))
                avgChain(a, F.col(s"__s_$stem"), F.col(s"__c_$stem")) match {
                  case Some(c) => AOut(p, v, c)
                  case None => return None
                }
              case _ => return None
            }
          case other if other.deterministic && !other.containsPattern(
              org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION) =>
            // non-aggregate output: analysis guarantees it is an
            // expression of the query's grouping expressions — rewrite
            // each grouping subtree to its routed `__gk_<i>` column;
            // any leftover attribute or aggregate refuses
            val t = other.transformDown {
              case x if gqNorm.contains(normQ(x)) =>
                org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
                  Seq(s"__gk_${gqNorm.indexOf(normQ(x))}"))
            }
            if (t.exists(x =>
              x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference] ||
              x.isInstanceOf[AggregateExpression])) return None
            ExprOut(org.apache.spark.sql.graftbridge.ColumnBridge.column(t))
          case _ => return None
        }
      }
    val aggCols = outs.zipWithIndex.collect { case (AggOut(c), i) => c.as(s"__r_$i") }
    // outputs re-aggregated from a SIDE table (distinct-state /
    // avg-state): (path, pinned version, the per-coarse-group
    // aggregate, the default for groups with no side rows)
    val sOuts = outs.zipWithIndex.collect {
      case (DOut(p, v), i) =>
        (p, v, F.count_distinct(F.col("__v")), Some(F.lit(0L)), i)
      case (AOut(p, v, c), i) => (p, v, c, None, i)
    }
    if (aggCols.isEmpty && sOuts.isEmpty) return None // bare keys: not worth it
    // the peeled predicate is already translated onto state columns
    val statePred: Option[Column] = peelPred
    val routedPlan =
      try {
        inRoute.set(true)
        val mvDf0 = session.read.format("graft.sources.SnapshotSource").load(e.mvPath)
        // the MV must still be at the version the entry described
        if (!leafInfo(strip(mvDf0.queryExecution.analyzed)).exists(_._2 == e.mvVersion))
          return None
        val mvDf = statePred.map(mvDf0.where).getOrElse(mvDf0)
        // the base grouped MV state carries the routed grouping
        // columns and the additive re-aggregates; with none, a
        // placeholder keeps one row per group (dropped by the final
        // select)
        val baseAggs =
          if (aggCols.nonEmpty) aggCols else Seq(F.count(F.lit(1)).as("__r_base"))
        val grouped =
          if (gkCols.isEmpty) mvDf.groupBy().agg(baseAggs.head, baseAggs.tail: _*)
          else mvDf.groupBy(gkCols: _*).agg(baseAggs.head, baseAggs.tail: _*)
        // each side-backed output re-aggregates from ITS side table
        // (pinned at the entry's recorded version — a moved side
        // refuses), left-joined back on the coarse keys. A distinct
        // count defaults to 0 for groups whose values are all null (no
        // side rows); an avg side always covers every live group.
        val withD = sOuts.foldLeft(grouped) { case (acc, (p, v, aggC, dflt, i)) =>
          val sDf0 = session.read.format("graft.sources.SnapshotSource").load(p)
          if (!leafInfo(strip(sDf0.queryExecution.analyzed)).exists(_._2 == v))
            return None
          val sDf = statePred.map(sDf0.where).getOrElse(sDf0)
          if (gkCols.isEmpty)
            acc.crossJoin(sDf.groupBy().agg(aggC.as(s"__r_$i")))
          else {
            // the side carries the same fine-key state columns, so the
            // SAME routed grouping expressions apply to it
            val sAgg = sDf.groupBy(gkCols: _*).agg(aggC.as(s"__r_$i"))
            val a = acc.alias("__a")
            val b = sAgg.alias(s"__s$i")
            val on = gkNames.map(k => F.col(s"__a.$k") <=> F.col(s"__s$i.$k"))
              .reduce(_ && _)
            a.join(b, on, "left").select(
              acc.columns.map(c => F.col(s"__a.$c")) :+
                dflt.map(d => F.coalesce(F.col(s"__s$i.__r_$i"), d))
                  .getOrElse(F.col(s"__s$i.__r_$i")).as(s"__r_$i"): _*)
          }
        }
        withD.select(outs.zipWithIndex.map {
          case (ExprOut(c), i) => c.as(s"__o_$i")
          case (_, i) => F.col(s"__r_$i")
        }: _*).queryExecution.analyzed
      } catch { case _: Exception => return None }
      finally inRoute.set(false)
    if (routedPlan.output.size != agg.output.size) return None
    // bind to the replaced Aggregate's names/types/exprIds — the swap
    // is invisible to everything above (SUM-of-sums may widen, e.g.
    // decimal precision: cast back to the query's exact type)
    Some(Project(agg.output.zip(routedPlan.output).map { case (o, m) =>
      val value = if (m.dataType == o.dataType) m
        else Cast(m, o.dataType, Option(session.sessionState.conf.sessionLocalTimeZone))
      Alias(value, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, routedPlan))
  }

  /** The MV scan, re-labeled to the replaced Aggregate's output
    * attribute ids so the swap is invisible to everything above.
    */
  private def replace(e: Entry, agg: Aggregate): Option[LogicalPlan] = {
    val mvPlan =
      try {
        inRoute.set(true)
        session.read.format("graft.sources.SnapshotSource").load(e.mvPath)
          .queryExecution.analyzed
      } catch { case _: Exception => return None }
      finally inRoute.set(false)
    // the MV must still be at the version the entry described
    if (!leafInfo(strip(mvPlan)).exists(_._2 == e.mvVersion)) return None
    if (mvPlan.output.size != agg.output.size) return None
    val aligned = agg.output.zip(mvPlan.output).forall { case (o, m) =>
      o.name.equalsIgnoreCase(m.name) && o.dataType == m.dataType }
    if (!aligned) return None
    Some(Project(agg.output.zip(mvPlan.output).map { case (o, m) =>
      Alias(m, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, mvPlan))
  }
}

object MvAutoRoute {
  val ConfKey = "spark.graft.mv.autoRoute"

  /** Catalog-scoped discovery: `spark.graft.mv.autoRouteNamespace =
    * <catalog>.<namespace>` considers EVERY materialized view in that
    * namespace a route candidate (one bounded directory listing), the
    * BigQuery-shaped behavior — no hand-listed paths. Composes with
    * [[ConfKey]]; on several matching candidates the smallest state
    * (by manifest row counts) is scanned.
    */
  val NsConfKey = "spark.graft.mv.autoRouteNamespace"

  /** Re-entrancy guard: analyzing the defining SQL (or the MV scan)
    * inside the rule runs the analyzer, which runs this rule.
    */
  private[plans] val inRoute = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Truncation-grain nesting order for the grain rewrite:
    * `trunc(coarse, trunc(fine, ts)) == trunc(coarse, ts)` holds
    * exactly when the coarse grain nests over the fine one. ISO weeks
    * nest only over sub-day grains, and nothing coarser nests over
    * week (a week spans month and year boundaries).
    */
  private def grainRank(s: String): Option[Int] = s match {
    case "microsecond" => Some(-2)
    case "millisecond" => Some(-1)
    case "second" => Some(0)
    case "minute" => Some(1)
    case "hour" => Some(2)
    case "day" | "dd" => Some(3)
    case "month" | "mon" | "mm" => Some(4)
    case "quarter" => Some(5)
    case "year" | "yyyy" | "yy" => Some(6)
    case _ => None
  }

  /** The date/time field an extraction expression reads, or None for
    * non-extraction nodes.
    */
  private def extractFieldOf(x: Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    x match {
      case _: Year => Some("year")
      case _: Quarter => Some("quarter")
      case _: Month => Some("month")
      case _: DayOfMonth => Some("dayofmonth")
      case _: DayOfWeek => Some("dayofweek")
      case _: WeekDay => Some("weekday")
      case _: DayOfYear => Some("dayofyear")
      case _: WeekOfYear => Some("weekofyear")
      case _: Hour => Some("hour")
      case _: Minute => Some("minute")
      case _: Second => Some("second")
      case _ => None
    }
  }

  /** Does truncating to grain `k` preserve extraction field `f`?
    * year/quarter/month survive any trunc at-or-above their own
    * boundary chain; day fields need day-or-finer; time fields need
    * their own grain or finer. ISO week-truncation moves the date
    * across month/year bounds, so ONLY weekofyear survives it.
    */
  private def extractSurvives(f: String, k0: String): Boolean = {
    val k = k0.toLowerCase
    if (k == "week") f == "weekofyear"
    else grainRank(k) match {
      case None => false
      case Some(rk) => f match {
        case "year" => rk <= 6
        case "quarter" => rk <= 5
        case "month" => rk <= 4
        case "dayofmonth" | "dayofweek" | "weekday" | "dayofyear" |
             "weekofyear" => rk <= 3
        case "hour" => rk <= 2
        case "minute" => rk <= 1
        case "second" => rk <= 0
        case _ => false
      }
    }
  }

  private def grainNests(g0: String, k0: String): Boolean = {
    val (g, k) = (g0.toLowerCase, k0.toLowerCase)
    if (g == "week") grainRank(k).exists(_ <= 3)
    else if (k == "week") false
    else (for (rg <- grainRank(g); rk <- grainRank(k)) yield rg >= rk)
      .getOrElse(false)
  }

  /** One routed output of the containment tier. */
  private sealed trait Out
  /** An expression of the query's grouping expressions, rewritten over
    * the routed `__gk_<i>` grouping columns.
    */
  private final case class ExprOut(c: Column) extends Out
  /** A re-aggregate over the MV state. */
  private final case class AggOut(c: Column) extends Out
  /** A COUNT(DISTINCT) re-counted from a distinct-state side table
    * (pinned at the recorded version).
    */
  private final case class DOut(path: String, version: Long) extends Out
  /** An AVG re-derived from the `<mv>__avgs` side state (pinned at
    * the recorded version): the ready-made SUM/SUM replay chain.
    */
  private final case class AOut(path: String, version: Long,
                                agg: Column) extends Out

  private final case class Entry(mvPath: String, mvVersion: Long,
                                 watermarks: Map[String, Long],
                                 defining: LogicalPlan,
                                 leaves: Map[ExprId, String],
                                 stateRows: Long,
                                 dstate: Map[Expression, (String, Long)],
                                 astate: Map[Expression, (String, Long, String)])

  /** Entries keyed by (qualified MV root, MV version): a REFRESH bumps
    * the version and naturally invalidates; stale keys are harmless
    * (bounded by refresh count, metadata-sized).
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[Entry]]()

  /** Namespace discovery cache: ns → (stamp, MV paths). Refreshing a
    * listed view does not change the path set, so only CREATE needs to
    * invalidate; the TTL backstops everything else (drops, out-of-
    * session creates).
    */
  private val DiscoveryTtlNanos = 30L * 1000 * 1000 * 1000
  private val discoveryCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[String])]()

  /** Called by [[graft.operators.MatView.create]]: a new view must be
    * discoverable by the very next query.
    */
  private[graft] def invalidateDiscovery(): Unit = discoveryCache.clear()
}
