package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{ResolvedTable, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Cast, EqualTo, Exists, Expression, InSubquery, LambdaFunction, ListQuery, OuterReference}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

import graft.catalog.GraftTable
import graft.operators.Snapshot
import graft.sources.SnapshotSource

/** Analyzer rules that make [[graft.catalog.GraftCatalog]] tables
  * first-class under the VANILLA SQL front end.
  *
  * [[GraftNativeReads]] swaps every analyzed catalog read
  * (`DataSourceV2Relation` over a [[GraftTable]]) for the SAME native
  * manifest-backed parquet relation the registered source plans —
  * vectorized scan, whole-stage codegen, manifest-stats/bloom/partition
  * pruning, DV and column-mapping awareness — PRESERVING the relation's
  * output attribute ids, so references already resolved against the v2
  * relation keep resolving and the swap is invisible to the rest of
  * analysis. A catalog read therefore costs exactly what the
  * path-based read costs; the DSv2 layer is name resolution, not a
  * second (slower) scan path.
  *
  * [[GraftDmlCapture]] routes `UPDATE` / `MERGE INTO` / rich `DELETE`
  * statements over catalog tables to the SAME engine tiers as the
  * Scala API ([[Snapshot.update]],
  * [[Snapshot.mergeArms]], [[Snapshot.delete]]) — one code path, one
  * set of semantics. Without this rule stock Spark would refuse
  * UPDATE/MERGE outright (they require `SupportsRowLevelOperations`);
  * with it the whole reference maintenance surface is plain
  * `spark.sql(...)` text. The captured command executes eagerly like
  * any SQL command.
  */
case class GraftDmlCapture(session: SparkSession) extends Rule[LogicalPlan] {

  /** The DML target, unwrapped through aliases: the v2 relation and
    * the names it may be qualified by in predicates (table name parts
    * and alias).
    */
  private def unwrapTarget(p: LogicalPlan): Option[(GraftTable, DataSourceV2Relation, Seq[String])] =
    p match {
      case SubqueryAlias(id, child) =>
        unwrapTarget(child).map { case (t, r, names) => (t, r, names :+ id.name) }
      case r @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _) =>
        Some((t, r, Seq(t.tableName, t.tableName.split('.').last).distinct))
      case _ => None
    }

  /** Resolved attribute refs → bare names, so the captured Column
    * re-resolves against the engine's own scan of the same table.
    */
  private def nameify(e: Expression): Expression = GraftDmlCapture.inlineWith(e).transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  private def column(e: Expression, what: String): Column = {
    GraftDmlCapture.refuseSubqueries(e, what)
    ColumnBridge.column(nameify(e))
  }

  /** A bare column reference, seen through the widening Cast the
    * analyzer inserts when IN coerces mismatched types (`int_col IN
    * (SELECT bigint_col …)` arrives as `Cast(int_col) IN …`).
    * Stripping it is sound ONLY for that analyzer-inserted shape — an
    * up-cast (`Cast.canUpCast`), which the IN-key join re-derives from
    * the raw column and key types. A USER-written narrowing or
    * cross-type cast (`CAST(k AS INT) IN (SELECT …)`) changes which
    * rows match, so it must NOT strip: it falls through to the generic
    * predicate path, which refuses subqueries loudly.
    */
  private object BareAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast => c.child match {
        case a: AttributeReference if Cast.canUpCast(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
      case _ => None
    }
  }

  /** `EXISTS (SELECT … FROM s WHERE s.k = t.k)` with the equality as
    * its ONLY correlation is `t.k IN (SELECT s.k FROM s)` in disguise —
    * normalize it to (outer key attribute, single-column key plan) so
    * the delete routes through the same distributed join. Any residual
    * outer reference, a non-equality correlation, or an unexpected
    * plan shape returns None and keeps the loud refusal.
    */
  private def existsAsInKeys(e: Exists): Option[(AttributeReference, LogicalPlan)] = {
    val stripped = e.plan match {
      case Project(_, Filter(cond, child)) => Some((cond, child))
      case Filter(cond, child)             => Some((cond, child))
      case _                               => None
    }
    stripped.flatMap { case (cond, child) =>
      def clean(p: LogicalPlan): Boolean =
        p.collect { case q => q.expressions }.flatten.forall(expr =>
          expr.collectFirst { case _: OuterReference => () }.isEmpty)
      cond match {
        case EqualTo(OuterReference(a: AttributeReference), inner: Attribute)
            if child.outputSet.contains(inner) && clean(child) =>
          Some((a, Project(Seq(inner), child)))
        case EqualTo(inner: Attribute, OuterReference(a: AttributeReference))
            if child.outputSet.contains(inner) && clean(child) =>
          Some((a, Project(Seq(inner), child)))
        case _ => None
      }
    }
  }

  /** Attribute references outside lambda bodies (a lambda's own
    * variables resolve in a later pass).
    */
  private def unresolvedRefs(e: Expression): Seq[UnresolvedAttribute] = e match {
    case _: LambdaFunction => Nil
    case a: UnresolvedAttribute => Seq(a)
    case other => other.children.flatMap(unresolvedRefs)
  }

  /** A DELETE/UPDATE over a resolved catalog table whose expressions
    * name something the table can never resolve — a qualifier that is
    * neither the table nor its alias, or a column the table lacks —
    * refuses with the statement's own message rather than the
    * analyzer's generic unresolved-column error.
    */
  private def refuseUnknownNames(target: LogicalPlan, names: Seq[String],
                                 exprs: Seq[Expression], what: String): Unit = {
    val resolver = session.sessionState.conf.resolver
    exprs.flatMap(unresolvedRefs).find(a => target.resolve(a.nameParts, resolver).isEmpty)
      .foreach { a =>
        val qual = a.nameParts.init
        if (qual.nonEmpty && target.resolve(qual.take(1), resolver).isEmpty &&
            !names.exists(n => resolver(n, qual.mkString("."))))
          throw new IllegalArgumentException(
            s"$what: unknown qualifier '${qual.mkString(".")}' " +
              s"(statement table is '${names.mkString("' aka '")}')")
        throw new IllegalArgumentException(s"$what: unknown column '${a.name}'")
      }
  }

  private def graftIdent(p: LogicalPlan)
      : Option[(graft.catalog.GraftCatalog, org.apache.spark.sql.connector.catalog.Identifier)] =
    p match {
      case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
          g: graft.catalog.GraftCatalog, i) => Some((g, i))
      case _ => None
    }

  private def refuseExisting(name: LogicalPlan, what: String): Unit =
    graftIdent(name).filter { case (g, i) => g.tableExists(i) }.foreach { case (g, i) =>
      throw new IllegalArgumentException(
        s"$what: table '${i.name}' already exists at ${g.pathFor(i)} " +
          "(use CREATE OR REPLACE TABLE … AS SELECT)")
    }

  /** `INSERT INTO t (cols) …` over a catalog table: the column list
    * must name the table's columns and match the query's arity —
    * checked as soon as both sides resolve, one fixed-point pass ahead
    * of Spark's own alignment.
    */
  private def checkInsertColumns(i: InsertIntoStatement): Unit = unwrapTarget(i.table) match {
    case Some((t, _, _)) =>
      val have = org.apache.spark.sql.types.StructType.fromDDL(t.manifest.schemaDdl).fieldNames
      val what = s"INSERT INTO ${t.tableName}"
      i.userSpecifiedCols.find(c => !have.exists(_.equalsIgnoreCase(c))).foreach(c =>
        throw new IllegalArgumentException(s"$what: unknown column $c"))
      require(i.userSpecifiedCols.size == i.query.output.size,
        s"$what: the query produces ${i.query.output.size} column(s) " +
          s"but the target list has ${i.userSpecifiedCols.size}")
    case None => ()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {

    case i: InsertIntoStatement if i.userSpecifiedCols.nonEmpty && i.query.resolved =>
      checkInsertColumns(i); i

    case d @ DeleteFromTable(target, cond) if !d.resolved =>
      unwrapTarget(target).foreach { case (t, _, names) =>
        refuseUnknownNames(target, names, Seq(cond), s"DELETE FROM ${t.tableName}")
      }
      d

    case u @ UpdateTable(target, assignments, cond) if !u.resolved =>
      unwrapTarget(target).foreach { case (t, _, names) =>
        refuseUnknownNames(target, names,
          assignments.flatMap(a => Seq(a.key, a.value)) ++ cond, s"UPDATE ${t.tableName}")
      }
      u

    // existence refusals the engine's own create/replace/drop make,
    // raised at analysis so they precede Spark's generic errors
    case c: CreateTableAsSelect if !c.ignoreIfExists => refuseExisting(c.name, "CREATE TABLE"); c
    case c: CreateTable if !c.ignoreIfExists => refuseExisting(c.name, "CREATE TABLE"); c
    case r: ReplaceTableAsSelect if !r.orCreate =>
      graftIdent(r.name).filter { case (g, i) => !g.tableExists(i) }.foreach { case (g, i) =>
        throw new IllegalArgumentException(
          s"REPLACE TABLE '${i.name}': no table at ${g.pathFor(i)} (use CREATE OR REPLACE)")
      }
      r
    case d: DropTable if !d.ifExists =>
      graftIdent(d.child).filter { case (g, i) => !g.tableExists(i) }.foreach { case (g, i) =>
        throw new IllegalArgumentException(s"DROP TABLE: no snapshot table at ${g.pathFor(i)}")
      }
      d
    // ALTER TABLE over a catalog table calls the catalog directly, so
    // the engine's own refusals surface as they are (Spark's
    // AlterTableExec re-wraps them as an opaque "unsupported table
    // change")
    case a: AlterTableCommand if a.resolved => a.table match {
      case ResolvedTable(catalog, ident, t: GraftTable, _) =>
        GraftDmlCommand(s"ALTER TABLE ${t.tableName}", _ =>
          catalog.alterTable(ident, a.changes: _*).asInstanceOf[GraftTable].manifest.version)
      case _ => a
    }
    // ADD CONSTRAINT … CHECK: the engine validates the existing rows and
    // commits the constraint in one call
    case a @ AddCheckConstraint(child, cc) if a.resolved =>
      child.collectFirst { case DataSourceV2Relation(t: GraftTable, _, _, _, _, _) => t } match {
        case Some(t) => GraftDmlCommand(s"ADD CONSTRAINT ${cc.name} ON ${t.tableName}",
          sp => Snapshot.addConstraint(sp, t.path, cc.name, cc.condition))
        case None => a
      }

    case d @ DeleteFromTable(target, cond) if d.resolved =>
      unwrapTarget(target) match {
        case Some((t, _, _)) =>
          cond match {
            // `DELETE FROM t WHERE k IN (SELECT ...)` — the BigQuery
            // cleanup idiom. Routed through [[Snapshot.deleteMatching]]:
            // one distributed equi-join against the subquery's result
            // (never a collected value list — the subquery may be huge
            // at 100 TB), then the standard delete tiers. Uncorrelated
            // single-column shape only; anything else still refuses
            // loudly below.
            case InSubquery(Seq(BareAttr(a)), l: ListQuery)
                if l.outerAttrs.isEmpty && l.plan.output.size == 1 =>
              val src = PlanBridge.dataFrame(session, l.plan)
              GraftDmlCommand(s"DELETE FROM ${t.tableName} (IN subquery)",
                sp => Snapshot.deleteMatching(sp, t.path, a.name, src))
            // equality-correlated EXISTS is the same statement spelled
            // differently — normalize once and take the same route
            case e: Exists if e.joinCond.isEmpty =>
              existsAsInKeys(e) match {
                case Some((a, proj)) =>
                  val src = PlanBridge.dataFrame(session, proj)
                  GraftDmlCommand(s"DELETE FROM ${t.tableName} (EXISTS)",
                    sp => Snapshot.deleteMatching(sp, t.path, a.name, src))
                case None =>
                  // anything richer keeps the loud refusal
                  val pred = column(cond, "DELETE predicates")
                  GraftDmlCommand(s"DELETE FROM ${t.tableName}",
                    sp => Snapshot.delete(sp, t.path, pred))
              }
            case _ =>
              val pred = column(cond, "DELETE predicates")
              GraftDmlCommand(s"DELETE FROM ${t.tableName}",
                sp => Snapshot.delete(sp, t.path, pred))
          }
        case None => d
      }

    // `INSERT OVERWRITE t SELECT …` under partitionOverwriteMode=dynamic:
    // the analyzer plans OverwritePartitionsDynamic, for which Spark's
    // V2Writes has NO V1 fallback — so the statement is captured whole
    // (like UPDATE/MERGE) and routed to [[Snapshot.replacePartitions]]
    // with `dropOld = never`: exactly the dynamic contract — replace
    // precisely the partitions the query writes, byte-identical
    // untouched partitions, one atomic commit. The query is already
    // output-resolved (columns aligned to the table schema, static
    // PARTITION values folded in as literal projections by
    // ResolveInsertInto), and generated partition columns re-derive
    // inside the write path like every other writer.
    case o @ OverwritePartitionsDynamic(target, query, _, _, _)
        if o.table.resolved && query.resolved && o.outputResolved =>
      unwrapTarget(target) match {
        case Some((t, _, _)) =>
          val df = PlanBridge.dataFrame(session, query)
          GraftDmlCommand(s"INSERT OVERWRITE ${t.tableName} (dynamic partitions)",
            sp => Snapshot.replacePartitions(sp, t.path, df, dropOld = _ => false))
        case None => o
      }

    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      unwrapTarget(target) match {
        case Some((t, _, _)) =>
          // assignment alignment fills untouched columns with their own
          // refs — drop those no-ops so the engine rewrites the minimum
          val set = assignments.flatMap {
            case Assignment(k: AttributeReference, v: AttributeReference)
                if k.exprId == v.exprId => None
            case Assignment(k: AttributeReference, v) =>
              Some(k.name -> column(v, "UPDATE SET values"))
            case a => throw new UnsupportedOperationException(
              s"graft UPDATE: unsupported assignment target ${a.key.sql}")
          }
          val keys = set.map(_._1)
          val twice = keys.diff(keys.distinct).distinct
          require(twice.isEmpty, s"UPDATE ${t.tableName}: column(s) assigned twice: " +
            twice.mkString(", "))
          cond match {
            // UPDATE ... WHERE k IN (SELECT ...): deleteMatching's twin
            case Some(InSubquery(Seq(BareAttr(a)), l: ListQuery))
                if l.outerAttrs.isEmpty && l.plan.output.size == 1 =>
              val src = PlanBridge.dataFrame(session, l.plan)
              GraftDmlCommand(s"UPDATE ${t.tableName} (IN subquery)",
                sp => Snapshot.updateMatching(sp, t.path, a.name, src, set.toMap))
            case _ =>
              val pred = cond.map(column(_, "UPDATE predicates")).getOrElse(lit(true))
              GraftDmlCommand(s"UPDATE ${t.tableName}",
                sp => Snapshot.update(sp, t.path, pred, set.toMap))
          }
        case None => u
      }

    case m @ MergeIntoTable(targetP, sourceP, cond, matched, notMatched,
                            notMatchedBySource, withSchemaEvolution) if m.resolved =>
      unwrapTarget(targetP) match {
        case Some((t, targetRel, _)) =>
          // WITH SCHEMA EVOLUTION needs no handling here: GraftTable
          // advertises AUTOMATIC_SCHEMA_EVOLUTION, so by the time this
          // statement is `resolved` the analyzer's own rule has already
          // routed the source-minus-target columns through
          // GraftCatalog.alterTable (→ Snapshot.addColumns, one
          // metadata-only commit) and reloaded the target relation —
          // the capture below sees the EVOLVED schema.
          val tAttrs = targetRel.outputSet
          val sAttrs = AttributeSet(sourceP.output)
          val (tAlias, sAlias) = ("__graft_t", "__graft_s")
          // re-qualify each side's refs so the captured Columns resolve
          // against the engine's aliased merge join
          def sided(e: Expression, what: String): Column = {
            GraftDmlCapture.refuseSubqueries(e, what)
            ColumnBridge.column(GraftDmlCapture.inlineWith(e).transform {
              case a: AttributeReference if tAttrs.contains(a) =>
                UnresolvedAttribute(Seq(tAlias, a.name))
              case a: AttributeReference if sAttrs.contains(a) =>
                UnresolvedAttribute(Seq(sAlias, a.name))
            })
          }
          // ON is a CONJUNCTION of same-named column equalities — one
          // (the id-upsert shape) or several (a composite natural key)
          def keyCols(e: Expression): Seq[String] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              keyCols(l) ++ keyCols(r)
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if a.name.equalsIgnoreCase(b.name) &&
                  ((tAttrs.contains(a) && sAttrs.contains(b)) ||
                   (tAttrs.contains(b) && sAttrs.contains(a))) => Seq(a.name)
            case other => throw new IllegalArgumentException(
              s"graft MERGE: ON must be a conjunction of equalities of the same column " +
                s"across the two sides, got ${other.sql}")
          }
          val idCols = keyCols(cond)
          val idCol = idCols.head
          // alignment expands `UPDATE SET * / INSERT *` to per-column
          // source refs covering the whole schema — that is WHOLE-ROW
          // replace, mergeById's exact semantics (and the one shape
          // where reassigning the partition columns is sound, under the
          // id-embeds-partition contract)
          def wholeRow(assigns: Seq[Assignment]): Boolean =
            assigns.nonEmpty && assigns.forall {
              case Assignment(k: AttributeReference, v: AttributeReference) =>
                k.name.equalsIgnoreCase(v.name) && sAttrs.contains(v)
              case _ => false
            } && assigns.size == targetRel.output.size
          val wholeRowCmd: Option[LogicalPlan] =
            (matched, notMatched, notMatchedBySource) match {
              case (Seq(UpdateAction(None, mAssigns, _)), Seq(InsertAction(None, iAssigns)),
                    Seq())
                  if idCols.size == 1 && wholeRow(mAssigns) && wholeRow(iAssigns) =>
                val source = PlanBridge.dataFrame(session, sourceP)
                // assertIdsLocal: SQL users have NOT opted into the
                // id-embeds-partition contract the Scala API documents —
                // a source row whose partition tuple moved would insert
                // into the new partition while the old row survives
                // (silent id duplication). The probe is one id-column
                // semi-join over the unaffected partitions; refuse loudly
                // when a stray id turns up.
                Some(GraftDmlCommand(s"MERGE INTO ${t.tableName} (whole-row)",
                  sp => Snapshot.mergeByIdPartitioned(sp, t.path, source, idCol,
                    t.manifest.partitionCols, assertIdsLocal = true)))
              case _ => None
            }
          wholeRowCmd.getOrElse {
          // the FULL standard arm surface — any number of arms per
          // clause, each optionally conditional, plus WHEN NOT MATCHED
          // BY SOURCE; first-match-wins ordering handled by the engine
          def setOf(assigns: Seq[Assignment]): Map[String, Column] = assigns.map {
            case Assignment(k: AttributeReference, v) =>
              k.name -> sided(v, "MERGE assignments")
            case a => throw new UnsupportedOperationException(
              s"graft MERGE: unsupported assignment target ${a.key.sql}")
          }.toMap
          def whenArm(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
              : Snapshot.WhenArm = a match {
            case UpdateAction(c, assigns, _) =>
              Snapshot.WhenArm(c.map(sided(_, "MERGE conditions")), Some(setOf(assigns)))
            case DeleteAction(c) =>
              Snapshot.WhenArm(c.map(sided(_, "MERGE conditions")), None)
            case other => throw new UnsupportedOperationException(
              s"graft MERGE: unsupported action ${other.getClass.getSimpleName}")
          }
          val insertArms = notMatched.map {
            case InsertAction(c, assigns) =>
              Snapshot.InsertArm(c.map(sided(_, "MERGE conditions")),
                setOf(assigns).toSeq)
            case other => throw new UnsupportedOperationException(
              s"graft MERGE: unsupported not-matched action ${other.getClass.getSimpleName}")
          }
          val source = PlanBridge.dataFrame(session, sourceP)
          GraftDmlCommand(s"MERGE INTO ${t.tableName}",
            sp => Snapshot.mergeArmsMulti(sp, t.path, source, tAlias, sAlias, idCols,
              matched = matched.map(whenArm),
              notMatched = insertArms,
              bySource = notMatchedBySource.map(whenArm)))
          }
        case None => m
      }
  }
}

/** `ALTER TABLE t DROP COLUMN …` (no IF EXISTS) over a catalog table:
  * every named column must exist when its turn comes — a repeated name
  * finds its column already gone. Checked in the hint phase, against
  * the table's manifest, because Spark's own field resolution refuses
  * an unknown name in the same pass that resolves the table.
  */
case class GraftAlterNames(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case DropColumns(t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable, cols, false) =>
        GraftCatalogResolve.pathOf(session, t.multipartIdentifier)
          .flatMap(Snapshot.latestManifest(session, _)).foreach { m =>
            val what = s"DROP COLUMN ${t.multipartIdentifier.mkString(".")}"
            cols.map(_.name.mkString(".")).foldLeft(
                org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl).fieldNames.toSeq) {
              (have, c) =>
                require(have.exists(_.equalsIgnoreCase(c)), s"$what: no column $c")
                have.filterNot(_.equalsIgnoreCase(c))
            }
          }
      case _ => ()
    }
    plan
  }
}

object GraftDmlCapture {

  /** Inline the analyzer's common-subexpression `With` nodes (BETWEEN
    * resolves to one): a captured expression is re-analyzed against
    * the engine's own scan, and a `With` cannot carry unresolved refs.
    */
  private[plans] def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.collect {
        case d: org.apache.spark.sql.catalyst.expressions.CommonExpressionDef => d.id -> d.child
      }.toMap
      w.child.transform {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef => defs(r.id)
      }
  }

  /** Subqueries anywhere in a captured expression would be evaluated
    * once per engine job against whatever they resolve to at that
    * moment — refused with one clear message instead.
    */
  def refuseSubqueries(e: Expression, where: String): Unit =
    e.foreach {
      case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        throw new IllegalArgumentException(
          s"subqueries are not supported in $where; " +
            "materialize the subquery and use the Scala API instead")
      case _ => ()
    }
}

/** See [[GraftDmlCapture]]'s scaladoc. Runs AFTER it in the extension
  * order, so a DML statement's target is captured whole before the
  * relation under it could be rewritten away.
  */
case class GraftNativeReads(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DML target leaves, by object identity: they must stay v2 until
    // GraftDmlCapture lifts the whole statement (the fixed point runs
    // both rules every iteration, capture first)
    val dmlTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def mark(p: LogicalPlan): Unit = p match {
      case SubqueryAlias(_, c) => mark(c)
      case r: DataSourceV2Relation => dmlTargets.add(r); ()
      case _ => ()
    }
    plan.foreach {
      case d: DeleteFromTable => mark(d.table)
      case u: UpdateTable => mark(u.table)
      case mm: MergeIntoTable => mark(mm.targetTable)
      // ADD CONSTRAINT resolution (ResolveSessionCatalog) reads the
      // target's v2 identifier out of the validation Filter's relation
      // — keep it v2 (the scan backstop serves the validation read)
      case c: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
        c.foreach {
          case r: DataSourceV2Relation => dmlTargets.add(r); ()
          case _ => ()
        }
      case _ => ()
    }
    plan.transformUpWithSubqueries {
      case v2 @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _)
          if !dmlTargets.contains(v2) =>
        // t.manifest is the version loadTable pinned — the latest, or
        // the time-travel target (Spark turns VERSION AS OF and the
        // versionAsOf/timestampAsOf reader options into
        // loadTable(ident, version|timestamp) itself). Output attrs
        // preserved: the swap is invisible to resolution. The attached
        // catalog-table STATISTICS feed Catalyst's cost-based optimizer
        // real numbers — exact live row counts from the manifest, NDVs
        // from the last ANALYZE — so with spark.sql.cbo.enabled a join
        // over catalog tables reorders on true cardinalities. Planner
        // input only: with CBO off, sizing falls back to the same byte
        // totals the relation already reports, so default plans are
        // unchanged.
        locally {
          val rel = SnapshotSource.relationFor(session, t.path, t.manifest)
          // stats attach when they cannot change a CBO-OFF plan: on the
          // native file relation the catalog byte total equals the
          // relation's own sizeInBytes, so default planning is
          // byte-identical. The merge-on-read fallback (DV'd /
          // column-mapped versions) reports the conservative default
          // size — attaching real (smaller) bytes there would flip
          // broadcast decisions with CBO off, so it only gets stats
          // when the operator has opted into cost-based planning.
          val ct =
            if (rel.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                || session.sessionState.conf.cboEnabled)
              GraftNativeReads.cboCatalogTable(t)
            else None
          LogicalRelation(rel, v2.output, ct, isStreaming = false, None)
        }

      // `spark.readStream.table("g.db.t")`: GraftTable has no DSv2
      // micro-batch scan, but the commit-log stream source IS the
      // streaming read path — swap in the CLASSIC v1 streaming
      // relation wired to it (the same node DataStreamReader builds
      // for a v1 format), options (startingVersion,
      // maxFilesPerTrigger, readChangeFeed, …) passed through. Base
      // output attrs are preserved so references already bound keep
      // resolving; the change feed appends its meta columns, which
      // resolve on the next fixed-point iteration.
      case s @ org.apache.spark.sql.catalyst.streaming.StreamingRelationV2(
          _, _, t: GraftTable, options, output, _, _, _) =>
        import scala.jdk.CollectionConverters._
        val cdf = Option(options.get("readChangeFeed")).exists(_.toBoolean)
        val metaAttrs =
          if (cdf) graft.sources.SnapshotCdfStreamSource.MetaFields.toSeq.map(f =>
            org.apache.spark.sql.catalyst.expressions.AttributeReference(
              f.name, f.dataType, f.nullable)())
          else Nil
        val fullOutput = output ++ metaAttrs
        val ds = org.apache.spark.sql.execution.datasources.DataSource(
          session, className = "graft.sources.SnapshotSource",
          options = options.asScala.toMap ++ Map("path" -> t.path))
        org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
          ds, "graft-snapshot", fullOutput)
    }
  }
}

/** Routes `ANALYZE TABLE` over catalog tables to [[Snapshot.analyze]]
  * (stock Spark refuses the statement for v2 tables). Semantics honour
  * the vanilla statement's split: `COMPUTE STATISTICS [NOSCAN]` asks
  * for table-level size/rows — already metadata-EXACT on every
  * manifest, so it verifies the table and commits nothing — while
  * `FOR [ALL] COLUMNS` runs the one-pass NDV job and commits the
  * estimates for the cost-based optimizer.
  */
case class GraftAnalyzeCapture(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.ResolvedTable

  private def nameParts(r: ResolvedTable): Seq[String] =
    (r.catalog.name() +: r.identifier.namespace().toSeq) :+ r.identifier.name()

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case AnalyzeTable(r: ResolvedTable, partitionSpec, _) if r.table.isInstanceOf[GraftTable] =>
      require(partitionSpec.isEmpty,
        "ANALYZE TABLE … PARTITION: snapshot statistics are table-scoped " +
          "(per-partition rows/bytes are already exact in the manifest)")
      GraftMaintenanceCommand(s"ANALYZE ${nameParts(r).mkString(".")}",
        nameParts(r), Nil, (_, _, _) => Nil) // rows/size already manifest-exact
    case AnalyzeColumn(r: ResolvedTable, columnNames, allColumns)
        if r.table.isInstanceOf[GraftTable] =>
      val cols = if (allColumns) Nil else columnNames.getOrElse(Nil)
      GraftMaintenanceCommand(s"ANALYZE ${nameParts(r).mkString(".")} FOR COLUMNS",
        nameParts(r), Nil, (sp, path, _) => { Snapshot.analyze(sp, path, cols); Nil })
  }
}

object GraftNativeReads {

  /** Catalog statistics for the native-scan swap, all metadata-priced:
    * exact live rows (`stats.rows − dv.rows`) and byte totals from the
    * pinned manifest, per-column distinct counts from the last
    * `ANALYZE` ([[Snapshot.analyze]]). None when any file lacks stats —
    * better no numbers than wrong ones, and the relation's own
    * sizeInBytes still sizes the plan.
    */
  private[plans] def cboCatalogTable(
      t: GraftTable): Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.catalog._
    val m = t.manifest
    if (!m.files.forall(m.stats.contains)) return None
    val bytes = m.files.map(m.stats(_).bytes).sum
    if (bytes <= 0L) return None
    val rows = m.files.map(f => m.stats(f).rows - m.dvs.get(f).map(_.rows).getOrElse(0L)).sum
    val schema = t.schema
    val fieldSet = schema.fieldNames.toSet
    // histogram endpoints are the TRUE min/max (percentiles 0 and 1),
    // rendered in the column type's external-string form so
    // CatalogColumnStat round-trips them; the histogram itself gives
    // FilterEstimation real range selectivity on skewed columns
    def extString(c: String, v: Double): Option[String] = schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        Some(v.toLong.toString)
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType =>
        Some(v.toString)
      case _ => None
    }
    val colStats = m.colNdv.collect { case (c, ndv) if fieldSet.contains(c) =>
      val hist = m.colHist.get(c).map(h =>
        org.apache.spark.sql.catalyst.plans.logical.Histogram(h.height,
          h.bins.map(b => org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
            b.lo, b.hi, b.ndv)).toArray))
      // prefer the analyze-time EXACT endpoints (native-type strings —
      // immune to the 2^53 double round-trip); percentile bin endpoints
      // are only the fallback for pre-exact-endpoint manifests
      val exact = m.colHist.get(c)
      c -> CatalogColumnStat(
        distinctCount = Some(BigInt(ndv)),
        min = exact.flatMap(_.exactMin)
          .orElse(hist.flatMap(h => h.bins.headOption.flatMap(b => extString(c, b.lo)))),
        max = exact.flatMap(_.exactMax)
          .orElse(hist.flatMap(h => h.bins.lastOption.flatMap(b => extString(c, b.hi)))),
        histogram = hist)
    }
    val parts = t.tableName.split('.')
    Some(CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last,
        if (parts.length > 1) Some(parts(parts.length - 2)) else None,
        if (parts.length > 2) Some(parts(parts.length - 3)) else None),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = schema,
      provider = Some("graft-snapshot"),
      stats = Some(CatalogStatistics(BigInt(bytes), Some(BigInt(rows)), colStats))))
  }
}

/** Catalog-qualified name resolution shared by the maintenance-verb
  * parser and the `table_changes` TVF rewrite: the identifier resolves
  * through the session's catalog manager exactly like any statement's
  * (explicit catalog segment, else the current catalog + namespace)
  * and must land in a [[GraftCatalog]].
  */
object GraftCatalogResolve {

  /** (catalog, identifier parts within it) — explicit catalog segment,
    * else the current catalog (+ current namespace for a bare name).
    */
  private def locate(session: SparkSession, nameParts: Seq[String])
      : (org.apache.spark.sql.connector.catalog.CatalogPlugin, Seq[String]) = {
    val cm = session.sessionState.catalogManager
    nameParts match {
      case Seq(single) => (cm.currentCatalog, cm.currentNamespace.toSeq :+ single)
      case more if cm.isCatalogRegistered(more.head) => (cm.catalog(more.head), more.tail)
      case more => (cm.currentCatalog, more)
    }
  }

  /** Resolve name parts to a snapshot-table path IF they land in a
    * GraftCatalog; None when another catalog owns the name.
    */
  def pathOf(session: SparkSession, nameParts: Seq[String]): Option[String] =
    locate(session, nameParts) match {
      case (g: graft.catalog.GraftCatalog, ident) =>
        Some(g.pathFor(org.apache.spark.sql.connector.catalog.Identifier.of(
          ident.init.toArray, ident.last)))
      case _ => None
    }

  /** Resolve a statement's secondary name (a materialized view's source,
    * a clone's source) given the table `of` the statement addresses.
    * When `of` is bound by a `Snapshot.sql*` registry call, an
    * unqualified name is a registry name too and resolves in the same
    * binding; otherwise the name resolves like any statement's — the
    * same rule [[MvAutoRoute]] and `Maintenance.tickNamespace` apply to
    * a stored view's sources.
    */
  def near(session: SparkSession, of: Seq[String], name: Seq[String]): Option[String] =
    locate(session, of) match {
      case (r: graft.catalog.RegistryCatalog, ident) if name.size == 1 =>
        pathOf(session, (r.name() +: ident.init) :+ name.head)
      case _ => pathOf(session, name)
    }

  /** The `table_changes('t', from[, to])` TABLE FUNCTION builder —
    * registered on the session (GraftFunctions.register /
    * GraftExtensions), so the CDC SQL surface resolves
    * catalog-qualified names through the standard analyzer.
    */
  def tableChanges(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def longArg(e: Expression, what: String): Long = e match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal =>
        l.value match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"table_changes: $what must be an integer literal, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be an integer literal, got ${other.sql}")
    }
    val (identE, fromE, toE) = args match {
      case Seq(n, f) => (n, f, None)
      case Seq(n, f, t) => (n, f, Some(t))
      case _ => throw new IllegalArgumentException(
        "table_changes takes (table, fromVersion[, toVersion])")
    }
    val ident = identE match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.value.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] =>
        l.value.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: the table must be a string literal, got ${other.sql}")
    }
    val parts = session.sessionState.sqlParser.parseMultipartIdentifier(ident)
    val path = pathOf(session, parts).getOrElse(throw new IllegalArgumentException(
      s"table_changes: '$ident' does not resolve to a graft-catalog table"))
    val from = longArg(fromE, "the start version")
    val to = toE.map(longArg(_, "the end version"))
      .getOrElse(Snapshot.latestVersion(session, path).getOrElse(from))
    // versions from..to INCLUSIVE, per-commit reconciled and stamped —
    // the standard CDC TVF contract, shared with the streaming feed
    SubqueryAlias(parts.last,
      graft.sources.SnapshotCdfStreamSource.batchFeed(session, path, from, to)
        .queryExecution.analyzed)
  }
}

/** A captured DML statement as an eagerly-executed command — the
  * analyzer replaces the whole UPDATE/MERGE/DELETE node with this leaf
  * and the engine call runs at execution, like any SQL command.
  */
case class GraftDmlCommand(desc: String,
                           body: SparkSession => Long) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = { body(session); Seq.empty }
  override def simpleString(maxFields: Int): String = s"GraftDmlCommand $desc"
}
