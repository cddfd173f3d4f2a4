package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.RegistryBinding
import graft.plans.{GraftDmlCapture, GraftMaintenanceCommand}

/** `Snapshot.sql*`: SQL text against a `tables` registry (name →
  * snapshot-table path), e.g. the reference's literal maintenance
  * statements (consumo_detalle.py:317-340, funnel_live.py:155-172).
  *
  * The catalog route is the one SQL front end; this object only BINDS
  * the registry. The statement's target and every reference whose name
  * is a key of `tables` is rewritten to `graft_registry.<call>.<name>`,
  * which [[RegistryBinding]] resolves to the registered path for the
  * duration of the call — so a registered name wins over a temp view,
  * and any other name resolves against the session catalog as usual.
  * The session must carry `graft.plans.GraftExtensions`, whose parser
  * and analyzer rules execute every statement.
  */
object SnapshotSql {

  /** Execute one statement; returns its target table's version after it. */
  def apply(spark: SparkSession, sqlText: String, tables: Map[String, String]): Long = {
    val (_, parsed) = run(spark, Seq(sqlText), Some(tables), queryAllowed = false)
    target(parsed).flatMap(registered(tables, _))
      .flatMap(Snapshot.latestVersion(spark, _)).getOrElse(0L)
  }

  /** Execute one query (or result-producing statement) with registered names bound. */
  def query(spark: SparkSession, sqlText: String, tables: Map[String, String]): DataFrame =
    run(spark, Seq(sqlText), Some(tables), queryAllowed = true)._1

  /** Execute a SCRIPT: statements run in order, each individually
    * atomic (a failure stops the script, earlier ones stay committed),
    * at most one SELECT and only last; its (or a closing DESCRIBE's)
    * rows are the result. `tables = None` binds no registry.
    */
  def script(spark: SparkSession, sqlText: String,
             tables: Option[Map[String, String]]): Option[DataFrame] = {
    val stmts = splitStatements(sqlText)
    require(stmts.nonEmpty, "Snapshot.sqlScript: empty script")
    val (df, parsed) = run(spark, stmts, tables, queryAllowed = true)
    Some(df).filter(_ => isQuery(parsed) || parsed.output.nonEmpty)
  }

  private def isQuery(p: LogicalPlan): Boolean =
    !p.isInstanceOf[Command] && !p.isInstanceOf[ParsedStatement]

  /** The one statement loop; returns the last statement's DataFrame and parsed plan. */
  private def run(spark: SparkSession, stmts: Seq[String], tables: Option[Map[String, String]],
                  queryAllowed: Boolean): (DataFrame, LogicalPlan) = {
    require(spark.sessionState.analyzer.extendedResolutionRules.exists(_.isInstanceOf[GraftDmlCapture]),
      "Snapshot.sql needs a session with spark.sql.extensions=graft.plans.GraftExtensions " +
        "(graft.Engine.session builds one)")
    def loop(bind: LogicalPlan => LogicalPlan) = stmts.zipWithIndex.map { case (stmt, i) =>
      val parsed = spark.sessionState.sqlParser.parsePlan(stmt)
      require(!isQuery(parsed) || queryAllowed, "Snapshot.sql supports DELETE / UPDATE / " +
        "MERGE / INSERT / CREATE / ALTER / TRUNCATE / DROP TABLE and maintenance statements, " +
        s"got ${parsed.nodeName} (for SELECT, use Snapshot.sqlQuery)")
      require(!isQuery(parsed) || i == stmts.size - 1,
        s"Snapshot.sqlScript: SELECT must be the script's final statement " +
          s"(statement ${i + 1} of ${stmts.size} is a query whose result would be dropped)")
      (PlanBridge.dataFrame(spark, bind(parsed)), parsed)
    }.last
    tables match {
      case None => loop(identity)
      case Some(reg) => RegistryBinding.withBinding(spark, reg)(ns => loop(bind(spark, _, reg, ns)))
    }
  }

  private def registered(tables: Map[String, String], name: String): Option[String] =
    tables.collectFirst { case (k, p) if k.equalsIgnoreCase(name) => p }

  /** The table a statement writes: a maintenance command's table, else
    * the first table name in pre-order (DML/DDL targets precede their
    * sources among a command's children).
    */
  private def target(plan: LogicalPlan): Option[String] = plan match {
    case c: GraftMaintenanceCommand => Some(c.nameParts.mkString("."))
    case i: InsertIntoStatement => target(i.table)
    case _: Command | _: UnresolvedRelation => plan.collectFirst {
      case t: UnresolvedTable => t.multipartIdentifier.mkString(".")
      case t: UnresolvedTableOrView => t.multipartIdentifier.mkString(".")
      case t: UnresolvedIdentifier => t.nameParts.mkString(".")
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    }
    case _ => None
  }

  /** Bind the target and every registered name under `ns`; reads keep their name as alias. */
  private def bind(spark: SparkSession, plan: LogicalPlan, tables: Map[String, String],
                   ns: Seq[String]): LogicalPlan = {
    val written = target(plan)
    def hit(parts: Seq[String]): Boolean = {
      val name = parts.mkString(".")
      registered(tables, name).isDefined || written.exists(_.equalsIgnoreCase(name))
    }
    def to(parts: Seq[String]): Seq[String] = ns :+ parts.mkString(".")
    def read(r: UnresolvedRelation, node: LogicalPlan => LogicalPlan): LogicalPlan =
      SubqueryAlias(r.multipartIdentifier.mkString("."),
        node(r.copy(multipartIdentifier = to(r.multipartIdentifier))))
    def rebind(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries {
      case tt @ RelationTimeTravel(r: UnresolvedRelation, _, _) if hit(r.multipartIdentifier) =>
        read(r, b => tt.copy(relation = b))
      case r: UnresolvedRelation if hit(r.multipartIdentifier) => read(r, identity)
      case i @ InsertIntoStatement(r: UnresolvedRelation, _, _, _, _, _, _)
          if hit(r.multipartIdentifier) =>
        i.copy(table = r.copy(multipartIdentifier = to(r.multipartIdentifier)))
      case t: UnresolvedTable if hit(t.multipartIdentifier) =>
        t.copy(multipartIdentifier = to(t.multipartIdentifier))
      case t: UnresolvedTableOrView if hit(t.multipartIdentifier) =>
        t.copy(multipartIdentifier = to(t.multipartIdentifier))
      case t: UnresolvedIdentifier if hit(t.nameParts) => t.copy(nameParts = to(t.nameParts))
      case c: GraftMaintenanceCommand if hit(c.nameParts) => c.copy(nameParts = to(c.nameParts))
      // CTE definitions are not children of the WITH node
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, q, depth) => (n, rebind(q).asInstanceOf[SubqueryAlias], depth) })
      case f: UnresolvedTableValuedFunction
          if f.name.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("table_changes") =>
        f.copy(functionArgs = f.functionArgs match {
          case (l @ Literal(s: UTF8String, _)) +: rest
              if hit(spark.sessionState.sqlParser.parseMultipartIdentifier(s.toString)) =>
            val parts = to(spark.sessionState.sqlParser.parseMultipartIdentifier(s.toString))
            l.copy(value = UTF8String.fromString(
              parts.map(x => "`" + x.replace("`", "``") + "`").mkString("."))) +: rest
          case args => args
        })
    }
    rebind(plan)
  }

  /** Split on top-level semicolons only: quoted strings (single,
    * double, backtick — with doubled-quote and backslash escapes), line
    * comments and bracketed comments can all carry `;` without ending
    * a statement. Empty statements (stray `;;`, trailing `;`) drop.
    */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var mode: Char = 'n' // n=normal, '\''/'"'/'`'=in-string, '-'=line comment, '*'=block comment
    while (i < text.length) {
      val c = text.charAt(i)
      val next = if (i + 1 < text.length) text.charAt(i + 1) else ' '
      mode match {
        case 'n' =>
          c match {
            case ';' => out += cur.toString; cur.clear()
            case '\'' | '"' | '`' => mode = c; cur += c
            case '-' if next == '-' => mode = '-'; cur += c += next; i += 1
            case '/' if next == '*' => mode = '*'; cur += c += next; i += 1
            case _ => cur += c
          }
        case '-' =>
          cur += c; if (c == '\n') mode = 'n'
        case '*' =>
          cur += c
          if (c == '*' && next == '/') { cur += next; i += 1; mode = 'n' }
        case q =>
          cur += c
          if (c == '\\' && i + 1 < text.length) { cur += next; i += 1 } // escaped char
          else if (c == q) {
            if (next == q) { cur += next; i += 1 } // doubled quote stays in-string
            else mode = 'n'
          }
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
