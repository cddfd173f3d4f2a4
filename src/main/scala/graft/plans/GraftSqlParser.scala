package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.catalog.GraftCatalog
import graft.operators.Snapshot

/** Dialect parser for the lakehouse verbs vanilla Spark SQL has no
  * grammar for — `VACUUM`, `OPTIMIZE`, `DESCRIBE HISTORY/DETAIL`,
  * `RESTORE`, tag/branch `ALTER` forms (incl. `MERGE BRANCH` /
  * `REBASE BRANCH`), `SHALLOW/DEEP CLONE`, `FROM PARQUET` imports,
  * and `CREATE/REFRESH MATERIALIZED VIEW` — resolved BY NAME through
  * the session's catalogs, so a ported script's whole maintenance loop
  * is `spark.sql(...)` text against [[graft.catalog.GraftCatalog]]
  * tables (the standard extension-parser pattern every lakehouse SQL
  * dialect uses). Everything else delegates verbatim to the session
  * parser.
  *
  * The shapes are fixed-form — one identifier plus keyword clauses —
  * parsed by a tiny hand tokenizer (quoted identifiers and the
  * free-text OPTIMIZE WHERE / RESTORE timestamp / MV defining-query
  * tails slice the original text, so any expression the session
  * parser accepts works there).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseMaintenance(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** One token: WORD (bare identifier/keyword, upper-cased match key),
    * punctuation, or a quoted identifier part. `pos`/`end` index the
    * ORIGINAL text so free-text tails can slice it.
    */
  private final case class Tok(text: String, pos: Int, end: Int) {
    def is(kw: String): Boolean = text.equalsIgnoreCase(kw)
  }

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '`') {
        val close = s.indexOf('`', i + 1)
        require(close > 0, s"unclosed backquote at $i")
        out += Tok(s.substring(i, close + 1), i, close + 1)
        i = close + 1
      } else if (c == '\'') {
        // a string literal is ONE token (doubled-quote escapes stay
        // inside), so a literal containing a keyword can never confuse
        // clause slicing (… WHERE v = 'ZORDER' …)
        var j = i + 1
        while (j < s.length && !(s.charAt(j) == '\'' &&
            (j + 1 >= s.length || s.charAt(j + 1) != '\''))) {
          j += (if (s.charAt(j) == '\'') 2 else 1)
        }
        require(j < s.length, s"unclosed string literal at $i")
        out += Tok(s.substring(i, j + 1), i, j + 1)
        i = j + 1
      } else if (c.isLetterOrDigit || c == '_') {
        var j = i
        while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        out += Tok(s.substring(i, j), i, j)
        i = j
      } else { out += Tok(c.toString, i, i + 1); i += 1 }
    }
    out.result()
  }

  /** A dotted identifier starting at token `i`; returns (parts, next). */
  private def ident(toks: Vector[Tok], i: Int): (Seq[String], Int) = {
    require(i < toks.length,
      s"expected a table identifier, but the statement ended early")
    def part(t: Tok): String =
      if (t.text.startsWith("`")) t.text.stripPrefix("`").stripSuffix("`") else t.text
    var parts = Vector(part(toks(i)))
    var j = i + 1
    while (j + 1 < toks.length && toks(j).text == "." ) {
      parts :+= part(toks(j + 1)); j += 2
    }
    (parts, j)
  }

  /** A tag/version spec spans tokens: the lexer splits `run-2026.08`
    * at the punctuation, so consume word(-|.)word… greedily; quoted
    * forms (`backtick`, 'string') are one token already. Returns
    * (name, next token index).
    */
  private def tagIdent(toks: Vector[Tok], at: Int): (String, Int) = {
    val t = toks(at)
    if (t.text.startsWith("`")) (t.text.stripPrefix("`").stripSuffix("`"), at + 1)
    else if (t.text.startsWith("'")) (t.text.stripPrefix("'").stripSuffix("'"), at + 1)
    else {
      val sb = new StringBuilder(t.text)
      var j = at + 1
      while (j + 1 < toks.length && (toks(j).text == "-" || toks(j).text == ".") &&
          toks(j + 1).text.headOption.exists(c => c.isLetterOrDigit || c == '_')) {
        sb ++= toks(j).text ++= toks(j + 1).text
        j += 2
      }
      (sb.toString, j)
    }
  }

  private def stripTrailingSemi(s: String): String = {
    var t = s.trim
    while (t.endsWith(";")) t = t.dropRight(1).trim
    t
  }

  /** Leading keyword without lexing — every statement in the session
    * passes through this parser, so anything that is not a maintenance
    * verb must delegate at the cost of one word scan, not a full lex.
    */
  private def firstWord(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    val start = i
    while (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '_')) i += 1
    // Locale.ROOT: under a Turkish default locale "optimize" would
    // uppercase to OPTİMİZE and silently stop matching the verb set
    s.substring(start, i).toUpperCase(java.util.Locale.ROOT)
  }

  private val Verbs = Set("VACUUM", "OPTIMIZE", "DESCRIBE", "RESTORE", "CREATE", "ALTER", "REFRESH")

  // the two CREATE forms the dialect owns — a CREATE without these
  // word pairs is vanilla Spark's and must never even be lexed (the
  // session grammar allows comments and quoting shapes the dialect
  // lexer does not)
  private val CreateHint =
    java.util.regex.Pattern.compile(
      "(?is).*\\b((SHALLOW|DEEP)\\s+CLONE|FROM\\s+PARQUET|MATERIALIZED\\s+VIEW)\\b.*")

  // the two ALTER forms the dialect owns (vanilla ALTER TABLE has no
  // TAG grammar) — same pre-screen discipline as CREATE: anything
  // without these word pairs delegates unlexed
  private val AlterHint =
    java.util.regex.Pattern.compile(
      "(?is).*\\b(CREATE\\s+(OR\\s+REPLACE\\s+)?TAG|DROP\\s+TAG|" +
        "CREATE\\s+BRANCH|DROP\\s+BRANCH|MERGE\\s+BRANCH|REBASE\\s+BRANCH|" +
        "MATERIALIZED\\s+VIEW)\\b.*")

  /** `ALTER TABLE t CREATE [OR REPLACE] TAG name [AS OF VERSION v]` and
    * `ALTER TABLE t DROP TAG [IF EXISTS] name` — named version pins
    * (vacuum-protected; see [[Snapshot.createTag]]). Returns None for
    * any other ALTER shape; a recognised TAG prefix with a malformed
    * tail throws IllegalStateException so the refusal stays loud.
    */
  private def parseAlterDialect(text: String): Option[LogicalPlan] = {
    val toks = lex(text)
    def loud(cond: Boolean, msg: => String): Unit =
      if (!cond) throw new IllegalStateException(msg)
    // ALTER MATERIALIZED VIEW mv SET REFRESH EVERY n TICKS — records
    // the view's maintenance policy as the `graft.mv.refreshEvery`
    // table property (like graft.vacuum.* / graft.optimize.*), honored
    // by the fleet maintenance loop (pipelines.Maintenance).
    // ALTER MATERIALIZED VIEW mv UNSET REFRESH clears it.
    if (toks.length >= 4 && toks(0).is("ALTER") && toks(1).is("MATERIALIZED") &&
        toks(2).is("VIEW")) {
      val (parts, j) = ident(toks, 3)
      def requireMv(sp: org.apache.spark.sql.SparkSession, path: String): Unit =
        loud(graft.operators.Snapshot.latestManifest(sp, path)
          .exists(graft.operators.MatView.isMatView),
          s"ALTER MATERIALIZED VIEW: not a materialized view: ${parts.mkString(".")}")
      if (j + 4 < toks.length && toks(j).is("SET") && toks(j + 1).is("REFRESH") &&
          toks(j + 2).is("EVERY")) {
        val n = toks(j + 3).text
        // Try: an all-digit string beyond Long range must hit this
        // message, not a raw NumberFormatException
        loud(n.nonEmpty && n.forall(_.isDigit) &&
            scala.util.Try(n.toLong).toOption.exists(_ > 0),
          s"ALTER MATERIALIZED VIEW … SET REFRESH EVERY needs a positive integer: $text")
        loud(j + 5 == toks.length && toks(j + 4).is("TICKS"),
          s"cannot parse ALTER MATERIALIZED VIEW (… SET REFRESH EVERY <n> TICKS): $text")
        return Some(maintCmd(s"ALTER MATERIALIZED VIEW ${parts.mkString(".")} " +
            s"SET REFRESH EVERY $n TICKS") { (sp, path) =>
          requireMv(sp, path)
          graft.operators.Snapshot.setProperties(sp, path,
            Map("graft.mv.refreshEvery" -> n))
          Nil
        }(parts))
      }
      if (j + 1 < toks.length && toks(j).is("UNSET") && toks(j + 1).is("REFRESH")) {
        loud(j + 2 == toks.length,
          s"cannot parse ALTER MATERIALIZED VIEW (… UNSET REFRESH): $text")
        return Some(maintCmd(s"ALTER MATERIALIZED VIEW ${parts.mkString(".")} " +
            "UNSET REFRESH") { (sp, path) =>
          requireMv(sp, path)
          graft.operators.Snapshot.setProperties(sp, path, Map.empty,
            unset = Seq("graft.mv.refreshEvery"))
          Nil
        }(parts))
      }
      throw new IllegalStateException(
        s"cannot parse ALTER MATERIALIZED VIEW (SET REFRESH EVERY <n> TICKS | UNSET REFRESH): $text")
    }
    if (toks.length < 3 || !toks(0).is("ALTER") || !toks(1).is("TABLE")) return None
    val (parts, i) = ident(toks, 2)
    if (i >= toks.length) return None
    def tagIdent(at: Int): (String, Int) = GraftSqlParser.tagIdent(toks, at)
    if (toks(i).is("CREATE")) {
      val replace = i + 2 < toks.length && toks(i + 1).is("OR") && toks(i + 2).is("REPLACE")
      val at = if (replace) i + 3 else i + 1
      // `ALTER TABLE t CREATE BRANCH name` — the writable fork
      if (!replace && at < toks.length && toks(at).is("BRANCH")) {
        loud(at + 1 < toks.length, s"CREATE BRANCH: missing branch name in: $text")
        val (name, afterName) = tagIdent(at + 1)
        loud(afterName == toks.length, s"CREATE BRANCH: unexpected trailing text in: $text")
        return Some(maintCmd(s"CREATE BRANCH ${parts.mkString(".")}") { (sp, path) =>
          Snapshot.createBranch(sp, path, name); Nil
        }(parts))
      }
      if (at >= toks.length || !toks(at).is("TAG")) return None
      loud(at + 1 < toks.length, s"CREATE TAG: missing tag name in: $text")
      val (name, afterName) = tagIdent(at + 1)
      var verSpec = Option.empty[String]
      var k = afterName
      if (k < toks.length) {
        loud(k + 3 < toks.length && toks(k).is("AS") && toks(k + 1).is("OF") &&
          toks(k + 2).is("VERSION"),
          s"cannot parse CREATE TAG statement (… [AS OF VERSION v]): $text")
        val (spec, afterSpec) = tagIdent(k + 3)
        verSpec = Some(spec)
        k = afterSpec
        loud(k == toks.length, s"CREATE TAG: unexpected trailing text in: $text")
      }
      Some(maintCmd(s"CREATE TAG ${parts.mkString(".")}") { (sp, path) =>
        Snapshot.createTag(sp, path, name,
          verSpec.map(Snapshot.resolveVersionSpec(sp, path, _)), replace); Nil
      }(parts))
    } else if (toks(i).is("DROP")) {
      if (i + 1 >= toks.length || !(toks(i + 1).is("TAG") || toks(i + 1).is("BRANCH")))
        return None
      val isBranch = toks(i + 1).is("BRANCH")
      val word = if (isBranch) "BRANCH" else "TAG"
      val ifExists = i + 3 < toks.length && toks(i + 2).is("IF") && toks(i + 3).is("EXISTS")
      val at = if (ifExists) i + 4 else i + 2
      loud(at < toks.length, s"DROP $word: missing $word name in: $text")
      val (name, afterName) = tagIdent(at)
      loud(afterName == toks.length, s"DROP $word: unexpected trailing text in: $text")
      Some(maintCmd(s"DROP $word ${parts.mkString(".")}") { (sp, path) =>
        if (isBranch) Snapshot.dropBranch(sp, path, name, ifExists)
        else Snapshot.dropTag(sp, path, name, ifExists)
        Nil
      }(parts))
    } else if (toks(i).is("MERGE")) {
      // `ALTER TABLE t MERGE BRANCH name` — fast-forward the parent to
      // the branch head; refuses loudly when the parent diverged
      if (i + 1 >= toks.length || !toks(i + 1).is("BRANCH")) return None
      loud(i + 2 < toks.length, s"MERGE BRANCH: missing branch name in: $text")
      val (name, afterName) = tagIdent(i + 2)
      loud(afterName == toks.length, s"MERGE BRANCH: unexpected trailing text in: $text")
      Some(maintCmd(s"MERGE BRANCH ${parts.mkString(".")}") { (sp, path) =>
        Snapshot.mergeBranch(sp, path, name); Nil
      }(parts))
    } else if (toks(i).is("REBASE")) {
      // `ALTER TABLE t REBASE BRANCH name` — replay the branch's deltas
      // onto the parent's moved head (the diverged-parent recovery)
      if (i + 1 >= toks.length || !toks(i + 1).is("BRANCH")) return None
      loud(i + 2 < toks.length, s"REBASE BRANCH: missing branch name in: $text")
      val (name, afterName) = tagIdent(i + 2)
      loud(afterName == toks.length, s"REBASE BRANCH: unexpected trailing text in: $text")
      Some(maintCmd(s"REBASE BRANCH ${parts.mkString(".")}") { (sp, path) =>
        Snapshot.rebaseBranch(sp, path, name); Nil
      }(parts))
    } else None
  }

  /** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` and
    * `CREATE TABLE t FROM PARQUET '<dir>' [PARTITIONED BY (cols)]` —
    * the CREATE forms vanilla SQL does not own. Returns None for any
    * other CREATE shape. A recognised prefix with a malformed tail
    * throws IllegalStateException so the refusal stays LOUD (the
    * caller only swallows IllegalArgumentException, the lexer's
    * cannot-tokenize signal).
    */
  private def parseCreateDialect(text: String): Option[LogicalPlan] = {
    val toks = lex(text)
    if (toks.isEmpty) return None
    def loud(cond: Boolean, msg: => String): Unit =
      if (!cond) throw new IllegalStateException(msg)
    // CREATE MATERIALIZED VIEW mv AS <query> — a first-class object:
    // the defining SQL and the source watermark live in the view's own
    // manifest; REFRESH advances it (incrementally where the shape
    // allows). The free-text query slices the ORIGINAL text after AS.
    if (toks.length >= 3 && toks(0).is("CREATE") && toks(1).is("MATERIALIZED") &&
        toks(2).is("VIEW")) {
      val (dstParts, j) = ident(toks, 3)
      loud(j < toks.length && toks(j).is("AS"),
        s"CREATE MATERIALIZED VIEW needs AS <query>: $text")
      val query = text.substring(toks(j).end).trim
      loud(query.nonEmpty, s"CREATE MATERIALIZED VIEW: empty defining query in: $text")
      return Some(maintCmdRel(s"CREATE MATERIALIZED VIEW ${dstParts.mkString(".")}",
          mustExist = false) { (sp, path, near) =>
        graft.operators.MatView.create(sp, path, query, sourcePath(near)); Nil
      }(dstParts))
    }
    if (toks.length < 3 || !toks(0).is("CREATE") || !toks(1).is("TABLE")) return None
    val (dstParts, i) = ident(toks, 2)
    // CREATE TABLE t FROM PARQUET '<dir>' [PARTITIONED BY (cols)] —
    // in-place import of an existing parquet directory, no rewrite
    if (i + 2 < toks.length && toks(i).is("FROM") && toks(i + 1).is("PARQUET") &&
        toks(i + 2).text.startsWith("'")) {
      val dir = toks(i + 2).text.stripPrefix("'").stripSuffix("'").replace("''", "'")
      var pCols = Seq.empty[String]
      var k = i + 3
      if (k < toks.length) {
        loud(k + 2 < toks.length && toks(k).is("PARTITIONED") && toks(k + 1).is("BY") &&
          toks(k + 2).text == "(",
          s"cannot parse FROM PARQUET import (… [PARTITIONED BY (col, …)]): $text")
        var j = k + 3
        val cols = Seq.newBuilder[String]
        while (j < toks.length && toks(j).text != ")") {
          if (toks(j).text != ",") cols += ident(toks, j)._1.mkString(".")
          j += 1
        }
        loud(j < toks.length, s"FROM PARQUET: unclosed PARTITIONED BY list in: $text")
        loud(j + 1 == toks.length, s"FROM PARQUET: unexpected trailing text in: $text")
        pCols = cols.result(); k = j + 1
      }
      return Some(maintCmdRel(s"IMPORT PARQUET ${dstParts.mkString(".")}",
          mustExist = false) { (sp, dstPath, _) =>
        graft.operators.Snapshot.importParquet(sp, dir, dstPath, pCols); Nil
      }(dstParts))
    }
    if (i + 1 >= toks.length || !(toks(i).is("SHALLOW") || toks(i).is("DEEP")) ||
        !toks(i + 1).is("CLONE"))
      return None
    val deep = toks(i).is("DEEP")
    val (srcParts, j) = ident(toks, i + 2)
    // an integer version or a tag name (resolved against the source at
    // run time — the body has the path, the parser does not)
    var verSpec = Option.empty[String]
    var tsRaw = Option.empty[String]
    var k = j
    val kindWord = if (deep) "DEEP" else "SHALLOW"
    if (k < toks.length) {
      loud(k + 3 < toks.length && toks(k + 1).is("AS") && toks(k + 2).is("OF") &&
        (toks(k).is("VERSION") || toks(k).is("TIMESTAMP")),
        s"cannot parse $kindWord CLONE statement (… [VERSION|TIMESTAMP AS OF …]): $text")
      if (toks(k).is("VERSION")) {
        val (spec, afterSpec) = tagIdent(toks, k + 3)
        verSpec = Some(spec)
        k = afterSpec
        loud(k == toks.length, s"cannot parse $kindWord CLONE statement: $text")
      } else {
        // TIMESTAMP AS OF takes the free-text tail — any timestamp
        // expression the session evaluates (same as RESTORE)
        val raw = text.substring(toks(k + 2).end).trim
        loud(raw.nonEmpty, s"$kindWord CLONE: missing timestamp in: $text")
        tsRaw = Some(raw); k = toks.length
      }
    }
    // nameParts = the DESTINATION (the statement's result table); the
    // source resolves through GraftCatalogResolve.near and must be a
    // graft-catalog table
    Some(maintCmdRel(s"$kindWord CLONE ${dstParts.mkString(".")}", mustExist = false) {
        (sp, dstPath, near) =>
      val srcPath = near(srcParts).filter(Snapshot.isSnapshotTable(sp, _)).getOrElse(
        throw new IllegalArgumentException(
          s"$kindWord CLONE: source '${srcParts.mkString(".")}' " +
            "is not a snapshot table in a graft catalog"))
      val pinned = tsRaw match {
        case None => verSpec.map(Snapshot.resolveVersionSpec(sp, srcPath, _))
        case Some(raw) =>
          val micros = evalTimestampMicros(sp, raw)
          Some(Snapshot.versionAtTimestamp(sp, srcPath, micros).getOrElse(
            throw new IllegalArgumentException(
              s"$kindWord CLONE: no version committed at or before $raw")))
      }
      if (deep) graft.operators.Snapshot.deepClone(sp, srcPath, dstPath, pinned)
      else graft.operators.Snapshot.shallowClone(sp, srcPath, dstPath, pinned)
      Nil
    }(dstParts))
  }

  /** Try the maintenance shapes; None → not ours. */
  private[plans] def parseMaintenance(sqlText: String,
                                      delegate: ParserInterface): Option[LogicalPlan] = {
    if (!Verbs.contains(firstWord(sqlText))) return None
    if (firstWord(sqlText) == "CREATE") {
      if (!CreateHint.matcher(sqlText).matches()) return None
      // hint words inside a string literal of an otherwise-vanilla
      // CREATE: if OUR lexer cannot even tokenize the text, the
      // statement belongs to the session grammar — delegate, never
      // crash it (shape mismatches below still delegate; a matched
      // CLONE/IMPORT prefix with a malformed tail still refuses loudly)
      return try parseCreateDialect(stripTrailingSemi(sqlText))
      catch { case _: IllegalArgumentException => None }
    }
    if (firstWord(sqlText) == "ALTER") {
      if (!AlterHint.matcher(sqlText).matches()) return None
      // same delegation discipline as CREATE: hint words inside string
      // literals of a vanilla ALTER must reach the session grammar
      return try parseAlterDialect(stripTrailingSemi(sqlText))
      catch { case _: IllegalArgumentException => None }
    }
    if (firstWord(sqlText) == "REFRESH") {
      // the dialect owns only REFRESH MATERIALIZED VIEW; vanilla
      // REFRESH TABLE/FUNCTION delegates untouched
      val text0 = stripTrailingSemi(sqlText)
      val toks0 = try lex(text0) catch { case _: IllegalArgumentException => return None }
      if (toks0.length < 4 || !toks0(1).is("MATERIALIZED") || !toks0(2).is("VIEW"))
        return None
      val (parts, after) = ident(toks0, 3)
      // optional CASCADE: refresh the view's own MV sources first
      // (depth-first), so one statement lands a whole stacked rollup
      // family at the current fact versions
      val cascade = after == toks0.length - 1 && toks0(after).is("CASCADE")
      if (after != toks0.length && !cascade) throw new IllegalStateException(
        s"REFRESH MATERIALIZED VIEW: unexpected trailing text in: $text0")
      val tail = if (cascade) " CASCADE" else ""
      return Some(maintCmdRel(s"REFRESH MATERIALIZED VIEW ${parts.mkString(".")}$tail") {
        (sp, path, near) =>
          if (cascade) graft.operators.MatView.refreshCascade(sp, path, sourcePath(near))
          else graft.operators.MatView.refresh(sp, path, sourcePath(near))
          Nil
      }(parts))
    }
    val text = stripTrailingSemi(sqlText)
    val toks = lex(text)
    if (toks.isEmpty) return None
    val head = toks(0)

    if (head.is("VACUUM")) {
      // VACUUM t [RETAIN n VERSIONS|DAYS|HOURS] [DRY RUN]
      val (parts, i0) = ident(toks, 1)
      var i = i0
      var retain = Option.empty[(Long, Tok)]
      if (i < toks.length && toks(i).is("RETAIN")) {
        require(i + 2 < toks.length, s"VACUUM RETAIN needs <n> <unit> in: $text")
        val n = toks(i + 1).text.toLongOption.getOrElse(
          throw new IllegalArgumentException(s"VACUUM RETAIN needs an integer, got ${toks(i + 1).text}"))
        retain = Some((n, toks(i + 2)))
        i += 3
      }
      val dry = i + 1 < toks.length && toks(i).is("DRY") && toks(i + 1).is("RUN")
      if (dry) i += 2
      require(i == toks.length, s"cannot parse VACUUM statement: $text")
      def run(sp: SparkSession, path: String): Seq[String] = retain match {
        case None =>
          // a bare VACUUM consults the TABLE's own retention policy
          // through the shared body both SQL routes call; an explicit
          // RETAIN clause always wins over the properties
          Snapshot.vacuumPolicy(sp, path, dryRun = dry)
        case Some((n, unit)) =>
          if (unit.is("VERSIONS")) Snapshot.vacuum(sp, path, keepVersions = n.toInt, dryRun = dry)
          else if (unit.is("DAYS")) Snapshot.vacuum(sp, path, keepVersions = 1,
            retainMicros = Some(n * 86400L * 1000000L), dryRun = dry)
          else if (unit.is("HOURS")) Snapshot.vacuum(sp, path, keepVersions = 1,
            retainMicros = Some(n * 3600L * 1000000L), dryRun = dry)
          else throw new IllegalArgumentException(
            s"VACUUM RETAIN unit must be VERSIONS, DAYS or HOURS, got ${unit.text}")
      }
      return Some(
        if (dry)
          // DRY RUN answers with the would-be reclaim list and mutates
          // nothing — the pre-flight every destructive verb deserves
          maintQuery(s"VACUUM ${parts.mkString(".")} DRY RUN", DryRunSchema) {
            (sp, path) => run(sp, path).map(Row(_))
          }(parts)
        else maintCmd(s"VACUUM ${parts.mkString(".")}") { (sp, path) =>
          run(sp, path); Nil
        }(parts))
    }

    if (head.is("OPTIMIZE")) {
      val (parts, i0) = ident(toks, 1)
      // OPTIMIZE t FULL — every partition marks regardless of file
      // count: the "localize this clone/import completely before its
      // source retires" statement
      val full = i0 < toks.length && toks(i0).is("FULL")
      val i = if (full) i0 + 1 else i0
      // [WHERE <raw>] [ZORDER BY (cols)] — WHERE's raw tail runs to
      // ZORDER (or end); both clauses slice the original text
      val zorderAt = toks.indexWhere(_.is("ZORDER"), i)
      val whereText: Option[String] =
        if (i < toks.length && toks(i).is("WHERE")) {
          val endPos = if (zorderAt >= 0) toks(zorderAt).pos else text.length
          Some(text.substring(toks(i).end, endPos).trim)
        } else if (i != toks.length && zorderAt != i) {
          throw new IllegalArgumentException(s"cannot parse OPTIMIZE statement: $text")
        } else None
      val zcols: Seq[String] =
        if (zorderAt < 0) Nil
        else {
          require(zorderAt + 2 < toks.length && toks(zorderAt + 1).is("BY") &&
            toks(zorderAt + 2).text == "(",
            s"OPTIMIZE: expected ZORDER BY (col, ...) in: $text")
          var j = zorderAt + 3
          val cols = Seq.newBuilder[String]
          while (j < toks.length && toks(j).text != ")") {
            if (toks(j).text != ",") cols += ident(toks, j)._1.mkString(".")
            j += 1
          }
          require(j < toks.length, s"OPTIMIZE: unclosed ZORDER BY column list in: $text")
          require(j + 1 == toks.length, s"OPTIMIZE: unexpected trailing text in: $text")
          cols.result()
        }
      val where = whereText.map { w =>
        GraftDmlCapture.refuseSubqueries(
          delegate.parseExpression(w), "OPTIMIZE WHERE")
        org.apache.spark.sql.functions.expr(w)
      }
      return Some(maintCmd(s"OPTIMIZE ${parts.mkString(".")}") { (sp, path) =>
        Snapshot.compact(sp, path, minFiles = if (full) 1 else 0,
          zorderBy = zcols, where = where); Nil
      }(parts))
    }

    if (head.is("DESCRIBE") && toks.length > 1 &&
        (toks(1).is("HISTORY") || toks(1).is("DETAIL"))) {
      // DESCRIBE is the ONE verb vanilla SQL also owns: a table named
      // `history` makes `DESCRIBE history` (no identifier after) and
      // `DESCRIBE history.orders` (trailing tokens) legitimate session
      // statements. Anything that is not exactly `DESCRIBE
      // HISTORY|DETAIL <ident>` therefore DELEGATES instead of
      // throwing — the dialect must never eat a statement it cannot
      // parse when the session parser has its own grammar for it.
      if (toks.length <= 2) return None
      val detail = toks(1).is("DETAIL")
      val (parts, i) = ident(toks, 2)
      if (i != toks.length) return None
      val schema =
        if (detail) DetailSchema else HistorySchema
      return Some(maintQuery(s"DESCRIBE ${toks(1).text} ${parts.mkString(".")}", schema) {
        (sp, path) =>
          val df = if (detail) Snapshot.describeDetail(sp, path) else Snapshot.history(sp, path)
          df.collect().toSeq
      }(parts))
    }

    if (head.is("RESTORE")) {
      val at = if (toks.length > 1 && toks(1).is("TABLE")) 2 else 1
      val (parts, i) = ident(toks, at)
      require(i + 3 < toks.length && toks(i).is("TO") &&
        (toks(i + 1).is("VERSION") || toks(i + 1).is("TIMESTAMP")) &&
        toks(i + 2).is("AS") && toks(i + 3).is("OF"),
        s"cannot parse RESTORE statement (RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF ...): $text")
      val tail = text.substring(toks(i + 3).end).trim
      require(tail.nonEmpty, s"RESTORE: missing version/timestamp in: $text")
      val byVersion = toks(i + 1).is("VERSION")
      return Some(maintCmd(s"RESTORE ${parts.mkString(".")}") { (sp, path) =>
        val v =
          // integer version or tag name — one funnel
          if (byVersion) Snapshot.resolveVersionSpec(sp, path, tail)
          else {
            val micros = evalTimestampMicros(sp, tail)
            Snapshot.versionAtTimestamp(sp, path, micros).getOrElse(
              throw new IllegalArgumentException(
                s"RESTORE: no version committed at or before $tail"))
          }
        Snapshot.restore(sp, path, v); Nil
      }(parts))
    }

    None
  }

  /** Timestamp expression → epoch micros, evaluated once on the driver
    * (`SELECT <expr>::timestamp` — parser-grade literals and arithmetic
    * for free).
    */
  private def evalTimestampMicros(spark: SparkSession, raw: String): Long = {
    val ts = spark.sql(s"SELECT CAST($raw AS TIMESTAMP)").head().getAs[java.sql.Timestamp](0)
    require(ts != null, s"RESTORE: timestamp expression evaluated to NULL: $raw")
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }

  private val DryRunSchema = StructType.fromDDL("path STRING")

  private val HistorySchema = StructType.fromDDL(
    "version BIGINT, committed_at_micros BIGINT, operation STRING, " +
      "num_files INT, num_rows BIGINT, files_added INT, files_removed INT, " +
      "rows_added BIGINT, rows_removed BIGINT, schema_ddl STRING")
  private val DetailSchema = StructType.fromDDL(
    "version BIGINT, committed_at_micros BIGINT, num_files BIGINT, num_rows BIGINT, " +
      "size_bytes BIGINT, partition_cols STRING, num_deletion_vectors BIGINT, " +
      "deletion_vector_rows BIGINT, num_bloom_files BIGINT, column_mapping STRING, " +
      "constraints STRING, generated_cols STRING, cluster_by STRING, properties STRING, " +
      "num_external_files BIGINT, external_roots STRING, tags STRING, column_ndv STRING, " +
      "branches STRING")

  /** A materialized view's SOURCE table name (from its defining SQL)
    * resolved to a snapshot path ([[GraftCatalogResolve.near]]).
    */
  private def sourcePath(near: Seq[String] => Option[String]): Seq[String] => String =
    src => near(src).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view source '${src.mkString(".")}' must live in a graft catalog"))

  private def maintCmd(desc: String)(body: (SparkSession, String) => Seq[Row])(
      parts: Seq[String]): LogicalPlan =
    GraftMaintenanceCommand(desc, parts, Nil, (sp, path, _) => body(sp, path))

  /** A maintenance command whose body resolves further table names
    * given its target (MV sources, a clone's source); `mustExist =
    * false` for the verbs that create the target.
    */
  private def maintCmdRel(desc: String, mustExist: Boolean = true)(
      body: (SparkSession, String, Seq[String] => Option[String]) => Seq[Row])(
      parts: Seq[String]): LogicalPlan =
    GraftMaintenanceCommand(desc, parts, Nil, body, mustExist)

  private def maintQuery(desc: String, schema: StructType)(
      body: (SparkSession, String) => Seq[Row])(parts: Seq[String]): LogicalPlan =
    GraftMaintenanceCommand(desc, parts,
      DataTypeUtils.toAttributes(schema), (sp, path, _) => body(sp, path))
}

/** One parsed maintenance statement: the identifier resolves through
  * the session's catalog manager AT RUN TIME (current catalog rules
  * apply, exactly like any other statement), must land in a
  * [[GraftCatalog]], and the body runs against the resolved table
  * path, plus a resolver for the statement's further names
  * ([[GraftCatalogResolve.near]]). DESCRIBE forms carry their result
  * schema in `output`.
  */
case class GraftMaintenanceCommand(desc: String, nameParts: Seq[String],
                                   override val output: Seq[Attribute],
                                   body: (SparkSession, String, Seq[String] => Option[String]) => Seq[Row],
                                   mustExist: Boolean = true)
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val path = GraftCatalogResolve.pathOf(session, nameParts).getOrElse(
      throw new UnsupportedOperationException(
        s"$desc: table must live in a graft catalog " +
          s"('${nameParts.mkString(".")}' resolves elsewhere)"))
    if (mustExist) require(Snapshot.isSnapshotTable(session, path),
      s"$desc: no snapshot table at $path")
    body(session, path, GraftCatalogResolve.near(session, nameParts, _))
  }

  override def simpleString(maxFields: Int): String = s"GraftMaintenanceCommand $desc"
}
