package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Snapshot

/** A REAL Spark `TableCatalog` over snapshot tables, so the vanilla
  * parser/analyzer resolve them BY NAME — `spark.sql("INSERT INTO
  * graft.db.t …")`, CTAS, `SELECT … FROM graft.db.t VERSION AS OF 3`,
  * DESCRIBE, SHOW TABLES, ALTER TABLE all work under stock spark-sql
  * with zero registry plumbing. This is the difference between "a
  * ported reference script is SQL text end to end" (the
  * `tables: Map[name → path]` front end, [[RegistryBinding]]) and "a
  * ported script runs under the session's own catalog", which is what
  * a BigQuery user actually has: `dataset.table` names, no path maps.
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  * }}}
  *
  * Layout is warehouse-rooted: `graft.db.t` lives at
  * `<warehouse>/db/t` (namespaces are directories, tables are
  * snapshot-table roots — the manifest log IS the table metadata, so
  * this catalog keeps no state of its own and needs no metastore; at
  * 100 TB the listing cost of a catalog op is one directory, never
  * the data). The warehouse location is re-read from the session conf
  * on every call, so a long-lived session can be repointed without
  * rebuilding the catalog instance.
  *
  * Reads: [[graft.plans.GraftCatalogRules]] rewrites the analyzed
  * `DataSourceV2Relation` to the SAME native manifest-backed parquet
  * scan the registered source plans (vectorized, stats-pruned, DV- and
  * column-mapping-aware), preserving output attribute ids so the swap
  * is invisible to resolution. Without the extension the table still
  * reads through a V1 fallback scan — correct, row-based.
  *
  * Writes ride the V1 write fallback ([[GraftWriteBuilder]]):
  * INSERT INTO → [[Snapshot.append]], INSERT OVERWRITE →
  * [[Snapshot.overwrite]] / partition replace, dynamic partition
  * overwrite → [[Snapshot.replacePartitions]]. CTAS/RTAS go through
  * the STAGING protocol ([[StagedGraftTable]]) and commit atomically —
  * REPLACE of an existing table is [[Snapshot.overwrite]], one
  * history-preserving commit, never drop-then-recreate.
  *
  * Time travel: `loadTable(ident, version|timestamp)` pins the
  * manifest, which is exactly `VERSION AS OF` / `TIMESTAMP AS OF`
  * in SQL.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with StagingTableCatalog {

  private var catalogName: String = _
  private var initOptions: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options.asScala.toMap
  }

  override def name(): String = catalogName

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark: SparkSession = SparkSession.active

  /** Warehouse root — session conf first (re-read per call: a test or
    * long-lived session may repoint it), the initialize-time option as
    * the fallback.
    */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(initOptions.get("warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        s"GraftCatalog '$catalogName' needs a warehouse: set " +
          s"spark.sql.catalog.$catalogName.warehouse"))

  private def fs: FileSystem =
    new HPath(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def checkSegment(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("..") && !s.startsWith("_"),
      s"GraftCatalog: illegal name segment '$s'")
    s
  }

  /** `graft.db.t` → `<warehouse>/db/t`. */
  private[graft] def pathFor(ident: Identifier): String =
    ((ident.namespace.toSeq :+ ident.name()).map(checkSegment))
      .mkString(warehouse + "/", "/", "")

  private def nsPath(namespace: Array[String]): HPath =
    new HPath((warehouse +: namespace.toSeq.map(checkSegment)).mkString("/"))

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => Snapshot.isSnapshotTable(spark, p.toString))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    Snapshot.isSnapshotTable(spark, pathFor(ident))

  override def loadTable(ident: Identifier): Table = {
    val path = pathFor(ident)
    val m = Snapshot.latestManifest(spark, path).getOrElse(
      throw new NoSuchTableException(ident))
    GraftTable(fullName(ident), path, m)
  }

  /** INSERT targets HIDE generated partition columns from the declared
    * schema: the engine derives them on every write (caller values are
    * overridden by contract), so the natural ported-script statement —
    * `INSERT INTO t SELECT id, ts` against a `days(ts)`-partitioned
    * table — resolves positionally without the phantom column.
    * `INSERT OVERWRITE` requests {INSERT, DELETE} (it may drop rows),
    * so that set hides too. UPDATE/DELETE targets keep the full schema
    * (their predicates filter on the generated partition column all
    * the time); so does any MERGE with an UPDATE arm. The one overlap
    * — a MERGE whose arms are exactly DELETE + INSERT also requests
    * {INSERT, DELETE} — loses sight of the generated column in its ON
    * clause, which fails resolution LOUDLY (name its source column
    * instead); silently failing every positional INSERT OVERWRITE
    * would be the worse trade. Every write load is a `writeTarget`
    * (see [[GraftTable.constraints]]).
    */
  override def loadTable(ident: Identifier,
                         writePrivileges: util.Set[TableWritePrivilege]): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val p = writePrivileges.asScala.toSet
    val insertShaped = p == Set(TableWritePrivilege.INSERT) ||
      p == Set(TableWritePrivilege.INSERT, TableWritePrivilege.DELETE)
    t.copy(hideGenerated = insertShaped && t.manifest.generatedCols.nonEmpty,
      writeTarget = true)
  }

  /** `VERSION AS OF v` — the analyzer hands the version string through.
    * An integer is a version number; anything else resolves as a TAG
    * name or a BRANCH head ([[Snapshot.resolveReadSpec]]), so
    * `VERSION AS OF 'run1'` reads a pinned dataset and
    * `VERSION AS OF 'dev'` reads a writable branch, both by name.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathFor(ident)
    if (!Snapshot.isSnapshotTable(spark, path)) throw new NoSuchTableException(ident)
    val (readPath, m) = Snapshot.resolveReadSpec(spark, path, version)
    GraftTable(fullName(ident), readPath, m)
  }

  /** `TIMESTAMP AS OF ts` — epoch MICROS from the analyzer. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathFor(ident)
    if (!Snapshot.isSnapshotTable(spark, path)) throw new NoSuchTableException(ident)
    val v = Snapshot.versionAtTimestamp(spark, path, timestamp).getOrElse(
      throw new IllegalArgumentException(
        s"GraftCatalog: no version of ${fullName(ident)} committed at or before " +
          s"timestamp $timestamp"))
    GraftTable(fullName(ident), path, Snapshot.manifest(spark, path, v))
  }

  private def fullName(ident: Identifier): String =
    (name() +: ident.namespace.toSeq :+ ident.name()).mkString(".")

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createConstrained(ident, columns, partitions, properties, Map.empty)

  private def createConstrained(ident: Identifier, columns: Array[Column],
                                partitions: Array[Transform],
                                properties: util.Map[String, String],
                                constraints: Map[String, String]): Table = {
    val path = pathFor(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val userProps = GraftCatalog.userProperties(properties)
    val (pTransforms, clusterBy) = GraftCatalog.splitClusterBy(partitions.toSeq, "CREATE TABLE")
    val (pCols, genCols) = GraftCatalog.partitionSpec(pTransforms, "CREATE TABLE")
    val declared = StructType(columns.map { c =>
      require(c.generationExpression() == null,
        s"GraftCatalog: explicit GENERATED columns are not supported (${c.name()}); " +
          "use PARTITIONED BY (days(ts), ...) transforms")
      StructField(c.name(), c.dataType(), c.nullable())
    })
    // CREATE-time DEFAULTs: write defaults only (every file written
    // from here on carries the column physically)
    val defaults = columns.collect {
      case c if c.defaultValue() != null => c.name() -> c.defaultValue().getSql
    }.toMap
    // a TIME transform's generated column joins the schema with the
    // transform's own type (days/months/years → DATE, hours → TIMESTAMP)
    val genFields = genCols.keys.toSeq.sorted
      .filterNot(g => declared.fieldNames.contains(g)).map { g =>
        StructField(g,
          if (g.endsWith("_hour")) org.apache.spark.sql.types.TimestampType
          else org.apache.spark.sql.types.DateType)
      }
    val schema = StructType(declared.fields ++ genFields)
    Snapshot.create(spark, path,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      pCols, genCols, constraints,
      keepNullability = true, // DDL-declared NOT NULL is real
      clusterBy = clusterBy,
      properties = userProps,
      defaults = defaults)
    loadTable(ident)
  }

  @deprecated("use the Column[] variant", "")
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTable(ident,
      schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  /** The overload `CreateTableExec` ACTUALLY calls (Spark 4.x packs
    * columns + partitions + properties + CONSTRAINTS into a
    * `TableInfo`). The interface default forwards everything except
    * the constraints — overriding here is what makes
    * `CREATE TABLE t (v INT, CONSTRAINT pos CHECK (v > 0))` land the
    * constraint instead of silently dropping it. The constraints ride
    * the FIRST commit ([[Snapshot.create]]'s `constraints`), so there
    * is no version of the table, however brief, without them.
    */
  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints().toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        c.name() -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: only CHECK constraints are supported, got ${other.name()}")
    }
    createConstrained(ident, info.columns(), info.partitions(), info.properties(),
      checks.toMap)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathFor(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"GraftCatalog $what: nested field paths are not supported " +
          s"(${fieldNames.mkString(".")})")
      fieldNames.head
    }
    // one ADD COLUMNS statement is ONE metadata-only commit however
    // many columns it adds. ADD COLUMN … DEFAULT v: the default is both
    // the write default and the frozen existence default every
    // pre-evolution row reads — no file rewritten
    val adds = changes.collect { case add: TableChange.AddColumn =>
      require(add.position() == null,
        s"GraftCatalog ADD COLUMNS: FIRST/AFTER positions are not supported")
      (StructField(topLevel(add.fieldNames(), "ADD COLUMNS"), add.dataType(), nullable = true),
        Option(add.defaultValue()).map(_.getSql))
    }
    if (adds.nonEmpty)
      Snapshot.addColumns(spark, path, adds.map(_._1),
        adds.collect { case (f, Some(d)) => f.name -> d }.toMap)
    changes.foreach {
      case _: TableChange.AddColumn => () // committed above
      case upd: TableChange.UpdateColumnDefaultValue =>
        // SET DEFAULT expr / DROP DEFAULT (delivered as an empty sql):
        // write default only — history never reinterprets
        val sql = Option(upd.newCurrentDefault()).map(_.getSql).getOrElse("")
        Snapshot.setColumnDefault(spark, path,
          topLevel(upd.fieldNames(), "ALTER COLUMN"),
          if (sql == null || sql.trim.isEmpty) None else Some(sql))
      case ren: TableChange.RenameColumn =>
        Snapshot.renameColumn(spark, path,
          topLevel(ren.fieldNames(), "RENAME COLUMN"), ren.newName())
      case del: TableChange.DeleteColumn =>
        val col = topLevel(del.fieldNames(), "DROP COLUMN")
        val exists = Snapshot.latestManifest(spark, path).exists(m =>
          StructType.fromDDL(m.schemaDdl).fieldNames.contains(col))
        if (exists || del.ifExists() == null || !del.ifExists())
          Snapshot.dropColumn(spark, path, col)
      case upd: TableChange.UpdateColumnType =>
        Snapshot.widenColumnType(spark, path,
          topLevel(upd.fieldNames(), "ALTER COLUMN"), upd.newDataType())
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case check: org.apache.spark.sql.connector.catalog.constraints.Check =>
            Snapshot.addConstraint(spark, path, check.name(), check.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog: only CHECK constraints are supported, got ${other.name()}")
        }
      case drop: TableChange.DropConstraint =>
        require(drop.mode() != TableChange.DropConstraint.Mode.CASCADE,
          "GraftCatalog DROP CONSTRAINT: CASCADE is not supported")
        Snapshot.dropConstraint(spark, path, drop.name(), drop.ifExists())
      case cb: TableChange.ClusterBy =>
        // ALTER TABLE t CLUSTER BY (cols) / CLUSTER BY NONE — the
        // layout policy the next OPTIMIZE applies
        Snapshot.setClusterBy(spark, path,
          cb.clusteringColumns().toSeq.map(r =>
            topLevel(r.fieldNames(), "CLUSTER BY")))
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        () // batched below: one atomic commit per ALTER statement
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported table change $other")
    }
    // Spark delivers one TableChange PER KEY; commit the statement's
    // whole property delta as ONE manifest version, so a concurrent
    // reader never observes a half-applied SET TBLPROPERTIES
    val setProps = changes.collect { case sp: TableChange.SetProperty =>
      require(!GraftCatalog.ReservedProps.contains(sp.property()),
        s"GraftCatalog SET TBLPROPERTIES: '${sp.property()}' is reserved")
      require(!sp.property().startsWith(TableCatalog.OPTION_PREFIX),
        s"GraftCatalog SET TBLPROPERTIES: '${sp.property()}' is a write option, " +
          "not a table property")
      sp.property() -> sp.value()
    }.toMap
    val unsetProps = changes.collect { case rm: TableChange.RemoveProperty => rm.property() }
    // the vacuum floor is the createTag/restore vacuum-race guard —
    // engine state riding the property map; a user SET could disarm or
    // corrupt it, so by-name writes refuse loudly (Snapshot.setProperties
    // additionally preserves it against any unset sweep)
    (setProps.keys ++ unsetProps).find(_ == Snapshot.VacuumFloorProp).foreach(k =>
      throw new IllegalArgumentException(
        s"GraftCatalog SET/UNSET TBLPROPERTIES: '$k' is engine-managed " +
          "(committed by vacuum)"))
    if (setProps.nonEmpty || unsetProps.nonEmpty)
      Snapshot.setProperties(spark, path, setProps, unset = unsetProps)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = pathFor(ident)
    if (!Snapshot.isSnapshotTable(spark, path)) false
    else {
      new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new HPath(path), true)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    // `ALTER TABLE g.db.a RENAME TO g.db.b` hands the TO identifier
    // through verbatim, catalog segment included — strip it. Guard:
    // when a NAMESPACE is itself named like the catalog (g.g.b), the
    // literal namespace exists on disk and wins; only a head segment
    // that does NOT name a real namespace is read as the catalog. A
    // directory that is a snapshot TABLE root is not a namespace — a
    // table named like the catalog must not suppress the strip (the
    // rename would land inside that table's directory).
    val literalNs = namespaceExists(newIdent0.namespace) &&
      !Snapshot.isSnapshotTable(spark, nsPath(newIdent0.namespace).toString)
    val newIdent =
      if (newIdent0.namespace.headOption.contains(name()) && !literalNs)
        Identifier.of(newIdent0.namespace.tail, newIdent0.name())
      else newIdent0
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val to = new HPath(pathFor(newIdent))
    if (!fs.exists(to.getParent))
      throw new NoSuchNamespaceException(name() +: newIdent.namespace.toSeq)
    require(fs.rename(new HPath(pathFor(oldIdent)), to),
      s"GraftCatalog: rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
  }

  override def invalidateTable(ident: Identifier): Unit = () // nothing cached

  // ------------------------------------------- staged CTAS / RTAS

  override def stageCreate(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, columns, partitions, StagedGraftTable.Create,
      GraftCatalog.userProperties(properties))
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, columns, partitions, StagedGraftTable.Replace,
      GraftCatalog.userProperties(properties))
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable = {
    stage(ident, columns, partitions, StagedGraftTable.CreateOrReplace,
      GraftCatalog.userProperties(properties))
  }

  // TableInfo-overload twins: CTAS syntax cannot express constraints
  // today, but if a future caller routes any, refuse LOUDLY rather
  // than let the interface default drop them on the floor.
  private def refuseStagedConstraints(
      info: org.apache.spark.sql.connector.catalog.TableInfo): Unit =
    require(info.constraints().isEmpty,
      "GraftCatalog: constraints on CTAS/RTAS are not supported; " +
        "add them with ALTER TABLE ... ADD CONSTRAINT after the create")

  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageCreate(ident, info.columns(), info.partitions(), info.properties())
  }

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageReplace(ident, info.columns(), info.partitions(), info.properties())
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector.catalog.TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageCreateOrReplace(ident, info.columns(), info.partitions(), info.properties())
  }

  private def stage(ident: Identifier, columns: Array[Column],
                    partitions: Array[Transform],
                    mode: StagedGraftTable.Mode,
                    properties: Map[String, String]): StagedTable = {
    val (pTransforms, clusterBy) = GraftCatalog.splitClusterBy(partitions.toSeq, "CTAS")
    val (pCols, genCols) = GraftCatalog.partitionSpec(pTransforms, "CTAS")
    val schema = StructType(columns.map(c =>
      StructField(c.name(), c.dataType(), c.nullable())))
    new StagedGraftTable(fullName(ident), pathFor(ident), schema, pCols, genCols, mode,
      clusterBy, properties)
  }

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new HPath(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_"))
      .map(Array(_))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException((name() +: namespace.toSeq).toArray)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("GraftCatalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) false
    else {
      if (!cascade && fs.listStatus(nsPath(namespace)).nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          (name() +: namespace.toSeq).toArray)
      fs.delete(nsPath(namespace), true)
    }
  }
}

private object GraftCatalog {
  /** Keys Spark itself stuffs into the property map (plus our own
    * `version` surfaced by [[GraftTable.properties]]) — everything else
    * is a USER property carried verbatim in the manifest.
    */
  private[catalog] val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT, TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE, "version")

  /** The user-declared TBLPROPERTIES out of a create's property map.
    * Keys Spark itself injects (owner/provider/location/…) and write
    * options are stripped — the engine cannot tell them from
    * user-typed ones. `version` IS distinguishable (Spark never
    * injects it at create) and collides with the surfaced manifest
    * version, so it refuses loudly rather than silently dropping.
    */
  def userProperties(properties: util.Map[String, String]): Map[String, String] = {
    require(!properties.containsKey("version"),
      "GraftCatalog: table property 'version' is reserved (the manifest version)")
    properties.asScala.toMap.filterNot { case (k, _) =>
      ReservedProps.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX)
    }
  }

  /** Split `CLUSTER BY` out of a transform list: Spark 4 delivers
    * clustering as a `ClusterByTransform` riding the partitioning
    * array. Returns (remaining transforms, clustering column names).
    */
  def splitClusterBy(partitioning: Seq[Transform],
                     what: String): (Seq[Transform], Seq[String]) = {
    import org.apache.spark.sql.connector.expressions.ClusterByTransform
    val (cbs, rest) = partitioning.partition(_.isInstanceOf[ClusterByTransform])
    val cols = cbs.flatMap { case cb: ClusterByTransform =>
      cb.columnNames.map(r => r.fieldNames match {
        case Array(one) => one
        case other => throw new IllegalArgumentException(
          s"$what: nested CLUSTER BY reference ${other.mkString(".")}")
      })
    }
    (rest, cols)
  }

  /** The Scala case classes behind Transform are private[sql]; the
    * public face is the Java interface. Identity transforms partition
    * on the named column; the TIME transforms (`days/months/years/
    * hours(ts)` — the reference's DAY/MONTH-partitioned BigQuery
    * landing tables) become a VISIBLE generated column (`ts_day`, …)
    * the writers derive on every load. Returns (partition columns in
    * declared order, generated-column name → generator SQL).
    */
  def partitionSpec(partitioning: Seq[Transform],
                    what: String): (Seq[String], Map[String, String]) = {
    val gen = Map.newBuilder[String, String]
    val cols = partitioning.map { t =>
      val src = t.references match {
        case Array(ref) => ref.fieldNames match {
          case Array(one) => one
          case other => throw new IllegalArgumentException(
            s"$what: nested partition reference ${other.mkString(".")}")
        }
        case _ => throw new IllegalArgumentException(
          s"$what: unsupported PARTITIONED BY transform $t")
      }
      t.name match {
        case "identity" => src
        case "days"   => gen += s"${src}_day" -> s"CAST(date_trunc('DAY', `$src`) AS DATE)"; s"${src}_day"
        case "months" => gen += s"${src}_month" -> s"CAST(date_trunc('MONTH', `$src`) AS DATE)"; s"${src}_month"
        case "years"  => gen += s"${src}_year" -> s"CAST(date_trunc('YEAR', `$src`) AS DATE)"; s"${src}_year"
        case "hours"  => gen += s"${src}_hour" -> s"date_trunc('HOUR', `$src`)"; s"${src}_hour"
        case other => throw new IllegalArgumentException(
          s"$what: unsupported PARTITIONED BY transform $other($src) " +
            "(identity, days, months, years, hours)")
      }
    }
    (cols, gen.result())
  }
}
