package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column => SColumn, DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{AlwaysTrue, And, BaseRelation, EqualNullSafe, EqualTo, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Snapshot, SnapshotStats}

/** One snapshot table pinned at one manifest — the DSv2 `Table` the
  * catalog hands the analyzer. Pinning at load time IS reader
  * isolation: every scan of one query resolves the same version, and
  * `loadTable(ident, version)` is time travel with no extra machinery.
  *
  * The fast read path is NOT here: [[graft.plans.GraftCatalogRules]]
  * swaps the analyzed relation for the native manifest-backed parquet
  * scan (vectorized, whole-stage codegen, stats/bloom pruning). The
  * [[newScanBuilder]] below is the extension-less BACKSTOP — a V1
  * row-based scan that still prunes files by pushed filters, so a
  * session without the extensions reads correctly, just slower.
  */
final case class GraftTable(tableName: String, path: String, manifest: Snapshot.Manifest,
                            hideGenerated: Boolean = false, writeTarget: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  override def name(): String = tableName

  /** `hideGenerated` (INSERT-target loads only): generated partition
    * columns drop out of the declared schema so positional INSERT
    * resolution expects exactly the columns a batch actually carries —
    * the write path re-derives them.
    */
  override lazy val schema: StructType = {
    // DEFAULT metadata rides the declared schema: CURRENT_DEFAULT is
    // what lets the vanilla analyzer fill column-list INSERTs, and
    // EXISTS_DEFAULT flows through the native-scan swap (which
    // preserves these attributes) into the parquet readers' backfill
    val full = Snapshot.withDefaultMetadata(
      StructType.fromDDL(manifest.schemaDdl), manifest)
    if (!hideGenerated) full
    else StructType(full.fields.filterNot(f => manifest.generatedCols.contains(f.name)))
  }

  override def partitioning(): Array[Transform] =
    manifest.partitionCols.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    (manifest.properties ++ Map(
      TableCatalog.PROP_LOCATION -> path,
      TableCatalog.PROP_PROVIDER -> "graft-snapshot",
      "version" -> manifest.version.toString)).asJava

  override def version(): String = manifest.version.toString

  /** A write target reports none: the engine's own write path checks
    * every CHECK constraint before any file lands, and a reported one
    * would make Spark add a second, row-at-a-time invariant with an
    * error of its own.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (writeTarget) Array.empty
    else manifest.constraints.toSeq.sortBy(_._1).map { case (n, p) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(p).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  // no OVERWRITE_DYNAMIC capability: dynamic partition overwrite has no
  // V1 write fallback in Spark (V2Writes only builds V1 writes for
  // append and overwrite-by-expression), so advertising it would fail
  // at exec in a stock session. The statement still WORKS under the
  // engine extensions: GraftDmlCapture lifts the analyzed
  // OverwritePartitionsDynamic plan into Snapshot.replacePartitions
  // (one atomic commit, untouched partitions byte-identical) before
  // the capability check runs. Stock sessions keep static overwrite +
  // the Scala replacePartitions API, refusing dynamic mode loudly.
  //
  // AUTOMATIC_SCHEMA_EVOLUTION arms `MERGE … WITH SCHEMA EVOLUTION`:
  // the analyzer's own rule (ResolveMergeIntoSchemaEvolution) computes
  // the source-minus-target column set and routes it through
  // [[GraftCatalog.alterTable]] — i.e. [[Snapshot.addColumns]], one
  // metadata-only commit: no file rewritten, pre-evolution files read
  // the new columns as null.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // ------------------------------------------------- read (backstop)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftV1ScanBuilder(this)

  // --------------------------------------------------------- writes

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this)

  // ------------------------------------------------ DELETE FROM t

  /** Filter-convertible DELETE through the standard DSv2 path — the
    * same three-tier engine (stats-pruned, per-file match counts,
    * deletion vectors) as the Scala API. The extension rule routes
    * richer predicates; this handles stock sessions.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterColumns.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.flatMap(FilterColumns.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Snapshot.delete(org.apache.spark.sql.SparkSession.active, path, pred)
  }

  override def truncateTable(): Boolean = {
    val spark = org.apache.spark.sql.SparkSession.active
    Snapshot.overwrite(spark, path,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    true
  }

  // ------------------------------- partitions (metadata-only listing)

  /** Partition management straight off the manifest: `SHOW PARTITIONS`
    * and `ALTER TABLE … DROP PARTITION` resolve through Spark's own v2
    * exec nodes. Listing never touches data files (manifest paths +
    * stats only — 100 TB-safe); dropping routes through the same
    * three-tier DELETE engine as every other row-level delete.
    * Partitions are implicit in the data, so create/replace refuse.
    *
    * A file wholly masked by a deletion vector still lists its
    * partition until the next fold/compact rewrites it — the listing
    * reflects physical layout, like the file-level stats it rides on.
    */
  override def partitionSchema(): StructType = {
    val full = StructType.fromDDL(manifest.schemaDdl)
    StructType(manifest.partitionCols.map(c => full(full.fieldIndex(c))))
  }

  /** One hive path-segment tuple → CATALYST values (UTF8String, Long,
    * date-days …), via the same string→type cast Spark's own partition
    * inference uses — the single decode both partition surfaces share.
    */
  private def decodeTuple(ps: StructType, vals: Map[String, String]): Seq[Any] = {
    val tz = Option(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    ps.fields.toSeq.map { fld =>
      val raw = vals(fld.name)
      if (raw == Snapshot.NullPartition) null
      else org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        fld.dataType, tz).eval(null)
    }
  }

  /** Distinct live partition tuples. Zero-row schema stubs are not
    * partitions.
    */
  private def livePartitionTuples: Seq[Seq[Any]] = {
    val ps = partitionSchema()
    manifest.files
      .filter(f => manifest.stats.get(f).forall(_.rows > 0))
      .map(f => Snapshot.partitionValues(manifest.partitionCols, f))
      .filter(_.size == manifest.partitionCols.size)
      .distinct
      .map(decodeTuple(ps, _))
  }

  override def listPartitionIdentifiers(names: Array[String],
                                        ident: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    require(names.length == ident.numFields,
      s"listPartitionIdentifiers: ${names.length} names vs ${ident.numFields} values")
    val idx = names.map(ps.fieldIndex)
    livePartitionTuples.filter { t =>
      names.indices.forall { i =>
        java.util.Objects.equals(t(idx(i)), ident.get(i, ps.fields(idx(i)).dataType))
      }
    }.map(t => InternalRow.fromSeq(t)).toArray
  }

  /** The drop is a partition-scoped DELETE: stats-pruned to the named
    * partition's files, whole-file drops where every row matches.
    */
  override def dropPartition(ident: InternalRow): Boolean = {
    if (!partitionExists(ident)) return false
    val ps = partitionSchema()
    val spark = org.apache.spark.sql.SparkSession.active
    val pred = ps.fields.zipWithIndex.map { case (f, i) =>
      val v = ident.get(i, f.dataType)
      if (v == null) col(f.name).isNull
      else col(f.name) === lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, f.dataType))
    }.reduce(_ && _)
    Snapshot.delete(spark, path, pred)
    true
  }

  /** TRUNCATE PARTITION ≡ DROP PARTITION here: partitions exist exactly
    * while live files reference them, so emptying one and dropping one
    * are the same commit.
    */
  override def truncatePartition(ident: InternalRow): Boolean = dropPartition(ident)

  override def createPartition(ident: InternalRow,
                               properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "GraftTable: partitions are implicit in data files — INSERT creates them")

  override def replacePartitionMetadata(ident: InternalRow,
                                        properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "GraftTable: partition metadata is derived from the manifest and cannot be set")

  /** Physical rows/bytes of the partition's live files, from manifest
    * stats alone (no job, no file listing).
    */
  override def loadPartitionMetadata(ident: InternalRow): util.Map[String, String] = {
    val ps = partitionSchema()
    val want: Seq[Any] = ps.fields.toSeq.zipWithIndex.map { case (f, i) => ident.get(i, f.dataType) }
    var rows = 0L; var bytes = 0L
    manifest.files.foreach { f =>
      val vals = Snapshot.partitionValues(manifest.partitionCols, f)
      if (vals.size == manifest.partitionCols.size) {
        val tuple = decodeTuple(ps, vals)
        if (tuple.indices.forall(i => java.util.Objects.equals(tuple(i), want(i))))
          manifest.stats.get(f).foreach { st => rows += st.rows; bytes += st.bytes }
      }
    }
    Map("numRows" -> rows.toString, "sizeInBytes" -> bytes.toString).asJava
  }

  override def toString: String = s"GraftTable($tableName v${manifest.version})"
}

/** Backstop scan: column-pruned, file-pruned by pushed filters, but
  * row-based (every filter re-applied above by Spark — pruning stays
  * an optimization by construction). The extension rule replaces the
  * whole relation before this ever plans, so this path only runs in
  * sessions without `graft.plans.GraftExtensions`.
  */
private final class GraftV1ScanBuilder(table: GraftTable)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema
  private var filters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(f: Array[Filter]): Array[Filter] = { filters = f; f }

  override def pushedFilters(): Array[Filter] = filters

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val rel: BaseRelation with TableScan = new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        // manifest-recorded bytes, so even the extension-less path
        // sizes joins correctly (the default is "huge" — a small dim
        // table would never broadcast); unknown files fall back to the
        // conservative default
        override def sizeInBytes: Long = {
          val known = table.manifest.files
            .flatMap(table.manifest.stats.get).map(_.bytes).filter(_ > 0L)
          if (known.nonEmpty && known.size == table.manifest.files.size) known.sum
          else super.sizeInBytes
        }
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          val spark = context.sparkSession
          val m = table.manifest
          val kept =
            if (filters.isEmpty) m.files
            else SnapshotStats.pruneByFilters(spark, m, filters, Some(table.path))
          val df = Snapshot.readManifestFiles(spark, table.path, m, kept)
          if (required.isEmpty)
            df.select(df.columns.head).rdd.map(_ => org.apache.spark.sql.Row.empty)
          else df.select(required.fieldNames.map(col).toSeq: _*).rdd
        }
      }
      rel.asInstanceOf[T]
    }
  }
}

/** V1-write fallback: one builder, three modes, each one atomic
  * manifest commit.
  *
  *  - append (`INSERT INTO`)                → [[Snapshot.append]]
  *  - truncate / overwrite-all (`INSERT OVERWRITE`) → [[Snapshot.overwrite]]
  *  - overwrite by partition filter
  *    (`INSERT OVERWRITE … PARTITION (p=…)`) → [[Snapshot.replacePartitions]]
  *    restricted to the named tuples
  */
private final class GraftWriteBuilder(table: GraftTable) extends WriteBuilder
    with SupportsOverwrite {

  private sealed trait Mode
  private case object Append extends Mode
  private case object Truncate extends Mode
  private case class ByFilter(filters: Array[Filter]) extends Mode

  private var mode: Mode = Append

  override def truncate(): WriteBuilder = { mode = Truncate; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) Truncate
      else ByFilter(filters)
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwriteIgnored: Boolean): Unit = {
        val spark = data.sparkSession
        mode match {
          case Append   => Snapshot.append(spark, table.path, data)
          case Truncate => Snapshot.overwrite(spark, table.path, data)
          case ByFilter(filters) =>
            // static partition overwrite: every conjunct must pin a
            // partition column to a literal; the affected tuples drop
            // and the data lands in their place
            val pinned = FilterColumns.partitionEqualities(filters, table.manifest)
            Snapshot.replacePartitions(spark, table.path, data,
              dropOld = pv => pinned.forall { case (c, v) => pv.get(c).contains(v) })
        }
      }
    }
  }
}

/** Staged table for ATOMIC CTAS / RTAS: the analyzer's staged-write
  * protocol funnels the query result into [[insert]], which lands as
  * ONE snapshot commit — create for CTAS, a history-preserving
  * [[Snapshot.overwrite]] for REPLACE (never drop-then-recreate: a
  * concurrent pinned reader keeps resolving its version, and time
  * travel across the replace keeps working). `commitStagedChanges` is
  * a no-op because the manifest commit IS the publication point; an
  * abort before the write leaves nothing behind.
  */
private[catalog] final class StagedGraftTable(tableName: String, path: String,
                                              declared: StructType,
                                              pCols: Seq[String],
                                              genCols: Map[String, String],
                                              mode: StagedGraftTable.Mode,
                                              clusterBy: Seq[String] = Nil,
                                              tblProperties: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] =
    pCols.map(Expressions.identity).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  // the staged-write protocol plans RTAS as overwrite-by-expression /
  // truncate over the staged table; the MODE is already decided by
  // which stage* call produced this table, so those verbs just return
  // the builder
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with SupportsOverwrite {
    override def overwrite(filters: Array[Filter]): WriteBuilder = this
    override def truncate(): WriteBuilder = this
    override def build(): Write = new V1Write {
      override def toInsertableRelation: InsertableRelation = new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val spark = data.sparkSession
          val exists = Snapshot.latestVersion(spark, path).isDefined
          mode match {
            case StagedGraftTable.Create =>
              require(!exists, s"snapshot table already exists: $path")
              Snapshot.create(spark, path, data, pCols, genCols, clusterBy = clusterBy,
                properties = tblProperties)
            case StagedGraftTable.Replace | StagedGraftTable.CreateOrReplace =>
              if (!exists) Snapshot.create(spark, path, data, pCols, genCols,
                clusterBy = clusterBy, properties = tblProperties)
              else {
                val m = Snapshot.latestManifest(spark, path).get
                // declared policies must resolve against the
                // REPLACEMENT schema BEFORE any commit
                clusterBy.foreach(c => require(data.columns.contains(c),
                  s"REPLACE: CLUSTER BY column $c not in the query schema"))
                // a REPLACE with no PARTITIONED BY keeps the existing
                // layout; with one, the layout EVOLVES atomically
                // (layout is per manifest — time travel keeps each
                // version's own scheme)
                if (pCols.isEmpty || (pCols == m.partitionCols && genCols == m.generatedCols))
                  Snapshot.overwrite(spark, path, data)
                else Snapshot.overwritePartitioned(spark, path, data, pCols, genCols)
                // a re-declared CLUSTER BY on the REPLACE becomes the
                // new layout policy (metadata commit; the overwrite
                // itself already dropped stale keys)
                if (clusterBy.nonEmpty &&
                    Snapshot.latestManifest(spark, path).get.clusterBy != clusterBy)
                  Snapshot.setClusterBy(spark, path, clusterBy)
                // REPLACE REDEFINES: a declared property set replaces
                // the old one whole; declaring none keeps it
                if (tblProperties.nonEmpty)
                  Snapshot.setProperties(spark, path, tblProperties,
                    unset = (m.properties.keySet -- tblProperties.keySet).toSeq.sorted)
              }
          }
        }
      }
    }
  }

  override def commitStagedChanges(): Unit = () // the manifest commit published it
  override def abortStagedChanges(): Unit = ()  // nothing staged outside the log
}

private[catalog] object StagedGraftTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** DSv1 `Filter` → `Column` for the fallback DELETE path and the
  * partition-pinning of static `INSERT OVERWRITE`. Only shapes with
  * exact Column equivalents convert; anything else returns None and
  * the caller refuses (never a silently weaker predicate).
  */
private[graft] object FilterColumns {
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[SColumn] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r)                => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r)                 => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c)                   => toColumn(c).map(!_)
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case _                        => None
  }

  /** Static-partition-overwrite filters: a conjunction of equalities
    * over partition columns, mapped to the manifest's raw partition
    * value strings. Anything else refuses.
    */
  def partitionEqualities(filters: Array[Filter],
                          m: Snapshot.Manifest): Map[String, String] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    filters.flatMap(flat).map {
      case EqualTo(a, v) if m.partitionCols.contains(a) && v != null =>
        a -> String.valueOf(v)
      case EqualNullSafe(a, v) if m.partitionCols.contains(a) =>
        a -> (if (v == null) Snapshot.NullPartition else String.valueOf(v))
      case other => throw new IllegalArgumentException(
        s"INSERT OVERWRITE by filter supports only partition-column equalities " +
          s"(partitioned by ${m.partitionCols.mkString(", ")}), got $other")
    }.toMap
  }
}
