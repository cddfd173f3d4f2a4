package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, RelationProvider}
import org.apache.spark.sql.types._

import graft.operators.{Snapshot, SnapshotStats}

/** Data-source registration for snapshot tables, so the commit-log layer
  * is reachable from the STANDARD read path — including pure SQL:
  *
  * {{{
  *   spark.read.format("graft.sources.SnapshotSource").load(path)
  *   // or, after createOrReplaceTempView:
  *   spark.sql("SELECT ... FROM t WHERE d BETWEEN ... ")   // skips files
  * }}}
  *
  * The relation is a plain [[HadoopFsRelation]] over a MANIFEST-backed
  * [[FileIndex]] — the architecture every serious lakehouse reader uses,
  * because it inherits Spark's whole native parquet scan: filter
  * pushdown into the file scan (`PushedFilters`, row-group pruning),
  * column pruning at the reader, vectorized columnar batches and
  * whole-stage codegen. This source only decides WHICH files exist
  * ([[SnapshotFileIndex.listFiles]]): manifest-stats skipping for data
  * filters (conservative, pruning-is-only-an-optimization — Spark
  * re-applies data filters above the scan) and exact partition pruning
  * (required: Spark does NOT re-apply partition filters). Everything
  * after file selection is stock Spark, so a 100 TB scan through SQL
  * pays exactly what `spark.read.parquet` would — minus the files the
  * manifest proves irrelevant.
  */
class SnapshotSource extends RelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-snapshot"

  /** The snapshot table as a streaming SINK: every micro-batch commits
    * through [[Snapshot.appendBatch]] (Append mode) or
    * [[Snapshot.overwriteBatch]] (Complete mode), so the batch data
    * and its (appId, batchId) watermark land in ONE manifest — the
    * exactly-once contract, without hand-writing a foreachBatch. The
    * stream's identity defaults to its checkpoint location (one
    * checkpoint = one logical stream); `appId` overrides. A missing
    * table auto-creates EMPTY from the first batch's schema (with
    * `writeStream.partitionBy`), so the first delivery is already
    * watermarked — a redelivered batch 0 is recognized like any other.
    */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    // `table = g.db.t` resolves through the session's catalogs (the
    // by-NAME form of the sink); `path` addresses storage directly
    val path = parameters.get("table").map { name =>
      val parts = sqlContext.sparkSession.sessionState.sqlParser
        .parseMultipartIdentifier(name)
      graft.plans.GraftCatalogResolve.pathOf(sqlContext.sparkSession, parts)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-snapshot sink: table '$name' does not resolve to a graft-catalog table"))
    }.orElse(parameters.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-snapshot sink needs a path (or table) option"))
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-snapshot sink needs a checkpointLocation (or an explicit appId option)"))
    val complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    require(complete || outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink supports Append and Complete output modes, got $outputMode")
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
        val spark = data.sparkSession
        // re-root the incremental plan (the standard DSv1 sink move:
        // the incoming Dataset belongs to the streaming execution)
        val batch = org.apache.spark.sql.graftbridge.StreamBridge.rebatch(data)
        // two first-batch writers racing the auto-create: the loser
        // falls through to the watermark-idempotent batch write
        // against the winner's (empty, same-schema) table
        Snapshot.createIfAbsent(spark, path, data.schema, partitionColumns)
        if (complete) Snapshot.overwriteBatch(spark, path, batch, appId, batchId)
        else Snapshot.appendBatch(spark, path, batch, appId, batchId, mergeSchema)
      }
      override def toString: String = s"SnapshotSink[$path]"
    }
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot needs a path"))
    // pin the manifest at relation creation — reader isolation: one
    // relation, one version, repeatable scans
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "graft-snapshot: versionAsOf and timestampAsOf are mutually exclusive")
    // versionAsOf: an integer version, a TAG name, or a BRANCH name
    // (which reads the branch table's head) — the one read funnel both
    // SQL routes' VERSION AS OF reach
    val (readPath, m) = parameters.get("versionAsOf")
      .map(Snapshot.resolveReadSpec(spark, path, _))
      .orElse(parameters.get("timestampAsOf").map { raw =>
        // epoch micros, or an ISO-8601 instant like 2026-08-13T10:00:00Z
        val micros = raw.toLongOption.getOrElse(
          java.time.Instant.parse(raw).toEpochMilli * 1000L)
        val v = Snapshot.versionAtTimestamp(spark, path, micros).getOrElse(
          throw new IllegalArgumentException(
            s"no version of $path committed at or before $raw"))
        (path, Snapshot.manifest(spark, path, v))
      })
      .getOrElse((path, Snapshot.latest(spark, path)))
    SnapshotSource.relationFor(spark, readPath, m)
  }

  // ---- streaming: the commit log as a Structured Streaming source ----

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot needs a path"))
    val m = Snapshot.latest(sqlContext.sparkSession, path)
    val base = StructType.fromDDL(m.schemaDdl)
    val out =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        StructType(base.fields ++ SnapshotCdfStreamSource.MetaFields)
      else base
    (shortName(), schema.getOrElse(out))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot needs a path"))
    val resolved = sourceSchema(sqlContext, schema, providerName, parameters)._2
    // startingTimestamp: the time-based twin of startingVersion —
    // "changes from this moment on", resolved to the FIRST version
    // committed at or after it (time travel's at-or-BEFORE would
    // replay a commit older than the asked-for moment)
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "graft-snapshot: startingVersion and startingTimestamp are mutually exclusive")
    def startingVersionOf: Option[Long] =
      parameters.get("startingVersion").map(_.toLong)
        .orElse(parameters.get("startingTimestamp").map { raw =>
          val micros = raw.toLongOption.getOrElse(
            java.time.Instant.parse(raw).toEpochMilli * 1000L)
          // startingVersion is an EXCLUSIVE base ("changes after this"),
          // so the first version at-or-after the moment streams when
          // the base sits one below it
          Snapshot.versionAtOrAfter(sqlContext.sparkSession, path, micros).getOrElse(
            throw new IllegalArgumentException(
              s"graft-snapshot: no version of $path committed at or after $raw")) - 1L
        })
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(!parameters.contains("skipChangeCommits"),
        "readChangeFeed streams rewrites as row changes; skipChangeCommits does not apply")
      new SnapshotCdfStreamSource(sqlContext.sparkSession, path, resolved,
        startingVersion = startingVersionOf,
        maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map { raw =>
          val n = raw.toInt
          require(n > 0, s"maxFilesPerTrigger must be positive, got $raw"); n
        })
    } else new SnapshotStreamSource(sqlContext.sparkSession, path, resolved,
      startingVersion = startingVersionOf,
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.toBoolean),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map { raw =>
        val n = raw.toInt
        require(n > 0, s"maxFilesPerTrigger must be positive, got $raw"); n
      },
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map { raw =>
        val n = raw.toLong
        require(n > 0, s"maxBytesPerTrigger must be positive, got $raw"); n
      })
  }
}

object SnapshotSource {
  /** [[HadoopFsRelation]] over (a subset of) one pinned manifest:
    * dataSchema = the FULL table schema so partition columns keep
    * their declared position (HadoopFsRelation dedups the overlap; the
    * file-source strategy reads them from partition values, never from
    * the data files).
    *
    * A version whose in-scope files carry DELETION VECTORS cannot be a
    * plain file scan (the files physically hold deleted rows), so it
    * plans through [[DvSnapshotRelation]] instead: column-pruned but
    * row-based — correct always, slower until the next compaction
    * folds the vectors in and this native path returns. That is the
    * intended lifecycle: DVs buy cheap point deletes between
    * maintenance windows, not a permanent table state. A version with
    * ACTIVE COLUMN MAPPING (a renamed column whose files still store
    * the old physical name) takes the same fallback for the same
    * reason — the name-based native scan would read the wrong column —
    * and the same remedy restores the native path: any full rewrite
    * (overwrite/CTAS) re-labels the files and resets the map.
    */
  private[graft] def relationFor(spark: SparkSession, path: String,
                                   m: Snapshot.Manifest,
                                   schema: Option[StructType] = None): BaseRelation = {
    // DEFAULT metadata rides the data schema: EXISTS_DEFAULT is how the
    // native parquet readers surface an added-with-default column for
    // files that physically predate it (per file — post-evolution nulls
    // stay null); the merge-on-read fallback's read core does the same
    val tableSchema = Snapshot.withDefaultMetadata(
      schema.getOrElse(StructType.fromDDL(m.schemaDdl)), m)
    if (m.dvs.keySet.intersect(m.files.toSet).nonEmpty || m.colMap.nonEmpty)
      new DvSnapshotRelation(spark, path, m, tableSchema)
    else fileRelation(spark, path, m, tableSchema)
  }

  /** (table root, pinned manifest) when `rel` scans one whole snapshot
    * version: the native relation over a [[SnapshotFileIndex]] or the
    * [[DvSnapshotRelation]] fallback. The plan rules that answer from a
    * version's metadata ([[graft.plans.MetadataAggRewrite]],
    * [[graft.plans.MvAutoRoute]]) recognise their leaves through it; the
    * read core's file-subset scans pin no version and yield None.
    */
  private[graft] def pinnedScan(rel: BaseRelation): Option[(String, Snapshot.Manifest)] =
    rel match {
      case h: HadoopFsRelation => h.location match {
        case i: SnapshotFileIndex => i.pinnedManifest.map(i.pinnedPath -> _)
        case _ => None
      }
      case d: DvSnapshotRelation => Some(d.pinnedPath -> d.pinnedManifest)
      case _ => None
    }

  /** The rows of a row-based snapshot scan ([[DvSnapshotRelation]], the
    * catalog's extension-less V1 scan): the manifest's files pruned by
    * the pushed `filters` (an optimization only — Spark re-applies every
    * filter above), read through the snapshot read core and projected to
    * `required`. A count-only scan (`required` empty) reads the narrowest
    * column and emits the empty rows the contract asks for, so it never
    * reads and converts the full row width.
    */
  private[graft] def scanRows(spark: SparkSession, path: String, m: Snapshot.Manifest,
                              required: Seq[String],
                              filters: Array[Filter]): RDD[Row] = {
    val kept =
      if (filters.isEmpty) m.files
      else SnapshotStats.pruneByFilters(spark, m, filters, Some(path))
    val df = Snapshot.readManifestFiles(spark, path, m, kept)
    if (required.isEmpty)
      df.select(df.schema.fields.minBy(_.dataType.defaultSize).name).rdd.map(_ => Row.empty)
    else df.select(required.map(org.apache.spark.sql.functions.col): _*).rdd
  }

  /** The native parquet scan over `m.files` with `dataSchema` — the
    * SQL source's relation above, and the base scan of the snapshot
    * read core ([[Snapshot.readFiles]]), which passes a file subset
    * under physical names with `wholeVersion = false`.
    */
  private[graft] def fileRelation(spark: SparkSession, path: String, m: Snapshot.Manifest,
                                  dataSchema: StructType,
                                  wholeVersion: Boolean = true): HadoopFsRelation = {
    val index = new SnapshotFileIndex(spark, path, m, dataSchema, wholeVersion)
    HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }
}

/** Merge-on-read fallback relation for manifests with live deletion
  * vectors or active column mapping: delegates to the snapshot read
  * core (broadcast positional anti-join; logical relabeling) and hands
  * Spark the rows. Pushed filters drive MANIFEST pruning — stats,
  * partition values and bloom sidecars cut the file list exactly as
  * the native path's FileIndex would, so a point lookup on a DV'd
  * table still opens only the files that can match — but every filter
  * is declared UNHANDLED, so Spark re-applies them above and pruning
  * stays an optimization by construction.
  */
final class DvSnapshotRelation(spark: SparkSession, path: String,
                               m: Snapshot.Manifest, tableSchema: StructType)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
  /** The pinned version ([[graft.plans.MetadataAggRewrite]]'s count(*)
    * fast path stays exact here: live rows = stats.rows − dv.rows).
    */
  private[graft] def pinnedManifest: Snapshot.Manifest = m

  /** The table root this scan reads ([[graft.plans.MvAutoRoute]]). */
  private[graft] def pinnedPath: String = path
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = tableSchema
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // re-applied above: pruning below can only skip provably-unmatchable files
  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
    SnapshotSource.scanRows(spark, path, m, requiredColumns.toSeq, filters)
  override def toString: String = s"DvSnapshotRelation[$path v${m.version}]"
}

/** Chunked stream offset for rate-limited reads: "everything through
  * version `version` has been emitted, EXCEPT the tail of that
  * version's file list beyond `index`". `bootstrap = true` means
  * version's list is the full TABLE STATE at `version` (the stream's
  * pinned bootstrap snapshot, sorted); `false` means the files that
  * commit APPENDED (sorted). A legacy whole-version offset (plain
  * long JSON, what the unlimited path still writes) parses as
  * `index = Done` — complete through that version — so a checkpoint
  * taken before rate limiting was switched on resumes seamlessly.
  *
  * Not a case class: DSv1 offsets compare by JSON after a restart
  * rehydrates them as [[SerializedOffset]], so equality must be
  * JSON-based, not structural.
  */
private[sources] final class ChunkOffset(val version: Long, val index: Long,
                                         val bootstrap: Boolean)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json(): String =
    if (index == ChunkOffset.Done && !bootstrap) version.toString // legacy-compatible
    else s"""{"version":$version,"index":$index,"bootstrap":$bootstrap}"""
  override def equals(other: Any): Boolean = other match {
    case o: org.apache.spark.sql.execution.streaming.Offset => json() == o.json()
    case _ => false
  }
  override def hashCode(): Int = json().hashCode
  override def toString: String = json()
}

private[sources] object ChunkOffset {
  /** Sentinel index: the whole version (however many files) is emitted. */
  val Done: Long = Long.MaxValue

  def apply(version: Long, index: Long, bootstrap: Boolean): ChunkOffset =
    new ChunkOffset(version, index, bootstrap)

  def parse(o: org.apache.spark.sql.execution.streaming.Offset): ChunkOffset = {
    val t = o.json().trim
    t.toLongOption match {
      case Some(v) => ChunkOffset(v, Done, bootstrap = false)
      case None =>
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
        ChunkOffset(root.get("version").asLong(), root.get("index").asLong(),
          root.has("bootstrap") && root.get("bootstrap").asBoolean())
    }
  }
}

/** The commit log as a Structured Streaming SOURCE: offsets are table
  * VERSIONS, a micro-batch is the files APPENDED over an offset range —
  * `spark.readStream.format("graft.sources.SnapshotSource").load(path)`
  * turns every hourly commit into a micro-batch with no landing-dir
  * convention at all. Semantics (the standard lakehouse contract):
  *
  *  - first batch: the full table at the stream's first offset (or
  *    nothing before `startingVersion`, for consumers that only want
  *    the future);
  *  - each later batch: per-commit appended files, walked version by
  *    version — appends stream exactly-once;
  *  - a commit that REMOVES files (overwrite/replace/merge/compact) is
  *    refused by default — silently streaming a rewrite would re-emit
  *    rows; `skipChangeCommits = true` skips those commits entirely
  *    (their appends included), the consumer declaring it only wants
  *    genuine appends;
  *  - `vacuum` must retain at least the reader's lag in versions, or
  *    the source fails fast on the missing manifest;
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` bound one
  *    micro-batch's ADMISSION (at least one file per batch so progress
  *    is guaranteed; bytes come from manifest stats — no filesystem
  *    calls). Without them, the bootstrap of a 100 TB table arrives as
  *    ONE batch — correct, but a cluster-sizing cliff; with them the
  *    backlog drains in bounded, checkpointed chunks and a restart
  *    resumes mid-version from the offset log. Offsets stay
  *    deterministic because chunks slice SORTED file lists of
  *    immutable manifests.
  *
  * Each batch plans through [[SnapshotSource.relationFor]] — the same
  * native parquet scan as the batch source, marked streaming.
  */
final class SnapshotStreamSource(spark: SparkSession, path: String,
                                 override val schema: StructType,
                                 startingVersion: Option[Long],
                                 skipChangeCommits: Boolean,
                                 maxFilesPerTrigger: Option[Int] = None,
                                 maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.graftbridge.StreamBridge

  private val rateLimited = maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined

  /** Last offset this source returned or served — the base the next
    * admission window advances from. Spark's v1 recovery contract
    * (re-run `getBatch` for the restored batch before the first
    * `getOffset`) re-seeds it after a restart.
    */
  @volatile private var lastSeen: Option[ChunkOffset] = None

  /** Per-version file lists (manifests are immutable, so memoizing is
    * sound): `(v, true)` = full table state at v, `(v, false)` = files
    * commit v appended. The append list of a REWRITE commit is empty
    * under `skipChangeCommits`, refused otherwise. Entries BELOW the
    * served offset's version are evicted as the stream advances — a
    * long-running stream must not retain one sorted file list per
    * version forever.
    */
  private val lists = new java.util.concurrent.ConcurrentHashMap[(Long, Boolean), Seq[String]]()

  /** Drop memoized lists no future batch can start from: everything
    * strictly below `v` (a mid-version offset still replays from its
    * own version's list; a restart builds a fresh source anyway).
    */
  private def evictBelow(v: Long): Unit =
    lists.keySet.removeIf(k => k._1 < v)

  private def fileList(v: Long, bootstrap: Boolean): Seq[String] =
    lists.computeIfAbsent((v, bootstrap), { _ =>
      if (bootstrap) Snapshot.manifest(spark, path, v).files.sorted
      else {
        val cur = Snapshot.manifest(spark, path, v)
        // the log's FIRST (or first-RETAINED, after vacuum) version has
        // no parent to diff against: its whole state is the "append".
        // That is only sound when no deletion vectors apply — emitting
        // a vectored file as plain appends would re-emit deleted rows —
        // so a vectored genesis refuses with the bootstrap pointer.
        val prevOpt =
          try Some(Snapshot.manifest(spark, path, v - 1))
          catch { case _: java.io.FileNotFoundException => None }
        prevOpt match {
          case None =>
            if (cur.dvs.nonEmpty) throw new IllegalStateException(
              s"snapshot stream source: version $v of $path is the first " +
                "retained version and carries deletion vectors; start the " +
                "stream without startingVersion/startingTimestamp (bootstrap) " +
                "or from a retained version with a parent")
            cur.files.sorted
          case Some(prev) =>
            val removed = prev.files.diff(cur.files)
            // a deletion-vector change removes ROWS without removing a
            // file — every bit as much a rewrite for a consumer that
            // assumed appends-only
            val dvChanged = cur.files.intersect(prev.files)
              .exists(f => prev.dvs.get(f) != cur.dvs.get(f))
            if (removed.isEmpty && !dvChanged) cur.files.diff(prev.files).sorted
            else if (skipChangeCommits) Seq.empty
            else throw new IllegalStateException(
              s"snapshot stream source: version $v of $path rewrites " +
                s"${removed.size} file(s)" +
                (if (dvChanged) " and changes deletion vectors" else "") +
                "; streaming it would re-emit or drop rows. " +
                "Set skipChangeCommits = true to stream appends only.")
        }
      }
    })

  /** A concrete emitted-count for an offset's index (Done → list size). */
  private def norm(o: ChunkOffset): Long =
    if (o.index == ChunkOffset.Done) fileList(o.version, o.bootstrap).size.toLong
    else o.index

  /** Raw (version, index) order — Done is MaxValue, so
    * complete-through-v sorts after any chunk of v; never reads a list.
    */
  private def after(a: ChunkOffset, b: ChunkOffset): Boolean =
    a.version > b.version || (a.version == b.version && a.index > b.index)

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    if (!rateLimited)
      return Snapshot.latestVersion(spark, path).map(StreamBridge.longOffset)
    Snapshot.latestVersion(spark, path).flatMap { vLatest =>
      val base: ChunkOffset = lastSeen.getOrElse {
        startingVersion match {
          case Some(s) => ChunkOffset(s, ChunkOffset.Done, bootstrap = false)
          case None    => ChunkOffset(vLatest, 0L, bootstrap = true) // pin the bootstrap snapshot
        }
      }
      // walk forward from the base, admitting files until a cap trips;
      // always at least one file, so a file larger than the byte cap
      // still makes progress
      var v = base.version
      var boot = base.bootstrap
      var idx = if (base.index == ChunkOffset.Done) {
        // complete through v: start at the next version's append list
        // (never materialize v's own list — v may be the log's first
        // retained version, with no parent manifest to diff against)
        v += 1; boot = false; 0L
      } else base.index
      val fileCap = maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue)
      val byteCap = maxBytesPerTrigger.getOrElse(Long.MaxValue)
      var files = 0L
      var bytes = 0L
      var out: Option[ChunkOffset] = None
      while (out.isEmpty && v <= vLatest) {
        val lst = fileList(v, boot)
        val statsM = if (maxBytesPerTrigger.isDefined) Snapshot.manifest(spark, path, v).stats
                     else Map.empty[String, graft.operators.SnapshotStats.FileStats]
        while (out.isEmpty && idx < lst.size) {
          val sz = statsM.get(lst(idx.toInt)).map(_.bytes).getOrElse(0L)
          val wouldOverflow = files + 1 > fileCap || (files > 0 && bytes + sz > byteCap)
          if (wouldOverflow) out = Some(ChunkOffset(v, idx, boot))
          else { files += 1; bytes += sz; idx += 1 }
        }
        if (out.isEmpty) {
          if (v == vLatest) out = Some(ChunkOffset(v, lst.size.toLong, boot))
          else { v += 1; boot = false; idx = 0L }
        }
      }
      // `out` is empty only when the base was already complete through
      // vLatest (the walk started past it): nothing new. When nothing
      // advanced, hand back the base object so offset JSON stays stable
      // and no empty batch triggers. (version, index) compares raw —
      // Done is MaxValue, so complete-through-v sorts after any chunk
      // of v — and never materializes a file list.
      // a base past the latest committed version (startingVersion in
      // the future) has nothing to emit and no manifest to pin — report
      // no offset until a commit catches up
      if (out.isEmpty && base.version > vLatest && lastSeen.isEmpty) None
      else {
        val result = out match {
          case Some(next) if after(next, base) => next
          case _ if lastSeen.isEmpty => out.getOrElse(base)
          case _ => base
        }
        lastSeen = Some(result)
        // evict below the BASE, not the new end: the getBatch that
        // follows this offer walks base.version..result.version and
        // needs exactly the lists the cap walk just memoized — evicting
        // at result.version here would force a fresh manifest read per
        // spanned version in every backlog-draining trigger. getBatch
        // evicts below its own end once the batch is served.
        evictBelow(base.version)
        Some(result)
      }
    }
  }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): org.apache.spark.sql.DataFrame = {
    val endG = ChunkOffset.parse(end)
    val mEnd = Snapshot.manifest(spark, path, endG.version)
    // bootstrap chunks read the table STATE at the pinned bootstrap
    // version (deletion vectors of THAT version apply); the append walk
    // emits each commit's rows AS COMMITTED — a vector added to an
    // appended file by a later (skipped) change commit must NOT be
    // applied, or the batch a lagging consumer reads would differ from
    // the one a live consumer read
    val startG = start.map(ChunkOffset.parse)
      .orElse(startingVersion.map(s => ChunkOffset(s, ChunkOffset.Done, bootstrap = false)))
    val (files: Seq[String], dvs: Map[String, Snapshot.DvRef]) = startG match {
      case None =>
        // stream beginning, no startingVersion: the end offset IS the
        // pinned bootstrap snapshot (possibly a first chunk of it)
        val lst = fileList(endG.version, bootstrap = true)
        val take = math.min(norm(ChunkOffset(endG.version, endG.index, bootstrap = true)), lst.size.toLong)
        val fls = lst.take(take.toInt)
        (fls, mEnd.dvs.view.filterKeys(fls.toSet).toMap)
      case Some(s0) =>
        var v = s0.version
        var boot = s0.bootstrap
        var idx = if (s0.index == ChunkOffset.Done) { v += 1; boot = false; 0L } else s0.index
        val out = Seq.newBuilder[String]
        val dvb = Map.newBuilder[String, Snapshot.DvRef]
        while (v < endG.version || (v == endG.version && idx < norm(ChunkOffset(endG.version, endG.index, boot)))) {
          val lst = fileList(v, boot)
          val hi = if (v == endG.version) math.min(norm(ChunkOffset(v, endG.index, boot)), lst.size.toLong)
                   else lst.size.toLong
          if (idx < hi) {
            val slice = lst.slice(idx.toInt, hi.toInt)
            out ++= slice
            if (boot) // mid-bootstrap resume: that snapshot's vectors still apply
              dvb ++= Snapshot.manifest(spark, path, v).dvs.view.filterKeys(slice.toSet).toMap
          }
          if (v == endG.version) idx = hi
          else { v += 1; boot = false; idx = 0L }
        }
        (out.result(), dvb.result())
    }
    if (rateLimited) {
      // v1 recovery contract: this call may be replaying the last
      // committed batch after a restart — seed the admission base.
      // Raw (version, index) compare: Done is MaxValue, no list reads.
      if (lastSeen.forall(c => after(endG, c))) {
        lastSeen = Some(endG)
        evictBelow(endG.version)
      }
    }
    StreamBridge.streamingScan(spark,
      SnapshotSource.relationFor(spark, path,
        mEnd.copy(files = files, dvs = dvs), Some(schema)))
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotStreamSource[$path]"
}

/** [[FileIndex]] over one pinned snapshot manifest. File "listing" is a
  * pure metadata operation — the manifest already knows the live files,
  * their partition values, byte sizes and per-column stats — so
  * planning a scan costs zero filesystem listings.
  */
final class SnapshotFileIndex(spark: SparkSession, tablePath: String,
                              m: Snapshot.Manifest, tableSchema: StructType,
                              wholeVersion: Boolean = true)
    extends FileIndex {

  /** The exact version this scan reads ([[graft.plans.MetadataAggRewrite]]
    * folds whole-table aggregates from its file stats). None for the
    * read core's scans: a file subset under physical names is not the
    * table at a version, so no rule may answer for it from the MV
    * watermark or the table's metadata.
    */
  private[graft] def pinnedManifest: Option[Snapshot.Manifest] = Some(m).filter(_ => wholeVersion)

  /** The table root this scan reads ([[graft.plans.MvAutoRoute]] keys
    * its source-identity match on it).
    */
  private[graft] def pinnedPath: String = tablePath

  override val partitionSchema: StructType =
    StructType(m.partitionCols.map(c => tableSchema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column $c not in table schema"))))

  partitionSchema.fields.foreach { f =>
    require(ScanBridge.canParsePartitionValue(f.dataType),
      s"unsupported partition column type for the SQL source: ${f.dataType}")
  }

  private val fs = new HPath(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedRoot = fs.makeQualified(new HPath(tablePath))

  private val timeZone = spark.sessionState.conf.sessionLocalTimeZone

  /** Hive partition-dir string → catalyst partition value. */
  private def partitionValue(dt: DataType, raw: String): Any =
    if (raw == null || raw == Snapshot.NullPartition) null
    else ScanBridge.partitionValue(raw, dt, timeZone)

  /** Resolve a manifest entry to its filesystem path — external
    * `@alias/` refs (shallow clones) resolve to their recorded source
    * root, everything else under the table root.
    */
  private def absPath(rel: String): HPath =
    if (rel.startsWith("@")) new HPath(Snapshot.fileAbs(tablePath, m, rel))
    else new HPath(qualifiedRoot, rel)

  private def status(rel: String): FileStatus = {
    val p = absPath(rel)
    val len = m.stats.get(rel).map(_.bytes).filter(_ > 0L)
      .getOrElse(fs.getFileStatus(p).getLen)
    new FileStatus(len, false, 1, fs.getDefaultBlockSize(p), 0L, p)
  }

  override def rootPaths: Seq[HPath] = Seq(qualifiedRoot)

  // listFiles is invoked at least twice per query (partition-pruning
  // rule at optimize time, scan exec at run time); the index is pinned
  // and immutable, so identical filter sets memoize
  private val listCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[PartitionDirectory]]()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val key = (partitionFilters ++ dataFilters).map(_.canonicalized.toString).sorted.mkString("&")
    listCache.computeIfAbsent(key, _ => listFilesUncached(partitionFilters, dataFilters))
  }

  private def listFilesUncached(partitionFilters: Seq[Expression],
                                dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // manifest-stats skipping: every translatable conjunct votes; an
    // untranslatable one just doesn't prune (Spark re-applies data
    // filters above the scan, so this can only be an optimization)
    val pushed = (partitionFilters ++ dataFilters).flatMap(ScanBridge.translate).toArray
    val kept = SnapshotStats.pruneByFilters(spark, m, pushed, Some(tablePath))
    val byPart = kept.groupBy(f => Snapshot.partitionValues(m.partitionCols, f))
    // exact partition pruning — required, not an optimization: Spark
    // trusts the index and never re-evaluates partition filters
    val keepPart = ScanBridge.partitionPredicate(partitionFilters, partitionSchema)
    byPart.toSeq
      .map { case (pv, files) =>
        val row = InternalRow.fromSeq(partitionSchema.fields.toSeq.map(f =>
          partitionValue(f.dataType, pv.getOrElse(f.name, null))))
        (row, files)
      }
      .filter { case (row, _) => keepPart(row) }
      .map { case (row, files) => PartitionDirectory(row, files.sorted.map(status).toArray) }
  }

  override def inputFiles: Array[String] =
    m.files.map(f => absPath(f).toString).toArray

  override def refresh(): Unit = () // pinned manifest: nothing to refresh

  override lazy val sizeInBytes: Long =
    m.files.map(f => m.stats.get(f).map(_.bytes).filter(_ > 0L)
      .getOrElse(fs.getFileStatus(absPath(f)).getLen)).sum
}

/** The change feed as a Structured Streaming SOURCE
  * (`readChangeFeed = true`): each micro-batch is the ROW-EXACT
  * changes of a range of commits — inserts and deletes tagged in
  * `_change_type`, stamped with `_commit_version` and
  * `_commit_timestamp` — the CDC contract a downstream incremental
  * consumer wants when the upstream table REWRITES (merges, DML,
  * compaction): unlike the appends-only stream, a rewrite commit is
  * data here, not an error. Per commit the feed is reconciled
  * (`readChanges(net = true)`), so a compaction that moves rows
  * without changing them emits NOTHING and a point delete emits
  * exactly its rows. Offsets are whole versions; `maxFilesPerTrigger`
  * bounds a batch's admission by the CHANGED-file count (always at
  * least one commit, so progress is guaranteed). With no
  * `startingVersion` the stream starts at the CURRENT latest version
  * and emits only future changes.
  *
  * Batches materialize through a row-based relation (the change set
  * is a reconciled union over the changed files only — incremental by
  * construction, never the 100 TB of unchanged table).
  */
final class SnapshotCdfStreamSource(spark: SparkSession, path: String,
                                    override val schema: StructType,
                                    startingVersion: Option[Long],
                                    maxFilesPerTrigger: Option[Int])
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.graftbridge.StreamBridge

  /** Base version: changes stream from the NEXT commit after this. */
  @volatile private var lastSeen: Option[Long] = None

  /** Memoized changed-file counts (manifests are immutable): the cap
    * walk probes each version twice per trigger (look-ahead then
    * accumulate) and re-probes the same range on every trigger while
    * a backlog drains — without the memo that is two manifest loads
    * per version per trigger. Served versions evict as the base
    * advances, so a long-running stream holds O(lag) entries.
    */
  private val changedCache = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()

  private def changedFiles(v: Long): Int =
    changedCache.computeIfAbsent(v, { _ =>
      val cur = Snapshot.manifest(spark, path, v)
      // the log's first version has no parent: everything is a change
      SnapshotCdfStreamSource.parentOf(spark, path, v) match {
        case None => cur.files.size
        case Some(prev) =>
          val dvChanged = cur.files.intersect(prev.files)
            .count(f => prev.dvs.get(f) != cur.dvs.get(f))
          cur.files.diff(prev.files).size + prev.files.diff(cur.files).size + dvChanged
      }
    })

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    Snapshot.latestVersion(spark, path).map { vLatest =>
      val base = lastSeen.getOrElse(startingVersion.getOrElse(vLatest))
      val capped = maxFilesPerTrigger match {
        case None => vLatest
        case Some(cap) =>
          var v = base
          var files = 0L
          while (v < vLatest && (files == 0L || files + changedFiles(v + 1) <= cap)) {
            v += 1; files += changedFiles(v)
          }
          v
      }
      val next = math.max(base, capped)
      lastSeen = Some(next)
      changedCache.keySet.removeIf(k => k <= next)
      StreamBridge.longOffset(next)
    }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): org.apache.spark.sql.DataFrame = {
    val vEnd = StreamBridge.offsetVersion(end)
    val vStart = start.map(StreamBridge.offsetVersion)
      .orElse(startingVersion)
      .getOrElse(vEnd) // stream beginning with no startingVersion: only the future
    if (lastSeen.forall(_ < vEnd)) lastSeen = Some(vEnd) // v1 recovery re-seed
    StreamBridge.streamingScan(spark,
      new CdfBatchRelation(spark, path, vStart, vEnd, schema))
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotCdfStreamSource[$path]"
}

object SnapshotCdfStreamSource {
  val MetaFields: Array[org.apache.spark.sql.types.StructField] = Array(
    org.apache.spark.sql.types.StructField("_change_type", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_timestamp", TimestampType, nullable = true))

  /** The change feed of versions `fromVersion..toVersion` INCLUSIVE as
    * one batch DataFrame — the `table_changes` TVF's body: per-commit
    * net-reconciled rows stamped `_change_type` / `_commit_version` /
    * `_commit_timestamp`, the same contract as the streaming feed.
    */
  def batchFeed(spark: SparkSession, path: String,
                fromVersion: Long, toVersion: Long): org.apache.spark.sql.DataFrame = {
    val m = Snapshot.manifest(spark, path, toVersion)
    val schema = StructType(StructType.fromDDL(m.schemaDdl).fields ++ MetaFields)
    spark.baseRelationToDataFrame(
      new CdfBatchRelation(spark, path, fromVersion - 1, toVersion, schema))
  }

  /** The parent manifest of version v, or None when v is the log's
    * FIRST version (a `startingVersion` of 0 streams the create commit
    * itself — everything in it is an insert).
    */
  private[sources] def parentOf(spark: SparkSession, path: String,
                                v: Long): Option[Snapshot.Manifest] =
    try Some(Snapshot.manifest(spark, path, v - 1))
    catch { case _: java.io.FileNotFoundException => None }
}

/** Row-based relation holding the reconciled changes of (vFrom, vTo]:
  * one `readChanges(net = true)` per commit, stamped and unioned. The
  * range is bounded by the source's admission cap, and each commit's
  * reconciliation touches only its changed files.
  */
final class CdfBatchRelation(spark: SparkSession, path: String,
                             vFrom: Long, vTo: Long, tableSchema: StructType)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = tableSchema

  private def changes(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    if (vFrom >= vTo) return empty
    val perCommit = (vFrom + 1 to vTo).flatMap { v =>
      val m = Snapshot.manifest(spark, path, v)
      def stamped(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          if (m.committedAtMicros > 0L) timestamp_micros(lit(m.committedAtMicros))
          else lit(null).cast(TimestampType))
      SnapshotCdfStreamSource.parentOf(spark, path, v) match {
        case None =>
          // the log's first version: the whole create commit is inserts
          Some(stamped(Snapshot.readManifestFiles(spark, path, m, m.files)
            .withColumn("_change_type", lit("insert"))))
        // a METADATA-ONLY commit (constraint, bloom index, rename,
        // widening) moves no rows: emit nothing, and never trip
        // readChanges' schema-stable-window requirement on it
        case Some(prev) if m.files == prev.files && m.dvs == prev.dvs => None
        case Some(_) =>
          Some(stamped(Snapshot.readChanges(spark, path, v - 1, v, net = true)))
      }
    }
    if (perCommit.isEmpty) empty
    else perCommit.reduce(_ unionByName _)
      .select(tableSchema.fields.map(f => org.apache.spark.sql.functions.col(f.name)).toSeq: _*)
  }

  override def buildScan(requiredColumns: Array[String]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val df = changes()
    if (requiredColumns.isEmpty)
      df.select("_commit_version").rdd.map(_ => org.apache.spark.sql.Row.empty)
    else df.select(requiredColumns.map(org.apache.spark.sql.functions.col).toSeq: _*).rdd
  }

  override def toString: String = s"CdfBatchRelation[$path v$vFrom..v$vTo]"
}
