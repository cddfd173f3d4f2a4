package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Minimal per-table snapshot/commit log: atomic table commits with
  * reader isolation on a plain filesystem.
  *
  * The reference gets atomicity free from BigQuery — every load job,
  * DELETE and MERGE commits atomically (funnel_live.py:106-174,
  * consumo_detalle.py:317-340). Plain-parquet writers cannot: stagedSwap
  * has a no-table window between renames, dynamic partition overwrite
  * can crash between partition delete and rewrite, and compaction reads
  * files its own commit replaces. This layer closes all of those with
  * the standard log-structured scheme (the publicly documented core of
  * Delta/Iceberg, reduced to what the engine needs):
  *
  *  - data files are IMMUTABLE and written under per-transaction
  *    directories (`txn-<id>/<hive partition dirs>/part-N.parquet`) — a
  *    writer never touches a file a reader could be holding;
  *  - a table version is a MANIFEST (`_graft_log/v00000042.json`)
  *    listing exactly the live files; the commit IS the atomic
  *    appearance of that manifest (write to a temp name, then a single
  *    rename — no reader ever sees a partial manifest);
  *  - readers pin the manifest they opened: a concurrent commit creates
  *    a NEW version and never deletes files referenced by older ones,
  *    so a pinned scan is repeatable until `vacuum` reclaims versions
  *    the caller has declared dead.
  *
  * A crash before the manifest rename leaves orphan data files and the
  * PREVIOUS version fully intact (rerun-safe: the rerun writes a fresh
  * txn dir); a crash after the rename IS the new version. There is no
  * intermediate observable state — SnapshotSpec kills the protocol
  * between every pair of steps and proves readers always see exactly
  * the old or the new table.
  *
  * Concurrency contract: readers are unlimited and never blocked.
  * APPEND-family writers (`append`, `appendBatch`) are multi-writer
  * safe via optimistic concurrency — a version collision rebases the
  * commit onto the current manifest and retries, which is always
  * semantics-preserving because appends commute. FILE-PRECISE
  * rewriters (`compact`, `delete`, `update`) also rebase, but only
  * when every file they derived their output from is still live with
  * an unchanged deletion vector in the winning manifest
  * ([[commitRebasing]]) — so a compaction survives a concurrent
  * hourly append with neither commit lost. Whole-table and
  * partition-predicate writers (`overwrite`, `replacePartitions`,
  * `mergeById`) REFUSE on conflict ([[CommitConflictException]])
  * rather than silently discard a concurrent commit — their write
  * set is defined by predicate, not by file, so a concurrent append
  * into an affected partition cannot be proven disjoint.
  *
  * At 100 TB: manifests are O(#live files) metadata, commits are O(new
  * files) + one rename, and every routed writer below stays partition-
  * restricted — the log adds no data-path cost over the raw writers.
  */
object Snapshot {

  val LogDirName = "_graft_log"
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Above this many TOTAL deletion-vector rows in the files a read
    * touches, the merge-on-read anti-join plans as a SHUFFLED hash join
    * instead of a broadcast: `broadcast()` is a hint Spark obeys, and a
    * table that has accreted point deletes across many files can carry
    * an unbounded sum of per-file-capped vectors — at 100 TB that is a
    * driver/executor OOM, not a graceful fallback. The row count comes
    * from the manifest ([[DvRef.rows]]), so the gate costs no job.
    */
  val DvBroadcastMaxRowsKey = "spark.graft.dv.broadcastMaxRows"
  private val DvBroadcastMaxRowsDefault = 1000000L

  /** Candidate-row ceiling for the fused single-scan DML path (delete
    * caches matched positions and derives tier counts from the cache).
    * Bounds the cached position set (file ref + position + partition
    * values per matched row); above it the classic two-scan path runs.
    * A data-volume gate, not a core-count one — the same default is
    * reasonable on a cluster, where 4M cached rows are a few hundred
    * MB spread over executors.
    */
  val DmlFusedScanMaxRowsKey = "spark.graft.dml.fusedScanMaxRows"
  private val DmlFusedScanMaxRowsDefault = 4000000L

  /** A file whose deletion vector covers at least this fraction of its
    * PHYSICAL rows is folded (rewritten without its deleted rows) by
    * the next DML commit on the table — the maintenance trigger that
    * stops repeated point deletes from accreting a table-wide read tax
    * forever (each new delete is capped against LIVE rows, which
    * shrink, so the physical fraction can grow without bound). Set to 0
    * or >1 to disable; [[foldDvs]] runs the same fold on demand.
    */
  val DvFoldFractionKey = "spark.graft.dv.foldFraction"
  private val DvFoldFractionDefault = 0.2

  /** Commit-log checkpoint cadence: a FULL manifest (all files + stats)
    * is written at v1 and then every N-th version; the commits between
    * stage only their DELTA against the parent. Reads replay at most
    * N-1 deltas over the nearest full form, so both commit cost and the
    * tail of a read are O(changed files × N), never O(#files) — the
    * difference between an hourly append to a million-file table
    * rewriting kilobytes and rewriting hundreds of megabytes. Set to 1
    * to write every manifest full (the pre-delta layout, still read
    * compatibly).
    */
  val LogCheckpointIntervalKey = "spark.graft.log.checkpointInterval"
  private val LogCheckpointIntervalDefault = 10

  /** Table version: the exact set of live data files (paths relative to
    * the table root), the partition columns, and the table schema (DDL)
    * so even an empty version reads with the right shape. `stats` maps
    * a live file to its [[SnapshotStats.FileStats]] (per-column
    * min/max/nullCount reduced from the parquet footer at commit time);
    * files may lack stats — [[readWhere]] then simply cannot skip them.
    * `dvs` maps a live file to its deletion vector ([[DvRef]]): the
    * file's rows at the recorded positions are DELETED in this version
    * (merge-on-read; see [[delete]]). A file absent from `dvs` is fully
    * live.
    */
  /** `colMap` is COLUMN MAPPING state (logical → physical name, only
    * non-identity entries): data files always store a column under the
    * PHYSICAL name it was born with, so a rename is a metadata-only
    * commit that re-labels the logical schema — no file rewrite, which
    * is the only honest rename on 100 TB of immutable parquet.
    * `retired` lists physical names of DROPPED columns: a later ADD of
    * the same logical name must mint a FRESH physical name, or old
    * files would resurrect the dropped column's values into the new
    * one. Partition columns never map (their name is baked into every
    * directory path); [[renameColumn]]/[[dropColumn]] refuse them.
    */
  /** `colDefault` maps a column to its CURRENT DEFAULT expression SQL:
    * writes that omit the column (SQL INSERT column lists, MERGE
    * INSERT arms) fill it instead of null — BigQuery's constant-filled
    * wide load schemas (consumo_bloques_hora.py:132) as a declaration.
    * `colExistsDefault` maps a column added by `ADD COLUMN … DEFAULT`
    * to the LITERAL its pre-evolution rows read (the value the default
    * folded to AT ADD TIME, frozen forever — the Iceberg/Spark
    * "existence default" contract): files that physically lack the
    * column surface the literal instead of null, with zero rewrite;
    * files written after the add carry the column physically, so their
    * genuine nulls stay null. SET/DROP DEFAULT later changes only
    * `colDefault` — history never reinterprets.
    */
  final case class Manifest(version: Long, partitionCols: Seq[String],
                            schemaDdl: String, files: Seq[String],
                            stats: Map[String, SnapshotStats.FileStats] = Map.empty,
                            streamBatch: Map[String, Long] = Map.empty,
                            committedAtMicros: Long = 0L,
                            dvs: Map[String, DvRef] = Map.empty,
                            blooms: Map[String, BloomRef] = Map.empty,
                            colMap: Map[String, String] = Map.empty,
                            retired: Seq[String] = Nil,
                            constraints: Map[String, String] = Map.empty,
                            generatedCols: Map[String, String] = Map.empty,
                            operation: String = "",
                            clusterBy: Seq[String] = Nil,
                            properties: Map[String, String] = Map.empty,
                            externalRoots: Map[String, String] = Map.empty,
                            tags: Map[String, Long] = Map.empty,
                            colNdv: Map[String, Long] = Map.empty,
                            colDefault: Map[String, String] = Map.empty,
                            colExistsDefault: Map[String, String] = Map.empty,
                            branches: Map[String, Long] = Map.empty,
                            colHist: Map[String, ColHist] = Map.empty)

  /** Equi-height histogram for one column, committed by [[analyze]]
    * when `spark.sql.statistics.histogram.enabled` is on: `height` is
    * rows-per-bin at analyze time, each bin an (lo, hi] value range
    * with its distinct-count estimate. `exactMin`/`exactMax` carry the
    * TRUE endpoints in the column's native external-string form,
    * computed by min/max in the same analyze aggregate — the bin
    * endpoints round-trip through percentile doubles and lose integer
    * precision beyond 2^53, so they must not be the source of a BIGINT
    * column's catalog min/max. Planner input only (range selectivity
    * for the cost-based optimizer) — never used to answer a query.
    */
  final case class ColHist(height: Double, bins: Seq[HistBin],
                           exactMin: Option[String] = None,
                           exactMax: Option[String] = None)
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** Deletion vector for one data file: `file` is the table-relative
    * path of a parquet directory holding the deleted PHYSICAL row
    * positions (`f` = data-file basename, `pos` = row index), `rows`
    * the number of positions — so live-row counts stay metadata-exact
    * (`stats.rows - dv.rows`). A new delete on an already-DV'd file
    * writes a REPLACEMENT vector holding old ∪ new positions; vectors
    * are immutable like data files, so pinned readers never break.
    */
  final case class DvRef(file: String, rows: Long)

  /** Bloom-filter sidecar for one data file: `file` is the
    * table-relative path of a binary sidecar holding one bloom filter
    * per column in `cols` ([[SnapshotBloom]] format). Point-lookup
    * predicates (`c = v`, `c IN (...)`) on an indexed column can then
    * skip files min/max stats cannot — the high-cardinality-unsorted
    * case (ids scattered across every file) where range stats keep
    * everything. Sidecars are immutable like data files; a file's
    * bloom ref drops when the file leaves the live set and the sidecar
    * reclaims on vacuum. A possible false positive only KEEPS a file —
    * pruning stays an optimization by construction.
    */
  final case class BloomRef(file: String, cols: Seq[String])

  /** Test-only fault injection: SnapshotSpec points this at a throwing
    * hook to simulate a crash between any two steps of the commit
    * protocol. Never set outside tests.
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  /** Serializes the parquet-conf window of [[writeTxnFiles]] across
    * concurrently-writing snapshot tables in the same JVM.
    */
  private val writeConfLock = new Object

  /** Stage timing for the DML verbs, printed only under
    * `spark.graft.dml.profile=true` — diagnostic seam for the
    * optimization rounds; zero cost when off.
    */
  private def dmlProf[A](spark: SparkSession, label: String)(f: => A): A =
    if (!spark.conf.getOption("spark.graft.dml.profile").contains("true")) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"[dmlprof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** A concurrent commit took this version first. APPEND-family writers
    * catch it and rebase ([[append]]'s retry loop); read-modify-write
    * writers (overwrite, replace, merge) let it propagate — their new
    * state was derived from a manifest that is no longer latest, and
    * blindly rebasing would silently discard the other writer's commit.
    */
  final class CommitConflictException(msg: String) extends java.io.IOException(msg)

  /** Per-table commit-section locks (one JVM). HDFS-class filesystems
    * make the manifest rename-no-overwrite atomic across writers; a
    * local filesystem's rename overwrites, so the exists+rename window
    * is additionally serialized per table within the JVM. Cross-JVM
    * local-FS writers remain the caller's coordination problem — the
    * scale deployment (HDFS/object store with atomic create) is not.
    */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(path: String): Object =
    commitLocks.computeIfAbsent(path, _ => new Object)

  /** The PUBLISH step of the commit protocol as an injectable seam: make
    * `tmp` visible as `target` iff `target` does not already exist, and
    * report whether THIS committer won the version. The contract is
    * exactly a conditional put — the primitive every coordination
    * substrate provides in its own dialect (HDFS rename-no-overwrite,
    * object-store `If-None-Match` put, a lock service fronting a
    * local filesystem whose rename overwrites). The engine turns a
    * `false` into [[CommitConflictException]]; a thrown IOException is a
    * genuine filesystem failure, not a lost race. Implementations must
    * be atomic across PROCESSES on their substrate; everything above
    * this seam (version derivation, staging, rebase, retry) is
    * substrate-agnostic and tested through injected guards simulating
    * each dialect ([[graft.SnapshotSpec]]).
    */
  trait CommitGuard {
    def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean
  }

  /** Default guard: exists + rename, serialized per table within the
    * JVM. On HDFS-class filesystems the rename itself refuses to
    * overwrite, so the exists check is only a fast-path courtesy and
    * cross-process atomicity comes from the NameNode; on a local
    * filesystem (whose rename overwrites) the JVM lock closes the
    * window for same-process writers and cross-JVM local-FS writers
    * remain the caller's coordination problem — the scale deployment
    * (HDFS / object store with conditional create) is not.
    */
  object JvmLockedRenameGuard extends CommitGuard {
    override def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean =
      commitLock(tablePath).synchronized {
        // a version slot has TWO spellings — the plain manifest and a
        // commit group's staged `.grp` twin — and they must serialize
        // as one slot: the caller's pre-check closes the common case,
        // this in-lock check closes the same-JVM race. A cross-process
        // guard implementation should treat the pair the same way (the
        // caveat below applies to it exactly as to plain commits).
        val name = target.getName
        val twin =
          if (name.endsWith(".json.grp"))
            Some(new HPath(target.getParent, name.stripSuffix(".grp")))
          else if (name.endsWith(".json"))
            Some(new HPath(target.getParent, s"$name.grp"))
          else None
        if (fs.exists(target) || twin.exists(fs.exists)) false
        else if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"snapshot commit failed: could not rename into $target")
        else true
      }
  }

  /** Test-injectable publish seam. Never reassigned outside tests. */
  @volatile private[graft] var commitGuard: CommitGuard = JvmLockedRenameGuard

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A snapshot table EXISTS when at least one version ever COMMITTED —
    * the log directory alone is not enough: a crashed first create
    * leaves `_graft_log/.tmp-*` (and orphan txn files) behind, and a
    * catalog that half-sees such a husk would refuse the rerun of the
    * very CREATE that crashed while every read still fails.
    */
  def isSnapshotTable(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new HPath(path, LogDirName)) &&
      latestVersion(spark, path).isDefined

  // ---------------------------------------------------------------- log

  private val ManifestName = """v(\d{8})\.json""".r
  private val GrpManifestName = """v(\d{8})\.json\.grp""".r

  private def manifestPath(path: String, v: Long): HPath =
    new HPath(s"$path/$LogDirName/" + f"v$v%08d.json")

  /** A commit-group STAGED manifest: occupies version slot `v` but is
    * INVISIBLE to every reader (the listing/probe paths match only
    * `.json`) until its group's marker commits, at which point any
    * reader or writer that encounters it rolls it forward — one atomic
    * rename to the plain name ([[resolveGroupSlot]]).
    */
  private def grpManifestPath(path: String, v: Long): HPath =
    new HPath(s"$path/$LogDirName/" + f"v$v%08d.json.grp")

  /** When set (by [[graft.operators.CommitGroup]]), [[commitManifest]]
    * STAGES into the group instead of publishing: the manifest lands at
    * the `.json.grp` name carrying the group's marker path, and only
    * the marker commit makes it (and every sibling table's staged
    * manifest) visible — the multi-table atomic publish a DAG tick
    * needs. Driver-thread state: every manifest commit runs on the
    * caller's thread.
    */
  private[operators] val groupMarker = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  /** Members staged by THIS thread's in-flight commit group: (qualified
    * table root, staged version). [[graft.operators.CommitGroup]]
    * serializes the list into the committed marker, so tick readers
    * can pin EVERY member table's version through one marker — the
    * cross-table consistent-read half of the tick contract.
    */
  private[operators] val groupStagedMembers =
    new ThreadLocal[scala.collection.mutable.ListBuffer[(String, Long)]] {
      override def initialValue() = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    }

  /** The one funnel for a table's identity string (external refs, commit
    * locks, tick membership all key on it). */
  private[graft] def qualifiedRoot(spark: SparkSession, path: String): String =
    fsFor(spark, path).makeQualified(new HPath(path)).toString

  /** How long a PENDING (markerless) staged group manifest may hold its
    * version slot before a concurrent writer may abort the group.
    * Staging is seconds of metadata work; the default is generous.
    */
  private def groupGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.group.pendingGraceMs").map(_.toLong)
      .getOrElse(10L * 60 * 1000)

  /** Read a group marker's state: None = pending (no marker file),
    * Some(true) = committed, Some(false) = aborted.
    */
  private[operators] def groupState(fs: FileSystem, marker: String): Option[Boolean] = {
    val p = new HPath(marker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim finally in.close()
      // two content forms: the bare legacy word, and the JSON envelope
      // carrying the tick's member map ({"state":"commit","members":…})
      if (s.startsWith("{"))
        Some(scala.util.Try {
          val r = new ObjectMapper().readTree(s)
          r.has("state") && r.get("state").asText() == "commit"
        }.getOrElse(false))
      else Some(s == "commit")
    }
  }

  /** Write a group marker ONCE through the commit guard (same
    * conditional-put discipline as every manifest): returns the
    * group's FINAL state — the winner's content decides.
    */
  private[operators] def publishGroupMarker(spark: SparkSession, marker: String,
                                            state: String): Boolean = {
    val fs = fsFor(spark, marker)
    val dir = new HPath(marker).getParent
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new HPath(dir, s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(state.getBytes("UTF-8")) finally out.close()
    val won =
      try commitGuard.publish(fs, dir.toString, tmp, new HPath(marker))
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (!won) fs.delete(tmp, true)
    groupState(fs, marker).contains(true)
  }

  /** Resolve one table's staged group manifest at version slot `v`, if
    * any: committed → roll FORWARD (rename to the plain name — the
    * all-or-nothing read contract: once the marker exists, every table
    * of the group reads new on its next touch); aborted → delete
    * (frees the slot); pending → leave it alone unless it outlived the
    * grace window, in which case the group is presumed crashed and
    * this caller arbitrates an ABORT through the marker guard (a slow
    * coordinator that loses this race sees the abort and reports
    * failure — never a half-published group).
    */
  private def resolveGroupSlot(spark: SparkSession, fs: FileSystem, path: String,
                               v: Long): Unit = {
    val grp = grpManifestPath(path, v)
    val (st, marker) = try {
      if (!fs.exists(grp)) return
      val in = fs.open(grp)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      val root = new ObjectMapper().readTree(bytes)
      if (!root.has("group")) { fs.delete(grp, false); return } // malformed husk
      val mk = root.get("group").asText()
      val state = groupState(fs, mk) match {
        case None =>
          val age = System.currentTimeMillis() - fs.getFileStatus(grp).getModificationTime
          if (age <= groupGraceMs(spark)) None // in-flight: leave pending
          else Some(publishGroupMarker(spark, mk, "abort")) // arbitrate
        case s => s
      }
      (state, mk)
    } catch { case _: java.io.FileNotFoundException => return } // raced: resolved
    st match {
      case Some(true) =>
        // roll forward: the plain name is the visibility flip. Runs
        // under the SAME per-table lock the default guard's exists+twin
        // checks take (commitManifest passes the qualified root as the
        // lock key) — on a local FS whose rename OVERWRITES, a resolver
        // flipping `.grp` → plain in the window between a plain
        // committer's exists checks and its rename would otherwise be
        // silently clobbered (the loud collision check below only fires
        // when the resolver's rename LOSES, not when it wins and is
        // then overwritten).
        commitLock(fs.makeQualified(new HPath(path)).toString).synchronized {
          if (!fs.rename(grp, manifestPath(path, v))) {
            val target = manifestPath(path, v)
            if (!fs.exists(target))
              throw new java.io.IOException(s"commit-group roll-forward failed for $grp")
            // target occupied: either a CONCURRENT RESOLVER won the same
            // rename (benign — the group's content is the target) or, on
            // a substrate without cross-name commit serialization, a
            // plain commit stole the slot from a committed group — that
            // is a torn tick and must be LOUD, not silently mixed
            val in = fs.open(target)
            val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
            val root = new ObjectMapper().readTree(bytes)
            if (!(root.has("group") && root.get("group").asText() == marker))
              throw new IllegalStateException(
                s"commit-group collision at $target: a plain commit occupies the slot " +
                  s"a COMMITTED group staged ($grp) — the substrate's commit guard does " +
                  "not serialize the two spellings; resolve manually before proceeding")
            if (fs.exists(grp)) fs.delete(grp, false) // benign duplicate copy
          }
        }
      case Some(false) =>
        // aborted: free the slot — same lock, so the guard's twin check
        // and this delete serialize as one slot transition
        commitLock(fs.makeQualified(new HPath(path)).toString).synchronized {
          fs.delete(grp, false)
        }
      case None => () // pending within grace
    }
  }

  /** Side-file a vacuum writes at the retention boundary so the oldest
    * kept version stays reconstructible after the delta chain behind it
    * is reclaimed. Readers prefer it when present; the version-listing
    * regex never matches it, so it is invisible to everything else.
    */
  private def ckptPath(path: String, v: Long): HPath =
    new HPath(s"$path/$LogDirName/" + f"v$v%08d.ckpt.json")

  private def lastPointerPath(path: String): HPath =
    new HPath(s"$path/$LogDirName/_last")

  /** Test-only observability: called with the table path whenever a
    * full log-directory listing happens — a spec pins that the common
    * read path (pointer + forward probe) never lists. Never read by
    * engine code.
    */
  @volatile private[graft] var listHook: String => Unit = _ => ()

  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val log = new HPath(path, LogDirName)
    if (!fs.exists(log)) Seq.empty
    else {
      listHook(path)
      val names = fs.listStatus(log).toSeq.map(_.getPath.getName)
      // staged commit-group manifests resolve BEFORE the answer: a
      // committed group rolls forward here (and becomes a plain
      // version), pending/aborted stays invisible
      val staged = names.collect { case GrpManifestName(n) => n.toLong }
      if (staged.isEmpty)
        names.collect { case ManifestName(n) => n.toLong }.sorted
      else {
        staged.foreach(v => resolveGroupSlot(spark, fs, path, v))
        fs.listStatus(log).toSeq.map(_.getPath.getName).collect {
          case ManifestName(n) => n.toLong
        }.sorted
      }
    }
  }

  /** O(1) in the log size: the `_last` pointer names the latest
    * committed version; a forward probe covers the
    * crash-between-rename-and-pointer window (the pointer is a HINT —
    * the manifest rename is the commit point, so a stale, torn or
    * missing pointer only costs the full-listing fallback, never a
    * wrong answer). Without this, every read of a years-of-hourly-
    * commits table pays an O(#versions) directory listing.
    */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val fs = fsFor(spark, path)
    val hinted: Option[Long] =
      try {
        val p = lastPointerPath(path)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
          scala.util.Try(new String(bytes, "UTF-8").trim.toLong).toOption
        }
      } catch { case _: Exception => None }
    hinted match {
      case Some(v) if fs.exists(manifestPath(path, v)) =>
        var cur = v
        var done = false
        while (!done) {
          while (fs.exists(manifestPath(path, cur + 1))) cur += 1
          // a COMMITTED group's staged manifest rolls forward on first
          // touch, so readers observe the whole tick's flip, never a
          // mixed one. Checked only at the probe's TAIL — plain
          // versions never exist above an unresolved group slot
          // (commitManifest refuses the slot while a stage holds it),
          // so the no-group common path pays exactly ONE extra exists.
          resolveGroupSlot(spark, fs, path, cur + 1)
          if (fs.exists(manifestPath(path, cur + 1))) cur += 1 else done = true
        }
        Some(cur)
      case _ => versions(spark, path).lastOption
    }
  }

  private def writeLastPointer(fs: FileSystem, path: String, v: Long): Unit =
    try {
      val out = fs.create(lastPointerPath(path), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: Exception => () } // hint only: readers fall back

  def manifest(spark: SparkSession, path: String, version: Long): Manifest =
    manifestFrom(fsFor(spark, path), path, version)

  private def parseStats(root: com.fasterxml.jackson.databind.JsonNode): Map[String, SnapshotStats.FileStats] =
    if (!root.has("stats")) Map.empty
    else root.get("stats").properties().asScala.map { e =>
      val n = e.getValue
      val cols = if (!n.has("cols")) Map.empty[String, SnapshotStats.ColStats]
      else n.get("cols").properties().asScala.map { ce =>
        val c = ce.getValue
        ce.getKey -> SnapshotStats.ColStats(
          if (c.has("mn")) Some(c.get("mn").asText()) else None,
          if (c.has("mx")) Some(c.get("mx").asText()) else None,
          if (c.has("nulls")) Some(c.get("nulls").asLong()) else None,
          c.has("tr") && c.get("tr").asBoolean())
      }.toMap
      e.getKey -> SnapshotStats.FileStats(n.get("rows").asLong(), cols,
        if (n.has("bytes")) n.get("bytes").asLong() else 0L)
    }.toMap

  private def parseDvs(root: com.fasterxml.jackson.databind.JsonNode, field: String): Map[String, DvRef] =
    if (!root.has(field)) Map.empty
    else root.get(field).properties().asScala.map { e =>
      e.getKey -> DvRef(e.getValue.get("file").asText(), e.getValue.get("rows").asLong())
    }.toMap

  private def parseBlooms(root: com.fasterxml.jackson.databind.JsonNode, field: String): Map[String, BloomRef] =
    if (!root.has(field)) Map.empty
    else root.get(field).properties().asScala.map { e =>
      e.getKey -> BloomRef(e.getValue.get("file").asText(),
        e.getValue.get("cols").elements().asScala.map(_.asText()).toSeq)
    }.toMap

  /** Load one version: the boundary CHECKPOINT if vacuum wrote one
    * (the version's delta chain may have been reclaimed), else the
    * version's own manifest — replayed over its parent chain when it
    * is a delta. Chain length is bounded by the checkpoint cadence
    * ([[LogCheckpointIntervalKey]]), so a read is O(interval) small
    * JSON parses, never O(#versions).
    */
  private def manifestFrom(fs: FileSystem, path: String, version: Long): Manifest = {
    val ck = ckptPath(path, version)
    val p = if (fs.exists(ck)) ck else manifestPath(path, version)
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val root = new ObjectMapper().readTree(bytes)
    if (root.has("base"))
      return applyDelta(manifestFrom(fs, path, root.get("base").asLong()), root)
    Manifest(
      root.get("version").asLong(),
      root.get("partitionCols").elements().asScala.map(_.asText()).toSeq,
      root.get("schemaDdl").asText(),
      root.get("files").elements().asScala.map(_.asText()).toSeq,
      parseStats(root),
      if (!root.has("streamBatch")) Map.empty
      else root.get("streamBatch").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      if (root.has("committedAt")) root.get("committedAt").asLong() else 0L,
      parseDvs(root, "dvs"),
      parseBlooms(root, "blooms"),
      parseColMap(root, "colMap"),
      parseStrings(root, "retiredCols"),
      parseColMap(root, "constraints"),
      parseColMap(root, "generatedCols"),
      if (root.has("operation")) root.get("operation").asText() else "",
      parseStrings(root, "clusterBy"),
      parseColMap(root, "properties"),
      parseColMap(root, "externalRoots"),
      parseLongMap(root, "tags"),
      parseLongMap(root, "colNdv"),
      parseColMap(root, "colDefault"),
      parseColMap(root, "colExistsDefault"),
      parseLongMap(root, "branches"),
      parseColHist(root, "colHist"))
  }

  private def parseColMap(root: com.fasterxml.jackson.databind.JsonNode, field: String): Map[String, String] =
    if (!root.has(field)) Map.empty
    else root.get(field).properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def parseLongMap(root: com.fasterxml.jackson.databind.JsonNode, field: String): Map[String, Long] =
    if (!root.has(field)) Map.empty
    else root.get(field).properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap

  private def parseStrings(root: com.fasterxml.jackson.databind.JsonNode, field: String): Seq[String] =
    if (!root.has(field)) Nil
    else root.get(field).elements().asScala.map(_.asText()).toSeq

  private def putColHist(node: com.fasterxml.jackson.databind.node.ObjectNode,
                         field: String, hist: Map[String, ColHist],
                         explicitEmpty: Boolean = false): Unit =
    if (hist.nonEmpty || explicitEmpty) {
      val h = node.putObject(field)
      hist.toSeq.sortBy(_._1).foreach { case (c, ch) =>
        val n = h.putObject(c)
        n.put("h", ch.height)
        ch.exactMin.foreach(n.put("min", _))
        ch.exactMax.foreach(n.put("max", _))
        val bs = n.putArray("bins")
        ch.bins.foreach { b =>
          val a = bs.addArray(); a.add(b.lo); a.add(b.hi); a.add(b.ndv)
        }
      }
    }

  private def parseColHist(root: com.fasterxml.jackson.databind.JsonNode,
                           field: String): Map[String, ColHist] =
    if (!root.has(field)) Map.empty
    else root.get(field).properties().asScala.map { e =>
      val n = e.getValue
      val bins = n.get("bins").elements().asScala.map { b =>
        HistBin(b.get(0).asDouble(), b.get(1).asDouble(), b.get(2).asLong())
      }.toSeq
      e.getKey -> ColHist(n.get("h").asDouble(), bins,
        if (n.has("min")) Some(n.get("min").asText()) else None,
        if (n.has("max")) Some(n.get("max").asText()) else None)
    }.toMap

  def latestManifest(spark: SparkSession, path: String): Option[Manifest] =
    latestVersion(spark, path).map(manifest(spark, path, _))

  /** Partition values of a manifest-relative file path, by parsing the
    * hive-escaped `col=value` segments between the txn dir and the file
    * name. Null partitions carry the [[NullPartition]] sentinel.
    */
  private[graft] def partitionValues(partitionCols: Seq[String], file: String): Map[String, String] = {
    val unescape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName _
    val segs = file.split('/').drop(1).dropRight(1)
    segs.flatMap { s =>
      val eq = s.indexOf('=')
      if (eq <= 0) None
      else {
        val (c, v) = (unescape(s.take(eq)), s.drop(eq + 1))
        if (partitionCols.contains(c)) Some(c -> (if (v == NullPartition) v else unescape(v)))
        else None
      }
    }.toMap
  }

  /** Resolve a manifest file entry to (root, root-relative path).
    * Local entries resolve against the table root; `@alias/…` entries —
    * the refs a SHALLOW CLONE records — resolve against the manifest's
    * [[Manifest.externalRoots]] map. Everything that opens bytes
    * (reads, DV/bloom sidecars, size probes) funnels through here;
    * everything metadata-only (stats, partition values, pruning) keys
    * on the entry STRING and never needs to care.
    */
  private[graft] def fileRootRel(path: String, m: Manifest, f: String): (String, String) =
    if (f.startsWith("@")) {
      val i = f.indexOf('/')
      require(i > 1, s"bad external file ref: $f")
      val alias = f.substring(1, i)
      val root = m.externalRoots.getOrElse(alias, throw new IllegalStateException(
        s"external file ref '$f' names unknown root alias '$alias'"))
      (root, f.substring(i + 1))
    } else (path, f)

  /** Absolute (filesystem) path of a manifest file entry. */
  private[graft] def fileAbs(path: String, m: Manifest, f: String): String = {
    val (r, rel) = fileRootRel(path, m, f); s"$r/$rel"
  }

  // --------------------------------------------------------------- read

  /** The latest committed version, pinned: the returned DataFrame reads
    * exactly the files of the manifest that was current at this call —
    * later commits (even compactions that drop these files from the
    * live set) do not change or break it until `vacuum` reclaims them.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path,
      latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table (no $LogDirName): $path")))

  /** Time travel: read an explicit committed version. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readFiles(spark, path, manifest(spark, path, version))

  /** Newest retained version committed at or before `tsMicros` (epoch
    * micros) — commit stamps are monotone per table (commits serialize
    * on the version counter), so a BINARY SEARCH over the retained log
    * resolves the timestamp in O(log #versions) manifest reads, never a
    * full log scan. None when the earliest retained commit is already
    * later (or the table predates commit stamps and `tsMicros` is
    * before stamp support — stamp 0 sorts before every real time).
    */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMicros: Long): Option[Long] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) return None
    val fs = fsFor(spark, path)
    var lo = 0
    var hi = vs.size - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (manifestFrom(fs, path, vs(mid)).committedAtMicros <= tsMicros) {
        best = mid; lo = mid + 1
      } else hi = mid - 1
    }
    if (best < 0) None else Some(vs(best))
  }

  /** The first version committed AT OR AFTER `tsMicros` — the streaming
    * twin of [[versionAtTimestamp]] (a stream's `startingTimestamp`
    * means "changes from this moment on", where time travel means "the
    * state as of this moment"). None when every version is older.
    */
  def versionAtOrAfter(spark: SparkSession, path: String, tsMicros: Long): Option[Long] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) return None
    val fs = fsFor(spark, path)
    var lo = 0
    var hi = vs.size - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (manifestFrom(fs, path, vs(mid)).committedAtMicros >= tsMicros) {
        best = mid; hi = mid - 1
      } else lo = mid + 1
    }
    if (best < 0) None else Some(vs(best))
  }

  /** Time travel by wall clock: the table as of `tsMicros`. */
  def readTimestampAsOf(spark: SparkSession, path: String, tsMicros: Long): DataFrame =
    readVersion(spark, path, versionAtTimestamp(spark, path, tsMicros).getOrElse(
      throw new IllegalArgumentException(
        s"no version of $path committed at or before t=$tsMicros")))

  /** Filtered read with FILE SKIPPING: opens only files whose manifest
    * stats (per-column min/max/nullCount, [[SnapshotStats]]) might hold
    * a matching row, then applies `pred` as a residual filter — so
    * pruning is an optimization by construction, never a semantics
    * change. This is the metadata a 100 TB scan needs ABOVE the parquet
    * footer: footer row-group pruning only helps after a file is
    * opened; manifest pruning avoids opening (and listing, and
    * scheduling) the file at all. Predicates the stats walker does not
    * understand degrade to a full scan plus filter, never to a wrong
    * answer.
    */
  def readWhere(spark: SparkSession, path: String, pred: Column,
                version: Option[Long] = None): DataFrame = {
    val m = version.map(manifest(spark, path, _)).orElse(latestManifest(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"not a snapshot table: $path"))
    readFiles(spark, path, m, Some(SnapshotStats.prune(spark, m, pred, Some(path)))).where(pred)
  }

  /** Spec/diagnostic twin of [[readWhere]]: (files kept, files total)
    * for `pred` against the pinned manifest's stats.
    */
  def pruneFiles(spark: SparkSession, path: String, pred: Column,
                 version: Option[Long] = None): (Seq[String], Int) = {
    val m = version.map(manifest(spark, path, _)).orElse(latestManifest(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"not a snapshot table: $path"))
    (SnapshotStats.prune(spark, m, pred, Some(path)), m.files.size)
  }

  /** Change feed between two committed versions, at file granularity:
    * rows in files that joined the live set are `insert`, rows in files
    * that left it are `delete` (tagged in a `_change_type` column). For
    * append-only history this is exact row-level CDC; for rewrites it
    * is file-accurate — a compaction shows as delete+insert of equal
    * rows, which `net = true` cancels out (multiset EXCEPT in both
    * directions, the standard change-feed reconciliation) so only true
    * row changes remain. Cost is O(changed files) — the unchanged 100 TB
    * is never read, which is the whole point of an incremental nightly
    * consumer.
    */
  def readChanges(spark: SparkSession, path: String, fromVersion: Long, toVersion: Long,
                  net: Boolean = false): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, net, cancel = true)

  /** The SIGNED net change feed: the same change-sized insert/delete
    * streams as `readChanges(net = true)` MINUS the final value-level
    * `exceptAll` cancellation pair — two full shuffles of the change
    * streams whose only effect is removing matched (+row, −row) pairs
    * (a row deleted somewhere and an identical row inserted elsewhere
    * in the same window). For a SIGN-LINEAR consumer — anything that
    * folds `sum(±1)`/`sum(±x)` per group, i.e. every MV/rollup delta
    * fold — those pairs contribute exactly zero, so the fold result is
    * IDENTICAL while the feed skips both shuffles. MIN/MAX/KMV delete
    * tiers only see a SUPERSET of delete candidates, which can only
    * widen the (exact-by-construction) re-derivation set, never change
    * results. NOT for consumers that ship the feed itself (CDC
    * replication, streams): there the cancellation is semantic.
    */
  private[graft] def readChangesSigned(spark: SparkSession, path: String,
                                       fromVersion: Long, toVersion: Long): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, net = true, cancel = false)

  private def readChangesImpl(spark: SparkSession, path: String, fromVersion: Long,
                              toVersion: Long, net: Boolean, cancel: Boolean): DataFrame = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    val from = manifest(spark, path, fromVersion)
    val to = manifest(spark, path, toVersion)
    require(from.schemaDdl == to.schemaDdl,
      s"readChanges needs a schema-stable window; v$fromVersion and v$toVersion differ")
    // a file whose deletion vector changed kept its path but not its
    // rows: treat it as removed-at-from-state + added-at-to-state, and
    // `net` cancellation reduces that to exactly the deleted rows
    val dvChanged = to.files.intersect(from.files)
      .filter(f => from.dvs.get(f) != to.dvs.get(f))
    val pathAdded = to.files.diff(from.files)
    val pathRemoved = from.files.diff(to.files)
    if (!net) {
      val ins = readFiles(spark, path, to, Some(pathAdded ++ dvChanged))
      val del = readFiles(spark, path, from, Some(pathRemoved ++ dvChanged))
      return ins.withColumn("_change_type", lit("insert"))
        .unionByName(del.withColumn("_change_type", lit("delete")))
    }
    // NET path: a dv-changed file's from→to multiset difference is
    // exactly the rows at its newly-masked positions (deletes) plus the
    // rows at its newly-unmasked positions (inserts) — the surviving
    // bulk B cancels by the multiset identity (A ⊎ B) ∖ (M ⊎ B) =
    // A ∖ M, so it is never read, never shuffled, never compared. The
    // old formulation fed BOTH whole states of every dv-changed file
    // through a double exceptAll: table-sized shuffles to reconstruct a
    // change-sized feed (the dominant cost of every MV refresh over a
    // DV-tier delete). Position extraction is a semi-join of the raw
    // file scan against the dv-row DIFFERENCE (dv-sized, broadcast
    // under the same gate the read core uses); the final exceptAll
    // pair runs over change-sized remainders only — and is skipped
    // outright when either side is statically empty (pure-append /
    // pure-delete windows). Output multisets are IDENTICAL to the old
    // plan's: same rows, same counts, provably (see the identity
    // above), so every CDC consumer hashes the same.
    def dvDiffRows(readM: Manifest, newer: Map[String, DvRef],
                   older: Map[String, DvRef]): Option[DataFrame] = {
      // only files where the newer side HAS a vector can contribute
      val files = dvChanged.filter(f => newer.contains(f))
      if (files.isEmpty) return None
      val newRows = readDvRows(spark, path, readM, files.flatMap(newer.get).map(_.file))
      val oldRefs = files.flatMap(older.get).map(_.file)
      val diff =
        if (oldRefs.isEmpty) newRows
        else {
          val oldRows = readDvRows(spark, path, readM, oldRefs)
          val anti = to.partitionCols.foldLeft(
            newRows(DvFileCol) === oldRows(DvFileCol) &&
              newRows(DvPosCol) === oldRows(DvPosCol)) { (c, pc) =>
            c && (newRows(DvColPrefix + pc) <=> oldRows(DvColPrefix + pc))
          }
          newRows.join(oldRows, anti, "left_anti")
        }
      val raw = readFilesMeta(spark, path, readM.copy(dvs = Map.empty),
        Some(files), meta = true)
      val cond = to.partitionCols.foldLeft(
        element_at(split(raw(MetaFile), "/"), -1) === diff(DvFileCol) &&
          raw(MetaPos) === diff(DvPosCol)) { (c, pc) =>
        c && (raw(pc) <=> diff(DvColPrefix + pc))
      }
      val gate = spark.conf.getOption(DvBroadcastMaxRowsKey)
        .flatMap(_.toLongOption).getOrElse(DvBroadcastMaxRowsDefault)
      val newRowCount = files.flatMap(newer.get).map(_.rows).sum
      val build = if (newRowCount <= gate) broadcast(diff) else diff.hint("shuffle_hash")
      Some(raw.join(build, cond, "left_semi").drop(MetaFile, MetaPos))
    }
    // deletes: positions masked at to but not at from; inserts:
    // positions unmasked again (vector shrank — restore-shaped commits)
    val dvDeletes = dvDiffRows(from, to.dvs, from.dvs)
    val dvInserts = dvDiffRows(to, from.dvs, to.dvs)
    val insParts = (if (pathAdded.nonEmpty)
      Seq(readFiles(spark, path, to, Some(pathAdded))) else Nil) ++ dvInserts
    val delParts = (if (pathRemoved.nonEmpty)
      Seq(readFiles(spark, path, from, Some(pathRemoved))) else Nil) ++ dvDeletes
    val emptyRel = readFiles(spark, path, to, Some(Nil))
    val (insN, delN) = (insParts.reduceOption(_ unionByName _),
      delParts.reduceOption(_ unionByName _)) match {
      case (None, None)       => (emptyRel, emptyRel)
      case (Some(a), None)    => (a, emptyRel)
      case (None, Some(m))    => (emptyRel, m)
      case (Some(a), Some(m)) =>
        if (cancel) (a.exceptAll(m), m.exceptAll(a)) else (a, m)
    }
    insN.withColumn("_change_type", lit("insert"))
      .unionByName(delN.withColumn("_change_type", lit("delete")))
  }

  /** [[graft.sources.SnapshotSource]]'s entry into the pinned read path. */
  private[graft] def readManifestFiles(spark: SparkSession, path: String, m: Manifest,
                                       only: Seq[String]): DataFrame =
    readFiles(spark, path, m, Some(only))

  /** Physical (on-disk) name of a logical column — identity unless the
    * column was renamed after its files were written.
    */
  private[graft] def physicalOf(m: Manifest, logical: String): String =
    m.colMap.getOrElse(logical, logical)

  /** The table schema with DEFAULT metadata attached — the standard
    * Spark field-metadata contract both sides of the engine consume:
    * CURRENT_DEFAULT lets the vanilla analyzer fill column-list INSERTs
    * against catalog tables, EXISTS_DEFAULT makes the parquet readers
    * (vectorized and row converters alike) surface the frozen literal
    * for files that physically predate the column — per FILE, so
    * post-evolution nulls stay null. No defaults → the schema unchanged.
    */
  /** Strip field METADATA before rendering a schema to manifest DDL:
    * caller frames can carry metadata (our own DEFAULT keys when the
    * data was read from a defaults-carrying table or produced by the
    * analyzer's INSERT resolution, comments, …) and Spark 4's
    * `toDDL` renders some of it as clauses `fromDDL` cannot parse
    * back. The manifest's DDL is names + types + nullability, nothing
    * else; defaults live in their own manifest maps.
    */
  private def cleanFields(schema: StructType): Array[org.apache.spark.sql.types.StructField] =
    schema.fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty))

  private[graft] def withDefaultMetadata(schema: StructType, m: Manifest): StructType =
    if (m.colDefault.isEmpty && m.colExistsDefault.isEmpty) schema
    else {
      import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      StructType(schema.fields.map { f =>
        if (!m.colDefault.contains(f.name) && !m.colExistsDefault.contains(f.name)) f
        else {
          val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          m.colDefault.get(f.name).foreach(d =>
            b.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, d))
          m.colExistsDefault.get(f.name).foreach(d =>
            b.putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, d))
          f.copy(metadata = b.build())
        }
      })
    }

  /** The logical schema re-labeled with physical names — what the data
    * files actually store, and therefore what footer statistics key on.
    */
  private[graft] def physicalSchema(m: Manifest): StructType =
    StructType(StructType.fromDDL(m.schemaDdl).fields.map(f =>
      f.copy(name = physicalOf(m, f.name))))

  /** Rename a LOGICAL-named frame to physical column names for writing
    * (extra columns — e.g. evolution's new fields — keep their name).
    */
  private def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(colMap.getOrElse(c, c))): _*)

  /** Internal provenance columns for DML and deletion-vector plumbing:
    * the scanned file's full path and the row's PHYSICAL index within
    * it (Spark's parquet `_metadata` columns — exact and stable however
    * the scan is split or filtered).
    */
  private[graft] val MetaFile = "_graft_file"
  private[graft] val MetaPos = "_graft_pos"

  private def readFiles(spark: SparkSession, path: String, m: Manifest,
                        only: Option[Seq[String]] = None): DataFrame =
    readFilesMeta(spark, path, m, only, meta = false)

  /** The one read core under every batch path. `meta = true` appends
    * [[MetaFile]]/[[MetaPos]]. Files with a deletion vector are read
    * minus their deleted positions: the DV rows (driver-known small —
    * [[delete]] only takes the DV tier for low matched fractions) are
    * BROADCAST anti-joined on (file basename, physical position), so
    * merge-on-read costs one broadcast hash probe per row of only the
    * DV'd files; DV-free files take the plain scan unchanged.
    */
  private def readFilesMeta(spark: SparkSession, path: String, m: Manifest,
                            only: Option[Seq[String]], meta: Boolean): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val files = only.getOrElse(m.files)
    val dvRefs = m.dvs.view.filterKeys(files.toSet).toMap
    val needMeta = meta || dvRefs.nonEmpty
    if (files.isEmpty) {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      return if (!meta) base
      else base.withColumn(MetaFile, lit(null).cast("string"))
        .withColumn(MetaPos, lit(null).cast("long"))
    }
    // one read per txn group (partition inference needs the group's own
    // basePath), then a by-name union (missing = pre-evolution txns,
    // filled with null); cast to the table schema so partition-value
    // inference drift can never retype a column
    // group key carries the RESOLVED root: a shallow clone mixes
    // external (source-rooted) refs with its own post-clone txns, and
    // partition inference needs each group's own basePath
    val groups = files.groupBy { f =>
      val (r, rel) = fileRootRel(path, m, f); (r, rel.takeWhile(_ != '/'))
    }.toSeq.sortBy(_._1)
    val unioned = groups.map { case ((root, txn), fls) =>
      val df0 = spark.read.option("basePath", s"$root/$txn")
        .parquet(fls.map(f => fileAbs(path, m, f)): _*)
      // existence defaults fill PER GROUP, before the by-name union —
      // after the union a group that lacks the column is
      // indistinguishable from one whose rows are genuinely null
      val df = m.colExistsDefault.foldLeft(df0) { case (d, (c, litSql)) =>
        val phys = physicalOf(m, c)
        if (d.columns.contains(phys)) d
        else d.withColumn(phys, expr(litSql).cast(schema(c).dataType))
      }
      if (needMeta)
        df.withColumn(MetaFile, col("_metadata.file_path"))
          .withColumn(MetaPos, col("_metadata.row_index"))
      else df
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // files store PHYSICAL names; the projection re-labels to the
    // logical schema (identity unless a rename happened) — a Project
    // over the scan, so pushdown and pruning are untouched
    val outCols = schema.fields.toSeq.map { f =>
      val phys = physicalOf(m, f.name)
      if (unioned.columns.contains(phys)) col(phys).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ (if (needMeta) Seq(col(MetaFile), col(MetaPos)) else Nil)
    val selected = unioned.select(outCols: _*)
    val live =
      if (dvRefs.isEmpty) selected
      else {
        // positional anti-join on the vector's identity key: (data-file
        // basename, the row's partition values, physical position).
        // One write job emits the SAME part-file basename into every
        // partition dir it touches, so basename alone cannot identify a
        // file of a partitioned table; basename + typed partition
        // values can (same txn + same partition = same dir = distinct
        // names; different txns = different job uuid in the name) —
        // and typed values dodge the URI-encoding drift that makes
        // full-path string matching fragile.
        val dv = readDvRows(spark, path, m, dvRefs.values.map(_.file).toSeq)
        val cond = m.partitionCols.foldLeft(
          element_at(split(selected(MetaFile), "/"), -1) === dv(DvFileCol) &&
            selected(MetaPos) === dv(DvPosCol)) { (c, pc) =>
          c && (selected(pc) <=> dv(DvColPrefix + pc))
        }
        // size-gate the build side by the manifest's own vector row
        // counts (no job): small vectors broadcast — one hash probe per
        // row of only the DV'd files; an accreted mass past the gate
        // takes a shuffled hash join, which scales with the cluster
        // instead of with driver memory
        val dvTotalRows = dvRefs.values.map(_.rows).sum
        val gate = spark.conf.getOption(DvBroadcastMaxRowsKey)
          .flatMap(_.toLongOption).getOrElse(DvBroadcastMaxRowsDefault)
        val build = if (dvTotalRows <= gate) broadcast(dv) else dv.hint("shuffle_hash")
        selected.join(build, cond, "left_anti")
      }
    if (meta) live else live.drop(MetaFile, MetaPos)
  }

  /** Deletion-vector column names — prefixed so they can never collide
    * with table columns inside the anti-join.
    */
  private val DvColPrefix = "_graft_dv_"
  private val DvFileCol = DvColPrefix + "f"
  private val DvPosCol = DvColPrefix + "pos"

  /** Union the given deletion-vector parquet dirs into
    * (basename, partition values, position) — grouped by their commit
    * dir so partition inference gets the right basePath.
    */
  private def readDvRows(spark: SparkSession, path: String, m: Manifest,
                         refs: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val groups = refs.distinct.groupBy { r =>
      val (root, rel) = fileRootRel(path, m, r)
      (root, rel.split('/').take(2).mkString("/"))
    }.toSeq.sortBy(_._1)
    val sel = Seq(col(DvFileCol).cast("string").as(DvFileCol),
        col(DvPosCol).cast("long").as(DvPosCol)) ++
      m.partitionCols.map(pc =>
        col(DvColPrefix + pc).cast(schema(pc).dataType).as(DvColPrefix + pc))
    groups.map { case ((root, base), rs) =>
      spark.read.option("basePath", s"$root/$base")
        .parquet(rs.map(r => fileAbs(path, m, r)): _*)
    }.reduce(_.unionByName(_)).select(sel: _*)
  }

  // -------------------------------------------------------------- write

  private def listParquetRecursive(fs: FileSystem, dir: HPath): Seq[HPath] = {
    val it = fs.listFiles(dir, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[HPath]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f.getPath
    }
    out.toSeq
  }

  /** Write `df` into a fresh immutable txn dir under the table root;
    * returns the new files' table-relative paths. Nothing is live until
    * a manifest referencing them commits.
    */
  /** SQL CHECK semantics: a row violates only when the predicate is
    * FALSE (NULL passes). One short-circuit job per constraint, only
    * on constrained tables — a violating batch refuses BEFORE any file
    * lands, so enforcement can never strand half a write.
    */
  private def checkConstraints(df: DataFrame, constraints: Map[String, String]): Unit =
    constraints.toSeq.sortBy(_._1).foreach { case (n, p) =>
      val bad =
        try df.where(!coalesce(expr(p), lit(true))).limit(1).collect()
        catch {
          case e: org.apache.spark.sql.AnalysisException => throw new IllegalArgumentException(
            s"CHECK constraint $n ($p) does not resolve against the written schema " +
              s"(${df.columns.mkString(", ")}); drop the constraint first", e)
        }
      require(bad.isEmpty,
        s"CHECK constraint $n violated ($p); e.g. row ${bad.headOption.getOrElse("")}")
    }

  /** Apply GENERATED-column expressions, overwriting any caller-given
    * values: the invariant (generated value ≡ generator over its row)
    * holds by construction on every write path — an UPDATE of the
    * source column re-derives its partition value for free, and no
    * validation scan is ever needed.
    */
  private def withGenerated(df: DataFrame, generated: Map[String, String]): DataFrame =
    generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, g)) =>
      d.withColumn(c, expr(g))
    }

  /** The write-time validation set: the user's CHECK constraints plus
    * one implicit `IS NOT NULL` check per non-nullable field of the
    * TARGET schema. The catalog's INSERT path enforces NOT NULL
    * through Spark's own output resolution; this makes every other
    * constructive write path (Scala-API append, merge, the update
    * tiers, partition replaces) honor the same declaration instead of
    * silently storing nulls. Tables without NOT NULL fields add
    * nothing — zero extra cost on the common path.
    */
  private def withNotNullChecks(constraints: Map[String, String],
                                schemaDdl: String): Map[String, String] =
    constraints ++ StructType.fromDDL(schemaDdl).fields.toSeq
      .filterNot(_.nullable).map(f =>
        // the implicit keys live in a RESERVED namespace (user
        // constraint names refuse the __graft_ prefix at create /
        // addConstraint time), so a user CHECK literally named
        // not_null_<col> can never be silently overwritten here
        s"${ReservedConstraintPrefix}not_null_${f.name}" -> s"`${f.name}` IS NOT NULL")

  /** Constraint-name namespace reserved for engine-generated checks;
    * user names refuse it so the merge in [[withNotNullChecks]] can
    * never drop a user predicate.
    */
  private[graft] val ReservedConstraintPrefix = "__graft_"

  private def writeTxnFiles(df1: DataFrame, path: String, partitionCols: Seq[String],
                            colMap: Map[String, String] = Map.empty,
                            constraints: Map[String, String] = Map.empty,
                            generated: Map[String, String] = Map.empty,
                            sortBy: Seq[String] = Nil,
                            sortRange: Boolean = false): Seq[String] = {
    val df0 = withGenerated(df1, generated)
    checkConstraints(df0, constraints)
    // write-time clustering (`graft.write.sorted` policy over the
    // declared CLUSTER BY keys): files carry tight min/max from their
    // FIRST write, so point/range predicates prune without waiting for
    // a maintenance OPTIMIZE. `local` is a task-local sort (zero
    // shuffle — ranges tighten within each task); `range` adds a range
    // exchange for globally disjoint files (one shuffle per write,
    // bought exactly where an hourly landing feeds minute-level reads)
    val dfSorted =
      if (sortBy.isEmpty) df0
      else {
        val keys = (partitionCols.filterNot(sortBy.contains) ++ sortBy)
          .filter(df0.columns.contains).map(col)
        // the range exchange deliberately carries NO explicit count:
        // AQE (on by default) coalesces the post-exchange partitions to
        // its advisory size, so a 10k-row hourly batch lands as one
        // right-sized file, not spark.sql.shuffle.partitions tiny ones
        // — and an explicit count derived from df0.rdd would trigger an
        // eager sampling job per write. Sessions running AQE-off should
        // size spark.sql.shuffle.partitions to their batch volume.
        val base = if (sortRange && keys.nonEmpty) df0.repartitionByRange(keys: _*) else df0
        if (keys.isEmpty) df0 else base.sortWithinPartitions(keys: _*)
      }
    // files ALWAYS store physical names, whatever the logical schema
    // says today — that uniformity is what makes rename metadata-only
    val df = toPhysical(dfSorted, colMap)
    val txn = s"txn-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    val dir = s"$path/$txn"
    // INT96 timestamps carry no footer statistics; pin the annotated
    // micros encoding so SnapshotStats can skip on timestamp predicates.
    // The key must be session conf (ParquetFileFormat.prepareWrite reads
    // sessionState.conf AFTER writer options merge, so a per-write
    // option cannot override it); the set/write/restore window is
    // serialized under [[writeConfLock]] so two snapshot writers on
    // DIFFERENT tables in one session (allowed — the single-writer rule
    // is per table) cannot interleave set/restore and strand the conf.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    writeConfLock.synchronized {
      val tsOld = df.sparkSession.conf.getOption(tsKey)
      df.sparkSession.conf.set(tsKey, "TIMESTAMP_MICROS")
      try {
        val w = df.write.mode("errorifexists")
        (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(dir)
      } finally tsOld match {
        case Some(v) => df.sparkSession.conf.set(tsKey, v)
        case None    => df.sparkSession.conf.unset(tsKey)
      }
    }
    faultHook("data-files-written")
    val fs = fsFor(df.sparkSession, path)
    val root = fs.makeQualified(new HPath(path)).toString
    listParquetRecursive(fs, new HPath(dir)).map { p =>
      val q = fs.makeQualified(p).toString
      require(q.startsWith(root + "/"), s"txn file $q outside table root $root")
      q.drop(root.length + 1)
    }.sorted
  }

  // ------------------------------------------- manifest serialization

  private def putStats(node: com.fasterxml.jackson.databind.node.ObjectNode,
                       stats: Map[String, SnapshotStats.FileStats]): Unit =
    if (stats.nonEmpty) {
      val st = node.putObject("stats")
      stats.toSeq.sortBy(_._1).foreach { case (f, fs) =>
        val fn = st.putObject(f)
        fn.put("rows", fs.rows)
        if (fs.bytes > 0L) fn.put("bytes", fs.bytes)
        if (fs.cols.nonEmpty) {
          val cn = fn.putObject("cols")
          fs.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
            val n = cn.putObject(c)
            cs.mn.foreach(n.put("mn", _))
            cs.mx.foreach(n.put("mx", _))
            cs.nulls.foreach(n.put("nulls", _))
            if (cs.trunc) n.put("tr", true)
          }
        }
      }
    }

  private def putDvs(node: com.fasterxml.jackson.databind.node.ObjectNode,
                     field: String, dvs: Map[String, DvRef]): Unit =
    if (dvs.nonEmpty) {
      val dv = node.putObject(field)
      dvs.toSeq.sortBy(_._1).foreach { case (f, r) =>
        val n = dv.putObject(f); n.put("file", r.file); n.put("rows", r.rows)
      }
    }

  private def putBlooms(node: com.fasterxml.jackson.databind.node.ObjectNode,
                        field: String, blooms: Map[String, BloomRef]): Unit =
    if (blooms.nonEmpty) {
      val bl = node.putObject(field)
      blooms.toSeq.sortBy(_._1).foreach { case (f, r) =>
        val n = bl.putObject(f); n.put("file", r.file)
        val cs = n.putArray("cols"); r.cols.foreach(cs.add)
      }
    }

  /** The complete (checkpoint) manifest form — every live file, its
    * stats and vectors. Written at v1, every
    * [[LogCheckpointIntervalKey]]-th commit, whenever the delta form
    * fails its lossless self-check, and by vacuum at the retention
    * boundary.
    */
  private def fullNode(mapper: ObjectMapper, m: Manifest,
                       committedAtMicros: Long): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("committedAt", committedAtMicros)
    node.put("schemaDdl", m.schemaDdl)
    val pc = node.putArray("partitionCols"); m.partitionCols.foreach(pc.add)
    val fl = node.putArray("files"); m.files.foreach(fl.add)
    if (m.streamBatch.nonEmpty) {
      val sb = node.putObject("streamBatch")
      m.streamBatch.toSeq.sortBy(_._1).foreach { case (k, v) => sb.put(k, v) }
    }
    putDvs(node, "dvs", m.dvs)
    putBlooms(node, "blooms", m.blooms)
    if (m.colMap.nonEmpty) {
      val cm = node.putObject("colMap")
      m.colMap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    if (m.retired.nonEmpty) {
      val rt = node.putArray("retiredCols"); m.retired.foreach(rt.add)
    }
    if (m.constraints.nonEmpty) {
      val cn = node.putObject("constraints")
      m.constraints.toSeq.sortBy(_._1).foreach { case (n, p) => cn.put(n, p) }
    }
    if (m.generatedCols.nonEmpty) {
      val gn = node.putObject("generatedCols")
      m.generatedCols.toSeq.sortBy(_._1).foreach { case (n, g) => gn.put(n, g) }
    }
    if (m.operation.nonEmpty) node.put("operation", m.operation)
    if (m.clusterBy.nonEmpty) {
      val cb = node.putArray("clusterBy"); m.clusterBy.foreach(cb.add)
    }
    if (m.properties.nonEmpty) {
      val pr = node.putObject("properties")
      m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    }
    if (m.externalRoots.nonEmpty) {
      val er = node.putObject("externalRoots")
      m.externalRoots.toSeq.sortBy(_._1).foreach { case (a, r) => er.put(a, r) }
    }
    if (m.tags.nonEmpty) {
      val tg = node.putObject("tags")
      m.tags.toSeq.sortBy(_._1).foreach { case (n, v) => tg.put(n, v) }
    }
    if (m.colNdv.nonEmpty) {
      val nd = node.putObject("colNdv")
      m.colNdv.toSeq.sortBy(_._1).foreach { case (c, n) => nd.put(c, n) }
    }
    if (m.colDefault.nonEmpty) {
      val cd = node.putObject("colDefault")
      m.colDefault.toSeq.sortBy(_._1).foreach { case (c, d) => cd.put(c, d) }
    }
    if (m.colExistsDefault.nonEmpty) {
      val ce = node.putObject("colExistsDefault")
      m.colExistsDefault.toSeq.sortBy(_._1).foreach { case (c, d) => ce.put(c, d) }
    }
    if (m.branches.nonEmpty) {
      val br = node.putObject("branches")
      m.branches.toSeq.sortBy(_._1).foreach { case (n, v) => br.put(n, v) }
    }
    putColHist(node, "colHist", m.colHist)
    putStats(node, m.stats)
    node
  }

  /** The DELTA manifest form: only what this commit CHANGED against its
    * parent — added/removed files (stats ride the adds), deletion-vector
    * puts/drops, streamBatch puts, and the schema only when it evolved.
    * An hourly append to a million-file table commits O(batch) bytes,
    * not O(table): the full-manifest rewrite was the one remaining
    * per-commit cost proportional to table size.
    */
  private def deltaNode(mapper: ObjectMapper, m: Manifest, parent: Manifest,
                        committedAtMicros: Long): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("committedAt", committedAtMicros)
    node.put("base", parent.version)
    if (m.schemaDdl != parent.schemaDdl) node.put("schemaDdl", m.schemaDdl)
    val parentFiles = parent.files.toSet
    val fileSet = m.files.toSet
    val adds = m.files.filterNot(parentFiles)
    val removes = parent.files.filterNot(fileSet)
    if (adds.nonEmpty) { val a = node.putArray("addFiles"); adds.foreach(a.add) }
    if (removes.nonEmpty) { val r = node.putArray("removeFiles"); removes.foreach(r.add) }
    // stats ride adds; a kept file whose stats CHANGED (shouldn't
    // happen — files are immutable — but the self-check keeps us honest)
    // also lands here
    putStats(node, m.stats.filter { case (f, st) => parent.stats.get(f) != Some(st) })
    putDvs(node, "dvsPut",
      m.dvs.filter { case (f, r) => parent.dvs.get(f) != Some(r) })
    val dvsDrop = parent.dvs.keySet.intersect(fileSet).diff(m.dvs.keySet)
    if (dvsDrop.nonEmpty) { val d = node.putArray("dvsDrop"); dvsDrop.toSeq.sorted.foreach(d.add) }
    putBlooms(node, "bloomsPut",
      m.blooms.filter { case (f, r) => parent.blooms.get(f) != Some(r) })
    val bloomsDrop = parent.blooms.keySet.intersect(fileSet).diff(m.blooms.keySet)
    if (bloomsDrop.nonEmpty) { val b = node.putArray("bloomsDrop"); bloomsDrop.toSeq.sorted.foreach(b.add) }
    // column-mapping state replaces WHOLE on change (it is tiny and
    // changes only on rename/drop DDL); an absent node means inherit,
    // so a reset-to-empty writes an explicit empty node
    if (m.colMap != parent.colMap) {
      val cm = node.putObject("colMapSet")
      m.colMap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    if (m.retired != parent.retired) {
      val rt = node.putArray("retiredSet"); m.retired.foreach(rt.add)
    }
    if (m.constraints != parent.constraints) {
      val cn = node.putObject("constraintsSet")
      m.constraints.toSeq.sortBy(_._1).foreach { case (n, p) => cn.put(n, p) }
    }
    if (m.generatedCols != parent.generatedCols) {
      val gn = node.putObject("generatedColsSet")
      m.generatedCols.toSeq.sortBy(_._1).foreach { case (n, g) => gn.put(n, g) }
    }
    val sbPut = m.streamBatch.filter { case (k, v) => parent.streamBatch.get(k) != Some(v) }
    if (sbPut.nonEmpty) {
      val sb = node.putObject("streamBatchPut")
      sbPut.toSeq.sortBy(_._1).foreach { case (k, v) => sb.put(k, v) }
    }
    // per-commit metadata, never inherited: each delta carries its own
    if (m.operation.nonEmpty) node.put("operation", m.operation)
    if (m.clusterBy != parent.clusterBy) {
      val cb = node.putArray("clusterBySet"); m.clusterBy.foreach(cb.add)
    }
    if (m.properties != parent.properties) {
      val pr = node.putObject("propertiesSet")
      m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    }
    if (m.externalRoots != parent.externalRoots) {
      val er = node.putObject("externalRootsSet")
      m.externalRoots.toSeq.sortBy(_._1).foreach { case (a, r) => er.put(a, r) }
    }
    // tag state replaces WHOLE on change (tiny, changes only on
    // CREATE/DROP TAG); absent node means inherit, so a reset-to-empty
    // writes an explicit empty node
    if (m.tags != parent.tags) {
      val tg = node.putObject("tagsSet")
      m.tags.toSeq.sortBy(_._1).foreach { case (n, v) => tg.put(n, v) }
    }
    if (m.colNdv != parent.colNdv) {
      val nd = node.putObject("colNdvSet")
      m.colNdv.toSeq.sortBy(_._1).foreach { case (c, n) => nd.put(c, n) }
    }
    if (m.colDefault != parent.colDefault) {
      val cd = node.putObject("colDefaultSet")
      m.colDefault.toSeq.sortBy(_._1).foreach { case (c, d) => cd.put(c, d) }
    }
    if (m.colExistsDefault != parent.colExistsDefault) {
      val ce = node.putObject("colExistsDefaultSet")
      m.colExistsDefault.toSeq.sortBy(_._1).foreach { case (c, d) => ce.put(c, d) }
    }
    if (m.branches != parent.branches) {
      val br = node.putObject("branchesSet")
      m.branches.toSeq.sortBy(_._1).foreach { case (n, v) => br.put(n, v) }
    }
    if (m.colHist != parent.colHist) putColHist(node, "colHistSet", m.colHist,
      explicitEmpty = true)
    node
  }

  /** Reconstruct a manifest from its delta node applied over the parent.
    * Files keep parent order with removals dropped and adds appended —
    * order is not semantic (reads group by partition), but keeping it
    * stable keeps plans and file listings deterministic.
    */
  private def applyDelta(parent: Manifest, root: com.fasterxml.jackson.databind.JsonNode): Manifest = {
    val adds =
      if (root.has("addFiles")) root.get("addFiles").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    val removes =
      if (root.has("removeFiles")) root.get("removeFiles").elements().asScala.map(_.asText()).toSet
      else Set.empty[String]
    val files = parent.files.filterNot(removes) ++ adds
    val stats = (parent.stats -- removes) ++ parseStats(root)
    val dvsDrop =
      if (root.has("dvsDrop")) root.get("dvsDrop").elements().asScala.map(_.asText()).toSet
      else Set.empty[String]
    val dvs = (parent.dvs -- removes -- dvsDrop) ++ parseDvs(root, "dvsPut")
    val bloomsDrop =
      if (root.has("bloomsDrop")) root.get("bloomsDrop").elements().asScala.map(_.asText()).toSet
      else Set.empty[String]
    val blooms = (parent.blooms -- removes -- bloomsDrop) ++ parseBlooms(root, "bloomsPut")
    val sbPut =
      if (!root.has("streamBatchPut")) Map.empty[String, Long]
      else root.get("streamBatchPut").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
    Manifest(
      root.get("version").asLong(),
      parent.partitionCols,
      if (root.has("schemaDdl")) root.get("schemaDdl").asText() else parent.schemaDdl,
      files, stats, parent.streamBatch ++ sbPut,
      if (root.has("committedAt")) root.get("committedAt").asLong() else 0L,
      dvs, blooms,
      if (root.has("colMapSet")) parseColMap(root, "colMapSet") else parent.colMap,
      if (root.has("retiredSet")) parseStrings(root, "retiredSet") else parent.retired,
      if (root.has("constraintsSet")) parseColMap(root, "constraintsSet") else parent.constraints,
      if (root.has("generatedColsSet")) parseColMap(root, "generatedColsSet") else parent.generatedCols,
      // the DELTA's own label, never the parent's: operation is
      // per-commit metadata
      if (root.has("operation")) root.get("operation").asText() else "",
      if (root.has("clusterBySet")) parseStrings(root, "clusterBySet")
      else parent.clusterBy,
      if (root.has("propertiesSet")) parseColMap(root, "propertiesSet")
      else parent.properties,
      if (root.has("externalRootsSet")) parseColMap(root, "externalRootsSet")
      else parent.externalRoots,
      if (root.has("tagsSet")) parseLongMap(root, "tagsSet") else parent.tags,
      if (root.has("colNdvSet")) parseLongMap(root, "colNdvSet") else parent.colNdv,
      if (root.has("colDefaultSet")) parseColMap(root, "colDefaultSet") else parent.colDefault,
      if (root.has("colExistsDefaultSet")) parseColMap(root, "colExistsDefaultSet")
      else parent.colExistsDefault,
      if (root.has("branchesSet")) parseLongMap(root, "branchesSet") else parent.branches,
      if (root.has("colHistSet")) parseColHist(root, "colHistSet") else parent.colHist)
  }

  /** Logical equality modulo commit stamp and file ORDER — the delta
    * self-check: a delta is only committed if replaying it over the
    * parent reproduces exactly the manifest being committed.
    */
  private def sameLogical(a: Manifest, b: Manifest): Boolean =
    a.version == b.version && a.partitionCols == b.partitionCols &&
      a.schemaDdl == b.schemaDdl && a.files.toSet == b.files.toSet &&
      a.files.size == b.files.size && a.stats == b.stats &&
      a.streamBatch == b.streamBatch && a.dvs == b.dvs && a.blooms == b.blooms &&
      a.colMap == b.colMap && a.retired == b.retired && a.constraints == b.constraints &&
      a.generatedCols == b.generatedCols && a.operation == b.operation &&
      a.clusterBy == b.clusterBy && a.properties == b.properties &&
      a.externalRoots == b.externalRoots && a.tags == b.tags &&
      a.colNdv == b.colNdv && a.colDefault == b.colDefault &&
      a.colExistsDefault == b.colExistsDefault && a.branches == b.branches &&
      a.colHist == b.colHist

  /** The atomic step: stage the manifest JSON under a temp name in the
    * log dir, then a single rename to its version name. Readers list
    * only `vNNNNNNNN.json` names, so the staged file is invisible and
    * the rename is the commit point.
    *
    * What gets staged is the DELTA form whenever a parent exists and
    * the checkpoint cadence doesn't demand a full one — commit cost is
    * O(what changed), not O(#files). Correctness never rests on the
    * delta writer: every delta is replayed over the parent before
    * staging, and any divergence falls back to the full form.
    */
  private def commitManifest(spark: SparkSession, path: String, m0: Manifest): Long = {
    // bloom refs are per-file metadata a writer need not know exists:
    // when a rewrite drops a file, its ref drops with it here, so every
    // committed manifest's refs point at live files by construction
    val m = if (m0.blooms.isEmpty) m0
            else m0.copy(blooms = m0.blooms.view.filterKeys(m0.files.toSet).toMap)
    val fs = fsFor(spark, path)
    val log = new HPath(path, LogDirName)
    if (!fs.exists(log)) fs.mkdirs(log)
    val target = manifestPath(path, m.version)
    require(m.dvs.keySet.subsetOf(m.files.toSet),
      "manifest dvs reference non-live files: " +
        m.dvs.keySet.diff(m.files.toSet).mkString(", "))
    val mapper = new ObjectMapper()
    // commit wall-clock, stamped HERE (never caller-supplied): per-table
    // commits serialize on the version counter, so this is monotone up
    // to OS clock steps — the basis for timestamp time travel
    val nowMicros = System.currentTimeMillis() * 1000L
    val interval = math.max(1,
      spark.conf.getOption(LogCheckpointIntervalKey)
        .map(_.toInt).getOrElse(LogCheckpointIntervalDefault))
    val parent =
      if (m.version > 1 && interval > 1 && (m.version - 1) % interval != 0)
        try Some(manifestFrom(fs, path, m.version - 1)) catch { case _: Exception => None }
      else None
    val node = parent match {
      case Some(p) if p.partitionCols == m.partitionCols =>
        val d = deltaNode(mapper, m, p, nowMicros)
        if (sameLogical(applyDelta(p, d), m)) d else fullNode(mapper, m, nowMicros)
      case _ => fullNode(mapper, m, nowMicros)
    }
    // a staged commit-group manifest may hold this slot: committed →
    // it rolls forward and this commit conflicts; aborted/expired → the
    // slot frees; in-flight → conflict (the retry loop re-derives)
    resolveGroupSlot(spark, fs, path, m.version)
    val marker = groupMarker.get()
    marker.foreach { mk =>
      node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("group", mk)
    }
    val realTarget = marker match {
      case Some(_) =>
        if (fs.exists(grpManifestPath(path, m.version)))
          throw new CommitConflictException(
            s"snapshot commit conflict: version ${m.version} is held by a staged " +
              s"commit group at $path")
        grpManifestPath(path, m.version)
      case None => target
    }
    val tmp = new HPath(log, s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    faultHook("manifest-staged")
    // publish through the conditional-put seam; making `target` exist is
    // the commit point on every substrate (for a group STAGE the rename
    // is only the stage point — the group MARKER is the commit point)
    val won =
      try {
        // the slot is ONE slot under two spellings: a plain commit must
        // not land while a staged group holds it, and a group stage
        // must not land once the plain name committed. The cross-name
        // check runs under the SAME per-table lock the default guard
        // renames under (reentrant for it), so within a JVM the two
        // spellings serialize; a substrate whose guard coordinates
        // across processes on single names keeps the same residual
        // window local-FS plain commits already have (see
        // JvmLockedRenameGuard's caveat).
        val other =
          if (marker.isEmpty) grpManifestPath(path, m.version)
          else manifestPath(path, m.version)
        if (fs.exists(other)) false
        else commitGuard.publish(fs, fs.makeQualified(new HPath(path)).toString, tmp, realTarget)
      } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (!won) {
      fs.delete(tmp, true)
      throw new CommitConflictException(
        s"snapshot commit conflict: version ${m.version} already exists at $path")
    }
    faultHook("manifest-committed")
    // a group STAGE records its membership so the coordinator's marker
    // can carry the tick's (table → version) map for pinned reads
    marker.foreach(_ => groupStagedMembers.get() +=
      (fs.makeQualified(new HPath(path)).toString -> m.version))
    // after the commit point: a crash here leaves the pointer one
    // behind, which the read path's forward probe absorbs. A group
    // STAGE is not a commit — the pointer moves at roll-forward time.
    if (marker.isEmpty) writeLastPointer(fs, path, m.version)
    m.version
  }

  // --------------------------------------------------------- operations

  /** Footer stats keyed by what the files actually store — PHYSICAL
    * column names (`colMap` re-labels the logical DDL before the footer
    * walk; the prune side translates its lookups the same way).
    */
  private def statsFor(spark: SparkSession, path: String, files: Seq[String],
                       schemaDdl: String, partitionCols: Seq[String],
                       colMap: Map[String, String] = Map.empty): Map[String, SnapshotStats.FileStats] =
    SnapshotStats.collect(spark, path, files,
      StructType(StructType.fromDDL(schemaDdl).fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name)))), partitionCols)

  /** Initialize a snapshot table (version 1) from `df`. `generatedCols`
    * maps a column name to a generator SQL expression over the row
    * (the engine's partition-transform support — `PARTITIONED BY
    * (days(ts))` becomes a visible generated DATE column the writers
    * derive on every load, the reference's DAY-partitioned BigQuery
    * landing-table shape); generated values are (re)computed on every
    * write, so the invariant never depends on the caller.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionCols: Seq[String] = Nil,
             generatedCols: Map[String, String] = Map.empty,
             constraints: Map[String, String] = Map.empty,
             keepNullability: Boolean = false,
             clusterBy: Seq[String] = Nil,
             properties: Map[String, String] = Map.empty,
             defaults: Map[String, String] = Map.empty): Long = {
    require(latestVersion(spark, path).isEmpty, s"snapshot table already exists: $path")
    constraints.keys.foreach { n =>
      require(n.nonEmpty && n.forall(c => c.isLetterOrDigit || c == '_'),
        s"create: constraint name must be [A-Za-z0-9_]+, got '$n'")
      require(!n.startsWith(ReservedConstraintPrefix),
        s"create: constraint name '$n' uses the reserved $ReservedConstraintPrefix prefix")
    }
    val full = withGenerated(df, generatedCols)
    // create-time constraints land IN the first commit (one atomic
    // version — no window where the table exists unconstrained), after
    // validating they resolve and hold on the initial data
    if (constraints.nonEmpty) checkConstraints(full, constraints)
    // NOT NULL in the stored schema means DECLARED, never inferred:
    // Scala frames built from literals/ranges/tuples carry incidental
    // nullable=false that the initial data satisfies but later writes
    // (null-filling INSERT column lists, schema evolution) legitimately
    // don't — and the engine ENFORCES the stored flags on every
    // constructive write. Only the DDL routes (catalog CREATE TABLE,
    // SQL column lists) pass keepNullability = true.
    val ddl =
      (if (keepNullability) StructType(cleanFields(full.schema))
       else StructType(cleanFields(full.schema).map(_.copy(nullable = true)))).toDDL
    clusterBy.foreach(c => require(full.columns.contains(c),
      s"create: CLUSTER BY column $c not in the schema"))
    clusterBy.foreach(c => require(!partitionCols.contains(c),
      s"create: $c is a partition column — it is already clustered by layout"))
    // engine-read policy properties validate at declaration time
    require(!properties.contains(VacuumFloorProp),
      s"create: '$VacuumFloorProp' is engine-managed (committed by vacuum)")
    locally {
      val probe = Manifest(0L, partitionCols, ddl, Nil, properties = properties,
        clusterBy = clusterBy)
      bloomPolicyCols(probe).foreach(_ => ())
      policyLong(probe, "vacuum.retainVersions")
      policyLong(probe, "vacuum.retainDays")
      policyLong(probe, "optimize.targetBytes")
      policyLong(probe, "mv.refreshEvery")
    }
    // CREATE-time defaults are write defaults only: every file written
    // from here on physically carries the column, so no existence
    // default is ever needed for them
    val schemaAtCreate = StructType.fromDDL(ddl)
    val normDefaults = defaults.map { case (c, sql) =>
      val canon = schemaAtCreate.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"create: DEFAULT for unknown column $c"))
      require(!generatedCols.contains(canon),
        s"create: DEFAULT on generated column $canon (its value is derived)")
      canon -> validateDefault(spark, canon, schemaAtCreate(canon).dataType, sql)._1
    }
    val (sortBy0, sortRange0) = writeSortSpecOf(clusterBy, properties)
    val files = writeTxnFiles(full, path, partitionCols,
      sortBy = sortBy0, sortRange = sortRange0)
    commitManifest(spark, path, Manifest(1L, partitionCols, ddl, files,
      statsFor(spark, path, files, ddl, partitionCols),
      constraints = constraints,
      generatedCols = generatedCols,
      operation = "CREATE",
      clusterBy = clusterBy,
      properties = properties,
      colDefault = normDefaults))
  }

  /** Set (upsert) and/or unset table properties as one metadata commit.
    * Properties are free-form key→value strings carried by the
    * manifest; the engine itself reads the `graft.`-prefixed policy
    * keys (vacuum retention, optimize target size) so maintenance verbs
    * can run fleet-wide with no per-table arguments.
    */
  def setProperties(spark: SparkSession, path: String,
                    set: Map[String, String], unset: Seq[String] = Nil): Long = {
    (set.keys ++ unset).foreach(k => require(k.nonEmpty && !k.exists(_.isWhitespace),
      s"setProperties: bad property key '$k'"))
    // the vacuum floor is ENGINE state (the createTag/restore
    // vacuum-race guard, committed by vacuum itself) riding the
    // property map — a user SET could disarm or corrupt it, so it
    // refuses; an unset (explicit, or the implicit REPLACE-sweep that
    // clears undeclared keys) silently carries the current value
    // through instead of dropping the guard
    require(!set.contains(VacuumFloorProp),
      s"setProperties: '$VacuumFloorProp' is engine-managed (committed by vacuum)")
    require(!set.contains(BranchBaseProp),
      s"setProperties: '$BranchBaseProp' is engine-managed (committed by REBASE BRANCH)")
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val next = (m.properties -- unset) ++ set ++
        m.properties.view.filterKeys(k =>
          k == VacuumFloorProp || k == BranchBaseProp).toMap
      // engine-read policy keys validate where they are SET, not first
      // at the nightly OPTIMIZE that consumes them
      bloomPolicyCols(m.copy(properties = next)).foreach(_ => ())
      policyLong(m.copy(properties = next), "vacuum.retainVersions")
      policyLong(m.copy(properties = next), "vacuum.retainDays")
      policyLong(m.copy(properties = next), "optimize.targetBytes")
      policyLong(m.copy(properties = next), "mv.refreshEvery")
      writeSortSpecOf(m.clusterBy, next)
      if (next == m.properties) return m.version
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = if (set.nonEmpty) "SET TBLPROPERTIES" else "UNSET TBLPROPERTIES",
        properties = next))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** The vacuum-race guard ([[vacuum]] commits it before deleting;
    * [[createTag]]/[[restore]] arbitrate against it) — engine-managed:
    * user property writes refuse it and [[restore]] carries the
    * CURRENT value forward instead of resurrecting the target
    * version's stale floor.
    */
  private[graft] val VacuumFloorProp = "graft.vacuum.floor"

  /** Branch-table property recording the branch's CURRENT base version
    * on the parent — written by [[rebaseBranch]], preferred over the
    * parent's branch record by the merge/rebase base resolution, so a
    * crash between the rebase's branch commit and its record commit
    * heals on re-run. Engine-managed: user property writes refuse it.
    */
  private[graft] val BranchBaseProp = "graft.branch.base"

  /** Valid tag name: identifier-shaped (letters, digits, `_`, `-`,
    * `.`), NOT all digits — an all-digit tag would be indistinguishable
    * from a version number everywhere `VERSION AS OF` accepts either.
    */
  private val TagNameRe = "[A-Za-z_][A-Za-z0-9_.\\-]*".r

  /** CREATE TAG: a NAMED, immutable pointer to a table version — the
    * reproducibility pin of a training-data pipeline ("the corpus run
    * 2026-08 trained on") that survives any amount of later churn.
    * Semantics:
    *
    *  - resolvable everywhere a version is: `VERSION AS OF 'name'`
    *    (catalog route and registry route), RESTORE, SHALLOW CLONE,
    *    `table_changes` — one funnel, [[resolveVersionSpec]];
    *  - VACUUM-PROTECTED: a tagged version (its manifest, data files,
    *    deletion vectors, blooms) survives every retention rule until
    *    the tag is dropped — vacuum keeps tagged versions as retained
    *    islands and stages a checkpoint for any island whose delta
    *    chain would lose a link (see [[vacuum]]);
    *  - atomic + concurrency-safe: the tag map rides the manifest, so
    *    creating a tag is one metadata commit arbitrated by the same
    *    optimistic protocol as every write (retry on conflict).
    *
    * `version` defaults to the LATEST version at commit time. Refuses a
    * duplicate name unless `replace`; refuses a version that no longer
    * reconstructs (already vacuumed) or does not exist yet.
    */
  def createTag(spark: SparkSession, path: String, name: String,
                version: Option[Long] = None, replace: Boolean = false): Long = {
    require(TagNameRe.matches(name),
      s"createTag: tag name must be identifier-shaped and not a number, got '$name'")
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val target = version.getOrElse(m.version)
      require(target <= m.version, s"createTag: version $target does not exist yet " +
        s"(latest is ${m.version})")
      if (!replace) m.tags.get(name).foreach(v => throw new IllegalArgumentException(
        s"createTag: tag '$name' already exists (-> v$v); use replace/OR REPLACE"))
      // below the published VACUUM FLOOR only already-tagged versions
      // are reliably retained — an untagged one may be mid-deletion by
      // a concurrent vacuum (which commits the floor BEFORE deleting,
      // so this check and that commit arbitrate the race)
      val floor = policyLong(m, "vacuum.floor").getOrElse(0L)
      require(target >= floor || m.tags.values.exists(_ == target),
        s"createTag: v$target is below the vacuum floor v$floor and not otherwise " +
          "tagged — it may already be reclaimed; pin a retained version instead")
      // the tagged version must still reconstruct — a tag to an
      // already-reclaimed version would be a dangling pin
      if (target != m.version)
        try manifest(spark, path, target)
        catch {
          case e: java.io.FileNotFoundException => throw new IllegalArgumentException(
            s"createTag: vacuum already reclaimed v$target; that version is gone", e)
        }
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = s"CREATE TAG $name v$target", tags = m.tags + (name -> target)))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  // ------------------------------------------------------------ branches

  /** Root of a named branch's own snapshot table: nested under the
    * parent so it shares the parent's filesystem/permissions, inside a
    * `_`-prefixed dir so partition discovery, the catalog's namespace
    * listing and the vacuum txn sweep all ignore it.
    */
  def branchPath(path: String, name: String): String = s"$path/_branch/$name"

  /** CREATE BRANCH: a named WRITABLE fork — the staging workflow a
    * corpus team runs before promoting a nightly build. Two commits:
    *
    *  1. the branch RECORD on the parent (name → base version), which
    *     makes the base a vacuum-retained island exactly like a tag —
    *     committed FIRST, so the fork can never be built on files a
    *     concurrent vacuum is reclaiming (same floor arbitration as
    *     createTag);
    *  2. a zero-copy SHALLOW CLONE of the base into [[branchPath]] —
    *     the branch IS a snapshot table, so every writer, DML
    *     statement, OPTIMIZE and stream source works against it
    *     unchanged, and its writes land under its own root.
    *
    * Reads/writes address the branch by its path (or a registry entry
    * pointing at it); `ALTER TABLE t MERGE BRANCH name` fast-forwards
    * the parent to the branch head ([[mergeBranch]]).
    */
  /** Operations that make MULTIPLE commits or read back their own
    * commit cannot run inside a commit group (a staged commit is
    * invisible to its own follow-up reads) — refuse loudly instead of
    * wedging half-staged. Plain writers (append/overwrite/replace/DML,
    * single-commit maintenance) group fine.
    */
  private[operators] def requireNotInGroup(op: String): Unit =
    require(groupMarker.get().isEmpty,
      s"$op cannot run inside a commit group: it commits more than once " +
        "(or reads back its own commit), and staged commits are invisible " +
        "until the group's marker - run it outside the group")

  def createBranch(spark: SparkSession, path: String, name: String): Long = {
    requireNotInGroup("createBranch")
    require(TagNameRe.matches(name),
      s"createBranch: branch name must be identifier-shaped and not a number, got '$name'")
    require(latestVersion(spark, branchPath(path, name)).isEmpty,
      s"createBranch: branch '$name' already has a table at ${branchPath(path, name)}")
    var base = -1L
    var attempt = 0
    var done = false
    while (!done) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      require(!m.branches.contains(name),
        s"createBranch: branch '$name' already exists (base v${m.branches(name)})")
      require(!m.tags.contains(name),
        s"createBranch: '$name' is already a tag name on this table")
      base = m.version
      try {
        commitManifest(spark, path, m.copy(version = m.version + 1,
          operation = s"CREATE BRANCH $name v$base",
          branches = m.branches + (name -> base)))
        done = true
      } catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    shallowClone(spark, path, branchPath(path, name), Some(base))
  }

  /** DROP BRANCH: delete the fork's table and release the base-version
    * pin. Divergent branch commits are discarded (that is what dropping
    * an unmerged branch means); the record removal and the dir delete
    * are ordered so a crash between them leaves only a pinned base —
    * re-running the drop completes it.
    */
  def dropBranch(spark: SparkSession, path: String, name: String,
                 ifExists: Boolean = false): Long = {
    requireNotInGroup("dropBranch")
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      if (!m.branches.contains(name)) {
        require(ifExists, s"dropBranch: no such branch '$name' " +
          s"(have: ${m.branches.keys.toSeq.sorted.mkString(", ")})")
        // a crashed earlier drop may have left the dir — finish the job
        fsFor(spark, path).delete(new HPath(branchPath(path, name)), true)
        return m.version
      }
      try {
        val v = commitManifest(spark, path, m.copy(version = m.version + 1,
          operation = s"DROP BRANCH $name", branches = m.branches - name))
        fsFor(spark, path).delete(new HPath(branchPath(path, name)), true)
        return v
      }
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** MERGE BRANCH (fast-forward): make the branch head the parent's
    * next version. Sound only when the parent's CONTENT has not moved
    * since the branch point — a diverged parent refuses loudly (the
    * caller rebases by re-branching, or drops); metadata-only parent
    * commits (tags, ANALYZE, properties, other branch records) do not
    * block, content is what matters.
    *
    * Mechanics: the branch's OWN data/DV/bloom commit dirs are RENAMED
    * into the parent root (O(#dirs) metadata moves, no bytes copied —
    * same filesystem by construction), refs the branch inherited from
    * the parent collapse back to plain local refs, and one commit on
    * the parent publishes the branch head's state. Parent history
    * stays intact — the merge is a forward commit like any other, and
    * time travel across it works. The branch record drops in the same
    * commit; the emptied branch table is deleted after.
    *
    * Two safety rails on the move window (moves happen BEFORE the
    * commit, so there is a window where moved dirs sit unreferenced
    * under the parent):
    *
    *  - every moved file/dir gets its mtime bumped to NOW, so a
    *    concurrent parent vacuum's orphan sweep (which spares anything
    *    younger than `orphanGraceMs`) treats them exactly like any
    *    other writer's freshly written files — without the bump a
    *    rename preserves the branch-time mtimes and old branch files
    *    could be reclaimed inside the window;
    *  - if the commit loop REFUSES after the moves (the parent diverged
    *    inside the window, or metadata conflicts), the moved dirs are
    *    renamed BACK before the error propagates, so a refusal always
    *    leaves the branch table fully readable.
    *
    * Parent METADATA-ONLY commits since the branch point (constraints,
    * properties, defaults, generated columns, CLUSTER BY, ANALYZE
    * stats) do not block the fast-forward — and they are not lost:
    * each facet is three-way merged (base vs parent vs branch). A key
    * changed on only one side carries through; the same key changed
    * DIFFERENTLY on both sides refuses loudly (resolve on the branch,
    * re-merge). ANALYZE stats are advisory, so they take branch-wins
    * instead of refusing.
    */
  def mergeBranch(spark: SparkSession, path: String, name: String): Long = {
    requireNotInGroup("mergeBranch")
    val fs = fsFor(spark, path)
    val qMain = fs.makeQualified(new HPath(path)).toString
    val bPath = branchPath(path, name)
    val qBranch = fsFor(spark, bPath).makeQualified(new HPath(bPath)).toString
    val bh = latestManifest(spark, bPath).getOrElse(
      throw new IllegalArgumentException(s"mergeBranch: no branch table at $bPath"))
    // fast-forward PRE-CHECK against the current parent BEFORE anything
    // moves: a refusal here (the common case — a genuinely diverged
    // parent) touches nothing
    val main0 = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    ffCheck(spark, path, name, main0, bh)
    // move the branch's LOCAL commit dirs under the parent root ONCE —
    // idempotent against the commit retry below (already-moved dirs are
    // found under the parent). Collisions are impossible by
    // construction (txn/_dv/_bloom dir names carry fresh UUIDs) but
    // refuse loudly rather than overwrite if one ever happens.
    val localEntries = (bh.files ++ bh.dvs.values.map(_.file) ++
      bh.blooms.values.map(_.file)).filterNot(_.startsWith("@")).distinct
    def baseOf(rel: String): String = {
      val segs = rel.split('/')
      if (segs.head == "_dv" || segs.head == "_bloom") segs.take(2).mkString("/")
      else segs.head
    }
    // grace-window parity: make every moved path look FRESHLY WRITTEN
    // (best-effort — a filesystem without setTimes keeps rename-time
    // mtimes, the pre-fix behavior)
    def freshen(p: HPath): Unit =
      try fs.setTimes(p, System.currentTimeMillis(), -1)
      catch { case _: UnsupportedOperationException => }
    val movedDirs = Seq.newBuilder[String]
    localEntries.map(baseOf).distinct.sorted.foreach { dir =>
      val from = new HPath(s"$qBranch/$dir")
      val to = new HPath(s"$qMain/$dir")
      if (fs.exists(from)) {
        require(!fs.exists(to),
          s"mergeBranch: parent already has a dir named $dir — refusing to overwrite")
        if (!fs.exists(to.getParent)) fs.mkdirs(to.getParent)
        require(fs.rename(from, to), s"mergeBranch: rename $from -> $to failed")
        movedDirs += dir
        freshen(to)
      } else require(fs.exists(to),
        s"mergeBranch: branch dir $dir found under neither root")
    }
    // the orphan sweep keys on individual DATA FILE mtimes inside txn
    // dirs (DV/bloom sweeps key on the commit dir, already freshened)
    localEntries.filterNot(r => r.startsWith("_dv/") || r.startsWith("_bloom/"))
      .foreach(r => freshen(new HPath(s"$qMain/$r")))
    faultHook("merge-branch-moved") // injection seam: the move→commit window
    // external refs: ones pointing back at the parent collapse to plain
    // local refs; any OTHER root (the parent was itself a clone) stays
    // external under a fresh dense alias table
    val foreignRoots = (bh.files ++ bh.dvs.values.map(_.file) ++ bh.blooms.values.map(_.file))
      .filter(_.startsWith("@"))
      .map(f => fileRootRel(bPath, bh, f)._1)
      .distinct.filterNot(r => r == qMain || r == qBranch).sorted
    val aliasOf = foreignRoots.zipWithIndex.map { case (r, i) => r -> s"r$i" }.toMap
    def remap(f: String): String = {
      if (!f.startsWith("@")) return f // branch-local: same rel, now under the parent
      val (root, rel) = fileRootRel(bPath, bh, f)
      if (root == qMain || root == qBranch) rel
      else s"@${aliasOf(root)}/$rel"
    }
    var attempt = 0
    // flips the instant the parent manifest COMMITS: from then on the
    // moved dirs belong to the parent table and the catch-all below
    // must NOT rename them back (a post-commit failure — e.g. the
    // branch-dir delete throwing — would otherwise strand the committed
    // parent with file refs that just moved out from under it)
    var committed = false
    try {
      while (true) {
        val main = latestManifest(spark, path).getOrElse(
          throw new IllegalArgumentException(s"not a snapshot table: $path"))
        val baseM = ffCheck(spark, path, name, main, bh)
        // three-way METADATA merge: a parent facet changed since the
        // branch point must not silently vanish under the branch head's
        // wholesale state (see Scaladoc); VacuumFloorProp stays engine-
        // managed — the parent's current floor always wins
        val dropProps = Seq(VacuumFloorProp, BranchBaseProp)
        val props = mergeMeta("table property", baseM.properties -- dropProps,
          main.properties -- dropProps, bh.properties -- dropProps) ++
          main.properties.view.filterKeys(_ == VacuumFloorProp).toMap
        val cons = mergeMeta("CHECK constraint", baseM.constraints,
          main.constraints, bh.constraints)
        val gens = mergeMeta("generated column", baseM.generatedCols,
          main.generatedCols, bh.generatedCols)
        val defs = mergeMeta("column DEFAULT", baseM.colDefault,
          main.colDefault, bh.colDefault)
        val exDefs = mergeMeta("column existence default", baseM.colExistsDefault,
          main.colExistsDefault, bh.colExistsDefault)
        val cluster =
          if (main.clusterBy == baseM.clusterBy) bh.clusterBy
          else if (bh.clusterBy == baseM.clusterBy) main.clusterBy
          else if (main.clusterBy == bh.clusterBy) bh.clusterBy
          else throw new IllegalArgumentException(
            "mergeBranch: CLUSTER BY changed on both the parent and the branch " +
              s"since the branch point (parent=${main.clusterBy.mkString(",")}, " +
              s"branch=${bh.clusterBy.mkString(",")}); resolve on the branch first")
        // ANALYZE stats are advisory planner input — branch wins on a
        // both-sides change, parent-side-only updates carry through
        val ndv = mergeMeta("", baseM.colNdv, main.colNdv, bh.colNdv, adviseOnly = true)
        val hist = mergeMeta("", baseM.colHist, main.colHist, bh.colHist, adviseOnly = true)
        try {
          val v = commitManifest(spark, path, Manifest(
            version = main.version + 1,
            partitionCols = bh.partitionCols,
            schemaDdl = bh.schemaDdl,
            files = bh.files.map(remap),
            stats = bh.stats.map { case (f, st) => remap(f) -> st },
            streamBatch = main.streamBatch, // parent consumers keep their marks
            dvs = bh.dvs.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
            blooms = bh.blooms.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
            colMap = bh.colMap,
            retired = bh.retired,
            constraints = cons,
            generatedCols = gens,
            operation = s"MERGE BRANCH $name",
            clusterBy = cluster,
            properties = props,
            externalRoots = aliasOf.map(_.swap),
            // parent refs, not branch state; a crashed REBASE's helper
            // pin retires with the merge
            tags = main.tags - s"__rebase_$name",
            colNdv = ndv,
            colHist = hist,
            colDefault = defs,
            colExistsDefault = exDefs,
            branches = main.branches - name))  // the record retires with the merge
          committed = true
          faultHook("merge-branch-committed") // injection seam: commit→cleanup window
          fs.delete(new HPath(bPath), true)
          return v
        } catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
      }
      -1L // unreachable
    } catch {
      case e: Throwable =>
        // a refusal AFTER the moves (in-window parent divergence,
        // metadata conflict, commit-retry exhaustion) must leave the
        // branch fully intact: undo the moves before propagating. A
        // failure AFTER the commit landed (the branch-dir delete
        // throwing) must NOT undo — the committed parent manifest
        // already references the moved dirs; the leftover branch husk
        // is harmless (its record retired with the merge) and a rerun
        // of the delete cleans it.
        if (!committed) movedDirs.result().foreach { dir =>
          val from = new HPath(s"$qMain/$dir")
          val back = new HPath(s"$qBranch/$dir")
          if (fs.exists(from) && !fs.exists(back)) {
            if (!fs.exists(back.getParent)) fs.mkdirs(back.getParent)
            fs.rename(from, back)
          }
        }
        throw e
    }
  }

  /** Three-way metadata merge for [[mergeBranch]]: per key, a side that
    * changed the value since the branch point wins over one that did
    * not; both sides changed differently → refuse (or branch-wins when
    * `adviseOnly`, for advisory stats). Deletions count as changes.
    */
  private def mergeMeta[V](facet: String, base: Map[String, V],
                           parent: Map[String, V], branch: Map[String, V],
                           adviseOnly: Boolean = false): Map[String, V] = {
    (base.keySet ++ parent.keySet ++ branch.keySet).iterator.flatMap { k =>
      val b = base.get(k); val p = parent.get(k); val br = branch.get(k)
      val chosen =
        if (p == b) br                       // parent untouched: branch state stands
        else if (br == b || p == br) p       // branch untouched (or same change): parent's
        else if (adviseOnly) br
        else throw new IllegalArgumentException(
          s"mergeBranch: $facet '$k' changed on BOTH the parent and the branch " +
            s"since the branch point (parent=${p.getOrElse("<dropped>")}, " +
            s"branch=${br.getOrElse("<dropped>")}); resolve on the branch and re-merge")
      chosen.map(k -> _)
    }.toMap
  }

  /** REBASE BRANCH: replay the branch's NET file-level deltas since its
    * branch point onto the parent's CURRENT head — the diverged-parent
    * half of the staging workflow ([[mergeBranch]] is fast-forward-only
    * and refuses a moved parent). After a successful rebase the branch
    * reads as `parent head ± branch deltas` and a MERGE BRANCH
    * fast-forwards cleanly.
    *
    * Pure metadata: no row is read or copied. The branch's deltas are
    * computed from canonical (root, relative-path) file identities —
    * files the branch ADDED carry over as-is; files it REWROTE or
    * DELETED (incl. deletion-vector changes) drop the parent's copy;
    * everything else re-points at the parent head's files. A file
    * touched on BOTH sides since the branch point is a TRUE conflict
    * and refuses loudly (re-branch and replay is the resolution), as
    * does a schema/CLUSTER BY/metadata key changed differently on both
    * sides ([[mergeMeta]] semantics, shared with the merge).
    *
    * Crash-safety: the parent head is first pinned with a helper tag
    * (`__rebase_<name>`, arbitrated against concurrent vacuums by the
    * createTag floor protocol), then the branch commits its rebased
    * manifest carrying [[BranchBaseProp]] = the new base, then the
    * parent's branch record moves to the new base and the helper tag
    * drops. A crash between any two steps leaves both tables readable,
    * and re-running REBASE (or running MERGE, which prefers
    * [[BranchBaseProp]] and retires the helper tag) completes the job.
    */
  def rebaseBranch(spark: SparkSession, path: String, name: String): Long = {
    requireNotInGroup("rebaseBranch")
    val fs = fsFor(spark, path)
    val qMain = fs.makeQualified(new HPath(path)).toString
    val bPath = branchPath(path, name)
    val qBranch = fsFor(spark, bPath).makeQualified(new HPath(bPath)).toString
    val bh = latestManifest(spark, bPath).getOrElse(
      throw new IllegalArgumentException(s"rebaseBranch: no branch table at $bPath"))
    val main = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val recorded = main.branches.getOrElse(name, throw new IllegalArgumentException(
      s"rebaseBranch: no such branch '$name' " +
        s"(have: ${main.branches.keys.toSeq.sorted.mkString(", ")})"))
    val baseV = bh.properties.get(BranchBaseProp).map(_.toLong).getOrElse(recorded)
    val baseM = manifest(spark, path, baseV)

    // canonical (absolute root, root-relative path) identity for every
    // entry, so base/parent/branch manifests compare across local vs
    // `@alias/…` ref spellings
    def keys(root: String, m: Manifest): Seq[(String, String)] =
      m.files.map(fileRootRel(root, m, _))
    def dvsOf(root: String, m: Manifest): Map[(String, String), (String, String, Long)] =
      m.dvs.map { case (f, r) =>
        val (dr, drel) = fileRootRel(root, m, r.file)
        fileRootRel(root, m, f) -> ((dr, drel, r.rows))
      }
    def bloomsOf(root: String, m: Manifest)
        : Map[(String, String), ((String, String), Seq[String])] =
      m.blooms.map { case (f, r) =>
        fileRootRel(root, m, f) -> ((fileRootRel(root, m, r.file), r.cols))
      }
    def statsOf(root: String, m: Manifest): Map[(String, String), SnapshotStats.FileStats] =
      m.stats.map { case (f, st) => fileRootRel(root, m, f) -> st }

    val baseFiles = keys(qMain, baseM).toSet
    val mainKeys = keys(qMain, main)
    val mainFiles = mainKeys.toSet
    val bhKeys = keys(qBranch, bh)
    val bhFiles = bhKeys.toSet
    val baseDvs = dvsOf(qMain, baseM)
    val mainDvs = dvsOf(qMain, main)
    val bhDvs = dvsOf(qBranch, bh)

    val branchRemoved = baseFiles -- bhFiles
    val branchAdded = bhKeys.filterNot(baseFiles)
    val parentRemoved = baseFiles -- mainFiles
    def branchTouched(f: (String, String)): Boolean =
      branchRemoved(f) || bhDvs.get(f) != baseDvs.get(f)
    def parentTouched(f: (String, String)): Boolean =
      parentRemoved(f) || mainDvs.get(f) != baseDvs.get(f)
    val conflicts = baseFiles.filter(f => branchTouched(f) && parentTouched(f))
    require(conflicts.isEmpty,
      s"rebaseBranch: TRUE conflict — ${conflicts.size} file(s) rewritten/deleted on " +
        s"BOTH the parent and the branch since the branch point v$baseV (e.g. " +
        conflicts.take(3).map(_._2).mkString(", ") +
        "); re-branch from the current head and replay")

    // the schema family travels COUPLED (column mapping and retirements
    // move with the DDL): one side changed since the base → that side's
    // state; both changed differently → refuse. Branch files written
    // under the base schema stay readable under a parent-evolved one
    // through the normal machinery (new columns read null/existence
    // default; renames remap via colMap's physical names).
    def schemaOf(m: Manifest) = (m.schemaDdl, m.colMap, m.retired, m.partitionCols)
    val schemaPick: Manifest =
      if (schemaOf(main) == schemaOf(baseM)) bh
      else if (schemaOf(bh) == schemaOf(baseM) || schemaOf(bh) == schemaOf(main)) main
      else throw new IllegalArgumentException(
        "rebaseBranch: the schema changed on BOTH the parent and the branch since " +
          s"the branch point v$baseV; resolve on the branch and re-rebase")

    val cons = mergeMeta("CHECK constraint", baseM.constraints,
      main.constraints, bh.constraints)
    val gens = mergeMeta("generated column", baseM.generatedCols,
      main.generatedCols, bh.generatedCols)
    val defs = mergeMeta("column DEFAULT", baseM.colDefault,
      main.colDefault, bh.colDefault)
    val exDefs = mergeMeta("column existence default", baseM.colExistsDefault,
      main.colExistsDefault, bh.colExistsDefault)
    val dropProps = Seq(VacuumFloorProp, BranchBaseProp)
    val props = mergeMeta("table property", baseM.properties -- dropProps,
      main.properties -- dropProps, bh.properties -- dropProps) ++
      bh.properties.view.filterKeys(_ == VacuumFloorProp).toMap +
      (BranchBaseProp -> main.version.toString)
    val cluster =
      if (main.clusterBy == baseM.clusterBy) bh.clusterBy
      else if (bh.clusterBy == baseM.clusterBy || bh.clusterBy == main.clusterBy)
        main.clusterBy
      else throw new IllegalArgumentException(
        "rebaseBranch: CLUSTER BY changed on both the parent and the branch since " +
          "the branch point; resolve on the branch and re-rebase")
    val ndv = mergeMeta("", baseM.colNdv, main.colNdv, bh.colNdv, adviseOnly = true)
    val hist = mergeMeta("", baseM.colHist, main.colHist, bh.colHist, adviseOnly = true)

    // pin the parent head as a vacuum island BEFORE the branch
    // references its files (createTag arbitrates against a concurrent
    // vacuum's published floor); the record commit below makes the pin
    // durable, then the helper retires
    createTag(spark, path, s"__rebase_$name", Some(main.version), replace = true)

    // the rebased file set: the parent head's live files minus what the
    // branch rewrote/deleted, plus the branch's own files
    // (a branch DV-change keeps the file and swaps the vector below)
    val newKeys = mainKeys.filterNot(branchRemoved) ++ branchAdded
    val branchSourced = bhFiles
    def dvPick(k: (String, String)): Option[(String, String, Long)] =
      if (baseFiles(k) && bhDvs.get(k) != baseDvs.get(k)) bhDvs.get(k) // branch's view
      else if (!mainFiles.contains(k)) bhDvs.get(k)                    // branch-added file
      else mainDvs.get(k)
    val mainBloomsC = bloomsOf(qMain, main)
    val bhBloomsC = bloomsOf(qBranch, bh)
    def bloomPick(k: (String, String)): Option[((String, String), Seq[String])] =
      if (branchSourced.contains(k) && bhBloomsC.contains(k)) bhBloomsC.get(k)
      else mainBloomsC.get(k).orElse(bhBloomsC.get(k))
    val mainStats = statsOf(qMain, main)
    val bhStats = statsOf(qBranch, bh)
    val dvSel = newKeys.flatMap(k => dvPick(k).map(k -> _)).toMap
    val bloomSel = newKeys.flatMap(k => bloomPick(k).map(k -> _)).toMap
    // fresh dense alias table over every non-branch root the rebased
    // manifest references (the parent, plus roots the parent itself
    // references as a clone)
    val extRoots = (newKeys.map(_._1) ++ dvSel.values.map(_._1) ++
      bloomSel.values.map(_._1._1)).distinct.filterNot(_ == qBranch).sorted
    val aliasOf = extRoots.zipWithIndex.map { case (r, i) => r -> s"r$i" }.toMap
    def render(k: (String, String)): String =
      if (k._1 == qBranch) k._2 else s"@${aliasOf(k._1)}/${k._2}"

    commitManifest(spark, bPath, Manifest(
      version = bh.version + 1,
      partitionCols = schemaPick.partitionCols,
      schemaDdl = schemaPick.schemaDdl,
      files = newKeys.map(render),
      stats = newKeys.flatMap(k =>
        mainStats.get(k).orElse(bhStats.get(k)).map(render(k) -> _)).toMap,
      streamBatch = bh.streamBatch, // the branch's own consumers keep their marks
      dvs = dvSel.map { case (k, (dr, drel, rows)) =>
        render(k) -> DvRef(render((dr, drel)), rows) },
      blooms = bloomSel.map { case (k, (bk, cols)) =>
        render(k) -> BloomRef(render(bk), cols) },
      colMap = schemaPick.colMap,
      retired = schemaPick.retired,
      constraints = cons,
      generatedCols = gens,
      operation = s"REBASE BRANCH onto v${main.version}",
      clusterBy = cluster,
      properties = props,
      externalRoots = aliasOf.map(_.swap),
      tags = bh.tags,
      colNdv = ndv,
      colHist = hist,
      colDefault = defs,
      colExistsDefault = exDefs,
      branches = bh.branches))

    faultHook("rebase-branch-committed") // injection seam: record handover window

    // durable pin handover: the parent's branch record moves to the new
    // base, then the helper tag retires
    var attempt = 0
    var done = false
    while (!done) {
      val cur = latestManifest(spark, path).get
      require(cur.branches.contains(name),
        s"rebaseBranch: branch '$name' was dropped concurrently")
      try {
        commitManifest(spark, path, cur.copy(version = cur.version + 1,
          operation = s"REBASE BRANCH $name v${main.version}",
          branches = cur.branches + (name -> main.version)))
        done = true
      } catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    dropTag(spark, path, s"__rebase_$name", ifExists = true)
    main.version
  }

  /** Fast-forward precondition on CONTENT: the parent's live state must
    * still be the branch point's (metadata-only commits — tags, other
    * branch records, ANALYZE, properties — do not block; their deltas
    * are three-way merged by the caller). Returns the BASE manifest so
    * the caller can compute those deltas without a second read.
    */
  private def ffCheck(spark: SparkSession, path: String, name: String,
                      main: Manifest, bh: Manifest): Manifest = {
    val recorded = main.branches.getOrElse(name, throw new IllegalArgumentException(
      s"mergeBranch: no such branch '$name' " +
        s"(have: ${main.branches.keys.toSeq.sorted.mkString(", ")})"))
    // a REBASE moves the branch's true base forward and records it on
    // the BRANCH (BranchBaseProp) before the parent record catches up —
    // prefer it, so a crash between the rebase's two commits heals
    val base = bh.properties.get(BranchBaseProp).map(_.toLong).getOrElse(recorded)
    val baseM = manifest(spark, path, base)
    require(main.files.toSet == baseM.files.toSet && main.dvs == baseM.dvs &&
      main.schemaDdl == baseM.schemaDdl && main.colMap == baseM.colMap,
      s"mergeBranch: the parent diverged since the branch point v$base " +
        "(content changed); re-branch from the current head and replay, or drop")
    baseM
  }

  /** DROP TAG: releases the pin — the version becomes reclaimable by
    * the next vacuum like any other. Unknown name refuses unless
    * `ifExists`.
    */
  def dropTag(spark: SparkSession, path: String, name: String,
              ifExists: Boolean = false): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      if (!m.tags.contains(name)) {
        require(ifExists, s"dropTag: no such tag '$name' " +
          s"(have: ${m.tags.keys.toSeq.sorted.mkString(", ")})")
        return m.version
      }
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = s"DROP TAG $name", tags = m.tags - name))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** The one version-spec funnel: an all-digit spec is a version
    * number; a `tick:<marker>` spec resolves this table's version
    * through the named commit-group marker (and `tick-latest:<dir>`
    * through the NEWEST committed group under `<dir>/_graft_groups`) —
    * the group-pinned consistent read, `SELECT … FROM t VERSION AS OF
    * 'tick:…'` on both SQL front ends; anything else is a tag name
    * resolved through the LATEST manifest's tag map. Tags work
    * wherever versions do.
    */
  def resolveVersionSpec(spark: SparkSession, path: String, spec: String): Long = {
    val s = spec.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")
    if (s.startsWith("tick:"))
      CommitGroup.versionAt(spark, s.stripPrefix("tick:"), path)
    else if (s.startsWith("tick-latest:")) {
      val dir = s.stripPrefix("tick-latest:")
      val mk = CommitGroup.latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no committed commit group under $dir"))
      CommitGroup.versionAt(spark, mk, path)
    } else s.toLongOption.getOrElse {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      m.tags.getOrElse(s, throw new IllegalArgumentException(
        s"no such tag '$s' on $path " +
          s"(have: ${m.tags.keys.toSeq.sorted.mkString(", ")})"))
    }
  }

  /** Resolve a READ-side `VERSION AS OF` spec to the (table path,
    * pinned manifest) it reads: an integer or TAG resolves within this
    * table's own log; a BRANCH name resolves to the branch table's
    * HEAD — so `SELECT … FROM t VERSION AS OF 'dev'` is how both SQL
    * front ends read a branch. Tags shadow branches on a name clash
    * (createBranch refuses clashing names, so one can only arise from
    * a tag created after the branch — the immutable pin wins).
    */
  def resolveReadSpec(spark: SparkSession, path: String, spec: String): (String, Manifest) = {
    val s = spec.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")
    if (s.toLongOption.isEmpty) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      if (!m.tags.contains(s) && m.branches.contains(s)) {
        val bp = branchPath(path, s)
        return (bp, latestManifest(spark, bp).getOrElse(
          throw new IllegalStateException(
            s"branch '$s' is recorded but its table at $bp is missing")))
      }
    }
    (path, manifest(spark, path, resolveVersionSpec(spark, path, spec)))
  }

  /** ANALYZE TABLE: per-column DISTINCT-COUNT estimates committed into
    * the manifest — the cardinality input Catalyst's cost-based
    * optimizer needs for join reordering and build-side choice, which
    * row counts and byte sizes (already metadata-exact on every
    * manifest) cannot supply alone. One pass over the table computes
    * HLL++ sketch estimates (`approx_count_distinct`) for the requested
    * columns — or every atomic-typed column — in a SINGLE aggregate
    * job: at 100 TB this is one scan, not one per column. Estimates are
    * PLANNER input only (never used to answer a query), so approximate
    * is the correct trade: an exact distinct per column would shuffle
    * the table once per column for a number whose consumer tolerates
    * ±5%. NDVs ride subsequent commits unchanged (the standard
    * stats-staleness contract every warehouse has) until the next
    * ANALYZE; RENAME/DROP COLUMN carry/drop them; a shallow clone
    * inherits them (same rows). [[graft.catalog.GraftTable]] surfaces
    * them — plus the always-exact row count — as catalog statistics on
    * the native scan, so `spark.sql.cbo.enabled` plans see real
    * cardinalities.
    */
  def analyze(spark: SparkSession, path: String, cols: Seq[String] = Nil): Long = {
    val m0 = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val schema = StructType.fromDDL(m0.schemaDdl)
    val atomic = schema.fields.filter(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType |
           org.apache.spark.sql.types.BinaryType => false
      case _ => true
    }).map(_.name).toSeq
    val targets = if (cols.isEmpty) atomic else cols.map { c =>
      // resolve case-insensitively, like every other statement's
      // column references (Spark's default resolver)
      val canon = schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"analyze: no column $c"))
      require(atomic.contains(canon),
        s"analyze: column $canon is not an atomic type (no NDV support)")
      canon
    }
    require(targets.nonEmpty, "analyze: no atomic columns to analyze")
    // EQUI-HEIGHT HISTOGRAMS ride the same statement under the vanilla
    // conf contract (spark.sql.statistics.histogram.enabled / .numBins):
    // numeric columns get percentile bounds IN the same single-scan
    // aggregate as the NDVs, then ONE more job computes per-bin
    // distinct counts for all histogram columns together (explode to
    // (col, bin, value), group — rows×histCols, an explicit maintenance
    // cost, never on a query path). Histograms give the cost-based
    // optimizer real RANGE selectivity on skewed columns, which
    // NDV+uniformity cannot.
    val histEnabled = spark.conf.getOption("spark.sql.statistics.histogram.enabled")
      .exists(_.toBoolean)
    val numBins = math.max(2, spark.conf.getOption("spark.sql.statistics.histogram.numBins")
      .map(_.toInt).getOrElse(254))
    val histTargets =
      if (!histEnabled) Nil
      else targets.filter(c =>
        schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).sorted
    val percentiles = (0 to numBins).map(_.toDouble / numBins)
    val aggs = targets.map(c => approx_count_distinct(col(c)).as(s"__ndv_$c")) ++
      histTargets.flatMap(c => Seq(
        count(col(c)).as(s"__n_$c"), // non-null rows: the height basis
        percentile_approx(col(c).cast("double"),
          array(percentiles.map(lit): _*), lit(10000)).as(s"__pct_$c"),
        // exact endpoints in the NATIVE type, stringified before any
        // double round-trip — a BIGINT beyond 2^53 must survive intact
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")))
    val row = read(spark, path).agg(aggs.head, aggs.tail: _*).head()
    val measured = targets.map(c => c -> row.getAs[Long](s"__ndv_$c")).toMap
    val boundsOf = histTargets.flatMap { c =>
      Option(row.getAs[scala.collection.Seq[Double]](s"__pct_$c")) // null = all-null column
        .map(b => c -> (b.toSeq, row.getAs[Long](s"__n_$c")))
    }
    val hists: Map[String, ColHist] =
      if (boundsOf.isEmpty) Map.empty
      else {
        val structs = boundsOf.zipWithIndex.map { case ((c, (bounds, _)), i) =>
          val internal = bounds.slice(1, bounds.size - 1)
          // bin index = #internal bounds strictly below the value —
          // (lo, hi] bins with ties landing low, matching the bounds'
          // percentile semantics
          val binIdx =
            if (internal.isEmpty) lit(0)
            else size(filter(array(internal.map(lit): _*),
              x => x < col(c).cast("double")))
          struct(lit(i).as("ci"), binIdx.as("bi"), col(c).cast("double").as("v"))
        }
        val binNdv = read(spark, path)
          .select(explode(array(structs: _*)).as("e"))
          .where(col("e.v").isNotNull)
          .groupBy(col("e.ci"), col("e.bi"))
          .agg(approx_count_distinct(col("e.v")).as("ndv"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        boundsOf.zipWithIndex.map { case ((c, (bounds, nonNull)), i) =>
          val bins = (0 until numBins).map(j => HistBin(bounds(j), bounds(j + 1),
            binNdv.getOrElse((i, j), 0L)))
          c -> ColHist(nonNull.toDouble / numBins, bins,
            Option(row.getAs[String](s"__min_$c")),
            Option(row.getAs[String](s"__max_$c")))
        }.toMap
      }
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).get
      // keys that survived concurrent DDL only (a racing DROP/RENAME
      // wins over the measurement)
      val live = StructType.fromDDL(m.schemaDdl).fieldNames.toSet
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = s"ANALYZE ${targets.size} column(s)" +
          (if (hists.nonEmpty) s", ${hists.size} histogram(s)" else ""),
        colNdv = (m.colNdv ++ measured).view.filterKeys(live).toMap,
        colHist = (m.colHist ++ hists).view.filterKeys(live).toMap))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** `graft.write.sorted` policy → (sort keys, range-partition?).
    * `none` (default): writes land as the caller shaped them. `local`:
    * task-local sort by the declared CLUSTER BY keys — zero shuffle,
    * per-file ranges tighten within each task. `range`: a range
    * exchange first, so concurrent files carry globally DISJOINT key
    * ranges — pruning-perfect from the first write, one shuffle per
    * write. With no CLUSTER BY declared the policy is a validated
    * no-op until keys are declared.
    */
  private[graft] def writeSortSpecOf(clusterBy: Seq[String],
                                     properties: Map[String, String]): (Seq[String], Boolean) =
    properties.get("graft.write.sorted").map(_.trim.toLowerCase) match {
      case None | Some("none") | Some("") => (Nil, false)
      case Some("local") => (clusterBy, false)
      case Some("range") => (clusterBy, true)
      case Some(other) => throw new IllegalArgumentException(
        s"table property graft.write.sorted must be none|local|range, got '$other'")
    }

  private[graft] def writeSortSpec(m: Manifest): (Seq[String], Boolean) =
    writeSortSpecOf(m.clusterBy, m.properties)

  /** An engine policy key, read from table properties: `graft.<name>`. */
  private[graft] def policyProp(m: Manifest, name: String): Option[String] =
    m.properties.get(s"graft.$name").map(_.trim).filter(_.nonEmpty)

  /** A NUMERIC policy key — unparseable values throw at maintenance
    * time rather than silently reverting to a default (a typo'd
    * retention that silently falls back reclaims history the operator
    * configured to keep; loud beats gone).
    */
  private[graft] def policyLong(m: Manifest, name: String): Option[Long] =
    policyProp(m, name).map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"table property graft.$name must be an integer, got '$v'")))

  /** Bare-VACUUM entry honouring the TABLE's own retention policy
    * (graft.vacuum.retainVersions / retainDays properties) — the one
    * body both SQL routes call, so fleet-wide maintenance respects
    * per-table rules everywhere. Explicit RETAIN clauses bypass this.
    */
  def vacuumPolicy(spark: SparkSession, path: String,
                   dryRun: Boolean = false): Seq[String] = {
    val m = latestManifest(spark, path)
    val keepV = m.flatMap(policyLong(_, "vacuum.retainVersions")).map(_.toInt)
    val keepDays = m.flatMap(policyLong(_, "vacuum.retainDays"))
    vacuum(spark, path,
      keepVersions = keepV.getOrElse(if (keepDays.isDefined) 1 else 2),
      retainMicros = keepDays.map(_ * 86400L * 1000000L),
      dryRun = dryRun)
  }

  /** Declare (or clear, with Nil) the table's CLUSTERING columns:
    * metadata-only — the layout changes when the next [[compact]]
    * runs, which z-orders by these columns whenever the caller names
    * none explicitly. The `OPTIMIZE t` a nightly job fires needs no
    * per-table knowledge; the table itself carries its layout policy.
    */
  def setClusterBy(spark: SparkSession, path: String, cols: Seq[String]): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val schema = StructType.fromDDL(m.schemaDdl)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"setClusterBy: column $c not in the schema"))
      cols.foreach(c => require(!m.partitionCols.contains(c),
        s"setClusterBy: $c is a partition column — it is already clustered by layout"))
      if (m.clusterBy == cols) return m.version
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = "CLUSTER BY", clusterBy = cols))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** K1 append: new version = old live set + the new txn's files.
    *
    * `mergeSchema = true` allows the batch to ADD columns (the snapshot
    * form of the reference's autodetect loads — BigQuery load jobs with
    * `schema=[]` grow the destination table's schema the same way,
    * e.g. audio_digital.py's rollups): genuinely new fields append to
    * the table schema, and pre-evolution files read those columns as
    * null. Without it, a batch whose column set differs from the table
    * is refused — silently dropping a column is how data loss hides.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             mergeSchema: Boolean = false): Long =
    appendWith(spark, path, df, mergeSchema, identity, _ => true).get

  /** Append core with OPTIMISTIC CONCURRENCY: txn files are validated
    * and written once, then the commit rebases onto whatever manifest
    * is current and retries on a concurrent commit — appends commute,
    * so a rebase (re-union the live file list, re-resolve the evolved
    * schema) is always semantics-preserving. This is the one writer
    * family where multi-writer is safe without conflict analysis; the
    * read-modify-write writers still refuse on conflict. `guard`
    * re-evaluates against each rebased manifest (appendBatch's
    * duplicate check — another writer may have landed this very batch);
    * a false guard abandons the txn files to vacuum and returns None.
    */
  private def appendWith(spark: SparkSession, path: String, df: DataFrame,
                         mergeSchema: Boolean, finish: Manifest => Manifest,
                         guard: Manifest => Boolean): Option[Long] = {
    def resolveDdl(m: Manifest): String = {
      val table = StructType.fromDDL(m.schemaDdl)
      val newCols = df.schema.fields.filter(f => !table.fieldNames.contains(f.name))
      // generated columns derive on write — a batch never has to
      // (and usually should not) carry them
      val missing = table.fieldNames.filterNot(df.columns.contains)
        .filterNot(m.generatedCols.contains)
      if (!mergeSchema) {
        require(newCols.isEmpty && missing.isEmpty,
          s"append schema mismatch (new: ${newCols.map(_.name).mkString(",")}; " +
            s"missing: ${missing.mkString(",")}); pass mergeSchema = true to evolve")
        m.schemaDdl
      } else {
        require(missing.isEmpty, s"appended batch lacks table columns: ${missing.mkString(",")}")
        // a data-ful evolved column writes under its OWN name, so that
        // name must be free in the PHYSICAL namespace too: colliding
        // with a live physical (a renamed-away name) would store two
        // meanings under one parquet column; colliding with a retired
        // physical would resurrect a dropped column's old values
        val physUsed = table.fieldNames.map(n => m.colMap.getOrElse(n, n)).toSet ++ m.retired
        val clash = newCols.map(_.name).filter(physUsed.contains)
        require(clash.isEmpty,
          s"append mergeSchema: column name(s) ${clash.mkString(", ")} collide with a " +
            "renamed or dropped column's physical name; ALTER TABLE ... ADD COLUMNS " +
            "first (it mints a fresh physical name), then append")
        // an evolved column is nullable BY CONSTRUCTION: every
        // pre-evolution file reads it as null, whatever the batch says
        StructType(table.fields ++ cleanFields(StructType(newCols)).map(_.copy(nullable = true))).toDDL
      }
    }
    val m0 = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    resolveDdl(m0) // fail fast before any data lands
    if (!guard(m0)) return None
    // derive generated columns BEFORE stats: the written files carry
    // them, so their stats (and partition pseudo-stats) must too, or
    // the new files would be unprunable on the partition column
    val full = withGenerated(df, m0.generatedCols)
    val (sortBy0, sortRange0) = writeSortSpec(m0)
    val files = writeTxnFiles(full, path, m0.partitionCols, m0.colMap,
      withNotNullChecks(m0.constraints, m0.schemaDdl),
      sortBy = sortBy0, sortRange = sortRange0)
    // the batch's own schema covers exactly the new files' columns, so
    // stats are computed once and reused across commit retries
    val newStats = statsFor(spark, path, files, StructType(cleanFields(full.schema)).toDDL, m0.partitionCols, m0.colMap)
    var attempt = 0
    while (true) {
      val m = if (attempt == 0) m0 else latestManifest(spark, path).getOrElse(m0)
      if (!guard(m)) return None
      // the txn files were written under m0's PHYSICAL names; a rebase
      // target whose column mapping differs (a concurrent rename, or a
      // drop + re-add minting a fresh physical slot) would register
      // files whose bytes sit under names the new mapping no longer
      // reads — silently-null columns for in-flight writers, which the
      // retired-name resurrection guard only prevents on SEQUENTIAL
      // histories. A mapping change mid-append is a true write-write
      // conflict: refuse, the caller re-runs against the new mapping.
      if (m.colMap != m0.colMap || m.retired != m0.retired)
        throw new CommitConflictException(
          s"snapshot append conflict at $path: column mapping changed " +
            "mid-append; the batch's files were written under stale physical names")
      val ddl = resolveDdl(m)
      // a rebase may land on a manifest whose CONSTRAINT set grew since
      // the batch was validated (pre-write, against m0) — revalidate the
      // new conjuncts before committing, or a concurrent ADD CONSTRAINT
      // would admit unvalidated rows. Validate the post-withGenerated
      // frame: a new constraint may legitimately reference a GENERATED
      // partition column, which `df` does not carry yet.
      val newConstraints = m.constraints.filter { case (k, p) => !m0.constraints.get(k).contains(p) }
      if (newConstraints.nonEmpty) checkConstraints(full, newConstraints)
      try {
        return Some(commitManifest(spark, path, finish(m.copy(version = m.version + 1,
          schemaDdl = ddl, files = m.files ++ files, stats = m.stats ++ newStats,
          operation = "APPEND"))))
      } catch {
        case _: CommitConflictException if attempt < 10 => attempt += 1
      }
    }
    None // unreachable
  }

  /** Exactly-once micro-batch append for a Structured Streaming
    * `foreachBatch` sink: the append and the (appId, batchId) watermark
    * commit in ONE manifest, so a batch redelivered after a failure —
    * foreachBatch's documented at-least-once contract — is recognized
    * and skipped. This closes the only gap between Structured Streaming
    * and the reference's BigQuery loads (each hourly re-ingest there is
    * one atomic load job). A crash after files but before the manifest
    * leaves only orphans (vacuum reclaims them) and the retry appends
    * cleanly. Returns true if the batch was appended, false if it was a
    * duplicate. Single writer per table, as everywhere in this layer.
    */
  def appendBatch(spark: SparkSession, path: String, df: DataFrame,
                  appId: String, batchId: Long,
                  mergeSchema: Boolean = false): Boolean =
    appendWith(spark, path, df, mergeSchema,
      mNew => mNew.copy(streamBatch = mNew.streamBatch + (appId -> batchId)),
      guard = m => !m.streamBatch.get(appId).exists(_ >= batchId)).isDefined

  /** Schema evolution WITHOUT data: append nullable columns to the
    * table schema in a metadata-only commit (the SQL front end's
    * `ALTER TABLE … ADD COLUMNS`; the data-ful form is
    * `append(mergeSchema = true)`). Every existing file reads the new
    * columns as null — the same pre-evolution contract as a merged
    * append, so the two paths converge on one read-side rule. Adding a
    * column commutes with appends: a version conflict rebases onto the
    * winner's manifest and retries (re-checking for a name the winner
    * may itself have added).
    */
  def addColumns(spark: SparkSession, path: String,
                 cols: Seq[org.apache.spark.sql.types.StructField],
                 defaults: Map[String, String] = Map.empty): Long = {
    require(cols.nonEmpty, "addColumns: no columns given")
    val dupIn = cols.map(_.name.toLowerCase).diff(cols.map(_.name.toLowerCase).distinct)
    require(dupIn.isEmpty, s"addColumns: column(s) listed twice: ${dupIn.mkString(", ")}")
    defaults.keys.foreach(d => require(cols.exists(_.name == d),
      s"addColumns: DEFAULT for a column not being added: $d"))
    // a DEFAULT on an ADDED column is both the write default AND the
    // value every PRE-EVOLUTION row reads — folded to a literal ONCE,
    // here, so later SET DEFAULT can never reinterpret history
    val folded = defaults.map { case (c, sql) =>
      val dt = cols.find(_.name == c).get.dataType
      c -> validateDefault(spark, c, dt, sql)
    }
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val table = StructType.fromDDL(m.schemaDdl)
      val clash = cols.map(_.name).filter(n => table.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(clash.isEmpty, s"addColumns: column(s) already exist: ${clash.mkString(", ")}")
      // a re-added name whose physical slot is taken (renamed-away or
      // dropped) mints a FRESH physical name, so old files can never
      // leak their values into the new column
      var physUsed = table.fieldNames.map(n => m.colMap.getOrElse(n, n)).toSet ++ m.retired
      val mapAdds = cols.flatMap { f =>
        val phys =
          if (!physUsed.contains(f.name)) f.name
          else Iterator.from(m.version.toInt + 1)
            .map(i => s"${f.name}_$i").find(!physUsed.contains(_)).get
        physUsed += phys
        if (phys == f.name) None else Some(f.name -> phys)
      }
      val ddl = StructType(table.fields ++ cleanFields(StructType(cols)).map(_.copy(nullable = true))).toDDL
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = "ADD COLUMNS", schemaDdl = ddl,
        colMap = m.colMap ++ mapAdds,
        colDefault = m.colDefault ++ folded.view.mapValues(_._1).toMap,
        colExistsDefault = m.colExistsDefault ++ folded.view.mapValues(_._2).toMap))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** Validate a DEFAULT expression and fold it: must parse, reference
    * no columns, carry no subquery, be deterministic, and cast to the
    * column's type. Returns (normalized current-default SQL, the folded
    * value as a literal SQL string) — the literal is what existence
    * defaults freeze and what both engines re-evaluate identically.
    */
  private def validateDefault(spark: SparkSession, col: String,
                              dt: org.apache.spark.sql.types.DataType,
                              sql: String): (String, String) = {
    graft.plans.GraftDmlCapture.refuseSubqueries(
      spark.sessionState.sqlParser.parseExpression(sql), s"DEFAULT for $col")
    val probe =
      try spark.range(1).select(lit(1).as("__graft_probe"))
        .select(expr(sql).cast(dt).as("d"))
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"DEFAULT for $col must be a constant expression, got '$sql'", e) }
    require(probe.queryExecution.analyzed.expressions
        .forall(_.find(!_.deterministic).isEmpty),
      s"DEFAULT for $col must be deterministic, got '$sql'")
    val value = probe.head().get(0)
    val literal = org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt).sql
    (sql.trim, literal)
  }

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT`:
    * changes the WRITE default only — what a column-list INSERT or
    * MERGE INSERT arm fills when the column is omitted. The existence
    * default (what pre-evolution files read) is frozen at ADD COLUMN
    * time by design and never touched here.
    */
  def setColumnDefault(spark: SparkSession, path: String, col: String,
                       default: Option[String]): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val schema = StructType.fromDDL(m.schemaDdl)
      val canon = schema.fieldNames.find(_.equalsIgnoreCase(col)).getOrElse(
        throw new IllegalArgumentException(s"setColumnDefault: no column $col"))
      require(!m.generatedCols.contains(canon),
        s"setColumnDefault: $canon is a generated column (its value is derived)")
      val next = default match {
        case Some(sql) =>
          m.colDefault + (canon -> validateDefault(spark, canon,
            schema(canon).dataType, sql)._1)
        case None => m.colDefault - canon
      }
      if (next == m.colDefault) return m.version
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = if (default.isDefined) s"SET DEFAULT $canon" else s"DROP DEFAULT $canon",
        colDefault = next))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** Top-level column names a constraint's predicate text references —
    * the guard renames/drops consult before breaking the text.
    */
  private def constraintRefs(spark: SparkSession, text: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(text).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts.head
    }.toSet

  /** Add a CHECK constraint (SQL predicate text over logical column
    * names). Existing data must already satisfy it — a constraint that
    * grandfathers violations is a lie to every future reader — and
    * every subsequent write (append, overwrite, replace, merge, the
    * UPDATE tiers) refuses a violating batch BEFORE any file lands.
    * NULL predicate values pass, FALSE violates: SQL CHECK semantics.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    predicateSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"addConstraint: constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!name.startsWith(ReservedConstraintPrefix),
      s"addConstraint: constraint name '$name' uses the reserved " +
        s"$ReservedConstraintPrefix prefix")
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      require(!m.constraints.contains(name), s"addConstraint: constraint $name already exists")
      checkConstraints(readFiles(spark, path, m), Map(name -> predicateSql))
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = "ADD CONSTRAINT",
        constraints = m.constraints + (name -> predicateSql)))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  def dropConstraint(spark: SparkSession, path: String, name: String,
                     ifExists: Boolean = false): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      if (!m.constraints.contains(name)) {
        require(ifExists, s"dropConstraint: no constraint $name")
        return m.version
      }
      try return commitManifest(spark, path,
        m.copy(version = m.version + 1, operation = "DROP CONSTRAINT",
          constraints = m.constraints - name))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** METADATA-ONLY column rename: the logical schema re-labels, the
    * files keep the column under its physical (birth) name, and the
    * manifest's `colMap` carries the indirection — no data moves, which
    * is the only honest rename on an immutable 100 TB table (the
    * lakehouse "column mapping, name mode" contract). Partition columns
    * refuse (their name is baked into every directory path). Stats and
    * blooms key on the physical name, so pruning survives the rename
    * unchanged. Commutes with appends via rebase-and-retry.
    */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val table = StructType.fromDDL(m.schemaDdl)
      require(table.fieldNames.contains(from), s"renameColumn: no column $from")
      require(!m.partitionCols.contains(from),
        s"renameColumn: $from is a partition column (its name is part of every file path)")
      require(!table.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column $to already exists")
      val referencedBy = m.constraints.filter(c => constraintRefs(spark, c._2).contains(from))
      require(referencedBy.isEmpty,
        s"renameColumn: $from is referenced by CHECK constraint(s) " +
          s"${referencedBy.keys.mkString(", ")}; drop them first")
      val generatorOf = m.generatedCols.filter(g => constraintRefs(spark, g._2).contains(from))
      require(generatorOf.isEmpty,
        s"renameColumn: $from is the source of generated column(s) " +
          s"${generatorOf.keys.mkString(", ")}")
      val phys = physicalOf(m, from)
      val ddl = StructType(table.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)).toDDL
      // identity entries never persist: renaming b back to its physical
      // name a drops the mapping instead of storing a -> a
      val map = (m.colMap - from) ++ (if (phys == to) Map.empty else Map(to -> phys))
      try return commitManifest(spark, path,
        m.copy(version = m.version + 1, operation = "RENAME COLUMN",
          clusterBy = m.clusterBy.map(c => if (c == from) to else c),
          properties = renameInBloomPolicy(m.properties, from, to),
          colNdv = m.colNdv.map { case (c, n) => (if (c == from) to else c) -> n },
          colHist = m.colHist.map { case (c, h) => (if (c == from) to else c) -> h },
          colDefault = m.colDefault.map { case (c, d) => (if (c == from) to else c) -> d },
          colExistsDefault = m.colExistsDefault.map { case (c, d) =>
            (if (c == from) to else c) -> d },
          schemaDdl = ddl, colMap = map))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** Lossless widenings the read side absorbs without touching a file:
    * every old file's values re-read exactly under the wider type (the
    * engine read core casts, and Spark 4's parquet readers promote
    * int32→int64 / float→double natively on the SQL-source path).
    */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
    case _ => false
  }

  /** METADATA-ONLY type widening (`ALTER TABLE … ALTER COLUMN … TYPE`):
    * the logical schema re-types, files stay as written — only
    * strictly-lossless widenings are allowed (integral up-casts,
    * float→double), everything else refuses: a narrowing or a
    * cross-family cast would silently corrupt what old files answer.
    * Manifest stats survive (their canonical integral/float encodings
    * decode identically under the wider type), as do bloom sidecars
    * (integrals hash pre-widened to long).
    */
  def widenColumnType(spark: SparkSession, path: String, name: String,
                      to: org.apache.spark.sql.types.DataType): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val table = StructType.fromDDL(m.schemaDdl)
      val f = table.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"widenColumnType: no column $name"))
      if (f.dataType == to) return m.version
      require(widens(f.dataType, to),
        s"widenColumnType: ${f.dataType.simpleString} -> ${to.simpleString} is not a " +
          "lossless widening (only byte/short/int/long up-casts and float -> double)")
      val ddl = StructType(table.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x)).toDDL
      try return commitManifest(spark, path, m.copy(version = m.version + 1,
        operation = "WIDEN COLUMN", schemaDdl = ddl))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** METADATA-ONLY column drop: the field leaves the logical schema and
    * its physical name RETIRES — readers never select it again (column
    * pruning means the bytes are not even read), and a later ADD of the
    * same logical name mints a fresh physical name so the dropped
    * column's old values can never resurrect. Refuses partition columns
    * and the last remaining column.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    var attempt = 0
    while (true) {
      val m = latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path"))
      val table = StructType.fromDDL(m.schemaDdl)
      require(table.fieldNames.contains(name), s"dropColumn: no column $name")
      require(!m.partitionCols.contains(name),
        s"dropColumn: $name is a partition column")
      require(table.fields.length > 1, "dropColumn: cannot drop the last column")
      val referencedBy = m.constraints.filter(c => constraintRefs(spark, c._2).contains(name))
      require(referencedBy.isEmpty,
        s"dropColumn: $name is referenced by CHECK constraint(s) " +
          s"${referencedBy.keys.mkString(", ")}; drop them first")
      val generatorOf = m.generatedCols.filter(g => constraintRefs(spark, g._2).contains(name))
      require(generatorOf.isEmpty,
        s"dropColumn: $name is the source of generated column(s) " +
          s"${generatorOf.keys.mkString(", ")}")
      val phys = physicalOf(m, name)
      val ddl = StructType(table.fields.filterNot(_.name == name)).toDDL
      try return commitManifest(spark, path,
        m.copy(version = m.version + 1, operation = "DROP COLUMN", schemaDdl = ddl,
          clusterBy = m.clusterBy.filterNot(_ == name),
          properties = dropFromBloomPolicy(m.properties, name),
          colNdv = m.colNdv - name,
          colHist = m.colHist - name,
          colDefault = m.colDefault - name,
          colExistsDefault = m.colExistsDefault - name,
          colMap = m.colMap - name, retired = (m.retired :+ phys).distinct))
      catch { case _: CommitConflictException if attempt < 10 => attempt += 1 }
    }
    -1L // unreachable
  }

  /** K4 full overwrite: new version = exactly the new txn's files. The
    * atomic replacement stagedSwap approximates — with no window where
    * the table is missing, because the old version stays live until the
    * manifest rename.
    */
  def overwrite(spark: SparkSession, path: String, df: DataFrame): Long =
    overwriteWith(spark, path, df, identity)

  private def overwriteWith(spark: SparkSession, path: String, df: DataFrame,
                            finish: Manifest => Manifest): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    // an overwrite keeps the table's generated partition columns: the
    // replacement derives them like any other load
    val full = withGenerated(df, m.generatedCols)
    // the replacement's schema takes over, but DECLARED nullability
    // survives for columns that keep their name (inferred flags relax
    // — see create); the kept declarations are enforced on the data
    val prior = StructType.fromDDL(m.schemaDdl)
    val ddl = StructType(cleanFields(full.schema).map { f =>
      f.copy(nullable = !prior.fields.find(_.name == f.name).exists(!_.nullable))
    }).toDDL
    val (sortBy1, sortRange1) = writeSortSpec(m)
    val files = writeTxnFiles(full, path, m.partitionCols,
      constraints = withNotNullChecks(m.constraints, ddl),
      sortBy = sortBy1, sortRange = sortRange1)
    // streamBatch watermarks survive an overwrite: a foreachBatch
    // redelivery after a full rewrite must still be recognized as a
    // duplicate, or appendBatch's exactly-once contract breaks.
    // dvs do not: no old file is live, so no vector applies. Column
    // mapping resets too — every live file is new and written under
    // the current logical names, so physical == logical again (and no
    // dropped column can resurrect: its files left the live set).
    commitManifest(spark, path, finish(
      m.copy(version = m.version + 1, operation = "OVERWRITE",
        schemaDdl = ddl, files = files,
        stats = statsFor(spark, path, files, ddl, m.partitionCols),
        // clustering keys survive an overwrite only while their
        // columns do — a replaced schema must not strand a policy
        // the next OPTIMIZE cannot resolve
        clusterBy = m.clusterBy.filter(full.columns.contains),
        dvs = Map.empty, colMap = Map.empty, retired = Nil,
        // bloom refs belong to the replaced files: keeping them would
        // hold their sidecar dirs live in vacuum forever
        blooms = Map.empty)))
  }

  /** Full rewrite that also CHANGES THE PARTITION LAYOUT — partition
    * evolution as one atomic commit (`CREATE OR REPLACE … PARTITIONED
    * BY (new)`): the replacement lands under the new directory scheme,
    * the manifest's partitionCols/generatedCols swap with it, and
    * because layout is PER MANIFEST, time travel and RESTORE across
    * the boundary keep reading each version under its own scheme.
    * Everything else follows [[overwrite]]'s contract (history kept,
    * stream watermarks preserved, DVs/column mapping/bloom refs reset
    * with the files they described).
    */
  def overwritePartitioned(spark: SparkSession, path: String, df: DataFrame,
                           partitionCols: Seq[String],
                           generatedCols: Map[String, String] = Map.empty): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val full = withGenerated(df, generatedCols)
    val missing = partitionCols.filterNot(full.columns.contains)
    require(missing.isEmpty,
      s"overwritePartitioned: partition column(s) not in the data: ${missing.mkString(", ")}")
    // same nullability contract as overwriteWith: declared NOT NULL
    // survives by name, inferred flags relax
    val prior = StructType.fromDDL(m.schemaDdl)
    val ddl = StructType(cleanFields(full.schema).map { f =>
      f.copy(nullable = !prior.fields.find(_.name == f.name).exists(!_.nullable))
    }).toDDL
    val (sortBy2, sortRange2) = writeSortSpec(m)
    val files = writeTxnFiles(full, path, partitionCols,
      constraints = withNotNullChecks(m.constraints, ddl),
      sortBy = sortBy2, sortRange = sortRange2)
    commitManifest(spark, path,
      m.copy(version = m.version + 1, operation = "OVERWRITE",
        schemaDdl = ddl, files = files,
        stats = statsFor(spark, path, files, ddl, partitionCols),
        partitionCols = partitionCols, generatedCols = generatedCols,
        clusterBy = m.clusterBy.filter(c =>
          full.columns.contains(c) && !partitionCols.contains(c)),
        dvs = Map.empty, colMap = Map.empty, retired = Nil, blooms = Map.empty))
  }

  /** Exactly-once micro-batch OVERWRITE — the full-rewrite twin of
    * [[appendBatch]], for incremental consumers whose publish step
    * replaces the whole downstream table (a maintained rollup): the
    * rewrite and the (appId, batchId) watermark commit in one manifest,
    * so a redelivered batch is recognized and skipped. Returns true if
    * applied, false if duplicate.
    */
  def overwriteBatch(spark: SparkSession, path: String, df: DataFrame,
                     appId: String, batchId: Long): Boolean = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    if (m.streamBatch.get(appId).exists(_ >= batchId)) return false
    overwriteWith(spark, path, df,
      mNew => mNew.copy(streamBatch = mNew.streamBatch + (appId -> batchId)))
    true
  }

  /** K2 partition replacement: drop every old file whose partition
    * tuple satisfies `dropOld` OR is re-written by `replacement`, add
    * the replacement's files — one atomic commit, including the
    * empty-re-extract deletes dynamic overwrite cannot express.
    */
  def replacePartitions(spark: SparkSession, path: String, replacement: DataFrame,
                        dropOld: Map[String, String] => Boolean): Long =
    replacePartitionsOn(spark, path,
      latestManifest(spark, path).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $path")),
      replacement, dropOld)

  /** [[replacePartitions]] against a CALLER-PINNED manifest: the merge
    * family derives its replacement from the files of the manifest it
    * read, so the commit must be versioned against THAT manifest — a
    * commit landing in between then version-conflicts and refuses,
    * instead of the replacement (derived without the newcomer's rows)
    * silently discarding it.
    */
  private[graft] def replacePartitionsOn(spark: SparkSession, path: String, m: Manifest,
                                         replacement: DataFrame,
                                         dropOld: Map[String, String] => Boolean,
                                         op: String = "REPLACE PARTITIONS",
                                         finish: Manifest => Manifest = identity): Long = {
    require(m.partitionCols.nonEmpty, "replacePartitions needs a partitioned snapshot table")
    val (sortBy3, sortRange3) = writeSortSpec(m)
    val newFiles = writeTxnFiles(replacement, path, m.partitionCols, m.colMap,
      withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
      sortBy = sortBy3, sortRange = sortRange3)
    val newParts = newFiles.map(partitionValues(m.partitionCols, _)).toSet
    val kept = m.files.filterNot { f =>
      val pv = partitionValues(m.partitionCols, f)
      dropOld(pv) || newParts.contains(pv)
    }
    commitManifest(spark, path, finish(m.copy(version = m.version + 1, operation = op,
      files = kept ++ newFiles,
      stats = m.stats.view.filterKeys(kept.toSet).toMap ++
        statsFor(spark, path, newFiles, m.schemaDdl, m.partitionCols, m.colMap),
      dvs = m.dvs.view.filterKeys(kept.toSet).toMap)))
  }

  /** K3 partition-restricted MERGE-by-id, snapshot form. Unlike the raw
    * writer there is NO read-own-overwrite hazard and no localCheckpoint:
    * the affected slice is read from immutable pinned files, and the
    * commit atomically swaps the affected partitions' file sets.
    * Same id-embeds-partition contract as `Writers.mergeByIdWritePartitioned`.
    */
  def mergeById(spark: SparkSession, path: String, updates: DataFrame,
                idCol: String, partitionCol: String,
                assertIdsLocal: Boolean = false): Long =
    mergeByIdPartitioned(spark, path, updates, idCol, Seq(partitionCol), assertIdsLocal)

  /** [[mergeById]] against a MULTI-column-partitioned table — the
    * reference's K2 dual-window tables are (periodo, fecha)-partitioned
    * (consumo_bloques.py's dual-grain destinations), and their
    * snapshot-atomic merge restricts to the partition TUPLES present in
    * the source: only files of affected tuples are read and swapped.
    * Same id-embeds-partition contract, now over the whole tuple.
    */
  def mergeByIdPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                           idCol: String, partitionCols: Seq[String],
                           assertIdsLocal: Boolean = false): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    require(m.partitionCols == partitionCols,
      s"snapshot table is partitioned by ${m.partitionCols}, not $partitionCols")
    if (partitionCols.isEmpty) {
      // UNPARTITIONED tier: no restriction possible — the merge is a
      // whole-table rewrite, committed against the pinned manifest so
      // a concurrent commit conflicts instead of being discarded.
      // (A table big enough for this to hurt should be partitioned;
      // the tier exists so small dimension tables merge too.)
      val merged = Writers.mergeById(readFiles(spark, path, m), updates, idCol)
      return replaceWholeTableOn(spark, path, m, merged)
    }
    val (affectedRaw, affectedFiles) = affectedPartitions(spark, m, updates, partitionCols)
    if (assertIdsLocal) {
      // the moved-id probe scans only unaffected files whose manifest
      // id-range OVERLAPS the batch's ids — on a table whose ids are
      // time-or-range clustered (the common landing shape) the probe
      // prices like a point lookup, not a table scan; stats-less files
      // are kept (pruning stays an optimization)
      val unaffected = m.files.diff(affectedFiles)
      val bounds = updates.agg(min(col(idCol)), max(col(idCol))).head()
      val candidates =
        if (unaffected.isEmpty || bounds.isNullAt(0)) Seq.empty[String]
        else SnapshotStats.prune(spark, m.copy(files = unaffected),
          col(idCol) >= lit(bounds.get(0)) && col(idCol) <= lit(bounds.get(1)),
          Some(path))
      val strays =
        if (candidates.isEmpty) Array.empty[Row]
        else readFiles(spark, path, m, Some(candidates))
          .join(updates.select(idCol).distinct(), Seq(idCol), "left_semi")
          .limit(5).collect()
      require(strays.isEmpty,
        s"Snapshot.mergeById: update ids exist in unaffected partitions " +
          s"(id does not embed ${partitionCols.mkString("(", ", ", ")")}); " +
          s"e.g. ${strays.mkString(", ")}")
    }
    val affected = readFiles(spark, path, m, Some(affectedFiles))
    val merged = Writers.mergeById(affected, updates, idCol)
    replacePartitionsOn(spark, path, m, merged, dropOld = affectedRaw.contains,
      op = "MERGE")
  }

  /** Whole-table replacement against a CALLER-PINNED manifest — the
    * unpartitioned merge tier: every live file drops and the
    * replacement lands constraint-checked with generated columns
    * re-derived, versioned against THAT manifest so ANY concurrent
    * commit conflicts and refuses (the same contract as the
    * partitioned merge's replacePartitionsOn — a rebase here would
    * silently admit rows the merge never read, or duplicate ids a
    * concurrent append landed).
    */
  private[graft] def replaceWholeTableOn(spark: SparkSession, path: String, m: Manifest,
                                         replacement: DataFrame,
                                         op: String = "MERGE",
                                         finish: Manifest => Manifest = identity): Long = {
    val (sortBy4, sortRange4) = writeSortSpec(m)
    val newFiles = writeTxnFiles(replacement, path, Nil, m.colMap,
      withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
      sortBy = sortBy4, sortRange = sortRange4)
    commitManifest(spark, path, finish(m.copy(version = m.version + 1, operation = op,
      files = newFiles,
      stats = statsFor(spark, path, newFiles, m.schemaDdl, Nil, m.colMap),
      dvs = Map.empty, blooms = Map.empty)))
  }

  /** PARTIAL rewrite commit: `retained` live files of `m` survive
    * byte-identical (their stats and bloom refs ride along), the rest
    * are replaced by `replacement`'s files — the O(changed files) write
    * path for state folds whose delta provably cannot touch the
    * retained files (the caller proves it, typically via manifest-stats
    * pruning on the fold keys). Unpartitioned, DV-free tables only:
    * retained DV bookkeeping is the caller's problem and no current
    * caller has one.
    */
  private[graft] def replaceFilesOn(spark: SparkSession, path: String, m: Manifest,
                                    retained: Seq[String], replacement: DataFrame,
                                    op: String = "MERGE",
                                    finish: Manifest => Manifest = identity): Long = {
    require(m.partitionCols.isEmpty, "replaceFilesOn: unpartitioned tables only")
    require(m.dvs.isEmpty, "replaceFilesOn: tables with deletion vectors unsupported")
    val keepSet = retained.toSet
    require(keepSet.subsetOf(m.files.toSet),
      "replaceFilesOn: retained files must be live in the pinned manifest")
    val (sortBy5, sortRange5) = writeSortSpec(m)
    val newFiles = writeTxnFiles(replacement, path, Nil, m.colMap,
      withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
      sortBy = sortBy5, sortRange = sortRange5)
    commitManifest(spark, path, finish(m.copy(version = m.version + 1, operation = op,
      files = (retained ++ newFiles).sorted,
      stats = m.stats.view.filterKeys(keepSet).toMap ++
        statsFor(spark, path, newFiles, m.schemaDdl, Nil, m.colMap),
      dvs = Map.empty,
      blooms = m.blooms.view.filterKeys(keepSet).toMap)))
  }

  /** Metadata-only commit against a CALLER-PINNED manifest: no file
    * change, just whatever `finish` sets (e.g. a consumer watermark for
    * a window that carried no data changes). Versioned against THAT
    * manifest, so a concurrent commit conflicts instead of being
    * silently overwritten.
    */
  private[graft] def commitMetaOn(spark: SparkSession, path: String, m: Manifest,
                                  op: String)(finish: Manifest => Manifest): Long =
    commitManifest(spark, path, finish(m.copy(version = m.version + 1, operation = op)))

  /** Partition restriction shared by the merge family: the partition
    * value-string TUPLES (and their live files) whose typed values
    * appear in `source` — manifest value strings cast to each partition
    * column's type, null-safely semi-joined against the source's
    * distinct tuples. One job over tuple-count-sized data, never the
    * table.
    */
  private[graft] def affectedPartitions(spark: SparkSession, m: Manifest,
                                        source: DataFrame, partitionCols: Seq[String])
      : (Set[Map[String, String]], Seq[String]) = {
    require(m.partitionCols == partitionCols,
      s"snapshot table is partitioned by ${m.partitionCols}, not $partitionCols")
    require(partitionCols.nonEmpty, "merge needs a partitioned snapshot table")
    val schema = StructType.fromDDL(m.schemaDdl)
    val pTypes = partitionCols.map(c => schema(c).dataType)
    val rawCols = partitionCols.indices.map(i => s"__raw_$i")
    val fileTuples = m.files.map(f => partitionValues(m.partitionCols, f)).distinct
    val partDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        fileTuples.map(t => org.apache.spark.sql.Row.fromSeq(
          partitionCols.map(c => t(c)))), 1),
      StructType(rawCols.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType))))
    val typed = partDf.select(partitionCols.indices.flatMap { i =>
      Seq(col(rawCols(i)),
        when(col(rawCols(i)) === NullPartition, lit(null).cast(pTypes(i)))
          .otherwise(col(rawCols(i)).cast(pTypes(i))).as(s"__val_$i"))
    }: _*)
    val srcParts = source.select(partitionCols.zipWithIndex.map { case (c, i) =>
      col(c).cast(pTypes(i)).as(s"__src_$i")
    }: _*).distinct()
    val cond = partitionCols.indices.map(i => typed(s"__val_$i") <=> srcParts(s"__src_$i"))
      .reduce(_ && _)
    val affectedRaw = typed.join(srcParts, cond, "left_semi")
      .select(rawCols.map(col): _*).collect()
      .map(r => partitionCols.indices.map(i => partitionCols(i) -> r.getString(i)).toMap)
      .toSet
    (affectedRaw, m.files.filter(f =>
      affectedRaw.contains(partitionValues(m.partitionCols, f))))
  }

  /** Generalized MERGE with explicit arms — the reference's literal
    * maintenance statement (funnel_live.py:155-172: aliased target and
    * source, `WHEN MATCHED THEN UPDATE SET col = s.col, …`,
    * `WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)`), which
    * [[mergeById]]'s whole-row replace cannot express. Arm semantics:
    *
    *  - `matchedSet = Some(set)`: matched target rows take each
    *    assignment (expressions may reference BOTH sides through the
    *    aliases; unlisted columns keep their old values);
    *  - `matchedDelete = true`: matched target rows are dropped;
    *  - neither: matched rows pass through unchanged;
    *  - `insertCols = Some(cols)`: source rows matching no target id
    *    insert with the given (target column → expression-over-source)
    *    list; unlisted columns are null (SQL INSERT semantics).
    *
    * Same partition-restriction and id-embeds-partition contract as
    * [[mergeById]]: only partitions present in the source are read and
    * atomically swapped. Source ids must be unique (a duplicate would
    * fan out the join) — refused, not deduped silently.
    */
  /** One WHEN arm of a generalized MERGE: `cond` is the arm's AND
    * condition (None = unconditional), `set` the UPDATE assignments
    * (None = DELETE). Insert arms are [[InsertArm]].
    */
  final case class WhenArm(cond: Option[Column], set: Option[Map[String, Column]])
  final case class InsertArm(cond: Option[Column], cols: Seq[(String, Column)])

  /** Back-compat single-arm entry: the original one-unconditional-arm
    * shape, now a thin wrapper over [[mergeArmsMulti]].
    */
  private[graft] def mergeArms(spark: SparkSession, path: String, source: DataFrame,
                               targetAlias: String, sourceAlias: String, idCol: String,
                               matchedSet: Option[Map[String, Column]],
                               matchedDelete: Boolean,
                               insertCols: Option[Seq[(String, Column)]]): Long =
    mergeArmsMulti(spark, path, source, targetAlias, sourceAlias, Seq(idCol),
      matched =
        if (matchedDelete) Seq(WhenArm(None, None))
        else matchedSet.map(set => WhenArm(None, Some(set))).toSeq,
      notMatched = insertCols.map(InsertArm(None, _)).toSeq,
      bySource = Nil)

  /** Generalized MERGE: the FULL standard arm surface —
    *
    *  - `matched`: `WHEN MATCHED [AND cond] THEN UPDATE SET .../DELETE`,
    *    any number, evaluated IN ORDER — the first arm whose condition
    *    holds applies (none hold: the row passes unchanged);
    *  - `notMatched`: `WHEN NOT MATCHED [AND cond] THEN INSERT ...`,
    *    same first-match-wins ordering over source-only rows;
    *  - `bySource`: `WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    *    UPDATE/DELETE` over target rows with NO source match — the
    *    sync shape ("delete/flag whatever the feed no longer carries").
    *
    * Conditions may reference both aliases in `matched` arms, the
    * target alias in `bySource` arms, the source alias in `notMatched`
    * arms (standard SQL scoping — out-of-scope columns are null there
    * and a null condition does not fire, per WHEN semantics).
    *
    * Partition restriction: WITHOUT `bySource` arms only the source's
    * partition tuples are read and swapped (the [[mergeById]]
    * contract). A `bySource` arm is a statement about EVERY target
    * row, so the merge reads the whole table and swaps every partition
    * — the inherent cost of the shape, paid only when asked for.
    */
  private[graft] def mergeArmsMulti(spark: SparkSession, path: String, source: DataFrame,
                                    targetAlias: String, sourceAlias: String,
                                    idCols: Seq[String],
                                    matched: Seq[WhenArm],
                                    notMatched: Seq[InsertArm],
                                    bySource: Seq[WhenArm]): Long = {
    require(idCols.nonEmpty, "merge: no key column")
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val pCols = m.partitionCols
    (matched ++ bySource).flatMap(_.set).foreach { set =>
      val bad = set.keySet.diff(schema.fieldNames.toSet)
      require(bad.isEmpty, s"merge UPDATE SET: unknown column(s) ${bad.mkString(", ")}")
      val reassigned = pCols.filter(set.contains)
      require(reassigned.isEmpty,
        s"merge UPDATE SET cannot reassign partition column(s) ${reassigned.mkString(", ")}")
    }
    notMatched.foreach { arm =>
      val bad = arm.cols.map(_._1).diff(schema.fieldNames.toSeq)
      require(bad.isEmpty, s"merge INSERT: unknown column(s) ${bad.mkString(", ")}")
      val dup = arm.cols.map(_._1).diff(arm.cols.map(_._1).distinct)
      require(dup.isEmpty, s"merge INSERT lists column(s) twice: ${dup.mkString(", ")}")
    }
    // the source is evaluated by FOUR independent jobs (duplicate-id
    // check, partition restriction, matched join, insert anti-join);
    // flag-nondeterministic source plans are refused like DML
    // predicates, and the rest is PERSISTED so a plan deterministic
    // only per-materialization (an unordered LIMIT, a shuffled sample)
    // still evaluates once — no rows lost or duplicated between arms
    require(source.queryExecution.analyzed.find(
        _.expressions.exists(e => e.find(!_.deterministic).isDefined)).isEmpty,
      "merge source plan is nondeterministic — it is evaluated in several " +
        "jobs; materialize it first (write it out, or drop the nondeterminism)")
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeArmsOn(spark, path, m, src, targetAlias, sourceAlias, idCols,
      matched, notMatched, bySource, pCols, schema)
    finally src.unpersist()
  }

  private def mergeArmsOn(spark: SparkSession, path: String, m: Manifest,
                          source: DataFrame, targetAlias: String, sourceAlias: String,
                          idCols: Seq[String], matched: Seq[WhenArm],
                          notMatched: Seq[InsertArm], bySource: Seq[WhenArm],
                          pCols: Seq[String], schema: StructType): Long = {
    require(source.select(idCols.map(col): _*).groupBy(idCols.map(col): _*).count()
        .where(col("count") > 1).limit(1).isEmpty,
      s"merge source has duplicate ${idCols.mkString("(", ", ", ")")} values; " +
        "a duplicate would fan out the join")
    // unpartitioned targets take the whole-table tier; partitioned ones
    // swap only the source's tuples — UNLESS a BY SOURCE arm speaks
    // about every target row, which pulls the whole table into scope
    val restrict = bySource.isEmpty && pCols.nonEmpty
    val (affectedRaw, affectedFiles) =
      if (restrict) affectedPartitions(spark, m, source, pCols)
      else (Set.empty[Map[String, String]], m.files)
    val t = readFiles(spark, path, m, Some(affectedFiles)).alias(targetAlias)
    val s = source.alias(sourceAlias)
    // composite keys join on EQUALITY per column (not null-safe: a
    // null key matches nothing, standard MERGE ON semantics)
    val onCond = idCols.map(c => t(c) === s(c)).reduce(_ && _)
    val joined = t.join(s, onCond, "left")
    val isMatched = s(idCols.head).isNotNull
    // first-applicable-arm index per row side: a when(...).otherwise
    // chain evaluates in declaration order — exactly the standard's
    // first-match-wins arm semantics; a NULL condition does not fire
    def armIdx(arms: Seq[WhenArm], base: Column): Column =
      arms.zipWithIndex.reverse.foldLeft(lit(-1): Column) { case (els, (arm, i)) =>
        when(base && coalesce(arm.cond.getOrElse(lit(true)), lit(false)), lit(i))
          .otherwise(els)
      }
    val mIdx = armIdx(matched, isMatched)
    val bIdx = armIdx(bySource, !isMatched)
    val mDeletes = matched.zipWithIndex.collect { case (WhenArm(_, None), i) => i }
    val bDeletes = bySource.zipWithIndex.collect { case (WhenArm(_, None), i) => i }
    val keep =
      (if (mDeletes.isEmpty) lit(true) else !mIdx.isin(mDeletes: _*)) &&
        (if (bDeletes.isEmpty) lit(true) else !bIdx.isin(bDeletes: _*))
    val targetCols = schema.fields.toSeq.map { f =>
      val chains =
        matched.zipWithIndex.collect {
          case (WhenArm(_, Some(set)), i) if set.contains(f.name) =>
            (mIdx === i) -> set(f.name).cast(f.dataType)
        } ++ bySource.zipWithIndex.collect {
          case (WhenArm(_, Some(set)), i) if set.contains(f.name) =>
            (bIdx === i) -> set(f.name).cast(f.dataType)
        }
      chains.foldRight(t(f.name): Column) { case ((c, v), els) =>
        when(c, v).otherwise(els)
      }.as(f.name)
    }
    val survivors = joined.where(keep).select(targetCols: _*)
    val inserts =
      if (notMatched.isEmpty) None
      else {
        val sOnly = s.join(t, idCols.map(c => s(c) === t(c)).reduce(_ && _), "left_anti")
        val iIdx = notMatched.zipWithIndex.reverse.foldLeft(lit(-1): Column) {
          case (els, (arm, i)) =>
            when(coalesce(arm.cond.getOrElse(lit(true)), lit(false)), lit(i)).otherwise(els)
        }
        // SQL INSERT semantics per arm: unlisted columns take their
        // declared DEFAULT when one exists, else null
        val cols = schema.fields.toSeq.map { f =>
          val fallback = m.colDefault.get(f.name)
            .map(d => expr(d).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType))
          notMatched.zipWithIndex.collect {
            case (arm, i) if arm.cols.exists(_._1 == f.name) =>
              (iIdx === i) -> arm.cols.find(_._1 == f.name).get._2.cast(f.dataType)
          }.foldRight(fallback) { case ((c, v), els) => when(c, v).otherwise(els) }
            .as(f.name)
        }
        Some(sOnly.where(iIdx >= 0).select(cols: _*))
      }
    val replacement = inserts.fold(survivors)(survivors.unionByName(_))
    if (pCols.isEmpty) replaceWholeTableOn(spark, path, m, replacement)
    else if (restrict)
      replacePartitionsOn(spark, path, m, replacement, dropOld = affectedRaw.contains,
        op = "MERGE")
    else replacePartitionsOn(spark, path, m, replacement, dropOld = _ => true, op = "MERGE")
  }

  // --------------------------------------------------- row-level DML

  /** Execute one SQL statement (DML, DDL, CTAS/INSERT, maintenance)
    * against the `tables` registry of snapshot paths — the reference's
    * maintenance statements verbatim (consumo_detalle.py:317-340,
    * funnel_live.py:106-174). Returns the target table's version after
    * the statement. Registered names bind into the catalog route; see
    * [[SnapshotSql]].
    */
  def sql(spark: SparkSession, sqlText: String, tables: Map[String, String]): Long =
    SnapshotSql(spark, sqlText, tables)

  /** Execute a SQL-text QUERY (SELECT, including CTEs, subqueries,
    * `table_changes` and time travel — `VERSION AS OF n` / `FOR
    * SYSTEM_TIME AS OF ts`) with registered snapshot-table names
    * resolved to native manifest-backed scans. Unregistered names still
    * resolve against the session catalog (temp views).
    */
  def sqlQuery(spark: SparkSession, sqlText: String,
               tables: Map[String, String]): DataFrame =
    SnapshotSql.query(spark, sqlText, tables)

  /** Execute a multi-statement SQL SCRIPT (statements separated by
    * top-level `;`, string literals and comments respected) with at
    * most one final SELECT whose result is returned — the
    * multi-statement-query contract of the warehouse the reference
    * targets. See [[SnapshotSql.script]].
    */
  def sqlScript(spark: SparkSession, sqlText: String,
                tables: Map[String, String]): Option[DataFrame] =
    SnapshotSql.script(spark, sqlText, Some(tables))

  /** Registry-free script: statements resolve through the session's
    * catalogs ([[graft.catalog.GraftCatalog]] names) — the form a
    * ported script ships once its tables live in a catalog.
    */
  def sqlScript(spark: SparkSession, sqlText: String): Option[DataFrame] =
    SnapshotSql.script(spark, sqlText, None)

  /** Row-level DELETE by predicate, file-granular — the plain-SQL
    * `DELETE FROM t WHERE pred` the reference gets from BigQuery
    * (consumo_detalle.py delete-and-replace windows), restated as the
    * copy-on-write protocol a 100 TB table needs. Three tiers, so the
    * data actually rewritten is the MINIMUM the predicate demands:
    *
    *  1. manifest-stats pruning picks candidate files — a file whose
    *     min/max prove no row can match is never opened;
    *  2. one scan of the candidates counts matches PER FILE (Catalyst
    *     prunes the scan to the predicate's columns) — a candidate with
    *     zero real matches stays byte-identical in the new version;
    *  3. a file where EVERY row matches is dropped from the manifest
    *     with no rewrite at all (row count from its own stats); only
    *     files with a partial match are read again and rewritten
    *     without their matching rows.
    *
    * SQL semantics: rows where `pred` is NULL are kept (DELETE removes
    * only where the predicate is true). Commits one new version (or
    * none if nothing matched — returns the current version unchanged).
    */
  def delete(spark: SparkSession, path: String, pred: Column,
             dvMaxFraction: Double = 0.1): Long =
    retryDml("delete")(deleteOnce(spark, path, pred, dvMaxFraction))

  /** A DML STATEMENT is safely re-derivable: unlike compact (whose
    * marked file set is an input), delete/update compute everything
    * from the latest manifest, so when a concurrent rewrite makes this
    * attempt's derivation stale ([[commitRebasing]] refuses), simply
    * re-running the statement against the new latest is exactly what a
    * warehouse would do — bounded retries, then surface the conflict.
    */
  private def retryDml(what: String)(body: => Long, attempts: Int = 3): Long = {
    var last: CommitConflictException = null
    (1 to attempts).foreach { _ =>
      try return body
      catch { case e: CommitConflictException => last = e }
    }
    throw new CommitConflictException(
      s"snapshot $what: still conflicting after $attempts re-derivations: ${last.getMessage}")
  }

  /** DML predicates and SET values are evaluated in SEVERAL independent
    * jobs (tier counting, vector positions, rewrite remainders, appended
    * updated rows) — anything that could evaluate differently between
    * them would silently lose or duplicate data. Flag-nondeterministic
    * expressions are refused up front (the standard lakehouse rule).
    * CLOCK expressions (current_date / current_timestamp / now /
    * localtimestamp) pass Catalyst's `deterministic` flag but re-pin
    * the clock per query execution — a `DELETE … WHERE fecha <
    * CURRENT_DATE()` could match more rows in the vector-position scan
    * than the tier count saw, silently corrupting DvRef.rows — so they
    * are FOLDED here to literals pinned ONCE on the driver: the
    * reference's own maintenance shape keeps working, with one
    * statement-wide clock. Driver-only analysis, no job.
    */
  private def pinDmlExpr(spark: SparkSession, m: Manifest,
                         what: String, c: Column): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CurrentDate, CurrentTimestamp, LocalTimestamp, Literal, Now}
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(m.schemaDdl))
    val analyzed = empty.select(c.as("__e")).queryExecution.analyzed
      .expressions.head.children.head
    require(analyzed.find(!_.deterministic).isEmpty,
      s"Snapshot.$what: the expression is nondeterministic — it is evaluated " +
        "in more than one job, so matches could diverge between them")
    val hasClock = analyzed.find {
      case _: CurrentDate | _: CurrentTimestamp | _: Now | _: LocalTimestamp => true
      case _ => false
    }.isDefined
    if (!hasClock) return c
    val clock = spark.sql(
      "SELECT current_date(), current_timestamp(), localtimestamp()").head()
    val pinned = analyzed.transform {
      case _: CurrentDate           => Literal.create(clock.get(0), DateType)
      case _: CurrentTimestamp      => Literal.create(clock.get(1), TimestampType)
      case _: Now                   => Literal.create(clock.get(1), TimestampType)
      case _: LocalTimestamp        => Literal.create(clock.get(2), TimestampNTZType)
      // un-resolve the probe's attributes so the rebuilt Column
      // re-resolves against the real scan, not the probe's exprIds
      case a: AttributeReference    => UnresolvedAttribute.quoted(a.name)
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.column(pinned)
  }

  private def deleteOnce(spark: SparkSession, path: String, pred0: Column,
                         dvMaxFraction: Double): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val pred = pinDmlExpr(spark, m, "delete", pred0)
    val hit = coalesce(pred, lit(false))
    val candidates = SnapshotStats.prune(spark, m, pred, Some(path))
    if (candidates.isEmpty) return m.version
    // FUSED single scan for bounded candidate sets: the per-file match
    // counts (tier decision) and the DV tier's matched positions come
    // from ONE persisted pass over the stats-pruned candidates instead
    // of two — the common point-delete pays one table read, not two.
    // Gated by the candidates' manifest row counts (driver-known, no
    // job) so an unpruned 100 TB band delete never caches a
    // table-sized position set; above the gate, the two-scan path is
    // unchanged. The gate is data volume, not core count — the same
    // threshold is right on a cluster.
    val fusedGate = spark.conf.getOption(DmlFusedScanMaxRowsKey)
      .flatMap(_.toLongOption).getOrElse(DmlFusedScanMaxRowsDefault)
    val candRows = candidates.map(f => liveRowsOf(m, f))
    val fused = candRows.forall(_.isDefined) &&
      candRows.flatten.sum <= fusedGate
    val matchedRows =
      if (!fused) null
      else readFilesMeta(spark, path, m, Some(candidates), meta = true)
        .where(hit)
        .select((m.partitionCols.map(col) ++ Seq(col(MetaFile), col(MetaPos))): _*)
        .persist()
    try {
      val matched = dmlProf(spark, "delete: matchedPerFile")(
        if (fused)
          countsToManifest(path, m, matchedRows
            .groupBy(col(MetaFile).as("__file")).count()
            .collect().map(r => (r.getString(0), r.getLong(1))))
        else matchedPerFile(spark, path, m, pred))
      if (matched.isEmpty) return m.version
      // live rows = physical rows minus already-deleted positions — the
      // whole-file and fraction tiers must judge against what a reader
      // actually sees, or a second delete on a DV'd file mis-tiers
      val (whole, rest) = matched.partition { case (f, n) => liveRowsOf(m, f).contains(n) }
      val (dvTier, rewriteTier) = dvTierSplit(m, rest, dvMaxFraction)
      val rewrite = rewriteTier.keys.toSeq.sorted
      val newFiles =
        if (rewrite.isEmpty) Nil
        else dmlProf(spark, "delete: rewrite write")(writeTxnFiles(
          readFiles(spark, path, m, Some(rewrite)).where(!coalesce(pred, lit(false))),
          path, m.partitionCols, m.colMap,
          sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2))
      val dvNew =
        if (dvTier.isEmpty) Map.empty[String, DvRef]
        // the fused matched-rows cache serves the vector directly only
        // when it holds EXACTLY the dv tier's rows (no whole-file or
        // rewrite-tier rows mixed in — a pure point delete)
        else if (fused && whole.isEmpty && rewrite.isEmpty)
          dmlProf(spark, "delete: writeDv (fused)")(
            writeDvFrom(spark, path, m, matchedRows, dvTier))
        else dmlProf(spark, "delete: writeDv")(writeDv(spark, path, m, pred, dvTier))
      val committed = dmlProf(spark, "delete: stats+commit")(commitRebasing(spark, path, m,
        drop = whole.keySet ++ rewrite.toSet,
        touched = dvTier.keySet,
        addFiles = newFiles,
        addStats =
          if (newFiles.isEmpty) Map.empty
          else statsFor(spark, path, newFiles, m.schemaDdl, m.partitionCols, m.colMap),
        addDvs = dvNew, op = "DELETE"))
      if (dvNew.isEmpty) committed
      else dmlProf(spark, "delete: maybeFoldDense")(maybeFoldDense(spark, path, committed))
    } finally if (matchedRows != null) matchedRows.unpersist()
  }

  /** Row-level DELETE of every row whose `keyCol` value appears in
    * `keys` — the `DELETE … WHERE k IN (SELECT …)` shape, which a row
    * predicate cannot express without collecting the subquery. The key
    * set stays DISTRIBUTED end to end: per-file match counts come from
    * one left-semi equi-join over the live scan, the same three tiers
    * as [[delete]] apply (whole-file drop, deletion-vector positions,
    * minimum rewrite via left-anti join), and nothing key-sized ever
    * lands on the driver — at 100 TB the subquery result is a table,
    * not a literal list. NULL keys are dropped up front (SQL IN
    * semantics: NULL never matches).
    */
  def deleteMatching(spark: SparkSession, path: String, keyCol: String,
                     keys: DataFrame, dvMaxFraction: Double = 0.1): Long =
    retryDml("deleteMatching")(
      deleteMatchingOnce(spark, path, keyCol, keys, dvMaxFraction))

  /** Column name the IN-key join binds the (single-column, distinct,
    * null-free) key set under; chosen to never collide with user
    * schemas, like the merge aliases.
    */
  private val InKeyCol = "__graft_in_key"

  /** The key set of an IN-list DML, normalized: single column checked,
    * NULLs dropped (SQL IN: NULL never matches), distinct so joins
    * cannot fan out. The key column keeps ITS OWN type — the equi-join
    * conditions compare `keyCol === key` and the analyzer inserts SQL
    * IN's widening coercion (casting keys DOWN to the target type
    * would invert it: a BIGINT key wrapping into an INT target
    * silently matches the wrong rows). Flag-nondeterministic key plans
    * refuse like merge sources — the set feeds several jobs; callers
    * persist the rest so per-materialization nondeterminism (unordered
    * LIMIT, shuffled sample) still evaluates once.
    */
  private def inKeySet(keys0: DataFrame, schema: StructType, keyCol: String,
                       what: String): DataFrame = {
    require(schema.fieldNames.contains(keyCol), s"$what: unknown column $keyCol")
    require(keys0.columns.length == 1,
      s"$what: the key set must have exactly one column, " +
        s"got ${keys0.columns.mkString(", ")}")
    require(keys0.queryExecution.analyzed.find(
        _.expressions.exists(e => e.find(!_.deterministic).isDefined)).isEmpty,
      s"$what: the key-set plan is nondeterministic — it is evaluated in " +
        "several jobs; materialize it first (write it out, or drop the " +
        "nondeterminism)")
    keys0.select(col(keys0.columns.head).as(InKeyCol))
      .where(col(InKeyCol).isNotNull).distinct()
  }

  /** Absolute scanned-file counts → manifest-relative entries, shared
    * by every per-file matcher ([[matchedPerFile]] and the IN-key
    * twins) so the fileKey resolution quirks live in one place.
    */
  private def countsToManifest(path: String, m: Manifest,
                               counts: Array[(String, Long)]): Map[String, Long] = {
    val byKey = m.files.map(f => fileKey(fileAbs(path, m, f)) -> f).toMap
    counts.map { case (abs, n) =>
      byKey.getOrElse(fileKey(abs), throw new IllegalStateException(
        s"Snapshot DML: scanned file $abs not resolvable to a manifest entry")) -> n
    }.toMap
  }

  /** Per-file matched counts of the IN-key join — [[matchedPerFile]]'s
    * twin for a join "predicate": one left-semi equi-join over the
    * live scan of `files` (all live files when None), keyed back to
    * manifest entries.
    */
  private def inKeyMatches(spark: SparkSession, path: String, m: Manifest,
                           keyCol: String, keys: DataFrame,
                           files: Option[Seq[String]]): DataFrame =
    readFilesMeta(spark, path, m, files, meta = true)
      .join(keys, col(keyCol) === col(InKeyCol), "left_semi")

  private def deleteMatchingOnce(spark: SparkSession, path: String, keyCol: String,
                                 keys0: DataFrame, dvMaxFraction: Double): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val keyTmp = InKeyCol
    // the key set feeds up to three jobs (counts, rewrite, vectors) —
    // persist it so the subquery computes once, like updateOnce's
    // matched-row cache
    val keys = inKeySet(keys0, schema, keyCol, "Snapshot.deleteMatching").persist()
    try {
      def hits(files: Option[Seq[String]]): DataFrame =
        inKeyMatches(spark, path, m, keyCol, keys, files)
      val counts = hits(None)
        .groupBy(col(MetaFile).as("__file")).count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (counts.isEmpty) return m.version
      val matched = countsToManifest(path, m, counts)
      val (whole, rest) = matched.partition { case (f, n) => liveRowsOf(m, f).contains(n) }
      val (dvTier, rewriteTier) = dvTierSplit(m, rest, dvMaxFraction)
      val rewrite = rewriteTier.keys.toSeq.sorted
      val newFiles =
        if (rewrite.isEmpty) Nil
        else writeTxnFiles(
          readFiles(spark, path, m, Some(rewrite))
            .join(keys, col(keyCol) === col(keyTmp), "left_anti"),
          path, m.partitionCols, m.colMap,
          sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2)
      val dvNew =
        if (dvTier.isEmpty) Map.empty[String, DvRef]
        else writeDvFrom(spark, path, m, hits(Some(dvTier.keys.toSeq.sorted)), dvTier)
      val committed = commitRebasing(spark, path, m,
        drop = whole.keySet ++ rewrite.toSet,
        touched = dvTier.keySet,
        addFiles = newFiles,
        addStats =
          if (newFiles.isEmpty) Map.empty
          else statsFor(spark, path, newFiles, m.schemaDdl, m.partitionCols, m.colMap),
        addDvs = dvNew, op = "DELETE")
      if (dvNew.isEmpty) committed else maybeFoldDense(spark, path, committed)
    } finally keys.unpersist()
  }

  /** Row-level UPDATE of every row whose `keyCol` value appears in
    * `keys` — `UPDATE … SET … WHERE k IN (SELECT …)`. Same distributed
    * shape as [[deleteMatching]] (the key set never collects), same
    * two write tiers as [[update]]: heavily-matched files rewrite in
    * place (a left join marks the rows), lightly-matched files take a
    * deletion vector plus an append of their updated rows.
    */
  def updateMatching(spark: SparkSession, path: String, keyCol: String,
                     keys: DataFrame, set: Map[String, Column],
                     dvMaxFraction: Double = 0.1): Long =
    retryDml("updateMatching")(
      updateMatchingOnce(spark, path, keyCol, keys, set, dvMaxFraction))

  private def updateMatchingOnce(spark: SparkSession, path: String, keyCol: String,
                                 keys0: DataFrame, set0: Map[String, Column],
                                 dvMaxFraction: Double): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val bad = set0.keySet.diff(schema.fieldNames.toSet)
    require(bad.isEmpty, s"Snapshot.updateMatching: unknown column(s) ${bad.mkString(", ")}")
    require(set0.keySet.intersect(m.partitionCols.toSet).isEmpty,
      "Snapshot.updateMatching: cannot update a partition column (delete + append instead)")
    val set = set0.map { case (k, v) => k -> pinDmlExpr(spark, m, "update", v) }
    val keys = inKeySet(keys0, schema, keyCol, "Snapshot.updateMatching").persist()
    try {
      val counts = inKeyMatches(spark, path, m, keyCol, keys, None)
        .groupBy(col(MetaFile).as("__file")).count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (counts.isEmpty) return m.version
      val matched = countsToManifest(path, m, counts)
      val (dvTier, rewriteTier) = dvTierSplit(m, matched, dvMaxFraction)
      def applySet(hit: Column, onlyMatched: Boolean) = schema.fields.toSeq.map { f =>
        set.get(f.name)
          .map { v =>
            if (onlyMatched) v.cast(f.dataType).as(f.name)
            else when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          }
          .getOrElse(col(f.name).as(f.name))
      }
      val rewrite = rewriteTier.keys.toSeq.sorted
      val rewriteFiles =
        if (rewrite.isEmpty) Nil
        else writeTxnFiles(
          readFiles(spark, path, m, Some(rewrite))
            .join(keys, col(keyCol) === col(InKeyCol), "left")
            .select(applySet(col(InKeyCol).isNotNull, onlyMatched = false): _*),
          path, m.partitionCols, m.colMap,
            withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
          sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2)
      val (dvNew, updatedFiles) =
        if (dvTier.isEmpty) (Map.empty[String, DvRef], Nil)
        else {
          val matchedRows = inKeyMatches(spark, path, m, keyCol, keys,
            Some(dvTier.keys.toSeq.sorted)).persist()
          try (
            writeDvFrom(spark, path, m, matchedRows, dvTier),
            writeTxnFiles(matchedRows.select(applySet(lit(true), onlyMatched = true): _*),
              path, m.partitionCols, m.colMap,
            withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
              sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2))
          finally matchedRows.unpersist()
        }
      val committed = commitRebasing(spark, path, m,
        drop = rewrite.toSet,
        touched = dvTier.keySet,
        addFiles = rewriteFiles ++ updatedFiles,
        addStats = statsFor(spark, path, rewriteFiles ++ updatedFiles,
          m.schemaDdl, m.partitionCols, m.colMap),
        addDvs = dvNew, op = "UPDATE")
      if (dvNew.isEmpty) committed else maybeFoldDense(spark, path, committed)
    } finally keys.unpersist()
  }

  /** Live rows of a file: physical rows minus already-deleted
    * positions; None when the file has no row stats.
    */
  private def liveRowsOf(m: Manifest, f: String): Option[Long] =
    m.stats.get(f).map(_.rows - m.dvs.get(f).map(_.rows).getOrElse(0L))

  /** Split partial-match files into the DV tier vs the rewrite tier by
    * matched fraction of LIVE rows. Vectors identify a file by
    * (basename, partition values) — unique for anything this writer
    * produced; a hand-assembled table that still collides falls back
    * to the always-correct rewrite tier, as does a file without row
    * stats (no denominator to judge the fraction by).
    */
  private def dvTierSplit(m: Manifest, matched: Map[String, Long], dvMaxFraction: Double)
      : (Map[String, Long], Map[String, Long]) = {
    val collided = m.files
      .groupBy(f => (f.substring(f.lastIndexOf('/') + 1), partitionValues(m.partitionCols, f)))
      .filter(_._2.size > 1).values.flatten.toSet
    matched.partition { case (f, n) =>
      dvMaxFraction > 0 && !collided(f) &&
        liveRowsOf(m, f).exists(lv => lv > 0 && n.toDouble / lv <= dvMaxFraction)
    }
  }

  /** Write REPLACEMENT deletion vectors for the `matched` files: the
    * predicate's matched physical positions plus each file's
    * previously-deleted positions (vectors are immutable; a new delete
    * supersedes the old vector rather than mutating it), grouped by
    * data-file basename under one commit dir. Nothing is live until
    * the manifest commits. Per-file row counts come from the already-
    * computed match counts plus the superseded vector's count — no
    * extra job.
    */
  private def writeDv(spark: SparkSession, path: String, m: Manifest, pred: Column,
                      matched: Map[String, Long]): Map[String, DvRef] =
    writeDvFrom(spark, path, m,
      readFilesMeta(spark, path, m, Some(matched.keys.toSeq.sorted), meta = true)
        .where(coalesce(pred, lit(false))),
      matched)

  /** [[writeDv]] from an already-filtered matched-rows frame (with the
    * meta columns) — lets [[update]]'s DV tier share one cached scan
    * between the vector and the appended rows.
    */
  private def writeDvFrom(spark: SparkSession, path: String, m: Manifest,
                          matchedRows: DataFrame,
                          matched: Map[String, Long]): Map[String, DvRef] = {
    val files = matched.keys.toSeq.sorted
    val dvDirRel = s"_dv/dv-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    val fresh = matchedRows
      .select(Seq(element_at(split(col(MetaFile), "/"), -1).as(DvFileCol),
        col(MetaPos).as(DvPosCol)) ++
        m.partitionCols.map(pc => col(pc).as(DvColPrefix + pc)): _*)
    val carried = files.flatMap(f => m.dvs.get(f).map(_.file)) match {
      case Nil  => fresh
      case refs => fresh.unionByName(readDvRows(spark, path, m, refs))
    }
    // DV-tier data is small by construction (fraction-capped point
    // deletes): one output file per basename group, positions sorted
    // for run-length-friendly encoding
    carried.repartition(1).sortWithinPartitions(DvFileCol, DvPosCol)
      .write.mode("errorifexists").partitionBy(DvFileCol).parquet(s"$path/$dvDirRel")
    faultHook("dv-files-written")
    files.map { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(base)
      f -> DvRef(s"$dvDirRel/$DvFileCol=$esc",
        matched(f) + m.dvs.get(f).map(_.rows).getOrElse(0L))
    }.toMap
  }

  /** Row-level UPDATE by predicate: `set` maps column name → new-value
    * expression (evaluated against the old row, so `"c" -> col("c")+1`
    * works). Same candidate pruning and zero-match skip as [[delete]],
    * and the same two write tiers: a file where more than
    * `dvMaxFraction` of live rows match is rewritten with `set`
    * applied to its matching rows; a POINT update instead records the
    * matched positions in the file's deletion vector and APPENDS the
    * updated rows as a new file — copy-on-write of the rows, not the
    * file, so a 1-row rectification of a 1-GB file moves 1 row. Rows
    * where `pred` is NULL are untouched (SQL UPDATE semantics).
    * Returns the committed version (unchanged if nothing matched).
    */
  def update(spark: SparkSession, path: String, pred: Column,
             set: Map[String, Column], dvMaxFraction: Double = 0.1): Long =
    retryDml("update")(updateOnce(spark, path, pred, set, dvMaxFraction))

  private def updateOnce(spark: SparkSession, path: String, pred0: Column,
                         set0: Map[String, Column], dvMaxFraction: Double): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val bad = set0.keySet.diff(schema.fieldNames.toSet)
    require(bad.isEmpty, s"Snapshot.update: unknown column(s) ${bad.mkString(", ")}")
    require(set0.keySet.intersect(m.partitionCols.toSet).isEmpty,
      "Snapshot.update: cannot update a partition column (delete + append instead)")
    val pred = pinDmlExpr(spark, m, "update", pred0)
    // SET values are evaluated once per tier (two writeTxnFiles jobs);
    // pin their clock too, so both tiers stamp the same instant
    val set = set0.map { case (k, v) => k -> pinDmlExpr(spark, m, "update", v) }
    val matched = matchedPerFile(spark, path, m, pred)
    if (matched.isEmpty) return m.version
    val (dvTier, rewriteTier) = dvTierSplit(m, matched, dvMaxFraction)
    val hit = coalesce(pred, lit(false))
    def applySet(onlyMatched: Boolean) = schema.fields.toSeq.map { f =>
      set.get(f.name)
        .map { v =>
          if (onlyMatched) v.cast(f.dataType).as(f.name)
          else when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        }
        .getOrElse(col(f.name))
    }
    val rewrite = rewriteTier.keys.toSeq.sorted
    val rewriteFiles =
      if (rewrite.isEmpty) Nil
      else writeTxnFiles(
        readFiles(spark, path, m, Some(rewrite)).select(applySet(onlyMatched = false): _*),
        path, m.partitionCols, m.colMap,
            withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
        sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2)
    val (dvNew, updatedFiles) =
      if (dvTier.isEmpty) (Map.empty[String, DvRef], Nil)
      else {
        // ONE scan of the DV-tier files feeds both outputs (the
        // vector's positions and the appended updated rows) — the
        // matched set is small by the fraction cap, so caching it
        // costs nothing and halves the tier's file reads
        val matchedRows = readFilesMeta(spark, path, m,
          Some(dvTier.keys.toSeq.sorted), meta = true).where(hit).persist()
        try (
          writeDvFrom(spark, path, m, matchedRows, dvTier),
          writeTxnFiles(matchedRows.select(applySet(onlyMatched = true): _*),
            path, m.partitionCols, m.colMap,
            withNotNullChecks(m.constraints, m.schemaDdl), m.generatedCols,
            sortBy = writeSortSpec(m)._1, sortRange = writeSortSpec(m)._2))
        finally matchedRows.unpersist()
      }
    val committed = commitRebasing(spark, path, m,
      drop = rewrite.toSet,
      touched = dvTier.keySet,
      addFiles = rewriteFiles ++ updatedFiles,
      addStats = statsFor(spark, path, rewriteFiles ++ updatedFiles,
        m.schemaDdl, m.partitionCols, m.colMap),
      addDvs = dvNew, op = "UPDATE")
    if (dvNew.isEmpty) committed else maybeFoldDense(spark, path, committed)
  }

  /** Exact per-file match counts for `pred` over the stats-pruned
    * candidate files: one job, scanning only predicate columns of only
    * candidate files. Keys are table-relative paths; files with zero
    * matches are absent.
    */
  private def matchedPerFile(spark: SparkSession, path: String, m: Manifest,
                             pred: Column): Map[String, Long] = {
    val candidates = SnapshotStats.prune(spark, m, pred, Some(path))
    if (candidates.isEmpty) return Map.empty
    val counts = readFilesMeta(spark, path, m, Some(candidates), meta = true)
      .where(coalesce(pred, lit(false)))
      .groupBy(col(MetaFile).as("__file")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    countsToManifest(path, m, counts)
  }

  /** Canonical comparison key for a data-file path: scheme/authority
    * stripped, every layer of percent-encoding decoded to fixpoint —
    * `input_file_name()` URI-encodes (sometimes doubly, for hive dirs
    * whose raw names already contain `%XX` escapes) while manifest
    * paths are raw filesystem names.
    */
  private[graft] def fileKey(s: String): String = {
    // decode to fixpoint, but STOP (keeping the last good form) when a
    // decoded name is no longer a valid escape sequence — a raw hive
    // name containing a bare '%' (e.g. the partition value "100%")
    // reaches exactly that state one step before the decoder would throw
    def tryDecode(v: String): Option[String] =
      try Some(java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8"))
      catch { case _: IllegalArgumentException => None }
    var cur = new HPath(s).toUri.getPath
    var next = tryDecode(cur)
    while (next.exists(_ != cur)) {
      cur = next.get
      next = tryDecode(cur)
    }
    cur
  }

  /** Small-file compaction, snapshot form: bin-pack every partition
    * holding >= `minFiles` live files — for single-column, multi-column
    * AND unpartitioned tables (an unpartitioned table is one partition
    * group). Readers pinned to the old version keep reading the OLD
    * files — they stay on disk until `vacuum` — which is exactly the
    * concurrent-reader guarantee the raw `Layout.compactPartitions`
    * documents as out of reach. The commit swaps EXACTLY the marked
    * files for their rewrite, one atomic manifest. Returns the
    * compacted partitions as value strings (single column: the raw
    * value; multi: hive-style `c1=v1/c2=v2`; unpartitioned: `""`).
    *
    * `zorderBy`: also CLUSTER the rewritten data on these columns
    * (Morton interleave, `Layout.zvalue`) — the maintenance pass every
    * hourly-append table needs at 100 TB, because appends interleave key
    * ranges until per-file min/max spans degrade to the whole domain and
    * [[readWhere]] can no longer skip anything. Z bounds come from the
    * MANIFEST's own per-file stats (metadata-only — no extra scan);
    * a z column with no usable stats falls back to one min/max job over
    * the marked slice. Clustering changes layout only, never values.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 0L,
              minFiles: Int = 0, zorderBy: Seq[String] = Nil,
              where: Option[Column] = None): Seq[String] = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    // 0 = the library default (4): SQL routes pass the sentinel so the
    // default lives in exactly one place
    val minFilesEff = if (minFiles > 0) minFiles else 4
    // a malformed bloom policy must fail the statement BEFORE any
    // commit, same as every other pre-commit validation
    bloomPolicyCols(m).foreach(_ => ())
    // the table's declared CLUSTER BY is the default layout policy; an
    // explicit ZORDER BY on the statement still overrides it
    val zorderCols = if (zorderBy.nonEmpty) zorderBy else m.clusterBy
    // target size likewise: caller's explicit value > the table's own
    // graft.optimize.targetBytes property > 128 MiB
    val targetBytesEff =
      if (targetBytes > 0L) targetBytes
      else policyLong(m, "optimize.targetBytes").filter(_ > 0L).getOrElse(128L << 20)
    val pCols = m.partitionCols
    val byPart = m.files.groupBy(f => partitionValues(pCols, f))
    // `where` scopes maintenance to the partitions whose TYPED values
    // satisfy it — on a 100 TB table the nightly OPTIMIZE touches
    // yesterday's partition, never the whole history. Evaluated over a
    // tiny local relation of distinct partition tuples, with Spark's
    // own casts/comparisons; a predicate referencing a non-partition
    // column fails analysis loudly rather than scanning data.
    val keepPart: Map[String, String] => Boolean = where match {
      case None => _ => true
      case Some(pred) =>
        require(pCols.nonEmpty, "compact WHERE needs a partitioned snapshot table")
        val schema = StructType.fromDDL(m.schemaDdl)
        val pFields = pCols.map(c => schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"partition column $c not in schema")))
        val tuples = byPart.keys.toSeq
        import scala.jdk.CollectionConverters._
        // each tuple rides with its index, so the kept set maps back to
        // the EXACT original string tuples — no re-canonicalization
        val raw = spark.createDataFrame(
          tuples.zipWithIndex.map { case (pv, i) => Row.fromSeq(i +: pCols.map(c =>
            pv.get(c).filter(_ != NullPartition).orNull)) }.asJava,
          StructType(org.apache.spark.sql.types.StructField("__idx",
            org.apache.spark.sql.types.IntegerType) +:
            pCols.map(c => org.apache.spark.sql.types.StructField(c,
              org.apache.spark.sql.types.StringType))))
        val typed = raw.select(col("__idx") +:
          pFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        val keptIdx =
          try typed.where(coalesce(pred, lit(false)))
            .select("__idx").collect().map(_.getInt(0)).toSet
          catch {
            case e: org.apache.spark.sql.AnalysisException => throw new IllegalArgumentException(
              s"compact WHERE may only reference partition columns (${pCols.mkString(", ")})", e)
          }
        val keptTuples = keptIdx.map(tuples(_))
        pv => keptTuples.contains(pv)
    }
    // a partition holding any DV'd file is always marked: compaction is
    // how deletion vectors FOLD AWAY (the rewrite reads live rows, so
    // the new files carry no vector and the native scan path returns)
    val marked = byPart.filter { case (pv, fls) =>
      keepPart(pv) && (fls.size >= minFilesEff || fls.exists(m.dvs.contains))
    }
    if (marked.isEmpty) { policyBloomRefresh(spark, path, m); return Nil }
    val markedFiles = marked.values.flatten.toSeq
    val bytes = markedFiles.map(fileBytes(spark, path, m, _)).sum
    val slice = readFiles(spark, path, m, Some(markedFiles))
    val dataCols = slice.columns.filterNot(pCols.contains)
    val nOut = math.max(1L, (bytes + targetBytesEff - 1) / targetBytesEff)
    // EXPLICIT task count: without it AQE coalesces the repartition to
    // its advisory size and the declared target is silently ignored.
    // One task per (marked partition × salt) combo, capped — hash
    // collisions make packing approximate, same as any salt scheme.
    val nTasks = math.min(math.max(1L, marked.size.toLong) * nOut, 1L << 15).toInt
    val packed =
      if (zorderCols.isEmpty)
        slice
          .withColumn("__salt", pmod(hash(dataCols.map(col).toSeq: _*).cast("long"), lit(nOut)))
          .repartition(nTasks, (pCols.map(col) :+ col("__salt")): _*)
          .drop("__salt")
      else {
        val bounds = zBoundsFromStats(m, markedFiles, zorderCols).getOrElse {
          val row = slice.select(zorderCols.flatMap(c =>
            Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))): _*).head()
          zorderCols.indices.map(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
        }
        slice
          .withColumn("__z", Layout.zvalue(zorderCols.map(col), bounds, bits = 8))
          .repartitionByRange(nOut.toInt, (pCols.map(col) :+ col("__z")): _*)
          .sortWithinPartitions((pCols.map(col) :+ col("__z")): _*)
          .drop("__z")
      }
    replaceFiles(spark, path, packed, markedFiles.toSet)
    latestManifest(spark, path).foreach(policyBloomRefresh(spark, path, _))
    marked.keys.toSeq.map { pv =>
      if (pCols.isEmpty) ""
      else if (pCols.size == 1) pv(pCols.head)
      else pCols.map(c => s"$c=${pv(c)}").mkString("/")
    }.sorted
  }

  /** Parse-and-validate `graft.bloom.columns` against the manifest's
    * schema. LOUD on a content-free spec or an unknown column (the
    * policy contract: a typo must never silently disable the index).
    * Column names are case-sensitive, like every other manifest name.
    */
  private[graft] def bloomPolicyCols(m: Manifest): Option[Seq[String]] =
    policyProp(m, "bloom.columns").map { spec =>
      val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty,
        s"table property graft.bloom.columns names no columns: '$spec'")
      val schema = StructType.fromDDL(m.schemaDdl)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"table property graft.bloom.columns names unknown column $c"))
      cols
    }

  /** Policy keys name LOGICAL columns, so DDL that renames or drops a
    * column rewrites them coherently — exactly like clusterBy.
    */
  private def renameInBloomPolicy(props: Map[String, String],
                                  from: String, to: String): Map[String, String] =
    props.get("graft.bloom.columns").fold(props) { spec =>
      props + ("graft.bloom.columns" -> spec.split(",").map(_.trim)
        .filter(_.nonEmpty).map(c => if (c == from) to else c).mkString(","))
    }

  private def dropFromBloomPolicy(props: Map[String, String],
                                  name: String): Map[String, String] =
    props.get("graft.bloom.columns").fold(props) { spec =>
      val left = spec.split(",").map(_.trim).filter(_.nonEmpty).filterNot(_ == name)
      if (left.isEmpty) props - "graft.bloom.columns"
      else props + ("graft.bloom.columns" -> left.mkString(","))
    }

  /** The bloom leg of the nightly loop: when the table declares
    * `graft.bloom.columns`, OPTIMIZE also (re)builds sidecars for any
    * live file lacking them — [[bloomIndex]] is incremental, so this
    * costs one pass over exactly the new/rewritten files and nothing
    * when the index is current. Together with CLUSTER BY,
    * graft.optimize.targetBytes and the vacuum retention properties,
    * a fleet maintenance job needs ONE statement per table.
    */
  private def policyBloomRefresh(spark: SparkSession, path: String, m: Manifest): Unit =
    bloomPolicyCols(m).foreach(cols => bloomIndex(spark, path, cols))

  /** Swap EXACTLY `drop` (live files) for `replacement`'s rewrite in
    * one atomic commit — the file-precise core under [[compact]],
    * [[update]] and [[delete]]'s rewrite tier.
    */
  private def replaceFiles(spark: SparkSession, path: String, replacement: DataFrame,
                           drop: Set[String]): Long = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    replaceFilesOn(spark, path, m, replacement, drop)
  }

  private def replaceFilesOn(spark: SparkSession, path: String, m: Manifest,
                             replacement: DataFrame, drop: Set[String]): Long = {
    val newFiles = writeTxnFiles(replacement, path, m.partitionCols, m.colMap)
    commitRebasing(spark, path, m, drop, Set.empty, newFiles,
      statsFor(spark, path, newFiles, m.schemaDdl, m.partitionCols, m.colMap), Map.empty,
      op = "OPTIMIZE")
  }

  /** Fold deletion vectors WITHOUT a full compaction: rewrite exactly
    * the DV'd files whose vector covers at least `minFileFraction` of
    * their physical rows (0 folds every vector), minus their deleted
    * rows — file-precise, so untouched files (and small-file layout)
    * stay byte-identical, unlike [[compact]] which also bin-packs.
    * A DV'd file without row stats folds unconditionally (no
    * denominator to judge it by, and always-correct beats fast).
    * Returns the folded files; commits nothing when none qualify.
    */
  /** Build per-file bloom-filter sidecars over `cols` for every live
    * file not already indexed on exactly that column set, and commit
    * the refs ([[BloomRef]]; see [[SnapshotBloom]] for what blooms buy
    * a point lookup). Idempotent and incremental: a second run after
    * an append indexes only the new files — the maintenance-loop shape
    * (like compact/zorder), so an hourly append job follows with an
    * hourly index top-up. Commutes with concurrent appends: on a
    * version conflict the refs re-derive against the new latest
    * (filtered to still-live files) and retry. Returns the committed
    * version (unchanged when nothing needed indexing).
    */
  def bloomIndex(spark: SparkSession, path: String, cols: Seq[String],
                 fpp: Double = 0.01): Long = {
    require(cols.nonEmpty, "bloomIndex: no columns given")
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val want = cols.map(physicalOf(m, _)).sorted // refs record physical names
    val todo = m.files.filterNot(f => m.blooms.get(f).exists(_.cols.sorted == want))
    if (todo.isEmpty) return m.version
    val refs = SnapshotBloom.build(spark, path, m, todo, cols, fpp)
    retryDml("bloomIndex") {
      val cur = latestManifest(spark, path).get
      val liveRefs = refs.view.filterKeys(cur.files.toSet).toMap
      if (liveRefs.isEmpty) cur.version
      else commitManifest(spark, path,
        cur.copy(version = cur.version + 1, operation = "BLOOM INDEX",
          blooms = cur.blooms ++ liveRefs))
    }
  }

  def foldDvs(spark: SparkSession, path: String,
              minFileFraction: Double = 0.0): Seq[String] = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val targets = m.dvs.keys.filter { f =>
      m.stats.get(f) match {
        case Some(st) if st.rows > 0 =>
          m.dvs(f).rows.toDouble / st.rows >= minFileFraction
        case _ => true
      }
    }.toSeq.sorted
    if (targets.isEmpty) return Nil
    // the read core applies the vectors, so the rewrite holds exactly
    // the live rows and the new files carry no vector by construction
    replaceFilesOn(spark, path, m, readFiles(spark, path, m, Some(targets)), targets.toSet)
    targets
  }

  /** DML post-commit maintenance hook: when the version just committed
    * carries any file whose vector passed the [[DvFoldFractionKey]]
    * density threshold, fold those files now — the bounded-read-tax
    * invariant (no file's scan ever pays more than the threshold's
    * fraction as anti-join probes) that a warehouse's background
    * maintenance would otherwise provide. Returns the latest version
    * (the fold's, when one ran).
    */
  private def maybeFoldDense(spark: SparkSession, path: String, committed: Long): Long = {
    val frac = spark.conf.getOption(DvFoldFractionKey)
      .flatMap(_.toDoubleOption).getOrElse(DvFoldFractionDefault)
    if (frac <= 0 || frac > 1) return committed
    val m = manifest(spark, path, committed)
    val dense = m.dvs.exists { case (f, dv) =>
      m.stats.get(f).forall(st => st.rows <= 0 || dv.rows.toDouble / st.rows >= frac)
    }
    if (!dense) committed
    else {
      foldDvs(spark, path, frac)
      latestVersion(spark, path).getOrElse(committed)
    }
  }

  /** OPTIMISTIC commit for the file-precise rewriters (compact, DML):
    * drop `drop`, add `addFiles`/`addDvs`, REBASING onto whatever
    * manifest is current when a concurrent commit wins the version —
    * a compaction must not abort because an hourly append landed
    * mid-rewrite. A rebase is semantics-preserving exactly when every
    * file this writer derived its output from (`drop` ∪ `touched`) is
    * still live with an UNCHANGED deletion vector in the new latest:
    * the rewrite then still describes those files' rows, and the
    * concurrent commit's files (appended, or other files' rewrites)
    * carry over untouched. Anything else — a marked file compacted or
    * DV'd by someone else — is a true write-write conflict and refuses
    * ([[CommitConflictException]]), exactly as before. `addDvs` entries
    * supersede their file's vector; a replaced file's vector is folded
    * into its rewrite by construction, so only surviving files keep
    * theirs. The rebased manifest keeps the LATEST schema and stream
    * watermarks (a concurrent append may have evolved both; replaced
    * files read under the wider schema with nulls, like any
    * pre-evolution file).
    */
  private def commitRebasing(spark: SparkSession, path: String, base: Manifest,
                             drop: Set[String], touched: Set[String],
                             addFiles: Seq[String],
                             addStats: Map[String, SnapshotStats.FileStats],
                             addDvs: Map[String, DvRef],
                             op: String = ""): Long = {
    var attempt = 0
    while (true) {
      val m = if (attempt == 0) base else latestManifest(spark, path).getOrElse(base)
      val derivedFrom = drop ++ touched
      val missing = derivedFrom.diff(m.files.toSet)
      val dvDrift = derivedFrom.filter(f => m.dvs.get(f) != base.dvs.get(f))
      if (missing.nonEmpty || dvDrift.nonEmpty)
        throw new CommitConflictException(
          s"snapshot rewrite conflict at $path: a concurrent commit " +
            (if (missing.nonEmpty) s"removed ${missing.take(3).mkString(", ")}"
             else s"changed deletion vectors of ${dvDrift.take(3).mkString(", ")}") +
            " — this rewrite was derived from stale rows")
      // a CONSTRAINT added mid-rewrite is a write-write conflict too:
      // this rewrite's rows were validated against the base's set, so
      // rebasing past a new constraint would commit unvalidated rows
      // (DML statements re-derive on this and revalidate; compaction's
      // rows are unchanged but re-deriving is still the honest answer)
      if (m.constraints != base.constraints)
        throw new CommitConflictException(
          s"snapshot rewrite conflict at $path: table constraints changed " +
            "mid-rewrite; rows were validated against a stale constraint set")
      // likewise a COLUMN-MAPPING change mid-rewrite: the rewrite's
      // files were written under the base's physical names, so rebasing
      // past a concurrent rename/drop+re-add would commit files the new
      // mapping reads wrongly (or not at all)
      if (m.colMap != base.colMap || m.retired != base.retired)
        throw new CommitConflictException(
          s"snapshot rewrite conflict at $path: column mapping changed " +
            "mid-rewrite; files were written under stale physical names")
      val kept = m.files.filterNot(drop)
      try {
        return commitManifest(spark, path, m.copy(
          version = m.version + 1,
          operation = op,
          files = kept ++ addFiles,
          stats = m.stats.view.filterKeys(kept.toSet).toMap ++ addStats,
          dvs = m.dvs.view.filterKeys(kept.toSet).toMap ++ addDvs))
      } catch {
        case _: CommitConflictException if attempt < 10 => attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Byte size of a live file — from the manifest's own stats when
    * recorded (no RPC), else one `getFileStatus`.
    */
  private[graft] def fileBytes(spark: SparkSession, path: String, m: Manifest,
                               file: String): Long =
    m.stats.get(file).map(_.bytes).filter(_ > 0L).getOrElse(
      fsFor(spark, path).getFileStatus(new HPath(fileAbs(path, m, file))).getLen)

  /** Per-column (min, max) doubles for `zCols` over `files`, computed
    * from the manifest's stats alone; None when any column/file lacks a
    * numeric-decodable stat (caller then pays a stats job).
    */
  private def zBoundsFromStats(m: Manifest, files: Seq[String],
                               zCols: Seq[String]): Option[Seq[(Double, Double)]] = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val bounds = zCols.map { c =>
      val dt = schema.fields.find(_.name == c).map(_.dataType)
      val per = files.map { f =>
        for {
          fsStats <- m.stats.get(f)
          cs <- fsStats.cols.get(c)
          mn <- cs.mn; mx <- cs.mx
          lo <- SnapshotStats.canonicalToDouble(dt.orNull, mn)
          hi <- SnapshotStats.canonicalToDouble(dt.orNull, mx)
        } yield (lo, hi)
      }
      if (per.exists(_.isEmpty)) None
      else Some((per.flatten.map(_._1).min, per.flatten.map(_._2).max))
    }
    if (bounds.exists(_.isEmpty)) None else Some(bounds.flatten)
  }

  /** Metadata-only aggregation: COUNT(*) plus per-column MIN / MAX /
    * COUNT(col) computed purely from the manifest's file stats — zero
    * data files opened, one local-relation job over #files rows. The
    * 100 TB form of `SELECT count(*), min(c), max(c) FROM t`: file
    * minima/maxima are exact file-level aggregates, so their fold is
    * the exact table aggregate. Refuses (so the caller can fall back to
    * a real scan) when any live file lacks usable stats for a requested
    * column — a wrong-but-fast answer is never an option. Output
    * columns: `n`, then `min_<c>`, `max_<c>`, `cnt_<c>` per requested
    * column.
    */
  def metadataAgg(spark: SparkSession, path: String, cols: Seq[String],
                  version: Option[Long] = None): DataFrame = {
    val m = version.map(manifest(spark, path, _)).orElse(latestManifest(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"not a snapshot table: $path"))
    if (cols.isEmpty) {
      // count-only: EXACT even under deletion vectors, because vector
      // sizes are manifest metadata (live rows = rows − dv.rows)
      val missing = m.files.filterNot(m.stats.contains)
      require(missing.isEmpty,
        s"metadataAgg: files without stats (fall back to a scan): " +
          missing.take(3).mkString(", "))
      val n = m.files.map(f => m.stats(f).rows - m.dvs.get(f).map(_.rows).getOrElse(0L)).sum
      return spark.createDataFrame(
        java.util.List.of(Row(n)),
        StructType(Seq(org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // a deleted row may have been a file's min/max/null-count carrier;
    // per-column metadata answers over DV'd files would be
    // wrong-but-fast, which this surface never permits — compact folds
    // vectors in
    require(m.dvs.isEmpty,
      s"metadataAgg: ${m.dvs.size} file(s) carry deletion vectors; " +
        "compact the table to fold them in, or run a real scan " +
        "(count-only metadataAgg(path, Nil) stays exact under vectors)")
    SnapshotStats.metadataAgg(spark, m, cols)
  }

  /** Table history, one row per retained version: (version, commit
    * micros, OPERATION, numFiles, numRows, schema DDL) — the audit
    * trail every lakehouse job reads before a backfill ("what wrote
    * v17?"). numRows from the manifest's own per-file stats (no data
    * read); -1 when a version predates stats; operation '' for
    * versions committed before labels existed. The observability
    * surface of the commit log, driver-sized by construction
    * (#versions rows).
    */
  def history(spark: SparkSession, path: String,
              distributeAbove: Int = 64): DataFrame = {
    import spark.implicits._
    // per-commit CHANGE metrics (the operationMetrics every warehouse
    // operator reads before trusting a pipeline): file and physical-row
    // deltas vs the previous RETAINED version, with deletion-vector
    // GROWTH on kept files counted as rows removed — so an append shows
    // (n, 0), a DV point delete (0, k), a compaction (m, m) with a zero
    // net, and the numbers come from manifest arithmetic alone
    def row(m: Manifest, parent: Option[Manifest])
        : (Long, Long, String, Int, Long, Int, Int, Long, Long, String) = {
      val rows =
        if (m.files.forall(m.stats.contains))
          m.files.map(f => m.stats(f).rows - m.dvs.get(f).map(_.rows).getOrElse(0L)).sum
        else -1L
      def dvRows(x: Manifest, f: String): Long = x.dvs.get(f).map(_.rows).getOrElse(0L)
      val pf = parent.map(_.files.toSet).getOrElse(Set.empty)
      val mf = m.files.toSet
      val added = m.files.filterNot(pf)
      val removed = parent.map(_.files.filterNot(mf)).getOrElse(Nil)
      // -1 = unknown, the same sentinel num_rows uses: a partial sum
      // over stat-less files would read as "added nothing"
      val rowsAdded =
        if (added.forall(m.stats.contains)) added.map(m.stats(_).rows).sum else -1L
      // removed files count their LIVE rows at the parent (physical
      // minus that version's vector) — a compaction of a DV'd file is
      // (m, m) net-zero, and DV'd rows are never counted removed twice
      val rowsRemoved = parent.map { p =>
        if (!removed.forall(p.stats.contains)) -1L
        else removed.map(f => p.stats(f).rows - dvRows(p, f)).sum +
          mf.intersect(pf).iterator.map(f => math.max(0L, dvRows(m, f) - dvRows(p, f))).sum
      }.getOrElse(0L)
      (m.version, m.committedAtMicros, m.operation, m.files.size, rows,
        added.size, removed.size, rowsAdded, rowsRemoved, m.schemaDdl)
    }
    val vs = versions(spark, path)
    // the diff base is the previous RETAINED version (vacuum can leave
    // tagged islands with reclaimed neighbours); the oldest retained
    // version baselines as all-added. Each manifest loads ONCE — it
    // serves as itself and as its successor's diff base.
    val tuples =
      if (vs.size <= distributeAbove) {
        val ms = vs.map(manifest(spark, path, _))
        ms.zip(None +: ms.init.map(Option(_))).map((row _).tupled)
      } else {
        // a long-lived table accumulates thousands of manifests; read
        // them in ONE Spark job instead of a serial driver loop. Each
        // slice is a CONTIGUOUS version range (parallelize preserves
        // order), so a running parent costs one extra load per slice,
        // not one per version.
        val sconf = org.apache.spark.graftbridge.ConfBridge.serializable(
          spark.sparkContext.hadoopConfiguration)
        val slices = math.max(1, math.min(vs.size / 16, 256))
        val pairs = vs.zip(None +: vs.init.map(Option(_)))
        spark.sparkContext.parallelize(pairs, slices).mapPartitions { it =>
          val conf = org.apache.spark.graftbridge.ConfBridge.value(sconf)
          val fs = new HPath(path).getFileSystem(conf)
          var prev: Option[(Long, Manifest)] = None
          it.map { case (v, pv) =>
            val m = manifestFrom(fs, path, v)
            val parent = pv.map { p =>
              prev match {
                case Some((pvHeld, held)) if pvHeld == p => held
                case _ => manifestFrom(fs, path, p)
              }
            }
            prev = Some((v, m))
            row(m, parent)
          }
        }.collect().toSeq.sortBy(_._1)
      }
    tuples.toDF("version", "committed_at_micros", "operation",
      "num_files", "num_rows", "files_added", "files_removed",
      "rows_added", "rows_removed", "schema_ddl")
  }

  /** RESTORE: make an earlier committed version the table's new LATEST
    * as a metadata-only FORWARD commit — the standard lakehouse undo.
    * History is append-only (the bad versions stay time-travelable,
    * unlike a rollback that rewrites the log), restored data files and
    * deletion vectors must still exist (a vacuum past the target
    * refuses fast, with the missing paths), and streaming-sink
    * watermarks KEEP the current high-water marks — an exactly-once
    * consumer must still recognize an already-delivered batch after
    * the restore. Bloom refs whose sidecars were vacuumed silently
    * drop (they are an optimization); DVs are correctness and refuse.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val cur = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    if (version == cur.version) return cur.version
    // same arbitration as createTag: below the vacuum floor only tagged
    // versions are reliably intact — an untagged one may be mid-reclaim
    // by a concurrent vacuum, and a restore built on half-deleted state
    // would commit dangling file refs
    val floor = policyLong(cur, "vacuum.floor").getOrElse(0L)
    require(version >= floor || cur.tags.values.exists(_ == version),
      s"restore to v$version: below the vacuum floor v$floor and not tagged — " +
        "that version is reclaimable; restore to a retained or tagged version")
    val target =
      try manifest(spark, path, version)
      catch {
        case e: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"restore to v$version: vacuum already reclaimed that version's manifest", e)
      }
    val fs = fsFor(spark, path)
    val missingData = target.files.filterNot(f =>
      fs.exists(new HPath(fileAbs(path, target, f))))
    val missingDv = target.dvs.values.map(_.file)
      .filterNot(d => fs.exists(new HPath(fileAbs(path, target, d)))).toSeq
    require(missingData.isEmpty && missingDv.isEmpty,
      s"restore to v$version: vacuum already reclaimed " +
        s"${(missingData ++ missingDv).take(3).mkString(", ")} " +
        s"(${missingData.size + missingDv.size} path(s)); that version is gone")
    val blooms = target.blooms.filter { case (_, r) =>
      fs.exists(new HPath(fileAbs(path, target, r.file)))
    }
    commitManifest(spark, path, target.copy(version = cur.version + 1,
      operation = s"RESTORE v$version",
      // consumer watermarks and TAGS are table-level refs, not part of
      // the restored state: a restore must not resurrect the target
      // version's tag map (tags created since would silently vanish).
      // Likewise the vacuum FLOOR: the target's stale (lower) floor
      // would re-arm createTag/restore against versions a later vacuum
      // already reclaimed — the CURRENT floor carries through.
      streamBatch = cur.streamBatch, tags = cur.tags, branches = cur.branches,
      blooms = blooms,
      properties = target.properties -- Seq(VacuumFloorProp) ++
        cur.properties.view.filterKeys(_ == VacuumFloorProp).toMap))
  }

  /** In-place conversion: register an EXISTING (optionally
    * hive-partitioned) parquet directory as a snapshot table WITHOUT
    * moving or rewriting a byte — the onboarding move for a 100 TB
    * landing that must not be copied. Files enter the manifest as
    * external `@imp0/` refs rooted at the directory's PARENT, so the
    * directory name itself plays the txn-segment role every resolution
    * path already expects (partition segments parse, basePath lands on
    * the directory, vacuum's txn-scoped sweep can never touch the
    * imported bytes). `path` may BE `dataDir` (the log nests inside,
    * Delta-style in-place convert) or a separate location (catalog
    * table over external data). Footer stats are collected at import
    * (distributed above the usual threshold), so pruning works from
    * the first query; subsequent DML/OPTIMIZE/vacuum behave exactly as
    * on a native table, progressively localizing rewritten files.
    */
  def importParquet(spark: SparkSession, dataDir: String, path: String,
                    partitionCols: Seq[String] = Nil): Long = {
    require(latestVersion(spark, path).isEmpty, s"snapshot table already exists: $path")
    val fs = fsFor(spark, dataDir)
    val qDir = fs.makeQualified(new HPath(dataDir))
    require(fs.exists(qDir), s"importParquet: no such directory: $dataDir")
    require(qDir.getParent != null, s"importParquet: cannot import a filesystem root")
    require(fs.getUri == fsFor(spark, path).getUri,
      s"importParquet: data directory and table root must share one filesystem " +
        s"(${fs.getUri} vs ${fsFor(spark, path).getUri})")
    val parent = qDir.getParent.toString
    val dirName = qDir.getName
    // schema exactly as spark.read infers it (partition columns typed
    // by directory inference); the read path casts to this schema, so
    // inference drift can never retype a column later
    val df = spark.read.parquet(qDir.toString)
    partitionCols.foreach(c => require(df.schema.fieldNames.contains(c),
      s"importParquet: partition column $c not found (inferred: " +
        s"${df.schema.fieldNames.mkString(", ")})"))
    val rels = listParquetRecursive(fs, qDir).map { p =>
      s"$dirName/${fs.makeQualified(p).toString.stripPrefix(qDir.toString + "/")}"
    }.sorted
    require(rels.nonEmpty, s"importParquet: no parquet files under $dataDir")
    val alias = "imp0"
    val stats = SnapshotStats.collect(spark, parent, rels, df.schema, partitionCols)
    commitManifest(spark, path, Manifest(1L, partitionCols, StructType(cleanFields(df.schema)).toDDL,
      rels.map(r => s"@$alias/$r"),
      stats.map { case (r, st) => s"@$alias/$r" -> st },
      operation = "IMPORT",
      externalRoots = Map(alias -> parent)))
  }

  /** SHALLOW CLONE: a zero-copy fork of `srcPath` (at `version`,
    * default latest) into a NEW table at `dstPath`. The clone's first
    * manifest references the source's live data files — plus its
    * deletion vectors and bloom sidecars — as external `@alias/` refs
    * resolved through [[Manifest.externalRoots]]; no data is read or
    * copied, the commit is O(manifest) at any table size. From then on
    * the tables diverge freely: the clone's own writes land under its
    * root, DML rewrites/vectors only what it touches, OPTIMIZE
    * progressively localizes external refs, and VACUUM on the clone
    * sweeps only the clone's root — it can never reclaim source bytes.
    * The one shallow-clone contract (inherent to the shape): vacuuming
    * the SOURCE can reclaim files a clone still references; compact a
    * clone local (bare OPTIMIZE) before retiring its source.
    *
    * Chained clones flatten: cloning a clone re-aliases the parent's
    * external roots directly into the new manifest, so ref resolution
    * never chases a chain.
    */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
                   version: Option[Long] = None): Long = {
    require(latestVersion(spark, dstPath).isEmpty,
      s"shallowClone: destination already exists: $dstPath")
    val src = version match {
      case Some(v) => manifest(spark, srcPath, v)
      case None => latestManifest(spark, srcPath).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $srcPath"))
    }
    val qSrc = fsFor(spark, srcPath).makeQualified(new HPath(srcPath)).toString
    require(fsFor(spark, dstPath).makeQualified(new HPath(dstPath)).toString != qSrc,
      "shallowClone: source and destination are the same table")
    // external refs are opened with the CLONE's filesystem — a source
    // on another scheme/authority would fail every later read with
    // Hadoop's "Wrong FS"; refuse at fork time instead
    val dstFsUri = fsFor(spark, dstPath).getUri
    def sameFs(root: String): Boolean = {
      val u = new HPath(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration).getUri
      u == dstFsUri
    }
    require(sameFs(srcPath) && src.externalRoots.values.forall(sameFs),
      s"shallowClone: source and destination must share one filesystem " +
        s"(destination is $dstFsUri) — deep-copy across filesystems instead")
    // dense alias table: the source root itself plus any roots the
    // source (itself a clone) already references
    val roots = qSrc +: src.externalRoots.values.toSeq.distinct.filterNot(_ == qSrc)
    val aliasOf: Map[String, String] =
      roots.zipWithIndex.map { case (r, i) => r -> s"r$i" }.toMap
    def remap(f: String): String = {
      val (root, rel) = fileRootRel(qSrc, src, f)
      s"@${aliasOf(root)}/$rel"
    }
    commitManifest(spark, dstPath, Manifest(
      version = 1L,
      partitionCols = src.partitionCols,
      schemaDdl = src.schemaDdl,
      files = src.files.map(remap),
      stats = src.stats.map { case (f, st) => remap(f) -> st },
      dvs = src.dvs.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
      blooms = src.blooms.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
      colMap = src.colMap,
      retired = src.retired,
      constraints = src.constraints,
      generatedCols = src.generatedCols,
      operation = s"CLONE v${src.version}",
      clusterBy = src.clusterBy,
      // the source's vacuum FLOOR is about the SOURCE's reclaimed log;
      // the clone's fresh log has reclaimed nothing
      properties = src.properties -- Seq(VacuumFloorProp),
      colNdv = src.colNdv, // same rows, same distinctness
      colHist = src.colHist,
      colDefault = src.colDefault,
      colExistsDefault = src.colExistsDefault, // same files predate the same adds
      externalRoots = aliasOf.map(_.swap)))
  }

  /** DEEP CLONE: MATERIALIZE `srcPath` at `version` (default latest)
    * into a new table at `dstPath` — every referenced data file,
    * deletion vector and bloom sidecar is byte-copied (one distributed
    * copy job, no decode/re-encode) and the first manifest references
    * only LOCAL paths. This is the escape hatch that makes a pinned
    * version durable against the source's lifecycle: a SHALLOW clone
    * (and a tag) dies when a source vacuum reclaims the files it
    * references; a deep clone owns its bytes. Byte-copy (vs rewrite)
    * keeps footer stats, vectors and bloom refs valid verbatim — the
    * clone prunes exactly like the source did, with zero recompute.
    *
    * At 100 TB the copy is the cost and it is embarrassingly parallel:
    * one task per file, no shuffle, no driver data path. Consumer
    * watermarks and tags do not carry (the clone's history starts
    * fresh), matching [[shallowClone]].
    */
  def deepClone(spark: SparkSession, srcPath: String, dstPath: String,
                version: Option[Long] = None): Long = {
    require(latestVersion(spark, dstPath).isEmpty,
      s"deepClone: destination already exists: $dstPath")
    val src = version match {
      case Some(v) => manifest(spark, srcPath, v)
      case None => latestManifest(spark, srcPath).getOrElse(
        throw new IllegalArgumentException(s"not a snapshot table: $srcPath"))
    }
    val qSrc = fsFor(spark, srcPath).makeQualified(new HPath(srcPath)).toString
    val qDst = fsFor(spark, dstPath).makeQualified(new HPath(dstPath)).toString
    require(qDst != qSrc, "deepClone: source and destination are the same table")
    val entries = (src.files ++ src.dvs.values.map(_.file) ++
      src.blooms.values.map(_.file)).distinct
    // destination layout mirrors the source's RELATIVE shape: the first
    // segment plays the txn-dir role (or `_dv/<commit>` / `_bloom/
    // <commit>` for sidecars), so reads, partition parsing and vacuum
    // sweeps work on the clone unchanged. A clone can draw the same
    // base-dir name from two different roots (a clone of clones); the
    // later group gets a uniquified name — safe, the segment is opaque.
    def baseOf(rel: String): String = {
      val segs = rel.split('/')
      if (segs.head == "_dv" || segs.head == "_bloom") segs.take(2).mkString("/")
      else segs.head
    }
    val groupKeys = entries.map { f =>
      val (r, rel) = fileRootRel(srcPath, src, f); (r, baseOf(rel))
    }.distinct.sorted
    val used = scala.collection.mutable.Set.empty[String]
    val baseMap: Map[(String, String), String] = groupKeys.map { case k @ (_, base) =>
      val cut = base.lastIndexOf('/') + 1
      val (pre, name) = (base.take(cut), base.drop(cut))
      val cand =
        if (!used.contains(base)) base
        else Iterator.from(1).map(i => s"${pre}dc$i-$name").find(!used.contains(_)).get
      used += cand
      k -> cand
    }.toMap
    def remap(f: String): String = {
      val (r, rel) = fileRootRel(srcPath, src, f)
      val base = baseOf(rel)
      baseMap((r, base)) + rel.drop(base.length)
    }
    val pairs = entries.map { f =>
      val (r, rel) = fileRootRel(srcPath, src, f)
      (s"$r/$rel", s"$qDst/${remap(f)}")
    }
    if (pairs.nonEmpty) {
      val conf = org.apache.spark.graftbridge.ConfBridge.serializable(
        spark.sparkContext.hadoopConfiguration)
      val slices = math.min(pairs.size, math.max(1, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(pairs, slices).foreach { case (s0, d0) =>
        val c = conf.value
        val sp = new HPath(s0)
        val dp = new HPath(d0)
        val ok = org.apache.hadoop.fs.FileUtil.copy(
          sp.getFileSystem(c), sp, dp.getFileSystem(c), dp,
          false /*deleteSource*/, true /*overwrite*/, c)
        if (!ok) throw new java.io.IOException(s"deepClone: copy failed: $s0 -> $d0")
      }
    }
    commitManifest(spark, dstPath, Manifest(
      version = 1L,
      partitionCols = src.partitionCols,
      schemaDdl = src.schemaDdl,
      files = src.files.map(remap),
      stats = src.stats.map { case (f, st) => remap(f) -> st }, // same bytes, same stats
      dvs = src.dvs.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
      blooms = src.blooms.map { case (f, r) => remap(f) -> r.copy(file = remap(r.file)) },
      colMap = src.colMap,
      retired = src.retired,
      constraints = src.constraints,
      generatedCols = src.generatedCols,
      operation = s"DEEP CLONE v${src.version}",
      clusterBy = src.clusterBy,
      properties = src.properties -- Seq(VacuumFloorProp), // fresh log, no floor

      colNdv = src.colNdv,
      colHist = src.colHist,
      colDefault = src.colDefault,
      colExistsDefault = src.colExistsDefault))
  }

  /** One-row table detail — the `DESCRIBE DETAIL` surface: current
    * version and commit time, live file/row/byte totals (row counts
    * are DV-exact: recorded rows minus vectored positions), partition
    * layout, and the metadata state (deletion vectors, bloom index,
    * column mapping, constraints) an operator needs before choosing a
    * maintenance action. Pure manifest math — no data files open.
    */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    val m = latestManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    // a file without recorded stats makes the totals unknowable —
    // answer NULL, never a silent undercount
    val complete = m.files.forall(m.stats.contains)
    val rows: java.lang.Long =
      if (!complete) null
      else Long.box(m.files.map(m.stats(_).rows).sum - m.dvs.values.map(_.rows).sum)
    val bytes: java.lang.Long =
      if (!complete || m.files.exists(m.stats(_).bytes <= 0L)) null
      else Long.box(m.files.map(m.stats(_).bytes).sum)
    import spark.implicits._
    Seq((m.version, m.committedAtMicros, m.files.size.toLong, rows, bytes,
      m.partitionCols.mkString(","), m.dvs.size.toLong, m.dvs.values.map(_.rows).sum,
      m.blooms.size.toLong,
      m.colMap.toSeq.sorted.map { case (l, p) => s"$l->$p" }.mkString(","),
      m.constraints.toSeq.sorted.map { case (n, p) => s"$n: $p" }.mkString("; "),
      m.generatedCols.toSeq.sorted.map { case (c, g) => s"$c: $g" }.mkString("; "),
      m.clusterBy.mkString(","),
      m.properties.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("; "),
      // external state: num_external_files is the LATEST manifest's
      // count; external_roots lists roots referenced by ANY retained
      // manifest — time travel and RESTORE keep old versions readable,
      // so a source is retire-safe only when THIS is empty (OPTIMIZE
      // FULL localizes the latest; a VACUUM that drops the pre-FULL
      // manifests severs the rest)
      m.files.count(_.startsWith("@")).toLong,
      versions(spark, path).flatMap { v =>
        val mv = manifest(spark, path, v)
        (mv.files ++ mv.dvs.values.map(_.file) ++ mv.blooms.values.map(_.file))
          .filter(_.startsWith("@"))
          .map(f => f.substring(1, f.indexOf('/'))).distinct
          .flatMap(mv.externalRoots.get)
      }.distinct.sorted.mkString("; "),
      m.tags.toSeq.sortBy(_._1).map { case (n, v) => s"$n=v$v" }.mkString("; "),
      m.colNdv.toSeq.sortBy(_._1).map { case (c, n) => s"$c=$n" }.mkString("; "),
      m.branches.toSeq.sortBy(_._1).map { case (n, v) => s"$n@v$v" }.mkString("; ")))
      .toDF("version", "committed_at_micros", "num_files", "num_rows", "size_bytes",
        "partition_cols", "num_deletion_vectors", "deletion_vector_rows",
        "num_bloom_files", "column_mapping", "constraints", "generated_cols",
        "cluster_by", "properties", "num_external_files", "external_roots", "tags",
        "column_ndv", "branches")
  }

  /** Reclaim space: drop all but the newest `keepVersions` manifests and
    * delete data files referenced by NO retained manifest. Uncommitted
    * txn files (a crashed writer's orphans) are deleted only when older
    * than `orphanGraceMs` — an in-flight writer's files are never
    * touched. After vacuum, reads pinned to dropped versions break;
    * callers declare that trade by calling this.
    *
    * `retainMicros` is the AGE-based retention production maintenance
    * policies actually state ("retain 7 days"): every version whose
    * manifest commit timestamp falls inside the horizon survives — on
    * top of the newest `keepVersions`, never instead of them — so
    * timestamp time travel and lagging stream readers keep everything
    * younger than the horizon. The kept set is always a contiguous
    * tail of the log (commit stamps are monotone under the
    * single-committer-per-version protocol; an unstamped legacy
    * manifest counts as outside the horizon).
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2,
             orphanGraceMs: Long = 3600L * 1000,
             retainMicros: Option[Long] = None,
             dryRun: Boolean = false): Seq[String] = {
    requireNotInGroup("vacuum")
    val fs = fsFor(spark, path)
    val vs = versions(spark, path)
    if (vs.isEmpty) return Nil
    val countCut = math.max(0, vs.size - math.max(1, keepVersions))
    val cutIdx = retainMicros match {
      case None => countCut
      case Some(ret) =>
        val horizon = System.currentTimeMillis() * 1000L - ret
        val byAge = vs.indexWhere(v =>
          manifest(spark, path, v).committedAtMicros >= horizon) match {
          case -1 => vs.size - 1 // nothing inside the horizon: the latest survives
          case i => i
        }
        math.min(byAge, countCut)
    }
    // TAGGED versions are retained ISLANDS: a tag is a durability pin
    // (the reproducible-dataset contract of createTag), so no retention
    // rule — count or age — may reclaim a tagged version until its tag
    // is dropped. The tag map lives on the LATEST manifest. BRANCH BASE
    // versions pin the same way: a live branch's shallow fork references
    // exactly its base version's files, so the base stays an island
    // until the branch merges or drops.
    def pins(m: Manifest): Set[Long] = m.tags.values.toSet ++ m.branches.values.toSet
    def splitByTags(tagged: Set[Long]): (Seq[Long], Seq[Long]) = {
      val (cutDead, keptSuffix) = vs.splitAt(cutIdx)
      val (taggedIslands, dead) = cutDead.partition(tagged)
      (taggedIslands ++ keptSuffix, dead) // both ascending, islands first
    }
    var (kept, dead) = splitByTags(pins(manifest(spark, path, vs.last)))
    // before deleting ANYTHING, publish the reclaim FLOOR through the
    // optimistic commit protocol: a CREATE TAG racing this vacuum either
    // commits first (this commit conflicts -> re-read the tag map and
    // recompute the split, so the new pin is honoured) or commits after
    // (createTag sees the floor and refuses to pin below it). Without
    // the arbitration a tag could land on a version mid-deletion and
    // dangle forever.
    if (dead.nonEmpty && !dryRun) {
      var attempts = 0
      var committed = false
      while (!committed && dead.nonEmpty) {
        val latest = latestManifest(spark, path).getOrElse(return Nil)
        val s = splitByTags(pins(latest))
        kept = s._1; dead = s._2
        if (dead.nonEmpty) {
          // the floor is the CONTIGUOUS suffix's head — dead versions
          // can sit between tagged islands, so "oldest kept" would lie:
          // below the floor only TAGGED versions are reliably retained,
          // which is exactly the rule createTag enforces
          val floor = vs(cutIdx)
          try {
            commitManifest(spark, path, latest.copy(version = latest.version + 1,
              operation = s"VACUUM floor v$floor",
              properties = latest.properties + ("graft.vacuum.floor" -> floor.toString)))
            committed = true
          } catch {
            case _: CommitConflictException =>
              attempts += 1
              require(attempts <= 10, "vacuum: could not publish the reclaim floor " +
                "after 10 attempts (heavy concurrent commit traffic); retry later")
          }
        }
      }
      if (dead.isEmpty) return Nil // concurrent tags pinned everything
      faultHook("vacuum-floor-committed") // injection seam: the race window
    }
    val keptManifests = kept.map(manifest(spark, path, _))
    val live = keptManifests.flatMap(_.files).toSet
    val now = System.currentTimeMillis()
    val root = fs.makeQualified(new HPath(path)).toString
    // DRY RUN: record every path the real pass would delete, delete
    // nothing, stage no checkpoint — the operator's pre-flight answer
    // to "what will this reclaim?"
    val reclaimed = Seq.newBuilder[String]
    def rel(p: HPath): String = fs.makeQualified(p).toString.drop(root.length + 1)
    def reap(p: HPath, recursive: Boolean): Unit = {
      reclaimed += rel(p)
      if (!dryRun) fs.delete(p, recursive)
    }
    fs.listStatus(new HPath(path)).filter(s => s.isDirectory && s.getPath.getName.startsWith("txn-"))
      .foreach { txn =>
        val files = listParquetRecursive(fs, txn.getPath)
        val dead0 = files.filter { f =>
          !live.contains(rel(f)) &&
            now - fs.getFileStatus(f).getModificationTime > orphanGraceMs
        }
        dead0.foreach(reap(_, recursive = false))
        // prune txn dirs (and partition dirs) emptied of data files
        if (files.size == dead0.size &&
            now - txn.getModificationTime > orphanGraceMs)
          reap(txn.getPath, recursive = true)
      }
    // deletion-vector commit dirs referenced by NO retained manifest
    // (superseded vectors, folded-away vectors, a crashed delete's
    // orphans) reclaim like data files, past the same grace window
    val liveDv = keptManifests.flatMap(_.dvs.values
      .map(_.file.split('/').take(2).mkString("/"))).toSet
    val dvRoot = new HPath(path, "_dv")
    if (fs.exists(dvRoot))
      fs.listStatus(dvRoot).filter(_.isDirectory).foreach { d =>
        if (!liveDv.contains(s"_dv/${d.getPath.getName}") &&
            now - d.getModificationTime > orphanGraceMs)
          reap(d.getPath, recursive = true)
      }
    // bloom sidecar commit dirs reclaim exactly like DV dirs: a dir
    // referenced by no retained manifest (superseded index, refs
    // dropped with their rewritten files) goes past the grace window
    val liveBloom = keptManifests.flatMap(_.blooms.values
      .map(_.file.split('/').take(2).mkString("/"))).toSet
    val bloomRoot = new HPath(path, "_bloom")
    if (fs.exists(bloomRoot))
      fs.listStatus(bloomRoot).filter(_.isDirectory).foreach { d =>
        if (!liveBloom.contains(s"_bloom/${d.getPath.getName}") &&
            now - d.getModificationTime > orphanGraceMs)
          reap(d.getPath, recursive = true)
      }
    // every KEPT version must reconstruct without the chain being
    // dropped: a delta needs its base, recursively, down to a full
    // form. Kept versions whose whole chain is kept are safe; any kept
    // version whose chain would cross a DEAD version (the oldest of the
    // retained suffix, and each TAGGED ISLAND stranded between dead
    // versions) gets a full checkpoint staged+renamed BEFORE any
    // manifest deletion — a crash between the two leaves both forms
    // present, which is merely redundant. Processing ascending keeps
    // the invariant "every already-processed kept version is safe", so
    // one base hop decides each version.
    if (dead.nonEmpty && !dryRun) {
      val mapper = new ObjectMapper()
      val keptSet = kept.toSet
      def baseOf(v: Long): Option[Long] = {
        val in = fs.open(manifestPath(path, v))
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        val root = mapper.readTree(bytes)
        if (root.has("base")) Some(root.get("base").asLong()) else None
      }
      kept.zip(keptManifests).foreach { case (v, full) =>
        val ck = ckptPath(path, v)
        val safe = fs.exists(ck) || (baseOf(v) match {
          case None => true // full manifest form: self-contained
          case Some(b) => keptSet.contains(b) // kept base, already made safe
        })
        if (!safe) {
          val tmp = new HPath(new HPath(path, LogDirName),
            s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
          val out = fs.create(tmp, false)
          try out.write(mapper.writerWithDefaultPrettyPrinter()
            .writeValueAsBytes(fullNode(mapper, full, full.committedAtMicros)))
          finally out.close()
          if (!fs.rename(tmp, ck)) { fs.delete(tmp, true) }
        }
      }
    }
    dead.foreach { v =>
      Seq(manifestPath(path, v), ckptPath(path, v))
        .filter(fs.exists).foreach(reap(_, recursive = false))
    }
    // a crashed writer can also strand a staged manifest (.tmp-*);
    // invisible to readers, but reclaim it past the grace window
    val log = new HPath(path, LogDirName)
    fs.listStatus(log)
      .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp-") &&
        now - s.getModificationTime > orphanGraceMs)
      .foreach(s => reap(s.getPath, recursive = false))
    // staged commit-group manifests resolve on the same sweep: a
    // committed group rolls forward, an aborted/expired one frees its
    // slot (resolveGroupSlot applies the group's own grace window)
    if (!dryRun)
      fs.listStatus(log).map(_.getPath.getName)
        .collect { case GrpManifestName(n) => n.toLong }
        .foreach(v => resolveGroupSlot(spark, fs, path, v))
    reclaimed.result()
  }
}
