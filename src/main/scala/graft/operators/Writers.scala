package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Load/overwrite/merge semantics (SURVEY.md §2.2).
  *
  * The reference's three write patterns:
  *  - K1 schema'd partitioned append (consumo_detalle.py:257-310)
  *  - K2 delete-and-replace of a trailing window — the idempotent
  *    re-ingest that substitutes for streaming (consumo_detalle.py:317-340,
  *    audio_digital.py:462-506)
  *  - K3 MERGE upsert by id via a staging table (funnel_live.py:106-174)
  *
  * On parquet (no lakehouse format), K2 maps to dynamic partition
  * overwrite and K3 to anti-join + union + rewrite of affected
  * partitions.
  */
object Writers {

  /** K1: partitioned append; `clusterBy` approximates BigQuery clustering
    * with a sort within each file (data-skipping via parquet min/max).
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCol: String, clusterBy: Seq[String] = Nil): Unit = {
    val sorted =
      if (clusterBy.isEmpty) df
      else df.repartition(col(partitionCol)).sortWithinPartitions(partitionCol, clusterBy: _*)
    if (Snapshot.isSnapshotTable(df.sparkSession, path)) {
      Snapshot.append(df.sparkSession, path, sorted); return
    }
    sorted.write.mode("append").partitionBy(partitionCol).parquet(path)
  }

  /** K2: idempotent delete-and-replace. Only partitions present in `df`
    * are rewritten (dynamic partition overwrite); everything older stays.
    * Caller pre-filters `df` to the replacement window, mirroring
    * `DELETE WHERE fecha >= cutoff` + re-load of `dias_remplazo` days.
    */
  def replaceWindow(df: DataFrame, path: String, partitionCol: String): Unit =
    replaceWindow(df, path, Seq(partitionCol))

  /** K2 multi-column variant: partitions are (fecha, periodo, ...) tuples
    * and only the tuples present in `df` are rewritten — the layout the
    * per-periodo dual delete (consumo_usuarios.py:264-272,
    * consumo_bloques_hora.py:30-67) needs, where daily rows replace from
    * a trailing cutoff but monthly rows from the month start.
    */
  def replaceWindow(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    if (Snapshot.isSnapshotTable(df.sparkSession, path)) {
      // atomic form: partitions present in df swap their file sets in
      // one manifest commit — no crash window between delete and rewrite
      Snapshot.replacePartitions(df.sparkSession, path, df, dropOld = _ => false)
      return
    }
    // per-write option, NOT a session-conf mutate/restore: concurrent
    // jobs sharing the session must not observe each other's overwrite
    // mode mid-write
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** K2's per-periodo asymmetric delete (consumo_usuarios.py:264-272,
    * consumo_bloques_hora.py:30-67): one table holds rows at several
    * grains distinguished by `periodoCol`; on re-ingest, daily/hourly
    * rows are deleted from the trailing `cutoff`, but mensual rows from
    * the START of cutoff's month — month-to-date rows are recomputed
    * whole. Pure dataflow (kept ∪ replacement) so it composes and
    * oracle-verifies; `replacePeriodWindowWrite` persists it.
    *
    * Note dynamic partition overwrite alone can NOT express this: a day
    * whose re-extract came back empty must still be deleted, and the
    * mensual delete bound differs from the daily one.
    */
  def replacePeriodWindow(existing: DataFrame, replacement: DataFrame,
                          fechaCol: String, periodoCol: String,
                          cutoff: Column, mensualLabel: String = "mensual"): DataFrame = {
    val doomed = doomedPredicate(col(fechaCol), col(periodoCol), cutoff, mensualLabel)
    // coalesce: a NULL fecha/periodo must survive like SQL DELETE's
    // three-valued WHERE (null predicate = not deleted), not be dropped
    existing.where(!coalesce(doomed, lit(false))).unionByName(replacement)
  }

  /** The dual-window DELETE predicate, shared between the pure dataflow
    * (row-level filter) and the persisted writer (evaluated on partition
    * VALUES — sound because it reads nothing but fecha/periodo, which are
    * exactly the physical partition columns).
    */
  private def doomedPredicate(fecha: Column, periodo: Column,
                              cutoff: Column, mensualLabel: String): Column =
    when(periodo === mensualLabel, fecha >= date_trunc("month", cutoff))
      .otherwise(fecha >= cutoff)

  /** Persisting the dual-window replace, restricted to the partitions the
    * replace window dooms. The table is PHYSICALLY partitioned on
    * (periodo, fecha) and the doomed predicate is a pure function of
    * those two columns, so whole partitions live or die — no row-level
    * rewrite is ever needed:
    *
    *  1. enumerate existing (periodo, fecha) partition tuples from the
    *     driver-side directory listing (a metadata op, O(#partitions));
    *  2. evaluate the SAME doomed predicate on those tuples (cast to the
    *     replacement's declared types, so string/date/timestamp fechas
    *     compare exactly as the row-level filter would);
    *  3. delete the doomed partitions the replacement writes NO rows for
    *     (the empty-re-extract case dynamic overwrite cannot express —
    *     same move as Fetch.windowKeyedSink);
    *  4. dynamic-partition-overwrite the replacement.
    *
    * Partitions outside the replace window are never listed beyond their
    * names, never read, and never rewritten — at 100 TB an hourly rerun
    * touches only the trailing window + current month, not the table.
    * Idempotent: a rerun with the same replacement overwrites the same
    * partitions to the same bytes and re-deletes nothing.
    *
    * Not atomic across partitions (plain filesystems): a crash between
    * steps 3 and 4 leaves already-doomed partitions deleted and
    * to-be-overwritten ones stale until the rerun completes. Each
    * partition individually swaps atomically-enough via the parquet
    * committer; use a lakehouse format where readers need a table-level
    * snapshot.
    *
    * A pre-existing table NOT in (periodo, fecha) hive layout (e.g. a
    * legacy unpartitioned dump) is migrated once through the full
    * read-filter-`stagedSwap` path and is partition-restricted from then
    * on.
    */
  def replacePeriodWindowWrite(spark: SparkSession, path: String, replacement: DataFrame,
                               fechaCol: String, periodoCol: String,
                               cutoff: Column, mensualLabel: String = "mensual"): Unit = {
    // resolve the FS from the path: with tables on an object store and a
    // different default FS (the normal cluster layout), FileSystem.get
    // would exists/rename against the WRONG filesystem
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partCols = Seq(periodoCol, fechaCol)
    if (Snapshot.isSnapshotTable(spark, path)) {
      // snapshot route: the dual-window delete + overwrite collapses to
      // ONE atomic manifest commit (dropOld = the doomed predicate over
      // the live partition tuples) — no crash window at all
      val m = Snapshot.latestManifest(spark, path).get
      require(m.partitionCols == partCols,
        s"snapshot table is partitioned by ${m.partitionCols}, expected $partCols")
      import spark.implicits._
      val pT = replacement.schema(periodoCol).dataType
      val fT = replacement.schema(fechaCol).dataType
      val tuples = m.files.map(Snapshot.partitionValues(m.partitionCols, _))
        .map(pv => (pv(periodoCol), pv(fechaCol))).distinct
      // null tuples can never be doomed (three-valued DELETE semantics)
      val named = tuples.filterNot { case (p, f) =>
        p == nullPartitionName || f == nullPartitionName }
      val doomed: Set[(String, String)] = if (named.isEmpty) Set.empty else {
        named.toDF("p_raw", "f_raw")
          .withColumn("p_val", col("p_raw").cast(pT))
          .withColumn("f_val", col("f_raw").cast(fT))
          .where(coalesce(
            doomedPredicate(col("f_val"), col("p_val"), cutoff, mensualLabel), lit(false)))
          .select("p_raw", "f_raw").as[(String, String)].collect().toSet
      }
      Snapshot.replacePartitions(spark, path, replacement,
        dropOld = pv => doomed.contains((pv(periodoCol), pv(fechaCol))))
      return
    }
    if (!fs.exists(target)) {
      replacement.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
      return
    }
    val topDirs = fs.listStatus(target).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    if (!topDirs.exists(_.startsWith(s"$periodoCol="))) {
      // legacy layout: one-time migration through the staged full rewrite
      // (partition-column type inference on read-back may retype the
      // partition columns; align them to the replacement's declared types
      // so the doomed filter and the union see the caller's schema)
      val existing = partCols.foldLeft(spark.read.parquet(path)) {
        (df, c) => df.withColumn(c, col(c).cast(replacement.schema(c).dataType))
      }
      val merged = replacePeriodWindow(existing, replacement,
        fechaCol, periodoCol, cutoff, mensualLabel)
      stagedSwap(fs, path, merged, partCols)
      return
    }
    // (1) existing partition tuples, as the RAW escaped dir names (reused
    // verbatim for deletion — never re-escaped) plus unescaped values
    val tuples: Seq[(String, String, String, String)] = for {
      pDir <- topDirs.toSeq if pDir.startsWith(s"$periodoCol=")
      fStat <- fs.listStatus(new org.apache.hadoop.fs.Path(target, pDir)).toSeq
      if fStat.isDirectory
      fDir = fStat.getPath.getName if fDir.startsWith(s"$fechaCol=")
    } yield (pDir, fDir,
      unescapePathName(pDir.substring(periodoCol.length + 1)),
      unescapePathName(fDir.substring(fechaCol.length + 1)))
    // a __HIVE_DEFAULT_PARTITION__ (null) tuple can never be doomed: the
    // predicate is three-valued null there, which the dataflow keeps
    val named = tuples.filterNot { case (_, _, p, f) =>
      p == nullPartitionName || f == nullPartitionName }
    // (2)+(3) doomed tuples with no replacement rows → explicit delete.
    // Membership is decided by a typed anti-join (null-safe equality on
    // the CAST values), not by string-comparing dir names against
    // formatted values — immune to formatting drift between the hive
    // path encoding and Spark's cast-to-string
    if (named.nonEmpty) {
      import spark.implicits._
      val pT = replacement.schema(periodoCol).dataType
      val fT = replacement.schema(fechaCol).dataType
      val tupleDf = named.toDF("p_dir", "f_dir", "p_raw", "f_raw")
        .withColumn("p_val", col("p_raw").cast(pT))
        .withColumn("f_val", col("f_raw").cast(fT))
      val doomedDf = tupleDf.where(coalesce(
        doomedPredicate(col("f_val"), col("p_val"), cutoff, mensualLabel), lit(false)))
      // one extra pass over the replacement (bounded by the replace
      // window, not the table) — the same price mergeByIdWritePartitioned
      // pays to learn its affected partitions
      val replParts = replacement
        .select(col(periodoCol).cast(pT).as("p_val"), col(fechaCol).cast(fT).as("f_val"))
        .distinct()
      val toDelete = doomedDf
        .join(replParts, doomedDf("p_val") <=> replParts("p_val") &&
          doomedDf("f_val") <=> replParts("f_val"), "left_anti")
        .select("p_dir", "f_dir").as[(String, String)].collect()
      toDelete.foreach { case (pDir, fDir) =>
        val dead = new org.apache.hadoop.fs.Path(target, s"$pDir/$fDir")
        fs.delete(dead, true)
        // drop a periodo dir left childless so partition discovery never
        // sees an empty intermediate level
        val parent = new org.apache.hadoop.fs.Path(target, pDir)
        if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, true)
      }
    }
    // (4) rewrite exactly the partitions the replacement has rows for
    replaceWindow(replacement, path, partCols)
  }

  private val nullPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Inverse of Hive's partition-path escaping (%XX hex sequences), so
    * directory names round-trip to comparable values. Local, dependency-
    * free equivalent of Spark's internal ExternalCatalogUtils helper.
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Write `df` to a staging dir (partitioned when `partitionCols` is
    * non-empty), then swap it into `path` via rename-aside / rename-in /
    * delete-aside. Not atomic (plain filesystems have no multi-path
    * transactions): a crash at any point leaves a complete table at
    * `path` or at `path__old` — never nothing — but concurrent READERS
    * can observe a brief window between the two renames where `path`
    * does not exist and must retry (or the table must live in a
    * lakehouse format with snapshot isolation).
    */
  private def stagedSwap(fs: org.apache.hadoop.fs.FileSystem, path: String, df: DataFrame,
                         partitionCols: Seq[String] = Nil): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(path + "__staging")
    val aside = new org.apache.hadoop.fs.Path(path + "__old")
    val w = df.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staged.toString)
    if (fs.exists(aside)) fs.delete(aside, true)
    val hadTarget = fs.exists(target)
    // Hadoop rename reports failure by RETURNING FALSE, not throwing —
    // every result must be checked or a failed swap would fall through
    // to delete the last complete copy
    if (hadTarget && !fs.rename(target, aside))
      throw new java.io.IOException(s"stagedSwap: could not move $target aside")
    if (!fs.rename(staged, target)) {
      if (hadTarget) fs.rename(aside, target) // best-effort restore
      throw new java.io.IOException(s"stagedSwap: could not move staging into $target")
    }
    if (hadTarget) fs.delete(aside, true)
  }

  /** K3: MERGE-by-id without a lakehouse format:
    * kept = target rows whose id is NOT in updates (anti join);
    * result = kept ∪ updates. Pure-DataFrame version for composition and
    * tests; `mergeByIdWrite` persists it.
    */
  def mergeById(target: DataFrame, updates: DataFrame, idCol: String): DataFrame =
    target.join(updates.select(idCol).distinct(), Seq(idCol), "left_anti")
      .unionByName(updates)

  /** Persisting K3: stage to a temp dir, then swap — a plain overwrite of
    * `path` would delete the inputs of its own read at plan time. The
    * swap is rename-aside / rename-in / delete-aside: not atomic (plain
    * filesystems have no multi-path transactions), but a crash at any
    * point leaves a complete table at `path` or at `path__old` — never
    * nothing. At 100 TB one would restrict the rewrite to affected
    * partitions; semantics identical.
    */
  def mergeByIdWrite(spark: SparkSession, path: String, updates: DataFrame, idCol: String): Unit = {
    if (Snapshot.isSnapshotTable(spark, path)) {
      // snapshot route: read the pinned live set (immutable files — no
      // read-own-overwrite hazard), commit the merge as one new version
      Snapshot.overwrite(spark, path, mergeById(Snapshot.read(spark, path), updates, idCol))
      return
    }
    // resolve the FS from the path: with tables on an object store and a
    // different default FS (the normal cluster layout), FileSystem.get
    // would exists/rename against the WRONG filesystem
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(target)) mergeById(spark.read.parquet(path), updates, idCol)
      else updates
    stagedSwap(fs, path, merged)
  }

  /** K3 at scale: merge-by-id restricted to the partitions the updates
    * touch. Valid when the id embeds its partition — the reference's
    * synthesized ids do (soporte + date + periodo + vip,
    * audio_digital.py:245-255; funnel_emisor.py:190-191) — so a matching
    * target row can only live in a partition present in `updates`. Only
    * those partitions are read, merged and dynamically overwritten; the
    * rest of the table is never opened, which is what makes MERGE usable
    * on a 100 TB table with a bounded replace window.
    *
    * FAILURE MODE if the precondition is violated: an update row whose
    * id already exists in the target under a DIFFERENT partition value
    * leaves BOTH rows in the table (the old partition is never opened,
    * so its copy survives the anti-join). That is the id-embeds-
    * partition contract, not a bug this writer can cheaply detect at
    * scale — checking would mean scanning every unaffected partition,
    * exactly the cost this writer exists to avoid. Set
    * `assertIdsLocal = true` in tests/backfills to pay that scan and
    * fail loudly instead.
    *
    * The affected slice is materialized ([[Materialize]]) before the
    * overwrite (you cannot lazily read the files you are replacing); it
    * is bounded by the update window, not the table.
    */
  def mergeByIdWritePartitioned(spark: SparkSession, path: String, updates: DataFrame,
                                idCol: String, partitionCol: String,
                                assertIdsLocal: Boolean = false): Unit = {
    if (Snapshot.isSnapshotTable(spark, path)) {
      Snapshot.mergeById(spark, path, updates, idCol, partitionCol, assertIdsLocal)
      return
    }
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      updates.write.partitionBy(partitionCol).parquet(path)
    } else {
      val parts = updates.select(partitionCol).distinct().collect().map(_.get(0))
      // three-valued isin: a NULL partition value yields NULL (not
      // true), so both the affected read AND the stray scan need a
      // null-safe membership predicate — with naive isin, a merge into
      // the null partition would read an EMPTY affected slice and the
      // dynamic overwrite would then delete that partition's kept rows
      val nonNull = parts.filter(_ != null)
      val nonNullIn = if (nonNull.isEmpty) lit(false)
                      else coalesce(col(partitionCol).isin(nonNull: _*), lit(false))
      val inParts = if (parts.length != nonNull.length) // updates touch the null partition
        nonNullIn || col(partitionCol).isNull
      else nonNullIn
      if (assertIdsLocal) {
        val strays = spark.read.parquet(path)
          .where(!inParts)
          .join(updates.select(idCol).distinct(), Seq(idCol), "left_semi")
          .limit(5).collect()
        require(strays.isEmpty,
          s"mergeByIdWritePartitioned: update ids exist in unaffected partitions " +
            s"(id does not embed $partitionCol); e.g. ${strays.mkString(", ")}")
      }
      val affected = spark.read.parquet(path).where(inParts)
      val merged = Materialize(mergeById(affected, updates, idCol)).df
      replaceWindow(merged, path, Seq(partitionCol))
    }
  }
}
