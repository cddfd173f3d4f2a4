package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Load/overwrite/merge semantics (SURVEY.md §2.2).
  *
  * The reference's three write patterns:
  *  - K1 schema'd partitioned append (consumo_detalle.py:257-310)
  *  - K2 delete-and-replace of a trailing window — the idempotent
  *    re-ingest that substitutes for streaming (consumo_detalle.py:317-340,
  *    audio_digital.py:462-506)
  *  - K3 MERGE upsert by id via a staging table (funnel_live.py:106-174)
  *
  * Every persisting writer here writes a snapshot table ([[Snapshot]]),
  * so each load, replace and merge is one atomic manifest commit, as
  * the reference's BigQuery jobs are. The first write to an absent path
  * creates the table ([[Snapshot.createIfAbsent]]); a plain parquet
  * directory is refused until [[Snapshot.importParquet]] registers it.
  * K2 maps to a partition-restricted file swap and K3 to anti-join +
  * union over the affected partitions. `mergeById` and
  * `replacePeriodWindow` are the pure-dataflow twins the persisted
  * forms are tested against.
  */
object Writers {

  /** The first-write step of the partitioned writers: create the table
    * if absent, then require it to be partitioned by exactly
    * `partitionCols` — a write keyed on other columns would replace
    * the wrong partitions. Returns the table's latest manifest.
    */
  private def partitionedTarget(spark: SparkSession, path: String, schema: StructType,
                                partitionCols: Seq[String]): Snapshot.Manifest = {
    Snapshot.createIfAbsent(spark, path, schema, partitionCols)
    val m = Snapshot.latest(spark, path)
    require(m.partitionCols == partitionCols,
      s"snapshot table $path is partitioned by ${m.partitionCols}, not $partitionCols")
    m
  }

  /** K1: partitioned append; `clusterBy` approximates BigQuery clustering
    * with a sort within each file (data-skipping via parquet min/max).
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCol: String, clusterBy: Seq[String] = Nil): Unit = {
    val sorted =
      if (clusterBy.isEmpty) df
      else df.repartition(col(partitionCol)).sortWithinPartitions(partitionCol, clusterBy: _*)
    partitionedTarget(df.sparkSession, path, df.schema, Seq(partitionCol))
    Snapshot.append(df.sparkSession, path, sorted)
  }

  /** K2: idempotent delete-and-replace. Only partitions present in `df`
    * are rewritten; everything older stays. Caller pre-filters `df` to
    * the replacement window, mirroring `DELETE WHERE fecha >= cutoff` +
    * re-load of `dias_remplazo` days.
    */
  def replaceWindow(df: DataFrame, path: String, partitionCol: String): Unit =
    replaceWindow(df, path, Seq(partitionCol))

  /** K2 multi-column variant: partitions are (fecha, periodo, ...) tuples
    * and only the tuples present in `df` are rewritten — the layout the
    * per-periodo dual delete (consumo_usuarios.py:264-272,
    * consumo_bloques_hora.py:30-67) needs, where daily rows replace from
    * a trailing cutoff but monthly rows from the month start. The
    * partitions present in `df` swap their file sets in one manifest
    * commit — no crash window between delete and rewrite.
    */
  def replaceWindow(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    partitionedTarget(df.sparkSession, path, df.schema, partitionCols)
    Snapshot.replacePartitions(df.sparkSession, path, df, dropOld = _ => false)
  }

  /** K2's per-periodo asymmetric delete (consumo_usuarios.py:264-272,
    * consumo_bloques_hora.py:30-67): one table holds rows at several
    * grains distinguished by `periodoCol`; on re-ingest, daily/hourly
    * rows are deleted from the trailing `cutoff`, but mensual rows from
    * the START of cutoff's month — month-to-date rows are recomputed
    * whole. Pure dataflow (kept ∪ replacement) so it composes and
    * oracle-verifies; `replacePeriodWindowWrite` persists it.
    *
    * Note replacing the partitions present alone can NOT express this: a day
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
    * rewrite is ever needed. The doomed predicate is evaluated on the
    * manifest's live partition tuples (cast to the replacement's
    * declared types, so string/date/timestamp fechas compare exactly as
    * the row-level filter would), and the delete + rewrite commit as
    * ONE manifest: doomed partitions the replacement writes no rows
    * for (the empty re-extract) drop, partitions it writes swap.
    *
    * Partitions outside the replace window are never read and never
    * rewritten — at 100 TB an hourly rerun touches only the trailing
    * window + current month, not the table. Idempotent: a rerun with
    * the same replacement swaps in the same rows and drops nothing new.
    */
  def replacePeriodWindowWrite(spark: SparkSession, path: String, replacement: DataFrame,
                               fechaCol: String, periodoCol: String,
                               cutoff: Column, mensualLabel: String = "mensual"): Unit = {
    val m = partitionedTarget(spark, path, replacement.schema, Seq(periodoCol, fechaCol))
    import spark.implicits._
    val pT = replacement.schema(periodoCol).dataType
    val fT = replacement.schema(fechaCol).dataType
    val tuples = m.files.map(Snapshot.partitionValues(m.partitionCols, _))
      .map(pv => (pv(periodoCol), pv(fechaCol))).distinct
    // null tuples can never be doomed (three-valued DELETE semantics)
    val named = tuples.filterNot { case (p, f) =>
      p == Snapshot.NullPartition || f == Snapshot.NullPartition }
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
  }

  /** K3: MERGE-by-id as pure dataflow:
    * kept = target rows whose id is NOT in updates (anti join);
    * result = kept ∪ updates. For composition and tests;
    * `mergeByIdWrite` persists it.
    */
  def mergeById(target: DataFrame, updates: DataFrame, idCol: String): DataFrame =
    target.join(updates.select(idCol).distinct(), Seq(idCol), "left_anti")
      .unionByName(updates)

  /** Persisting K3 as a whole-table rewrite: the merge reads the pinned
    * live set (immutable files — no read-own-overwrite hazard) and
    * commits as one new version. At 100 TB use the partition-restricted
    * `mergeByIdWritePartitioned`; semantics identical.
    */
  def mergeByIdWrite(spark: SparkSession, path: String, updates: DataFrame, idCol: String): Unit = {
    Snapshot.createIfAbsent(spark, path, updates.schema)
    Snapshot.overwrite(spark, path, mergeById(Snapshot.read(spark, path), updates, idCol))
  }

  /** K3 at scale: merge-by-id restricted to the partitions the updates
    * touch ([[Snapshot.mergeById]]). Valid when the id embeds its
    * partition — the reference's synthesized ids do (soporte + date +
    * periodo + vip, audio_digital.py:245-255; funnel_emisor.py:190-191)
    * — so a matching target row can only live in a partition present
    * in `updates`. Only those partitions' files are read and swapped;
    * the rest of the table is never opened, which is what makes MERGE
    * usable on a 100 TB table with a bounded replace window.
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
    */
  def mergeByIdWritePartitioned(spark: SparkSession, path: String, updates: DataFrame,
                                idCol: String, partitionCol: String,
                                assertIdsLocal: Boolean = false): Unit = {
    Snapshot.createIfAbsent(spark, path, updates.schema, Seq(partitionCol))
    Snapshot.mergeById(spark, path, updates, idCol, partitionCol, assertIdsLocal)
  }
}
