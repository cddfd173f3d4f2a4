package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SmallOp, Snapshot}

/** Incremental consumer of a snapshot table's change feed: the running
  * form of the q119 story, closing the loop with the reference's hourly
  * DAG cadence (descarga_hora.py:17-60 re-extracts a window every hour;
  * here the downstream rollup CATCHES UP from the commit log instead of
  * recomputing).
  *
  * One [[drain]] call advances the consumer from its last consumed
  * source version to the source's current version: it reads the NET
  * change feed for that window ([[Snapshot.readChanges]] — O(changed
  * files), the unchanged 100 TB is never touched), folds it into the
  * current rollup with the caller's `apply`, and publishes rollup +
  * watermark in ONE atomic commit ([[Snapshot.overwriteBatch]] keyed by
  * the source version). Exactly-once end to end:
  *
  *  - crash BEFORE the publish commit (during feed read, apply, or the
  *    rewrite's file writes): nothing committed, the watermark still
  *    names the old version — the rerun re-drains the same window;
  *  - crash AFTER the commit: watermark = new version in the same
  *    manifest — the rerun sees an empty window and no-ops;
  *  - a Structured Streaming redelivery of the same tick hits the
  *    version-keyed watermark and is skipped.
  *
  * The watermark lives in the DOWNSTREAM table's own manifest, not in a
  * streaming checkpoint — wipe the checkpoint, redeploy the job, run it
  * from a plain scheduler: the consumer still knows exactly where it
  * stopped. A first drain with no watermark bootstraps from a full read
  * of the source (all rows as inserts over the empty rollup).
  */
object FeedConsumer {

  /** Advance `consumerId`'s rollup at `dstPath` to `srcPath`'s latest
    * version. `apply(netFeed, currentRollup)` returns the new rollup;
    * `netFeed` carries the source schema plus `_change_type`
    * (insert/delete). Returns Some(fromVersion -> toVersion) when the
    * consumer advanced, None when already up to date.
    *
    * `signed = true` feeds `apply` the SIGNED net feed
    * ([[Snapshot.readChangesSigned]]): the same change streams minus
    * the value-level exceptAll cancellation pair — two full shuffles
    * whose removed (+row, −row) pairs contribute exactly zero to any
    * sign-linear fold ([[additiveRollup]] and every count/sum delta).
    * Only set it for such folds; an `apply` that inspects feed rows
    * individually needs the exact net feed.
    */
  def drain(spark: SparkSession, srcPath: String, dstPath: String, consumerId: String,
            signed: Boolean = false)
           (apply: (DataFrame, DataFrame) => DataFrame): Option[(Long, Long)] = {
    val vNow = Snapshot.latestVersion(spark, srcPath).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $srcPath"))
    val dstM = Snapshot.latestManifest(spark, dstPath).getOrElse(
      throw new IllegalArgumentException(
        s"downstream rollup must be a snapshot table (create it first): $dstPath"))
    val vFrom = dstM.streamBatch.get(consumerId)
    if (vFrom.exists(_ >= vNow)) None
    else SmallOp(spark, Seq(srcPath, dstPath)) {
      val feed = vFrom match {
        case Some(v) =>
          if (signed) Snapshot.readChangesSigned(spark, srcPath, v, vNow)
          else Snapshot.readChanges(spark, srcPath, v, vNow, net = true)
        case None    => Snapshot.readVersion(spark, srcPath, vNow)
          .withColumn("_change_type", lit("insert"))
      }
      val next = apply(feed, Snapshot.read(spark, dstPath))
      // reads above are pinned to immutable files; the publish writes a
      // fresh txn and commits rollup + watermark in one manifest
      Snapshot.overwriteBatch(spark, dstPath, next, consumerId, vNow)
      Some(vFrom.getOrElse(0L) -> vNow)
    }
  }

  /** Standard delta-fold for additive rollups `GROUP BY keys: COUNT(*),
    * SUM(valueCol as decimal)` — the common case, so callers don't each
    * re-derive the sign algebra. Inserts add, deletes subtract; groups
    * whose count reaches zero drop out. Decimal state keeps the fold
    * exact and order-independent. Output: keys, `n`, `total`.
    */
  def additiveRollup(keys: Seq[String], valueCol: String)
                    (feed: DataFrame, current: DataFrame): DataFrame = {
    val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val delta = feed.groupBy(keys.map(col): _*)
      .agg(sum(sgn).as("__dn"),
        sum((col(valueCol).cast("decimal(18,2)") * sgn).cast("decimal(28,2)")).as("__dt"))
    current.join(delta, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("__dt"), lit(0).cast("decimal(28,2)")))
          .cast("decimal(28,2)").as("total")): _*)
      .where(col("n") > 0)
  }

  /** The empty state [[additiveRollup]] folds into — create the
    * downstream table from this before the first drain.
    */
  def emptyRollup(spark: SparkSession, src: DataFrame, keys: Seq[String]): DataFrame =
    src.select(keys.map(col): _*).limit(0)
      .withColumn("n", lit(0L))
      .withColumn("total", lit(0).cast("decimal(28,2)"))

  /** Row-level REPLICATION: advance a downstream REPLICA of `srcPath`
    * (same grain, same rows) to the source's latest version by applying
    * its change feed — the bronze→silver step of every medallion
    * pipeline, and the snapshot-native generalization of the
    * reference's delete-window-and-reload cadence (consumo_detalle.py
    * deletes a date window and re-extracts it; here the downstream
    * applies exactly the rows that changed).
    *
    * [[Snapshot.readChanges]] with `net = true` over the window
    * (vFrom → vNow) is a STATE DIFF — inserts = rows the source gained,
    * deletes = rows it lost, as multisets — so application needs no
    * keys and no ordering fold: `replica − deletes + inserts` IS the
    * source's latest state, given the replica held the vFrom state
    * (which the watermark guarantees). At 100 TB the work is bounded by
    * the CHANGE, twice over: the feed reads only changed files, and the
    * rewrite touches only the partitions those changes live in (the
    * slice is `exceptAll`-diffed per affected partition; untouched
    * partitions keep their files byte-identical). `keyCols`, when the
    * table has a row identity, replaces the multiset diff with a
    * cheaper key anti-join (updates then need not match old rows
    * byte-exactly).
    *
    * Exactly-once, same contract as [[drain]]: the watermark
    * (`consumerId` → source version) commits ATOMICALLY with the
    * applied rows against the pinned downstream manifest — a crash
    * before the commit leaves the old watermark (rerun re-applies the
    * same window onto the same state), a concurrent downstream commit
    * version-conflicts and refuses, a redelivery no-ops. A window with
    * data changes in NO downstream partition (or a pure compaction
    * window, which nets to zero changes) commits the watermark alone.
    * A schema change inside the window refuses (readChanges requires a
    * schema-stable window): re-sync with a fresh bootstrap instead.
    *
    * Bootstrap (no watermark yet): full copy of the source's latest
    * version through the same atomic commit. Returns
    * Some(fromVersion → toVersion) when the replica advanced, None when
    * already up to date.
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
                consumerId: String, keyCols: Seq[String] = Nil): Option[(Long, Long)] = {
    // a replicate window is RE-DERIVABLE (everything derives from the
    // latest replica manifest and the pinned source version), so a
    // concurrent replica commit — another consumer's drain, a property
    // change — re-runs the window against the new state instead of
    // surfacing the raw conflict; same contract as the DML retry
    Snapshot.retryConflicts("replicate")(
      replicateOnce(spark, srcPath, dstPath, consumerId, keyCols))
  }

  private def replicateOnce(spark: SparkSession, srcPath: String, dstPath: String,
                            consumerId: String, keyCols: Seq[String]): Option[(Long, Long)] = {
    val vNow = Snapshot.latestVersion(spark, srcPath).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $srcPath"))
    val dstM = Snapshot.latestManifest(spark, dstPath).getOrElse(
      throw new IllegalArgumentException(
        s"replica must be a snapshot table (create it first): $dstPath"))
    val vFrom = dstM.streamBatch.get(consumerId)
    if (vFrom.exists(_ >= vNow)) return None
    val stamp = (m: Snapshot.Manifest) =>
      m.copy(streamBatch = m.streamBatch + (consumerId -> vNow))
    vFrom match {
      case None =>
        // bootstrap: the latest source state wholesale, watermark in
        // the same commit
        Snapshot.swapFilesOn(spark, dstPath, dstM, Snapshot.readVersion(spark, srcPath, vNow),
          _ => true, "REPLICATE", stamp)
      case Some(v) =>
        // the net feed is consumed several times (inserts, deletes, key
        // set, partition restriction) and is itself a double exceptAll
        // over the window's changed files — persist so the change is
        // read ONCE, not once per consumer
        val feed = Snapshot.readChanges(spark, srcPath, v, vNow, net = true).persist()
        try {
          val ins = feed.where(col("_change_type") === "insert").drop("_change_type")
          val del = feed.where(col("_change_type") === "delete").drop("_change_type")
          def applied(slice: DataFrame): DataFrame =
            if (keyCols.nonEmpty)
              slice.join(feed.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
                .unionByName(ins)
            else slice.exceptAll(del).unionByName(ins)
          if (feed.isEmpty)
            // compaction-only / net-empty window: watermark alone
            Snapshot.commitMetaOn(spark, dstPath, dstM, "REPLICATE")(stamp)
          else {
            // read the PINNED manifest, not "latest at call time": the
            // diff must apply to exactly the state the watermark vouches
            // for (the commit's version check backstops, but the pinned
            // read is the contract). An unpartitioned replica diffs all
            // its files; a partitioned one the files of the feed
            // partitions it ALREADY HAS. A non-empty feed whose
            // partitions are all NEW to the replica — the nightly
            // append of a fresh date partition — has no affected files
            // but must still apply: the inserts ride `applied` as
            // brand-new partition files, dropping nothing.
            val affected =
              if (dstM.partitionCols.isEmpty) dstM.files
              else Snapshot.affectedPartitions(spark, dstM, feed, dstM.partitionCols)
            Snapshot.swapFilesOn(spark, dstPath, dstM,
              applied(Snapshot.readManifestFiles(spark, dstPath, dstM, affected)),
              affected.toSet, "REPLICATE", stamp)
          }
        } finally feed.unpersist()
    }
    Some(vFrom.getOrElse(0L) -> vNow)
  }
}
