package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Conf windows that nest and overlap safely, in two scopes.
  *
  * `apply` sets keys on the session itself, for the few that Spark reads
  * straight off `sessionState.conf` (the parquet writer's timestamp
  * encoding). Holders are counted per (session, key): the first entrant
  * records the caller's value and sets the key, the last one out
  * restores the recorded value. Nested operations and operations on
  * other threads of the same session therefore can never strand a value,
  * and a later entrant never overrides the first one's setting while it
  * is held. Other threads see the key while it is held.
  *
  * `onThread` shows keys to the calling thread only. Its planning reads
  * a copy of the session conf with the keys set (`SQLConf.get` prefers
  * the thread's conf), and the jobs it starts carry the keys as thread
  * local properties, which is what a task's `SQLConf.get` reads:
  * `SQLExecution` lays the session's explicitly-set keys over them, so
  * a key the session sets itself keeps the session's value in tasks.
  * The copy is taken on entry (a nested window takes its own and hands
  * the outer one back on exit): session conf set while the window is
  * open does not reach this thread's planning until it closes.
  */
private[graft] object ScopedConf {
  private final case class Hold(holders: Int, callers: Option[String])
  private val held = mutable.Map.empty[(SparkSession, String), Hold]

  def apply[T](spark: SparkSession, settings: Seq[(String, String)])(body: => T): T = {
    held.synchronized {
      settings.foreach { case (k, v) =>
        held.get(spark -> k) match {
          case Some(h) => held(spark -> k) = h.copy(holders = h.holders + 1)
          case None =>
            val c = spark.sessionState.conf
            held(spark -> k) = Hold(1, if (c.contains(k)) Some(c.getConfString(k)) else None)
            spark.conf.set(k, v)
        }
      }
    }
    try body
    finally held.synchronized {
      settings.foreach { case (k, _) =>
        val h = held(spark -> k)
        if (h.holders > 1) held(spark -> k) = h.copy(holders = h.holders - 1)
        else {
          held.remove(spark -> k)
          h.callers.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
      }
    }
  }

  def onThread[T](spark: SparkSession, settings: Seq[(String, String)])(body: => T): T = {
    val view = spark.sessionState.conf.clone()
    settings.foreach { case (k, v) => view.setConfString(k, v) }
    val sc = spark.sparkContext
    val props = settings.map { case (k, _) => k -> sc.getLocalProperty(k) }
    settings.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try SQLConf.withExistingConf(view)(body)
    finally props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

/** The engine's interpreted-execution seam. The engine's own
  * operations (snapshot writes, row DML, MV create/refresh, feed
  * drains) process change-window-sized data through plans whose shape
  * and literals differ on every commit, so Janino compiles for them
  * cost more than the rows they process and Spark's codegen cache
  * cannot amortize them. An operation whose inputs are all small runs
  * with whole-stage codegen off and the interpreted expression factory
  * (value-identical to codegen: `ExprFallbackSpec`).
  *
  * Small means: the manifest bytes of the live files of every snapshot
  * table the operation reads, plus Catalyst's size estimate of every
  * caller-supplied DataFrame, sum to at most
  * `spark.sql.autoBroadcastJoinThreshold`, capped at [[InterpretedBytes]].
  * A file without a manifest byte count, or an input whose size cannot
  * be estimated, counts as over the gate; a threshold of -1 turns the
  * seam off. User queries never enter it: the DataFrames
  * `Snapshot.read*` returns, `spark.sql` SELECTs and query builds run
  * with whatever the session says. The keys are
  * [[ScopedConf.onThread]]'s, so queries that other threads run on the
  * same session while an operation is in flight plan and run compiled.
  */
private[graft] object SmallOp {
  /** Where interpreting stops paying. Measured on a 4-core box with
    * interpreted and compiled runs of the same operations alternating in
    * one JVM, over a table of 4 files (id, partition, 97-value key, two
    * incompressible numbers) and a SUM view on it, literals changing per
    * run: at 0.67 MB the interpreted run was as fast or faster for a
    * full-scan DV delete and update, a mergeById, an append, the view's
    * refresh and a compaction; at 2 MB the delete, update, refresh and
    * compaction ran 25-40% slower interpreted (6 of 6 pairs for refresh
    * and compaction), and at 6.7 MB refresh and compaction ran 1.8x
    * slower. Per-row interpretation grows with the rows an operation
    * scans while the compiles it saves do not. The engine operations of
    * a `refresh_churn` window gate at 480 KB or less.
    */
  private[graft] val InterpretedBytes: Long = 1L << 20

  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  def apply[T](spark: SparkSession, tables: Seq[String], inputs: Seq[DataFrame] = Nil)(
      body: => T): T =
    if (isSmall(spark, tables, inputs)) ScopedConf.onThread(spark, Interpreted)(body) else body

  private[graft] def isSmall(spark: SparkSession, tables: Seq[String],
                             inputs: Seq[DataFrame]): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) return false
    val limit = math.min(threshold, InterpretedBytes)
    var total = BigInt(0)
    def add(bytes: BigInt): Boolean = { total += bytes; total <= limit }
    // a failure to size an input is the operation's to report, not the gate's
    scala.util.Try {
      tables.distinct.forall { t =>
        Snapshot.latestManifest(spark, t).forall(m => m.files.forall(f =>
          m.stats.get(f).map(_.bytes).exists(b => b > 0L && add(b))))
      } && inputs.forall(df => add(df.queryExecution.optimizedPlan.stats.sizeInBytes))
    }.getOrElse(false)
  }
}
