package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer (SURVEY.md §2.9).
  *
  * The reference has no true streams: an hourly Airflow DAG re-runs the
  * batch pipelines over a trailing window (descarga_hora.py:17-60), with
  * idempotency via delete-and-replace (K2). The idiomatic Spark upgrade
  * is `readStream` over the landing directory with event-time windows +
  * a watermark playing the `dias_remplazo` late-data role, triggered
  * `AvailableNow` so each run drains what's new and stops — the same
  * cadence, minus the manual delete.
  */
object EventStream {

  /** File-source stream over an events landing dir (parquet files with
    * the given schema, appended by the ingest job).
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir))

  /** Hourly rollup with late-data tolerance: tumbling 1-hour event-time
    * windows, watermark = replacement window (the reference re-ingests
    * `dias_remplazo` trailing days; late rows inside it still land).
    */
  def hourlyRollup(events: DataFrame, watermark: String = "4 days"): DataFrame =
    graft.Tables.normalizeTs(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("minutes"))
      .select(col("w.start").as("p_start"), col("event_type"), col("n"), col("minutes"))

  /** Drain-everything-then-stop run, the streaming analog of one hourly
    * DAG tick: partitioned parquet append + checkpoint give exactly-once
    * per file, replacing the reference's DELETE+reload idempotency.
    */
  def runAvailableNow(rollup: DataFrame, outDir: String, checkpointDir: String): Unit =
    rollup.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
      .awaitTermination()

  /** Micro-batch → merge publication: Update-mode window rows are
    * exactly MERGE updates — each batch's changed (hour, event_type)
    * aggregates upsert into the published table via the
    * partition-restricted merge (K3), so a late row inside the watermark
    * REWRITES its aggregate in place instead of appending a correction
    * row, and only the touched hour partitions are opened. This is the
    * streaming analog of the reference's delete-and-replace re-ingest:
    * Update windows + foreachBatch + mergeByIdWritePartitioned, so
    * `outDir` is a snapshot table (read it with `Snapshot.read`).
    */
  def runMergePublish(rollup: DataFrame, outDir: String, checkpointDir: String): Unit =
    rollup.writeStream
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val keyed = batch
            .withColumn("hora", date_format(col("p_start"), "yyyy-MM-dd-HH"))
            .withColumn("row_id", concat_ws("|", col("hora"), col("event_type")))
          graft.operators.Writers.mergeByIdWritePartitioned(
            batch.sparkSession, outDir, keyed, "row_id", "hora")
        }
      }
      .start()
      .awaitTermination()

  /** Streaming exact dedup — the training-data ingest front door: drop
    * re-deliveries of the same record key within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keys state by `idCols` and evicts
    * entries older than the watermark, so state is bounded by the
    * horizon's arrival volume, never the corpus (historical dedup is
    * the batch operator, q26; this guards the live feed where at-least-
    * once delivery from the ingest job is the norm).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "4 days"): DataFrame =
    graft.Tables.normalizeTs(events).withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming ingestion near-dup screen — the front door of an
    * incremental training-data pipeline: documents arriving on a landing
    * dir are screened against the STANDING corpus and land with a
    * verdict. Each micro-batch runs the batch cross-corpus operator
    * (Dedup.minhashLshPairsAcross — band-key equi-join, exact verify on
    * candidates) via foreachBatch: batch-vs-static screening carries no
    * streaming state at all (the corpus is the state, and it lives in
    * storage), unlike a stream-side aggregation whose distinct/grouping
    * state would grow with the corpus. dropDuplicatesWithinWatermark
    * upstream (dedupStream) handles exact re-deliveries; this catches
    * near-dups of already-published documents. Checkpointed AvailableNow
    * micro-batches give per-file at-least-once; the parquet append is
    * idempotent per batch id only if outDir is keyed, so production
    * would publish through the K3 merge like runMergePublish — kept a
    * plain append here to keep the screen's dataflow the subject.
    */
  def screenStream(newDocs: DataFrame, corpus: DataFrame,
                   outDir: String, checkpointDir: String,
                   k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                   minJaccard: Double = 0.8): Unit =
    newDocs.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val near = graft.operators.Dedup.minhashLshPairsAcross(
              batch, corpus, "doc_id", "text", k, bands, rowsPerBand, minJaccard)
            .groupBy(col("id_a").as("doc_id")).agg(max(col("jaccard")).as("best_jaccard"))
          batch.select("doc_id").join(near, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
              col("best_jaccard").isNotNull.as("near_dup"))
            .write.mode("append").parquet(outDir)
        }
      }
      .start()
      .awaitTermination()

  /** Stream-stream session pairing: a `start` event stream joined to a
    * `stop` event stream into closed listening intervals — the streaming
    * CONSTRUCTION of the (inicio, fin) intervals every batch overlap
    * join (J3, q05) consumes; the reference instead re-derives intervals
    * each hourly tick from the full trailing window
    * (consumo_bloques_hora.py re-extract). Left-outer so a start whose
    * stop never arrives inside `maxSessionMinutes` emits with a null
    * end once the watermark passes — exactly the crashed-session input
    * the session-count recovery (A6, q37) repairs downstream.
    *
    * 100 TB state contract: equality on session_id makes the join a
    * hash lookup, and the time-range bound (end inside [start, start +
    * maxSession]) plus BOTH watermarks is what lets Spark EVICT matched
    * and expired starts — a stream-stream join without the range
    * condition keeps every start row in state forever. State is bounded
    * by sessions *opened per horizon*, never total history.
    */
  def pairSessions(starts: DataFrame, stops: DataFrame,
                   maxSessionMinutes: Int = 180,
                   watermark: String = "1 hour"): DataFrame = {
    val s = graft.Tables.normalizeTs(starts).withWatermark("ts", watermark)
      .select(col("session_id"), col("user_id"), col("ts").as("start_ts"))
    val e = graft.Tables.normalizeTs(stops).withWatermark("ts", watermark)
      .select(col("session_id").as("stop_session_id"),
        col("ts").as("end_ts"), col("value").as("minutes"))
    s.join(e,
        col("session_id") === col("stop_session_id") &&
          col("end_ts") >= col("start_ts") &&
          col("end_ts") <= col("start_ts") + expr(s"INTERVAL $maxSessionMinutes MINUTES"),
        "leftOuter")
      .select(col("session_id"), col("user_id"), col("start_ts"),
        col("end_ts"), col("minutes"))
  }

  /** NATIVE session windows in streaming — the same `session_window`
    * aggregate q114 runs in batch, with the watermark driving state
    * purge: a session's state merges while events keep arriving within
    * the gap, is emitted exactly once when the watermark passes its
    * close, and is dropped from the store at that same moment — state
    * is bounded by sessions OPEN within the horizon, never history.
    * This is the built-in-operator twin of `sessionize`'s
    * flatMapGroupsWithState (which exists for payloads the built-in
    * can't express, e.g. the minutes accumulator with custom close
    * rules); for plain per-session counts the native operator is the
    * preferred plan — merging aggregate, one shuffle, no typed state
    * closure. Boundary semantics match q114: the emitted window end is
    * last-event + gap, so subtracting the gap recovers max(ts).
    */
  def sessionWindowRollup(events: DataFrame, gapMinutes: Int,
                          watermark: String = "1 hour"): DataFrame =
    graft.Tables.normalizeTs(events)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") - expr(s"INTERVAL $gapMinutes MINUTES")).as("session_end"),
        col("n_events"))

  // ---- custom state: gap-based sessionization ---------------------------

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, events: Int, minutes: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Int, minutes: Double)

  /** Close a user's session after `gapMinutes` of event-time silence —
    * the custom-state shape (`flatMapGroupsWithState`) the built-in
    * windows can't express. Emits completed sessions only.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastTs), s.events, s.minutes))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t max s.lastTs, events = s.events + 1,
                    minutes = s.minutes + e.value))
                case Some(s) =>
                  closed += Session(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastTs), s.events, s.minutes)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
