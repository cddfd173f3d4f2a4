package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hourlyRollup over AvailableNow drains the landing dir incl. late rows") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val landing = s"$dir/landing"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val batch1 = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 4.0)).toDF("ts", "event_type", "value")
    batch1.write.parquet(landing)

    val stream = EventStream.read(spark, landing, batch1.schema)
    assert(stream.isStreaming)
    EventStream.runAvailableNow(EventStream.hourlyRollup(stream), out, ckpt)

    // second tick: new file with a LATE row for hour 10 (inside the
    // 4-day watermark) plus a sentinel far enough ahead to close all
    // Jan-1 windows — append mode only emits watermark-closed windows.
    Seq(
      (ts("2024-01-01 10:30:00"), "click", 10.0),
      (ts("2024-01-01 12:00:00"), "view", 1.0),
      (ts("2024-01-10 00:00:00"), "sentinel", 0.0))
      .toDF("ts", "event_type", "value")
      .write.mode("append").parquet(landing)
    EventStream.runAvailableNow(
      EventStream.hourlyRollup(EventStream.read(spark, landing, batch1.schema)), out, ckpt)

    val got = spark.read.parquet(out)
      .where($"event_type" =!= "sentinel")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map { case (p, t, n, m) => (p.toString, t, n, m) }.toSet
    // each closed window emitted exactly once, late row merged into hour 10
    assert(got == Set(
      ("2024-01-01 10:00:00.0", "click", 3L, 13.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 4.0),
      ("2024-01-01 12:00:00.0", "view", 1L, 1.0)))
  }

  test("dedupStream drops re-delivered ids across micro-batches within the watermark") {
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    val landing = s"$dir/landing"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    // tick 1: ids 1,2 (and 1 re-delivered inside the same batch)
    Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (2L, ts("2024-01-01 10:10:00"), "b")).toDF("event_id", "ts", "payload")
      .write.parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def tick(): Unit =
      EventStream.dedupStream(EventStream.read(spark, landing, schema), Seq("event_id"))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start().awaitTermination()
    tick()
    // tick 2: id 1 re-delivered AGAIN (at-least-once ingest), id 3 new
    Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (3L, ts("2024-01-01 11:00:00"), "c")).toDF("event_id", "ts", "payload")
      .write.mode("append").parquet(landing)
    tick()
    val got = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // every id exactly once across ticks
  }

  test("streamed hourly rollup equals the batch aggregate over the same files") {
    // the micro-batch path must be value-identical to running the same
    // groupBy as one batch plan — the guarantee that lets the engine
    // swap between K2 batch re-runs and the streaming sink freely
    val dir = Files.createTempDirectory("graft-eq").toString
    val landing = s"$dir/landing"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val events = sf().events
      .select(col("ts"), col("event_type"), col("value"))
      .where($"ts" < ts("2024-01-08 00:00:00"))
    events.write.parquet(landing)
    // sentinel far past the watermark closes every window in one tick
    Seq((ts("2024-03-01 00:00:00"), "sentinel", 0.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(landing)
    EventStream.runAvailableNow(
      EventStream.hourlyRollup(EventStream.read(spark, landing, events.schema)), out, ckpt)
    val streamed = spark.read.parquet(out)
      .where($"event_type" =!= "sentinel")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = events
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("minutes"))
      .select($"w.start", $"event_type", $"n", $"minutes")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("merge publication rewrites a late row's aggregate in place (Update mode + K3)") {
    val dir = Files.createTempDirectory("graft-merge-pub").toString
    val landing = s"$dir/landing"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val schema = Seq((ts("2024-01-01 10:05:00"), "click", 1.0))
      .toDF("ts", "event_type", "value").schema
    Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 11:05:00"), "view", 4.0)).toDF("ts", "event_type", "value")
      .write.parquet(landing)
    EventStream.runMergePublish(
      EventStream.hourlyRollup(EventStream.read(spark, landing, schema)), out, ckpt)
    // a LATE hour-10 click arrives on the next tick: its (hour, type)
    // aggregate must be REWRITTEN (n=2), not appended as a second row,
    // and the untouched hour-11 view row must survive the merge
    Seq((ts("2024-01-01 10:30:00"), "click", 10.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(landing)
    EventStream.runMergePublish(
      EventStream.hourlyRollup(EventStream.read(spark, landing, schema)), out, ckpt)
    val got = graft.operators.Snapshot.read(spark, out)
      .select("p_start", "event_type", "n", "minutes")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map { case (p, t, n, m) => (p.toString, t, n, m) }.toSet
    assert(got == Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 11.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 4.0)))
  }

  test("pairSessions joins start/stop streams; a never-stopped start emits null on watermark") {
    val dir = Files.createTempDirectory("graft-pair").toString
    val startsDir = s"$dir/starts"; val stopsDir = s"$dir/stops"; val ckpt = s"$dir/ckpt"
    // s1/s2 close normally; s3 never gets a stop (crashed session);
    // s4's stop arrives OUTSIDE maxSessionMinutes so it must NOT match.
    // Far-future sentinels on BOTH sides advance the min watermark so
    // the no-data micro-batch flushes the outer-join nulls in one
    // AvailableNow run.
    Seq(
      ("s1", 1L, ts("2024-01-01 10:00:00")),
      ("s2", 1L, ts("2024-01-01 11:00:00")),
      ("s3", 2L, ts("2024-01-01 10:05:00")),
      ("s4", 3L, ts("2024-01-01 10:10:00")),
      ("zz_sentinel", 9L, ts("2024-01-05 00:00:00")))
      .toDF("session_id", "user_id", "ts").write.parquet(startsDir)
    Seq(
      ("s1", ts("2024-01-01 10:30:00"), 30.0),
      ("s2", ts("2024-01-01 11:20:00"), 20.0),
      ("s4", ts("2024-01-01 16:00:00"), 350.0), // past the 3 h bound
      ("zz_sentinel2", ts("2024-01-05 00:00:00"), 0.0))
      .toDF("session_id", "ts", "value").write.parquet(stopsDir)
    val starts = EventStream.read(spark, startsDir,
      Seq.empty[(String, Long, java.sql.Timestamp)].toDF("session_id", "user_id", "ts").schema)
    val stops = EventStream.read(spark, stopsDir,
      Seq.empty[(String, java.sql.Timestamp, Double)].toDF("session_id", "ts", "value").schema)
    val q = EventStream.pairSessions(starts, stops)
      .writeStream.format("memory").queryName("paired")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("paired")
      .where(!$"session_id".startsWith("zz_sentinel"))
      .as[(String, Long, java.sql.Timestamp, Option[java.sql.Timestamp], Option[Double])]
      .collect()
      .map { case (sid, u, st, en, m) => (sid, u, st.toString, en.map(_.toString), m) }.toSet
    assert(got == Set(
      ("s1", 1L, "2024-01-01 10:00:00.0", Some("2024-01-01 10:30:00.0"), Some(30.0)),
      ("s2", 1L, "2024-01-01 11:00:00.0", Some("2024-01-01 11:20:00.0"), Some(20.0)),
      ("s3", 2L, "2024-01-01 10:05:00.0", None, None),
      ("s4", 3L, "2024-01-01 10:10:00.0", None, None))) // out-of-bound stop = crash
  }

  test("native session_window stream equals the batch q114 aggregate on the same fixture") {
    val dir = Files.createTempDirectory("graft-sesswin").toString
    val landing = s"$dir/landing"; val ckpt = s"$dir/ckpt"
    val events = sf().events.select(col("user_id"), col("ts"))
    events.write.parquet(landing)
    // far-future sentinel: the watermark passes every real session's
    // close, so Append emits (and purges) all of them in one tick
    Seq((999999L, ts("2030-01-01 00:00:00"))).toDF("user_id", "ts")
      .write.mode("append").parquet(landing)
    val q = EventStream.sessionWindowRollup(
        EventStream.read(spark, landing, events.schema), gapMinutes = 30)
      .writeStream.format("memory").queryName("sesswin")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sesswin")
      .where($"user_id" =!= 999999L)
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    // the batch twin — q114's exact construct over the same files
    val batch = events
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start",
        ($"session_window.end" - expr("INTERVAL 30 MINUTES")), $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sessionize closes sessions on event-time gaps via flatMapGroupsWithState") {
    val dir = Files.createTempDirectory("graft-sess").toString
    val landing = s"$dir/landing"; val ckpt = s"$dir/ckpt"
    import EventStream.{Event, Session}
    // user 1: two bursts separated by >gap (first closes on the gap);
    // the user-9 sentinel advances the watermark so every open session
    // times out inside this one AvailableNow run (no-data micro-batch).
    Seq(
      Event(1L, ts("2024-01-01 10:00:00"), 1.0),
      Event(1L, ts("2024-01-01 10:10:00"), 2.0),
      Event(1L, ts("2024-01-01 13:30:00"), 5.0),
      Event(2L, ts("2024-01-01 10:00:00"), 7.0),
      Event(9L, ts("2024-01-03 00:00:00"), 0.0)).toDF()
      .write.parquet(landing)
    val events = EventStream.read(spark, landing, Seq.empty[Event].toDF().schema).as[Event]
    val q = EventStream.sessionize(events, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sess").as[Session].collect()
      .map(s => (s.user_id, s.session_start.toString, s.n_events, s.minutes)).toSet
    assert(got.contains((1L, "2024-01-01 10:00:00.0", 2, 3.0))) // closed by the gap
    assert(got.contains((1L, "2024-01-01 13:30:00.0", 1, 5.0))) // closed by timeout
    assert(got.contains((2L, "2024-01-01 10:00:00.0", 1, 7.0)))
  }

  test("snapshot table as a streaming source: appends flow once, rewrites refuse or skip") {
    import graft.operators.Snapshot
    val dir = Files.createTempDirectory("graft-snapstream").toString
    val src = s"$dir/src"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    Snapshot.create(spark, src,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("v"))

    def run(extra: Map[String, String] = Map.empty): Unit = {
      val reader = spark.readStream.format("graft.sources.SnapshotSource")
      extra.foreach { case (k, w) => reader.option(k, w) }
      val q = reader.load(src)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
    }
    def got(): Set[(Long, String)] =
      spark.read.parquet(out).as[(Long, String)].collect().toSet

    // bootstrap: the whole table is the first batch
    run()
    assert(got() == Set((1L, "a"), (2L, "b")))
    // appends flow exactly once per commit
    Snapshot.append(spark, src, Seq((3L, "c")).toDF("id", "v"))
    Snapshot.append(spark, src, Seq((4L, "d")).toDF("id", "v"))
    run()
    assert(got() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // an idle tick emits nothing new
    run()
    assert(got().size == 4)

    // a rewrite commit refuses by default (streaming it would re-emit)
    Snapshot.mergeById(spark, src, Seq((1L, "a")).toDF("id", "v"), "id", "v")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    // ... and is skipped entirely with skipChangeCommits; later appends
    // flow (first tick replays the failed batch from the offset WAL —
    // skipped now — the next tick drains the append)
    Snapshot.append(spark, src, Seq((5L, "e")).toDF("id", "v"))
    run(Map("skipChangeCommits" -> "true"))
    run(Map("skipChangeCommits" -> "true"))
    assert(got() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))

    // startingVersion: a fresh consumer that only wants the future
    val out2 = s"$dir/out2"; val ckpt2 = s"$dir/ckpt2"
    val vNow = Snapshot.latestVersion(spark, src).get
    val q2 = spark.readStream.format("graft.sources.SnapshotSource")
      .option("startingVersion", vNow.toString)
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .format("parquet").option("path", out2)
      .start()
    q2.awaitTermination()
    Snapshot.append(spark, src, Seq((6L, "f")).toDF("id", "v"))
    val q3 = spark.readStream.format("graft.sources.SnapshotSource")
      .option("startingVersion", vNow.toString)
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .format("parquet").option("path", out2)
      .start()
    q3.awaitTermination()
    assert(spark.read.parquet(out2).as[(Long, String)].collect().toSet == Set((6L, "f")),
      "startingVersion consumer must see only post-start appends")
  }

  test("fresh stream bootstrap of a DV'd table excludes deletion-vectored rows") {
    import graft.operators.Snapshot
    import org.apache.spark.sql.functions.col
    // A brand-new consumer (no checkpoint, no startingVersion) of a
    // table carrying live deletion vectors: the bootstrap batch is the
    // table STATE, so the row-based DvSnapshotRelation path feeds the
    // streaming scan and vectored rows must NOT appear.
    val dir = Files.createTempDirectory("graft-snapstream-dv").toString
    val src = s"$dir/src"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val base = (0 until 40).map(i => (i.toLong, s"r$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "p")
      .repartition(1) // one ~20-row file per partition, so a point delete is under the DV tier split
    Snapshot.create(spark, src, base, Seq("p"))
    // point delete well under the DV tier split -> merge-on-read vector,
    // no file rewrite
    Snapshot.delete(spark, src, col("id").isin(3L, 8L))
    val m = Snapshot.latestManifest(spark, src).get
    assert(m.dvs.nonEmpty, "fixture must actually carry a live deletion vector")

    val q = spark.readStream.format("graft.sources.SnapshotSource")
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(got == (0 until 40).map(_.toLong).toSet -- Set(3L, 8L),
      "bootstrap batch must apply deletion vectors")
  }

  test("change-feed consumer: streaming drain is exactly-once and crash-convergent") {
    import graft.operators.Snapshot
    import graft.streaming.FeedConsumer
    val dir = Files.createTempDirectory("graft-feed").toString
    val src = s"$dir/src"; val dst = s"$dir/dst"; val ticks = s"$dir/ticks"
    val mk = (lo: Int, hi: Int) =>
      (lo until hi).map(i => (i.toLong, s"k${i % 3}", i.toDouble)).toDF("id", "k", "v")
    Snapshot.create(spark, src, mk(0, 60), Seq("k"))
    Snapshot.create(spark, dst,
      FeedConsumer.emptyRollup(spark, Snapshot.read(spark, src), Seq("k")))

    // the recompute the consumer must always converge to
    def expected(): Set[(String, Long, BigDecimal)] =
      Snapshot.read(spark, src).groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
        .as[(String, Long, java.math.BigDecimal)].collect()
        .map(t => (t._1, t._2, BigDecimal(t._3))).toSet
    def state(): Set[(String, Long, BigDecimal)] =
      Snapshot.read(spark, dst).as[(String, Long, java.math.BigDecimal)].collect()
        .map(t => (t._1, t._2, BigDecimal(t._3))).toSet

    // the nightly tick as a streaming job: each tick file drives one
    // foreachBatch drain; the WATERMARK lives in dst's manifest
    Seq(1).toDF("tick").write.parquet(ticks)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.schema("tick INT").parquet(ticks)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          FeedConsumer.drain(spark, src, dst, "mv1")(
            FeedConsumer.additiveRollup(Seq("k"), "v")): Unit
        }
        .start()
      q.awaitTermination()
    }
    run(s"$dir/ckpt1")
    assert(state() == expected(), "bootstrap drain must equal the recompute")

    // source advances: an append and a merge
    Snapshot.append(spark, src, mk(60, 90))
    Snapshot.mergeById(spark, src,
      Seq((0L, "k0", 1000.0), (3L, "k0", 2000.0)).toDF("id", "k", "v"), "id", "k")

    // CRASH between feed read and publish: the txn files are written,
    // the commit never happens — watermark unchanged, rerun re-drains
    Snapshot.faultHook = stage => if (stage == "data-files-written")
      throw new RuntimeException("injected crash before publish")
    val before = state()
    Seq(2).toDF("tick").write.mode("append").parquet(ticks)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run(s"$dir/ckpt2") }
    Snapshot.faultHook = _ => ()
    assert(state() == before, "a crashed drain must leave the rollup untouched")

    // rerun (fresh checkpoint = full redelivery): converges exactly once
    run(s"$dir/ckpt3")
    assert(state() == expected(), "rerun after crash must converge to the recompute")

    // an idle tick after catching up is a no-op (watermark-guarded)
    assert(FeedConsumer.drain(spark, src, dst, "mv1")(
      FeedConsumer.additiveRollup(Seq("k"), "v")).isEmpty)
  }

  test("end to end: snapshot stream source -> event-time watermark -> exactly-once snapshot sink") {
    // The three streaming layers closed on ONE fixture: the commit log
    // is the SOURCE (each append = a micro-batch, no landing-dir
    // convention), the rollup is watermarked on event time (through
    // the normalizeTs seam — the fixture writes NTZ, the watermark
    // needs TIMESTAMP), and the SINK is the exactly-once snapshot
    // appendBatch whose (appId, batchId) watermark commits atomically
    // with the data — crash-injected at the worst point (after the
    // manifest commit, before the stream learns of it), so the
    // redelivered batch must be recognized and skipped.
    import graft.operators.Snapshot
    val dir = Files.createTempDirectory("graft-e2e-stream").toString
    val src = s"$dir/src"; val dst = s"$dir/dst"; val ckpt = s"$dir/ckpt"
    def ev(rows: (String, Double)*) : org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("s", "value").select(
        col("s").cast("timestamp_ntz").as("ts"),
        lit("click").as("event_type"), col("value"))
    Snapshot.create(spark, src,
      ev(("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:40:00", 2.0),
         ("2024-01-01 11:10:00", 4.0)))
    Snapshot.create(spark, dst,
      EventStream.hourlyRollup(ev().limit(0)).limit(0))

    def run(): Unit = {
      val q = EventStream.hourlyRollup(
          spark.readStream.format("graft.sources.SnapshotSource").load(src),
          watermark = "2 hours")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) Snapshot.appendBatch(spark, dst, b.toDF(), "e2e", id): Unit
        }
        .start()
      q.awaitTermination()
    }
    def state(): Set[(String, String, Long, Double)] =
      Snapshot.read(spark, dst)
        .as[(java.sql.Timestamp, String, Long, Double)].collect()
        .map(t => (t._1.toString, t._2, t._3, t._4)).toSet

    // bootstrap + a later append: windows stay open until a watermark
    // passes them — nothing published yet
    run()
    Snapshot.append(spark, src, ev(("2024-01-01 12:20:00", 8.0)))
    run()
    assert(state().isEmpty, "no window is watermark-closed yet")

    // sentinel commit advances the watermark past every real window;
    // the v1-wrapped source runs exactly one data batch per tick (no
    // trailing no-data batch), so the closed windows EMIT on the batch
    // after it — a second sentinel drives that batch, and its publish
    // hits a crash AFTER the manifest commit: the worst redelivery case
    Snapshot.append(spark, src, ev(("2024-02-01 00:00:00", 0.0)))
    run()
    assert(state().isEmpty)
    Snapshot.append(spark, src, ev(("2024-02-01 00:00:01", 0.0)))
    var crashed = false
    Snapshot.faultHook = stage => if (stage == "manifest-committed" && !crashed) {
      crashed = true
      throw new RuntimeException("injected crash after publish commit")
    }
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    finally Snapshot.faultHook = _ => ()
    val expect = Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "click", 1L, 4.0),
      ("2024-01-01 12:00:00.0", "click", 1L, 8.0))
    assert(state() == expect, "the publish itself committed before the crash")

    // redelivery: the same batch id replays; appendBatch must skip it
    run()
    assert(state() == expect, "redelivered batch must not double-publish")
  }
}
