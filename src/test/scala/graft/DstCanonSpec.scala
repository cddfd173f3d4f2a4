package graft

import java.time.{Duration, LocalDate, ZoneId}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators.Dedup

class DstCanonSpec extends SparkSpec {
  import spark.implicits._

  test("Santiago DST: prorated minutes reproduce the 23/25-hour local days") {
    // the hard case SURVEY.md §7 flags: UTC storage, Santiago reporting —
    // around the DST transitions a local day is 23 or 25 hours and the
    // proration math must reproduce that, not assume 1440
    val zone = ZoneId.of("America/Santiago")
    val days = Seq("2024-04-06", "2024-04-07", "2024-09-07", "2024-09-08")
    val lengths = days.map { d =>
      val day = LocalDate.parse(d)
      val expectedMin = Duration.between(
        day.atStartOfDay(zone), day.plusDays(1).atStartOfDay(zone)).toMinutes

      // local-day period bounds expressed in UTC via the engine's tz fns
      val df = Seq((s"$d 00:00:00", s"${day.plusDays(1)} 00:00:00")).toDF("d0", "d1")
        .select(
          TimeFns.fromSantiago(col("d0").cast("timestamp")).as("p_start"),
          TimeFns.fromSantiago(col("d1").cast("timestamp")).as("p_end"))
      // an event covering the whole local day prorates to its true length
      val got = df.select(
        (TimeFns.overlapSeconds(col("p_start"), col("p_end"), col("p_start"), col("p_end")) / 60)
          .cast("long").as("mins")).as[Long].head()
      assert(got == expectedMin, s"local day $d")
      expectedMin
    }
    // the four days around the two 2024 transitions contain one 25h and
    // one 23h day and average back out to 24h
    assert(lengths.contains(25 * 60L))
    assert(lengths.contains(23 * 60L))
    assert(lengths.sum == 4 * 24 * 60)
  }

  test("canonicalize resolves transitive near-dup clusters to min-id survivors") {
    val ids = (1L to 7L).toDF("doc_id")
    // chain 1-2-3, pair 5-6, singletons 4 and 7
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.canonicalize(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("canonicalize with a driverMaxEdges beyond Int range matches the default tiers") {
    // max+1 overflows an Int (and, at Long.MaxValue, a Long): such a
    // threshold cannot be probed exhaustively, so it must take the
    // distributed tier rather than canonicalize a truncated edge set
    val ids = (1L to 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    def labels(max: Long): Map[Long, Long] =
      Dedup.canonicalize(ids, "doc_id", pairs, driverMaxEdges = max)
        .as[(Long, Long)].collect().toMap
    val default = Dedup.canonicalize(ids, "doc_id", pairs).as[(Long, Long)].collect().toMap
    assert(labels(Long.MaxValue) == default)
    assert(labels(Int.MaxValue.toLong) == default)
    assert(default(3L) == 1L && default(6L) == 5L)
  }

  test("canonicalize driver tier runs exactly ONE job: the gate and the collect fuse") {
    // the tier gate (edge count <= driverMaxEdges) must NOT be its own
    // driver action: limit(max+1).collect() both proves the edge set
    // fits AND delivers it, so the pair pipeline — the expensive part —
    // is evaluated once (it used to be a count job plus a collect job)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.addSparkListener(listener)
    try {
      val ids = (1L to 7L).toDF("doc_id")
      val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
      Dedup.canonicalize(ids, "doc_id", pairs) // loop runs eagerly inside
      // listener bus is async: poll until the job count stabilizes
      var last = -1
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && last != jobs.get()) {
        last = jobs.get(); Thread.sleep(150)
      }
      // 3 edges sit far under driverMaxEdges: the fused gate+collect is
      // the only action (union-find itself is driver-side milliseconds)
      assert(jobs.get() == 1, s"expected 1 job, saw ${jobs.get()}")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("canonicalize distributed tier runs one job per propagation iteration") {
    // driverMaxEdges = 0 forces the pointer-jumping loop; the
    // convergence check must NOT be a second driver action: the
    // changed-label count folds into the same job that materializes the
    // next labels (AQE/broadcast disabled so one action == one job)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.addSparkListener(listener)
    try {
      val ids = (1L to 7L).toDF("doc_id")
      val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
      Dedup.canonicalize(ids, "doc_id", pairs, driverMaxEdges = 0)
      var last = -1
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && last != jobs.get()) {
        last = jobs.get(); Thread.sleep(150)
      }
      // 1 tier-probe job (limit(1).collect()), then chain 1-2-3 with
      // pointer jumping converges in 2 iterations (one change round —
      // neighbour min + jump resolve 3→1 together — then one verify
      // round): exactly one fused materialize+count job each. Plain
      // propagation would take 3.
      assert(jobs.get() == 3, s"expected 3 jobs, saw ${jobs.get()}")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("canonicalize on the real corpus keeps exactly one survivor per planted cluster") {
    val docs = sf("sf0.01").documents
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val labels = Dedup.canonicalize(docs.select("doc_id"), "doc_id", pairs)
    val survivors = labels.where($"canonical_id" === $"id").count()
    val total = docs.count()
    val dups = labels.where($"canonical_id" =!= $"id").count()
    assert(survivors + dups == total)
    // 25 planted pairs, one of them a 3-doc triangle {45,267,413}:
    // 47 clustered docs in 23 clusters → 24 non-survivors
    assert(dups == 24)
  }
}
