package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Snapshot, Writers}

/** The snapshot/commit-log layer: atomic commits, reader isolation,
  * crash injection between every pair of protocol steps, and the
  * writers (replaceWindow / replacePeriodWindowWrite / mergeById* /
  * appendPartitioned, then compaction) proven equal to their
  * pure-dataflow twins.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-snap-$tag").toString + "/t"

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "p", "v").as[(Long, String, Long)].collect().toSet

  private def fixture(ids: Range, tag: Long): DataFrame =
    ids.map(i => (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", tag * 1000 + i))
      .toDF("id", "p", "v")

  test("create / append / overwrite round-trip with time travel") {
    val dir = tmp("basic")
    Snapshot.create(spark, dir, fixture(0 until 30, 1), Seq("p"))
    assert(Snapshot.latestVersion(spark, dir).contains(1L))
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 30, 1)))

    Snapshot.append(spark, dir, fixture(100 until 110, 2))
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 30, 1)) ++ rows(fixture(100 until 110, 2)))

    Snapshot.overwrite(spark, dir, fixture(500 until 505, 3))
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(500 until 505, 3)))

    // time travel: every prior version still reads exactly
    assert(rows(Snapshot.readVersion(spark, dir, 1)) == rows(fixture(0 until 30, 1)))
    assert(rows(Snapshot.readVersion(spark, dir, 2)) ==
      rows(fixture(0 until 30, 1)) ++ rows(fixture(100 until 110, 2)))
  }

  test("crash injection: killed between EVERY pair of steps, readers see old XOR new") {
    val points = Seq("data-files-written", "manifest-staged", "manifest-committed")
    for (point <- points) {
      val dir = tmp(s"crash")
      Snapshot.create(spark, dir, fixture(0 until 20, 1), Seq("p"))
      val v1 = rows(Snapshot.read(spark, dir))

      Snapshot.faultHook = p => if (p == point) throw new RuntimeException(s"injected crash at $p")
      try {
        intercept[RuntimeException] {
          Snapshot.overwrite(spark, dir, fixture(0 until 20, 2))
        }
      } finally Snapshot.faultHook = _ => ()

      val seen = rows(Snapshot.read(spark, dir))
      if (point == "manifest-committed") {
        // crash AFTER the rename: the commit happened — new version
        assert(seen == rows(fixture(0 until 20, 2)), s"at $point")
        assert(Snapshot.latestVersion(spark, dir).contains(2L))
      } else {
        // crash before the rename: old version fully intact
        assert(seen == v1, s"at $point")
        assert(Snapshot.latestVersion(spark, dir).contains(1L))
        // the RERUN (same logical write) succeeds and commits cleanly
        Snapshot.overwrite(spark, dir, fixture(0 until 20, 2))
        assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 20, 2)))
        assert(Snapshot.latestVersion(spark, dir).contains(2L))
      }
    }
  }

  test("concurrent reader survives compaction; vacuum then reclaims the old version") {
    val dir = tmp("reader")
    // fragment: many small appends into the same partitions
    Snapshot.create(spark, dir, fixture(0 until 10, 1), Seq("p"))
    (1 to 4).foreach(i => Snapshot.append(spark, dir, fixture(i * 10 until i * 10 + 10, 1)))
    val pinned = Snapshot.read(spark, dir) // pin the pre-compaction manifest
    val expect = rows(pinned)

    val compacted = Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2)
    assert(compacted.toSet == Set("a", "b", "c"))
    // the pinned reader still resolves its OLD files, byte-for-byte
    assert(rows(pinned) == expect)
    assert(rows(Snapshot.read(spark, dir)) == expect) // and the new version agrees
    // compaction actually reduced the live file count
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.files.size == 3, s"expected one file per partition, got ${m.files}")

    // vacuum with zero grace: only the latest version's files survive
    Snapshot.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L)
    // a reclaiming vacuum commits its FLOOR first (tag/vacuum race
    // arbitration), so one metadata version follows the survivor
    assert(Snapshot.versions(spark, dir) == Seq(m.version, m.version + 1))
    assert(rows(Snapshot.read(spark, dir)) == expect)
    intercept[Exception] { rows(pinned) } // pinned files are gone — declared trade
  }

  test("age-based vacuum: versions inside the horizon survive, older reclaim") {
    val dir = tmp("agevac")
    Snapshot.create(spark, dir, fixture(0 until 10, 1), Seq("p"))
    Thread.sleep(1500) // separate the commit stamps by far more than the test's own latency
    Snapshot.append(spark, dir, fixture(10 until 20, 1))
    Thread.sleep(60)
    Snapshot.append(spark, dir, fixture(20 until 30, 1))
    val stamps = Snapshot.versions(spark, dir)
      .map(v => v -> Snapshot.manifest(spark, dir, v).committedAtMicros).toMap
    assert(stamps.values.forall(_ > 0L))
    assert(stamps(2L) - stamps(1L) >= 1000000L)

    // horizon midway between v1's and v2's stamps: v2 and v3 are
    // younger, v1 older, with ~0.75 s of slack for the time between this
    // clock read and the vacuum's. keepVersions = 1, so only the horizon
    // keeps v2 alive.
    val now = System.currentTimeMillis() * 1000L
    Snapshot.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L,
      retainMicros = Some(now - (stamps(1L) + stamps(2L)) / 2))
    assert(Snapshot.versions(spark, dir) == Seq(2L, 3L, 4L)) // v4 = the floor commit
    // the boundary version fully reconstructs (checkpointed before the
    // chain was dropped) and time travel inside the horizon still works
    assert(rows(Snapshot.readVersion(spark, dir, 2L)) == rows(fixture(0 until 20, 1)))
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 30, 1)))

    // a horizon covering nothing: the latest version always survives
    Snapshot.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L,
      retainMicros = Some(0L))
    assert(Snapshot.versions(spark, dir) == Seq(4L, 5L))
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 30, 1)))

    // the SQL surface: RETAIN n DAYS (a wide horizon keeps everything)
    val dir2 = tmp("agevac2")
    Snapshot.create(spark, dir2, fixture(0 until 5, 1), Seq("p"))
    Snapshot.append(spark, dir2, fixture(5 until 10, 1))
    Snapshot.sql(spark, "VACUUM t RETAIN 7 DAYS", Map("t" -> dir2))
    assert(Snapshot.versions(spark, dir2) == Seq(1L, 2L))
    Snapshot.sql(spark, "VACUUM t RETAIN 0 HOURS", Map("t" -> dir2))
    assert(Snapshot.versions(spark, dir2) == Seq(2L, 3L))
  }

  test("merge into a multi-column-partitioned table touches only affected tuples") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val dir = tmp("mcmerge")
    // (p, q) tuple partitioning: p in {a,b,c}, q = id % 2
    def fx(ids: Range, tag: Long) = fixture(ids, tag).withColumn("q", col("id") % 2)
    Snapshot.create(spark, dir, fx(0 until 30, 1).repartition(col("p"), col("q")),
      Seq("p", "q"))
    val m1 = Snapshot.latestManifest(spark, dir).get
    assert(m1.partitionCols == Seq("p", "q"))

    // updates: only EVEN ids of partition p=a (tuples (a,0)) plus brand
    // new ids landing in (a,0)/(a,1) — tuple (a,1) is affected via the
    // inserts, everything under b/c must stay byte-identical
    val updates = fx(0 until 36, 9).where(col("p") === "a")
    Snapshot.mergeByIdPartitioned(spark, dir, updates, "id", Seq("p", "q"),
      assertIdsLocal = true)
    val m2 = Snapshot.latestManifest(spark, dir).get
    val untouched = m1.files.filterNot(f => f.contains("p=a"))
    assert(untouched.nonEmpty && untouched.forall(m2.files.contains),
      "files of unaffected partition tuples must carry over unchanged")
    // dataflow twin: whole-row replace by id over the a-slice only
    val expect = rows(Writers.mergeById(fx(0 until 30, 1), updates, "id"))
    assert(rows(Snapshot.read(spark, dir)) == expect)

    // the SQL star/star route takes the same multi-column path
    val dir2 = tmp("mcmerge2")
    Snapshot.create(spark, dir2, fx(0 until 30, 1).repartition(col("p"), col("q")),
      Seq("p", "q"))
    updates.createOrReplaceTempView("mc_updates")
    Snapshot.sql(spark,
      """MERGE INTO t USING mc_updates u ON t.id = u.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Map("t" -> dir2))
    assert(rows(Snapshot.read(spark, dir2)) == expect)

    // explicit arms (the funnel_live shape) against the same tuple table
    Snapshot.sql(spark,
      "MERGE INTO t USING mc_updates u ON t.id = u.id " +
        "WHEN MATCHED THEN UPDATE SET v = u.v + 1", Map("t" -> dir2))
    val bumped = Snapshot.read(spark, dir2).where(col("p") === "a")
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(bumped.nonEmpty && bumped.forall { case (id, v) => v == 9000L + id + 1L })
  }

  test("routed writers equal their pure-dataflow twins on a snapshot table") {
    // K3 partitioned merge
    val dir = tmp("merge")
    val target = fixture(0 until 40, 1)
    Snapshot.create(spark, dir, target, Seq("p"))
    val updates = fixture(30 until 50, 9) // overlaps partitions, updates + inserts
    Writers.mergeByIdWritePartitioned(spark, dir, updates, "id", "p", assertIdsLocal = true)
    assert(rows(Snapshot.read(spark, dir)) == rows(Writers.mergeById(target, updates, "id")))
    assert(Snapshot.latestVersion(spark, dir).contains(2L))

    // K3 full merge through mergeByIdWrite
    val dir2 = tmp("merge2")
    Snapshot.create(spark, dir2, target, Seq("p"))
    Writers.mergeByIdWrite(spark, dir2, updates, "id")
    assert(rows(Snapshot.read(spark, dir2)) == rows(Writers.mergeById(target, updates, "id")))

    // appends then compaction — identical data, fewer files
    val dir3 = tmp("compact")
    Snapshot.create(spark, dir3, fixture(0 until 10, 1), Seq("p"))
    (1 to 3).foreach(i => Writers.appendPartitioned(fixture(i * 10 until i * 10 + 10, 1), dir3, "p"))
    val before = rows(Snapshot.read(spark, dir3))
    val done = Snapshot.compact(spark, dir3, targetBytes = 1L << 30, minFiles = 2)
    assert(done.nonEmpty)
    assert(rows(Snapshot.read(spark, dir3)) == before)
  }

  test("routed dual-window replace equals replacePeriodWindow dataflow, atomically") {
    val dir = tmp("dual")
    def mk(rs: Seq[(String, String, Long)]): DataFrame =
      rs.toDF("periodo", "fecha", "n")
    val existing = mk(Seq(
      ("diario", "2021-03-01", 1L), ("diario", "2021-03-10", 2L), ("diario", "2021-03-20", 3L),
      ("mensual", "2021-02-01", 10L), ("mensual", "2021-03-01", 20L)))
    Snapshot.create(spark, dir, existing, Seq("periodo", "fecha"))

    val cutoff = lit("2021-03-15").cast("string")
    // replacement: re-extract from the cutoff; the 2021-03-20 day came
    // back EMPTY (must be deleted) and the month-to-date row recomputes
    val replacement = mk(Seq(
      ("diario", "2021-03-16", 4L), ("mensual", "2021-03-01", 21L)))
    Writers.replacePeriodWindowWrite(spark, dir, replacement, "fecha", "periodo", cutoff)

    val want = Writers.replacePeriodWindow(existing, replacement, "fecha", "periodo", cutoff)
      .as[(String, String, Long)].collect().toSet
    val got = Snapshot.read(spark, dir).as[(String, String, Long)].collect().toSet
    assert(got == want)
    // the doomed-but-not-replaced day is gone; pre-window days intact
    assert(!got.exists(r => r._1 == "diario" && r._2 == "2021-03-20"))
    assert(got.exists(r => r._1 == "diario" && r._2 == "2021-03-01"))
    // exactly one atomic commit happened
    assert(Snapshot.latestVersion(spark, dir).contains(2L))

    // and the whole replace is crash-atomic: kill before the commit,
    // table unchanged; rerun lands the full replace
    val dirC = tmp("dualcrash")
    Snapshot.create(spark, dirC, existing, Seq("periodo", "fecha"))
    Snapshot.faultHook = p => if (p == "manifest-staged") throw new RuntimeException("crash")
    try intercept[RuntimeException] {
      Writers.replacePeriodWindowWrite(spark, dirC, replacement, "fecha", "periodo", cutoff)
    } finally Snapshot.faultHook = _ => ()
    assert(Snapshot.read(spark, dirC).as[(String, String, Long)].collect().toSet ==
      existing.as[(String, String, Long)].collect().toSet)
    Writers.replacePeriodWindowWrite(spark, dirC, replacement, "fecha", "periodo", cutoff)
    assert(Snapshot.read(spark, dirC).as[(String, String, Long)].collect().toSet == want)
  }

  test("null and hive-escaped partition values round-trip through the snapshot layer") {
    val dir = tmp("esc")
    val df = Seq((1L, "a:b", 1L), (2L, null: String, 2L), (3L, "plain", 3L), (4L, "a:b", 4L))
      .toDF("id", "p", "v")
    Snapshot.create(spark, dir, df, Seq("p"))
    val back = Snapshot.read(spark, dir)
    assert(rows(back) == rows(df))
    assert(back.where(col("p").isNull).count() == 1)
    // merge into the escaped and null partitions
    val upd = Seq((1L, "a:b", 100L), (2L, null: String, 200L)).toDF("id", "p", "v")
    Writers.mergeByIdWritePartitioned(spark, dir, upd, "id", "p")
    val after = rows(Snapshot.read(spark, dir))
    assert(after == rows(Writers.mergeById(df, upd, "id")))
  }

  test("cross-process commit race: exactly one of two racing committers wins, on both guard dialects") {
    import java.util.concurrent.{CyclicBarrier, ConcurrentHashMap, Executors, Semaphore, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}

    // Two committers in separate "processes": neither sees the JVM
    // commit lock — the injected guard is the ONLY coordination, and it
    // holds a barrier open until BOTH have staged their manifest and
    // entered the publish window (the exact race the default local-FS
    // guard cannot close across JVMs). Two substrate dialects:
    //
    //  - conditional put (object-store If-None-Match / HDFS
    //    rename-no-overwrite): the store itself picks one winner
    //    atomically — here a shared putIfAbsent plays the store;
    //  - overwrite-rename local FS fronted by a lock service: the
    //    rename is blind, mutual exclusion comes from a one-lease
    //    service (here a semaphore), and the exists probe under the
    //    lease detects the earlier winner.
    final class ConditionalPutGuard extends Snapshot.CommitGuard {
      private val barrier = new CyclicBarrier(2)
      private val placed = new ConcurrentHashMap[String, String]()
      override def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean = {
        barrier.await(30, TimeUnit.SECONDS)
        if (placed.putIfAbsent(target.toString, tmp.toString) != null) false
        else { assert(fs.rename(tmp, target)); true }
      }
    }
    final class LockServiceGuard extends Snapshot.CommitGuard {
      private val barrier = new CyclicBarrier(2)
      private val lease = new Semaphore(1)
      override def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean = {
        barrier.await(30, TimeUnit.SECONDS)
        lease.acquire()
        try {
          if (fs.exists(target)) false
          else { assert(fs.rename(tmp, target)); true }
        } finally lease.release()
      }
    }

    for ((name, guard) <- Seq[(String, Snapshot.CommitGuard)](
      "conditional-put" -> new ConditionalPutGuard,
      "lock-service" -> new LockServiceGuard)) {
      val dir = tmp(s"race-$name")
      Snapshot.create(spark, dir, fixture(0 until 20, 1), Seq("p"))
      Snapshot.commitGuard = guard
      val outcomes =
        try {
          val pool = Executors.newFixedThreadPool(2)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          // both overwrites derive from v1 and target v2; both stage;
          // the guard forces them into the publish window together
          val fs = Seq(2L, 3L).map { tag =>
            Future {
              try Right(Snapshot.overwrite(spark, dir, fixture(0 until 20, tag)) -> tag)
              catch { case e: Snapshot.CommitConflictException => Left(e) }
            }
          }
          val r = Await.result(Future.sequence(fs), 300.seconds)
          pool.shutdown()
          r
        } finally Snapshot.commitGuard = Snapshot.JvmLockedRenameGuard

      val (losers, winners) = outcomes.partition(_.isLeft)
      assert(winners.size == 1 && losers.size == 1, s"dialect $name: $outcomes")
      val (v, winnerTag) = winners.head.toOption.get
      assert(v == 2L, s"dialect $name")
      // the surviving version is the winner's rows, COMPLETE — no torn
      // manifest, no rows from the refused committer
      assert(Snapshot.latestVersion(spark, dir).contains(2L), s"dialect $name")
      assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 20, winnerTag)),
        s"dialect $name")
      // and the table still accepts the next commit normally
      Snapshot.append(spark, dir, fixture(100 until 105, 9))
      assert(Snapshot.latestVersion(spark, dir).contains(3L), s"dialect $name")
    }
  }

  test("commit retry budget: a lost publish rebases at most 10 times, a no-op publishes nothing") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}

    // a substrate where a concurrent committer wins the slot for the
    // first `refusals` publishes; after that it publishes normally
    final class RefusingGuard(refusals: Int) extends Snapshot.CommitGuard {
      var publishes = 0
      override def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean = {
        publishes += 1
        publishes > refusals && Snapshot.JvmLockedRenameGuard.publish(fs, tablePath, tmp, target)
      }
    }
    def under[T](guard: Snapshot.CommitGuard)(body: => T): T = {
      val prev = Snapshot.commitGuard
      Snapshot.commitGuard = guard
      try body finally Snapshot.commitGuard = prev
    }

    val dir = tmp("retry")
    Snapshot.create(spark, dir, fixture(0 until 20, 1), Seq("p"))

    // metadata commit: two refusals, then one new version
    val props = new RefusingGuard(2)
    assert(under(props)(Snapshot.setProperties(spark, dir, Map("owner" -> "etl"))) == 2L)
    assert(props.publishes == 3)
    assert(Snapshot.latestManifest(spark, dir).get.properties.get("owner").contains("etl"))

    // append: two refusals, then one new version holding every row
    val app = new RefusingGuard(2)
    assert(under(app)(Snapshot.append(spark, dir, fixture(100 until 110, 2))) == 3L)
    assert(app.publishes == 3)
    assert(Snapshot.latestVersion(spark, dir).contains(3L))
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 20, 1)) ++ rows(fixture(100 until 110, 2)))

    // a slot that is never won: the first publish plus 10 retries, then
    // the conflict surfaces and the table is untouched
    val never = new RefusingGuard(Int.MaxValue)
    intercept[Snapshot.CommitConflictException] {
      under(never)(Snapshot.addConstraint(spark, dir, "v_nonneg", "v >= 0"))
    }
    assert(never.publishes == 11)
    assert(Snapshot.latestVersion(spark, dir).contains(3L))
    assert(Snapshot.latestManifest(spark, dir).get.constraints.isEmpty)

    // a no-op (the clustering already declared) commits nothing
    assert(Snapshot.setClusterBy(spark, dir, Seq("id")) == 4L)
    val noop = new RefusingGuard(0)
    assert(under(noop)(Snapshot.setClusterBy(spark, dir, Seq("id"))) == 4L)
    assert(noop.publishes == 0)
  }
}
