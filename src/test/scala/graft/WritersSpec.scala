package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Snapshot, Writers}

/** The K1/K2/K3 writers persist snapshot tables: every assertion reads
  * back through `Snapshot.read`, layout checks read the manifest.
  */
class WritersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-writers").toString

  /** Live files of `path` whose partition `col` has value `v`. */
  private def filesIn(path: String, col: String, v: String): Seq[String] = {
    val m = Snapshot.latest(spark, path)
    m.files.filter(Snapshot.partitionValues(m.partitionCols, _).get(col).contains(v)).sorted
  }

  test("K2 replaceWindow rewrites only the partitions present in the new data, idempotently") {
    val path = tmp() + "/t"
    val day1 = Seq(("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0)).toDF("fecha", "id", "v")
    val day2 = Seq(("2024-01-02", 3L, 30.0)).toDF("fecha", "id", "v")
    Writers.appendPartitioned(day1.unionByName(day2), path, "fecha")
    // re-ingest day2 with corrected values — day1 must survive untouched
    val fixed = Seq(("2024-01-02", 3L, 99.0), ("2024-01-02", 4L, 1.0)).toDF("fecha", "id", "v")
    Writers.replaceWindow(fixed, path, "fecha")
    Writers.replaceWindow(fixed, path, "fecha") // rerun = idempotent
    val out = Snapshot.read(spark, path).select("id", "v", "fecha")
    assert(out.count() == 4)
    assert(out.where($"fecha" === "2024-01-01").count() == 2)
    assert(out.where($"fecha" === "2024-01-02").as[(Long, Double, String)].collect().map(_._2).sorted.toSeq == Seq(1.0, 99.0))
  }

  test("K2 per-periodo dual window: daily replaced from cutoff, mensual from month start, idempotently") {
    val path = tmp() + "/t"
    def ts(s: String) = s"$s 00:00:00"
    // existing table: dailies across two months + the two month rows
    val existing = Seq(
      ("diario", ts("2024-05-30"), 1.0), ("diario", ts("2024-06-10"), 2.0),
      ("diario", ts("2024-06-20"), 3.0), ("mensual", ts("2024-05-01"), 50.0),
      ("mensual", ts("2024-06-01"), 60.0)
    ).toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    Snapshot.create(spark, path, existing, Seq("periodo", "fecha"))
    // re-ingest with cutoff 2024-06-15: dailies >= 06-15 replaced,
    // mensual June recomputed WHOLE (from 06-01) — the asymmetry
    val replacement = Seq(
      ("diario", ts("2024-06-20"), 33.0), ("mensual", ts("2024-06-01"), 66.0)
    ).toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    val cutoff = lit("2024-06-15").cast("timestamp")
    Writers.replacePeriodWindowWrite(spark, path, replacement, "fecha", "periodo", cutoff)
    Writers.replacePeriodWindowWrite(spark, path, replacement, "fecha", "periodo", cutoff) // rerun
    val out = Snapshot.read(spark, path).select("periodo", "fecha", "v")
      .as[(String, java.sql.Timestamp, Double)].collect()
      .map { case (p, f, v) => (p, f.toString.take(10), v) }.toSet
    assert(out == Set(
      ("diario", "2024-05-30", 1.0),   // before cutoff: kept
      ("diario", "2024-06-10", 2.0),   // before cutoff, same month: kept
      ("diario", "2024-06-20", 33.0),  // inside window: replaced
      ("mensual", "2024-05-01", 50.0), // prior month: kept
      ("mensual", "2024-06-01", 66.0)  // cutoff month: replaced whole
    ))
  }

  test("K2 dual-window publication is physically partitioned on (periodo, fecha)") {
    val path = tmp() + "/t"
    def ts(s: String) = s"$s 00:00:00"
    val rows = Seq(("diario", ts("2024-06-10"), 1.0), ("mensual", ts("2024-06-01"), 2.0))
      .toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    Writers.replacePeriodWindowWrite(spark, path, rows, "fecha", "periodo",
      lit("2024-06-01").cast("timestamp"))
    // partition pruning at 100 TB needs REAL hive-layout directories:
    // every live file sits under periodo=<p>/fecha=<f>
    val m = Snapshot.latest(spark, path)
    assert(m.partitionCols == Seq("periodo", "fecha"))
    assert(m.files.nonEmpty && m.files.forall(f =>
      f.split('/').drop(1).dropRight(1).map(_.takeWhile(_ != '=')).toSeq == Seq("periodo", "fecha")))
    assert(m.files.map(Snapshot.partitionValues(m.partitionCols, _)("periodo")).toSet ==
      Set("diario", "mensual"))
    // read-back recovers values and the declared types
    val back = Snapshot.read(spark, path).select("periodo", "fecha", "v")
      .as[(String, java.sql.Timestamp, Double)].collect()
      .map { case (p, f, v) => (p, f.toString.take(10), v) }.toSet
    assert(back == Set(("diario", "2024-06-10", 1.0), ("mensual", "2024-06-01", 2.0)))
  }

  test("K2 dual-window rerun keeps a STRING fecha a string") {
    // a 'yyyy-MM-dd' partition value is stored as text; the table keeps
    // the replacement's declared STRING type, so the rerun's doomed
    // predicate and the read-back both see strings, never dates
    val path = tmp() + "/t"
    val rows = Seq(("diario", "2024-06-10", 1.0), ("diario", "2024-06-20", 2.0))
      .toDF("periodo", "fecha", "v")
    Writers.replacePeriodWindowWrite(spark, path, rows, "fecha", "periodo", lit("2024-06-01"))
    val fixed = Seq(("diario", "2024-06-20", 22.0)).toDF("periodo", "fecha", "v")
    Writers.replacePeriodWindowWrite(spark, path, fixed, "fecha", "periodo", lit("2024-06-15"))
    val back = Snapshot.read(spark, path)
    assert(back.schema("fecha").dataType == org.apache.spark.sql.types.StringType)
    assert(back.select($"fecha", $"v").as[(String, Double)].collect().toSet ==
      Set(("2024-06-10", 1.0), ("2024-06-20", 22.0)))
  }

  test("K3 partition-restricted merge: assertIdsLocal detects an id that moved partitions") {
    val path = tmp() + "/t"
    val base = Seq(("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "b")).toDF("fecha", "id", "v")
    Writers.mergeByIdWritePartitioned(spark, path, base, "id", "fecha")
    // id 2 arrives under a DIFFERENT fecha: the contract is violated
    val moved = Seq(("2024-01-03", 2L, "B")).toDF("fecha", "id", "v")
    intercept[IllegalArgumentException] {
      Writers.mergeByIdWritePartitioned(spark, path, moved, "id", "fecha", assertIdsLocal = true)
    }
    // without the (full-scan) assertion the documented failure mode is
    // a duplicate id — the old partition is never opened
    Writers.mergeByIdWritePartitioned(spark, path, moved, "id", "fecha")
    assert(Snapshot.read(spark, path).where($"id" === 2L).count() == 2)
  }

  test("K3 partition-restricted merge into the NULL partition keeps its untouched rows") {
    // three-valued isin: with a naive affected-read, a merge touching
    // the null partition reads an EMPTY affected slice and the swap
    // then drops the partition's kept rows
    val path = tmp() + "/t"
    val base = Seq((null.asInstanceOf[String], 1L, "a"), (null.asInstanceOf[String], 2L, "b"),
      ("2024-01-02", 3L, "c")).toDF("fecha", "id", "v")
    Writers.mergeByIdWritePartitioned(spark, path, base, "id", "fecha")
    val updates = Seq((null.asInstanceOf[String], 2L, "B")).toDF("fecha", "id", "v")
    Writers.mergeByIdWritePartitioned(spark, path, updates, "id", "fecha", assertIdsLocal = true)
    val out = Snapshot.read(spark, path).select("id", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c")) // id 1 survived the null-partition rewrite
  }

  test("K3 mergeById: updates win on collision, unmatched target rows survive") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "B"), (3L, "C")).toDF("id", "v")
    val merged = Writers.mergeById(target, updates, "id")
      .as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("K3 mergeByIdWrite creates its table on the first write and is rerunnable") {
    val path = tmp() + "/t"
    Writers.mergeByIdWrite(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")
    Writers.mergeByIdWrite(spark, path, Seq((2L, "B"), (3L, "C")).toDF("id", "v"), "id")
    val out = Snapshot.read(spark, path).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("K3 partition-restricted merge rewrites only touched partitions") {
    val path = tmp() + "/t"
    val base = Seq(("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"), ("2024-01-02", 3L, "c"))
      .toDF("fecha", "id", "v")
    Writers.mergeByIdWritePartitioned(spark, path, base, "id", "fecha")
    val untouchedFiles = filesIn(path, "fecha", "2024-01-02")
    assert(untouchedFiles.nonEmpty)
    // updates touch only the 2024-01-01 partition
    val updates = Seq(("2024-01-01", 2L, "B"), ("2024-01-01", 4L, "d")).toDF("fecha", "id", "v")
    Writers.mergeByIdWritePartitioned(spark, path, updates, "id", "fecha")
    val out = Snapshot.read(spark, path).select("id", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    assert(filesIn(path, "fecha", "2024-01-02") == untouchedFiles,
      "untouched partition was rewritten")
  }

  test("K1 appendPartitioned clusters within partitions without changing content") {
    val path = tmp() + "/t"
    val df = Seq(("2024-01-01", 3L), ("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("fecha", "id")
    Writers.appendPartitioned(df, path, "fecha", clusterBy = Seq("id"))
    val out = Snapshot.read(spark, path)
    assert(out.count() == 3)
    assert(out.select(sum($"id")).as[Long].head() == 6L)
  }

  test("every persisting writer refuses a plain parquet directory and names Snapshot.importParquet") {
    val path = tmp() + "/t"
    val rows = Seq(("2024-01-01", "diario", 1L, 1.0)).toDF("fecha", "periodo", "id", "v")
    rows.write.partitionBy("fecha").parquet(path)
    val before = spark.read.parquet(path).collect().toSet
    val writes: Seq[(String, () => Unit)] = Seq(
      "appendPartitioned" -> (() => Writers.appendPartitioned(rows, path, "fecha")),
      "replaceWindow" -> (() => Writers.replaceWindow(rows, path, "fecha")),
      "replacePeriodWindowWrite" -> (() => Writers.replacePeriodWindowWrite(
        spark, path, rows, "fecha", "periodo", lit("2024-01-01"))),
      "mergeByIdWrite" -> (() => Writers.mergeByIdWrite(spark, path, rows, "id")),
      "mergeByIdWritePartitioned" -> (() =>
        Writers.mergeByIdWritePartitioned(spark, path, rows, "id", "fecha")),
      "windowKeyedSink" -> (() => graft.sources.Fetch.windowKeyedSink(path)(rows,
        java.time.LocalDateTime.parse("2024-01-01T00:00"),
        java.time.LocalDateTime.parse("2024-01-02T00:00"))))
    writes.foreach { case (name, write) =>
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("Snapshot.importParquet"), s"$name: ${e.getMessage}")
    }
    // nothing was written: no log, and the plain files read as before
    assert(!new java.io.File(path, Snapshot.LogDirName).exists())
    assert(spark.read.parquet(path).collect().toSet == before)
  }

  test("a writer keyed on other partition columns than the table's refuses") {
    // (periodo, fecha) table: replacing by fecha alone would only swap
    // the tuples the frame holds and leave stale periodos behind
    val path = tmp() + "/t"
    val rows = Seq(("diario", "2024-06-10", 1.0), ("mensual", "2024-06-01", 2.0))
      .toDF("periodo", "fecha", "v")
    Snapshot.create(spark, path, rows, Seq("periodo", "fecha"))
    val fix = Seq(("diario", "2024-06-10", 9.0)).toDF("periodo", "fecha", "v")
    intercept[IllegalArgumentException](Writers.replaceWindow(fix, path, Seq("fecha")))
    intercept[IllegalArgumentException](Writers.replaceWindow(fix, path, "fecha"))
    intercept[IllegalArgumentException](Writers.appendPartitioned(fix, path, "fecha"))
    assert(Snapshot.latestVersion(spark, path).contains(1L))
    // the table's own key still replaces
    Writers.replaceWindow(fix, path, Seq("periodo", "fecha"))
    assert(Snapshot.read(spark, path).as[(String, String, Double)].collect().toSet ==
      Set(("diario", "2024-06-10", 9.0), ("mensual", "2024-06-01", 2.0)))
  }

  test("importParquet then replaceWindow and mergeByIdWritePartitioned equal their dataflow twins") {
    val path = tmp() + "/t"
    val existing = (0 until 30).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toDF("id", "v", "p")
    existing.repartition(2).write.partitionBy("p").parquet(path)
    Snapshot.importParquet(spark, path, path, Seq("p"))
    val base = Snapshot.read(spark, path).select("id", "v", "p")
    val baseRows = base.as[(Long, String, String)].collect().toSet
    // K2: partition p1 is replaced whole, p0/p2 stay
    val window = Seq((100L, "w", "p1"), (101L, "w", "p1")).toDF("id", "v", "p")
    Writers.replaceWindow(window, path, "p")
    val afterReplace = Snapshot.read(spark, path).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet
    assert(afterReplace == baseRows.filterNot(_._3 == "p1") ++
      window.as[(Long, String, String)].collect().toSet)
    // K3: ids already in p0 update in place, a new id inserts
    val prior = Snapshot.read(spark, path).select("id", "v", "p") // pinned to this version
    val updates = Seq((0L, "u", "p0"), (3L, "u", "p0"), (200L, "u", "p2")).toDF("id", "v", "p")
    Writers.mergeByIdWritePartitioned(spark, path, updates, "id", "p", assertIdsLocal = true)
    assert(Snapshot.read(spark, path).select("id", "v", "p").as[(Long, String, String)]
      .collect().toSet ==
      Writers.mergeById(prior, updates, "id").as[(Long, String, String)].collect().toSet)
  }

  test("two concurrent first writes to an absent path both land, once each") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val path = tmp() + "/t"
    // both creates reach the version-1 publish before either lands, so
    // one of them must lose the create race and fall through
    val barrier = new CyclicBarrier(2)
    Snapshot.commitGuard = new Snapshot.CommitGuard {
      override def publish(fs: FileSystem, tablePath: String, tmp: HPath, target: HPath): Boolean = {
        if (target.getName == "v00000001.json") barrier.await(60, TimeUnit.SECONDS)
        Snapshot.JvmLockedRenameGuard.publish(fs, tablePath, tmp, target)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val batches = Seq(
        Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("fecha", "id"),
        Seq(("2024-01-02", 3L), ("2024-01-03", 4L)).toDF("fecha", "id"))
      Await.result(Future.sequence(batches.map(b =>
        Future(Writers.appendPartitioned(b, path, "fecha")))), 3.minutes)
    } finally {
      Snapshot.commitGuard = Snapshot.JvmLockedRenameGuard
      pool.shutdown()
    }
    assert(Snapshot.read(spark, path).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // one create and two appends: the lost create committed nothing
    assert(Snapshot.latestVersion(spark, path).contains(3L))
  }

  test("a first write that crashes after its data write reruns cleanly") {
    val path = tmp() + "/t"
    val rows = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("fecha", "id")
    Snapshot.faultHook = stage =>
      if (stage == "data-files-written") throw new RuntimeException("injected crash")
    try intercept[RuntimeException](Writers.appendPartitioned(rows, path, "fecha"))
    finally Snapshot.faultHook = _ => ()
    // the crash left a data directory and no committed version
    assert(new java.io.File(path).list().exists(_.startsWith("txn-")))
    assert(Snapshot.latestVersion(spark, path).isEmpty)
    Writers.appendPartitioned(rows, path, "fecha")
    assert(Snapshot.read(spark, path).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("a first write that starts after another first write's data write joins its race") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = tmp() + "/t"
    val first = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("fecha", "id")
    val second = Seq(("2024-01-02", 3L), ("2024-01-03", 4L)).toDF("fecha", "id")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val firstThread = Thread.currentThread()
    @volatile var fired = false
    // the first create has written its data directory but not its log:
    // the second writer runs to completion inside that window
    Snapshot.faultHook = stage =>
      if (stage == "data-files-written" && Thread.currentThread() == firstThread && !fired) {
        fired = true
        assert(!new java.io.File(path, Snapshot.LogDirName).exists())
        Await.result(Future(Writers.appendPartitioned(second, path, "fecha")), 3.minutes)
      }
    try Writers.appendPartitioned(first, path, "fecha")
    finally { Snapshot.faultHook = _ => (); pool.shutdown() }
    assert(fired)
    assert(Snapshot.read(spark, path).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // the second writer's create and append, then the first one's append
    assert(Snapshot.latestVersion(spark, path).contains(3L))
  }
}
