package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** Manifest data skipping ([[graft.operators.SnapshotStats]]) and the
  * version change feed: pruning must be sound (readWhere ≡ read +
  * filter, always), effective (a range-laid-out table skips most
  * files), conservative under anything the walker can't reason about,
  * and the CDC view must reproduce exactly the rows that changed.
  */
class SnapshotStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-snapstats-$tag").toString + "/t"

  /** 16 range-disjoint files over id 0..1599 (repartitionByRange on id
    * gives each file a tight, non-overlapping id span).
    */
  private def rangeTable(dir: String): Unit = {
    val df = (0 until 1600).map { i =>
      (i.toLong, s"u${"%04d".format(i)}", i.toDouble / 10.0,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 20)),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 60L)),
        i % 2 == 0, if (i < 30) null else s"tag${i % 7}")
    }.toDF("id", "name", "score", "d", "ts", "flag", "tag")
      .repartitionByRange(16, col("id"))
    Snapshot.create(spark, dir, df)
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("range predicate prunes most files; result identical to full filter") {
    val dir = tmp("range")
    rangeTable(dir)
    val pred = col("id").between(100L, 180L)
    val (kept, total) = Snapshot.pruneFiles(spark, dir, pred)
    assert(total == 16, s"expected 16 files, got $total")
    assert(kept.size <= 2, s"expected <=2 files kept for a 5% range, got ${kept.size}")
    assertSame(Snapshot.readWhere(spark, dir, pred), Snapshot.read(spark, dir).where(pred))
    // the residual filter must ALSO push into the parquet scan of the
    // kept files (row-group pruning under the file pruning): the
    // identity cast to the table schema can't block pushdown
    val plan = Snapshot.readWhere(spark, dir, pred).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,100), LessThanOrEqual(id,180)]"),
      s"predicate did not reach the scan:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString}")
  }

  test("every supported type prunes and stays sound") {
    val dir = tmp("types")
    rangeTable(dir)
    val full = Snapshot.read(spark, dir)
    val preds = Seq(
      col("id") === 777L,
      col("name") < "u0100",
      col("name").startsWith("u15"),
      col("score") >= 150.0,
      col("d") === lit(java.sql.Date.valueOf("2024-02-15")),
      col("ts") > lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T00:00:00Z"))),
      col("tag").isNull,
      lit(200L) > col("id"), // literal-on-left orientation
      col("id").isin(3L, 4L, 1500L))
    for (p <- preds) {
      val (kept, total) = Snapshot.pruneFiles(spark, dir, p)
      assert(kept.size < total, s"no pruning for $p")
      assertSame(Snapshot.readWhere(spark, dir, p), full.where(p))
    }
    // boolean: both values present everywhere -> keeps all, still sound
    assertSame(Snapshot.readWhere(spark, dir, col("flag") === true), full.where(col("flag") === true))
  }

  test("compound, negated and unknown predicates stay conservative-correct") {
    val dir = tmp("compound")
    rangeTable(dir)
    val full = Snapshot.read(spark, dir)
    val cases = Seq(
      col("id") < 50L || col("id") > 1550L,                     // OR of two skippable ranges
      col("id") < 50L && col("name") =!= "u0003",               // AND with Not(EqualTo)
      !(col("id") === 5L),
      length(col("name")) === 5,                                // unknown shape: no pruning
      col("id") < 50L || length(col("name")) === 5,             // OR with unknown arm: keeps all
      col("tag").isNotNull && col("id") <= 10L)
    for (p <- cases) assertSame(Snapshot.readWhere(spark, dir, p), full.where(p))
    // the OR of two ranges must still prune the middle files
    val (kept, total) = Snapshot.pruneFiles(spark, dir, col("id") < 50L || col("id") > 1550L)
    assert(kept.size < total)
    // an OR with an un-walkable arm must keep everything
    val (keptAll, total2) = Snapshot.pruneFiles(spark, dir, col("id") < 50L || length(col("name")) === 5)
    assert(keptAll.size == total2)
  }

  test("expr(...) string predicates prune too") {
    val dir = tmp("sqlpred")
    rangeTable(dir)
    val full = Snapshot.read(spark, dir)
    val preds = Seq(
      expr("id BETWEEN 100 AND 180"),
      expr("id < 50 OR id > 1550"),
      expr("name >= 'u1500' AND NOT (id = 1501)"),
      expr("d = DATE'2024-02-15'"),
      expr("ts > TIMESTAMP'2024-01-02 00:00:00'"),
      expr("id IN (3, 4, 1500)"))
    for (p <- preds) {
      val (kept, total) = Snapshot.pruneFiles(spark, dir, p)
      assert(kept.size < total, s"no pruning for $p")
      assertSame(Snapshot.readWhere(spark, dir, p), full.where(p))
    }
    // un-walkable SQL stays a full conservative scan
    assertSame(Snapshot.readWhere(spark, dir, expr("length(name) = 5")),
      full.where(expr("length(name) = 5")))
  }

  test("partition-value predicates prune through the same path") {
    val dir = tmp("parts")
    val df = (0 until 300).map(i => (i.toLong, s"p${i % 3}", i.toDouble)).toDF("id", "p", "v")
    Snapshot.create(spark, dir, df, Seq("p"))
    val (kept, total) = Snapshot.pruneFiles(spark, dir, col("p") === "p1")
    assert(kept.size < total && kept.nonEmpty)
    assert(kept.forall(_.contains("p=p1")))
    assertSame(Snapshot.readWhere(spark, dir, col("p") === "p1"),
      Snapshot.read(spark, dir).where(col("p") === "p1"))
  }

  test("a stats-less manifest (older layout) reads fine and skips nothing") {
    val dir = tmp("compat")
    rangeTable(dir)
    // strip the stats node from the manifest on disk, as a pre-stats
    // version of this layer would have written it
    val log = new java.io.File(s"$dir/${Snapshot.LogDirName}")
    val mf = log.listFiles().filter(_.getName.matches("v\\d{8}\\.json")).head
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(mf).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("stats")
    java.nio.file.Files.write(mf.toPath, mapper.writeValueAsBytes(root))
    // drop the local-fs checksum shadow, stale after the direct rewrite
    new java.io.File(log, s".${mf.getName}.crc").delete()
    val pred = col("id").between(100L, 180L)
    val (kept, total) = Snapshot.pruneFiles(spark, dir, pred)
    assert(kept.size == total, "stats-less manifest must keep every file")
    assertSame(Snapshot.readWhere(spark, dir, pred), Snapshot.read(spark, dir).where(pred))
  }

  test("stats survive append / replacePartitions and pin to the read version") {
    val dir = tmp("evolve")
    val mk = (lo: Int, hi: Int, p: String) =>
      (lo until hi).map(i => (i.toLong, p, i.toDouble)).toDF("id", "p", "v")
    Snapshot.create(spark, dir, mk(0, 100, "a"), Seq("p"))
    Snapshot.append(spark, dir, mk(100, 200, "b"))
    Snapshot.replacePartitions(spark, dir, mk(200, 300, "a"), _ => false)
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.files.nonEmpty && m.files.forall(m.stats.contains),
      s"every live file needs stats: ${m.files.filterNot(m.stats.contains)}")
    // old partition-a rows replaced: id<100 must be provably gone
    val (kept, _) = Snapshot.pruneFiles(spark, dir, col("id") < 100L)
    assert(kept.isEmpty, s"replaced files still matching: $kept")
    // but the pinned old version still prunes with its own stats
    val (keptV2, totalV2) = Snapshot.pruneFiles(spark, dir, col("id") < 100L, version = Some(2L))
    assert(keptV2.nonEmpty && keptV2.size < totalV2)
  }

  test("change feed: appends are exact row-level inserts") {
    val dir = tmp("cdc-append")
    val mk = (lo: Int, hi: Int, tag: Long) =>
      (lo until hi).map(i => (i.toLong, tag * 1000 + i)).toDF("id", "v")
    Snapshot.create(spark, dir, mk(0, 50, 1))
    Snapshot.append(spark, dir, mk(50, 80, 2))
    Snapshot.append(spark, dir, mk(80, 90, 3))
    val ch = Snapshot.readChanges(spark, dir, 1L, 3L)
    assert(ch.where(col("_change_type") === "delete").isEmpty)
    assertSame(ch.where(col("_change_type") === "insert").drop("_change_type"),
      mk(50, 80, 2).unionAll(mk(80, 90, 3)))
  }

  test("change feed: compaction nets to zero; merge nets to the true row changes") {
    val dir = tmp("cdc-net")
    val base = (0 until 200).map(i => (i.toLong, s"p${i % 2}", i.toDouble)).toDF("id", "p", "v")
      .repartition(6)
    Snapshot.create(spark, dir, base, Seq("p"))
    // compaction rewrite: file-level delete+insert of identical rows
    Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2)
    val v2 = Snapshot.latestVersion(spark, dir).get
    assert(Snapshot.readChanges(spark, dir, 1L, v2, net = true).isEmpty,
      "a pure rewrite must net to no changes")
    assert(Snapshot.readChanges(spark, dir, 1L, v2).count() > 0,
      "file-level feed does show the rewrite")
    // a real merge: updated rows appear as delete(old)+insert(new)
    val upd = Seq((10L, "p0", 99999.0)).toDF("id", "p", "v")
    Snapshot.mergeById(spark, dir, upd, "id", "p")
    val v3 = Snapshot.latestVersion(spark, dir).get
    val net = Snapshot.readChanges(spark, dir, v2, v3, net = true)
    val ins = net.where(col("_change_type") === "insert").select("id", "p", "v").as[(Long, String, Double)].collect().toSet
    val del = net.where(col("_change_type") === "delete").select("id", "p", "v").as[(Long, String, Double)].collect().toSet
    assert(ins == Set((10L, "p0", 99999.0)))
    assert(del == Set((10L, "p0", 10.0)))
  }

  test("z-order compaction tightens pruning without changing values") {
    val dir = tmp("zcompact")
    // 8 appends, each spanning the FULL (x, y) domain — the interleaved
    // layout hourly appends produce: every file's min/max covers
    // everything, so nothing can be skipped
    val mk = (seed: Int) => (0 until 500).map { i =>
      val x = (i * 37 + seed * 131) % 1000
      val y = (i * 91 + seed * 17) % 1000
      (seed * 1000L + i, "p0", x.toLong, y.toLong)
    }.toDF("id", "p", "x", "y")
    Snapshot.create(spark, dir, mk(0).coalesce(1), Seq("p"))
    (1 until 8).foreach(s => Snapshot.append(spark, dir, mk(s).coalesce(1)))
    val box = col("x").between(100L, 200L) && col("y").between(100L, 200L)
    val before = Snapshot.pruneFiles(spark, dir, box)
    assert(before._1.size == before._2, "interleaved appends: nothing skippable")
    val full = Snapshot.read(spark, dir).select("id", "p", "x", "y")
      .as[(Long, String, Long, Long)].collect().toSet

    Snapshot.compact(spark, dir, targetBytes = 6L << 10, minFiles = 2,
      zorderBy = Seq("x", "y"))
    val (kept, total) = Snapshot.pruneFiles(spark, dir, box)
    assert(total > 1, "compaction should still produce several files")
    assert(kept.size < total, s"z-clustered files must make the box skippable: $kept of $total")
    val after = Snapshot.read(spark, dir).select("id", "p", "x", "y")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(after == full, "clustering must not change table contents")
    assertSame(Snapshot.readWhere(spark, dir, box), Snapshot.read(spark, dir).where(box))
  }

  test("change feed refuses a schema-unstable window") {
    val dir = tmp("cdc-schema")
    Snapshot.create(spark, dir, Seq((1L, "a")).toDF("id", "s"))
    Snapshot.overwrite(spark, dir, Seq((1L, "a", 2.0)).toDF("id", "s", "extra"))
    intercept[IllegalArgumentException] {
      Snapshot.readChanges(spark, dir, 1L, 2L)
    }
  }

  test("schema evolution: mergeSchema append adds columns, old files read null") {
    val dir = tmp("evolution")
    Snapshot.create(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // column-set mismatch without the flag is refused, both directions
    intercept[IllegalArgumentException] {
      Snapshot.append(spark, dir, Seq((3L, "c", 9.5)).toDF("id", "s", "score"))
    }
    intercept[IllegalArgumentException] {
      Snapshot.append(spark, dir, Seq(3L).toDF("id"), mergeSchema = true)
    }
    Snapshot.append(spark, dir, Seq((3L, "c", 9.5)).toDF("id", "s", "score"),
      mergeSchema = true)
    val got = Snapshot.read(spark, dir).select("id", "s", "score")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    // the evolved column prunes like any other (old files: unknown stats)
    assertSame(
      Snapshot.readWhere(spark, dir, col("score") > 5.0),
      Snapshot.read(spark, dir).where(col("score") > 5.0))
    // pinned pre-evolution version still reads with its own 2-col schema
    assert(Snapshot.readVersion(spark, dir, 1L).columns.toSeq == Seq("id", "s"))
  }

  test("the registered source skips files for plain SQL queries") {
    val dir = tmp("source")
    rangeTable(dir)
    val src = spark.read.format("graft.sources.SnapshotSource").load(dir)
    src.createOrReplaceTempView("snap_t")
    // same rows as the engine-native read
    assertSame(src, Snapshot.read(spark, dir))

    graft.operators.SnapshotStats.lastPrune = (-1, -1)
    val got = spark.sql(
      "SELECT COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS s FROM snap_t WHERE id BETWEEN 100 AND 180")
      .as[(Long, Long)].head()
    assert(got == ((81L, (100L to 180L).sum)))
    val (kept, total) = graft.operators.SnapshotStats.lastPrune
    assert(total == 16 && kept <= 2,
      s"SQL WHERE must reach the manifest pruner: kept $kept of $total")

    // a filter the pruner can't use still answers correctly (full scan)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snap_t WHERE length(name) = 5")
      .as[Long].head() == 1600L)

    // versionAsOf pins an old version through the same source
    Snapshot.overwrite(spark, dir, Seq((1L, "x", 0.5, java.sql.Date.valueOf("2024-01-01"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")), true, "t"))
      .toDF("id", "name", "score", "d", "ts", "flag", "tag"))
    val v1 = spark.read.format("graft.sources.SnapshotSource")
      .option("versionAsOf", "1").load(dir)
    assert(v1.count() == 1600L)
    assert(spark.read.format("graft.sources.SnapshotSource").load(dir).count() == 1L)
  }

  test("the SQL source plans a native parquet scan: pushdown, columnar, no RDD") {
    val dir = tmp("src-plan")
    rangeTable(dir)
    val df = spark.read.format("graft.sources.SnapshotSource").load(dir)
      .where(col("id").between(100L, 180L)).select("id", "name")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"SQL source must not plan an RDD scan:\n$plan")
    assert(plan.contains("FileScan parquet"), s"expected a native parquet scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(id,100)") &&
      plan.contains("LessThanOrEqual(id,180)") && plan.contains("PushedFilters: ["),
      s"filters must push into the parquet scan:\n${plan.linesIterator.filter(_.contains("Pushed")).mkString}")
    assert(plan.contains("ColumnarToRow"), s"scan must be columnar:\n$plan")
    // column pruning reaches the reader: only the projected columns
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"),
      s"projection must prune the read schema:\n${plan.linesIterator.filter(_.contains("ReadSchema")).mkString}")
    assert(df.count() == 81L)
  }

  test("the SQL source prunes partitions exactly, even un-walkable filters") {
    val dir = tmp("src-part")
    val df = (0 until 300).map(i => (i.toLong, s"p${i % 3}", i.toDouble)).toDF("id", "p", "v")
    Snapshot.create(spark, dir, df, Seq("p"))
    val src = spark.read.format("graft.sources.SnapshotSource").load(dir)
    // partition columns keep their declared schema position
    assert(src.columns.toSeq == Seq("id", "p", "v"))
    assertSame(src, Snapshot.read(spark, dir))
    // simple partition filter: prunes to one partition's files
    val one = src.where(col("p") === "p1")
    assert(one.queryExecution.executedPlan.toString.contains("FileScan parquet"))
    assertSame(one, Snapshot.read(spark, dir).where(col("p") === "p1"))
    // a partition filter the stats walker can NOT reason about must be
    // applied EXACTLY by the index (Spark does not re-apply it)
    val tricky = src.where(length(col("p")) === lit(2) && substring(col("p"), 2, 1) === "2")
    assert(tricky.count() == 100L)
    assertSame(tricky, Snapshot.read(spark, dir)
      .where(length(col("p")) === lit(2) && substring(col("p"), 2, 1) === "2"))
    // null partitions round-trip through the source
    val nd = tmp("src-null")
    Snapshot.create(spark, nd,
      Seq((1L, "a"), (2L, null)).toDF("id", "p"), Seq("p"))
    val nsrc = spark.read.format("graft.sources.SnapshotSource").load(nd)
    assert(nsrc.where(col("p").isNull).select("id").as[Long].collect().toSeq == Seq(2L))
    assertSame(nsrc, Snapshot.read(spark, nd))
  }

  test("the SQL source reads timestamp-partitioned tables (the K2 dual-grain layout)") {
    val dir = tmp("src-ts")
    val mkTs = (s: String) => java.sql.Timestamp.valueOf(s)
    Snapshot.create(spark, dir, Seq(
      (1L, mkTs("2024-01-14 23:00:00")),
      (2L, mkTs("2024-01-15 00:00:00")),
      (3L, mkTs("2024-01-15 01:00:00"))).toDF("id", "p_start"), Seq("p_start"))
    val src = spark.read.format("graft.sources.SnapshotSource").load(dir)
    assertSame(src, Snapshot.read(spark, dir))
    val cut = mkTs("2024-01-15 00:00:00")
    val sel = src.where(col("p_start") >= cut)
    assert(sel.select("id").as[Long].collect().toSet == Set(2L, 3L))
    assertSame(sel, Snapshot.read(spark, dir).where(col("p_start") >= cut))
  }

  test("the SQL source reads evolved tables (old files fill null) and pinned versions") {
    val dir = tmp("src-evolve")
    Snapshot.create(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Snapshot.append(spark, dir, Seq((3L, "c", 9.5)).toDF("id", "s", "score"), mergeSchema = true)
    val src = spark.read.format("graft.sources.SnapshotSource").load(dir)
    assert(src.select("id", "s", "score").as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    val v1 = spark.read.format("graft.sources.SnapshotSource").option("versionAsOf", "1").load(dir)
    assert(v1.columns.toSeq == Seq("id", "s") && v1.count() == 2L)
  }

  test("metadataAgg folds exact aggregates from stats, refuses when unusable") {
    val dir = tmp("metaagg")
    rangeTable(dir)
    intercept[IllegalArgumentException] { Snapshot.metadataAgg(spark, dir, Seq("no_such")) }
    val ok = Snapshot.metadataAgg(spark, dir, Seq("id", "score", "tag"))
      .select("n", "min_id", "max_id", "cnt_id", "min_score", "max_score", "cnt_score",
        "min_tag", "max_tag", "cnt_tag")
      .as[(Long, Long, Long, Long, Double, Double, Long, String, String, Long)].head()
    val exp = Snapshot.read(spark, dir)
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"),
        count("id").as("cnt_id"), min("score").as("min_score"), max("score").as("max_score"),
        count("score").as("cnt_score"), min("tag").as("min_tag"), max("tag").as("max_tag"),
        count("tag").as("cnt_tag"))
      .as[(Long, Long, Long, Long, Double, Double, Long, String, String, Long)].head()
    assert(ok == exp)
  }

  test("long string stats truncate-and-mark: pruning stays sound, metadataAgg refuses") {
    val dir = tmp("longstr")
    // two range-separated files; values far beyond the 64-byte stat cap
    val mk = (p: Char) => (0 until 50).map(i => s"$p${"%03d".format(i)}" + ("x" * 200))
    Snapshot.create(spark, dir, (mk('a') ++ mk('q')).toDF("s").repartitionByRange(2, col("s")))
    val m = Snapshot.latestManifest(spark, dir).get
    val cs = m.stats.values.flatMap(_.cols.get("s")).toSeq
    assert(cs.nonEmpty && cs.forall(_.trunc), "long string stats must be marked truncated")
    assert(cs.forall(c => c.mn.get.getBytes("UTF-8").length <= 64 + 4),
      "stored bounds must be capped")
    // truncated bounds still prune: a prefix range hits one file only
    val pred = col("s").startsWith("q0")
    val (kept, total) = Snapshot.pruneFiles(spark, dir, pred)
    assert(total == 2 && kept.size == 1, s"expected 1 of 2 files, got ${kept.size}")
    assertSame(Snapshot.readWhere(spark, dir, pred), Snapshot.read(spark, dir).where(pred))
    // range compare over truncated bounds is also sound
    val pred2 = col("s") > ("q025" + ("x" * 200))
    assertSame(Snapshot.readWhere(spark, dir, pred2), Snapshot.read(spark, dir).where(pred2))
    // exactness is gone: refuse, never a wrong MIN/MAX
    intercept[IllegalArgumentException] { Snapshot.metadataAgg(spark, dir, Seq("s")) }
  }

  test("distributed stats collection equals the driver pool (and the manifest)") {
    val dir = tmp("dist")
    rangeTable(dir)
    val m = Snapshot.latestManifest(spark, dir).get
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val pooled = graft.operators.SnapshotStats.collect(spark, dir, m.files, schema, Nil)
    val jobbed = graft.operators.SnapshotStats.collect(spark, dir, m.files, schema, Nil,
      distributeAbove = 2)
    assert(jobbed == pooled)
    assert(pooled == m.stats)
  }

  test("history reports per-version file and row counts without reading data") {
    val dir = tmp("history")
    Snapshot.create(spark, dir, (0 until 100).map(i => (i.toLong, i.toString)).toDF("id", "s"))
    Snapshot.append(spark, dir, (100 until 130).map(i => (i.toLong, i.toString)).toDF("id", "s"))
    Snapshot.overwrite(spark, dir,
      (0 until 7).map(i => (i.toLong, i.toString)).toDF("id", "s").repartition(1))
    val h = Snapshot.history(spark, dir)
      .select("version", "num_rows").as[(Long, Long)].collect().toMap
    assert(h == Map(1L -> 100L, 2L -> 130L, 3L -> 7L))
    // per-commit change metrics from manifest arithmetic: the create
    // baselines all-added, the append adds without removing, the
    // overwrite swaps everything; a DV point delete shows rows_removed
    // with zero files added
    Snapshot.delete(spark, dir, col("id") === 3L, dvMaxFraction = 0.5)
    val hm = Snapshot.history(spark, dir)
      .select("version", "files_added", "files_removed", "rows_added", "rows_removed")
      .as[(Long, Int, Int, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    assert(hm(1L)._3 == 100L && hm(1L)._2 == 0, s"create metrics: ${hm(1L)}")
    assert(hm(2L)._3 == 30L && hm(2L)._2 == 0, s"append metrics: ${hm(2L)}")
    assert(hm(3L)._3 == 7L && hm(3L)._4 == 130L, s"overwrite metrics: ${hm(3L)}")
    assert(hm(4L) == ((0, 0, 0L, 1L)), s"DV delete metrics: ${hm(4L)}")
    // a stale staged manifest is reclaimed by vacuum, not surfaced
    val log = new java.io.File(s"$dir/${Snapshot.LogDirName}")
    java.nio.file.Files.write(new java.io.File(log, ".tmp-dead").toPath, "{}".getBytes)
    Snapshot.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(log, ".tmp-dead").exists)
    // the survivor plus the floor commit the reclaiming vacuum publishes
    assert(Snapshot.history(spark, dir).count() == 2)
  }

  test("startsWith with supplementary chars prunes soundly (codepoint prefix)") {
    val dir = tmp("emoji")
    // two range-separated files; one holds only "😀b" (emoji + b).
    // A UTF-16-unit prefix length would take substring(mn,1,2) = the whole
    // value, compare it > the 1-codepoint literal, and unsoundly skip.
    val df = Seq("😀b", "aa").toDF("s").repartitionByRange(2, col("s"))
    Snapshot.create(spark, dir, df)
    val pred = col("s").startsWith("😀")
    assertSame(Snapshot.readWhere(spark, dir, pred), Snapshot.read(spark, dir).where(pred))
    assert(Snapshot.readWhere(spark, dir, pred).count() == 1L)
    // and an ASCII prefix still prunes the other file away
    val (kept, total) = Snapshot.pruneFiles(spark, dir, col("s").startsWith("a"))
    assert(total == 2 && kept.size == 1)
  }

  test("NTZ stats outside years 1-9999 are dropped; metadataAgg refuses, pruning keeps") {
    import java.time.LocalDateTime
    val dir = tmp("ntz-far")
    Snapshot.create(spark, dir,
      Seq(LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(10000, 1, 1, 0, 0))
        .toDF("t").coalesce(1))
    // the year-10000 max is unencodable: stats dropped -> file kept
    val pred = col("t") > lit(LocalDateTime.of(2030, 1, 1, 0, 0))
    val (kept, total) = Snapshot.pruneFiles(spark, dir, pred)
    assert(kept.size == total, "unencodable NTZ stats must keep the file")
    assertSame(Snapshot.readWhere(spark, dir, pred), Snapshot.read(spark, dir).where(pred))
    // refused, never a silently-wrong aggregate
    intercept[IllegalArgumentException] { Snapshot.metadataAgg(spark, dir, Seq("t")) }
    // an in-range NTZ table still metadata-aggregates exactly
    val ok = tmp("ntz-ok")
    Snapshot.create(spark, ok,
      Seq(LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(2024, 6, 2, 3, 4, 5))
        .toDF("t").coalesce(1))
    val got = Snapshot.metadataAgg(spark, ok, Seq("t"))
      .select("n", "min_t", "max_t", "cnt_t")
      .as[(Long, LocalDateTime, LocalDateTime, Long)].head()
    assert(got == ((2L, LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(2024, 6, 2, 3, 4, 5), 2L)))
  }

  test("overwrite carries streaming watermarks; overwriteBatch is exactly-once") {
    val dir = tmp("ow-wm")
    Snapshot.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    assert(Snapshot.appendBatch(spark, dir, Seq((1L, "x")).toDF("id", "v"), "appA", 7L))
    Snapshot.overwrite(spark, dir, Seq((5L, "rewritten")).toDF("id", "v"))
    assert(!Snapshot.appendBatch(spark, dir, Seq((1L, "x")).toDF("id", "v"), "appA", 7L),
      "a redelivery after a full rewrite must still be recognized")
    assert(Snapshot.appendBatch(spark, dir, Seq((2L, "y")).toDF("id", "v"), "appA", 8L))
    // the full-rewrite twin: apply once, skip the duplicate
    assert(Snapshot.overwriteBatch(spark, dir, Seq((9L, "mv")).toDF("id", "v"), "consumerA", 3L))
    assert(!Snapshot.overwriteBatch(spark, dir, Seq((10L, "dup")).toDF("id", "v"), "consumerA", 3L))
    assert(Snapshot.read(spark, dir).as[(Long, String)].collect().toSet == Set((9L, "mv")))
    // and the overwriteBatch manifest still carries appA's watermark
    assert(!Snapshot.appendBatch(spark, dir, Seq((2L, "y")).toDF("id", "v"), "appA", 8L))
  }

  test("concurrent appends all land via optimistic rebase; batch dedup survives the race") {
    val dir = tmp("concurrent")
    Snapshot.create(spark, dir, Seq((-1L, -1L)).toDF("id", "w"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val writers = (0 until 8).map { w =>
        scala.concurrent.Future {
          Snapshot.append(spark, dir,
            (0 until 10).map(i => (w * 100L + i, w.toLong)).toDF("id", "w"))
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writers), scala.concurrent.duration.Duration("120s"))
      // every writer's batch landed exactly once, versions contiguous
      assert(Snapshot.read(spark, dir).count() == 81L)
      assert(Snapshot.read(spark, dir).groupBy("w").count()
        .where(col("w") >= 0).select("count").as[Long].collect().forall(_ == 10L))
      assert(Snapshot.versions(spark, dir) == (1L to 9L))

      // same (appId, batchId) raced by two writers: exactly one applies
      val dup = (0 until 4).map { _ =>
        scala.concurrent.Future {
          Snapshot.appendBatch(spark, dir, Seq((999L, 99L)).toDF("id", "w"), "race", 1L)
        }
      }
      val applied = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(dup), scala.concurrent.duration.Duration("120s"))
      assert(applied.count(identity) == 1, s"expected exactly one winner, got $applied")
      assert(Snapshot.read(spark, dir).where(col("id") === 999L).count() == 1L)
    } finally pool.shutdown()
    // read-modify-write stays single-writer: an append landing between
    // an overwrite's manifest read and its commit must REFUSE the
    // overwrite (rebasing would silently discard the append)
    val before = Snapshot.read(spark, dir).count()
    var injected = false
    Snapshot.faultHook = stage => if (stage == "data-files-written" && !injected) {
      injected = true
      Snapshot.append(spark, dir, Seq((2000L, 200L)).toDF("id", "w"))
    }
    try {
      intercept[Snapshot.CommitConflictException] {
        Snapshot.overwrite(spark, dir, Seq((0L, 0L)).toDF("id", "w"))
      }
    } finally Snapshot.faultHook = _ => ()
    // the concurrent append survived; the overwrite landed nothing
    assert(Snapshot.read(spark, dir).count() == before + 1)
    assert(Snapshot.read(spark, dir).where(col("id") === 2000L).count() == 1L)
  }

  test("a concurrent append during a merge refuses; the append survives intact") {
    // the merge family derives its replacement from a pinned manifest
    // and must commit against THAT version — a commit slipping in
    // between version-conflicts and refuses, it is never silently
    // overwritten by a replacement that was derived without its rows
    val dir = tmp("merge-race")
    Snapshot.create(spark, dir,
      (0 until 50).map(i => (i.toLong, "a", i.toLong)).toDF("id", "p", "v"), Seq("p"))
    var injected = false
    Snapshot.faultHook = stage => if (stage == "data-files-written" && !injected) {
      injected = true
      Snapshot.append(spark, dir, Seq((500L, "a", 5L)).toDF("id", "p", "v"))
    }
    try intercept[Snapshot.CommitConflictException] {
      Snapshot.mergeById(spark, dir,
        Seq((1L, "a", 99L)).toDF("id", "p", "v"), "id", "p")
    } finally Snapshot.faultHook = _ => ()
    val after = Snapshot.read(spark, dir)
    assert(after.count() == 51L, "the concurrent append must survive")
    assert(after.where(col("id") === 500L).count() == 1L)
    assert(after.where(col("id") === 1L).select("v").as[Long].head() == 1L,
      "the refused merge must have landed nothing")
  }

  test("compact rebases onto a concurrent append; a concurrent rewrite refuses") {
    val dir = tmp("compact-race")
    def batch(r: Range) = r.map(i => (i.toLong, i.toLong)).toDF("id", "w").repartition(1)
    Snapshot.create(spark, dir, batch(0 until 100))
    (1 to 3).foreach(k => Snapshot.append(spark, dir, batch(k * 100 until k * 100 + 100)))

    // an hourly append lands between compact's staging and its rename:
    // the compaction must rebase and commit with NEITHER lost
    var injected = false
    Snapshot.faultHook = stage => if (stage == "manifest-staged" && !injected) {
      injected = true
      Snapshot.append(spark, dir, Seq((9999L, 9L)).toDF("id", "w"))
    }
    try assert(Snapshot.compact(spark, dir, minFiles = 2).nonEmpty)
    finally Snapshot.faultHook = _ => ()
    assert(Snapshot.read(spark, dir).count() == 401L)
    assert(Snapshot.read(spark, dir).where(col("id") === 9999L).count() == 1L)
    // append won version 5; the rebased compact is version 6 and keeps
    // the appended file live alongside the packed rewrite
    assert(Snapshot.latestVersion(spark, dir).contains(6L))

    // a concurrent REWRITE of a marked file is a true conflict: refuse
    (4 to 5).foreach(k => Snapshot.append(spark, dir, batch(k * 100 until k * 100 + 100)))
    val before = rows2(Snapshot.read(spark, dir))
    var injected2 = false
    Snapshot.faultHook = stage => if (stage == "manifest-staged" && !injected2) {
      injected2 = true
      Snapshot.delete(spark, dir, col("id") < 50, dvMaxFraction = 0.0)
    }
    try intercept[Snapshot.CommitConflictException] {
      Snapshot.compact(spark, dir, minFiles = 2)
    } finally Snapshot.faultHook = _ => ()
    // the delete survived untouched; the compact landed nothing
    assert(rows2(Snapshot.read(spark, dir)) == before.filterNot(_._1 < 50))
  }

  test("a vector-tier delete landing during a compaction refuses it; the deleted rows stay deleted") {
    // the compaction packs the rows it read: a concurrent delete that
    // only adds a deletion vector to a marked file must still refuse
    // the packed rewrite, or the deleted rows come back
    val dir = tmp("compact-dv-race")
    def batch(r: Range) = r.map(i => (i.toLong, i.toLong)).toDF("id", "w").repartition(1)
    Snapshot.create(spark, dir, batch(0 until 100))
    (1 to 3).foreach(k => Snapshot.append(spark, dir, batch(k * 100 until k * 100 + 100)))
    val before = rows2(Snapshot.read(spark, dir))
    var injected = false
    Snapshot.faultHook = stage => if (stage == "data-files-written" && !injected) {
      injected = true
      Snapshot.delete(spark, dir, col("id") === 7L, dvMaxFraction = 1.0)
    }
    try intercept[Snapshot.CommitConflictException] {
      Snapshot.compact(spark, dir, minFiles = 2)
    } finally Snapshot.faultHook = _ => ()
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.operation == "DELETE" && m.dvs.size == 1, "the delete took the vector tier")
    assert(rows2(Snapshot.read(spark, dir)) == before.filterNot(_._1 == 7L))
  }

  private def rows2(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id", "w").as[(Long, Long)].collect().toSet

  test("latest-version reads are pointer-driven: zero log listings") {
    val dir = tmp("pointer")
    Snapshot.create(spark, dir, Seq((0L, "v0")).toDF("id", "v"))
    (1 until 20).foreach(i => Snapshot.append(spark, dir, Seq((i.toLong, s"v$i")).toDF("id", "v")))
    var listings = 0
    Snapshot.listHook = _ => listings += 1
    try {
      assert(Snapshot.latestVersion(spark, dir).contains(20L))
      assert(Snapshot.read(spark, dir).count() == 20L)
      assert(listings == 0, s"pointer-driven read must not list the log dir ($listings listings)")

      val last = new java.io.File(s"$dir/${Snapshot.LogDirName}/_last")
      def rewrite(s: String): Unit = {
        java.nio.file.Files.write(last.toPath, s.getBytes)
        new java.io.File(last.getParent, "._last.crc").delete(): Unit
      }
      // stale pointer (crash between manifest rename and pointer write):
      // the forward probe finds the true latest without a listing
      rewrite("18")
      assert(Snapshot.latestVersion(spark, dir).contains(20L))
      assert(listings == 0, "stale pointer must resolve by probing, not listing")
      // corrupt pointer: full-listing fallback, still correct
      rewrite("not-a-number")
      assert(Snapshot.latestVersion(spark, dir).contains(20L))
      assert(listings > 0, "corrupt pointer must fall back to listing")
      // the next commit restores the pointer
      Snapshot.append(spark, dir, Seq((99L, "x")).toDF("id", "v"))
      listings = 0
      assert(Snapshot.latestVersion(spark, dir).contains(21L))
      assert(listings == 0)
    } finally Snapshot.listHook = _ => ()
    // distributed history pass gives the same answer as the serial one
    val serial = Snapshot.history(spark, dir).collect().toSeq
    val dist = Snapshot.history(spark, dir, distributeAbove = 2).collect().toSeq
    assert(dist == serial)
  }

  test("appendBatch is exactly-once under foreachBatch redelivery") {
    val dir = tmp("sink")
    Snapshot.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val b1 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    assert(Snapshot.appendBatch(spark, dir, b1, "appA", 0L))
    // redelivery of the same batch id: recognized, not re-appended
    assert(!Snapshot.appendBatch(spark, dir, b1, "appA", 0L))
    assert(Snapshot.appendBatch(spark, dir, Seq((3L, "z")).toDF("id", "v"), "appA", 1L))
    // a DIFFERENT app's batch 1 is independent
    assert(Snapshot.appendBatch(spark, dir, Seq((9L, "w")).toDF("id", "v"), "appB", 1L))
    assert(Snapshot.read(spark, dir).count() == 5)

    // end to end through a real foreachBatch sink, rerun from the same
    // source: the second run redelivers nothing new and the table is
    // unchanged
    val landing = tmp("sink-landing")
    Seq((10L, "s1"), (11L, "s2")).toDF("id", "v").write.parquet(landing)
    def tick(ckpt: String): Unit = {
      val q = spark.readStream.schema("id BIGINT, v STRING").parquet(landing)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          Snapshot.appendBatch(df.sparkSession, dir, df, "stream1", id): Unit
        }
        .start()
      q.awaitTermination()
    }
    val ckpt = tmp("sink-ckpt")
    tick(ckpt)
    val n1 = Snapshot.read(spark, dir).count()
    assert(n1 == 7)
    // wipe the checkpoint: the whole source replays as batch 0 again —
    // the manifest watermark, not the checkpoint, rejects it
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    tick(tmp("sink-ckpt2"))
    assert(Snapshot.read(spark, dir).count() == n1, "replayed batch must not double-append")
  }
}
