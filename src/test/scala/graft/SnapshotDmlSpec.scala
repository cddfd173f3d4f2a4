package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** Row-level DELETE / UPDATE on snapshot tables: minimum-rewrite
  * guarantees (untouched files stay byte-identical, fully-matching
  * files drop with no rewrite, zero-match candidates survive the exact
  * check), SQL NULL-predicate semantics, and time travel across DML.
  */
class SnapshotDmlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-dml-$tag").toString + "/t"

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "p", "v").as[(Long, String, Long)].collect().toSet

  private def fixture(ids: Range): DataFrame =
    ids.map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i.toLong * 10))
      .toDF("id", "p", "v")

  /** (relative file, size, mtime) of every live data file — identity
    * check: a file that was not rewritten keeps all three.
    */
  private def fileIdentity(dir: String): Map[String, (Long, Long)] = {
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshot.latestManifest(spark, dir).get.files.map { f =>
      val st = fs.getFileStatus(new HPath(s"$dir/$f"))
      f -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  test("history labels every version with its operation — the audit trail") {
    val dir = tmp("oplabel")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    Snapshot.append(spark, dir, fixture(10 until 20))
    Snapshot.delete(spark, dir, col("id") === 3L)
    Snapshot.update(spark, dir, col("id") === 4L, Map("v" -> lit(999L)))
    Snapshot.mergeByIdPartitioned(spark, dir, fixture(5 until 7), "id", Seq("p"))
    Snapshot.compact(spark, dir)
    Snapshot.restore(spark, dir, 2L)
    val ops = Snapshot.history(spark, dir)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(ops(1L) == "CREATE" && ops(2L) == "APPEND" && ops(3L) == "DELETE" &&
      ops(4L) == "UPDATE" && ops(5L) == "MERGE" && ops(6L) == "OPTIMIZE" &&
      ops(7L) == "RESTORE v2", s"mislabeled history: $ops")
    // labels survive the delta-log round trip AND land in DESCRIBE
    // HISTORY through the SQL dialect (schema includes the column)
    assert(Snapshot.history(spark, dir).columns.toSeq ==
      Seq("version", "committed_at_micros", "operation",
        "num_files", "num_rows", "files_added", "files_removed",
        "rows_added", "rows_removed", "schema_ddl"))
  }

  test("deleteMatching (IN-subquery delete) takes the same three tiers as delete") {
    val dir = tmp("delmatch")
    // three single-file appends, engineered one per tier
    Snapshot.create(spark, dir, fixture(0 until 100).repartition(1))   // all matched → drop
    Snapshot.append(spark, dir, fixture(100 until 200).repartition(1)) // 5% matched → DV
    Snapshot.append(spark, dir, fixture(200 until 300).repartition(1)) // 50% matched → rewrite
    val before = fileIdentity(dir)
    val keys = ((0L until 100L) ++ Seq(105L, 118L, 126L, 134L, 142L) ++
      (200L until 250L)).toDF("k")
    Snapshot.deleteMatching(spark, dir, "id", keys)
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.operation == "DELETE")
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 300)).filterNot(r =>
        r._1 < 100 || Set(105L, 118L, 126L, 134L, 142L)(r._1) ||
          (r._1 >= 200 && r._1 < 250)))
    val after = fileIdentity(dir)
    // the fully-matched file dropped without a rewrite; the 5% file
    // survives byte-identical under a deletion vector; the 50% file
    // was rewritten
    val dvd = m.dvs.keySet
    assert(dvd.size == 1, s"exactly the 5%-matched file takes a vector, got $dvd")
    assert(before.contains(dvd.head) && after(dvd.head) == before(dvd.head),
      "the DV'd file must be byte-identical to its pre-delete self")
    assert(after.size == 2, s"drop + DV'd + one rewritten file expected, got ${after.keySet}")
    // NULL keys never match (SQL IN semantics) and a re-run is a no-op
    val v = m.version
    Snapshot.deleteMatching(spark, dir, "id",
      Seq[java.lang.Long](null, 9999L).toDF("k"))
    assert(Snapshot.latestManifest(spark, dir).get.version == v,
      "a zero-match key set must not commit a version")
  }

  test("updateMatching updates exactly the keyed rows, tiered like update") {
    val dir = tmp("updmatch")
    Snapshot.create(spark, dir, fixture(0 until 100).repartition(1))   // 5% keyed → DV tier
    Snapshot.append(spark, dir, fixture(100 until 200).repartition(1)) // 60% keyed → rewrite
    val keys = (Seq(3L, 17L, 24L, 58L, 91L) ++ (100L until 160L)).toDF("k")
    Snapshot.updateMatching(spark, dir, "id", keys,
      Map("v" -> (col("v") + 100000L)))
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.operation == "UPDATE")
    val keyed = (Seq(3L, 17L, 24L, 58L, 91L) ++ (100L until 160L)).toSet
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 200)).map {
      case (id, p, v) => if (keyed(id)) (id, p, v + 100000L) else (id, p, v)
    })
    assert(m.dvs.size == 1,
      s"the lightly-keyed file takes a vector + updated-row append, got ${m.dvs.keySet}")
    // a zero-match key set commits nothing
    val v = m.version
    Snapshot.updateMatching(spark, dir, "id", Seq(99999L).toDF("k"),
      Map("v" -> (col("v") + 1L)))
    assert(Snapshot.latestManifest(spark, dir).get.version == v)
  }

  test("NOT NULL declarations are enforced on every constructive write path") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = tmp("notnull")
    val declared = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    Snapshot.create(spark, dir, spark.createDataFrame(
      spark.range(5).select(col("id"), (col("id") * 10).as("v")).rdd, declared),
      keepNullability = true) // an explicitly DECLARED schema
    assert(Snapshot.latestManifest(spark, dir).get.schemaDdl.contains("NOT NULL"))
    // a DATA-inferred create relaxes incidental non-nullability: only
    // declarations are enforced, never what the first batch happened
    // to look like
    val dir2 = tmp("notnull-inferred")
    Snapshot.create(spark, dir2, spark.range(3).toDF("id"))
    assert(!Snapshot.latestManifest(spark, dir2).get.schemaDdl.contains("NOT NULL"))
    // an append smuggling a NULL into the declared-required column
    // refuses BEFORE any file lands — same contract as catalog INSERT
    val nulls = spark.range(1).select(
      when(lit(false), lit(1L)).as("id"), lit(5L).as("v"))
    val e = intercept[Exception](Snapshot.append(spark, dir, nulls))
    assert(e.getMessage.contains("not_null_id"), e.getMessage)
    assert(Snapshot.read(spark, dir).count() == 5)
    // an UPDATE writing null into it refuses too, on both tiers' path
    val e2 = intercept[Exception](Snapshot.update(spark, dir,
      col("v") >= 0, Map("id" -> lit(null).cast("long"))))
    assert(e2.getMessage.contains("not_null_id"), e2.getMessage)
    assert(Snapshot.read(spark, dir).where(col("id").isNull).count() == 0)
    // nulls in the NULLABLE column stay legal
    Snapshot.append(spark, dir, spark.range(1).select(
      lit(99L).as("id"), lit(null).cast("long").as("v")))
    assert(Snapshot.read(spark, dir).count() == 6)
  }

  test("IN-key DML widens mismatched key types like SQL IN — never a downcast wrap") {
    val dir = tmp("delwiden")
    Snapshot.create(spark, dir, Seq((5, "a"), (6, "b")).toDF("id", "p")) // id: INT
    // 2^32 + 5 == 5 after an int wrap — SQL IN widens instead, so a
    // wider non-equal key must match NOTHING (and commit nothing)
    val v0 = Snapshot.latestManifest(spark, dir).get.version
    Snapshot.deleteMatching(spark, dir, "id", Seq(4294967301L).toDF("k"))
    assert(Snapshot.latestManifest(spark, dir).get.version == v0)
    assert(Snapshot.read(spark, dir).count() == 2)
    Snapshot.deleteMatching(spark, dir, "id", Seq(6L).toDF("k")) // BIGINT key, INT target
    assert(Snapshot.read(spark, dir).select("id").as[Int].collect().toSeq == Seq(5))
    // a flag-nondeterministic key plan refuses — it feeds several jobs
    val e = intercept[IllegalArgumentException] {
      Snapshot.deleteMatching(spark, dir, "id",
        spark.range(10).select((rand() * 100).cast("long").as("k")))
    }
    assert(e.getMessage.contains("nondeterministic"))
  }

  test("vacuum DRY RUN lists exactly what the real pass reclaims, touching nothing") {
    val dir = tmp("dryrun")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    Snapshot.append(spark, dir, fixture(10 until 20))
    Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2)
    val planned = Snapshot.vacuum(spark, dir, keepVersions = 1,
      orphanGraceMs = 0L, dryRun = true)
    assert(planned.nonEmpty)
    // nothing moved: every version still reads
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(rows(Snapshot.readVersion(spark, dir, 2L)) == rows(fixture(0 until 20)))
    val actual = Snapshot.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L)
    assert(actual.toSet == planned.toSet,
      s"dry run must predict the real reclaim exactly:\n planned ${planned.sorted}\n actual ${actual.sorted}")
    assert(Snapshot.versions(spark, dir) == Seq(3L, 4L)) // v4 = the floor commit
  }

  test("delete rewrites only files that hold matching rows") {
    val dir = tmp("prune")
    // id-ranged files: ranges land in separate appends = separate files
    Snapshot.create(spark, dir, fixture(0 until 100).repartition(1))
    Snapshot.append(spark, dir, fixture(100 until 200).repartition(1))
    Snapshot.append(spark, dir, fixture(200 until 300).repartition(1))
    val before = fileIdentity(dir)
    assert(before.size == 3)

    // dvMaxFraction = 0 pins the pure copy-on-write tiers; the DV tier
    // has its own suite (SnapshotDvSpec)
    val v = Snapshot.delete(spark, dir, col("id") >= 120 && col("id") < 130,
      dvMaxFraction = 0.0)
    assert(v == 4L)
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 300)).filterNot(r => r._1 >= 120 && r._1 < 130))

    // the two files whose stats exclude the range are the SAME files
    val after = fileIdentity(dir)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == 2, s"expected 2 untouched files, got $untouched")
    untouched.foreach(f => assert(before(f) == after(f), s"$f was rewritten"))
    // time travel: the pre-delete version still reads in full
    assert(rows(Snapshot.readVersion(spark, dir, 3)) == rows(fixture(0 until 300)))
  }

  test("fully-matching files drop with no rewrite; no-match is a no-op") {
    val dir = tmp("whole")
    Snapshot.create(spark, dir, fixture(0 until 50).repartition(1))
    Snapshot.append(spark, dir, fixture(50 until 100).repartition(1))
    val before = fileIdentity(dir)

    // no row matches: same version comes back, nothing committed
    val v0 = Snapshot.latestVersion(spark, dir).get
    assert(Snapshot.delete(spark, dir, col("id") > 10000) == v0)
    assert(Snapshot.latestVersion(spark, dir).get == v0)

    // every row of file 2 matches: manifest drops it, zero files written
    val v1 = Snapshot.delete(spark, dir, col("id") >= 50)
    assert(v1 == v0 + 1)
    val after = fileIdentity(dir)
    assert(after.size == 1 && before.keySet.intersect(after.keySet) == after.keySet,
      "surviving file must be the original, unwritten")
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 50)))
  }

  test("NULL predicate rows are kept by delete and untouched by update") {
    val dir = tmp("nulls")
    val df = Seq((1L, "a", 5L), (2L, null.asInstanceOf[String], 7L), (3L, "b", 9L))
      .toDF("id", "p", "v")
    Snapshot.create(spark, dir, df)
    // p = 'a' is NULL for row 2: only row 1 may go
    Snapshot.delete(spark, dir, col("p") === "a")
    assert(Snapshot.read(spark, dir).select("id").as[Long].collect().toSet == Set(2L, 3L))
    // update where p = 'b': NULL-pred row 2 keeps its value
    Snapshot.update(spark, dir, col("p") === "b", Map("v" -> (col("v") + 100)))
    assert(rows(Snapshot.read(spark, dir)) == Set((2L, null, 7L), (3L, "b", 109L)))
  }

  test("update applies expressions over old values, only in matching files") {
    val dir = tmp("upd")
    Snapshot.create(spark, dir, fixture(0 until 100).repartition(1))
    Snapshot.append(spark, dir, fixture(100 until 200).repartition(1))
    val before = fileIdentity(dir)

    val v = Snapshot.update(spark, dir, col("id") < 10,
      Map("v" -> (col("v") * 2), "p" -> concat(col("p"), lit("!"))),
      dvMaxFraction = 0.0) // pin the rewrite tier; DV update has its own suite
    assert(v == 3L)
    val expect = rows(fixture(0 until 200)).map {
      case (id, p, vv) if id < 10 => (id, p + "!", vv * 2)
      case r => r
    }
    assert(rows(Snapshot.read(spark, dir)) == expect)
    // the 100..200 file is byte-identical
    val after = fileIdentity(dir)
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size == 1 && before(kept.head) == after(kept.head))
    // guard rails
    intercept[IllegalArgumentException] {
      Snapshot.update(spark, dir, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("DML on a timestamp-partitioned table (escaped hive dirs) stays exact") {
    val dir = tmp("ts")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 10L),
      (2L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 20L),
      (3L, java.sql.Timestamp.valueOf("2020-02-01 12:30:00"), 30L))
      .toDF("id", "ts", "v")
    Snapshot.create(spark, dir, df, Seq("ts"))
    // raw dir names contain %3A escapes; the match-count join must still
    // resolve input_file_name back to manifest entries
    Snapshot.delete(spark, dir, col("id") === 2L)
    assert(Snapshot.read(spark, dir).select("id").as[Long].collect().toSet == Set(1L, 3L))
    Snapshot.update(spark, dir, col("id") === 3L, Map("v" -> lit(99L)))
    assert(Snapshot.read(spark, dir).select("v").as[Long].collect().toSet == Set(10L, 99L))
  }

  test("timestamp time travel resolves the newest commit at-or-before") {
    val dir = tmp("tt")
    Snapshot.create(spark, dir, fixture(0 until 10))
    Thread.sleep(5)
    Snapshot.append(spark, dir, fixture(10 until 20))
    Thread.sleep(5)
    Snapshot.delete(spark, dir, col("id") < 5)
    val stamp = (1L to 3L).map(v =>
      v -> Snapshot.manifest(spark, dir, v).committedAtMicros).toMap
    assert(stamp.values.forall(_ > 0L) && stamp(1) < stamp(2) && stamp(2) < stamp(3))

    assert(Snapshot.versionAtTimestamp(spark, dir, stamp(1) - 1).isEmpty)
    assert(Snapshot.versionAtTimestamp(spark, dir, stamp(1)).contains(1L))
    assert(Snapshot.versionAtTimestamp(spark, dir, stamp(3) - 1).contains(2L))
    assert(Snapshot.versionAtTimestamp(spark, dir, Long.MaxValue).contains(3L))
    assert(rows(Snapshot.readTimestampAsOf(spark, dir, stamp(2))) ==
      rows(fixture(0 until 20)))

    // the SQL source takes the same pin
    val viaSource = spark.read.format("graft.sources.SnapshotSource")
      .option("timestampAsOf", stamp(2).toString).load(dir)
    assert(rows(viaSource) == rows(fixture(0 until 20)))
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.SnapshotSource")
        .option("timestampAsOf", stamp(1).toString)
        .option("versionAsOf", "1").load(dir)
    }
    // history surfaces the stamps
    val h = Snapshot.history(spark, dir)
      .select("version", "committed_at_micros").as[(Long, Long)].collect().toMap
    assert(h == stamp)
  }

  test("clock predicates pin ONE driver instant across all DML jobs") {
    // current_date() passes Catalyst's deterministic flag but re-pins
    // per query execution; DML evaluates its predicate in several jobs
    // (tier count, vector positions, rewrites), so the clock is folded
    // to a literal once on the driver — the reference's own
    // `DELETE … WHERE fecha < CURRENT_DATE()` maintenance shape
    val dir = tmp("clock")
    val past = java.sql.Date.valueOf("2001-01-01")
    val future = java.sql.Date.valueOf("2999-01-01")
    val df = (0 until 1000)
      .map(i => (i.toLong, if (i < 5) past else future, i.toLong))
      .toDF("id", "d", "v")
    Snapshot.create(spark, dir, df.repartition(1))
    // 5/1000 matched → the DV tier, where a clock drifting between the
    // count job and the vector job would desynchronize DvRef.rows from
    // the vector's real positions
    val v = Snapshot.delete(spark, dir, col("d") < current_date())
    assert(v >= 2L)
    val m = Snapshot.latestManifest(spark, dir).get
    m.dvs.values.foreach(dv => assert(dv.rows == 5L))
    // the metadata-exact live count the vector accounting underwrites
    assert(Snapshot.metadataAgg(spark, dir, Nil)
      .select("n").as[Long].head() == 995L)
    assert(Snapshot.read(spark, dir).count() == 995L)
    // UPDATE with a clock in the SET list pins the same way: every
    // updated row carries the ONE driver-pinned date
    Snapshot.update(spark, dir, col("id").between(10L, 12L),
      Map("d" -> current_date()))
    val stamped = Snapshot.read(spark, dir).where(col("id").between(10L, 12L))
      .select("d").distinct()
    assert(stamped.count() == 1L)
    assert(stamped.as[java.sql.Date].head() != future)
  }

  test("update cannot retype a column or touch a partition column") {
    val dir = tmp("guard")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    intercept[IllegalArgumentException] {
      Snapshot.update(spark, dir, lit(true), Map("p" -> lit("x")))
    }
    // value cast to the declared type: long column stays long
    Snapshot.update(spark, dir, col("id") === 1L, Map("v" -> lit(2.9)))
    val schema = Snapshot.read(spark, dir).schema
    assert(schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(Snapshot.read(spark, dir).where(col("id") === 1L)
      .select("v").as[Long].head() == 2L)
  }

  /** Three single-file versions for one logical edit that lands in
    * every tier: all rows of the first file match (whole-file drop for
    * DELETE, rewrite for UPDATE), 5% of the second (deletion vector),
    * half of the third (rewrite). Returns the table and its original
    * files in version order.
    */
  private def tieredTable(tag: String): (String, Seq[String]) = {
    val dir = tmp(tag)
    Snapshot.create(spark, dir, fixture(0 until 100).repartition(1))
    Snapshot.append(spark, dir, fixture(100 until 200).repartition(1))
    Snapshot.append(spark, dir, fixture(200 until 300).repartition(1))
    val files = (1L to 3L).map(v => Snapshot.manifest(spark, dir, v).files.toSet)
    (dir, files.head.toSeq ++ (files(1) -- files(0)) ++ (files(2) -- files(1)))
  }

  private val tierKeys: Seq[Long] =
    (0L until 100L) ++ Seq(105L, 118L, 126L, 134L, 142L) ++ (200L until 250L)

  /** One DML statement through either match: a row predicate over `id`
    * or the same ids as an IN key set; `set` None = DELETE.
    */
  private def dml(dir: String, byKeys: Boolean, ids: Seq[Long],
                  set: Option[Map[String, Column]]): Long = {
    lazy val keys = ids.toDF("k")
    val pred = col("id").isin(ids: _*)
    (byKeys, set) match {
      case (false, None)    => Snapshot.delete(spark, dir, pred)
      case (true, None)     => Snapshot.deleteMatching(spark, dir, "id", keys)
      case (false, Some(s)) => Snapshot.update(spark, dir, pred, s)
      case (true, Some(s))  => Snapshot.updateMatching(spark, dir, "id", keys, s)
    }
  }

  /** What the latest commit did to each original file ("dropped",
    * "dv:<deleted rows>" or "kept"), plus the total rows of the files it
    * added (how many files carry them depends on the write's plan).
    */
  private def tierOutcome(dir: String, originals: Seq[String]): (Seq[String], Long) = {
    val m = Snapshot.latestManifest(spark, dir).get
    (originals.map { f =>
      if (!m.files.contains(f)) "dropped"
      else m.dvs.get(f).fold("kept")(dv => s"dv:${dv.rows}")
    }, m.files.filterNot(originals.toSet).map(m.stats(_).rows).sum)
  }

  test("predicate and key-set DML agree on contents and per-file tiers") {
    val bump = Map("v" -> (col("v") + 100000L))
    for (set <- Seq(None, Some(bump))) {
      val runs = Seq(false, true).map { byKeys =>
        val (dir, originals) = tieredTable(s"agree-$byKeys-${set.isDefined}")
        dml(dir, byKeys, tierKeys, set)
        (rows(Snapshot.read(spark, dir)), tierOutcome(dir, originals),
          Snapshot.latestManifest(spark, dir).get.operation)
      }
      val (byPred, byKeys) = (runs(0), runs(1))
      assert(byPred._1 == byKeys._1, s"set=$set: contents differ")
      assert(byPred._2 == byKeys._2 && byPred._3 == byKeys._3,
        s"set=$set: predicate ${(byPred._2, byPred._3)} vs key set ${(byKeys._2, byKeys._3)}")
      val hit = tierKeys.toSet
      val expected = rows(fixture(0 until 300)).flatMap { case r @ (id, p, v) =>
        if (!hit(id)) Some(r) else set.map(_ => (id, p, v + 100000L))
      }
      assert(byPred._1 == expected, s"set=$set: contents differ from the edit")
      // DELETE drops the fully-matched file whole and rewrites the
      // half-matched one; UPDATE rewrites both and appends the five
      // updated rows of the vectored file
      assert(byPred._2 == (Seq("dropped", "dv:5", "dropped"), if (set.isEmpty) 50L else 205L),
        s"set=$set: ${byPred._2}")
      assert(byPred._3 == (if (set.isEmpty) "DELETE" else "UPDATE"))
    }
  }

  test("each DML shape runs at most its pinned number of Spark jobs") {
    // upper bounds = the counts measured on this suite's session
    // (local[4], AQE on; stable across reruns) once the read core
    // became one manifest-planned scan with no schema-inference job:
    // "tiers" is the whole-file + vector + rewrite edit above, "point"
    // one id in the vectored file. More than a bound is a regression.
    val bounds = Map(
      ("delete", "tiers") -> 6, ("delete", "point") -> 5,
      ("deleteMatching", "tiers") -> 10, ("deleteMatching", "point") -> 7,
      ("update", "tiers") -> 7, ("update", "point") -> 6,
      ("updateMatching", "tiers") -> 11, ("updateMatching", "point") -> 8)
    val bump = Map("v" -> (col("v") + 1L))
    val seen = for {
      (shape, byKeys, set) <- Seq(("delete", false, None), ("deleteMatching", true, None),
        ("update", false, Some(bump)), ("updateMatching", true, Some(bump)))
      (edit, ids) <- Seq("tiers" -> tierKeys, "point" -> Seq(105L))
    } yield {
      val (dir, _) = tieredTable(s"jobs-$shape-$edit")
      (shape, edit) -> jobsOf(dml(dir, byKeys, ids, set))
    }
    info(seen.map { case ((s, e), n) => s"$s/$e=$n" }.mkString(" "))
    seen.foreach { case (k, n) =>
      assert(n <= bounds(k), s"$k ran $n jobs, bound ${bounds(k)}")
    }
  }
}
