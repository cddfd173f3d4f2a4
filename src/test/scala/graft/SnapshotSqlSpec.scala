package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** SQL-text DML front end ([[graft.operators.SnapshotSql]]): the
  * reference's literal maintenance statements (DELETE / UPDATE /
  * MERGE, consumo_detalle.py:317-340, funnel_live.py:106-174) routed
  * through the session parser into the same minimum-rewrite tiers the
  * Scala API uses — equivalence with the Scala calls, and the refusal
  * surface (unknown table / column / qualifier, subqueries,
  * unsupported shapes).
  */
class SnapshotSqlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-sqldml-$tag").toString + "/t"

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "p", "v").as[(Long, String, Long)].collect().toSet

  private def fixture(ids: Range): DataFrame =
    ids.map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i.toLong * 10))
      .toDF("id", "p", "v")

  test("DELETE FROM … WHERE matches the Scala delete exactly") {
    val a = tmp("del-sql"); val b = tmp("del-api")
    Seq(a, b).foreach(d => Snapshot.create(spark, d, fixture(0 until 200), Seq("p")))
    val vSql = Snapshot.sql(spark,
      "DELETE FROM t WHERE t.id BETWEEN 50 AND 99 AND p = 'even'", Map("t" -> a))
    val vApi = Snapshot.delete(spark, b,
      col("id") >= 50 && col("id") <= 99 && col("p") === "even")
    assert(vSql == vApi)
    assert(rows(Snapshot.read(spark, a)) == rows(Snapshot.read(spark, b)))
    assert(rows(Snapshot.read(spark, a)) ==
      rows(fixture(0 until 200)).filterNot(r => r._1 >= 50 && r._1 <= 99 && r._2 == "even"))
  }

  test("DELETE … WHERE id IN (SELECT …) joins the subquery through the delete tiers") {
    val dir = tmp("del-insub"); val bad = tmp("del-insub-src")
    Snapshot.create(spark, dir, fixture(0 until 200), Seq("p"))
    // the blocklist lives in ANOTHER registered snapshot table, its
    // column named differently — the join key renames to the target's
    Snapshot.create(spark, bad,
      Seq(3L, 7L, 7L, 11L, 999L).toDF("bad_id")) // dup + a miss: both must be harmless
    Snapshot.sql(spark,
      "DELETE FROM t WHERE id IN (SELECT bad_id FROM quarantine)",
      Map("t" -> dir, "quarantine" -> bad))
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 200)).filterNot(r => Set(3L, 7L, 11L)(r._1)))
    // routed through the delete tiers: the commit is labeled DELETE
    assert(Snapshot.latestManifest(spark, dir).get.operation == "DELETE")
    // anything richer than the bare IN shape still refuses loudly
    intercept[IllegalArgumentException](Snapshot.sql(spark,
      "DELETE FROM t WHERE id IN (SELECT bad_id FROM quarantine) AND p = 'odd'",
      Map("t" -> dir, "quarantine" -> bad)))
  }

  test("UPDATE … WHERE id IN (SELECT …) updates through the registry subquery") {
    val dir = tmp("upd-insub"); val keysDir = tmp("upd-insub-src")
    Snapshot.create(spark, dir, fixture(0 until 100), Seq("p"))
    Snapshot.create(spark, keysDir, Seq(5L, 6L, 7L).toDF("k"))
    Snapshot.sql(spark,
      "UPDATE t SET v = v + 1000 WHERE id IN (SELECT k FROM keys)",
      Map("t" -> dir, "keys" -> keysDir))
    assert(rows(Snapshot.read(spark, dir)) == rows(fixture(0 until 100)).map {
      case (id, p, v) => if (Set(5L, 6L, 7L)(id)) (id, p, v + 1000L) else (id, p, v)
    })
    assert(Snapshot.latestManifest(spark, dir).get.operation == "UPDATE")
  }

  test("UPDATE … SET … WHERE applies parser-grade expressions over old values") {
    val dir = tmp("upd")
    Snapshot.create(spark, dir, fixture(0 until 100), Seq("p"))
    // swap-safe simultaneous assignment + an IN-list predicate: both are
    // session-parser features the front end inherits for free
    Snapshot.sql(spark,
      "UPDATE t SET v = v * 2 + id WHERE id IN (3, 4, 5) OR v >= 950", Map("t" -> dir))
    val expect = rows(fixture(0 until 100)).map { case (id, p, v) =>
      if (Set(3L, 4L, 5L)(id) || v >= 950) (id, p, v * 2 + id) else (id, p, v)
    }
    assert(rows(Snapshot.read(spark, dir)) == expect)
  }

  test("UPDATE with no WHERE touches every row; version advances once") {
    val dir = tmp("upd-all")
    Snapshot.create(spark, dir, fixture(0 until 50))
    val v = Snapshot.sql(spark, "UPDATE t SET v = 0", Map("t" -> dir))
    assert(v == 2L)
    assert(rows(Snapshot.read(spark, dir)) ==
      rows(fixture(0 until 50)).map { case (id, p, _) => (id, p, 0L) })
  }

  test("MERGE INTO … USING routes to mergeById (upserts + unmatched survive)") {
    val sqlDir = tmp("merge-sql"); val apiDir = tmp("merge-api")
    Seq(sqlDir, apiDir).foreach(d =>
      Snapshot.create(spark, d, fixture(0 until 100), Seq("p")))
    val updates = Seq(
      (4L, "even", 999L),   // update
      (200L, "even", 42L),  // insert
      (201L, "odd", 43L))   // insert
      .toDF("id", "p", "v")
    updates.createOrReplaceTempView("updates")
    val vSql = Snapshot.sql(spark,
      "MERGE INTO t USING updates ON t.id = updates.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      Map("t" -> sqlDir))
    val vApi = Snapshot.mergeById(spark, apiDir, updates, "id", "p")
    assert(vSql == vApi)
    assert(rows(Snapshot.read(spark, sqlDir)) == rows(Snapshot.read(spark, apiDir)))
    assert(rows(Snapshot.read(spark, sqlDir)).contains((4L, "even", 999L)))
    assert(rows(Snapshot.read(spark, sqlDir)).contains((200L, "even", 42L)))
  }

  test("the reference's aliased MERGE with explicit arms runs verbatim") {
    // funnel_live.py:155-172, shape-for-shape: aliased target and
    // source, an explicit UPDATE SET list (subset of columns — the
    // rest must keep their old values), and INSERT (cols) VALUES
    val dir = tmp("merge-arms")
    Snapshot.create(spark, dir, fixture(0 until 100), Seq("p"))
    Seq((4L, "even", 999L), (200L, "even", 42L), (5L, "odd", 777L))
      .toDF("id", "p", "v").createOrReplaceTempView("arm_updates")
    val v = Snapshot.sql(spark,
      """MERGE INTO t t_final
        |USING arm_updates t_update
        |ON t_final.id = t_update.id
        |WHEN MATCHED THEN
        |UPDATE SET
        |    v = t_update.v
        |WHEN NOT MATCHED THEN
        |INSERT (id, p, v)
        |VALUES (id, p, v)
        |""".stripMargin, Map("t" -> dir))
    assert(v == 2L)
    val expect = rows(fixture(0 until 100)).map {
      case (4L, p, _) => (4L, p, 999L)
      case (5L, p, _) => (5L, p, 777L)
      case r => r
    } + ((200L, "even", 42L))
    assert(rows(Snapshot.read(spark, dir)) == expect)

    // matched-DELETE arm; insert lists a SUBSET of columns (rest null)
    Seq((6L, "even", 0L), (201L, "odd", 55L)).toDF("id", "p", "v")
      .createOrReplaceTempView("arm_deletes")
    Snapshot.sql(spark,
      "MERGE INTO t USING arm_deletes s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT (id, p) VALUES (s.id, s.p)",
      Map("t" -> dir))
    val read = Snapshot.read(spark, dir)
    assert(read.where(col("id") === 6L).count() == 0L, "matched DELETE must drop the row")
    assert(read.where(col("id") === 201L && col("v").isNull).count() == 1L,
      "unlisted INSERT columns are null")

    // a duplicate source id refuses rather than fanning out the join
    Seq((7L, "odd", 1L), (7L, "odd", 2L)).toDF("id", "p", "v")
      .createOrReplaceTempView("arm_dups")
    val dup = intercept[IllegalArgumentException] {
      Snapshot.sql(spark,
        "MERGE INTO t USING arm_dups s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v", Map("t" -> dir))
    }
    assert(dup.getMessage.contains("duplicate"))
  }

  test("aliased DELETE and UPDATE resolve the alias as a qualifier") {
    val dir = tmp("alias")
    Snapshot.create(spark, dir, fixture(0 until 40), Seq("p"))
    Snapshot.sql(spark, "DELETE FROM t AS x WHERE x.id < 5", Map("t" -> dir))
    Snapshot.sql(spark, "UPDATE t x SET x.v = x.v + 1 WHERE x.id = 7", Map("t" -> dir))
    val expect = rows(fixture(0 until 40)).filterNot(_._1 < 5)
      .map { case (id, p, v) => if (id == 7L) (id, p, v + 1) else (id, p, v) }
    assert(rows(Snapshot.read(spark, dir)) == expect)
  }

  test("refusals: unknown table, unknown SET column, foreign qualifier, subquery") {
    val dir = tmp("refuse")
    Snapshot.create(spark, dir, fixture(0 until 10))
    val reg = Map("t" -> dir)
    val unknownTable = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "DELETE FROM nope WHERE id = 1", reg)
    }
    assert(unknownTable.getMessage.contains("unknown table 'nope'"))
    val unknownCol = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "UPDATE t SET missing = 1", reg)
    }
    assert(unknownCol.getMessage.contains("unknown column"))
    val foreignQual = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "DELETE FROM t WHERE other.id = 1", reg)
    }
    assert(foreignQual.getMessage.contains("unknown qualifier 'other'"))
    // bare `IN (SELECT ...)` is SUPPORTED now (deleteMatching); the
    // refusal surface is anything richer — a scalar subquery compared
    // with an operator other than IN
    val subq = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "DELETE FROM t WHERE id = (SELECT max(id) FROM t)", reg)
    }
    assert(subq.getMessage.contains("subqueries"))
    // ... and in SET values, where one would resolve against the
    // session catalog instead of the registry
    val subqSet = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "UPDATE t SET v = (SELECT max(v) FROM t)", reg)
    }
    assert(subqSet.getMessage.contains("subqueries"))
    // nondeterministic predicates are evaluated in several jobs: refuse
    val nondet = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "DELETE FROM t WHERE rand() < 0.5", reg)
    }
    assert(nondet.getMessage.contains("nondeterministic"))
    val dupAssign = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "UPDATE t SET v = 1, v = 2", reg)
    }
    assert(dupAssign.getMessage.toLowerCase.contains("twice") ||
      dupAssign.getMessage.toLowerCase.contains("duplicate"))
    // nothing committed by any refused statement
    assert(Snapshot.latestVersion(spark, dir).contains(1L))
  }

  test("refusals: non-DML statements and unsupported merge shapes") {
    val dir = tmp("shape")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    val reg = Map("t" -> dir)
    val select = intercept[IllegalArgumentException] {
      Snapshot.sql(spark, "SELECT * FROM t", reg)
    }
    assert(select.getMessage.contains("DELETE / UPDATE / MERGE"))
    fixture(0 until 1).createOrReplaceTempView("src")
    val badOn = intercept[IllegalArgumentException] {
      Snapshot.sql(spark,
        "MERGE INTO t USING src ON t.id = src.v " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", reg)
    }
    assert(badOn.getMessage.contains("same column"))
  }

  test("MERGE with conditional arms: first-match-wins ordering, per arm") {
    val dir = tmp("condarms")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    // matched ids 0..9; source carries 0..12 with v = id*100
    (0 until 13).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i.toLong * 100))
      .toDF("id", "p", "v").createOrReplaceTempView("arms_src")
    Snapshot.sql(spark,
      """MERGE INTO t USING arms_src s ON t.id = s.id
        |WHEN MATCHED AND s.v >= 800 THEN DELETE
        |WHEN MATCHED AND t.v < 30 THEN UPDATE SET v = s.v + 1
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED AND s.id >= 12 THEN INSERT (id, p, v) VALUES (s.id, s.p, -1)
        |WHEN NOT MATCHED THEN INSERT (id, p, v) VALUES (s.id, s.p, s.v)""".stripMargin,
      Map("t" -> dir))
    // 8, 9 deleted (s.v >= 800); 0..2 (t.v < 30) -> s.v + 1; 3..7 -> s.v;
    // 12 inserts with -1 (first insert arm); 10, 11 insert with s.v
    val got = rows(Snapshot.read(spark, dir))
    val want = Set[(Long, String, Long)](
      (0L, "even", 1L), (1L, "odd", 101L), (2L, "even", 201L),
      (3L, "odd", 300L), (4L, "even", 400L), (5L, "odd", 500L),
      (6L, "even", 600L), (7L, "odd", 700L),
      (10L, "even", 1000L), (11L, "odd", 1100L), (12L, "even", -1L))
    assert(got == want, s"got $got")
  }

  test("MERGE ON a composite key joins all key columns") {
    val dir = tmp("compkey")
    // natural key = (id, seq): same id with different seq are DIFFERENT rows
    Seq((1L, 1, "a", 10L), (1L, 2, "a", 20L), (2L, 1, "b", 30L))
      .toDF("id", "seq", "p", "v").createOrReplaceTempView("ck_base")
    Snapshot.create(spark, dir, spark.table("ck_base"), Seq("p"))
    Seq((1L, 2, "a", 99L), (2L, 2, "b", 42L))
      .toDF("id", "seq", "p", "v").createOrReplaceTempView("ck_src")
    Snapshot.sql(spark,
      """MERGE INTO t USING ck_src s ON t.id = s.id AND t.seq = s.seq
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, seq, p, v) VALUES (s.id, s.seq, s.p, s.v)""".stripMargin,
      Map("t" -> dir))
    // only (1,2) matched; (1,1) untouched; (2,2) inserted
    assert(Snapshot.read(spark, dir).select("id", "seq", "v")
      .as[(Long, Int, Long)].collect().toSet ==
      Set((1L, 1, 10L), (1L, 2, 99L), (2L, 1, 30L), (2L, 2, 42L)))
    // duplicate composite keys in the source still refuse
    Seq((1L, 1, "a", 1L), (1L, 1, "a", 2L)).toDF("id", "seq", "p", "v")
      .createOrReplaceTempView("ck_dup")
    val e = intercept[IllegalArgumentException](Snapshot.sql(spark,
      """MERGE INTO t USING ck_dup s ON t.id = s.id AND t.seq = s.seq
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin, Map("t" -> dir)))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the sync shape, whole-table scoped") {
    val dir = tmp("bysource")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    // the feed carries only ids 0..3 and 100: everything else is stale
    (Seq(0L, 1L, 2L, 3L, 100L)).map(i => (i, if (i % 2 == 0) "even" else "odd", i * 7))
      .toDF("id", "p", "v").createOrReplaceTempView("sync_src")
    Snapshot.sql(spark,
      """MERGE INTO t USING sync_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, p, v) VALUES (s.id, s.p, s.v)
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -t.v""".stripMargin,
      Map("t" -> dir))
    val got = rows(Snapshot.read(spark, dir))
    val want = Set[(Long, String, Long)](
      (0L, "even", 0L), (1L, "odd", 7L), (2L, "even", 14L), (3L, "odd", 21L),
      (100L, "even", 700L), // inserted
      (4L, "even", -40L), (5L, "odd", -50L), (6L, "even", -60L), (7L, "odd", -70L))
    assert(got == want, s"got $got") // 8, 9 deleted by the conditional arm
  }

  test("a nondeterministic MERGE source refuses (evaluated in several jobs)") {
    val dir = tmp("ndsrc")
    Snapshot.create(spark, dir, fixture(0 until 10), Seq("p"))
    fixture(0 until 3).withColumn("v", (rand() * 100).cast("long"))
      .createOrReplaceTempView("nd_src")
    val err = intercept[IllegalArgumentException] {
      Snapshot.sql(spark,
        "MERGE INTO t USING nd_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v", Map("t" -> dir))
    }
    assert(err.getMessage.contains("nondeterministic"))
    assert(Snapshot.latestVersion(spark, dir).contains(1L))
  }

  test("the registry binding leaves nothing behind, even when the statement throws") {
    val dir = tmp("binding")
    Snapshot.create(spark, dir, fixture(0 until 10))
    val reg = Map("t" -> dir)
    val cm = spark.sessionState.catalogManager
    Snapshot.sql(spark, "UPDATE t SET v = 1 WHERE id = 1", reg)
    val catalogs = cm.listCatalogs(None)
    val live = graft.catalog.RegistryBinding.activeBindings
    intercept[IllegalArgumentException](Snapshot.sql(spark, "DELETE FROM nope", reg))
    intercept[Exception](Snapshot.sql(spark, "DELETE FROM t WHERE no_such_fn(id)", reg))
    Snapshot.sqlQuery(spark, "SELECT * FROM t", reg).collect()
    assert(graft.catalog.RegistryBinding.activeBindings == live)
    assert(cm.listCatalogs(None) == catalogs, "one registry catalog per session, not per call")
    assert(spark.conf.getOption("spark.sql.catalog.graft_registry").isEmpty)
    // a binding namespace outlives no call
    val gone = intercept[IllegalArgumentException](
      spark.sql("SELECT * FROM graft_registry.call1.t").collect())
    assert(gone.getMessage.contains("no active registry binding"))
  }

  test("a session without GraftExtensions is refused with one clear message") {
    import org.apache.spark.sql.SparkSession
    val dir = tmp("noext")
    Snapshot.create(spark, dir, fixture(0 until 10))
    val v0 = Snapshot.latestVersion(spark, dir)
    // extensions come from the shared context's static conf: lift it
    // while a fresh session state is built on the same context
    val sc = spark.sparkContext
    val conf = sc.getClass.getMethod("conf").invoke(sc).asInstanceOf[org.apache.spark.SparkConf]
    val ext = conf.get("spark.sql.extensions")
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    conf.remove("spark.sql.extensions")
    try {
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne prev)
      val e = intercept[IllegalArgumentException](
        Snapshot.sql(plain, "DELETE FROM t WHERE id = 1", Map("t" -> dir)))
      assert(e.getMessage.contains("GraftExtensions"))
      intercept[IllegalArgumentException](Snapshot.sqlScript(plain, "SELECT 1"))
    } finally {
      conf.set("spark.sql.extensions", ext)
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
    assert(Snapshot.latestVersion(spark, dir) == v0, "nothing ran")
  }
}
