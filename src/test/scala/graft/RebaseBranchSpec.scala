package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Snapshot

/** REBASE BRANCH: the diverged-parent half of the staging workflow.
  * [[Snapshot.mergeBranch]] is fast-forward-only; when the parent's
  * content moved since the branch point, [[Snapshot.rebaseBranch]]
  * replays the branch's net file-level deltas onto the parent's new
  * head (pure metadata, no rows copied), refusing loudly on a true
  * conflict — then MERGE fast-forwards.
  */
class RebaseBranchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-rebase-$tag").toString + "/t"

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "p", "v").as[(Long, String, Long)].collect().toSet

  private def fixture(ids: Range): DataFrame =
    ids.map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i.toLong * 10))
      .toDF("id", "p", "v")

  test("branch deltas replay onto a moved parent; merge then fast-forwards with both sides' rows") {
    val path = tmp("basic")
    Snapshot.create(spark, path, fixture(0 until 20), partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    // branch work: an append AND a DV delete of a base row
    Snapshot.append(spark, bPath, fixture(100 until 105))
    Snapshot.delete(spark, bPath, col("id") === 7, dvMaxFraction = 0.9)
    // parent diverges: its own append
    Snapshot.append(spark, path, fixture(200 until 203))
    // fast-forward refuses — this is exactly the rebase use case
    val e = intercept[IllegalArgumentException](Snapshot.mergeBranch(spark, path, "dev"))
    assert(e.getMessage.contains("diverged"))
    Snapshot.rebaseBranch(spark, path, "dev")
    // the branch now reads parent head ± its deltas
    val wantBranch = (rows(fixture(0 until 20)) ++ rows(fixture(100 until 105)) ++
      rows(fixture(200 until 203))).filterNot(_._1 == 7L)
    assert(rows(Snapshot.read(spark, bPath)) == wantBranch)
    // the parent is untouched by the rebase (content-wise)
    assert(rows(Snapshot.read(spark, path)) ==
      rows(fixture(0 until 20)) ++ rows(fixture(200 until 203)))
    // no stray helper pin; the record moved to the new base
    val m = Snapshot.latestManifest(spark, path).get
    assert(!m.tags.contains("__rebase_dev"), "helper tag must retire")
    assert(m.branches("dev") > 1L, "record must point at the rebased base")
    // and NOW the merge fast-forwards
    Snapshot.mergeBranch(spark, path, "dev")
    assert(rows(Snapshot.read(spark, path)) == wantBranch)
    assert(Snapshot.latestManifest(spark, path).get.branches.isEmpty)
    // merged state keeps working (the DV carried through the rebase)
    Snapshot.compact(spark, path, minFiles = 1)
    assert(rows(Snapshot.read(spark, path)) == wantBranch)
  }

  test("a file rewritten on both sides is a TRUE conflict: rebase refuses, both tables intact") {
    val path = tmp("conflict")
    // one file per partition so both sides touch the SAME file
    Snapshot.create(spark, path, fixture(0 until 10).repartition(1),
      partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    Snapshot.update(spark, bPath, col("id") === 2, Map("v" -> lit(222L)))
    Snapshot.update(spark, path, col("id") === 4, Map("v" -> lit(444L)))
    val e = intercept[IllegalArgumentException](Snapshot.rebaseBranch(spark, path, "dev"))
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // both sides untouched by the refusal
    assert(rows(Snapshot.read(spark, bPath)) ==
      rows(fixture(0 until 10)).map(r => if (r._1 == 2L) (r._1, r._2, 222L) else r))
    assert(rows(Snapshot.read(spark, path)) ==
      rows(fixture(0 until 10)).map(r => if (r._1 == 4L) (r._1, r._2, 444L) else r))
    // resolution path: re-branch — drop and the parent stands
    Snapshot.dropBranch(spark, path, "dev")
    assert(Snapshot.latestManifest(spark, path).get.branches.isEmpty)
  }

  test("disjoint DV deletes on different files rebase cleanly") {
    val path = tmp("dv")
    // many files so the branch's and parent's deletes hit different ones
    Snapshot.create(spark, path, fixture(0 until 400).repartition(8),
      partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    Snapshot.delete(spark, bPath, col("id") === 11, dvMaxFraction = 0.9)
    Snapshot.delete(spark, path, col("id") === 308, dvMaxFraction = 0.9)
    // guard the premise: the two ids live in different physical files
    // (compare root-relative paths — one write job reuses the same part
    // basename across partition dirs, so basenames can collide legally)
    val bDv = Snapshot.latestManifest(spark, bPath).get.dvs.keySet
      .map(_.stripPrefix("@r0/"))
    val pDv = Snapshot.latestManifest(spark, path).get.dvs.keySet
    assert(bDv.intersect(pDv).isEmpty,
      s"test premise: deletes must land in different files ($bDv vs $pDv)")
    Snapshot.rebaseBranch(spark, path, "dev")
    assert(rows(Snapshot.read(spark, bPath)) ==
      rows(fixture(0 until 400)).filterNot(r => r._1 == 11L || r._1 == 308L))
    Snapshot.mergeBranch(spark, path, "dev")
    assert(rows(Snapshot.read(spark, path)) ==
      rows(fixture(0 until 400)).filterNot(r => r._1 == 11L || r._1 == 308L))
  }

  test("parent metadata since the branch point carries through the rebase; conflicts refuse") {
    val path = tmp("meta")
    Snapshot.create(spark, path, fixture(0 until 10), partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    Snapshot.append(spark, bPath, fixture(50 until 52))
    Snapshot.append(spark, path, fixture(90 until 92)) // content divergence
    Snapshot.addConstraint(spark, path, "v_nonneg", "v >= 0")
    Snapshot.setProperties(spark, bPath, Map("build.note" -> "rc1"))
    Snapshot.rebaseBranch(spark, path, "dev")
    val bm = Snapshot.latestManifest(spark, bPath).get
    assert(bm.constraints.get("v_nonneg").contains("v >= 0"),
      "parent's post-branch constraint must ride the rebase")
    assert(bm.properties.get("build.note").contains("rc1"))
    // the rebased branch ENFORCES the carried constraint
    intercept[IllegalArgumentException](Snapshot.append(spark, bPath,
      Seq((99L, "odd", -1L)).toDF("id", "p", "v")))
    // same-key both-sides property conflict refuses
    Snapshot.setProperties(spark, path, Map("quality.bar" -> "strict"))
    Snapshot.setProperties(spark, bPath, Map("quality.bar" -> "lenient"))
    Snapshot.append(spark, path, fixture(95 until 96)) // diverge again
    val e = intercept[IllegalArgumentException](Snapshot.rebaseBranch(spark, path, "dev"))
    assert(e.getMessage.contains("quality.bar") && e.getMessage.contains("BOTH"))
    assert(e.getMessage.startsWith("rebaseBranch:"), e.getMessage)
  }

  test("a crash between the branch commit and the record handover heals on re-run AND on merge") {
    val path = tmp("crash")
    Snapshot.create(spark, path, fixture(0 until 10), partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    Snapshot.append(spark, bPath, fixture(50 until 53))
    Snapshot.append(spark, path, fixture(90 until 92))
    // kill the rebase right after the branch's rebased manifest lands
    Snapshot.faultHook = stage =>
      if (stage == "rebase-branch-committed") throw new RuntimeException("injected crash")
    val boom = try intercept[RuntimeException](Snapshot.rebaseBranch(spark, path, "dev"))
    finally Snapshot.faultHook = _ => ()
    assert(boom.getMessage == "injected crash")
    // torn state: branch rebased (BranchBaseProp set), record stale,
    // helper tag pinning the new base — everything still readable
    val want = rows(fixture(0 until 10)) ++ rows(fixture(50 until 53)) ++
      rows(fixture(90 until 92))
    assert(rows(Snapshot.read(spark, bPath)) == want)
    assert(Snapshot.latestManifest(spark, path).get.tags.contains("__rebase_dev"))
    // MERGE heals directly: it prefers the branch-recorded base, sees a
    // clean fast-forward, and retires the helper tag in its commit
    Snapshot.mergeBranch(spark, path, "dev")
    val m = Snapshot.latestManifest(spark, path).get
    assert(rows(Snapshot.read(spark, path)) == want)
    assert(!m.tags.contains("__rebase_dev") && m.branches.isEmpty)
  }

  test("rebased-then-merged files survive an aggressive parent vacuum") {
    val path = tmp("vacuum")
    Snapshot.create(spark, path, fixture(0 until 10), partitionCols = Seq("p"))
    Snapshot.createBranch(spark, path, "dev")
    val bPath = Snapshot.branchPath(path, "dev")
    Snapshot.append(spark, bPath, fixture(50 until 55))
    Snapshot.overwrite(spark, path, fixture(200 until 220)) // heavy divergence
    Snapshot.rebaseBranch(spark, path, "dev")
    Snapshot.mergeBranch(spark, path, "dev")
    Snapshot.vacuum(spark, path, keepVersions = 1, orphanGraceMs = 0L)
    assert(rows(Snapshot.read(spark, path)) ==
      rows(fixture(200 until 220)) ++ rows(fixture(50 until 55)))
  }

  test("REBASE BRANCH as SQL text on both front ends") {
    // registry route
    val root = Files.createTempDirectory("graft-rebase-sql").toString
    val path = s"$root/t"
    Snapshot.create(spark, path, fixture(0 until 8), partitionCols = Seq("p"))
    val reg = Map("t" -> path, "t_dev" -> Snapshot.branchPath(path, "dev"))
    Snapshot.sql(spark, "ALTER TABLE t CREATE BRANCH dev", reg)
    Snapshot.sql(spark, "INSERT INTO t_dev VALUES (100, 'even', 1000)", reg)
    Snapshot.sql(spark, "INSERT INTO t VALUES (200, 'odd', 2000)", reg)
    Snapshot.sql(spark, "ALTER TABLE t REBASE BRANCH dev", reg)
    Snapshot.sql(spark, "ALTER TABLE t MERGE BRANCH dev", reg)
    assert(Snapshot.sqlQuery(spark, "SELECT count(*) AS n FROM t", reg)
      .as[Long].head() == 10L)

    // catalog route (dialect parser)
    val wh = Files.createTempDirectory("graft-rebase-wh").toString
    spark.conf.set("spark.sql.catalog.grb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grb.db")
    spark.sql("CREATE TABLE grb.db.t (id BIGINT, p STRING, v BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO grb.db.t VALUES (1, 'even', 10)")
    spark.sql("ALTER TABLE grb.db.t CREATE BRANCH nightly")
    Snapshot.append(spark, Snapshot.branchPath(s"$wh/db/t", "nightly"),
      Seq((2L, "odd", 20L)).toDF("id", "p", "v"))
    spark.sql("INSERT INTO grb.db.t VALUES (3, 'even', 30)")
    spark.sql("ALTER TABLE grb.db.t REBASE BRANCH nightly")
    spark.sql("ALTER TABLE grb.db.t MERGE BRANCH nightly")
    assert(spark.sql("SELECT count(*) AS n FROM grb.db.t").as[Long].head() == 3L)
  }
}
