package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{MatView, Snapshot}
import graft.pipelines.{Maintenance, Runner}

/** Fleet-wide maintenance from per-table policy: `ALTER MATERIALIZED
  * VIEW … SET REFRESH EVERY n TICKS` records the policy; one
  * [[Maintenance.tick]] covers REFRESH + OPTIMIZE + VACUUM per table
  * under the DAG runner's crash-resume flags — exactly-once effects
  * through idempotent bodies.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("declared refresh policy drives the tick; crash between refresh and flag heals") {
    val root = Files.createTempDirectory("graft-maint").toString
    val (srcP, mvP, flagD) = (s"$root/src", s"$root/mv", s"$root/flags")
    Snapshot.create(spark, srcP,
      (0L until 90L).map(i => (i, s"k${i % 3}", i % 20)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      "SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    // the policy is declared SQL-first and lands as a table property
    Snapshot.sql(spark, "ALTER MATERIALIZED VIEW mv SET REFRESH EVERY 2 TICKS", reg)
    assert(Snapshot.latestManifest(spark, mvP).get
      .properties.get("graft.mv.refreshEvery").contains("2"))
    val resolve = (parts: Seq[String]) => reg(parts.last.toLowerCase)
    val tables = Seq("src" -> srcP, "mv" -> mvP)
    def mvWm: Long =
      Snapshot.latestManifest(spark, mvP).get.streamBatch(MatView.ConsumerId)

    // tick 1: not divisible by 2 — no refresh even though the source
    // churned (the policy owns the cadence)
    Snapshot.append(spark, srcP, Seq((500L, "k0", 7L)).toDF("id", "k", "v"))
    val wm0 = mvWm
    val t1 = Maintenance.tick(spark, tables, 1L, flagD, resolve)
    assert(t1.values.forall(_.ok))
    assert(mvWm == wm0, "tick 1 must not refresh (EVERY 2)")

    // tick 2, CRASHED between the refresh COMMIT and the stage flag:
    // the manifest-committed hook throws after the MV publish lands
    var killed = false
    Snapshot.faultHook = stage =>
      if (stage == "manifest-committed" && !killed) {
        killed = true; throw new RuntimeException("injected crash")
      }
    val t2a = try Maintenance.tick(spark, tables, 2L, flagD, resolve)
    finally Snapshot.faultHook = _ => ()
    assert(killed, "the injected crash must have fired")
    assert(t2a("maintain_mv").isInstanceOf[Runner.Failed], s"got $t2a")
    assert(mvWm > wm0, "the refresh itself committed before the crash")
    val vAfterCrash = Snapshot.latestVersion(spark, mvP).get
    // re-run of tick 2: the failed stage re-executes, the refresh
    // NO-OPS (watermark already advanced — exactly-once effect), the
    // flag lands; completed stages resume without re-running
    val t2b = Maintenance.tick(spark, tables, 2L, flagD, resolve)
    assert(t2b.values.forall(_.ok))
    assert(Snapshot.latestVersion(spark, mvP).get == vAfterCrash,
      "the healed re-run must not fold the window twice")
    assert(Snapshot.read(spark, mvP).select("k", "n").as[(String, Long)]
      .collect().toSet == Snapshot.sqlQuery(spark, defining, reg)
      .select("k", "n").as[(String, Long)].collect().toSet)
    // a third run of the SAME tick is a pure flag listing
    val before = Snapshot.latestVersion(spark, mvP).get
    val t2c = Maintenance.tick(spark, tables, 2L, flagD, resolve)
    assert(t2c.values.forall(_ == Runner.Resumed))
    assert(Snapshot.latestVersion(spark, mvP).get == before)

    // UNSET clears the policy; the next even tick does nothing
    Snapshot.sql(spark, "ALTER MATERIALIZED VIEW mv UNSET REFRESH", reg)
    assert(!Snapshot.latestManifest(spark, mvP).get
      .properties.contains("graft.mv.refreshEvery"))
    Snapshot.append(spark, srcP, Seq((501L, "k1", 9L)).toDF("id", "k", "v"))
    val wm2 = mvWm
    val t4 = Maintenance.tick(spark, tables, 4L, flagD, resolve)
    assert(t4.values.forall(_.ok))
    assert(mvWm == wm2, "no policy, no refresh")
  }

  test("the catalog route parses ALTER MATERIALIZED VIEW and refuses non-MVs") {
    val wh = Files.createTempDirectory("graft-maint-cat").toString
    spark.conf.set("spark.sql.catalog.gmn", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmn.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmn.db")
    Snapshot.create(spark, s"$wh/db/src",
      (0L until 30L).map(i => (i, s"k${i % 3}")).toDF("id", "k"))
    spark.sql(
      "CREATE MATERIALIZED VIEW gmn.db.mv AS SELECT k, COUNT(*) AS n FROM gmn.db.src GROUP BY k")
    spark.sql("ALTER MATERIALIZED VIEW gmn.db.mv SET REFRESH EVERY 3 TICKS")
    assert(Snapshot.latestManifest(spark, s"$wh/db/mv").get
      .properties.get("graft.mv.refreshEvery").contains("3"))
    spark.sql("ALTER MATERIALIZED VIEW gmn.db.mv UNSET REFRESH")
    assert(!Snapshot.latestManifest(spark, s"$wh/db/mv").get
      .properties.contains("graft.mv.refreshEvery"))
    // a plain table is not a materialized view — loud refusal
    val e = intercept[Exception](
      spark.sql("ALTER MATERIALIZED VIEW gmn.db.src SET REFRESH EVERY 2 TICKS"))
    assert(e.getMessage.contains("not a materialized view"))
    // malformed cadence refuses at parse, not at night
    intercept[Exception](
      spark.sql("ALTER MATERIALIZED VIEW gmn.db.mv SET REFRESH EVERY x TICKS"))
  }

  test("a namespace tick discovers tables and maintains them by their own policy") {
    val wh = Files.createTempDirectory("graft-maint-ns").toString
    spark.conf.set("spark.sql.catalog.gmt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmt.db")
    Snapshot.create(spark, s"$wh/db/src",
      (0L until 60L).map(i => (i, s"k${i % 3}", i % 9)).toDF("id", "k", "v"))
    spark.sql(
      """CREATE MATERIALIZED VIEW gmt.db.mv AS
        |SELECT k, COUNT(*) AS n FROM gmt.db.src GROUP BY k""".stripMargin)
    spark.sql("ALTER MATERIALIZED VIEW gmt.db.mv SET REFRESH EVERY 1 TICKS")
    // a table with NO policy is listed but nothing runs for it
    Snapshot.create(spark, s"$wh/db/plain",
      (0L until 10L).map(i => (i, i)).toDF("id", "v"))
    Snapshot.append(spark, s"$wh/db/src", Seq((500L, "k0", 1L)).toDF("id", "k", "v"))
    val out = Maintenance.tickNamespace(spark, "gmt.db", 1L, s"$wh/flags")
    assert(out.keySet == Set("maintain_src", "maintain_mv", "maintain_plain"),
      out.toString)
    assert(out.values.forall(_.ok))
    // the MV refreshed: it tracks the churned source
    assert(Snapshot.read(spark, s"$wh/db/mv").as[(String, Long)].collect().toSet ==
      spark.sql("SELECT k, COUNT(*) AS n FROM gmt.db.src GROUP BY k")
        .as[(String, Long)].collect().toSet)
    // the no-policy table is untouched (no new version)
    assert(Snapshot.latestVersion(spark, s"$wh/db/plain").contains(1L))
  }

  test("an MV outside the current namespace resolves its unqualified source one way everywhere") {
    val wh = Files.createTempDirectory("graft-maint-nsrel").toString
    spark.conf.set("spark.sql.catalog.gmq", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmq.db1")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmq.db2")
    // two tables named `fact_nsrel`: the current namespace's and the view's own
    Snapshot.create(spark, s"$wh/db1/fact_nsrel",
      (0L until 60L).map(i => (i, s"k${i % 3}")).toDF("id", "k"))
    Snapshot.create(spark, s"$wh/db2/fact_nsrel",
      (0L until 10L).map(i => (i, s"z${i % 2}")).toDF("id", "k"))
    val defining = "SELECT k, COUNT(*) AS n FROM fact_nsrel GROUP BY k"
    def truth = spark.sql("SELECT k, COUNT(*) AS n FROM gmq.db1.fact_nsrel GROUP BY k")
      .as[(String, Long)].collect().toSet
    def view = Snapshot.read(spark, s"$wh/db2/mv").as[(String, Long)].collect().toSet
    val before = spark.catalog.currentCatalog()
    try {
      spark.sql("USE gmq.db1")
      spark.sql(s"CREATE MATERIALIZED VIEW gmq.db2.mv AS $defining")
      assert(view == truth, "CREATE reads the current namespace's table")
      Snapshot.append(spark, s"$wh/db1/fact_nsrel", Seq((500L, "k0")).toDF("id", "k"))
      spark.sql("REFRESH MATERIALIZED VIEW gmq.db2.mv")
      assert(view == truth, "REFRESH follows the same table")
      spark.sql("ALTER MATERIALIZED VIEW gmq.db2.mv SET REFRESH EVERY 1 TICKS")
      Snapshot.append(spark, s"$wh/db1/fact_nsrel", Seq((501L, "k1")).toDF("id", "k"))
      val out = Maintenance.tickNamespace(spark, "gmq.db2", 1L, s"$wh/flags")
      assert(out.values.forall(_.ok), out.toString)
      assert(view == truth, "the namespace tick refreshes from the same table")
      // the router checks freshness against that table too: fresh → routes
      spark.conf.set("spark.graft.mv.autoRoute", s"$wh/db2/mv")
      val routed = spark.sql(defining)
      val scanned = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.asInstanceOf[graft.sources.SnapshotFileIndex].pinnedPath
      }.toSet
      assert(scanned == Set(s"$wh/db2/mv"), s"expected the MV scan, got $scanned")
      assert(routed.as[(String, Long)].collect().toSet == truth)
    } finally {
      spark.conf.unset("spark.graft.mv.autoRoute")
      spark.sql(s"USE $before.default")
    }
  }

  test("a GLOBAL rollup MV (no GROUP BY) refreshes by full recompute, correctly") {
    val root = Files.createTempDirectory("graft-mv-global").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 50L).map(i => (i, i % 7)).toDF("id", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      "SELECT COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total FROM src"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    Snapshot.append(spark, srcP, Seq((500L, 3L), (501L, 6L)).toDF("id", "v"))
    Snapshot.delete(spark, srcP, col("id") < 5)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    // no grouping keys = nothing for the fold join / side tables to
    // key on — the refresh demotes (one-row view, recompute is free)
    assert(Snapshot.latestManifest(spark, mvP).get.operation
      .contains("(full recompute)"))
    assert(Snapshot.read(spark, mvP).collect().toSeq ==
      Snapshot.sqlQuery(spark, defining, reg).collect().toSeq)
  }

  test("one tick covers refresh + optimize + vacuum from per-table policy") {
    val root = Files.createTempDirectory("graft-maint-full").toString
    val (srcP, mvP, flagD) = (s"$root/src", s"$root/mv", s"$root/flags")
    Snapshot.create(spark, srcP,
      (0L until 60L).map(i => (i, s"k${i % 3}", i % 10)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    Snapshot.sql(spark,
      "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*) AS n FROM src GROUP BY k", reg)
    Snapshot.sql(spark, "ALTER MATERIALIZED VIEW mv SET REFRESH EVERY 1 TICKS", reg)
    // fragment the source so OPTIMIZE has real work, and give it a
    // 2-version retention so VACUUM reclaims the pre-compaction files
    for (b <- 0 until 4)
      Snapshot.append(spark, srcP,
        Seq((100L + b, s"k${b % 3}", 5L)).toDF("id", "k", "v"))
    Snapshot.setProperties(spark, srcP, Map(
      "graft.optimize.targetBytes" -> (64L << 20).toString,
      "graft.vacuum.retainVersions" -> "2"))
    val filesBefore = Snapshot.latestManifest(spark, srcP).get.files.size
    val resolve = (parts: Seq[String]) => reg(parts.last.toLowerCase)
    val out = Maintenance.tick(spark, Seq("src" -> srcP, "mv" -> mvP),
      6L, flagD, resolve)
    assert(out.values.forall(_.ok), out.toString)
    val mSrc = Snapshot.latestManifest(spark, srcP).get
    assert(mSrc.files.size < filesBefore, "OPTIMIZE must have compacted")
    // the MV refreshed at this tick and tracks the churned source
    assert(Snapshot.read(spark, mvP).as[(String, Long)].collect().toSet ==
      Snapshot.sqlQuery(spark, "SELECT k, COUNT(*) AS n FROM src GROUP BY k", reg)
        .as[(String, Long)].collect().toSet)
    // a policy typo fails LOUDLY at declaration, not silently at night
    intercept[IllegalArgumentException] {
      Snapshot.setProperties(spark, srcP, Map("graft.mv.refreshEvery" -> "nightly"))
    }
  }

  test("a stacked fleet tick refreshes sources before their dependents") {
    val wh = Files.createTempDirectory("graft-maint-stack").toString
    spark.conf.set("spark.sql.catalog.gmc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmc.db")
    Snapshot.create(spark, s"$wh/db/src",
      (0L until 200L).map(i => (i, s"k${i % 5}", s"b${i % 3}", i % 20))
        .toDF("id", "k", "b", "v"))
    // tier 1 over the fact; tier 2 over tier 1 — NAMED so the naive
    // name-sorted listing would run the OUTER view first ("agg" < "dia")
    // and leave it one tick stale
    spark.sql(
      """CREATE MATERIALIZED VIEW gmc.db.dia AS
        |SELECT k, b, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM gmc.db.src GROUP BY k, b""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW gmc.db.agg AS
        |SELECT k, COUNT(*) AS nb, SUM(n) AS n, SUM(total) AS total
        |FROM gmc.db.dia GROUP BY k""".stripMargin)
    spark.sql("ALTER MATERIALIZED VIEW gmc.db.dia SET REFRESH EVERY 1 TICKS")
    spark.sql("ALTER MATERIALIZED VIEW gmc.db.agg SET REFRESH EVERY 1 TICKS")
    // churn the fact, then ONE fleet tick
    Snapshot.append(spark, s"$wh/db/src",
      (1000L until 1060L).map(i => (i, s"k${i % 5}", s"b${i % 3}", i % 20))
        .toDF("id", "k", "b", "v"))
    Snapshot.delete(spark, s"$wh/db/src", col("id") % 7 === 2)
    val out = Maintenance.tickNamespace(spark, "gmc.db", 1L, s"$wh/flags")
    assert(out.values.forall(_.ok), out.toString)
    // execution order (the returned map preserves it): the inner tier
    // ran before the outer, despite the name sort saying otherwise
    val order = out.keys.toSeq
    assert(order.indexOf("maintain_dia") < order.indexOf("maintain_agg"),
      s"sources must refresh first, got $order")
    // ...and therefore the OUTER view is fresh through the cascade in
    // this very tick — equal to a recompute from the raw fact
    assert(spark.table("gmc.db.agg").select("k", "nb", "n", "total")
      .collect().toSet ==
      spark.sql(
        """SELECT k, COUNT(DISTINCT b) AS nb, COUNT(*) AS n,
          |  SUM(CAST(v AS DECIMAL(18,2))) AS total
          |FROM gmc.db.src GROUP BY k""".stripMargin).collect().toSet,
      "the outer tier must land at this tick's fact state")
    assert(Snapshot.latestManifest(spark, s"$wh/db/agg").get.operation
      .contains("(incremental)"), "the cascade step folds, not recomputes")
  }
}
