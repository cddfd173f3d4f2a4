package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{MatView, Snapshot}

/** Materialized views as first-class objects: defining SQL + source
  * watermark in the view's own manifest, `REFRESH` advancing it —
  * incrementally (change-feed fold) for additive rollups, by full
  * pinned recompute otherwise — with the FeedConsumer exactly-once
  * contract on the publish.
  */
class MatViewSpec extends SparkSpec {
  import spark.implicits._

  private def rollup(df: DataFrame): Set[(String, Long, java.math.BigDecimal)] =
    df.select(col("k"), col("n"), col("total"))
      .as[(String, Long, java.math.BigDecimal)].collect().toSet

  test("incremental refresh across churn is bitwise-identical to a full recompute") {
    val wh = Files.createTempDirectory("graft-mv").toString
    spark.conf.set("spark.sql.catalog.gmv", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.db")
    val srcPath = s"$wh/db/src"
    Snapshot.create(spark, srcPath,
      (0L until 300L).map(i => (i, s"k${i % 7}", i % 50)).toDF("id", "k", "v"))
    val defining =
      """SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM gmv.db.src WHERE v >= 5 GROUP BY k""".stripMargin
    spark.sql(s"CREATE MATERIALIZED VIEW gmv.db.mv AS $defining")
    val mvPath = s"$wh/db/mv"
    def recompute(): Set[(String, Long, java.math.BigDecimal)] =
      rollup(spark.sql(defining))
    assert(rollup(spark.table("gmv.db.mv")) == recompute(), "initial state")
    // the defining SQL and the watermark ride the manifest
    val m0 = Snapshot.latestManifest(spark, mvPath).get
    assert(m0.properties(MatView.SqlProp) == defining)
    assert(m0.streamBatch.contains(MatView.ConsumerId))

    // churn window 1: inserts (some below the WHERE bar), a delete, an update
    Snapshot.append(spark, srcPath,
      (1000L until 1040L).map(i => (i, s"k${i % 7}", i % 9)).toDF("id", "k", "v"))
    Snapshot.delete(spark, srcPath, col("id") < 20)
    Snapshot.update(spark, srcPath, col("id") === 50, Map("v" -> lit(49L)))
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.mv")
    assert(rollup(spark.table("gmv.db.mv")) == recompute(), "refresh 1")
    val m1 = Snapshot.latestManifest(spark, mvPath).get
    assert(m1.operation.contains("(incremental)"),
      s"additive rollup must take the change-feed path, got '${m1.operation}'")

    // churn window 2: a whole group drops below the bar and must vanish
    Snapshot.delete(spark, srcPath, col("k") === "k3" && col("v") >= 5)
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.mv")
    assert(rollup(spark.table("gmv.db.mv")) == recompute(), "refresh 2")
    assert(!rollup(spark.table("gmv.db.mv")).exists(_._1 == "k3"),
      "a group emptied by deletes must drop, exactly like the recompute")

    // already-current refresh is a no-op (no new version)
    val vBefore = Snapshot.latestVersion(spark, mvPath).get
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.mv")
    assert(Snapshot.latestVersion(spark, mvPath).get == vBefore)
  }

  test("a crash between the feed read and the publish re-runs exactly-once") {
    val root = Files.createTempDirectory("graft-mv-crash").toString
    val srcPath = s"$root/src"
    val mvPath = s"$root/mv"
    Snapshot.create(spark, srcPath,
      (0L until 100L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcPath, "mv" -> mvPath)
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k""".stripMargin, reg)
    Snapshot.append(spark, srcPath, Seq((500L, "k1", 500L)).toDF("id", "k", "v"))
    // kill the refresh AFTER the fold's files are written, BEFORE the
    // manifest publish: nothing commits, the watermark still names the
    // old version
    var killed = false
    Snapshot.faultHook = stage => if (stage == "manifest-staged" && !killed) {
      killed = true; throw new RuntimeException("injected crash")
    }
    val e = try intercept[RuntimeException](
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg))
    finally Snapshot.faultHook = _ => ()
    assert(killed && e.getMessage == "injected crash")
    val expected = Set(("k0", 34L), ("k1", 34L), ("k2", 33L))
    assert(rollup(Snapshot.read(spark, mvPath)).map(r => (r._1, r._2)) ==
      Set(("k0", 34L), ("k1", 33L), ("k2", 33L)), "crashed refresh left the OLD state")
    // the re-run folds the SAME window once — no double counting
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(rollup(Snapshot.read(spark, mvPath)).map(r => (r._1, r._2)) == expected)
    // and a redelivered refresh no-ops
    val v = Snapshot.latestVersion(spark, mvPath).get
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestVersion(spark, mvPath).get == v)
  }

  test("non-rollup defining SQL falls back to a full pinned recompute") {
    val root = Files.createTempDirectory("graft-mv-full").toString
    val srcPath = s"$root/src"
    Snapshot.create(spark, srcPath,
      (0L until 60L).map(i => (i, s"k${i % 4}", i)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcPath, "mv" -> s"$root/mv")
    // DISTINCT count is not an additive fold — the declared fallback
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT k, COUNT(DISTINCT v) AS ndv FROM src GROUP BY k""".stripMargin, reg)
    Snapshot.append(spark, srcPath, Seq((100L, "k0", 0L), (101L, "k0", 999L))
      .toDF("id", "k", "v"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val m = Snapshot.latestManifest(spark, s"$root/mv").get
    assert(m.operation.contains("(full recompute)"), m.operation)
    assert(Snapshot.read(spark, s"$root/mv").select("k", "ndv")
      .as[(String, Long)].collect().toSet ==
      Snapshot.read(spark, srcPath).groupBy("k").agg(countDistinct("v").as("ndv"))
        .as[(String, Long)].collect().toSet)
  }

  test("a compaction-only window advances the watermark without rewriting the view") {
    val root = Files.createTempDirectory("graft-mv-noop").toString
    val srcPath = s"$root/src"
    val mvPath = s"$root/mv"
    Snapshot.create(spark, srcPath,
      (0L until 40L).map(i => (i, s"k${i % 2}", i)).toDF("id", "k", "v"))
    Snapshot.append(spark, srcPath, Seq((40L, "k0", 40L)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcPath, "mv" -> mvPath)
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k""".stripMargin, reg)
    val filesBefore = Snapshot.latestManifest(spark, mvPath).get.files
    Snapshot.compact(spark, srcPath, minFiles = 1) // net-zero change window
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val m = Snapshot.latestManifest(spark, mvPath).get
    assert(m.files == filesBefore, "no-op window must not rewrite the view's files")
    assert(m.streamBatch(MatView.ConsumerId) ==
      Snapshot.latestVersion(spark, srcPath).get, "watermark still advances")
  }

  test("a source schema change inside the window demotes the refresh to a full recompute") {
    val root = Files.createTempDirectory("graft-mv-evolve").toString
    val srcPath = s"$root/src"
    Snapshot.create(spark, srcPath,
      (0L until 50L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcPath, "mv" -> s"$root/mv")
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k""".stripMargin, reg)
    // churn + a schema evolution inside the same window
    Snapshot.append(spark, srcPath, Seq((100L, "k0", 7L)).toDF("id", "k", "v"))
    Snapshot.addColumns(spark, srcPath,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val m = Snapshot.latestManifest(spark, s"$root/mv").get
    assert(m.operation.contains("(full recompute)"),
      s"schema-changed window must take the full path, got '${m.operation}'")
    assert(rollup(Snapshot.read(spark, s"$root/mv")).map(r => (r._1, r._2)) ==
      Set(("k0", 18L), ("k1", 17L), ("k2", 16L)))
    // the NEXT window (schema stable again) goes back to incremental
    Snapshot.append(spark, srcPath,
      Seq((101L, "k1", 9L, "x")).toDF("id", "k", "v", "note"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestManifest(spark, s"$root/mv").get
      .operation.contains("(incremental)"))
    assert(rollup(Snapshot.read(spark, s"$root/mv")).map(r => (r._1, r._2)) ==
      Set(("k0", 18L), ("k1", 18L), ("k2", 16L)))
  }

  test("an MV over an MV refreshes through the chain, each tier incremental") {
    val root = Files.createTempDirectory("graft-mv-chain").toString
    val srcPath = s"$root/src"
    Snapshot.create(spark, srcPath,
      (0L until 200L).map(i => (i, s"k${i % 10}", s"g${i % 3}", i % 20))
        .toDF("id", "k", "g", "v"))
    val reg = Map("src" -> srcPath, "mv1" -> s"$root/mv1", "mv2" -> s"$root/mv2")
    // tier 1: fine-grained rollup; tier 2: coarser rollup OVER tier 1
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv1 AS
        |SELECT k, g, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k, g""".stripMargin, reg)
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mv2 AS
        |SELECT g, COUNT(*) AS n, SUM(CAST(total AS DECIMAL(18,2))) AS total
        |FROM mv1 GROUP BY g""".stripMargin, reg)
    def mv2(): Set[(String, Long, java.math.BigDecimal)] =
      Snapshot.read(spark, s"$root/mv2").select(col("g"), col("n"), col("total"))
        .as[(String, Long, java.math.BigDecimal)].collect().toSet
    def recompute(): Set[(String, Long, java.math.BigDecimal)] =
      Snapshot.read(spark, s"$root/mv1").groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(col("total").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
        .select(col("g"), col("n"), col("total"))
        .as[(String, Long, java.math.BigDecimal)].collect().toSet
    assert(mv2() == recompute())
    // churn the base, refresh the chain in dependency order
    Snapshot.append(spark, srcPath,
      (1000L until 1050L).map(i => (i, s"k${i % 10}", s"g${i % 3}", 19L))
        .toDF("id", "k", "g", "v"))
    Snapshot.delete(spark, srcPath, col("id") < 30)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv1", reg)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv2", reg)
    assert(mv2() == recompute(), "tier 2 must track tier 1 through the feed")
    assert(Snapshot.latestManifest(spark, s"$root/mv1").get
      .operation.contains("(incremental)"))
    assert(Snapshot.latestManifest(spark, s"$root/mv2").get
      .operation.contains("(incremental)"),
      "tier 2 over a rewritten tier 1 still folds the NET row diff")
  }

  test("a GROUP BY key missing from the SELECT list demotes to full recompute") {
    val root = Files.createTempDirectory("graft-mv-nokey").toString
    val srcPath = s"$root/src"
    Snapshot.create(spark, srcPath,
      (0L until 60L).map(i => (i, s"k${i % 4}", i)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcPath, "mv" -> s"$root/mv")
    // the MV state has no `k` column, so the incremental fold's join on
    // the key is impossible — the shape test must refuse it UP FRONT
    // (full recompute), not fail at refresh time
    Snapshot.sql(spark,
      "CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM src GROUP BY k", reg)
    Snapshot.append(spark, srcPath, Seq((100L, "k0", 7L)).toDF("id", "k", "v"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val m = Snapshot.latestManifest(spark, s"$root/mv").get
    assert(m.operation.contains("(full recompute)"),
      s"keyless-SELECT rollup must take the full path, got '${m.operation}'")
    assert(Snapshot.read(spark, s"$root/mv").select("n")
      .as[Long].collect().sorted.toSeq == Seq(15L, 15L, 15L, 16L))
  }

  test("a fact-join-dim rollup MV refreshes incrementally on fact-only windows") {
    val root = Files.createTempDirectory("graft-mv-join").toString
    val (factP, dimP, mvP) = (s"$root/fact", s"$root/dim", s"$root/mv")
    Snapshot.create(spark, factP,
      (0L until 200L).map(i => (i, i % 8, i % 40)).toDF("id", "dk", "v"))
    Snapshot.create(spark, dimP,
      (0L until 8L).map(d => (d, s"g${d % 3}")).toDF("dk", "grp"))
    val reg = Map("fact" -> factP, "dim" -> dimP, "mv" -> mvP)
    val defining =
      """SELECT grp, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM fact JOIN dim ON fact.dk = dim.dk
        |WHERE v >= 3 GROUP BY grp""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def recompute(): Set[(String, Long, java.math.BigDecimal)] =
      rollup(Snapshot.sqlQuery(spark, defining, reg)
        .withColumnRenamed("grp", "k"))
    def state(): Set[(String, Long, java.math.BigDecimal)] =
      rollup(Snapshot.read(spark, mvP).withColumnRenamed("grp", "k"))
    assert(state() == recompute(), "initial state")
    // fact-only churn window: an append + a delete — the dim is
    // unchanged, so Δ(fact ⋈ dim) = Δfact ⋈ dim and the refresh folds
    Snapshot.append(spark, factP,
      (1000L until 1030L).map(i => (i, i % 8, 39L)).toDF("id", "dk", "v"))
    Snapshot.delete(spark, factP, col("id") < 25)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "fact churn refresh")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      Snapshot.latestManifest(spark, mvP).get.operation)
    // a dim-ONLY churn window folds by the symmetric delta rule
    // (Δdim ⋈ fact — an update is delete+insert rows through the net
    // feed); demotion is reserved for windows where BOTH sides moved
    Snapshot.update(spark, dimP, col("dk") === 3L, Map("grp" -> lit("g9")))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "dim churn refresh")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      Snapshot.latestManifest(spark, mvP).get.operation)
    // and the NEXT fact-only window is incremental again
    Snapshot.append(spark, factP, Seq((2000L, 3L, 17L)).toDF("id", "dk", "v"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "post-demotion fact window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
  }

  test("an ALIASED group key (k AS seg) still qualifies for the incremental path") {
    val root = Files.createTempDirectory("graft-mv-aliaskey").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 80L).map(i => (i, s"k${i % 5}", i % 9)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      """SELECT k AS seg, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    Snapshot.append(spark, srcP, Seq((900L, "k1", 8L)).toDF("id", "k", "v"))
    Snapshot.delete(spark, srcP, col("id") < 10)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      Snapshot.latestManifest(spark, mvP).get.operation)
    assert(rollup(Snapshot.read(spark, mvP).withColumnRenamed("seg", "k")) ==
      rollup(Snapshot.sqlQuery(spark, defining, reg).withColumnRenamed("seg", "k")))
  }

  test("dim-only and both-sides-changed windows fold incrementally (telescoping)") {
    val root = Files.createTempDirectory("graft-mv-dimwin").toString
    val (factP, dimP, mvP) = (s"$root/fact", s"$root/dim", s"$root/mv")
    Snapshot.create(spark, factP,
      (0L until 100L).map(i => (i, i % 10, i % 7)).toDF("id", "dk", "v"))
    Snapshot.create(spark, dimP,
      (0L until 6L).map(d => (d, s"g${d % 2}")).toDF("dk", "grp"))
    val reg = Map("fact" -> factP, "dim" -> dimP, "mv" -> mvP)
    val defining =
      """SELECT grp, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM fact JOIN dim ON fact.dk = dim.dk GROUP BY grp""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def recompute() = rollup(Snapshot.sqlQuery(spark, defining, reg)
      .withColumnRenamed("grp", "k"))
    def state() = rollup(Snapshot.read(spark, mvP).withColumnRenamed("grp", "k"))
    // dim-only window: new dim rows bring previously-unjoined fact
    // rows into the view — Δdim ⋈ fact, the symmetric fold
    Snapshot.append(spark, dimP, Seq((6L, "g0"), (7L, "g1")).toDF("dk", "grp"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "dim-only window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      Snapshot.latestManifest(spark, mvP).get.operation)
    // BOTH sides changed in one window: the telescoping delta rule
    // (Δfact ⋈ dim_old + fact_new ⋈ Δdim). The fixture plants every
    // cross-feed interaction the rule must count exactly once: a fact
    // insert joining a dim key that ONLY exists via this window's dim
    // insert (visible solely through the fact_new ⋈ Δdim term), a fact
    // delete under a dim row that was UPDATED in the same window
    // (delete+insert through the dim feed against the new fact), and a
    // plain fact insert onto an unchanged dim key.
    Snapshot.append(spark, factP,
      Seq((500L, 8L, 3L), (501L, 0L, 9L)).toDF("id", "dk", "v"))
    Snapshot.delete(spark, factP, col("id") === 11L)
    Snapshot.append(spark, dimP, Seq((8L, "g0")).toDF("dk", "grp"))
    Snapshot.update(spark, dimP, col("dk") === 1L, Map("grp" -> lit("g0")))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "both-changed window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      Snapshot.latestManifest(spark, mvP).get.operation)
    // a THREE-source window (two dims + the fact, all churned) still
    // telescopes: replay order pins earlier-changed sources at NEW
    val dim2P = s"$root/dim2"
    Snapshot.create(spark, dim2P,
      (0L until 7L).map(v => (v, s"b${v % 3}")).toDF("v", "band"))
    val reg3 = reg + ("dim2" -> dim2P) + ("mv3" -> s"$root/mv3")
    val def3 =
      """SELECT grp, band, COUNT(*) AS n, SUM(CAST(id AS DECIMAL(18,2))) AS ids
        |FROM fact JOIN dim ON fact.dk = dim.dk JOIN dim2 ON fact.v = dim2.v
        |GROUP BY grp, band""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv3 AS $def3", reg3)
    Snapshot.append(spark, factP, Seq((600L, 2L, 6L)).toDF("id", "dk", "v"))
    Snapshot.append(spark, dimP, Seq((9L, "g1")).toDF("dk", "grp"))
    Snapshot.delete(spark, dim2P, col("v") === 5L)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv3", reg3)
    def dump3(df: DataFrame) = df.select("grp", "band", "n", "ids")
      .orderBy("grp", "band").collect().toSeq
    assert(dump3(Snapshot.read(spark, s"$root/mv3")) ==
      dump3(Snapshot.sqlQuery(spark, def3, reg3)), "three-source window")
    assert(Snapshot.latestManifest(spark, s"$root/mv3").get
      .operation.contains("(incremental)"))
    // the archetypal collision shape — BOTH sides carry `dk`, both
    // churning in one window — folds too: replays group into their
    // per-group deltas (all synthesized column names) BEFORE merging,
    // so duplicate raw names never meet a by-name union
    val dimcP = s"$root/dimc"
    Snapshot.create(spark, dimcP,
      (0L until 10L).map(d => (d, d % 2)).toDF("dk", "parity"))
    val regc = reg + ("dimc" -> dimcP) + ("mvc" -> s"$root/mvc")
    val defc =
      """SELECT parity, COUNT(*) AS n
        |FROM fact JOIN dimc ON fact.dk = dimc.dk GROUP BY parity""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mvc AS $defc", regc)
    Snapshot.append(spark, factP, Seq((700L, 3L, 2L)).toDF("id", "dk", "v"))
    Snapshot.append(spark, dimcP, Seq((11L, 1L)).toDF("dk", "parity"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mvc", regc)
    def dumpc(df: DataFrame) =
      df.select("parity", "n").orderBy("parity").collect().toSeq
    assert(dumpc(Snapshot.read(spark, s"$root/mvc")) ==
      dumpc(Snapshot.sqlQuery(spark, defc, regc)), "name-collision window")
    assert(Snapshot.latestManifest(spark, s"$root/mvc").get
      .operation.contains("(incremental)"))
  }

  test("a streaming feed drives continuous incremental MV maintenance") {
    // the reference's hourly tick as a CONTINUOUS loop: a snapshot-
    // source stream feeds the fact table per micro-batch and refreshes
    // the MV in the same foreachBatch — every refresh must stay on the
    // incremental path, survive a crash between the fact append and
    // the refresh, and track a from-scratch recompute bitwise.
    val root = Files.createTempDirectory("graft-mv-stream").toString
    val (inP, factP, mvP) = (s"$root/in", s"$root/fact", s"$root/mv")
    def rows(xs: (Long, String, Long)*) = xs.toDF("id", "k", "v")
    Snapshot.create(spark, inP, rows((0L, "k0", 1L)))
    Snapshot.create(spark, factP, rows((0L, "k0", 1L)))
    val reg = Map("fact" -> factP, "mv" -> mvP)
    val defining =
      "SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total FROM fact GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    val mvBase = Snapshot.latestVersion(spark, mvP).get
    def tick(): Unit = {
      val q = spark.readStream.format("graft.sources.SnapshotSource").load(inP)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!b.isEmpty) {
            Snapshot.appendBatch(spark, factP, b.toDF(), "mv-feed", id)
            Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg): Unit
          }
        }
        .start()
      q.awaitTermination()
    }
    tick() // bootstrap batch (the seed row, duplicated into fact: n=2 for k0)
    Snapshot.append(spark, inP, rows((1L, "k1", 2L), (2L, "k0", 3L)))
    tick()
    // crash AFTER the fact append but BEFORE the refresh commits: the
    // redelivered batch must not double-append, and the refresh that
    // reruns folds the same window onto the same pinned state
    Snapshot.append(spark, inP, rows((3L, "k1", 5L)))
    var crashed = false
    Snapshot.faultHook = stage =>
      if (stage == "manifest-staged" && !crashed &&
          Thread.currentThread.getStackTrace.exists(_.getClassName.contains("MatView"))) {
        crashed = true
        throw new RuntimeException("injected crash before the refresh commit")
      }
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] { tick() }
    finally Snapshot.faultHook = _ => ()
    tick() // redelivery: appendBatch no-ops, refresh catches up
    assert(rollup(Snapshot.read(spark, mvP)) ==
      rollup(Snapshot.sqlQuery(spark, defining, reg)), "state tracks recompute")
    // EVERY post-create MV commit stayed on the incremental path
    val ops = Snapshot.versions(spark, mvP).filter(_ > mvBase)
      .map(v => Snapshot.manifest(spark, mvP, v).operation)
    assert(ops.nonEmpty && ops.forall(_.contains("REFRESH MATERIALIZED VIEW")), ops.toString)
    assert(ops.forall(o => o.contains("(incremental)") || o.contains("no-op window")),
      s"a streaming refresh demoted: $ops")
  }

  test("MIN/MAX tier: extremum-killing deletes re-derive only the dented groups") {
    val root = Files.createTempDirectory("graft-mv-minmax").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 120L).map(i => (i, s"k${i % 4}", i)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      """SELECT k, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi,
        |SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY k""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def recompute(): Set[Row] =
      Snapshot.sqlQuery(spark, defining, reg).collect().toSet
    def state(): Set[Row] = Snapshot.read(spark, mvP)
      .select("k", "n", "lo", "hi", "total").collect().toSet
    assert(state() == recompute(), "initial")
    // window 1: inserts that extend extrema + a delete that does NOT
    // touch any extremum — pure fold, no re-derivation needed
    Snapshot.append(spark, srcP,
      Seq((500L, "k0", 500L), (501L, "k1", -5L)).toDF("id", "k", "v"))
    Snapshot.delete(spark, srcP, col("id") === 50L) // v=50, k2's mid-range
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "fold window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
    // window 2: kill k3's MAX (v=119 at id=119) and k0's MIN (v=0 at
    // id=0) — the refresh stays incremental and re-derives exactly
    // those groups from the source
    Snapshot.delete(spark, srcP, col("id") === 119L || col("id") === 0L)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "extremum-killing deletes")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      "the MIN/MAX tier must NOT demote to full recompute")
    // window 3: a delete EQUAL to a shared extremum where a twin row
    // still holds the value (conservative trigger, exact result)
    Snapshot.append(spark, srcP,
      Seq((600L, "k1", -5L), (601L, "k1", -5L)).toDF("id", "k", "v"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.delete(spark, srcP, col("id") === 501L) // one of the three -5s
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "shared-extremum delete")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
  }

  test("COUNT(DISTINCT) tier: the side table folds value churn incrementally") {
    val root = Files.createTempDirectory("graft-mv-distinct").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    // v churns within a small value domain so distinct counts move both
    // ways; w is NULLABLE so COUNT(DISTINCT w) must ignore nulls
    Snapshot.create(spark, srcP,
      (0L until 120L).map(i => (i, s"k${i % 4}", s"v${i % 9}",
        if (i % 5 == 0) None else Some(s"w${i % 3}")))
        .toDF("id", "k", "v", "w"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      """SELECT k, COUNT(*) AS n, COUNT(DISTINCT v) AS nv,
        |COUNT(DISTINCT w) AS nw, COUNT(w) AS cw
        |FROM src GROUP BY k""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def recompute(): Set[Row] =
      Snapshot.sqlQuery(spark, defining, reg).collect().toSet
    def state(): Set[Row] = Snapshot.read(spark, mvP)
      .select("k", "n", "nv", "nw", "cw").collect().toSet
    assert(state() == recompute(), "initial")
    // the side tables exist, marked with their owning view
    for (c <- Seq("nv", "nw")) {
      val sm = Snapshot.latestManifest(spark, MatView.sidePath(mvP, c))
      assert(sm.exists(_.properties.get(MatView.SideProp).contains(mvP)),
        s"missing distinct-state side table for $c")
    }
    // window 1: inserts that ADD new values to some groups and
    // duplicate existing values in others (count moves only for new)
    Snapshot.append(spark, srcP,
      Seq((500L, "k0", "v0", Some("w0")), (501L, "k0", "vNEW", Some("w1")),
        (502L, "k1", "v1", None), (503L, "k2", "vX", Some("wX")))
        .toDF("id", "k", "v", "w"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "insert window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      "distinct tier must stay incremental")
    // window 2: delete a group's LAST occurrence of a value (id=502
    // was k1's only v1? no — delete ALL k3 rows with v='v3': ids where
    // i%4==3 && i%9==3 → i ∈ {3, 39, 75, 111}): nv drops by one for k3
    Snapshot.delete(spark, srcP, col("k") === "k3" && col("v") === "v3")
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "last-occurrence delete window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
    // window 3: delete one of several duplicates — count must NOT move
    Snapshot.delete(spark, srcP, col("id") === 500L) // k0 keeps other v0s
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "duplicate-delete window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
    // window 4: updates that MOVE values between groups (delete+insert
    // through the change feed) + a whole group emptied
    Snapshot.update(spark, srcP, col("id") % 10 === 7, Map("v" -> lit("vMOVED")))
    Snapshot.delete(spark, srcP, col("k") === "k2")
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "update + group-drop window")
    assert(!state().exists(_.getString(0) == "k2"), "emptied group drops")
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
  }

  test("COUNT(DISTINCT) tier: a crash between side and view commits heals exactly-once") {
    val root = Files.createTempDirectory("graft-mv-distinct-crash").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 60L).map(i => (i, s"k${i % 3}", s"v${i % 7}")).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      "SELECT k, COUNT(*) AS n, COUNT(DISTINCT v) AS nv FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    Snapshot.append(spark, srcP,
      Seq((500L, "k0", "vA"), (501L, "k1", "v1")).toDF("id", "k", "v"))
    // kill the refresh AFTER the side table committed (its manifest
    // lands first) and BEFORE the view's own manifest stages — the
    // side watermark is ahead, the view watermark is behind
    var staged = 0
    Snapshot.faultHook = stage => if (stage == "manifest-staged") {
      staged += 1
      if (staged == 2) throw new RuntimeException("injected crash")
    }
    val e = try intercept[RuntimeException](
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg))
    finally Snapshot.faultHook = _ => ()
    assert(e.getMessage == "injected crash")
    val sideWm = Snapshot.latestManifest(spark, MatView.sidePath(mvP, "nv")).get
      .streamBatch(MatView.ConsumerId)
    val viewWm = Snapshot.latestManifest(spark, mvP).get
      .streamBatch(MatView.ConsumerId)
    assert(sideWm > viewWm, "crash left the side ahead of the view")
    // the rerun folds ONLY the view window (the side is current),
    // exactly-once: the result is bitwise the recompute
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.read(spark, mvP).select("k", "n", "nv").collect().toSet ==
      Snapshot.sqlQuery(spark, defining, reg).collect().toSet)
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      "the healing rerun must not demote to full recompute")
    // and a redelivered refresh no-ops
    val v = Snapshot.latestVersion(spark, mvP).get
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestVersion(spark, mvP).get == v)
  }

  test("multi-argument COUNT(DISTINCT a, b) demotes to full recompute") {
    val root = Files.createTempDirectory("graft-mv-distinct-demote").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 40L).map(i => (i, s"k${i % 3}", s"v${i % 5}", i % 4))
        .toDF("id", "k", "v", "w"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      "SELECT k, COUNT(*) AS n, COUNT(DISTINCT v, w) AS nvw FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    assert(Snapshot.latestVersion(spark, MatView.sidePath(mvP, "nvw")).isEmpty,
      "no side table for a shape the distinct tier does not cover")
    Snapshot.append(spark, srcP, Seq((500L, "k0", "vZ", 9L)).toDF("id", "k", "v", "w"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(full recompute)"),
      "multi-arg distinct is outside the tier and must demote")
    assert(Snapshot.read(spark, mvP).select("k", "n", "nvw").collect().toSet ==
      Snapshot.sqlQuery(spark, defining, reg).collect().toSet)
  }

  test("AVG auto-expands into sum/count side state and refreshes incrementally") {
    val root = Files.createTempDirectory("graft-mv-avg").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    // v is nullable (COUNT(v) < COUNT(*)); w integral exercises the
    // long-sum → double-division replay
    def rows(r: Range) = r.map { i =>
      (i.toLong, s"k${i % 4}", if (i % 5 == 0) None else Some(i.toLong % 60),
        (i % 7).toLong)
    }.toDF("id", "k", "v", "w")
    Snapshot.create(spark, srcP, rows(0 until 200))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      """SELECT k, COUNT(*) AS n, AVG(CAST(v AS DECIMAL(18,2))) AS avg_v,
        |  AVG(w) AS avg_w
        |FROM src GROUP BY k""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def state() = Snapshot.read(spark, mvP)
      .select("k", "n", "avg_v", "avg_w").orderBy("k").collect().toSeq
    def recompute() = Snapshot.sqlQuery(spark, defining, reg)
      .select("k", "n", "avg_v", "avg_w").orderBy("k").collect().toSeq
    assert(state() == recompute(), "initial state")
    assert(Snapshot.latestVersion(spark, MatView.avgSidePath(mvP)).isDefined,
      "the avg side table is co-created")
    def opIs(tag: String): Unit = {
      val op = Snapshot.latestManifest(spark, mvP).get.operation
      assert(op.contains(tag), s"expected $tag, got $op")
    }
    // insert window including a brand-new group
    Snapshot.append(spark, srcP,
      rows(1000 until 1040).withColumn("k", lit("kNEW")))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "insert window")
    opIs("(incremental)")
    // delete window: value churn + a whole group emptied
    Snapshot.delete(spark, srcP, col("v") >= 55 || col("k") === "k2")
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "delete window")
    assert(!state().exists(_.getString(0) == "k2"), "emptied group drops")
    opIs("(incremental)")
    // a group whose v becomes ALL NULL: avg_v must go NULL while the
    // group stays alive via COUNT(*)
    Snapshot.delete(spark, srcP, col("k") === "k1" && col("v").isNotNull)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "all-null-group window")
    assert(state().exists(r => r.getString(0) == "k1" && r.isNullAt(2)),
      "all-null group derives a NULL avg")
    opIs("(incremental)")

    // floating-point AVG demotes to full recompute and owns no side
    // (double sums are partition-order dependent — no bitwise fold)
    val mvF = s"$root/mvf"
    val regF = reg + ("mvf" -> mvF)
    val defF = "SELECT k, COUNT(*) AS n, AVG(CAST(v AS DOUBLE)) AS av " +
      "FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mvf AS $defF", regF)
    assert(Snapshot.latestVersion(spark, MatView.avgSidePath(mvF)).isEmpty,
      "no avg side for a floating argument")
    Snapshot.append(spark, srcP, rows(2000 until 2005))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mvf", regF)
    assert(Snapshot.latestManifest(spark, mvF).get.operation
      .contains("(full recompute)"), "floating AVG demotes")
    assert(Snapshot.read(spark, mvF).select("k", "n", "av").collect().toSet ==
      Snapshot.sqlQuery(spark, defF, regF).collect().toSet)

    // a FILTER clause is invisible to the delta fold — it must demote
    // (folding the unfiltered argument would silently diverge)
    val mvFl = s"$root/mvfl"
    val regFl = reg + ("mvfl" -> mvFl)
    val defFl = "SELECT k, COUNT(*) AS n, " +
      "SUM(CAST(v AS DECIMAL(18,2))) FILTER (WHERE v > 10) AS sv " +
      "FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mvfl AS $defFl", regFl)
    Snapshot.append(spark, srcP, rows(3000 until 3005))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mvfl", regFl)
    assert(Snapshot.latestManifest(spark, mvFl).get.operation
      .contains("(full recompute)"), "FILTER-carrying aggregate demotes")
    assert(Snapshot.read(spark, mvFl).select("k", "n", "sv").collect().toSet ==
      Snapshot.sqlQuery(spark, defFl, regFl).collect().toSet)
  }

  test("AVG tier: a crash between the avg side and view commits heals exactly-once") {
    val root = Files.createTempDirectory("graft-mv-avg-crash").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP,
      (0L until 60L).map(i => (i, s"k${i % 3}", i % 9)).toDF("id", "k", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      "SELECT k, COUNT(*) AS n, AVG(CAST(v AS DECIMAL(18,2))) AS av FROM src GROUP BY k"
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    Snapshot.append(spark, srcP, Seq((500L, "k0", 8L), (501L, "k1", 2L))
      .toDF("id", "k", "v"))
    // kill AFTER the avg side committed, BEFORE the view stages
    var staged = 0
    Snapshot.faultHook = stage => if (stage == "manifest-staged") {
      staged += 1
      if (staged == 2) throw new RuntimeException("injected crash")
    }
    val e = try intercept[RuntimeException](
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg))
    finally Snapshot.faultHook = _ => ()
    assert(e.getMessage == "injected crash")
    val sideWm = Snapshot.latestManifest(spark, MatView.avgSidePath(mvP)).get
      .streamBatch(MatView.ConsumerId)
    val viewWm = Snapshot.latestManifest(spark, mvP).get
      .streamBatch(MatView.ConsumerId)
    assert(sideWm > viewWm, "crash left the avg side ahead of the view")
    // the rerun skips the current side and re-folds only the view
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.read(spark, mvP).select("k", "n", "av").collect().toSet ==
      Snapshot.sqlQuery(spark, defining, reg).collect().toSet)
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"),
      "the healing rerun must not demote to full recompute")
    val v = Snapshot.latestVersion(spark, mvP).get
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(Snapshot.latestVersion(spark, mvP).get == v)
  }

  test("KMV sketch-state MV folds inserts and re-derives delete-dented groups") {
    val root = Files.createTempDirectory("graft-mv-kmv").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    // ~37 distinct users per group, k=8: the sketch is a strict subset
    // and the kth statistic is live
    def rows(r: Range, tag: String = "u") =
      r.map(i => (i.toLong, s"k${i % 3}", s"$tag${i % 37}")).toDF("id", "k", "u")
    Snapshot.create(spark, srcP, rows(0 until 300))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val defining =
      """SELECT k, COUNT(*) AS n,
        |  graft_bottomk(CAST(CONV(SUBSTRING(MD5(CAST(u AS STRING)), 1, 8), 16, 10) AS BIGINT), 8) AS uk
        |FROM src GROUP BY k""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def dump(df: DataFrame) = df.select("k", "n", "uk").orderBy("k")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
    def state() = dump(Snapshot.read(spark, mvP))
    def recompute() = dump(Snapshot.sqlQuery(spark, defining, reg))
    assert(state() == recompute(), "initial sketch state")
    def opIs(tag: String): Unit = {
      val op = Snapshot.latestManifest(spark, mvP).get.operation
      assert(op.contains(tag), s"expected $tag, got $op")
    }
    // insert window: duplicates of existing users + brand-new users
    // whose hashes can displace sketch entries — merge == recompute
    Snapshot.append(spark, srcP, rows(1000 until 1080, tag = "w"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "insert merge window")
    opIs("(incremental)")
    // delete window: some users removed ENTIRELY (their hashes must
    // leave the sketch), others keep occurrences via duplicates
    Snapshot.delete(spark, srcP,
      col("u").isin("u0", "u3", "u17", "w5", "w20") || col("id") === 7L)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "delete-dent window")
    opIs("(incremental)")
    // mixed window: inserts + deletes together
    Snapshot.append(spark, srcP, rows(2000 until 2030, tag = "z"))
    Snapshot.delete(spark, srcP, col("u").isin("z5", "u11"))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(state() == recompute(), "mixed window")
    opIs("(incremental)")
  }

  test("expression-keyed MVs refresh incrementally; inadmissible keys demote") {
    val root = Files.createTempDirectory("graft-mv-exprkey").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    // ts spans several days; u carries repeated values whose LAST
    // occurrence can be deleted (the distinct side must track it
    // through the expression keys); v feeds MIN/MAX extrema
    def rows(r: Range) = r.map { i =>
      (i.toLong, s"2024-03-${"%02d".format(1 + i % 9)} 0${i % 8}:15:00",
        s"k${i % 3}", s"u${i % 11}", (i % 50).toLong)
    }.toDF("id", "tss", "k", "u", "v")
      .selectExpr("id", "CAST(tss AS TIMESTAMP) AS ts", "k", "u", "v")
    Snapshot.create(spark, srcP, rows(0 until 300))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    // TWO expression keys (time grain + case-fold) composed with every
    // fold tier at once: COUNT(*), SUM, MIN/MAX (delete-dent
    // re-derivation through the expression), COUNT(DISTINCT) (side
    // table keyed by the expression aliases)
    val defining =
      """SELECT date_trunc('day', ts) AS dia, upper(k) AS ku, COUNT(*) AS n,
        |  SUM(CAST(v AS DECIMAL(18,2))) AS total, MIN(v) AS lo, MAX(v) AS hi,
        |  COUNT(DISTINCT u) AS nu
        |FROM src GROUP BY date_trunc('day', ts), upper(k)""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def dump(df: DataFrame) =
      df.select("dia", "ku", "n", "total", "lo", "hi", "nu")
        .orderBy("dia", "ku").collect().toSeq
    assert(dump(Snapshot.read(spark, mvP)) ==
      dump(Snapshot.sqlQuery(spark, defining, reg)), "initial state")
    assert(Snapshot.latestVersion(spark,
      MatView.sidePath(mvP, "nu")).isDefined, "expression-keyed side exists")

    // churn 1: inserts into existing and brand-new day groups
    Snapshot.append(spark, srcP, rows(1000 until 1060)
      .withColumn("ts", expr("ts + INTERVAL 20 DAYS")))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(dump(Snapshot.read(spark, mvP)) ==
      dump(Snapshot.sqlQuery(spark, defining, reg)), "insert window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation
      .contains("(incremental)"), "insert window stays incremental")

    // churn 2: deletes that dent MAX extrema AND remove last
    // occurrences of distinct values in some (dia, ku) groups
    Snapshot.delete(spark, srcP, col("v") >= 45 || col("u") === "u7")
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(dump(Snapshot.read(spark, mvP)) ==
      dump(Snapshot.sqlQuery(spark, defining, reg)), "delete window")
    assert(Snapshot.latestManifest(spark, mvP).get.operation
      .contains("(incremental)"), "delete window stays incremental")

    // REFUSALS, each demoting to the always-correct full recompute:
    // a function OUTSIDE the deterministic whitelist (rand parses to a
    // childless UnresolvedFunction that would CLAIM determinism)
    val mvR = s"$root/mvr"
    Snapshot.sql(spark,
      """CREATE MATERIALIZED VIEW mvr AS
        |SELECT CAST(floor(rand(7) * 0 + v % 3) AS BIGINT) AS b, COUNT(*) AS n
        |FROM src GROUP BY CAST(floor(rand(7) * 0 + v % 3) AS BIGINT)""".stripMargin,
      reg + ("mvr" -> mvR))
    Snapshot.append(spark, srcP, rows(2000 until 2005))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mvr", reg + ("mvr" -> mvR))
    assert(Snapshot.latestManifest(spark, mvR).get.operation
      .contains("(full recompute)"), "non-whitelisted function demotes")
    // an ordinal grouping key demotes (resolution-time meaning)
    val mvO = s"$root/mvo"
    Snapshot.sql(spark,
      "CREATE MATERIALIZED VIEW mvo AS SELECT k, COUNT(*) AS n FROM src GROUP BY 1",
      reg + ("mvo" -> mvO))
    Snapshot.append(spark, srcP, rows(3000 until 3005))
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mvo", reg + ("mvo" -> mvO))
    assert(Snapshot.latestManifest(spark, mvO).get.operation
      .contains("(full recompute)"), "ordinal grouping demotes")
  }

  test("stacked MVs: a rollup over a rollup folds incrementally through the cascade") {
    val wh = Files.createTempDirectory("graft-mv-stack").toString
    spark.conf.set("spark.sql.catalog.gms", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gms.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gms.db")
    val (srcP, diaP, mesP) = (s"$wh/db/src", s"$wh/db/dia", s"$wh/db/mes")
    // ts spans 4 months of days; v feeds an exact decimal sum
    def rows(r: Range) = r.map { i =>
      (i.toLong, "2024-%02d-%02d 10:00:00".format(1 + i % 4, 1 + i % 25),
        (i % 50).toLong)
    }.toDF("id", "tss", "v").selectExpr("id", "CAST(tss AS TIMESTAMP) AS ts", "v")
    Snapshot.create(spark, srcP, rows(0 until 400))
    // tier 1: day grain over the fact; tier 2: month grain over tier 1
    // (the reference's hora → diario → mensual family as MATERIALIZED
    // tiers — each refresh folds only its own source's change window)
    spark.sql(
      """CREATE MATERIALIZED VIEW gms.db.dia AS
        |SELECT date_trunc('day', ts) AS dia, COUNT(*) AS n,
        |  SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM gms.db.src GROUP BY date_trunc('day', ts)""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW gms.db.mes AS
        |SELECT date_trunc('month', dia) AS mes, COUNT(*) AS ndias,
        |  SUM(n) AS n, SUM(total) AS total
        |FROM gms.db.dia GROUP BY date_trunc('month', dia)""".stripMargin)
    def fromRaw() = spark.sql(
      """SELECT date_trunc('month', ts) AS mes,
        |  COUNT(DISTINCT date_trunc('day', ts)) AS ndias, COUNT(*) AS n,
        |  SUM(CAST(v AS DECIMAL(18,2))) AS total
        |FROM gms.db.src GROUP BY 1""".stripMargin)
      .collect().toSet
    def state() = spark.table("gms.db.mes")
      .select("mes", "ndias", "n", "total").collect().toSet
    def opOf(p: String) = Snapshot.latestManifest(spark, p).get.operation
    assert(state() == fromRaw(), "initial stacked state")
    def refreshBoth(): Unit = {
      spark.sql("REFRESH MATERIALIZED VIEW gms.db.dia")
      spark.sql("REFRESH MATERIALIZED VIEW gms.db.mes")
    }
    // churn 1: new days + churn inside existing days — BOTH tiers fold
    // incrementally: dia from src's change feed, mes from dia's
    // net-reconciled replace window (exceptAll cancellation reduces the
    // whole-state rewrite to exactly the dented day rows)
    Snapshot.append(spark, srcP, rows(1000 until 1120))
    Snapshot.delete(spark, srcP, col("id") % 10 === 3)
    refreshBoth()
    assert(opOf(diaP).contains("(incremental)"), s"dia: ${opOf(diaP)}")
    assert(opOf(mesP).contains("(incremental)"), s"mes: ${opOf(mesP)}")
    assert(state() == fromRaw(), "stacked fold after churn 1")
    // churn 2: delete an entire month — the day rows drop out of dia,
    // and the month group must drop out of mes through the cascade
    Snapshot.delete(spark, srcP, month(col("ts")) === 2)
    refreshBoth()
    assert(opOf(mesP).contains("(incremental)"), s"mes: ${opOf(mesP)}")
    assert(state() == fromRaw(), "stacked fold after a month-killing delete")
    assert(!state().exists(_.getTimestamp(0).toString.startsWith("2024-02")),
      "the emptied month must drop, exactly like the recompute")
    // an unchanged inner tier makes the outer refresh a no-op
    val vMes = Snapshot.latestVersion(spark, mesP).get
    spark.sql("REFRESH MATERIALIZED VIEW gms.db.mes")
    assert(Snapshot.latestVersion(spark, mesP).get == vMes,
      "no inner change → no outer commit")
    // REFRESH … CASCADE: one statement refreshes the inner tier first,
    // then the outer — the whole stack lands at the current fact state
    Snapshot.append(spark, srcP, rows(5000 until 5060))
    val vDia = Snapshot.latestVersion(spark, diaP).get
    spark.sql("REFRESH MATERIALIZED VIEW gms.db.mes CASCADE")
    assert(Snapshot.latestVersion(spark, diaP).get > vDia,
      "CASCADE must refresh the inner tier")
    assert(opOf(diaP).contains("(incremental)"), s"dia: ${opOf(diaP)}")
    assert(opOf(mesP).contains("(incremental)"), s"mes: ${opOf(mesP)}")
    assert(state() == fromRaw(), "one CASCADE statement lands the whole stack")
  }

  test("file-restricted fold rewrites only dented state files, identical to a whole rewrite") {
    val root = Files.createTempDirectory("graft-mv-restrict").toString
    val srcP = s"$root/src"
    val reg = Map("src" -> srcP, "mv" -> s"$root/mv")
    // enough distinct groups that the range-clustered state spans
    // several files once the advisory partition size is squeezed
    Snapshot.create(spark, srcP,
      (0L until 6000L).map(i => (i, f"k${i % 400}%04d", i % 100)).toDF("id", "k", "v"))
    // the fixture needs the range-clustered state to SPAN files: stop
    // AQE from coalescing the (tiny) test-sized exchange to one
    val advisoryKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val advisoryOld = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, "false")
    try {
      val defining =
        """SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total,
          |MIN(v) AS lo FROM src GROUP BY k""".stripMargin
      Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
      val mvP = s"$root/mv"
      val m0 = Snapshot.latestManifest(spark, mvP).get
      assert(m0.clusterBy == Seq("k") &&
        m0.properties.get("graft.write.sorted").contains("range"),
        "rollup MV state must declare the range-clustered layout")
      assert(m0.files.size > 1,
        s"fixture needs a multi-file state, got ${m0.files.size} file(s)")
      def state(): Set[Row] = Snapshot.read(spark, mvP).collect().toSet
      def recompute(): Set[Row] = Snapshot.read(spark, srcP)
        .groupBy("k").agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).as("total"), min("v").as("lo"))
        .collect().toSet
      // churn window dents FEW groups: an append into two groups and a
      // min-killing delete in a third (exercises the childAtNew
      // re-derivation under restriction)
      Snapshot.append(spark, srcP,
        Seq((9001L, "k0007", 3L), (9002L, "k0007", 77L), (9003L, "k0123", 5L))
          .toDF("id", "k", "v"))
      Snapshot.delete(spark, srcP, col("k") === "k0200" && col("v") <= 0)
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
      val m1 = Snapshot.latestManifest(spark, mvP).get
      assert(m1.operation.contains("(incremental)"), m1.operation)
      val retained = m1.files.intersect(m0.files)
      assert(retained.nonEmpty,
        s"a 3-group dent over ${m0.files.size} clustered files must retain " +
          s"undented files byte-identical (files now: ${m1.files.size})")
      // retained files keep their stats entries verbatim
      retained.foreach(f => assert(m1.stats.get(f) == m0.stats.get(f)))
      assert(state() == recompute(), "restricted fold == full recompute")
      // parity: the same churn with the restriction gated OFF commits a
      // whole rewrite with the identical result set
      val gateKey = "spark.graft.mv.foldKeysMax"
      spark.conf.set(gateKey, "0")
      try {
        Snapshot.append(spark, srcP,
          Seq((9004L, "k0055", 8L)).toDF("id", "k", "v"))
        Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
        val m2 = Snapshot.latestManifest(spark, mvP).get
        assert(m2.files.intersect(m1.files).isEmpty,
          "gate 0 must force the whole-table rewrite")
        assert(state() == recompute(), "whole rewrite parity")
      } finally spark.conf.unset(gateKey)
      // and the restricted path folds the NEXT window on top of the
      // rewritten layout correctly too
      Snapshot.delete(spark, srcP, col("k") === "k0007")
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
      assert(state() == recompute(), "group-killing delete under restriction")
      assert(!state().exists(_.getString(0) == "k0007"))
    } finally advisoryOld match {
      case Some(v) => spark.conf.set(advisoryKey, v)
      case None    => spark.conf.unset(advisoryKey)
    }
  }

  test("multi-feed MIN/MAX: equal merged extrema with cancelling counts still refold") {
    // both sources churn in one window, so the refresh telescopes over
    // two feeds; the fact replay's insert (j=1, v=1) is transient — the
    // dim replay deletes it again. Merged, the group's counts cancel
    // and its insert/delete MIN are both 1, yet its MIN moved 5 -> 3
    val root = Files.createTempDirectory("graft-mv-mfminmax").toString
    val (factP, dimP, mvP) = (s"$root/fact", s"$root/dim", s"$root/mv")
    Snapshot.create(spark, factP, Seq((2L, 5L), (2L, 9L)).toDF("j", "v"))
    Snapshot.create(spark, dimP, Seq((1L, "G"), (2L, "G")).toDF("j", "g"))
    val reg = Map("fact" -> factP, "dim" -> dimP, "mv" -> mvP)
    val defining =
      """SELECT g, COUNT(*) AS n, MIN(v) AS lo
        |FROM fact JOIN dim ON fact.j = dim.j GROUP BY g""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    Snapshot.append(spark, factP, Seq((1L, 1L), (2L, 3L)).toDF("j", "v"))
    Snapshot.delete(spark, factP, col("v") === 9L)
    Snapshot.delete(spark, dimP, col("j") === 1L)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    def dump(df: DataFrame) = df.select("g", "n", "lo").as[(String, Long, Long)].collect().toSeq
    assert(dump(Snapshot.sqlQuery(spark, defining, reg)) == Seq(("G", 2L, 3L)))
    assert(dump(Snapshot.read(spark, mvP)) == Seq(("G", 2L, 3L)))
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
  }

  test("a join view written with table aliases re-derives dented MIN groups") {
    val root = Files.createTempDirectory("graft-mv-aliased").toString
    val (factP, dimP, mvP) = (s"$root/orders", s"$root/lineitem", s"$root/mv")
    Snapshot.create(spark, factP,
      (0L until 20L).map(o => (o, s"s${o % 3}")).toDF("o_orderkey", "o_status"))
    Snapshot.create(spark, dimP,
      (0L until 60L).map(i => (i % 20, i * 10 + 5)).toDF("l_orderkey", "l_price"))
    val reg = Map("orders" -> factP, "lineitem" -> dimP, "mv" -> mvP)
    val defining =
      """SELECT o.o_status, COUNT(*) AS n, MIN(l.l_price) AS lo
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_status""".stripMargin
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
    def dump(df: DataFrame) =
      df.select("o_status", "n", "lo").orderBy("o_status").collect().toSeq
    // delete every group's minimum: each group dents and re-derives
    // through the aliased defining query
    Snapshot.delete(spark, dimP, col("l_price") < 30L)
    Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
    assert(dump(Snapshot.read(spark, mvP)) == dump(Snapshot.sqlQuery(spark, defining, reg)))
    assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
  }

  test("a struct-typed group key folds through the whole-table rewrite") {
    // the restricted fold cannot build a key predicate from collected
    // struct values; restriction is only an optimization, so the fold
    // falls back to rewriting the whole state
    val root = Files.createTempDirectory("graft-mv-structkey").toString
    val (srcP, mvP) = (s"$root/src", s"$root/mv")
    Snapshot.create(spark, srcP, (0L until 4000L).map(i => (i, f"k${i % 400}%04d", i % 100))
      .toDF("id", "k", "v").selectExpr("id", "named_struct('k', k) AS s", "v"))
    val reg = Map("src" -> srcP, "mv" -> mvP)
    val advisoryKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val advisoryOld = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, "false")
    try {
      val defining = "SELECT s, COUNT(*) AS n, SUM(v) AS total FROM src GROUP BY s"
      Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $defining", reg)
      assert(Snapshot.latestManifest(spark, mvP).get.files.size > 1,
        "fixture needs a multi-file state")
      Snapshot.append(spark, srcP, Seq((9001L, "k0007", 3L)).toDF("id", "k", "v")
        .selectExpr("id", "named_struct('k', k) AS s", "v"))
      Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv", reg)
      def dump(df: DataFrame) = df.selectExpr("s.k AS k", "n", "total").collect().toSet
      assert(dump(Snapshot.read(spark, mvP)) == dump(Snapshot.sqlQuery(spark, defining, reg)))
      assert(Snapshot.latestManifest(spark, mvP).get.operation.contains("(incremental)"))
    } finally advisoryOld match {
      case Some(v) => spark.conf.set(advisoryKey, v)
      case None    => spark.conf.unset(advisoryKey)
    }
  }
}
