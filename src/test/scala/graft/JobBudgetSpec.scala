package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Snapshot
import graft.streaming.FeedConsumer

/** Load-independent job budgets for the snapshot read paths. Building a
  * snapshot read is planning only: the manifest carries the schema and
  * the file list, so no Spark job runs until an action — with or
  * without deletion vectors, after schema evolution, for a change feed.
  * The MV and change-feed paths that read through the same core run at
  * most their pinned number of jobs. Bounds are the counts measured on
  * this suite's session (local[4], AQE on; stable across reruns);
  * more than a bound is a regression.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"k${i % 5}", (i % 97).toLong)).toDF("id", "k", "v")

  test("building a snapshot read launches no Spark job, with or without deletion vectors") {
    val dir = Files.createTempDirectory("graft-budget-read").toString + "/t"
    Snapshot.create(spark, dir, rows(0 until 600).repartition(2), Seq("k"))
    Snapshot.append(spark, dir, rows(600 until 900).repartition(1))
    assert(jobsOf(Snapshot.read(spark, dir)) == 0, "plain read")
    assert(jobsOf(Snapshot.readWhere(spark, dir, col("v") > 50L)) == 0, "predicate read")

    Snapshot.delete(spark, dir, col("id") === 7L)
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.dvs.nonEmpty, "the point delete must take the vector tier")
    assert(jobsOf(Snapshot.read(spark, dir)) == 0, "read with a deletion vector")
    assert(jobsOf(Snapshot.readVersion(spark, dir, m.version - 1)) == 0, "time travel")
    assert(jobsOf(Snapshot.readChanges(spark, dir, 1L, m.version, net = true)) == 0,
      "change feed across the vector")

    Snapshot.renameColumn(spark, dir, "v", "w")
    Snapshot.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.IntegerType)),
      Map("d" -> "3"))
    var read: DataFrame = null
    assert(jobsOf { read = Snapshot.read(spark, dir) } == 0, "read after rename + DEFAULT add")
    assert(read.where(col("id") === 7L).count() == 0L)
    assert(read.agg(sum("w"), min("d"), max("d")).head().toSeq ==
      Seq((0 until 900).filter(_ != 7).map(i => (i % 97).toLong).sum, 3, 3))
  }

  test("a DELETE rewrite and a compaction do not re-validate rows: constraints add no job") {
    // the same table twice, once with a CHECK constraint and NOT NULL
    // columns (id, v), once without: an append validates (one job per
    // check), a rewrite-tier delete and a compaction keep rows that were
    // validated when they were written, so they launch the same jobs
    def run(constrained: Boolean): Map[String, Int] = {
      val dir = Files.createTempDirectory("graft-budget-modes").toString + "/t"
      Snapshot.create(spark, dir, rows(0 until 600).repartition(4),
        constraints = if (constrained) Map("v_small" -> "v < 100") else Map.empty,
        keepNullability = constrained)
      val m = Snapshot.latestManifest(spark, dir).get
      assert(m.constraints.nonEmpty == constrained)
      assert(m.schemaDdl.contains("NOT NULL") == constrained)
      // repartitioned: checks over a local relation run on the driver, jobless
      val append = jobsOf(Snapshot.append(spark, dir, rows(600 until 650).repartition(1)))
      val delete = jobsOf(Snapshot.delete(spark, dir, col("v") === 5L, dvMaxFraction = 0.0))
      val after = Snapshot.latestManifest(spark, dir).get
      assert(after.operation == "DELETE" && after.dvs.isEmpty, "the delete must take the rewrite tier")
      val compact = jobsOf(Snapshot.compact(spark, dir, minFiles = 2))
      assert(Snapshot.latestManifest(spark, dir).get.operation == "OPTIMIZE")
      assert(Snapshot.read(spark, dir).count() == (0 until 650).count(_ % 97 != 5))
      Map("append" -> append, "delete" -> delete, "compact" -> compact)
    }
    val plain = run(constrained = false)
    val checked = run(constrained = true)
    info(s"plain=$plain constrained=$checked")
    assert(checked("append") > plain("append"), "an append validates its rows")
    assert(checked("delete") == plain("delete"), "a DELETE rewrite re-validates nothing")
    assert(checked("compact") == plain("compact"), "a compaction re-validates nothing")
  }

  test("MV create, SUM- and MIN-view refreshes and a feed drain stay within their job budgets") {
    val root = Files.createTempDirectory("graft-budget-mv").toString
    val src = s"$root/src"
    val feed = s"$root/feed"
    Snapshot.create(spark, src, rows(0 until 400).repartition(2))
    val reg = Map("src" -> src, "mv_sum" -> s"$root/mv_sum", "mv_min" -> s"$root/mv_min",
      "mv_distinct" -> s"$root/mv_distinct", "mv_avg" -> s"$root/mv_avg")
    val sumSql = "SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total " +
      "FROM src GROUP BY k"
    val minSql = "SELECT k, MIN(v) AS lo FROM src GROUP BY k"
    // the two side-table kinds: a COUNT(DISTINCT) side and an AVG side
    val distinctSql = "SELECT k, COUNT(*) AS n, COUNT(DISTINCT v) AS nv FROM src GROUP BY k"
    val avgSql = "SELECT k, COUNT(*) AS n, AVG(CAST(v AS DECIMAL(18,2))) AS av " +
      "FROM src GROUP BY k"
    val create = jobsOf(Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv_sum AS $sumSql", reg))
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv_min AS $minSql", reg)
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv_distinct AS $distinctSql", reg)
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv_avg AS $avgSql", reg)
    Snapshot.create(spark, feed,
      FeedConsumer.emptyRollup(spark, Snapshot.read(spark, src), Seq("k")))
    def drain() = FeedConsumer.drain(spark, src, feed, "rollup", signed = true)(
      FeedConsumer.additiveRollup(Seq("k"), "v"))
    drain()

    // one churn window: an append, a vector-tier point delete and a
    // point update that removes a group's minimum
    Snapshot.append(spark, src, rows(400 until 450))
    Snapshot.delete(spark, src, col("id") === 3L)
    Snapshot.update(spark, src, col("id") === 97L, Map("v" -> lit(50L)))
    val refreshSum = jobsOf(Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv_sum", reg))
    val refreshMin = jobsOf(Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv_min", reg))
    val refreshDistinct = jobsOf(Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv_distinct", reg))
    val refreshAvg = jobsOf(Snapshot.sql(spark, "REFRESH MATERIALIZED VIEW mv_avg", reg))
    val drained = jobsOf(drain())
    info(s"create=$create refreshSum=$refreshSum refreshMin=$refreshMin " +
      s"refreshDistinct=$refreshDistinct refreshAvg=$refreshAvg drain=$drained")

    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    Snapshot.read(spark, src).createOrReplaceTempView("budget_src")
    def recompute(sql: String) = sorted(spark.sql(sql.replace("FROM src", "FROM budget_src")))
    assert(sorted(Snapshot.read(spark, s"$root/mv_sum")) == recompute(sumSql))
    assert(sorted(Snapshot.read(spark, s"$root/mv_min")) == recompute(minSql))
    assert(sorted(Snapshot.read(spark, s"$root/mv_distinct")) == recompute(distinctSql))
    assert(sorted(Snapshot.read(spark, s"$root/mv_avg")) == recompute(avgSql))
    Seq("mv_distinct", "mv_avg").foreach { v =>
      assert(Snapshot.latestManifest(spark, s"$root/$v").get.operation.contains("(incremental)"),
        s"$v refreshes incrementally through its side table")
    }
    assert(sorted(Snapshot.read(spark, feed)) == recompute(sumSql))

    val bounds = Map("create" -> 2, "refreshSum" -> 6, "refreshMin" -> 3,
      "refreshDistinct" -> 14, "refreshAvg" -> 13, "drain" -> 4)
    Seq("create" -> create, "refreshSum" -> refreshSum, "refreshMin" -> refreshMin,
      "refreshDistinct" -> refreshDistinct, "refreshAvg" -> refreshAvg,
      "drain" -> drained).foreach { case (k, n) =>
      assert(n <= bounds(k), s"$k ran $n jobs, bound ${bounds(k)}")
    }
  }
}
