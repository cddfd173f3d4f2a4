package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.operators.{MatView, SmallOp, Snapshot}

/** The interpreted-execution seam ([[SmallOp]]): engine operations over
  * manifest-sized inputs run with whole-stage codegen off and the
  * interpreted expression factory, give the same results as compiled
  * runs, leave the session's conf as the caller set it on every exit
  * path, and never touch how user queries run, on any thread.
  */
class SmallOpExecutionSpec extends SparkSpec {
  import spark.implicits._

  private val Keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val SumSql = "SELECT k, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,2))) AS total " +
    "FROM src GROUP BY k"

  /** Janino compiles (codegen cache misses) inside `body`. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** The codegen keys as explicitly set on the session (None = unset). */
  private def conf: Seq[Option[String]] = Keys.map(spark.sessionState.conf.getAllConfs.get)

  /** The codegen keys as this thread plans with them and hands them to
    * its jobs' tasks.
    */
  private def threadView: (Seq[Option[String]], Seq[Option[String]]) =
    (Keys.map(SQLConf.get.getAllConfs.get), Keys.map(k => Option(spark.sparkContext.getLocalProperty(k))))

  private def withConf[T](k: String, v: Option[String])(body: => T): T = {
    val old = spark.sessionState.conf.getAllConfs.get(k)
    v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The codegen keys as each data-file write inside `body` saw them:
    * its thread's view, then the session's.
    */
  private def seenByWrite(body: => Unit): Seq[(Any, Seq[Option[String]])] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Any, Seq[Option[String]])]()
    Snapshot.faultHook = p => if (p == "data-files-written") seen.add(threadView -> conf)
    try body finally Snapshot.faultHook = _ => ()
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  private def resolve(reg: Map[String, String]): Seq[String] => String = parts => reg(parts.last)

  private def wholeStage(df: DataFrame): Boolean =
    new AdaptiveSparkPlanHelper {}.find(df.queryExecution.executedPlan)(
      _.isInstanceOf[WholeStageCodegenExec]).isDefined

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private def rows(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i.toLong, s"g${i % 7}", (i * 37 % 1009).toLong))
      .toDF("id", "k", "v")

  /** A source table (DV-able: one file) and a SUM view over it. */
  private def fixture(root: String): Map[String, String] = {
    val reg = Map("src" -> s"$root/src", "mv" -> s"$root/mv")
    Snapshot.create(spark, reg("src"), rows(0, 2000).repartition(1))
    Snapshot.sql(spark, s"CREATE MATERIALIZED VIEW mv AS $SumSql", reg)
    reg
  }

  /** One churn window: a vector-tier point delete, then the refresh.
    * Returns the compiles of each.
    */
  private def churn(reg: Map[String, String], key: Long): (Long, Long) = {
    val del = compiles(Snapshot.delete(spark, reg("src"), col("id") === key))
    assert(Snapshot.latestManifest(spark, reg("src")).get.dvs.nonEmpty,
      "the point delete must take the vector tier")
    val refresh = compiles(MatView.refresh(spark, reg("mv"), resolve(reg)))
    (del, refresh)
  }

  test("a small DV delete and SUM-view refresh compile nothing and equal the compiled run") {
    val small = fixture(Files.createTempDirectory("graft-smallop-a").toString)
    val large = fixture(Files.createTempDirectory("graft-smallop-b").toString)
    assert(SmallOp.isSmall(spark, Seq(small("src"), small("mv")), Nil))

    // Spark generates two helpers whatever the factory mode (the hash
    // aggregation's row joiner and the cached-batch column accessor),
    // keyed by row shape alone: the first window may compile them once,
    // every later window compiles nothing
    churn(small, 1733L)
    val (del, refresh) = churn(small, 1741L)
    info(s"interpreted: delete $del, refresh $refresh compiles")
    assert(del == 0L && refresh == 0L)

    // a threshold below the table's bytes sends the same operations
    // back to compiled execution
    withConf(Threshold, Some("1")) {
      assert(!SmallOp.isSmall(spark, Seq(large("src")), Nil))
      val (delC, refreshC) = churn(large, 1733L)
      info(s"over the gate: delete $delC, refresh $refreshC compiles")
      assert(delC > 0L && refreshC > 0L)
      churn(large, 1741L)
    }

    assert(sorted(Snapshot.read(spark, small("src"))) == sorted(Snapshot.read(spark, large("src"))))
    assert(sorted(Snapshot.read(spark, small("mv"))) == sorted(Snapshot.read(spark, large("mv"))))
    assert(Snapshot.latestManifest(spark, small("mv")).get.operation.contains("(incremental)"))
  }

  test("a table over a mebibyte runs compiled, under the broadcast threshold too") {
    val t = Files.createTempDirectory("graft-smallop-mid").toString + "/mid"
    Snapshot.create(spark, t, spark.range(0, 80000).select(col("id"),
      xxhash64(col("id")).as("v"), xxhash64(col("id"), lit(7)).as("w")).repartition(2))
    val m = Snapshot.latestManifest(spark, t).get
    val bytes = m.files.map(f => m.stats(f).bytes).sum
    assert(bytes > SmallOp.InterpretedBytes && bytes < spark.sessionState.conf.autoBroadcastJoinThreshold)
    assert(!SmallOp.isSmall(spark, Seq(t), Nil))
    assert(compiles(Snapshot.delete(spark, t, col("v") % 1000003L === 424242L)) > 0L)
  }

  test("the codegen keys return to the caller's values after every kind of exit") {
    val root = Files.createTempDirectory("graft-smallop-conf").toString
    val reg = fixture(root)
    val interpreted = Seq(Some("false"), Some("NO_CODEGEN"))
    withConf(Keys.head, Some("true")) {
      val caller = conf
      assert(caller == Seq(Some("true"), None))
      val inside = Seq((interpreted, interpreted) -> caller)

      // a plain operation: interpreted on its thread, the session untouched
      assert(seenByWrite(Snapshot.append(spark, reg("src"), rows(2000, 2010))) == inside)
      assert(conf == caller && threadView == (caller, Seq(None, None)))

      // an operation that throws inside the seam
      intercept[IllegalArgumentException](
        Snapshot.update(spark, reg("src"), col("id") === 1L, Map("nope" -> lit(1))))
      assert(conf == caller && threadView == (caller, Seq(None, None)))

      // nested: a stacked view's cascade refresh commits through several
      // gated operations
      Snapshot.sql(spark, "CREATE MATERIALIZED VIEW top AS SELECT SUM(n) AS n FROM mv",
        reg + ("top" -> s"$root/top"))
      Snapshot.append(spark, reg("src"), rows(2010, 2020))
      val cascade = seenByWrite(MatView.refreshCascade(spark, s"$root/top",
        resolve(reg + ("top" -> s"$root/top"))))
      assert(cascade.nonEmpty && cascade.forall(_ == inside.head))
      assert(conf == caller && threadView == (caller, Seq(None, None)))
      assert(sorted(Snapshot.read(spark, s"$root/top")) == Seq("2020"))

      // nested: a catalog DELETE runs the engine's DML inside spark.sql
      spark.conf.set("spark.sql.catalog.gsop", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsop.warehouse", root)
      try {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS gsop.db")
        Snapshot.create(spark, s"$root/db/t", rows(0, 50).repartition(1))
        assert(seenByWrite(spark.sql("DELETE FROM gsop.db.t WHERE v > 500")) == inside)
        assert(conf == caller && threadView == (caller, Seq(None, None)))
        assert(spark.sql("SELECT COUNT(*) FROM gsop.db.t").head().getLong(0) ==
          (0 until 50).count(i => i * 37 % 1009 <= 500))
      } finally {
        spark.conf.unset("spark.sql.catalog.gsop.warehouse")
        spark.conf.unset("spark.sql.catalog.gsop")
      }

      // two threads committing to different tables at once
      val tables = Seq(s"$root/t1", s"$root/t2")
      tables.foreach(t => Snapshot.create(spark, t, rows(0, 10)))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = tables.map(t => new Thread(() =>
        try (1 to 6).foreach(i => Snapshot.append(spark, t, rows(10 * i, 10 * i + 10)))
        catch { case e: Throwable => errors.add(e); () }))
      val concurrent = seenByWrite {
        threads.foreach(_.start())
        threads.foreach(_.join())
      }
      assert(errors.isEmpty, errors)
      assert(concurrent.size == 12 && concurrent.forall(_ == inside.head))
      assert(conf == caller)
      tables.foreach(t => assert(Snapshot.read(spark, t).count() == 70L))
    }
  }

  test("user queries run compiled right after an engine operation") {
    val root = Files.createTempDirectory("graft-smallop-user").toString
    val reg = fixture(root)
    Snapshot.append(spark, reg("src"), rows(2000, 2100))
    MatView.refresh(spark, reg("mv"), resolve(reg))
    Snapshot.read(spark, reg("src")).createOrReplaceTempView("smallop_src")
    val q = spark.sql("SELECT k, SUM(v * 7121) AS s FROM smallop_src WHERE v > 17 GROUP BY k")
    var got: Array[Row] = null
    assert(compiles { got = q.collect() } > 0L, "a user SELECT compiles its stages")
    assert(got.length == 7)
    assert(wholeStage(q), "a user SELECT plans whole-stage codegen")
    assert(wholeStage(Snapshot.read(spark, reg("mv"))), "so does a snapshot read")
  }

  test("a query another thread runs while an operation is in flight plans and runs compiled") {
    val root = Files.createTempDirectory("graft-smallop-live").toString
    val reg = fixture(root)
    Snapshot.read(spark, reg("src")).createOrReplaceTempView("smallop_live")
    assert(conf == Seq(None, None))
    var opView: Any = null
    var user: Option[(Boolean, Long, Int, Any)] = None
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val go = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    // a thread that exists before the operation starts (a thread started
    // from inside it would inherit its job properties) runs a SELECT
    // while the operation is parked in its write, so every compile it
    // counts is its own
    val other = new Thread(() =>
      try {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        go.await()
        val q = spark.sql("SELECT k, SUM(v * 7919) AS s FROM smallop_live WHERE v > 13 GROUP BY k")
        var n = 0
        val c = compiles { n = q.collect().length }
        // a key the other thread sets while the operation is in flight
        spark.conf.set(Keys.head, "true")
        user = Some((wholeStage(q), c, n, threadView))
      } catch { case e: Throwable => errors.add(e); () }
      finally done.countDown())
    other.start()
    Snapshot.faultHook = p => if (p == "data-files-written" && opView == null) {
      opView = threadView
      go.countDown()
      done.await()
    }
    try {
      Snapshot.append(spark, reg("src"), rows(2000, 2010))
      other.join()
      assert(errors.isEmpty, errors)
      val Some((planned, compiled, n, view)) = user
      assert(planned, "the other thread's SELECT plans whole-stage codegen")
      assert(compiled > 0L, "the other thread's SELECT compiles its stages")
      assert(n == 7)
      assert(conf == Seq(Some("true"), None), "the operation keeps the value the other thread set")
      assert(view == (Seq(Some("true"), None), Seq(None, None)))
      val interpreted = Seq(Some("false"), Some("NO_CODEGEN"))
      assert(opView == (interpreted, interpreted))
    } finally {
      Snapshot.faultHook = _ => ()
      go.countDown()
      other.join()
      spark.conf.unset(Keys.head)
    }
  }
}
