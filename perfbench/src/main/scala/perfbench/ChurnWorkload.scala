package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.operators.{MatView, Snapshot}
import graft.streaming.FeedConsumer

/** `refresh_churn`: the reference's hourly re-run against snapshot
  * tables built from the generated `orders` and `lineitem`.
  *
  * One pass is one window of the hourly cadence, generated from the
  * seed: append new orders and their lines; delete-and-replace the
  * trailing `dias_remplazo` = 4 days of both tables (rows appended
  * earlier in the same window are deleted again: transient rows); a
  * point update and a `mergeById` upsert; one SQL DML through the
  * registry route and one through the catalog route; `MatView.refresh`
  * of six views (SUM/COUNT, MIN/MAX, AVG, COUNT DISTINCT, a two-source
  * join with MIN, and a view stacked on the first); one
  * `FeedConsumer.drain`; one MV-routed read and one time-travel read.
  * Every third window, from the first, compacts one table.
  *
  * Checks, outside the op timings: after every window each view and the
  * drained rollup must equal a full recompute over the current source
  * tables, and each read must equal its expected answer; at the end both
  * source tables must equal an in-memory replay of the same history.
  */
final class ChurnWorkload(spark: SparkSession, tracer: Tracer, scale: Fixture.Scale)
    extends Workload {
  val name = "refresh_churn"
  private val Catalog = "churn"
  private val Window = 4 // dias_remplazo: trailing days deleted and re-loaded each run

  private final case class O(key: Long, cust: Long, status: String, price: Double,
                             day: Int, prio: String)
  private final case class L(okey: Long, line: Int, qty: Double, price: Double, day: Int)

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  private val lineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_shipdate", DateType)))

  /** View name -> defining SQL over `{orders}`, `{lineitem}`, `{mv_sum}`. */
  private val Views: Seq[(String, String)] = Seq(
    "mv_sum" -> """SELECT o_orderpriority, COUNT(*) AS n,
                  |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
                  |FROM {orders} GROUP BY o_orderpriority""".stripMargin,
    "mv_minmax" -> """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_totalprice) AS lo,
                     |  MAX(o_totalprice) AS hi
                     |FROM {orders} GROUP BY o_orderstatus""".stripMargin,
    "mv_avg" -> """SELECT year(o_orderdate) AS yr, COUNT(*) AS n,
                  |  AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS avg_price
                  |FROM {orders} GROUP BY year(o_orderdate)""".stripMargin,
    "mv_distinct" -> """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS customers
                       |FROM {orders} GROUP BY o_orderpriority""".stripMargin,
    // unaliased: a refresh of a join view whose SQL uses table aliases
    // fails to resolve the aliased columns
    "mv_join" -> """SELECT o_orderpriority, COUNT(*) AS n, MIN(l_extendedprice) AS lo
                   |FROM {orders} JOIN {lineitem} ON o_orderkey = l_orderkey
                   |GROUP BY o_orderpriority""".stripMargin,
    "mv_stack" -> """SELECT substring(o_orderpriority, 1, 1) AS lvl, SUM(n) AS n,
                    |  SUM(total) AS total
                    |FROM {mv_sum} GROUP BY substring(o_orderpriority, 1, 1)""".stripMargin)
  private val RollupSql =
    """SELECT o_orderstatus, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
      |FROM {orders} GROUP BY o_orderstatus""".stripMargin

  // state of the current fixture
  private var wh: Path = _
  private var orders = mutable.LinkedHashMap.empty[Long, O]
  private var lines = mutable.ArrayBuffer.empty[L]
  private var nextKey = 0L
  private var baseKeys = 0L // keys below this come from the generated base table
  private var day = 0
  private var windowNo = 0
  private var rnd: SplittableRandom = _
  // answers of the last window's reads, checked in checkPass
  private var routedAnswer: Seq[String] = Nil
  private var travelled: Seq[String] = Nil
  private var expectTravel: Seq[String] = Nil
  // per-layer tallies (trace mode)
  private var commits = 0L
  private var commitFiles = 0L
  private var commitBytes = 0L
  private var refreshes = 0L
  private var incremental = 0L
  private var routed = 0L
  private var routedHits = 0L
  // end-to-end storage figures
  private var bytesPerOrder = 0.0
  private var bytesPerLine = 0.0
  private var userBytesChanged = 0.0
  private var bytesAtStart = 0L

  private def path(t: String): String = wh.resolve("db").resolve(t).toString
  private def qualified(sql: String): String =
    Seq("orders", "lineitem", "mv_sum").foldLeft(sql)((s, t) => s.replace(s"{$t}", s"$Catalog.db.$t"))
  private def local(sql: String): String =
    Seq("orders", "lineitem", "mv_sum").foldLeft(sql)((s, t) => s.replace(s"{$t}", s"cw_$t"))
  private def resolve(parts: Seq[String]): String =
    graft.plans.GraftCatalogResolve.pathOf(spark, parts).getOrElse(
      throw new IllegalArgumentException(s"not a $Catalog table: ${parts.mkString(".")}"))

  private def date(d: Int) = LocalDate.ofEpochDay(d.toLong)
  private def oRow(o: O) = Row(o.key, o.cust, o.status, o.price, date(o.day), o.prio)
  private def lRow(l: L) = Row(l.okey, l.line, l.qty, l.price, date(l.day))
  private def ordersDf(os: Iterable[O]): DataFrame =
    spark.createDataFrame(os.map(oRow).toSeq.asJava, orderSchema)
  private def linesDf(ls: Iterable[L]): DataFrame =
    spark.createDataFrame(ls.map(lRow).toSeq.asJava, lineSchema)
  private def cents(lo: Double, hi: Double) = math.round(rnd.nextDouble(lo, hi) * 100) / 100.0
  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  def setup(dir: Path): Unit = {
    wh = dir.resolve("wh")
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", wh.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.db")
    val tables = Fixture.tables(scale).map(t => t._1 -> t._3).toMap
    def epochDay(v: Any) = v.asInstanceOf[java.time.LocalDateTime].toLocalDate.toEpochDay.toInt
    orders = mutable.LinkedHashMap.empty ++= tables("orders").map { r =>
      r.getLong(0) -> O(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        epochDay(r.get(4)), r.getString(5))
    }
    lines = mutable.ArrayBuffer.empty ++= tables("lineitem").map { r =>
      L(r.getLong(0), r.getInt(3), r.getDouble(4), r.getDouble(5), epochDay(r.get(10)))
    }
    nextKey = orders.keys.max + 1
    baseKeys = nextKey
    day = orders.values.map(_.day).max
    windowNo = 0
    Snapshot.create(spark, path("orders"), ordersDf(orders.values), Seq("o_orderpriority"))
    Snapshot.create(spark, path("lineitem"), linesDf(lines))
    Views.foreach { case (v, sql) =>
      spark.sql(s"CREATE MATERIALIZED VIEW $Catalog.db.$v AS ${qualified(sql)}")
    }
    Snapshot.create(spark, path("feed_rollup"),
      FeedConsumer.emptyRollup(spark, Snapshot.read(spark, path("orders")), Seq("o_orderstatus")))
    drain()
    def dataBytes(t: String) =
      Util.usage(Path.of(path(t)), _.getFileName.toString.endsWith(".parquet"))._2.toDouble
    bytesPerOrder = dataBytes("orders") / orders.size
    bytesPerLine = dataBytes("lineitem") / lines.size
    bytesAtStart = Util.usage(wh)._2
    userBytesChanged = 0.0
  }

  /** The set-up already runs every create, commit and drain path, so no
    * window is spent on warm-up: each run measures windows from the
    * first. Its fixture (two tables, six views, a feed rollup) takes
    * seconds to build, so a run builds it twice, not three times.
    */
  override def warmupPasses: Int = 0
  override def setupReps: Int = 2
  override def minPasses: Int = 1

  private def drain(): Option[(Long, Long)] =
    FeedConsumer.drain(spark, path("orders"), path("feed_rollup"), "rollup", signed = true)(
      FeedConsumer.additiveRollup(Seq("o_orderstatus"), "o_totalprice"))

  /** Time one op; a thrown exception is a failed op. */
  private def op(kind: String, layer: String, call: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    val r = scala.util.Try(tracer.span(kind, "op", s"w$windowNo.$kind")(
      tracer.span(call, layer, s"w$windowNo.$kind")(body)))
    OpResult(kind, s"w$windowNo.$kind", Util.secondsSince(t0), r.isSuccess,
      r.failed.map(e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        .getOrElse(""))
  }

  /** A commit op: also counts the files and bytes it added (trace mode). */
  private def commit(kind: String, call: String, orderRows: Int, lineRows: Int)(
      body: => Unit): OpResult = {
    val before = if (tracer.enabled) Util.usage(wh) else (0L, 0L)
    val r = op(kind, "snapshot", call)(body)
    if (tracer.enabled) {
      val after = Util.usage(wh)
      commits += 1; commitFiles += after._1 - before._1; commitBytes += after._2 - before._2
    }
    userBytesChanged += orderRows * bytesPerOrder + lineRows * bytesPerLine
    r
  }

  override def startMeasuring(): Unit = {
    commits = 0; commitFiles = 0; commitBytes = 0; refreshes = 0; incremental = 0
    routed = 0; routedHits = 0
    bytesAtStart = Util.usage(wh)._2
    userBytesChanged = 0.0
  }

  def pass(r: SplittableRandom): Seq[OpResult] = {
    rnd = r
    windowNo += 1
    day += 1
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val from = day - Window + 1
    val versionAtStart = Snapshot.latestVersion(spark, path("orders")).get
    expectTravel = travelAnswer(orders.values)

    // 1. the new hour's extract: orders dated inside the trailing window, with their lines
    val fresh = (0 until 15).map { i =>
      val k = nextKey; nextKey += 1
      O(k, rnd.nextInt(1000).toLong, Statuses(i % Statuses.size), cents(1000, 500000),
        from + rnd.nextInt(Window), Priorities(i % Priorities.size))
    }
    val freshLines = fresh.flatMap { o =>
      (1 to 3).map(i => L(o.key, i, (1 + rnd.nextInt(50)).toDouble,
        cents(900, 105000), o.day + rnd.nextInt(3)))
    }
    fresh.foreach(o => orders(o.key) = o)
    lines ++= freshLines
    ops += commit("append", "append", fresh.size, 0)(
      Snapshot.append(spark, path("orders"), ordersDf(fresh)))
    ops += commit("append", "append", 0, freshLines.size)(
      Snapshot.append(spark, path("lineitem"), linesDf(freshLines)))

    // 2. delete-and-replace the trailing window; the re-extract changes
    // some values and drops some rows, so the rows just appended are
    // partly transient within this window
    val gone = orders.values.filter(_.day >= from).toSeq
    gone.foreach(o => orders.remove(o.key))
    ops += commit("delete", "delete", gone.size, 0)(
      Snapshot.delete(spark, path("orders"), col("o_orderdate") >= lit(date(from))))
    val again = gone.zipWithIndex.filter(_._2 % 5 != 4).map { case (o, i) =>
      if (i % 2 == 0) o.copy(price = cents(1000, 500000), status = pick(Statuses)) else o }
    again.foreach(o => orders(o.key) = o)
    ops += commit("append", "append", again.size, 0)(
      Snapshot.append(spark, path("orders"), ordersDf(again)))
    val goneLines = lines.filter(_.day >= from).toSeq
    lines --= goneLines
    ops += commit("delete", "delete", 0, goneLines.size)(
      Snapshot.delete(spark, path("lineitem"), col("l_shipdate") >= lit(date(from))))
    val linesAgain = goneLines.zipWithIndex.filter(_._2 % 5 != 4).map { case (l, i) =>
      if (i % 2 == 0) l.copy(price = cents(900, 105000)) else l }
    lines ++= linesAgain
    ops += commit("append", "append", 0, linesAgain.size)(
      Snapshot.append(spark, path("lineitem"), linesDf(linesAgain)))

    // 3. a point update and an upsert by id (ids keep their partition);
    // the hour's corrections hit older orders of one priority partition,
    // rotating by window, so every window's commits have the same shape
    val fixPrio = Priorities((windowNo - 1) % Priorities.size)
    val keys = orders.values.filter(o => o.prio == fixPrio && o.key < baseKeys)
      .map(_.key).toIndexedSeq
    val uk = keys(rnd.nextInt(keys.size))
    val newPrice = cents(1000, 500000)
    orders(uk) = orders(uk).copy(status = "F", price = newPrice)
    ops += commit("update", "update", 1, 0)(
      Snapshot.update(spark, path("orders"), col("o_orderkey") === uk,
        Map("o_orderstatus" -> lit("F"), "o_totalprice" -> lit(newPrice))))
    val upserts = Util.shuffle(keys, rnd).take(5).map(k => orders(k).copy(price = cents(1000, 500000))) ++
      (0 until 2).map { _ =>
        val k = nextKey; nextKey += 1
        O(k, rnd.nextInt(1000).toLong, pick(Statuses), cents(1000, 500000), day, fixPrio)
      }
    upserts.foreach(o => orders(o.key) = o)
    ops += commit("merge", "merge", upserts.size, 0)(
      Snapshot.mergeById(spark, path("orders"), ordersDf(upserts), "o_orderkey", "o_orderpriority"))

    // 4. one SQL DML through each route
    val sk = keys(rnd.nextInt(keys.size))
    orders.get(sk).foreach(o => orders(sk) = o.copy(status = "O"))
    ops += commit("sql_dml", "sql_dml", 1, 0)(Snapshot.sql(spark,
      s"UPDATE orders SET o_orderstatus = 'O' WHERE o_orderkey = $sk",
      Map("orders" -> path("orders"))))
    val dk = {
      val keySet = keys.toSet
      val withLines = lines.iterator.map(_.okey).filter(keySet).toIndexedSeq
      withLines(rnd.nextInt(withLines.size))
    }
    val dropped = lines.count(_.okey == dk)
    lines.filterInPlace(_.okey != dk)
    ops += commit("sql_dml", "sql_dml", 0, dropped)(
      spark.sql(s"DELETE FROM $Catalog.db.lineitem WHERE l_orderkey = $dk"))

    // 5. refresh every view, the stacked one after its source
    Views.foreach { case (v, _) =>
      ops += op("refresh", "matview", "refresh") {
        MatView.refresh(spark, path(v), resolve)
      }
      if (tracer.enabled) {
        refreshes += 1
        if (Snapshot.latestManifest(spark, path(v)).get.operation.contains("(incremental)"))
          incremental += 1
      }
    }

    // 6. the change-feed consumer catches up
    ops += op("drain", "feed", "drain")(drain())

    // 7. one MV-routed read and one time-travel read
    var routedScans: Set[String] = Set.empty
    ops += op("read", "route", "read") {
      spark.conf.set("spark.graft.mv.autoRoute", path("mv_sum"))
      try {
        val df = spark.sql(qualified(Views.head._2))
        routedAnswer = normalized(df.collect().toSeq)
        routedScans = scans(df)
      } finally spark.conf.unset("spark.graft.mv.autoRoute")
    }
    if (tracer.enabled) { routed += 1; if (routedScans == Set(new java.io.File(path("mv_sum")).toURI.toString.stripSuffix("/")))
        routedHits += 1 }
    ops += op("read", "snapshot", "read_version") {
      travelled = normalized(Snapshot.readVersion(spark, path("orders"), versionAtStart)
        .selectExpr("COUNT(*)", "SUM(CAST(o_totalprice AS DECIMAL(18,2)))").collect().toSeq)
    }

    // 8. periodic compaction, starting with the first window
    if (windowNo % 3 == 1) {
      val t = if (windowNo % 6 == 4) "lineitem" else "orders"
      ops += commit("compact", "compact", 0, 0)(Snapshot.compact(spark, path(t)))
    }

    ops.toSeq
  }

  private def travelAnswer(os: Iterable[O]): Seq[String] =
    Seq(s"${os.size}|${os.map(o => BigDecimal(o.price)).sum.bigDecimal.stripTrailingZeros.toPlainString}")

  /** Checks after a window, outside the op timings: a mismatch is a failed op. */
  override def checkPass(): Seq[OpResult] = {
    Snapshot.read(spark, path("orders")).createOrReplaceTempView("cw_orders")
    Snapshot.read(spark, path("lineitem")).createOrReplaceTempView("cw_lineitem")
    spark.sql(local(Views.head._2)).createOrReplaceTempView("cw_mv_sum")
    def check(what: String, got: => Seq[String], want: => Seq[String]): OpResult = {
      val err = scala.util.Try((got, want)) match {
        case scala.util.Success((g, w)) if g == w => ""
        case scala.util.Success((g, w)) =>
          s"$what != expected after window $windowNo: got ${g.take(6).mkString(" ")}" +
            s" want ${w.take(6).mkString(" ")}"
        case scala.util.Failure(e) => s"$what check threw ${e.getMessage}"
      }
      OpResult("check", s"w$windowNo.$what", 0.0, err.isEmpty, err)
    }
    val recomputeSumView = normalized(spark.table("cw_mv_sum").collect().toSeq)
    (Views.map { case (v, sql) =>
      check(v, normalized(Snapshot.read(spark, path(v)).collect().toSeq),
        normalized(spark.sql(local(sql)).collect().toSeq))
    } ++ Seq(
      check("feed_rollup", normalized(Snapshot.read(spark, path("feed_rollup")).collect().toSeq),
        normalized(spark.sql(local(RollupSql)).collect().toSeq)),
      check("routed_read", routedAnswer, recomputeSumView),
      check("time_travel_read", travelled, expectTravel)))
  }

  override def finalChecks(): Seq[OpResult] = {
    def same(t: String, got: DataFrame, want: DataFrame): OpResult = {
      val g = normalized(got.collect().toSeq)
      val w = normalized(want.collect().toSeq)
      OpResult("check", s"final.$t", 0.0, g == w,
        if (g == w) "" else s"$t differs from the in-memory replay: ${g.size} rows vs " +
          s"${w.size} expected, first difference ${g.diff(w).take(1).mkString} / " +
          w.diff(g).take(1).mkString)
    }
    Seq(
      same("orders", Snapshot.read(spark, path("orders")).select(orderSchema.fieldNames.map(col): _*),
        ordersDf(orders.values)),
      same("lineitem", Snapshot.read(spark, path("lineitem")).select(lineSchema.fieldNames.map(col): _*),
        linesDf(lines)))
  }

  /** Rows as sorted strings; decimals compare by value, not by scale. */
  private def normalized(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case null => "null"
      case v => v.toString
    }.mkString("|")).sorted

  /** Table roots the query reads, from its input files. */
  private def scans(df: DataFrame): Set[String] = {
    val roots = Seq("orders", "lineitem", "mv_sum").map(t => new java.io.File(path(t)).toURI.toString)
    df.inputFiles.toSet[String].map(f => roots.find(r => f.startsWith(r)).getOrElse(f))
      .map(r => if (r.endsWith("/")) r.dropRight(1) else r)
  }

  /** (write amplification, space amplification, bytes on disk) now. */
  private def amplification: (Double, Double, Long) = {
    val onDisk = Util.usage(wh)._2
    ((onDisk - bytesAtStart) / math.max(1.0, userBytesChanged),
      onDisk / (orders.size * bytesPerOrder + lines.size * bytesPerLine), onDisk)
  }

  override def extraEndToEnd(ops: Seq[OpResult]): Map[String, Double] = {
    def p50(kinds: Set[String]) = Util.median(ops.filter(o => kinds(o.kind)).map(_.seconds))
    val (writeAmp, spaceAmp, _) = amplification
    Map(
      "commit_p50_s" -> p50(Set("append", "delete", "update", "merge", "sql_dml")),
      "refresh_p50_s" -> p50(Set("refresh")),
      "read_p50_s" -> p50(Set("read")),
      "write_amp" -> writeAmp,
      "space_amp" -> spaceAmp)
  }

  override def layerMetrics(): Map[String, Double] = {
    val (writeAmp, spaceAmp, bytes) = amplification
    val manifestBytes = Util.usage(wh, _.toString.contains("_graft_log"))._2
    val stateFiles = Views.map { case (v, _) =>
      Snapshot.latestManifest(spark, path(v)).map(_.files.size).getOrElse(0) }.sum
    Map(
      "snapshot.files_per_commit" -> (if (commits == 0) 0.0 else commitFiles.toDouble / commits),
      "snapshot.bytes_written_mb" -> commitBytes / 1048576.0,
      "matview.incremental_ratio" -> (if (refreshes == 0) 0.0 else incremental.toDouble / refreshes),
      "matview.state_files" -> stateFiles.toDouble,
      "route.hit_ratio" -> (if (routed == 0) 0.0 else routedHits.toDouble / routed),
      "storage.bytes_on_disk_mb" -> bytes / 1048576.0,
      "storage.manifest_kb" -> manifestBytes / 1024.0,
      "storage.write_amp" -> writeAmp,
      "storage.space_amp" -> spaceAmp)
  }
}
