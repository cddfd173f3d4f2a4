package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Snapshot
import graft.pipelines.ConsumoPipeline
import graft.sources.Readers

class PipelineSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv reader parses schema'd timestamps like the reference extract") {
    val dir = Files.createTempDirectory("graft-src").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/x.csv"),
      "start_date,user_id,minutes\n2024-01-01 10:00:00,u1,12.5\n2024-01-01 11:00:00,u2,3.0\n")
    val schema = StructType(Seq(
      StructField("start_date", TimestampType), StructField("user_id", StringType),
      StructField("minutes", DoubleType)))
    val df = Readers.csv(spark, s"$dir/x.csv", schema)
    assert(df.schema == schema)
    assert(df.count() == 2)
    assert(df.agg(sum("minutes")).as[Double].head() == 15.5)
  }

  test("json config reader loads a dicc_programas-style file") {
    val dir = Files.createTempDirectory("graft-json").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/dicc.json"),
      """[{"programa": "matinal", "dias": [2,3,4,5,6]}, {"programa": "finde", "dias": [1,7]}]""")
    val schema = StructType(Seq(
      StructField("programa", StringType), StructField("dias", ArrayType(LongType))))
    val df = Readers.json(spark, s"$dir/dicc.json", schema)
    assert(df.count() == 2)
    assert(df.where(array_contains($"dias", 7L)).select("programa").as[String].head() == "finde")
  }

  test("S1 metrics payload: fetched API rows land via fromRows; the payload IS a query") {
    // the reference POSTs {dimension[], filter[], trunc} to the metrics
    // API (consumo_usuarios.py:68-146); here the fetched rows become a
    // DataFrame and the payload's semantics run as a real query:
    // select(dims).where(date between).groupBy(trunc)
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("start_date", TimestampType), StructField("property", StringType),
      StructField("minutes", DoubleType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fetched = Seq(
      Row(t("2024-01-01 10:20:00"), "horizonte", 12.0),
      Row(t("2024-01-01 11:10:00"), "horizonte", 6.0),
      Row(t("2024-01-01 10:40:00"), "playfm", 3.0),
      Row(t("2024-02-01 09:00:00"), "horizonte", 99.0)) // outside the filter
    val df = Readers.fromRows(spark, fetched, schema)
    val got = df
      .where($"start_date".between(t("2024-01-01 00:00:00"), t("2024-01-31 23:59:59"))
        && $"property" === "horizonte")
      .groupBy(date_trunc("hour", $"start_date").as("hora"))
      .agg(sum("minutes").as("minutes"))
      .as[(java.sql.Timestamp, Double)].collect()
      .map { case (h, m) => h.toString -> m }.toMap
    assert(got == Map("2024-01-01 10:00:00.0" -> 12.0, "2024-01-01 11:00:00.0" -> 6.0))
  }

  test("dual-grain pipeline: hourly replaced from cutoff, month recomputed whole") {
    val dir = Files.createTempDirectory("graft-pipe2").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val out = s"$dir/rollup"
    // initial full load: events on Jan 5 and Jan 20
    val events1 = Seq(
      (t("2024-01-05 10:00:00"), 1L, "play", 30.0, """{"k": 1}"""),
      (t("2024-01-20 10:00:00"), 2L, "play", 30.0, """{"k": 1}""")
    ).toDF("ts", "user_id", "event_type", "value", "props")
    val full = ConsumoPipeline.Params("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    ConsumoPipeline.runDualGrain(spark, events1, full, full, out,
      lit("2024-01-01 00:00:00").cast("timestamp"))
    // hourly re-run with cutoff Jan 15: only Jan-20 hours replaced, but
    // the January month row is recomputed whole (month-to-date from the
    // re-extracted feed, where the Jan 20 playback now reads 60 min)
    val events2 = Seq(
      (t("2024-01-05 10:00:00"), 1L, "play", 30.0, """{"k": 1}"""),
      (t("2024-01-20 10:00:00"), 2L, "play", 60.0, """{"k": 1}""")
    ).toDF("ts", "user_id", "event_type", "value", "props")
    val hora = ConsumoPipeline.Params("2024-01-15 00:00:00", "2024-02-01 00:00:00")
    ConsumoPipeline.runDualGrain(spark, events2, hora, full, out,
      lit("2024-01-15 00:00:00").cast("timestamp"))
    val got = Snapshot.read(spark, out).where($"vip" === 0L)
      .select("periodo", "p_start", "minutes")
      .as[(String, java.sql.Timestamp, Double)].collect()
      .map { case (p, ps, m) => (p, ps.toString.take(10), m) }.toSet
    assert(got == Set(
      ("hora", "2024-01-05", 30.0),   // before cutoff: kept from run 1
      ("hora", "2024-01-20", 60.0),   // inside window: replaced
      ("hora", "2024-01-20", 0.0),    // 11:00 block: the boundary-touching
                                      // playback matches with 0 prorated
                                      // minutes (reference's end >= inicio)
      ("mensual", "2024-01-01", 90.0) // month recomputed whole: 30 + 60
    ))
  }

  test("consumo pipeline end-to-end: rollup matches hand computation, rerun idempotent") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user A: 90 min starting 10:30 → hours 10(30m),11(60m... clipped)
    val events = Seq(
      (t("2024-01-01 10:30:00"), 7L, "play", 90.0, """{"k": 5}"""),
      (t("2024-01-01 10:45:00"), 8L, "play", 1.0, """{"k": 77}""")
    ).toDF("ts", "user_id", "event_type", "value", "props")
    val p = ConsumoPipeline.Params("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    val out = s"$dir/rollup"
    ConsumoPipeline.run(spark, events, p, out)
    ConsumoPipeline.run(spark, events, p, out) // K2: rerun must not duplicate
    val got = Snapshot.read(spark, out)
      .select("p_start", "event_type", "vip", "users", "minutes")
      .as[(java.sql.Timestamp, String, Long, Long, Double)].collect()
      .map { case (ps, et, vip, u, m) => (ps.toString, et, vip, u, m) }.toSet
    // hour 10: A 30m (vip 0,1,5,20) + B 1m (vip 0,1); hour 11: A 60m (all vips)
    assert(got.contains(("2024-01-01 10:00:00.0", "play", 0L, 2L, 31.0)))
    assert(got.contains(("2024-01-01 10:00:00.0", "play", 1L, 2L, 31.0)))
    assert(got.contains(("2024-01-01 10:00:00.0", "play", 5L, 1L, 30.0)))
    assert(got.contains(("2024-01-01 10:00:00.0", "play", 20L, 1L, 30.0)))
    assert(got.contains(("2024-01-01 11:00:00.0", "play", 40L, 1L, 60.0)))
    assert(!got.contains(("2024-01-01 10:00:00.0", "play", 40L, 1L, 30.0)))
  }

  test("json quarantine: broken lines route to triage, good rows parse once") {
    val dir = Files.createTempDirectory("graft-quarantine").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/feed.jsonl"),
      """{"id": 1, "v": 10.5}
        |{"id": 2, "v": }
        |{"id": 3, "v": 30.0}
        |not json at all
        |{"id": 5, "v": 50.0}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val (good, bad) = Readers.jsonWithQuarantine(spark, s"$dir/feed.jsonl", schema)
    assert(good.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    val raws = bad.as[String].collect()
    assert(raws.length == 2)
    assert(raws.exists(_.contains("not json at all")))
  }
}
