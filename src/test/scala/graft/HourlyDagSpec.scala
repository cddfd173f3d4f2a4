package graft

import java.nio.file.Files
import java.time.{Duration, LocalDateTime}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Snapshot
import graft.pipelines.{ConsumoPipeline, Runner}
import graft.pipelines.Runner.Stage
import graft.sources.Fetch

/** The reference's full hourly DAG shape, end to end (descarga_hora.py:
  * 17-60): windowed API extract → landing dir → consumo transform +
  * idempotent windowed load → success flag for the sentinel — with the
  * failure-recovery story: a dead extract window aborts the tick, keeps
  * landed chunks, leaves the flag off, and the next tick resumes and
  * publishes exactly what one clean run would have.
  */
class HourlyDagSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private def t(s: String) = LocalDateTime.parse(s)
  private def row(h: Int, u: Long, v: Double) = Row(
    java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:10:00"), u, "play", v, s"""{"k": $u}""")

  test("hourly tick: fetch -> land -> rollup -> replace-window publish, flag-gated, crash-resumable") {
    val root = Files.createTempDirectory("graft-dag").toString
    val landing = s"$root/landing"; val table = s"$root/consumo"; val flags = s"$root/flags"
    // the fake transport: 4 hourly windows, window 2 is down for tick 1
    var outage = true
    def transport(from: LocalDateTime, to: LocalDateTime): Seq[Row] = {
      if (outage && from.getHour == 2) sys.error("API 500")
      Seq(row(from.getHour, from.getHour.toLong, 10.0 + from.getHour))
    }
    val p = ConsumoPipeline.Params("2024-01-01 00:00:00", "2024-01-01 04:00:00")
    def stages = Seq(
      Stage("extract")(() => {
        Fetch.windowedIngest(spark, schema,
          t("2024-01-01T00:00"), t("2024-01-01T04:00"), Duration.ofHours(1)) { (f, tt) =>
          transport(f, tt)
        }(Fetch.windowKeyedSink(landing)) // window-keyed K2 landing:
        // the rerun's re-fetch of pre-crash windows REPLACES their
        // partition instead of appending dupes
        ()
      }),
      Stage("load", deps = Seq("extract"))(() =>
        ConsumoPipeline.run(spark, Snapshot.read(spark, landing).drop("w"), p, table)))

    // tick 1: window 2 dead -> extract fails, load blocked, flags off
    val first = Runner.run(spark, stages, flags)
    assert(first("extract").isInstanceOf[Runner.Failed])
    assert(first("load") == Runner.Blocked("extract"))
    assert(!Runner.flagSet(spark, flags, "extract") && !Runner.flagSet(spark, flags, "load"))
    // windows 0 and 1 landed before the outage
    assert(Snapshot.read(spark, landing).count() == 2)

    // tick 2: API back up. The extract stage re-runs whole (its flag is
    // off) and re-fetches windows 0,1 — the window-keyed K2 landing
    // replaces their partitions, so the landing dir equals a clean run.
    outage = false
    val second = Runner.run(spark, stages, flags)
    assert(second("extract") == Runner.Ran && second("load") == Runner.Ran)
    assert(Runner.report(spark, flags, stages).forall(_._2))
    assert(Snapshot.read(spark, landing).count() == 4) // one row per window

    // published table == one clean never-crashed run over clean input:
    // the real recovery contract, provable because the window-keyed
    // landing de-duplicated the re-extract
    val cleanInput = Seq(0, 1, 2, 3).map(h => row(h, h.toLong, 10.0 + h))
    val clean = spark.createDataFrame(java.util.Arrays.asList(cleanInput: _*), schema)
    val expect = ConsumoPipeline.rollup(spark, clean, p)
      .select("p_start", "event_type", "vip", "users", "n_events", "minutes")
      .as[(java.sql.Timestamp, String, Long, Long, Long, Double)].collect().toSet
    val got = Snapshot.read(spark, table)
      .select("p_start", "event_type", "vip", "users", "n_events", "minutes")
      .as[(java.sql.Timestamp, String, Long, Long, Long, Double)].collect().toSet
    assert(got == expect && got.nonEmpty)

    // tick 3: nothing to do — both stages resume from their flags
    assert(Runner.run(spark, stages, flags).values.forall(_ == Runner.Resumed))
  }
}
