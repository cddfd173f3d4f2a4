package graft

import java.nio.file.Files
import graft.operators.{Snapshot, Writers}
import graft.pipelines.Runner
import graft.pipelines.Runner.{Blocked, Failed, Ran, Resumed, Stage}

/** The reference's multi-pipeline orchestration contract
  * (descarga_hora.py:17-60, consumo_detalle.py:384-391,
  * email_seguimiento.py:38-56): success flags gate downstream stages,
  * and a rerun after a failure resumes from the failed stage with the
  * idempotent K2/K3 writers absorbing the replay.
  */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-runner").toString

  test("a failed stage leaves its flag off and blocks dependents; rerun resumes from it") {
    val root = tmp()
    val out = s"$root/table"
    val flags = s"$root/flags"
    var bBroken = true
    var aRuns, bRuns, cRuns = 0
    def write(fecha: String, v: Double): Unit =
      Writers.replaceWindow(Seq((fecha, v)).toDF("fecha", "v"), out, "fecha")
    def stages = Seq(
      Stage("extract")(() => { aRuns += 1; write("2024-01-01", 1.0) }),
      Stage("enrich", deps = Seq("extract"))(() => {
        bRuns += 1
        if (bBroken) sys.error("upstream feed 500")
        write("2024-01-02", 2.0)
      }),
      Stage("publish", deps = Seq("enrich"))(() => { cRuns += 1; write("2024-01-03", 3.0) }))

    val first = Runner.run(spark, stages, flags)
    assert(first("extract") == Ran)
    assert(first("enrich").isInstanceOf[Failed])
    assert(first("publish") == Blocked("enrich"))
    assert(Runner.flagSet(spark, flags, "extract"))
    assert(!Runner.flagSet(spark, flags, "enrich"))
    assert(!Runner.flagSet(spark, flags, "publish"))
    assert(Runner.report(spark, flags, stages).map(_._2) == Seq(true, false, false))

    // fix the stage and rerun: extract is resumed (not re-executed),
    // the failed suffix runs, and the K2 writer keeps the table exact
    bBroken = false
    val second = Runner.run(spark, stages, flags)
    assert(second("extract") == Resumed)
    assert(second("enrich") == Ran)
    assert(second("publish") == Ran)
    assert((aRuns, bRuns, cRuns) == ((1, 2, 1)))
    assert(Runner.report(spark, flags, stages).forall(_._2))
    val table = Snapshot.read(spark, out).select("v", "fecha").as[(Double, String)].collect().toSet
    assert(table.map(_._1) == Set(1.0, 2.0, 3.0))

    // third run: everything resumed, nothing re-executed, table untouched
    val third = Runner.run(spark, stages, flags)
    assert(third.values.forall(_ == Resumed))
    assert((aRuns, bRuns, cRuns) == ((1, 2, 1)))
  }

  test("resume=false reruns everything idempotently through the writers") {
    val root = tmp()
    val out = s"$root/table"
    val flags = s"$root/flags"
    def stages = Seq(
      Stage("load")(() =>
        Writers.mergeByIdWrite(spark, out, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")))
    assert(Runner.run(spark, stages, flags)("load") == Ran)
    assert(Runner.run(spark, stages, flags, resume = false)("load") == Ran)
    assert(Snapshot.read(spark, out).as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b"))
  }

  test("unknown and cyclic dependencies fail loudly before anything runs") {
    val flags = tmp() + "/flags"
    var ran = false
    intercept[IllegalArgumentException] {
      Runner.run(spark, Seq(Stage("a", deps = Seq("ghost"))(() => { ran = true })), flags)
    }
    val cyc = Seq(
      Stage("x", deps = Seq("y"))(() => { ran = true }),
      Stage("y", deps = Seq("x"))(() => { ran = true }))
    intercept[IllegalArgumentException] { Runner.run(spark, cyc, flags) }
    assert(!ran)
  }

  test("backfill catches up missed periods; completed periods cost a listing, not a rerun") {
    val flags = tmp() + "/flags"
    val periods = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
    val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var brokenPeriod = "2024-01-03"
    def mkStages(p: String) = Seq(
      Stage("land")(() => {
        runs(s"land@$p") += 1
        if (p == brokenPeriod) sys.error("feed gap")
      }),
      Stage("publish", deps = Seq("land"))(() => { runs(s"publish@$p") += 1 }))

    // periods are independent (Airflow default): the broken period is
    // recorded, the rest of the catch-up still lands
    val first = Runner.backfill(spark, periods, mkStages, flags)
    assert(first.keys.toSeq == periods)
    assert(first("2024-01-03")("land").isInstanceOf[Failed])
    assert(first("2024-01-03")("publish") == Blocked("land"))
    assert(Seq("2024-01-01", "2024-01-02", "2024-01-04")
      .forall(p => first(p).values.forall(_ == Ran)))

    // feed fixed; re-catchup re-executes ONLY the broken period's DAG —
    // completed periods resolve to Resumed off their flag files
    brokenPeriod = ""
    val second = Runner.backfill(spark, periods, mkStages, flags)
    assert(Seq("2024-01-01", "2024-01-02", "2024-01-04")
      .forall(p => second(p).values.forall(_ == Resumed)))
    assert(second("2024-01-03").values.forall(_ == Ran))
    assert(runs("land@2024-01-01") == 1 && runs("publish@2024-01-04") == 1)
    assert(runs("land@2024-01-03") == 2 && runs("publish@2024-01-03") == 1)
  }

  test("backfill with dependsOnPast stops the catch-up at the first broken period") {
    val flags = tmp() + "/flags"
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def mkStages(p: String) = Seq(Stage("load")(() => {
      ran += p
      if (p == "h02") sys.error("increment missing")
    }))
    val out = Runner.backfill(spark, Seq("h01", "h02", "h03", "h04"), mkStages, flags,
      dependsOnPast = true)
    assert(out("h01")("load") == Ran)
    assert(out("h02")("load").isInstanceOf[Failed])
    // later periods: marked blocked on the broken period, bodies never run
    assert(out("h03")("load") == Blocked("period:h02"))
    assert(out("h04")("load") == Blocked("period:h02"))
    assert(ran.toSeq == Seq("h01", "h02"))
  }

  test("declaration order is kept among ready stages; deps always run first") {
    val flags = tmp() + "/flags"
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val stages = Seq(
      Stage("sink", deps = Seq("t1", "t2"))(() => { order += "sink"; () }),
      Stage("t1", deps = Seq("src"))(() => { order += "t1"; () }),
      Stage("t2", deps = Seq("src"))(() => { order += "t2"; () }),
      Stage("src")(() => { order += "src"; () }))
    assert(Runner.run(spark, stages, flags).values.forall(_.ok))
    assert(order.toSeq == Seq("src", "t1", "t2", "sink"))
  }
}
