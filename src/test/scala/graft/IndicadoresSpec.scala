package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Snapshot
import graft.queries.IndicadoresPack

/** q66's composition contract: eight indicator families from ONE fact
  * pass (the reference runs eight BigQuery scans, indicadores_cia.py),
  * and the monthly DELETE-fecha + load publication (py:42-47) as a
  * partition-restricted replace.
  */
class IndicadoresSpec extends SparkSpec {
  import spark.implicits._

  test("the eight families share one scan of the events fact") {
    val plan = IndicadoresPack.wide(sf()).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    // events + customer (registrado is consulted once pre-agg for the
    // user filter and once post-agg for the wide spine = 2 customer
    // scans of a USER-dimension, never a second fact scan)
    val eventScans = plan.split("\n").count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(eventScans == 1, s"events scanned $eventScans times — families must share one pass:\n$plan")
    assert(scans <= 3, s"unexpected extra scans ($scans):\n$plan")
  }

  test("every 30h window pair is also a total pair (frame subset invariant)") {
    val w = IndicadoresPack.wide(sf("sf0.01"))
      .select("platform_id", "q_total", "q_30h", "sum_total", "sum_30h")
      .as[(Long, Option[Long], Option[Long], Option[Double], Option[Double])].collect()
    assert(w.nonEmpty)
    w.foreach { case (id, qt, q30, st, s30) =>
      q30.foreach { q =>
        assert(qt.isDefined && q <= qt.get, s"user $id: q_30h $q > q_total ${qt}")
      }
      // trailing-window minutes can never exceed the full-frame minutes
      (st, s30) match {
        case (Some(a), Some(b)) => assert(b <= a + 0.1, s"user $id: sum_30h $b > sum_total $a")
        case _ =>
      }
    }
  }

  test("device pivot only ever emits the remapped labels") {
    val fam = IndicadoresPack.wide(sf())
    // the wide row carries desk/phone slots; Tablet/Other collapsed into
    // phone, so a user with any consumption in the 30-window has at
    // least one of the two populated
    val rows = fam.where($"q_30h".isNotNull)
      .select($"q_desk".isNotNull || $"q_phone".isNotNull).as[Boolean].collect()
    assert(rows.nonEmpty && rows.forall(identity))
  }

  test("monthly publication replaces only the month's fecha partition, idempotently") {
    val t = sf()
    val path = Files.createTempDirectory("graft-indicadores").toString + "/indicadores"
    // a prior month already published
    val prior = IndicadoresPack.wide(t)
      .withColumn("fecha", lit("2023-12-31 00:00:00").cast("timestamp"))
    graft.operators.Writers.appendPartitioned(prior, path, "fecha")
    def priorMonthFiles(): Seq[String] = {
      val m = Snapshot.latest(spark, path)
      m.files.filter(Snapshot.partitionValues(m.partitionCols, _)("fecha")
        .startsWith("2023-12-31")).sorted
    }
    val priorFiles = priorMonthFiles()
    assert(priorFiles.nonEmpty)
    // publish the current month twice — reruns must be no-ops and the
    // prior month must never be rewritten (the reference DELETEs only
    // WHERE fecha = fin_mes)
    IndicadoresPack.publish(t, path)
    IndicadoresPack.publish(t, path)
    val back = Snapshot.read(spark, path)
    assert(back.select(date_format($"fecha", "yyyy-MM-dd")).distinct()
      .as[String].collect().toSet == Set("2023-12-31", "2024-01-31"))
    val expected = IndicadoresPack.wide(t).count()
    assert(back.where($"fecha" === lit("2024-01-31 00:00:00").cast("timestamp")).count() == expected)
    assert(priorMonthFiles() == priorFiles,
      "prior-month partition was rewritten by the monthly publish")
  }
}
