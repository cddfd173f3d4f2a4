package graft

import java.nio.file.Files
import java.time.{Duration, LocalDateTime}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.Snapshot
import graft.sources.Fetch

/** The windowed-ingest protocol of the reference's API extracts
  * (consumo_detalle.py:44-78 chunking, 108-143 bounded retries,
  * 364-381 per-chunk landing) with a fake transport — the sandbox has
  * no network, but the chunk/retry/append cadence is engine surface.
  */
class FetchSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("fecha", StringType), StructField("v", LongType)))

  private def t(s: String) = LocalDateTime.parse(s)

  test("dateWindows chunks evenly and clamps the partial tail window") {
    val even = Fetch.dateWindows(t("2024-01-01T00:00"), t("2024-01-02T00:00"), Duration.ofHours(12))
    assert(even == Seq(
      (t("2024-01-01T00:00"), t("2024-01-01T12:00")),
      (t("2024-01-01T12:00"), t("2024-01-02T00:00"))))
    val ragged = Fetch.dateWindows(t("2024-01-01T00:00"), t("2024-01-01T20:00"), Duration.ofHours(12))
    assert(ragged.last == ((t("2024-01-01T12:00"), t("2024-01-01T20:00")))) // clamped tail
    assert(Fetch.dateWindows(t("2024-01-01T00:00"), t("2024-01-01T00:00"), Duration.ofHours(1)).isEmpty)
  }

  test("dateWindows tiles any span exactly: no gaps, no overlaps, ordered") {
    import org.scalacheck.Gen
    val gen = for {
      startMin <- Gen.choose(0L, 1000000L)
      spanMin <- Gen.choose(1L, 10000L)
      stepMin <- Gen.choose(1L, 500L)
    } yield (startMin, spanMin, stepMin)
    val base = t("2020-01-01T00:00")
    (1 to 200).foreach { i =>
      val (s0, span, step) = gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong))
      val start = base.plusMinutes(s0)
      val end = start.plusMinutes(span)
      val ws = Fetch.dateWindows(start, end, Duration.ofMinutes(step))
      assert(ws.head._1 == start && ws.last._2 == end)
      ws.sliding(2).foreach {
        case Seq((_, aTo), (bFrom, _)) => assert(aTo == bFrom) // no gap, no overlap
        case _ => ()
      }
      assert(ws.forall { case (f, to) => f.isBefore(to) })
    }
  }

  test("withRetries survives transient failures and raises after the budget") {
    var calls = 0
    val got = Fetch.withRetries(3) { i =>
      calls += 1
      if (i < 3) sys.error(s"transient $i") else "ok"
    }
    assert(got == "ok" && calls == 3)
    calls = 0
    val e = intercept[RuntimeException] {
      Fetch.withRetries(2) { _ => calls += 1; sys.error("hard down") }
    }
    assert(calls == 2 && e.getMessage.contains("after 2 attempts"))
    assert(e.getCause.getMessage == "hard down")
  }

  test("windowedIngest lands each chunk before the next fetch; a dead window keeps prior chunks") {
    val path = Files.createTempDirectory("graft-fetch").toString + "/t"
    def rows(from: LocalDateTime, n: Int) = (1 to n).map(i => Row(from.toLocalDate.toString, i.toLong))
    // happy path: 3 daily windows, flaky transport (each window fails once)
    val failedOnce = scala.collection.mutable.Set.empty[LocalDateTime]
    val landed = Fetch.windowedIngest(spark, schema,
      t("2024-01-01T00:00"), t("2024-01-04T00:00"), Duration.ofDays(1)) { (from, _) =>
      if (failedOnce.add(from)) sys.error("flaky 500")
      rows(from, 2)
    }(Fetch.windowKeyedSink(path))
    assert(landed == 3)
    assert(Snapshot.read(spark, path).count() == 6)

    // a permanently dead window aborts the run but keeps earlier chunks
    val path2 = Files.createTempDirectory("graft-fetch").toString + "/t"
    intercept[RuntimeException] {
      Fetch.windowedIngest(spark, schema,
        t("2024-01-01T00:00"), t("2024-01-04T00:00"), Duration.ofDays(1), attempts = 2) { (from, _) =>
        if (from == t("2024-01-03T00:00")) sys.error("outage")
        rows(from, 1)
      }(Fetch.windowKeyedSink(path2))
    }
    val kept = Snapshot.read(spark, path2).select("fecha").as[String].collect().toSet
    assert(kept == Set("2024-01-01", "2024-01-02"))

    // the recovery contract: rerun re-fetches EVERY window and the
    // window-keyed sink replaces earlier copies — even rows whose DATA
    // moved dates between fetches cannot double (the partition key is
    // the WINDOW, not row content), and an empty re-fetch CLEARS its
    // window in the same atomic commit
    Fetch.windowedIngest(spark, schema,
      t("2024-01-01T00:00"), t("2024-01-04T00:00"), Duration.ofDays(1)) { (from, _) =>
      if (from == t("2024-01-01T00:00")) Seq.empty // late retraction
      else rows(from.minusDays(1), 1)              // data dated OUTSIDE its window
    }(Fetch.windowKeyedSink(path2))
    val after = Snapshot.read(spark, path2).select("fecha").as[String].collect().sorted.toSeq
    assert(after == Seq("2024-01-01", "2024-01-02")) // w1 cleared; w2/w3 replaced, no dupes
  }

  test("withRetries does not consume the budget on fatal throwables") {
    var calls = 0
    intercept[InterruptedException] {
      Fetch.withRetries(5) { _ => calls += 1; throw new InterruptedException("cancel") }
    }
    assert(calls == 1) // propagated immediately, not retried
  }
}
