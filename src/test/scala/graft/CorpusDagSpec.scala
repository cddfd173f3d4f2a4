package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.{Dedup, Expectations, Snapshot, Writers}
import graft.pipelines.Runner
import graft.pipelines.Runner.Stage

/** The nightly corpus-refresh DAG, end to end — the training-data twin
  * of HourlyDagSpec's reference tick: screen a new batch against the
  * standing corpus (exact hash + cross-corpus MinHash LSH) → quality
  * gate → dedup-append → refresh stats → expectations report, all
  * flag-gated through Runner. The recovery contract under test: a
  * crash AFTER the append must NOT double-append on the rerun (the
  * append stage resumes from its flag), and the downstream stages
  * complete so the final state equals one clean run.
  */
class CorpusDagSpec extends SparkSpec {
  import spark.implicits._

  test("corpus refresh: screen -> gate -> append -> stats/expectations, crash-safe append") {
    val root = Files.createTempDirectory("graft-corpus-dag").toString
    val corpusDir = s"$root/corpus"; val landing = s"$root/screened"
    val statsDir = s"$root/stats"; val reportDir = s"$root/report"
    val flags = s"$root/flags"

    // standing corpus: the sf0.001 documents, landed partitioned by source
    val seed = sf().documents.select("doc_id", "text", "lang", "source")
    Writers.appendPartitioned(seed, corpusDir, "source")
    val seedCount = Snapshot.read(spark, corpusDir).count()
    val someDoc = seed.orderBy("doc_id").select("text").as[String].head()

    // tonight's batch: 1 exact dup, 1 near dup (one token swapped),
    // 1 junk (fails the quality gate), 3 fresh docs
    val nearDup = someDoc.split(" ").dropRight(1).mkString(" ") + " zzz"
    val fresh = Seq(
      "spark rewrites the corpus pipeline with deterministic hashes and exact decimal sums today",
      "the quality gate keeps documents whose stopword and punctuation mix looks like real prose",
      "minhash bands bucket near duplicates so the screen never enumerates document pairs at all")
    val batch = (Seq(someDoc, nearDup, "??? !!! ...") ++ fresh)
      .zipWithIndex.map { case (txt, i) => (100000L + i, txt, "en", "batch") }
      .toDF("doc_id", "text", "lang", "source")

    var statsOutage = true
    def stages = Seq(
      Stage("screen")(() => {
        val corpus = Snapshot.read(spark, corpusDir)
        val exactHit = batch.join(corpus.select(md5(col("text")).as("h")).distinct(),
          md5(batch("text")) === col("h"), "left_semi")
        val nearHit = Dedup.minhashLshPairsAcross(batch, corpus,
            "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4, minJaccard = 0.8)
          .select(col("id_a").as("doc_id")).distinct()
        val rejected = exactHit.select("doc_id").union(nearHit).distinct()
        batch.join(rejected, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(landing)
      }),
      Stage("gate", deps = Seq("screen"))(() => {
        val in = spark.read.parquet(landing)
        in.where(TextFns.qualityScore(col("text"), TextFns.tokens(col("text"))) >= 0.5)
          .write.mode("overwrite").parquet(s"$landing-accepted")
      }),
      Stage("append", deps = Seq("gate"))(() =>
        Writers.appendPartitioned(
          Dedup.exact(spark.read.parquet(s"$landing-accepted"), "text", "doc_id"),
          corpusDir, "source")),
      Stage("stats", deps = Seq("append"))(() => {
        if (statsOutage) sys.error("stats cluster down")
        Snapshot.read(spark, corpusDir).groupBy("source")
          .agg(count(lit(1)).as("docs"), countDistinct(col("doc_id")).as("ids"))
          .write.mode("overwrite").parquet(statsDir)
      }),
      Stage("expect", deps = Seq("append"))(() =>
        Expectations.check(Snapshot.read(spark, corpusDir), "doc_id", Seq(
            Expectations.NotNull("text_not_null", "text"),
            Expectations.Unique("unique_doc_id", "doc_id"),
            Expectations.InSet("known_lang", "lang", Seq("en", "es", "de", "fr", "zh", "und"))))
          .write.mode("overwrite").parquet(reportDir)))

    // tick 1: screen/gate/append succeed (corpus is appended), stats dies
    val first = Runner.run(spark, stages, flags)
    assert(first("append") == Runner.Ran)
    assert(first("stats").isInstanceOf[Runner.Failed])
    assert(first("expect") == Runner.Ran) // depends only on append
    val afterAppend = Snapshot.read(spark, corpusDir).count()
    assert(afterAppend == seedCount + 3, s"expected 3 appended fresh docs, corpus $seedCount -> $afterAppend")

    // tick 2: stats back up — screen/gate/append/expect resume from
    // flags (append must NOT run again), stats completes
    statsOutage = false
    val second = Runner.run(spark, stages, flags)
    assert(second("screen") == Runner.Resumed && second("append") == Runner.Resumed)
    assert(second("stats") == Runner.Ran)
    assert(Snapshot.read(spark, corpusDir).count() == seedCount + 3, "append re-ran: corpus double-appended")

    // stats agree with a recompute; expectations report is all-clean
    val stats = spark.read.parquet(statsDir)
      .select("source", "docs").as[(String, Long)].collect().toMap
    val recomputed = Snapshot.read(spark, corpusDir).groupBy("source")
      .agg(count(lit(1)).as("docs")).as[(String, Long)].collect().toMap
    assert(stats == recomputed && stats("batch") == 3L)
    val report = spark.read.parquet(reportDir)
      .select("rule", "violations").as[(String, Long)].collect().toMap
    assert(report.values.forall(_ == 0L), s"expectations flagged violations: $report")
    assert(report.keySet == Set("text_not_null", "unique_doc_id", "known_lang"))
  }
}
