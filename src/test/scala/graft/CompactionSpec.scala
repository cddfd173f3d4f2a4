package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** Partition-restricted small-file compaction: fragmented partitions
  * collapse toward the target file size, healthy partitions keep their
  * files (the same manifest entries), and the data never changes.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  /** Live files of `dir` whose single partition column has value `part`. */
  private def filesOf(dir: String, part: String): Seq[String] = {
    val m = Snapshot.latest(spark, dir)
    m.files.filter(Snapshot.partitionValues(m.partitionCols, _).values.toSeq == Seq(part)).sorted
  }

  test("compaction merges fragmented partitions only; data identical") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val events = sf().events.select("event_id", "user_id", "event_type", "value")
    // fragment two partitions into ~12 files each
    Snapshot.create(spark, dir,
      events.where(col("event_type").isin("click", "view")).repartition(12), Seq("event_type"))
    // land one healthy partition as a single file
    Snapshot.append(spark, dir, events.where(col("event_type") === "error").coalesce(1))

    val before = Snapshot.read(spark, dir)
    val beforeRows = before.count()
    val beforeSum = before.agg(sum(col("value").cast("decimal(18,2)"))).head().getDecimal(0)
    val healthyBefore = filesOf(dir, "error")
    assert(filesOf(dir, "click").size >= 10)

    val rewritten = Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 4)
    assert(rewritten.toSet == Set("click", "view"), s"rewrote: $rewritten")

    // fragmented partitions collapsed to one file (everything fits the target)
    assert(filesOf(dir, "click").size == 1)
    assert(filesOf(dir, "view").size == 1)
    // the healthy partition was not rewritten: same files
    assert(filesOf(dir, "error") == healthyBefore)
    // data unchanged
    val after = Snapshot.read(spark, dir)
    assert(after.count() == beforeRows)
    assert(after.agg(sum(col("value").cast("decimal(18,2)"))).head().getDecimal(0) == beforeSum)

    // idempotent: nothing left to compact at this threshold
    assert(Snapshot.compact(spark, dir, 1L << 30, 4).isEmpty)
  }

  test("snapshot compaction: unpartitioned table bin-packs to the target") {
    val dir = Files.createTempDirectory("graft-compact-np").toString + "/t"
    Snapshot.create(spark, dir,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(6))
    (1 to 3).foreach(k => Snapshot.append(spark, dir,
      (k * 100 until k * 100 + 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4)))
    val before = Snapshot.read(spark, dir).as[(Long, String)].collect().toSet
    assert(Snapshot.latestManifest(spark, dir).get.files.size >= 18)
    val rewritten = Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2)
    assert(rewritten == Seq(""), s"unpartitioned group tag: $rewritten")
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.files.size == 1, s"expected one packed file, got ${m.files.size}")
    assert(Snapshot.read(spark, dir).as[(Long, String)].collect().toSet == before)
    // idempotent: a second pass has nothing >= minFiles to do
    assert(Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2).isEmpty)
  }

  test("snapshot compaction: two-level partitioning rewrites only fragmented leaves") {
    val dir = Files.createTempDirectory("graft-compact-2l").toString + "/t"
    val mk = (n: Int, reg: String, yr: Int, parts: Int) =>
      (0 until n).map(i => (i.toLong, reg, yr, i.toDouble)).toDF("id", "region", "yr", "v")
        .repartition(parts)
    Snapshot.create(spark, dir, mk(40, "na", 2024, 5), Seq("region", "yr"))
    Snapshot.append(spark, dir, mk(40, "na", 2025, 5))
    Snapshot.append(spark, dir, mk(40, "eu", 2024, 1).coalesce(1)) // healthy leaf
    val before = Snapshot.read(spark, dir).as[(Long, String, Int, Double)].collect().toSet
    val m0 = Snapshot.latestManifest(spark, dir).get
    val healthy = m0.files.filter(_.contains("region=eu"))
    assert(healthy.size == 1)

    val rewritten = Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 2)
    assert(rewritten == Seq("region=na/yr=2024", "region=na/yr=2025"), s"got $rewritten")
    val m1 = Snapshot.latestManifest(spark, dir).get
    // the healthy leaf's file is untouched (same manifest entry)
    assert(m1.files.filter(_.contains("region=eu")) == healthy)
    // fragmented leaves collapsed; values identical
    assert(m1.files.count(_.contains("region=na/yr=2024")) == 1)
    assert(m1.files.count(_.contains("region=na/yr=2025")) == 1)
    assert(Snapshot.read(spark, dir).as[(Long, String, Int, Double)].collect().toSet == before)
    // partition predicates still prune through the rewritten layout
    val (kept, total) = Snapshot.pruneFiles(spark, dir,
      col("region") === "na" && col("yr") === 2024)
    assert(kept.size == 1 && total == 3)
  }

  test("hive-escaped and null partition values compact, and only real rewrites are reported") {
    val dir = Files.createTempDirectory("graft-compact-esc").toString + "/t"
    // partition values needing hive escaping (':') plus a null partition
    val df = spark.range(0, 400).select(
      col("id").as("v"),
      when(col("id") % 3 === 0, lit("a:b"))
        .when(col("id") % 3 === 1, lit(null: String))
        .otherwise(lit("plain")).as("p"))
    Snapshot.create(spark, dir, df.repartition(8), Seq("p"))
    val entries = Snapshot.latest(spark, dir).files
    assert(entries.exists(_.contains("/p=a%3Ab/")), "fixture must produce an escaped dirname")
    assert(entries.exists(_.contains("/p=__HIVE_DEFAULT_PARTITION__/")))

    val before = Snapshot.read(spark, dir)
    val beforeSum = before.agg(sum("v")).head().getLong(0)
    val beforeNulls = before.where(col("p").isNull).count()
    val rewritten = Snapshot.compact(spark, dir, targetBytes = 1L << 30, minFiles = 4)
    assert(rewritten.toSet == Set("a:b", "plain", "__HIVE_DEFAULT_PARTITION__"),
      s"rewrote: $rewritten")

    assert(filesOf(dir, "a:b").size == 1)
    assert(filesOf(dir, "__HIVE_DEFAULT_PARTITION__").size == 1)
    val after = Snapshot.read(spark, dir)
    assert(after.count() == 400)
    assert(after.agg(sum("v")).head().getLong(0) == beforeSum)
    assert(after.where(col("p").isNull).count() == beforeNulls)
  }
}
