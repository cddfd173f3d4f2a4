package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.operators.{Snapshot, Writers}
import graft.queries.ConsumoBloquesPack

/** q62's persisted half: the 5-branch dual-grain rollup published
  * through replacePeriodWindowWrite must land exactly the q62 dataflow
  * and absorb reruns idempotently (the reference's hourly DAG re-runs
  * the same window every hour, consumo_bloques_hora.py:30-67).
  */
class ConsumoBloquesSpec extends SparkSpec {

  private def canon(df: DataFrame): Set[(String, String, String, String, String, String, Double, Long)] = {
    import spark.implicits._
    df.select("rama", "soporte", "content_type", "bloque", "periodo", "p_start",
        "minutos", "devices")
      .as[(String, String, String, Option[String], String, java.sql.Timestamp, Double, Long)]
      .collect()
      .map { case (r, s, c, b, p, f, m, d) =>
        (r, s, c, b.getOrElse("<null>"), p, f.toString, m, d) }
      .toSet
  }

  test("published table == q62 dataflow; rerun through the writer is a no-op") {
    val t = sf() // sf0.001 keeps the spec fast; q62's oracle covers sf0.01
    val path = Files.createTempDirectory("graft-bloques").toString + "/consumo_bloques"

    // hour 0 of the month: first full load (target absent)
    Writers.replacePeriodWindowWrite(spark, path, ConsumoBloquesPack.firstLoad(t),
      "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    assert(canon(Snapshot.read(spark, path)) == canon(ConsumoBloquesPack.firstLoad(t)))

    // partitions OUTSIDE the replace window (hora, pre-cutoff) must come
    // through the rerun as the same files — the writer may not even open
    // them, let alone rewrite them; this is what makes the hourly rerun
    // O(window) instead of O(table) at 100 TB
    def untouched(): Seq[String] = {
      val m = Snapshot.latest(spark, path)
      m.files.filter { f =>
        val pv = Snapshot.partitionValues(m.partitionCols, f)
        pv("periodo") == "hora" && pv("p_start") < "2024-01-15 00:00:00"
      }.sorted
    }
    val beforeRerun = untouched()
    assert(beforeRerun.nonEmpty, "fixture must have pre-cutoff hora partitions")

    // the hourly rerun: trailing-window re-extract replaces hora rows
    // from the cutoff, mensual recomputed whole
    val replacement = ConsumoBloquesPack.rerunReplacement(t)
    Writers.replacePeriodWindowWrite(spark, path, replacement,
      "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    val afterRerun = canon(Snapshot.read(spark, path))
    assert(afterRerun == canon(ConsumoBloquesPack.publish(t)))
    assert(untouched() == beforeRerun,
      "rerun rewrote partitions outside the replace window")

    // a second identical rerun must change nothing
    Writers.replacePeriodWindowWrite(spark, path, replacement,
      "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    assert(canon(Snapshot.read(spark, path)) == afterRerun)

    // the dual window really is dual: pre-cutoff hora rows are the
    // first load's, in-window hora rows are the replacement's
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val back = Snapshot.read(spark, path)
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val first = ConsumoBloquesPack.firstLoad(t)
    assert(canon(back.where($"periodo" === "hora" && $"p_start" < cut)) ==
      canon(first.where($"periodo" === "hora" && $"p_start" < cut)))
    assert(canon(back.where($"periodo" === "hora" && $"p_start" >= cut)) ==
      canon(replacement.where($"periodo" === "hora" && $"p_start" >= cut)))
  }

  test("snapshot-published q62: rerun is idempotent AND atomic under fault injection") {
    val t = sf()
    val path = Files.createTempDirectory("graft-bloques-snap").toString + "/consumo_bloques"
    // publish the first load INTO a snapshot table; all later writer
    // calls route through the atomic replacePartitions commit
    Snapshot.create(spark, path, ConsumoBloquesPack.firstLoad(t), Seq("periodo", "p_start"))
    val replacement = ConsumoBloquesPack.rerunReplacement(t)

    // crash between the replacement's file writes and the manifest
    // commit: the dual-window delete+rewrite must be ALL-OR-NOTHING —
    // the raw writer's documented crash window (stale+deleted mix)
    // cannot exist here
    Snapshot.faultHook = stage =>
      if (stage == "manifest-staged") throw new RuntimeException("injected crash mid-publish")
    intercept[RuntimeException] {
      Writers.replacePeriodWindowWrite(spark, path, replacement,
        "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    }
    Snapshot.faultHook = _ => ()
    assert(canon(Snapshot.read(spark, path)) == canon(ConsumoBloquesPack.firstLoad(t)),
      "a crashed publish must leave exactly the old table")

    // the rerun completes: table == the q62 dataflow
    Writers.replacePeriodWindowWrite(spark, path, replacement,
      "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    assert(canon(Snapshot.read(spark, path)) == canon(ConsumoBloquesPack.publish(t)))

    // pre-cutoff hora files are carried by MANIFEST ENTRY, not
    // rewritten — the O(window)-not-O(table) contract, snapshot form
    def preCutoff(): Seq[String] = {
      val m = Snapshot.latestManifest(spark, path).get
      m.files.filter { f =>
        val pv = Snapshot.partitionValues(m.partitionCols, f)
        pv("periodo") == "hora" && pv("p_start") < "2024-01-15 00:00:00"
      }.sorted
    }
    val carried = preCutoff()
    assert(carried.nonEmpty)

    // identical rerun: contents unchanged, untouched files still carried
    Writers.replacePeriodWindowWrite(spark, path, replacement,
      "p_start", "periodo", ConsumoBloquesPack.cutoffTs)
    assert(canon(Snapshot.read(spark, path)) == canon(ConsumoBloquesPack.publish(t)))
    assert(preCutoff() == carried, "rerun rewrote files outside the replace window")

    // and the published table is readable through the REGISTERED SQL
    // source (timestamp partition column included) — the BI read path
    val sql = spark.read.format("graft.sources.SnapshotSource").load(path)
    assert(canon(sql) == canon(ConsumoBloquesPack.publish(t)))
  }

  test("the replace window is observable: straddling playback changes replaced rows (sf0.01)") {
    // sf0.001 has no event crossing the Jan-15 cutoff; sf0.01 has 9 —
    // there the re-extract (which drops pre-cutoff starts) must produce
    // genuinely different in-window hora rows than the first load, or
    // the q62 publication would be testing a vacuous replace
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t01 = sf("sf0.01")
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val first = ConsumoBloquesPack.firstLoad(t01)
    val replacement = ConsumoBloquesPack.rerunReplacement(t01)
    assert(canon(first.where($"periodo" === "hora" && $"p_start" >= cut)) !=
      canon(replacement.where($"periodo" === "hora" && $"p_start" >= cut)))
    // and the mensual grain is recomputed WHOLE from the full extract:
    // identical between first load and replacement by construction
    assert(canon(first.where($"periodo" === "mensual")) ==
      canon(replacement.where($"periodo" === "mensual")))
  }
}
