package graft

import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators.Segmentation
import graft.queries.PipelinePack

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ipsos envelope: floor start to hour, ceil end to NEXT boundary, exact hours stay") {
    val df = Seq(
      ("08:35:00", "09:40:00"), // mid-hour both → 08:00 / 10:00
      ("08:00:00", "09:00:00"), // already aligned → unchanged
      ("08:59:00", "09:01:00")  // spans boundary → 08:00 / 10:00
    ).toDF("s", "e").select(
      concat(lit("2024-01-01 "), $"s").cast("timestamp").as("s"),
      concat(lit("2024-01-01 "), $"e").cast("timestamp").as("e"))
    val out = df.select(
        date_format(TimeFns.ipsosStart($"s"), "HH:mm:ss").as("is"),
        date_format(TimeFns.ipsosEnd($"e"), "HH:mm:ss").as("ie"))
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("08:00:00", "10:00:00"), ("08:00:00", "09:00:00"), ("08:00:00", "10:00:00")))
  }

  test("listener toggle: per block, started-in-block users are a subset of overlap users") {
    // the q_registrados semantic: 'old' (start >= p_start) can never see
    // a user that 'new' (end >= p_start, i.e. plain overlap) misses
    val rows = PipelinePack.q52.build(sf("sf0.001"))
      .select("logica", "p_start", "users")
      .as[(String, java.sql.Timestamp, Long)].collect()
    val newU = rows.filter(_._1 == "new").map(r => r._2 -> r._3).toMap
    val oldU = rows.filter(_._1 == "old").map(r => r._2 -> r._3).toMap
    assert(oldU.nonEmpty)
    oldU.foreach { case (block, n) =>
      assert(newU.contains(block), s"old block $block missing from new")
      assert(n <= newU(block), s"block $block: old=$n > new=${newU(block)}")
    }
  }

  test("segmentation rules: id-list, bool, null and equality ops compose into one output") {
    val data = Seq(
      (1L, "BUILDING", true, null.asInstanceOf[String]),
      (2L, "MACHINERY", false, "nota"),
      (3L, "BUILDING", false, null.asInstanceOf[String])
    ).toDF("id", "seg", "flag", "nota")
    val out = Segmentation.applyRules(data, Seq(
        Segmentation.Rule("b", "seg", "eq", "BUILDING"),
        Segmentation.Rule("ids", "id", "in", "2,3"),
        Segmentation.Rule("f", "flag", "bool", "True"),
        Segmentation.Rule("nn", "nota", "null", "")),
      memberCol = "id")
      .as[(String, Long)].collect().toSet
    assert(out == Set(("b", 1L), ("b", 3L), ("ids", 2L), ("ids", 3L), ("f", 1L), ("nn", 1L), ("nn", 3L)))
    intercept[IllegalArgumentException] {
      Segmentation.predicate(Segmentation.Rule("x", "k", "regex", "v"))
    }
  }

  test("segmentation rules from a table: NULL value is fine for 'null', a clear error elsewhere") {
    val data = Seq((1L, "BUILDING")).toDF("id", "seg")
    val okRules = Seq(("nn", "seg", "null", null.asInstanceOf[String]))
      .toDF("tag", "key", "op", "value")
    assert(Segmentation.applyRules(data, okRules, "id").count() == 0) // seg not null
    val badRules = Seq(("b", "seg", "eq", null.asInstanceOf[String]))
      .toDF("tag", "key", "op", "value")
    val e = intercept[IllegalArgumentException] {
      Segmentation.applyRules(data, badRules, "id").count()
    }
    assert(e.getMessage.contains("'b'") && e.getMessage.contains("'eq'"))
    // a NULL tag would silently drop the whole segment's members from
    // the explode — reject it loudly instead
    val nullTag = Seq((null.asInstanceOf[String], "seg", "eq", "BUILDING"))
      .toDF("tag", "key", "op", "value")
    val e2 = intercept[IllegalArgumentException] {
      Segmentation.applyRules(data, nullTag, "id").count()
    }
    assert(e2.getMessage.contains("NULL tag"))
  }

  test("replacePeriodWindow invariants hold on random tables (idempotent, window-exact)") {
    import org.scalacheck.Gen
    val day = Gen.choose(1, 28)
    val month = Gen.oneOf(5, 6, 7)
    val rowGen = for {
      p <- Gen.oneOf("diario", "mensual")
      m <- month
      d <- day
      v <- Gen.choose(0.0, 100.0)
    } yield (p, f"2024-$m%02d-${if (p == "mensual") 1 else d}%02d", math.floor(v))
    val rows = Gen.listOfN(60, rowGen).sample.get.distinct
    val existing = rows.toDF("periodo", "fecha", "v")
      .withColumn("fecha", $"fecha".cast("timestamp"))
    val rep = Seq(("diario", "2024-06-20", -1.0), ("mensual", "2024-06-01", -2.0))
      .toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    val cutoff = lit("2024-06-15").cast("timestamp")
    val once = graft.operators.Writers.replacePeriodWindow(existing, rep, "fecha", "periodo", cutoff)
    val twice = graft.operators.Writers.replacePeriodWindow(once, rep, "fecha", "periodo", cutoff)
    // idempotent under re-application of the same replacement
    assert(once.collect().toSet == twice.collect().toSet)
    val out = once.select("periodo", "fecha", "v")
      .as[(String, java.sql.Timestamp, Double)].collect()
    // window-exact: inside the window only replacement rows (negative v)
    // survive; outside it nothing changed
    out.foreach { case (p, f, v) =>
      val d = f.toString.take(10)
      val doomed = if (p == "mensual") d >= "2024-06-01" else d >= "2024-06-15"
      if (doomed) assert(v < 0, s"surviving pre-image row in window: $p $d $v")
      else assert(v >= 0, s"replacement leaked outside window: $p $d $v")
    }
    val keptSet = out.collect { case (p, f, v) if v >= 0 => (p, f.toString.take(10), v) }.toSet
    val origSet = rows.collect { case (p, d, v)
      if !(if (p == "mensual") d >= "2024-06-01" else d >= "2024-06-15") => (p, d, v) }.toSet
    assert(keptSet == origSet)
  }

  test("partition-restricted write equals the pure dataflow on random tables") {
    // the scale-critical rewrite's equivalence contract: for random
    // (periodo, fecha, v) tables, random replacements (including doomed
    // partitions the replacement writes NO rows for — the explicit-
    // delete case) and several rerun rounds, reading back
    // replacePeriodWindowWrite's table must equal the pure
    // replacePeriodWindow dataflow applied to the same inputs
    import org.scalacheck.Gen
    val rowGen = for {
      p <- Gen.oneOf("diario", "mensual")
      m <- Gen.oneOf(5, 6)
      d <- Gen.choose(1, 28)
      v <- Gen.choose(1.0, 100.0)
    } yield (p, f"2024-$m%02d-${if (p == "mensual") 1 else d}%02d", math.floor(v))
    val cutoff = lit("2024-06-10").cast("timestamp")
    (1 to 3).foreach { round =>
      val existingRows = Gen.listOfN(40, rowGen).sample.get.distinct
      // replacement: only in-window rows, and deliberately sparse so
      // some doomed partitions get no replacement (must be DELETED)
      val repRows = Gen.listOfN(6, rowGen).sample.get.distinct
        .collect { case (p, d, v) if (if (p == "mensual") d >= "2024-06-01" else d >= "2024-06-10") =>
          (p, d, -v - round) }
      val existing = existingRows.toDF("periodo", "fecha", "v")
        .withColumn("fecha", $"fecha".cast("timestamp"))
      val rep = repRows.toDF("periodo", "fecha", "v")
        .withColumn("fecha", $"fecha".cast("timestamp"))
      val path = java.nio.file.Files.createTempDirectory(s"graft-rpw$round").toString + "/t"
      graft.operators.Snapshot.create(spark, path, existing, Seq("periodo", "fecha"))
      graft.operators.Writers.replacePeriodWindowWrite(spark, path, rep, "fecha", "periodo", cutoff)
      val expected = graft.operators.Writers
        .replacePeriodWindow(existing, rep, "fecha", "periodo", cutoff)
        .select($"periodo", $"fecha".cast("string"), $"v")
        .as[(String, String, Double)].collect().toSet
      val got = graft.operators.Snapshot.read(spark, path)
        .select($"periodo", $"fecha".cast("timestamp").cast("string"), $"v")
        .as[(String, String, Double)].collect().toSet
      assert(got == expected, s"round $round: write path diverged from pure dataflow")
    }
  }

  test("replacePeriodWindow is idempotent as pure dataflow") {
    val existing = Seq(("diario", "2024-06-10", 1.0), ("mensual", "2024-06-01", 2.0),
        ("diario", "2024-06-20", 3.0))
      .toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    val rep = Seq(("diario", "2024-06-20", 9.0), ("mensual", "2024-06-01", 8.0))
      .toDF("periodo", "fecha", "v").withColumn("fecha", $"fecha".cast("timestamp"))
    val cutoff = lit("2024-06-15").cast("timestamp")
    val once = graft.operators.Writers.replacePeriodWindow(existing, rep, "fecha", "periodo", cutoff)
    val twice = graft.operators.Writers.replacePeriodWindow(once, rep, "fecha", "periodo", cutoff)
    assert(once.collect().toSet == twice.collect().toSet)
    assert(once.count() == 3)
  }

  test("expectations count planted violations of every rule type, zero-fill the clean ones") {
    import graft.operators.Expectations._
    val dim = Seq(1, 2, 3).toDF("dk")
    val rows = Seq(
      (10L, Some(5.0), "a", 1),   // clean
      (11L, None, "a", 2),        // null value
      (12L, Some(99.0), "b", 3),  // out of range
      (12L, Some(6.0), "zz", 4),  // dup key + bad set + FK orphan
      (13L, Some(-1.0), "a", 1)   // out of range (below)
    ).toDF("k", "v", "cat", "fk")
    val got = check(rows, "k", Seq(
      NotNull("v_not_null", "v"),
      InRange("v_range", "v", 0, 10),
      InSet("cat_set", "cat", Seq("a", "b")),
      Unique("k_unique", "k"),
      ForeignKey("fk_dim", "fk", dim, "dk"),
      InSet("cat_clean", "cat", Seq("a", "b", "zz")))) // never fires
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got("v_not_null") == ((1L, "11")))
    assert(got("v_range") == ((2L, "12")))    // null v is NOT a range violation
    assert(got("cat_set") == ((1L, "12")))
    assert(got("k_unique") == ((1L, "12")))   // one extra copy, samples the value
    assert(got("fk_dim") == ((1L, "12")))
    assert(got("cat_clean") == ((0L, null)))
  }
}
