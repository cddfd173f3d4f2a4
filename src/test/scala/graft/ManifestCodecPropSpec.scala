package graft

import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ManifestCodec
import graft.operators.Snapshot.{BloomRef, ColHist, DvRef, HistBin, Manifest}
import graft.operators.SnapshotStats.{ColStats, FileStats}

/** Generated round trips through the manifest codec. For a parent
  * manifest and a child derived from it by random file churn and
  * metadata edits: the full form encodes, serializes and decodes back
  * to the child; and the form a commit stages (delta when the codec
  * can express the change, else full) replays over the parent to the
  * child. Fixed seeds keep the run reproducible; a failure shrinks
  * toward a pair with fewer populated fields.
  */
class ManifestCodecPropSpec extends AnyFunSuite {

  private val word: Gen[String] =
    Gen.oneOf("a", "b", "id", "v", "p=x", "x y", "\"q\"", "a\\b", "ü", "é€", "")

  private def small[A](g: Gen[A]): Gen[Seq[A]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))

  private def mapOf[V](keys: Gen[String], v: Gen[V]): Gen[Map[String, V]] =
    small(Gen.zip(keys, v)).map(_.toMap)

  private val anyLong: Gen[Long] = Gen.oneOf(Gen.choose(0L, 100L), Gen.choose(Long.MinValue, Long.MaxValue))
  private val stringMap = mapOf(word, word)
  private val longMap = mapOf(word, anyLong)

  private val filePool: Seq[String] =
    (0 until 10).map(i => s"txn-${i % 3}/p=${i % 4}/part-$i.parquet") :+ "@r0/ext/part-0.parquet"

  private val colStats: Gen[ColStats] = for {
    mn <- Gen.option(word); mx <- Gen.option(word); nulls <- Gen.option(anyLong); tr <- Gen.oneOf(false, true)
  } yield ColStats(mn, mx, nulls, tr)
  private val fileStats: Gen[FileStats] = for {
    rows <- anyLong; cols <- mapOf(word, colStats); bytes <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, 1L << 40))
  } yield FileStats(rows, cols, bytes)
  private val dvRef: Gen[DvRef] = Gen.zip(word, anyLong).map { case (f, r) => DvRef(s"_dv/$f", r) }
  private val bloomRef: Gen[BloomRef] = Gen.zip(word, small(word)).map { case (f, c) => BloomRef(s"_bloom/$f", c) }
  private val colHist: Gen[ColHist] = for {
    h <- Gen.choose(-1e9, 1e9)
    bins <- small(Gen.zip(Gen.choose(-1e9, 1e9), Gen.choose(-1e9, 1e9), anyLong).map((HistBin.apply _).tupled))
    mn <- Gen.option(word); mx <- Gen.option(word)
  } yield ColHist(h, bins, mn, mx)

  /** A map keyed by (some of) `files`. */
  private def byFile[V](files: Seq[String], v: Gen[V]): Gen[Map[String, V]] =
    Gen.someOf(files).flatMap(ks => Gen.listOfN(ks.size, v).map(vs => ks.toSeq.zip(vs).toMap))

  private val parentGen: Gen[Manifest] = for {
    version <- Gen.choose(1L, 1000L)
    pc <- Gen.oneOf(Seq(Nil, Seq("p"), Seq("p", "q")))
    ddl <- Gen.oneOf("", "a INT", "a INT,b STRING")
    files <- Gen.someOf(filePool).map(_.toSeq)
    stats <- byFile(files, fileStats)
    sb <- longMap
    at <- anyLong
    dvs <- byFile(files, dvRef)
    blooms <- byFile(files, bloomRef)
    colMap <- stringMap; retired <- small(word); cons <- stringMap; gens <- stringMap
    op <- word; cluster <- small(word); props <- stringMap; roots <- stringMap
    tags <- longMap; ndv <- longMap; defs <- stringMap; exDefs <- stringMap
    branches <- longMap; hist <- mapOf(word, colHist)
  } yield Manifest(version, pc, ddl, files, stats, sb, at, dvs, blooms, colMap, retired, cons,
    gens, op, cluster, props, roots, tags, ndv, defs, exDefs, branches, hist)

  /** Keep the parent's value (most of the time) or draw a fresh one. */
  private def edit[A](was: A, fresh: Gen[A]): Gen[A] = Gen.frequency(3 -> Gen.const(was), 1 -> fresh)

  /** Per-file maps of a child: the parent's entries for kept files,
    * a few puts, sometimes a dropped entry of a kept file.
    */
  private def evolve[V](was: Map[String, V], files: Seq[String], v: Gen[V]): Gen[Map[String, V]] =
    for {
      kept <- Gen.frequency(4 -> Gen.const(was.view.filterKeys(files.toSet).toMap),
        1 -> Gen.someOf(was.keys.filter(files.toSet)).map(ks => was.view.filterKeys(ks.toSet).toMap))
      puts <- byFile(files, v).flatMap(m => Gen.someOf(m.toSeq).map(_.toMap))
    } yield kept ++ puts

  private def childOf(p: Manifest): Gen[Manifest] = for {
    kept <- Gen.frequency(3 -> Gen.const(p.files), 2 -> Gen.someOf(p.files).map(_.toSeq))
    added <- Gen.someOf(filePool.filterNot(p.files.contains)).map(_.toSeq)
    files = kept.filter(p.files.toSet) ++ added
    pc <- Gen.frequency(9 -> Gen.const(p.partitionCols), 1 -> Gen.const(Seq("q")))
    ddl <- edit(p.schemaDdl, Gen.oneOf("a INT,b STRING,c DATE", ""))
    stats <- evolve(p.stats, files, fileStats)
    sb <- Gen.frequency(3 -> longMap.map(p.streamBatch ++ _), 1 -> Gen.const(p.streamBatch.drop(1)))
    at <- anyLong
    dvs <- evolve(p.dvs, files, dvRef)
    blooms <- evolve(p.blooms, files, bloomRef)
    colMap <- edit(p.colMap, stringMap); retired <- edit(p.retired, small(word))
    cons <- edit(p.constraints, stringMap); gens <- edit(p.generatedCols, stringMap)
    op <- word; cluster <- edit(p.clusterBy, small(word)); props <- edit(p.properties, stringMap)
    roots <- edit(p.externalRoots, stringMap); tags <- edit(p.tags, longMap)
    ndv <- edit(p.colNdv, longMap); defs <- edit(p.colDefault, stringMap)
    exDefs <- edit(p.colExistsDefault, stringMap); branches <- edit(p.branches, longMap)
    hist <- edit(p.colHist, mapOf(word, colHist))
  } yield Manifest(p.version + 1, pc, ddl, files, stats, sb, at, dvs, blooms, colMap, retired,
    cons, gens, op, cluster, props, roots, tags, ndv, defs, exDefs, branches, hist)

  private val pairs: Gen[(Manifest, Manifest)] = parentGen.flatMap(p => childOf(p).map(p -> _))

  /** Shrink a failing pair by emptying one field on both sides. */
  private val simplify: Seq[Manifest => Manifest] = Seq(
    _.copy(partitionCols = Nil), _.copy(schemaDdl = ""), _.copy(stats = Map.empty),
    _.copy(streamBatch = Map.empty), _.copy(committedAtMicros = 0L), _.copy(dvs = Map.empty),
    _.copy(blooms = Map.empty), _.copy(colMap = Map.empty), _.copy(retired = Nil),
    _.copy(constraints = Map.empty), _.copy(generatedCols = Map.empty), _.copy(operation = ""),
    _.copy(clusterBy = Nil), _.copy(properties = Map.empty), _.copy(externalRoots = Map.empty),
    _.copy(tags = Map.empty), _.copy(colNdv = Map.empty), _.copy(colDefault = Map.empty),
    _.copy(colExistsDefault = Map.empty), _.copy(branches = Map.empty), _.copy(colHist = Map.empty),
    m => m.copy(files = Nil, stats = Map.empty, dvs = Map.empty, blooms = Map.empty))
  private implicit val shrinkPair: Shrink[(Manifest, Manifest)] = Shrink.withLazyList { case (p, c) =>
    simplify.to(LazyList).map(f => (f(p), f(c))).filter(_ != (p -> c))
  }

  private def sortedFiles(m: Manifest): Manifest = m.copy(files = m.files.sorted)

  test("encode → bytes → decode gives back the manifest; a staged delta replays to the child") {
    var deltas = 0
    var fulls = 0
    val prop = Prop.forAll(pairs) { case (p, c) =>
      val full = ManifestCodec.encode(c, None, c.committedAtMicros, None)
      val fullBack = ManifestCodec.decode(full, v => throw new AssertionError(s"full form replays v$v"))
      val staged = ManifestCodec.encode(c, Some(p), c.committedAtMicros, None)
      val base = ManifestCodec.baseOf(staged)
      if (base.isDefined) deltas += 1 else fulls += 1
      val back = ManifestCodec.decode(staged, v => { assert(v == p.version); p })
      (fullBack == c) :| s"full form: $fullBack" &&
        (base.forall(_ == p.version) && sortedFiles(back) == sortedFiles(c)) :| s"staged form: $back"
    }
    Seq(7L, 21L, 1234L).foreach { seed =>
      val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(seed))
        .withMinSuccessfulTests(300), prop)
      assert(res.passed, s"seed $seed: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
    // the generator reaches both forms
    assert(deltas > 100 && fulls > 100, s"deltas=$deltas fulls=$fulls")
  }

  test("group markers: both content forms read, legacy bare words included") {
    import ManifestCodec.{decodeMarker, encodeMarker}
    val members = Seq("file:/w/a" -> 3L, "file:/w/b" -> 9L)
    val committed = decodeMarker(encodeMarker(ManifestCodec.commitMarker(members)))
    assert(committed.committed && committed.members.map(_.toMap).contains(members.toMap))
    assert(!decodeMarker(encodeMarker(ManifestCodec.AbortMarker)).committed)
    assert(new String(encodeMarker(ManifestCodec.AbortMarker), "UTF-8") == "abort")
    val legacy = decodeMarker("commit\n".getBytes("UTF-8"))
    assert(legacy.committed && legacy.members.isEmpty)
    assert(!decodeMarker("""{"state":"abort"}""".getBytes("UTF-8")).committed)
    assert(!decodeMarker("{torn".getBytes("UTF-8")).committed)
  }
}
