package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.operators.Snapshot
import graft.operators.Snapshot.{BloomRef, ColHist, DvRef, HistBin, Manifest}
import graft.operators.SnapshotStats.{ColStats, FileStats}

/** The manifest log's on-disk format, pinned by a checked-in fixture
  * (`src/test/resources/manifest-log`): one full manifest (v1) and two
  * deltas (v2, v3) that together populate every [[Manifest]] field,
  * including reset-to-empty replace nodes and `dvsDrop`/`bloomsDrop`.
  * Decoding each version must give the expected manifest, and
  * re-encoding it through the commit path must give back the same
  * JSON tree — so a codec change that alters the format fails here.
  */
object ManifestFormatSpec {
  val X = "txn-a/p=x/part-0.parquet"
  val Y = "txn-a/p=y/part-0.parquet"
  val Z = "txn-a/p=z/part-0.parquet"
  val B = "txn-b/p=x/part-0.parquet"
  val E = "@r0/ext/p=y/part-1.parquet"

  val v1: Manifest = Manifest(
    version = 1L,
    partitionCols = Seq("p"),
    schemaDdl = "id BIGINT,p STRING,v BIGINT,w STRING",
    files = Seq(X, Y, Z),
    stats = Map(
      X -> FileStats(10L, Map(
        "id" -> ColStats(Some("1"), Some("10"), Some(0L)),
        "col-w1" -> ColStats(Some("aa"), Some("zz" * 40), Some(2L), trunc = true)), 2048L),
      Y -> FileStats(4L, Map("id" -> ColStats(None, None, Some(4L)))),
      Z -> FileStats(7L, Map.empty, 512L)),
    streamBatch = Map("q1" -> 3L, "q2" -> 5L),
    committedAtMicros = 1760000000000000L,
    dvs = Map(Y -> DvRef("_dv/c1/dv-y", 2L), Z -> DvRef("_dv/c1/dv-z", 1L)),
    blooms = Map(X -> BloomRef("_bloom/b1/x.bin", Seq("id")),
      Z -> BloomRef("_bloom/b1/z.bin", Seq("id", "v"))),
    colMap = Map("w" -> "col-w1"),
    retired = Seq("col-old", "col-older"),
    constraints = Map("v_pos" -> "v >= 0"),
    generatedCols = Map("g" -> "v * 2"),
    operation = "CREATE",
    clusterBy = Seq("id", "v"),
    properties = Map("graft.bloom.cols" -> "id", "owner" -> "etl"),
    externalRoots = Map("r0" -> "file:/data/src"),
    tags = Map("gold" -> 1L),
    colNdv = Map("id" -> 3L, "v" -> 2L),
    colDefault = Map("v" -> "0"),
    colExistsDefault = Map("w" -> "'none'"),
    branches = Map("dev" -> 1L),
    colHist = Map("id" -> ColHist(1.5, Seq(HistBin(0.0, 10.0, 2L), HistBin(10.0, 20.5, 1L)),
      Some("0"), Some("20"))))

  /** A write that removes Z (its stats, vector and bloom ref drop with
    * it), adds two files (one external), evolves the schema and moves
    * most metadata facets.
    */
  val v2: Manifest = v1.copy(
    version = 2L,
    schemaDdl = "id BIGINT,p STRING,v BIGINT,w STRING,u INT",
    files = Seq(X, Y, B, E),
    stats = v1.stats - Z + (B -> FileStats(3L, Map("id" -> ColStats(Some("20"), Some("22"), None)),
      300L)) + (E -> FileStats(1L, Map.empty)),
    streamBatch = Map("q1" -> 4L, "q2" -> 5L, "q3" -> 1L),
    committedAtMicros = 1760000001000000L,
    dvs = Map(Y -> DvRef("_dv/c1/dv-y", 2L), X -> DvRef("_dv/c2/dv-x", 1L)),
    blooms = Map(X -> BloomRef("_bloom/b1/x.bin", Seq("id")),
      B -> BloomRef("_bloom/b2/b.bin", Seq("id"))),
    colMap = Map("w" -> "col-w1", "u" -> "col-u1"),
    constraints = Map("v_pos" -> "v >= 0", "u_small" -> "u < 100"),
    operation = "WRITE",
    properties = Map("graft.bloom.cols" -> "id", "owner" -> "ops"),
    externalRoots = Map("r0" -> "file:/data/src", "r1" -> "file:/data/other"),
    tags = Map("gold" -> 1L, "silver" -> 1L),
    colNdv = Map("id" -> 5L, "v" -> 2L),
    colDefault = Map("v" -> "0", "u" -> "7"),
    colExistsDefault = Map("w" -> "'none'", "u" -> "7"),
    colHist = Map("id" -> ColHist(2.0, Seq(HistBin(0.0, 22.0, 4L)), Some("1"), Some("22")),
      "v" -> ColHist(4.0, Seq(HistBin(-1.25, 3.0, 2L)))))

  /** A metadata commit: drops Y's vector and X's bloom ref while both
    * files stay live, resets several facets to empty, and carries no
    * operation label (a delta's label is never inherited).
    */
  val v3: Manifest = v2.copy(
    version = 3L,
    committedAtMicros = 1760000002000000L,
    dvs = Map(X -> DvRef("_dv/c2/dv-x", 1L)),
    blooms = Map(B -> BloomRef("_bloom/b2/b.bin", Seq("id"))),
    colMap = Map.empty,
    retired = Nil,
    generatedCols = Map.empty,
    operation = "",
    clusterBy = Nil,
    externalRoots = Map("r0" -> "file:/data/src"),
    tags = Map.empty,
    colNdv = Map.empty,
    colDefault = Map.empty,
    colExistsDefault = Map.empty,
    branches = Map.empty,
    colHist = Map.empty)

  val expected: Seq[Manifest] = Seq(v1, v2, v3)

  def fileName(v: Long): String = f"v$v%08d.json"
}

class ManifestFormatSpec extends SparkSpec {
  import ManifestFormatSpec._

  private val mapper = new ObjectMapper()

  private val fixtureRoot: String =
    Paths.get(getClass.getResource("/manifest-log/_graft_log/" + fileName(1)).toURI)
      .getParent.getParent.toString

  private def json(root: String, v: Long): ObjectNode =
    mapper.readTree(Paths.get(root, Snapshot.LogDirName, fileName(v)).toFile)
      .asInstanceOf[ObjectNode]

  /** A scratch table whose log holds the fixture's versions 1..`upTo`. */
  private def scratchLog(upTo: Long): String = {
    val root = Files.createTempDirectory("graft-mformat").resolve("t")
    val log = Files.createDirectories(root.resolve(Snapshot.LogDirName))
    (1L to upTo).foreach(v => Files.copy(Paths.get(fixtureRoot, Snapshot.LogDirName, fileName(v)),
      log.resolve(fileName(v)), StandardCopyOption.REPLACE_EXISTING))
    root.toString
  }

  /** Commit `next` over the scratch table's latest version through the
    * engine's own commit path and return the JSON it wrote, minus the
    * commit stamp (always the wall clock at commit time).
    */
  private def commitThrough(root: String, parent: Manifest, next: Manifest): ObjectNode = {
    Snapshot.commitMetaOn(spark, root, parent, "unused")(_ => next)
    val n = json(root, next.version)
    n.remove("committedAt")
    n
  }

  private def unstamped(v: Long): ObjectNode = {
    val n = json(fixtureRoot, v)
    n.remove("committedAt")
    n
  }

  test("every fixture version decodes to the expected manifest") {
    expected.foreach { m =>
      assert(Snapshot.manifest(spark, fixtureRoot, m.version) == m, s"v${m.version}")
    }
    // the fixture covers the format: one full form, deltas after it
    assert(!json(fixtureRoot, 1).has("base"))
    assert(json(fixtureRoot, 2).get("base").asLong() == 1L)
    assert(json(fixtureRoot, 3).get("base").asLong() == 2L)
  }

  test("the fixture populates every manifest field") {
    val fields = v1.productElementNames.toSeq
    assert(fields.size == 23)
    fields.indices.foreach { i =>
      val values = expected.map(_.productElement(i))
      val nonEmpty = values.exists {
        case s: Iterable[_] => s.nonEmpty
        case s: String => s.nonEmpty
        case l: Long => l != 0L
        case _ => true
      }
      assert(nonEmpty, s"no fixture version populates ${fields(i)}")
      assert(values.distinct.size > 1 || fields(i) == "partitionCols",
        s"no fixture delta changes ${fields(i)}")
    }
    // the reset-to-empty and per-file drop nodes are really there
    val d3 = json(fixtureRoot, 3)
    assert(d3.get("colMapSet").isEmpty && d3.get("colHistSet").isEmpty)
    assert(d3.has("dvsDrop") && d3.has("bloomsDrop"))
  }

  test("re-encoding each version gives back the fixture's JSON tree") {
    // v1: the first version is always written full
    val r1 = Files.createTempDirectory("graft-mformat").resolve("t").toString
    Snapshot.commitMetaOn(spark, r1, v1.copy(version = 0L), "unused")(_ => v1)
    val n1 = json(r1, 1); n1.remove("committedAt")
    assert(n1 == unstamped(1))
    // v2, v3: deltas over the fixture's own parents
    Seq(v2, v3).foreach { m =>
      val root = scratchLog(m.version - 1)
      assert(commitThrough(root, expected(m.version.toInt - 2), m) == unstamped(m.version),
        s"v${m.version}")
      assert(Snapshot.manifest(spark, root, m.version) ==
        m.copy(committedAtMicros = Snapshot.manifest(spark, root, m.version).committedAtMicros))
    }
  }

  test("a partition-column change or a streamBatch key removal commits the full form") {
    Seq(
      v3.copy(partitionCols = Seq("p", "v")),
      v3.copy(streamBatch = v2.streamBatch - "q2")
    ).foreach { m =>
      val root = scratchLog(2)
      val n = commitThrough(root, v2, m)
      assert(!n.has("base") && n.has("files") && n.has("partitionCols"), s"not full: $n")
      val back = Snapshot.manifest(spark, root, 3)
      assert(back == m.copy(committedAtMicros = back.committedAtMicros))
    }
  }
}
