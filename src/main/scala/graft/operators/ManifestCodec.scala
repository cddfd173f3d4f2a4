package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import scala.jdk.CollectionConverters._

import Snapshot.{BloomRef, ColHist, DvRef, HistBin, Manifest}
import SnapshotStats.{ColStats, FileStats}

/** The snapshot log's on-disk format, in one place: the FULL manifest
  * (checkpoint) form, the DELTA form a commit stages against its
  * parent, delta replay, and the commit-group marker.
  *
  * Every [[Manifest]] field is one entry of [[Fields]]: its full-form
  * JSON name, its value codec and its delta policy (which carries the
  * delta-form names). The full encode, the full decode, the delta
  * encode and the delta replay are each one loop over that table, and
  * the delta self-check is one normalized equality — so a field added
  * to the table is written, read, diffed and checked with no other
  * edit. Works on a [[FileSystem]], never a session: the distributed
  * history read decodes inside tasks.
  */
private[graft] object ManifestCodec {

  private val mapper = new ObjectMapper()
  private val nodes = mapper.getNodeFactory

  /** Delta-form header: the parent version a delta replays over. */
  private val Base = "base"
  /** A commit group's staged manifest names its marker here. */
  private val Group = "group"

  // ------------------------------------------------------ value codecs

  /** How one field's value writes and reads as a JSON node; `empty` is
    * the value an absent node means.
    */
  private final case class Codec[A](empty: A, write: A => JsonNode, read: JsonNode => A)

  private val long = Codec[Long](0L, nodes.numberNode(_), _.asLong())
  private val string = Codec[String]("", nodes.textNode, _.asText())
  private val strings = Codec[Seq[String]](Nil, ss => {
    val a = nodes.arrayNode(); ss.foreach(a.add); a
  }, _.elements().asScala.map(_.asText()).toSeq)

  /** A string-keyed map as an object, keys sorted. */
  private def mapOf[V](write: V => JsonNode, read: JsonNode => V): Codec[Map[String, V]] =
    Codec(Map.empty, m => {
      val o = nodes.objectNode()
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.set[JsonNode](k, write(v)) }
      o
    }, _.properties().asScala.map(e => e.getKey -> read(e.getValue)).toMap)

  private def opt[A](n: JsonNode, key: String)(read: JsonNode => A): Option[A] =
    if (n.has(key)) Some(read(n.get(key))) else None

  private val colStats = mapOf[ColStats](c => {
    val n = nodes.objectNode()
    c.mn.foreach(n.put("mn", _))
    c.mx.foreach(n.put("mx", _))
    c.nulls.foreach(n.put("nulls", _))
    if (c.trunc) n.put("tr", true)
    n
  }, n => ColStats(opt(n, "mn")(_.asText()), opt(n, "mx")(_.asText()),
    opt(n, "nulls")(_.asLong()), n.has("tr") && n.get("tr").asBoolean()))

  private val fileStats = mapOf[FileStats](s => {
    val n = nodes.objectNode()
    n.put("rows", s.rows)
    if (s.bytes > 0L) n.put("bytes", s.bytes)
    if (s.cols.nonEmpty) n.set[JsonNode]("cols", colStats.write(s.cols))
    n
  }, n => FileStats(n.get("rows").asLong(),
    opt(n, "cols")(colStats.read).getOrElse(Map.empty), opt(n, "bytes")(_.asLong()).getOrElse(0L)))

  private val dvRefs = mapOf[DvRef](r => {
    val n = nodes.objectNode(); n.put("file", r.file); n.put("rows", r.rows); n
  }, n => DvRef(n.get("file").asText(), n.get("rows").asLong()))

  private val bloomRefs = mapOf[BloomRef](r => {
    val n = nodes.objectNode(); n.put("file", r.file)
    n.set[JsonNode]("cols", strings.write(r.cols)); n
  }, n => BloomRef(n.get("file").asText(), strings.read(n.get("cols"))))

  private val histograms = mapOf[ColHist](h => {
    val n = nodes.objectNode()
    n.put("h", h.height)
    h.exactMin.foreach(n.put("min", _))
    h.exactMax.foreach(n.put("max", _))
    val bs = n.putArray("bins")
    h.bins.foreach { b => val a = bs.addArray(); a.add(b.lo); a.add(b.hi); a.add(b.ndv) }
    n
  }, n => ColHist(n.get("h").asDouble(),
    n.get("bins").elements().asScala.map(b =>
      HistBin(b.get(0).asDouble(), b.get(1).asDouble(), b.get(2).asLong())).toSeq,
    opt(n, "min")(_.asText()), opt(n, "max")(_.asText())))

  private val stringMap = mapOf[String](nodes.textNode, _.asText())
  private val longMap = mapOf[Long](nodes.numberNode(_), _.asLong())

  // ------------------------------------------------------ delta policies

  /** How a field travels in the delta form. `encode` writes the field's
    * delta nodes for `m` against `parent` (`live` = `m`'s file set);
    * `replay` folds them back over `parent` into `acc` (`gone` = the
    * files the delta removed).
    */
  private sealed trait Policy[A] {
    def encode(f: Field[A], m: Manifest, parent: Manifest, live: Set[String], node: ObjectNode): Unit
    def replay(f: Field[A], root: JsonNode, parent: Manifest, gone: Set[String], acc: Manifest): Manifest
    /** A change this policy cannot express forces the full form. */
    def forcesFull(f: Field[A], m: Manifest, parent: Manifest): Boolean = false
    /** The files a delta node removes (the live-file policy only). */
    def removed(root: JsonNode): Set[String] = Set.empty
  }

  private def names(root: JsonNode, key: String): Seq[String] =
    opt(root, key)(strings.read).getOrElse(Nil)

  private def putNames(node: ObjectNode, key: String, ss: Seq[String]): Unit =
    if (ss.nonEmpty) node.set[JsonNode](key, strings.write(ss))

  /** The entries of a keyed field that are new or changed against `parent`. */
  private def putChanged[V](f: Field[Map[String, V]], m: Manifest, parent: Manifest, put: String,
                            node: ObjectNode): Unit = {
    val was = f.get(parent)
    val puts = f.get(m).filter { case (k, v) => !was.get(k).contains(v) }
    if (puts.nonEmpty) node.set[JsonNode](put, f.codec.write(puts))
  }

  /** The live file list: appended adds, removes. */
  private final case class Members(add: String, remove: String) extends Policy[Seq[String]] {
    def encode(f: Field[Seq[String]], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit = {
      val was = f.get(parent).toSet
      putNames(node, add, f.get(m).filterNot(was))
      putNames(node, remove, f.get(parent).filterNot(live))
    }
    def replay(f: Field[Seq[String]], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest =
      f.set(acc, f.get(parent).filterNot(gone) ++ names(root, add))
    override def removed(root: JsonNode): Set[String] = names(root, remove).toSet
  }

  /** Keyed by live file: new or changed entries put, entries of removed
    * files drop with them, and (with a `drop` name) entries dropped
    * while their file stays live are listed.
    */
  private final case class ByFile[V](put: String, drop: Option[String] = None)
      extends Policy[Map[String, V]] {
    def encode(f: Field[Map[String, V]], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit = {
      putChanged(f, m, parent, put, node)
      val (now, was) = (f.get(m), f.get(parent))
      drop.foreach(d => putNames(node, d, was.keySet.intersect(live).diff(now.keySet).toSeq.sorted))
    }
    def replay(f: Field[Map[String, V]], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest =
      f.set(acc, f.get(parent) -- gone -- drop.toSeq.flatMap(names(root, _)) ++
        opt(root, put)(f.codec.read).getOrElse(Map.empty))
  }

  /** Keyed, put-only: a removed key is not expressible, so the
    * self-check sends such a commit to the full form.
    */
  private final case class Puts[V](put: String) extends Policy[Map[String, V]] {
    def encode(f: Field[Map[String, V]], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit = putChanged(f, m, parent, put, node)
    def replay(f: Field[Map[String, V]], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest =
      f.set(acc, f.get(parent) ++ opt(root, put)(f.codec.read).getOrElse(Map.empty))
  }

  /** Replaced whole on change; an absent node inherits, so a reset to
    * empty writes an explicit empty node.
    */
  private final case class Replace[A](set: String) extends Policy[A] {
    def encode(f: Field[A], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit =
      if (f.get(m) != f.get(parent)) node.set[JsonNode](set, f.codec.write(f.get(m)))
    def replay(f: Field[A], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest =
      opt(root, set)(f.codec.read).fold(acc)(f.set(acc, _))
  }

  /** Per-commit, never inherited: every delta carries its own, written
    * exactly as in the full form.
    */
  private final case class PerCommit[A]() extends Policy[A] {
    def encode(f: Field[A], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit = f.encodeFull(m, node)
    def replay(f: Field[A], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest =
      f.set(acc, opt(root, f.name)(f.codec.read).getOrElse(f.codec.empty))
  }

  /** Full form only: a change forces the full form. */
  private final case class FullOnly[A]() extends Policy[A] {
    def encode(f: Field[A], m: Manifest, parent: Manifest, live: Set[String],
               node: ObjectNode): Unit = ()
    def replay(f: Field[A], root: JsonNode, parent: Manifest, gone: Set[String],
               acc: Manifest): Manifest = acc
    override def forcesFull(f: Field[A], m: Manifest, parent: Manifest): Boolean =
      f.get(m) != f.get(parent)
  }

  // ------------------------------------------------------ the field table

  /** One [[Manifest]] field: its full-form `name` (written even when
    * empty if `required`), value codec, delta policy and accessors.
    */
  private final case class Field[A](name: String, codec: Codec[A], policy: Policy[A],
                                    get: Manifest => A, set: (Manifest, A) => Manifest,
                                    required: Boolean = false) {
    def encodeFull(m: Manifest, node: ObjectNode): Unit = {
      val v = get(m)
      if (required || v != codec.empty) node.set[JsonNode](name, codec.write(v))
    }
    def decodeFull(root: JsonNode, acc: Manifest): Manifest =
      opt(root, name)(codec.read).fold(acc)(set(acc, _))
    def encodeDelta(m: Manifest, parent: Manifest, live: Set[String], node: ObjectNode): Unit =
      policy.encode(this, m, parent, live, node)
    def replay(root: JsonNode, parent: Manifest, gone: Set[String], acc: Manifest): Manifest =
      policy.replay(this, root, parent, gone, acc)
    def forcesFull(m: Manifest, parent: Manifest): Boolean = policy.forcesFull(this, m, parent)
  }

  /** Every [[Manifest]] field, in full-form key order. */
  private val Fields: Seq[Field[_]] = Seq(
    Field[Long]("version", long, PerCommit(), _.version, (m, v) => m.copy(version = v),
      required = true),
    Field[Long]("committedAt", long, PerCommit(), _.committedAtMicros,
      (m, v) => m.copy(committedAtMicros = v), required = true),
    Field[String]("schemaDdl", string, Replace("schemaDdl"), _.schemaDdl,
      (m, v) => m.copy(schemaDdl = v), required = true),
    Field[Seq[String]]("partitionCols", strings, FullOnly(), _.partitionCols,
      (m, v) => m.copy(partitionCols = v), required = true),
    Field[Seq[String]]("files", strings, Members("addFiles", "removeFiles"), _.files,
      (m, v) => m.copy(files = v), required = true),
    Field[Map[String, Long]]("streamBatch", longMap, Puts("streamBatchPut"), _.streamBatch,
      (m, v) => m.copy(streamBatch = v)),
    Field[Map[String, DvRef]]("dvs", dvRefs, ByFile("dvsPut", Some("dvsDrop")), _.dvs,
      (m, v) => m.copy(dvs = v)),
    Field[Map[String, BloomRef]]("blooms", bloomRefs, ByFile("bloomsPut", Some("bloomsDrop")),
      _.blooms, (m, v) => m.copy(blooms = v)),
    Field[Map[String, String]]("colMap", stringMap, Replace("colMapSet"), _.colMap,
      (m, v) => m.copy(colMap = v)),
    Field[Seq[String]]("retiredCols", strings, Replace("retiredSet"), _.retired,
      (m, v) => m.copy(retired = v)),
    Field[Map[String, String]]("constraints", stringMap, Replace("constraintsSet"),
      _.constraints, (m, v) => m.copy(constraints = v)),
    Field[Map[String, String]]("generatedCols", stringMap, Replace("generatedColsSet"),
      _.generatedCols, (m, v) => m.copy(generatedCols = v)),
    Field[String]("operation", string, PerCommit(), _.operation,
      (m, v) => m.copy(operation = v)),
    Field[Seq[String]]("clusterBy", strings, Replace("clusterBySet"), _.clusterBy,
      (m, v) => m.copy(clusterBy = v)),
    Field[Map[String, String]]("properties", stringMap, Replace("propertiesSet"),
      _.properties, (m, v) => m.copy(properties = v)),
    Field[Map[String, String]]("externalRoots", stringMap, Replace("externalRootsSet"),
      _.externalRoots, (m, v) => m.copy(externalRoots = v)),
    Field[Map[String, Long]]("tags", longMap, Replace("tagsSet"), _.tags,
      (m, v) => m.copy(tags = v)),
    Field[Map[String, Long]]("colNdv", longMap, Replace("colNdvSet"), _.colNdv,
      (m, v) => m.copy(colNdv = v)),
    Field[Map[String, String]]("colDefault", stringMap, Replace("colDefaultSet"),
      _.colDefault, (m, v) => m.copy(colDefault = v)),
    Field[Map[String, String]]("colExistsDefault", stringMap, Replace("colExistsDefaultSet"),
      _.colExistsDefault, (m, v) => m.copy(colExistsDefault = v)),
    Field[Map[String, Long]]("branches", longMap, Replace("branchesSet"), _.branches,
      (m, v) => m.copy(branches = v)),
    Field[Map[String, ColHist]]("colHist", histograms, Replace("colHistSet"), _.colHist,
      (m, v) => m.copy(colHist = v)),
    // per-file stats ride the adds (the delta name is the full name)
    Field[Map[String, FileStats]]("stats", fileStats, ByFile("stats"), _.stats,
      (m, v) => m.copy(stats = v)))

  /** What every full decode starts from: each field at its empty value. */
  private val Blank = Manifest(0L, Nil, "", Nil)

  // ------------------------------------------------------ manifests

  /** The complete (checkpoint) form: every field, every live file.
    * Written at v1, at every [[Snapshot.LogCheckpointIntervalKey]]-th
    * commit, whenever the delta form cannot express a commit, and by
    * vacuum at the retention boundary.
    */
  private def encodeFull(m: Manifest): ObjectNode = {
    val node = nodes.objectNode()
    Fields.foreach(_.encodeFull(m, node))
    node
  }

  /** The DELTA form of `m` against `parent` — only what the commit
    * changed, so an hourly append to a million-file table commits
    * O(batch) bytes, not O(table) — when the table can express it
    * losslessly: replaying it over `parent` must reproduce `m` (commit
    * stamp and file order aside), else None and the full form is
    * written. Correctness never rests on the delta writer.
    */
  private def encodeDelta(m: Manifest, parent: Manifest): Option[ObjectNode] =
    if (Fields.exists(_.forcesFull(m, parent))) None
    else {
      val node = nodes.objectNode()
      node.put(Base, parent.version)
      val live = m.files.toSet
      Fields.foreach(_.encodeDelta(m, parent, live, node))
      Some(node).filter(d => normalized(replay(parent, d)) == normalized(m))
    }

  private def normalized(m: Manifest): Manifest =
    m.copy(committedAtMicros = 0L, files = m.files.sorted)

  private def replay(parent: Manifest, root: JsonNode): Manifest = {
    val gone = Fields.iterator.flatMap(_.policy.removed(root)).toSet
    Fields.foldLeft(parent)((acc, f) => f.replay(root, parent, gone, acc))
  }

  /** The bytes a commit stages for `m`, stamped `committedAtMicros`: the
    * delta form against `parent` when there is one and it round-trips,
    * else the full form; a commit-group stage names its `group` marker.
    */
  def encode(m: Manifest, parent: Option[Manifest], committedAtMicros: Long,
             group: Option[String]): Array[Byte] = {
    val stamped = m.copy(committedAtMicros = committedAtMicros)
    val node = parent.flatMap(encodeDelta(stamped, _)).getOrElse(encodeFull(stamped))
    group.foreach(node.put(Group, _))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
  }

  /** Decode one manifest file; a delta replays over `base(version)`. */
  def decode(bytes: Array[Byte], base: Long => Manifest): Manifest = {
    val root = mapper.readTree(bytes)
    if (root.has(Base)) replay(base(root.get(Base).asLong()), root)
    else Fields.foldLeft(Blank)((acc, f) => f.decodeFull(root, acc))
  }

  /** The parent version a manifest file replays over; None = full form. */
  def baseOf(bytes: Array[Byte]): Option[Long] =
    opt(mapper.readTree(bytes), Base)(_.asLong())

  /** The commit-group marker a staged manifest names, if any. */
  def groupOf(bytes: Array[Byte]): Option[String] =
    opt(mapper.readTree(bytes), Group)(_.asText())

  // ------------------------------------------------------ group markers

  /** A commit-group marker's content: `state` is `commit` or `abort`;
    * a committed tick records its members (qualified table root →
    * staged version). Written as the bare state word when there are no
    * members (an abort, or a marker from before ticks recorded them),
    * else as the `{"state", "members"}` envelope.
    */
  final case class GroupMarker(state: String, members: Option[Seq[(String, Long)]]) {
    def committed: Boolean = state == "commit"
  }

  val AbortMarker: GroupMarker = GroupMarker("abort", None)
  def commitMarker(members: Seq[(String, Long)]): GroupMarker = GroupMarker("commit", Some(members))

  def encodeMarker(g: GroupMarker): Array[Byte] = g.members match {
    case None => g.state.getBytes("UTF-8")
    case Some(ms) =>
      val node = nodes.objectNode()
      node.put("state", g.state)
      val o = node.putObject("members")
      ms.foreach { case (p, v) => o.put(p, v) }
      mapper.writeValueAsBytes(node)
  }

  /** The one marker parse: both content forms; unreadable JSON reads as
    * a state that is not `commit`.
    */
  def decodeMarker(bytes: Array[Byte]): GroupMarker = {
    val s = new String(bytes, "UTF-8").trim
    if (!s.startsWith("{")) GroupMarker(s, None)
    else scala.util.Try {
      val r = mapper.readTree(s)
      GroupMarker(opt(r, "state")(_.asText()).getOrElse(""),
        opt(r, "members")(longMap.read).map(_.toSeq))
    }.getOrElse(GroupMarker(s, None))
  }

  // ------------------------------------------------------ log files

  /** The one read of a log file (manifest, checkpoint, `_last`
    * pointer, group marker).
    */
  def read(fs: FileSystem, p: HPath): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** Staged log files start with this; vacuum reclaims crashed ones. */
  val StagePrefix = ".tmp-"

  /** Write `bytes` under a fresh `.tmp-<id>` name in `dir` and return
    * it: invisible to readers until the caller publishes it (the
    * commit guard, or a plain rename for checkpoints).
    */
  def stage(fs: FileSystem, dir: HPath, bytes: Array[Byte]): HPath = {
    val tmp = new HPath(dir, StagePrefix + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    tmp
  }
}
