package graft.operators

import org.apache.spark.sql.SparkSession

/** MULTI-TABLE ATOMIC PUBLISH — the DAG-tick contract. A reference
  * tick loads several destination tables (consumo_bloques + funnel +
  * indicadores in one hourly run, descarga_hora.py:17-60); a crash
  * between per-table publishes would leave a mixed tick that readers
  * can see. A commit group makes the tick all-or-nothing:
  *
  *  1. every table's write runs normally but STAGES its manifest
  *     (`v.json.grp`, invisible to all readers — the listing and probe
  *     paths match only `.json`), each stamped with the group's marker
  *     path;
  *  2. ONE marker file commit (the same conditional-put guard as every
  *     manifest) flips the whole group: any reader or writer that
  *     touches a staged slot afterwards rolls it forward to the plain
  *     name — so readers resolve all-old before the marker and all-new
  *     after it, never a mix;
  *  3. the coordinator then eagerly rolls every table forward (the
  *     lazy reader-side roll-forward is the crash fallback, not the
  *     common path).
  *
  * Failure behavior: a stage failure (or coordinator crash before the
  * marker) leaves only invisible staged slots — the coordinator aborts
  * the marker eagerly when it can; a crashed one is aborted by the
  * first concurrent writer/vacuum after the pending grace window
  * (`spark.graft.group.pendingGraceMs`). A coordinator that loses the
  * abort race reports failure; one whose marker lands wins even if it
  * dies immediately after — every table flips on next touch.
  *
  * Writes inside a group may be any snapshot writer (append,
  * overwrite, replacePartitions, SQL DML against the registry route) —
  * the staging redirect lives inside the one commit funnel.
  */
object CommitGroup {

  /** One table's contribution to the group: its snapshot path plus the
    * write to run (any normal writer against that path).
    */
  final case class GroupWrite(path: String, write: SparkSession => Unit)

  /** Publish all `writes` atomically. Returns the marker path of the
    * committed group. Throws (after best-effort abort + cleanup) if
    * any stage fails or the group loses its marker arbitration.
    */
  def publish(spark: SparkSession, groupDir: String,
              writes: Seq[GroupWrite]): String = {
    require(writes.nonEmpty, "commit group: no writes")
    require(writes.map(_.path).distinct.size == writes.size,
      "commit group: one write per table (stage both changes in one write instead)")
    // time-prefixed marker names give `latest` a lexical "newest
    // committed tick" order without reading every marker's mtime
    val id = f"${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(12)}"
    val marker = s"$groupDir/_graft_groups/$id.final"
    require(Snapshot.groupMarker.get().isEmpty, "commit groups do not nest")
    Snapshot.groupMarker.set(Some(marker))
    Snapshot.groupStagedMembers.get().clear()
    try {
      try writes.foreach(w => w.write(spark))
      catch {
        case e: Throwable =>
          // stage failure: abort the marker FIRST (any already-staged
          // slot then resolves to deletion on next touch), then clean
          // our staged files eagerly
          try {
            Snapshot.publishGroupMarker(spark, marker, ManifestCodec.AbortMarker)
            Snapshot.groupMarker.set(None)
            writes.foreach(w => Snapshot.latestVersion(spark, w.path))
          } catch { case _: Throwable => () }
          throw e
      }
      Snapshot.faultHook("group-staged") // injection seam: pre-marker crash window
      // THE commit point: one conditional put flips every table. The
      // marker carries the tick's (table → version) map, so consumers
      // can later pin a CONSISTENT multi-table read to this tick
      // (`VERSION AS OF 'tick:<marker>'`, [[readAt]]).
      val committed = Snapshot.publishGroupMarker(spark, marker,
        ManifestCodec.commitMarker(Snapshot.groupStagedMembers.get().toList))
      if (!committed) throw new Snapshot.CommitConflictException(
        s"commit group $id was aborted by a concurrent arbiter " +
          "(staging outlived the pending grace window); nothing published")
      Snapshot.faultHook("group-marker-committed") // injection seam: pre-roll-forward
      // eager roll-forward: readers would do this lazily, the
      // coordinator does it now so the common path never pays it
      Snapshot.groupMarker.set(None)
      writes.foreach(w => Snapshot.latestVersion(spark, w.path))
      marker
    } finally {
      Snapshot.groupMarker.set(None)
      Snapshot.groupStagedMembers.get().clear()
    }
  }

  // --------------------------------------------------- tick-pinned reads

  /** The committed tick's member map: qualified table root → the
    * version this group published for it. Refuses a pending or aborted
    * marker loudly — a consumer must never silently read a mixed "now".
    */
  def members(spark: SparkSession, marker: String): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(marker)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(marker)
    require(fs.exists(p), s"no such commit-group marker: $marker")
    val g = ManifestCodec.decodeMarker(ManifestCodec.read(fs, p))
    require(g.committed, s"commit group at $marker did not commit (state: ${g.state})")
    g.members.getOrElse(throw new IllegalArgumentException(
      s"marker $marker records no member map (pre-tick format)")).toMap
  }

  /** This table's version at the given tick. The table must be a tick
    * member — a tick pins what it PUBLISHED; resolving a non-member
    * through it would silently mix ticks, the exact bug this exists to
    * prevent. Triggers the lazy roll-forward first, so a reader landing
    * between the marker and the coordinator's eager resolution still
    * finds the plain manifest.
    */
  def versionAt(spark: SparkSession, marker: String, path: String): Long = {
    val m = members(spark, marker)
    val qual = Snapshot.qualifiedRoot(spark, path)
    val v = m.getOrElse(qual, throw new IllegalArgumentException(
      s"$qual is not a member of tick $marker " +
        s"(members: ${m.keys.toSeq.sorted.mkString(", ")})"))
    Snapshot.latestVersion(spark, path) // resolves any still-staged slot
    v
  }

  /** Read one member table PINNED at the tick — `readAt` for every
    * member table of one marker is the consistent multi-table read.
    */
  def readAt(spark: SparkSession, marker: String, path: String): org.apache.spark.sql.DataFrame =
    Snapshot.readVersion(spark, path, versionAt(spark, marker, path))

  /** The NEWEST committed group under `groupDir` — "give me a
    * consistent now" for consumers that don't carry a marker. Lexical
    * order over the time-prefixed marker names; pending/aborted
    * markers are skipped.
    */
  def latest(spark: SparkSession, groupDir: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$groupDir/_graft_groups")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".final"))
      .sortBy(_.getName).reverseIterator
      .map(_.toString)
      .find(mk => Snapshot.groupState(fs, mk).contains(true))
  }
}
