package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

/** MATERIALIZED VIEWS as first-class objects: a snapshot table that
  * carries its own DEFINING SQL and per-source WATERMARKS in its
  * manifest properties, refreshed on demand — the declared form of the
  * hand-built incremental rollups (q119/q138) and of the reference's
  * "recompute the destination table every tick" QueryJobConfig
  * materializations (audio_digital.py:350, liveod_editorial.py:282).
  *
  *  - `CREATE MATERIALIZED VIEW mv AS SELECT …` ([[create]]): executes
  *    the defining query with EVERY source table PINNED at one version
  *    (no torn reads under concurrent source commits), lands the result
  *    as a snapshot table whose properties carry the SQL text and the
  *    per-source watermarks (`streamBatch` keyed by [[ConsumerId]],
  *    exactly like every feed consumer).
  *  - `REFRESH MATERIALIZED VIEW mv` ([[refresh]]): advances the MV to
  *    the sources' current versions. When the defining query is a
  *    ROLLUP (`SELECT keys…, COUNT(*) …, SUM/MIN/MAX(expr)… FROM src
  *    [JOIN dim ON …]* [WHERE pred] GROUP BY keys`), the refresh is
  *    INCREMENTAL: it reads only the changed sources' net change feeds
  *    ([[Snapshot.readChanges]], O(changed files) — the unchanged
  *    100 TB is never touched), replays the defining query's
  *    join/filter tree once per changed source by the TELESCOPING
  *    delta rule (Δ(A ⋈ B) = ΔA ⋈ B_old + A_new ⋈ ΔB, generalized to
  *    n changed sources — each replay feeds one change window with
  *    earlier changed sources at their new versions and everything
  *    else at its watermark), folds signed per-group deltas into the
  *    current state, and
  *    drops groups whose row count reaches zero — bitwise-identical to
  *    a full recompute when the SUM state is exact (decimal/integer;
  *    the one caveat is a group whose value column is ENTIRELY null
  *    across history: the fold stores NULL by delta-null tracking,
  *    which matches recompute except when deletes empty the non-null
  *    subset exactly — use exact types and non-null measures for
  *    bitwise parity).
  *
  *    COUNT(col) folds exactly like COUNT(*) gated on the argument
  *    being non-null. COUNT(DISTINCT col) folds through a CO-MAINTAINED
  *    DISTINCT-STATE side table ([[sidePath]]): one row per (group
  *    keys, distinct non-null value) with its occurrence count, folded
  *    from the same net change feeds; the view column derives as the
  *    side table's per-group row count — a delete that removes a
  *    group's LAST occurrence of a value drops the state row and the
  *    count follows, O(change) per refresh with no fact rescan. Side
  *    commits land BEFORE the view commit (each versioned, each
  *    stamped with the source watermarks), so a crash between them
  *    leaves the view watermark old: the rerun sees the side already
  *    current, skips its fold, and re-folds only the view —
  *    exactly-once per table.
  *
  *    MIN/MAX columns fold with a DELETE-TRIGGERED per-group tier:
  *    inserts fold as least/greatest against the current extremum; a
  *    delete at-or-beyond the folded extremum re-derives ONLY that
  *    group from the (pinned, new-version) source — O(affected groups)
  *    aggregation, never a whole-table rewrite of the rollup.
  *
  *    AVG columns AUTO-EXPAND into internal SUM+COUNT state: one
  *    co-maintained `<mv>__avgs` side table ([[avgSidePath]]) carries
  *    (keys, liveness, `__s_<col>`, `__c_<col>`), folds from the same
  *    net change feeds (it IS a plain COUNT/SUM rollup), and the view
  *    column derives by replaying Average's own evaluate chain
  *    ([[avgDerive]]) — bitwise for DECIMAL and integral arguments;
  *    floating-point AVG demotes to full recompute (a double sum is
  *    partition-order dependent, so fold-vs-recompute parity is not
  *    even well-defined).
  *
  *    Any other shape (outer joins, distinct counts, windows, a
  *    self-join of a changed source, a schema-unstable or vacuumed
  *    window) falls back to a FULL PINNED recompute — always correct,
  *    cost declared in the commit's operation string.
  *
  * Exactly-once, the [[graft.streaming.FeedConsumer]] contract: state
  * and watermarks publish in ONE commit versioned against the manifest
  * the refresh read — a crash before the commit leaves the old
  * watermark (the rerun re-folds the same window onto the same pinned
  * state), a redelivered refresh no-ops, a concurrent MV commit
  * version-conflicts and refuses rather than silently losing either.
  */
object MatView {

  private[graft] val SqlProp = "graft.mv.sql"
  private[graft] val SourceProp = "graft.mv.source"
  private[graft] val SideProp = "graft.mv.sideOf"
  private[graft] val ConsumerId = "__graft_mv"

  /** The co-maintained DISTINCT-STATE side table for a COUNT(DISTINCT
    * x) column: one row per (group keys, distinct non-null value of x)
    * with its occurrence count, folded from the same net change feeds
    * as the view — the MV column derives as the side table's per-group
    * row count, O(change) per refresh instead of a fact-table rescan.
    * A sibling snapshot table, marked [[SideProp]] → the owning MV.
    */
  private[graft] def sidePath(mvPath: String, stateCol: String): String =
    s"${mvPath}__dset_${stateCol.toLowerCase}"

  /** The co-maintained AVG-STATE side table: ONE sibling table per MV
    * (`<mv>__avgs`) holding the auto-expanded SUM+COUNT state behind
    * every AVG column — (group keys, `__n` liveness, `__s_<col>`,
    * `__c_<col>` per avg column). Folded from the same net change
    * feeds as the view (its shape IS a plain COUNT/SUM rollup, so it
    * rides the identical fold); the view's avg columns derive from it
    * on every refresh by replaying Average's own evaluate chain.
    */
  private[graft] def avgSidePath(mvPath: String): String = s"${mvPath}__avgs"

  /** The avg expansion is incremental only for EXACT-typed arguments
    * (decimal or integral sums fold bitwise); floating-point sums are
    * partition-order dependent, so parity with a recompute is not even
    * well-defined — those views demote to full recompute.
    */
  private def exactAvg(childDf: DataFrame, sh: Shape): Boolean =
    sh.avgCols.forall { case (_, e) =>
      childDf.select(ColumnBridge.column(e)).schema.head.dataType match {
        case _: org.apache.spark.sql.types.DecimalType => true
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }

  /** Replay Average's evaluate chain over folded SUM/COUNT state: the
    * sum state already carries Average's own buffer type (SUM over
    * DECIMAL(p,s) = DECIMAL(p+10,s)), so decimal division + the final
    * cast is bitwise the direct plan's avg; integral sums divide as
    * exact doubles. A zero count yields NULL (avg over empty/all-null)
    * — guarded with `when` so ANSI division never sees a zero.
    */
  private[graft] def avgDerive(sumC: Column, cntC: Column,
                               sumDt: org.apache.spark.sql.types.DataType,
                               outDt: org.apache.spark.sql.types.DataType): Column =
    sumDt match {
      case _: org.apache.spark.sql.types.DecimalType =>
        when(cntC > 0, (sumC /
          cntC.cast(org.apache.spark.sql.types.DecimalType(20, 0))).cast(outDt))
      case _ =>
        when(cntC > 0, (sumC.cast("double") / cntC.cast("double")).cast(outDt))
    }

  /** The avg side table body: one row per live group with the
    * liveness count and each avg column's sum/non-null-count state.
    */
  private def avgSideState(childDf: DataFrame, shape: Shape): DataFrame = {
    val ash = shape.avgShape
    val aggs = ash.cols.collect {
      case (n, CountStar) => count(lit(1)).as(n)
      case (n, SumOf(e)) => sum(ColumnBridge.column(e)).as(n)
      case (n, CountOf(e)) => count(ColumnBridge.column(e)).as(n)
    }
    childDf.groupBy(ash.keys.map { case (sn, ke) =>
        ColumnBridge.column(ke).as(sn) }: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Overwrite the view's AVG columns from the avg side state —
    * state-sized join on the group keys, column order preserved.
    */
  private def patchAvg(mv: DataFrame, side: DataFrame, shape: Shape,
                       curSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val sideSchema = side.schema
    val a = mv.alias("__mv")
    val b = side.alias("__as")
    val on = shape.keys.map(_._1)
      .map(k => col(s"__mv.$k") <=> col(s"__as.$k")).reduce(_ && _)
    a.join(b, on, "left").select(shape.cols.map {
      case (n, AvgOf(_)) =>
        avgDerive(col(s"__as.__s_$n"), col(s"__as.__c_$n"),
          sideSchema(s"__s_$n").dataType, curSchema(n).dataType).as(n)
      case (n, _) => col(s"__mv.$n")
    }: _*)
  }

  /** Is this snapshot table a materialized view? */
  def isMatView(m: Snapshot.Manifest): Boolean = m.properties.contains(SqlProp)

  /** CREATE MATERIALIZED VIEW: run `sqlText` with every source table
    * pinned at its current version, land the result as a new snapshot
    * table at `mvPath` carrying the defining SQL and the per-source
    * watermarks. `resolvePath` maps a source's (possibly qualified)
    * name in the SQL to its snapshot path — the catalog route resolves
    * through the session catalogs, the registry route through its
    * table map.
    */
  def create(spark: SparkSession, mvPath: String, sqlText: String,
             resolvePath: Seq[String] => String): Long = {
    Snapshot.requireNotInGroup("CREATE MATERIALIZED VIEW") // two commits
    // defining SQL may call graft_* sketch functions (graft_bottomk)
    graft.expressions.GraftFunctions.register(spark)
    require(Snapshot.latestVersion(spark, mvPath).isEmpty,
      s"materialized view already exists: $mvPath")
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    val srcs = sourceRelations(plan, sqlText)
    val paths = srcs.map(resolvePath)
    val vs = paths.map(p => Snapshot.latestVersion(spark, p).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view source is not a snapshot table: $p")))
    val reads = srcs.indices.map(i => srcKey(srcs(i)) ->
      Snapshot.readVersion(spark, paths(i), vs(i)).queryExecution.logical).toMap
    val result = PlanBridge.dataFrame(spark, substituted(plan, reads))
    // rollup-shaped views (and their side states, below) cluster by the
    // first group key with RANGE-distributed writes: state files carry
    // globally disjoint key ranges from the first commit — the layout
    // the file-restricted incremental fold (foldCommitRestricted)
    // prunes against, so a churn window rewrites only dented files
    // (§6: sort order on write decides what readers/rewriters skip)
    val shapeC = rollupShape(plan)
    val stateCluster = shapeC.toSeq.flatMap(_.keys.headOption.map(_._1))
    val layoutProps: Map[String, String] =
      if (stateCluster.isEmpty) Map.empty
      else Map("graft.write.sorted" -> "range")
    Snapshot.create(spark, mvPath, result,
      clusterBy = stateCluster,
      properties = Map(SqlProp -> sqlText,
        SourceProp -> srcs.map(_.mkString(".")).mkString(",")) ++ layoutProps)
    // a fresh view must be discoverable by the very next routed query
    graft.plans.MvAutoRoute.invalidateDiscovery()
    // watermarks ride a follow-up metadata commit on the fresh table
    // (create() owns version 1); both commits precede any reader
    val m = Snapshot.latestManifest(spark, mvPath).get
    val ret = Snapshot.commitMetaOn(spark, mvPath, m,
      s"MATERIALIZE ${vs.mkString("v", ",v", "")}")(mm =>
      mm.copy(streamBatch = mm.streamBatch ++ wmEntries(srcs, vs)))
    // COUNT(DISTINCT) columns of a rollup-shaped view co-create their
    // distinct-state side tables from the SAME pinned reads. A crash
    // before a side lands leaves it missing — the first REFRESH heals
    // by full recompute (sideOk demotes) and recreates it.
    shapeC.filter(_.distinctCols.nonEmpty).foreach { sh =>
      val childDf = PlanBridge.dataFrame(spark, substituted(sh.child, reads))
      sh.distinctCols.foreach { case (n, e) =>
        val sp = sidePath(mvPath, n)
        require(Snapshot.latestVersion(spark, sp).isEmpty,
          s"distinct-state side table already exists: $sp")
        Snapshot.create(spark, sp, sideState(childDf, sh, e),
          clusterBy = stateCluster,
          properties = Map(SideProp -> mvPath) ++ layoutProps)
        val sm = Snapshot.latestManifest(spark, sp).get
        Snapshot.commitMetaOn(spark, sp, sm,
          s"MATERIALIZE DISTINCT STATE ${vs.mkString("v", ",v", "")}")(mm =>
          mm.copy(streamBatch = mm.streamBatch ++ wmEntries(srcs, vs)))
      }
    }
    // AVG columns of a rollup-shaped view with exact-typed arguments
    // co-create the ONE avg-state side table — same pinned reads, same
    // crash-healing contract
    shapeC.filter(_.avgCols.nonEmpty).foreach { sh =>
      val childDf = PlanBridge.dataFrame(spark, substituted(sh.child, reads))
      if (exactAvg(childDf, sh)) {
        val sp = avgSidePath(mvPath)
        require(Snapshot.latestVersion(spark, sp).isEmpty,
          s"avg-state side table already exists: $sp")
        Snapshot.create(spark, sp, avgSideState(childDf, sh),
          clusterBy = stateCluster,
          properties = Map(SideProp -> mvPath) ++ layoutProps)
        val sm = Snapshot.latestManifest(spark, sp).get
        Snapshot.commitMetaOn(spark, sp, sm,
          s"MATERIALIZE AVG STATE ${vs.mkString("v", ",v", "")}")(mm =>
          mm.copy(streamBatch = mm.streamBatch ++ wmEntries(srcs, vs)))
      }
    }
    ret
  }

  /** REFRESH MATERIALIZED VIEW: advance to the sources' latest versions
    * — incrementally for rollup shapes with a single-source change
    * window, by full pinned recompute otherwise. Returns
    * Some(from → to) of the first source's watermark when the view
    * advanced, None when already current.
    */
  def refresh(spark: SparkSession, mvPath: String,
              resolvePath: Seq[String] => String): Option[(Long, Long)] = {
    // the refresh session may differ from the creating one — the
    // defining SQL (and the KMV fold) need the graft_* registrations
    graft.expressions.GraftFunctions.register(spark)
    val mvM = Snapshot.latestManifest(spark, mvPath).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $mvPath"))
    val sqlText = mvM.properties.getOrElse(SqlProp, throw new IllegalArgumentException(
      s"not a materialized view (no $SqlProp property): $mvPath"))
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    val srcs = sourceRelations(plan, sqlText)
    val paths = srcs.map(resolvePath)
    val vNows = paths.map(p => Snapshot.latestVersion(spark, p).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view source is not a snapshot table: $p")))
    val vFroms = srcs.indices.map(i => mvM.streamBatch.get(wmKey(srcs, i)))
    val changed = srcs.indices.filterNot(i => vFroms(i).exists(_ >= vNows(i)))
    if (changed.isEmpty) return None
    val stamp = (m: Snapshot.Manifest) =>
      m.copy(streamBatch = m.streamBatch ++ wmEntries(srcs, vNows))
    val opTail = vNows.mkString("v", ",v", "")
    // the incremental path needs every CHANGED source to occur ONCE in
    // the plan (Δ(A⋈A) ≠ ΔA⋈A) with a READABLE, SCHEMA-STABLE window:
    // a schema change inside it (readChanges refuses those) or a
    // vacuum that reclaimed the watermark version both demote this
    // refresh to the always-correct full pinned recompute. Windows
    // where SEVERAL sources churned fold by the telescoping delta rule
    // (see incrementalRefresh).
    def windowOkFrom(i: Int, v: Long): Boolean =
      try Snapshot.manifest(spark, paths(i), v).schemaDdl ==
        Snapshot.manifest(spark, paths(i), vNows(i)).schemaDdl
      catch { case _: java.io.FileNotFoundException => false }
    def windowOk(i: Int): Boolean = vFroms(i).exists(windowOkFrom(i, _))
    val shape0 = rollupShape(plan)
    // the distinct tier additionally needs every side table HEALTHY:
    // present, carrying a watermark per source, each side window
    // readable (side watermarks can sit AHEAD of the view's after a
    // crash between the side and view commits — the rerun skips the
    // current side and re-folds only the view, exactly-once per table)
    def sideOk(sh: Shape): Boolean = sh.distinctCols.forall { case (n, _) =>
      Snapshot.latestManifest(spark, sidePath(mvPath, n)).exists { sm =>
        srcs.indices.forall { i =>
          sm.streamBatch.get(wmKey(srcs, i)).exists(sv =>
            sv == vNows(i) || (sv < vNows(i) && windowOkFrom(i, sv)))
        }
      }
    }
    // ...the AVG tier likewise needs its (one) side table healthy AND
    // exact-typed arguments (decimal/integral sums fold bitwise;
    // floating sums have no well-defined recompute parity)
    def avgSideOk(sh: Shape): Boolean =
      Snapshot.latestManifest(spark, avgSidePath(mvPath)).exists { sm =>
        srcs.indices.forall { i =>
          sm.streamBatch.get(wmKey(srcs, i)).exists(sv =>
            sv == vNows(i) || (sv < vNows(i) && windowOkFrom(i, sv)))
        }
      }
    def avgTypesExact(sh: Shape): Boolean = {
      val reads = srcs.indices.map(i => srcKey(srcs(i)) ->
        Snapshot.readVersion(spark, paths(i), vNows(i)).queryExecution.logical).toMap
      exactAvg(PlanBridge.dataFrame(spark, substituted(sh.child, reads)), sh)
    }
    val incremental =
      if (changed.forall(i => windowOk(i) &&
          occurrences(plan, srcKey(srcs(i))) == 1))
        shape0.filter(sh => (sh.distinctCols.isEmpty || sideOk(sh)) &&
          (sh.avgCols.isEmpty || (avgTypesExact(sh) && avgSideOk(sh))))
      else None
    // O(change), any number of changed sources — the TELESCOPING delta
    // rule: Q(new…) − Q(old…) = Σ_k replay_k, where replay_k feeds
    // changed source k's net change window through the defining
    // join/filter tree with every EARLIER changed source pinned at its
    // NEW version and every LATER changed (and every unchanged) source
    // pinned at its OLD watermark — Δ(A⋈B) = ΔA ⋈ B_old + A_new ⋈ ΔB,
    // generalized to n sources. Each replay carries exactly ONE feed,
    // so a feed never joins a feed, and each term is an exact query
    // diff at fixed neighbor versions. The signed per-group deltas of
    // all replays fold together into the PINNED current state.
    def incrementalRefresh(shape: Shape): Unit = {
      def readAt(i: Int, v: Long): LogicalPlan =
        Snapshot.readVersion(spark, paths(i), v).queryExecution.logical
      // telescoping replays, parameterized by each source's from-
      // version and the changed set — the view and each side table
      // fold from their OWN watermark windows (they can differ after a
      // crash between the side and view commits)
      def replaysFor(froms: Int => Long, chg: Seq[Int]): Seq[DataFrame] = {
        def replayReads(k: Int): Map[String, LogicalPlan] =
          srcs.indices.map { i =>
            val pos = chg.indexOf(i)
            // the SIGNED net feed: every consumer below (grouped/side/
            // avg delta) folds sign-linearly, so the value-level
            // exceptAll cancellation pair — two full shuffles of the
            // change streams — is provably a no-op here and skipped
            // (readChangesSigned; MIN/MAX/KMV dent tiers only widen)
            srcKey(srcs(i)) -> (
              if (pos == k) Snapshot.readChangesSigned(spark, paths(i),
                froms(i), vNows(i)).queryExecution.logical
              else if (pos >= 0 && pos < k) readAt(i, vNows(i))
              else readAt(i, froms(i)))
          }.toMap
        chg.indices.map(k =>
          PlanBridge.dataFrame(spark, substituted(shape.child, replayReads(k))))
      }
      // evaluate each telescoping replay ONCE: the side folds and the
      // view fold all consume the same feeds, and the feed (readChanges
      // reconstructing net per-commit changes through the defining
      // tree) is the expensive part — materialize per feed instead of
      // re-running it once per consumer. Change-window-sized, the same
      // budget the fold itself reads. A view with NO distinct columns
      // has exactly one consumer — skip the materialization there.
      lazy val replays = prof(spark, "replays (materialize)") {
        val r = replaysFor(vFroms(_).get, changed)
        if (shape.distinctCols.isEmpty && shape.avgCols.isEmpty) r
        else r.map(_.localCheckpoint())
      }
      // DISTINCT STATE first: fold each side table's (keys, value)
      // counts over ITS window and commit — all side commits land
      // BEFORE the view commit, so a crash anywhere leaves the view
      // watermark old and the rerun re-folds only what didn't commit
      shape.distinctCols.foreach { case (n, e) =>
        val sp = sidePath(mvPath, n)
        val sm = Snapshot.latestManifest(spark, sp).get
        val sFroms = srcs.indices.map(i => sm.streamBatch(wmKey(srcs, i)))
        val sChanged = srcs.indices.filterNot(i => sFroms(i) >= vNows(i))
        if (sChanged.nonEmpty) {
          // the common case shares the view's materialized feeds; a
          // side healing from its OWN window (post-crash divergence)
          // replays that window separately
          val sameWindow = sChanged == changed &&
            sChanged.forall(i => vFroms(i).contains(sFroms(i)))
          val feeds = if (sameWindow) replays else replaysFor(sFroms(_), sChanged)
          val sDelta = prof(spark, s"side delta ($n)") {
            sideDelta(feeds, shape, e).localCheckpoint() }
          prof(spark, s"side fold+commit ($n)") {
            if (sDelta.isEmpty)
              Snapshot.commitMetaOn(spark, sp, sm,
                s"REFRESH DISTINCT STATE $opTail (no-op window)")(stamp)
            else
              foldCommitRestricted(spark, sp, sm, sDelta,
                shape.keys.headOption.map(_._1),
                cur => foldSide(cur, sDelta, shape),
                op = s"REFRESH DISTINCT STATE $opTail (incremental)",
                finish = stamp)
          }
        }
      }
      // the per-group MIN/MAX recompute tier reads the NEW state of
      // every changed source (others at their watermark) — lazily
      // built, only executed for groups a delete actually dented
      lazy val childAtNew = PlanBridge.dataFrame(spark,
        substituted(shape.child, srcs.indices.map { i =>
          srcKey(srcs(i)) -> (if (changed.contains(i)) readAt(i, vNows(i))
          else readAt(i, vFroms(i).get))
        }.toMap))
      // AVG STATE next: the one avg side table folds through the SAME
      // machinery as the view (its shape is a plain COUNT/SUM rollup
      // over the same child) — committed BEFORE the view, exactly like
      // the distinct sides, with the identical crash-divergence story
      if (shape.avgCols.nonEmpty) {
        val ash = shape.avgShape
        val sp = avgSidePath(mvPath)
        val sm = Snapshot.latestManifest(spark, sp).get
        val sFroms = srcs.indices.map(i => sm.streamBatch(wmKey(srcs, i)))
        val sChanged = srcs.indices.filterNot(i => sFroms(i) >= vNows(i))
        if (sChanged.nonEmpty) {
          val sameWindow = sChanged == changed &&
            sChanged.forall(i => vFroms(i).contains(sFroms(i)))
          val feeds = if (sameWindow) replays else replaysFor(sFroms(_), sChanged)
          val aDelta = prof(spark, "avg side delta") {
            groupedDelta(feeds, ash).localCheckpoint() }
          prof(spark, "avg side fold+commit") {
            if (aDelta.isEmpty)
              Snapshot.commitMetaOn(spark, sp, sm,
                s"REFRESH AVG STATE $opTail (no-op window)")(stamp)
            else
              foldCommitRestricted(spark, sp, sm, aDelta,
                ash.keys.headOption.map(_._1),
                cur => foldDeltas(cur, aDelta, ash, childAtNew),
                op = s"REFRESH AVG STATE $opTail (incremental)",
                finish = stamp)
          }
        }
      }
      val current = Snapshot.readManifestFiles(spark, mvPath, mvM, mvM.files)
      // evaluate the replays EXACTLY ONCE: the grouped delta is
      // state-group-sized, so it checkpoints cheaply, and both the
      // no-op probe and the fold read the materialized copy — without
      // this the replay trees (the expensive part: change feeds joined
      // through the defining tree) would run once for the emptiness
      // check and again for the fold
      val delta0 = prof(spark, "view delta") {
        groupedDelta(replays, shape).localCheckpoint() }
      if (delta0.isEmpty)
        Snapshot.commitMetaOn(spark, mvPath, mvM,
          s"REFRESH MATERIALIZED VIEW $opTail (no-op window)")(stamp)
      // patch-free shapes commit through the file-restricted fold: a
      // group ABSENT from the view delta provably kept its state row.
      // Shapes with COUNT(DISTINCT)/AVG columns cannot restrict on the
      // view delta alone — a value swap inside a group can change the
      // side state (and so the patched column) while every view-owned
      // aggregate nets to neutral — so they keep the whole rewrite.
      else if (shape.distinctCols.isEmpty && shape.avgCols.isEmpty)
        prof(spark, "view fold+commit") {
          foldCommitRestricted(spark, mvPath, mvM, delta0,
            shape.keys.headOption.map(_._1),
            cur => foldDeltas(cur, delta0, shape, childAtNew),
            op = s"REFRESH MATERIALIZED VIEW $opTail (incremental)",
            finish = stamp)
        }
      else prof(spark, "view fold+commit") {
        val folded = foldDeltas(current, delta0, shape, childAtNew)
        // COUNT(DISTINCT) columns derive from the just-committed side
        // states: per-group row counts of a state-sized table — never
        // a fact pass
        val curSchema = org.apache.spark.sql.types.StructType.fromDDL(mvM.schemaDdl)
        val next0 = shape.distinctCols.foldLeft(folded) { case (acc, (n, _)) =>
          patchDistinct(acc, Snapshot.read(spark, sidePath(mvPath, n)),
            n, shape, curSchema(n).dataType)
        }
        // AVG columns derive from the just-committed avg side state —
        // one state-sized join for all of them
        val next = if (shape.avgCols.isEmpty) next0
          else patchAvg(next0, Snapshot.read(spark, avgSidePath(mvPath)),
            shape, curSchema)
        Snapshot.replaceWholeTableOn(spark, mvPath, mvM, next,
          op = s"REFRESH MATERIALIZED VIEW $opTail (incremental)", finish = stamp)
      }
    }
    incremental match {
      case Some(shape) => incrementalRefresh(shape)
      case None =>
        val reads = srcs.indices.map(i => srcKey(srcs(i)) ->
          Snapshot.readVersion(spark, paths(i), vNows(i)).queryExecution.logical).toMap
        val result = PlanBridge.dataFrame(spark, substituted(plan, reads))
        // a rollup view with COUNT(DISTINCT) columns rebuilds its side
        // tables from the SAME pinned reads (healing a missing or
        // window-broken side), committed BEFORE the view so a crash
        // leaves the view watermark old and the rerun heals again
        shape0.filter(_.distinctCols.nonEmpty).foreach { sh =>
          val childDf = PlanBridge.dataFrame(spark, substituted(sh.child, reads))
          sh.distinctCols.foreach { case (n, e) =>
            val sp = sidePath(mvPath, n)
            val current = Snapshot.latestManifest(spark, sp)
            val sideCurrent = current.exists(sm => srcs.indices.forall(i =>
              sm.streamBatch.get(wmKey(srcs, i)).exists(_ >= vNows(i))))
            if (!sideCurrent) current match {
              case Some(sm) =>
                Snapshot.replaceWholeTableOn(spark, sp, sm,
                  sideState(childDf, sh, e),
                  op = s"REFRESH DISTINCT STATE $opTail (full recompute)",
                  finish = stamp)
              case None =>
                Snapshot.create(spark, sp, sideState(childDf, sh, e),
                  clusterBy = sh.keys.headOption.map(_._1).toSeq,
                  properties = Map(SideProp -> mvPath) ++
                    (if (sh.keys.isEmpty) Map.empty[String, String]
                     else Map("graft.write.sorted" -> "range")))
                val sm = Snapshot.latestManifest(spark, sp).get
                Snapshot.commitMetaOn(spark, sp, sm,
                  s"MATERIALIZE DISTINCT STATE $opTail")(stamp)
            }
          }
        }
        // ...and the avg side heals the same way (exact-typed args
        // only — a floating-AVG view never owns one)
        shape0.filter(_.avgCols.nonEmpty).foreach { sh =>
          val childDf = PlanBridge.dataFrame(spark, substituted(sh.child, reads))
          if (exactAvg(childDf, sh)) {
            val sp = avgSidePath(mvPath)
            val current = Snapshot.latestManifest(spark, sp)
            val sideCurrent = current.exists(sm => srcs.indices.forall(i =>
              sm.streamBatch.get(wmKey(srcs, i)).exists(_ >= vNows(i))))
            if (!sideCurrent) current match {
              case Some(sm) =>
                Snapshot.replaceWholeTableOn(spark, sp, sm,
                  avgSideState(childDf, sh),
                  op = s"REFRESH AVG STATE $opTail (full recompute)",
                  finish = stamp)
              case None =>
                Snapshot.create(spark, sp, avgSideState(childDf, sh),
                  clusterBy = sh.keys.headOption.map(_._1).toSeq,
                  properties = Map(SideProp -> mvPath) ++
                    (if (sh.keys.isEmpty) Map.empty[String, String]
                     else Map("graft.write.sorted" -> "range")))
                val sm = Snapshot.latestManifest(spark, sp).get
                Snapshot.commitMetaOn(spark, sp, sm,
                  s"MATERIALIZE AVG STATE $opTail")(stamp)
            }
          }
        }
        Snapshot.replaceWholeTableOn(spark, mvPath, mvM, result,
          op = s"REFRESH MATERIALIZED VIEW $opTail (full recompute)", finish = stamp)
    }
    Some(vFroms.head.getOrElse(0L) -> vNows.head)
  }

  /** `REFRESH MATERIALIZED VIEW … CASCADE`: refresh the view's own MV
    * sources FIRST (depth-first, each table visited once), then the
    * view — one statement lands an entire STACKED rollup family (the
    * reference's hora → diario → mensual tiers as materialized views,
    * consumo_usuarios.py:278-291) at the fleet's current fact
    * versions; without the cascade each outer tier would trail its
    * source by one refresh. Each per-table refresh keeps its own
    * exactly-once commit contract — a crash mid-cascade leaves a
    * prefix of the stack refreshed and the rerun no-ops over it.
    */
  def refreshCascade(spark: SparkSession, mvPath: String,
                     resolvePath: Seq[String] => String): Option[(Long, Long)] = {
    def go(path: String, seen: Set[String]): Unit = {
      val root = Snapshot.qualifiedRoot(spark, path)
      if (seen.contains(root)) return
      val m = Snapshot.latestManifest(spark, path).getOrElse(return)
      val sqlText = m.properties.getOrElse(SqlProp, return)
      val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
      sourceRelations(plan, sqlText).foreach { src =>
        go(resolvePath(src), seen + root)
      }
      refresh(spark, path, resolvePath)
    }
    val m = Snapshot.latestManifest(spark, mvPath).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $mvPath"))
    val sqlText = m.properties.getOrElse(SqlProp, throw new IllegalArgumentException(
      s"not a materialized view (no $SqlProp property): $mvPath"))
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    sourceRelations(plan, sqlText).foreach { src =>
      go(resolvePath(src), Set(Snapshot.qualifiedRoot(spark, mvPath)))
    }
    refresh(spark, mvPath, resolvePath)
  }

  /** Auto-route support ([[graft.plans.MvAutoRoute]]): the CURRENT MV
    * version, its defining SQL, and each source's (name parts,
    * recorded watermark). None when the table is not an MV.
    */
  private[graft] def routeInfo(spark: SparkSession, mvPath: String):
      Option[(Long, String, Seq[(Seq[String], Option[Long])])] =
    Snapshot.latestManifest(spark, mvPath).flatMap { m =>
      m.properties.get(SqlProp).map { sqlText =>
        val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
        val srcs = sourceRelations(plan, sqlText)
        (m.version, sqlText,
          srcs.indices.map(i => srcs(i) -> m.streamBatch.get(wmKey(srcs, i))))
      }
    }

  /** Auto-route support for the DISTINCT containment tier: the side
    * table backing COUNT(DISTINCT) state column `stateCol`, IF it is
    * exactly in sync with the view (same watermark per source — a side
    * that ran ahead across a crash window reflects newer data than the
    * view's watermark and MUST NOT serve queries pinned at it).
    * Returns (side path, side version).
    */
  private[graft] def sideRouteInfo(spark: SparkSession, mvPath: String,
                                   stateCol: String): Option[(String, Long)] = {
    val mvM = Snapshot.latestManifest(spark, mvPath).getOrElse(return None)
    val sqlText = mvM.properties.getOrElse(SqlProp, return None)
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    val srcs = sourceRelations(plan, sqlText)
    val sp = sidePath(mvPath, stateCol)
    Snapshot.latestManifest(spark, sp).filter { sm =>
      sm.properties.get(SideProp).exists(p =>
        Snapshot.qualifiedRoot(spark, p) == Snapshot.qualifiedRoot(spark, mvPath)) &&
        srcs.indices.forall(i => sm.streamBatch.get(wmKey(srcs, i)).isDefined &&
          sm.streamBatch.get(wmKey(srcs, i)) == mvM.streamBatch.get(wmKey(srcs, i)))
    }.map(sm => sp -> sm.version)
  }

  /** Auto-route support for the AVG containment tier over an
    * AVG-declaring view: the avg-state side table, IF exactly in sync
    * with the view (same watermark per source — the [[sideRouteInfo]]
    * contract). Returns (side path, side version).
    */
  private[graft] def avgRouteInfo(spark: SparkSession,
                                  mvPath: String): Option[(String, Long)] = {
    val mvM = Snapshot.latestManifest(spark, mvPath).getOrElse(return None)
    val sqlText = mvM.properties.getOrElse(SqlProp, return None)
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    val srcs = sourceRelations(plan, sqlText)
    val sp = avgSidePath(mvPath)
    Snapshot.latestManifest(spark, sp).filter { sm =>
      sm.properties.get(SideProp).exists(p =>
        Snapshot.qualifiedRoot(spark, p) == Snapshot.qualifiedRoot(spark, mvPath)) &&
        srcs.indices.forall(i => sm.streamBatch.get(wmKey(srcs, i)).isDefined &&
          sm.streamBatch.get(wmKey(srcs, i)) == mvM.streamBatch.get(wmKey(srcs, i)))
    }.map(sm => sp -> sm.version)
  }

  // ----------------------------------------------------------- internals

  /** Stage timing for the incremental refresh, printed only under
    * `spark.graft.mv.profile=true` — a diagnostic seam for the
    * optimization rounds; zero cost when off.
    */
  private def prof[A](spark: SparkSession, label: String)(f: => A): A =
    if (!spark.conf.getOption("spark.graft.mv.profile").contains("true")) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"[mvprof] $label%-30s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  private def srcKey(parts: Seq[String]): String =
    parts.map(_.toLowerCase).mkString(".")

  /** Per-source watermark keys: the FIRST source keeps the plain
    * [[ConsumerId]] (single-source views look exactly as they always
    * did); the rest key `__graft_mv@<name>`.
    */
  private def wmKey(srcs: Seq[Seq[String]], i: Int): String =
    if (i == 0) ConsumerId else s"$ConsumerId@${srcKey(srcs(i))}"

  private def wmEntries(srcs: Seq[Seq[String]], vs: Seq[Long]): Map[String, Long] =
    srcs.indices.map(i => wmKey(srcs, i) -> vs(i)).toMap

  /** The DISTINCT source relations the defining SQL reads, in first-
    * appearance order (the first is the view's primary watermark).
    */
  private def sourceRelations(plan: LogicalPlan, sqlText: String): Seq[Seq[String]] = {
    val rels = plan.collect { case r: UnresolvedRelation => r.multipartIdentifier }
    require(rels.nonEmpty, s"materialized view query reads no table: $sqlText")
    rels.foldLeft(Vector.empty[Seq[String]]) { (acc, r) =>
      if (acc.exists(a => srcKey(a) == srcKey(r))) acc else acc :+ r
    }
  }

  private def occurrences(plan: LogicalPlan, key: String): Int =
    plan.collect {
      case r: UnresolvedRelation if srcKey(r.multipartIdentifier) == key => r
    }.size

  /** Substitute every source occurrence whose key has a replacement —
    * the one pinning funnel for create, recompute, and the delta
    * replay (where the changed source becomes the change feed).
    */
  private def substituted(plan: LogicalPlan,
                          reads: Map[String, LogicalPlan]): LogicalPlan =
    plan.transformUp {
      case r: UnresolvedRelation =>
        reads.get(srcKey(r.multipartIdentifier))
          .map(p => SubqueryAlias(r.multipartIdentifier.last, p): LogicalPlan)
          .getOrElse(r)
    }

  /** The rollup shape the incremental path handles:
    * `SELECT keys…, aggs… FROM <inner-join/filter tree over relations>
    * GROUP BY keys` where every agg is COUNT(*), SUM, MIN or MAX of a
    * deterministic expression, at least one COUNT(*) present (it
    * carries group liveness — a group whose count reaches zero drops,
    * exactly like the recompute), and every GROUP BY key is SELECTed.
    */
  /** `keys` pairs the SELECTed state name with the EXPRESSION it
    * groups on — a bare source column (`c_mktsegment AS seg`) or a
    * deterministic scalar expression of source columns
    * (`date_trunc('day', ts) AS dia`, the reference's landing-rollup
    * grain). The MV state speaks the alias; the delta replays speak
    * the expression, always under synthesized `__gk_<i>` names so
    * duplicate raw column names (fact.dk ⋈ dim.dk) never collide.
    */
  private final case class Shape(keys: Seq[(String, Expression)],
                                 cols: Seq[(String, AggCol)],
                                 child: LogicalPlan) {
    def distinctCols: Seq[(String, Expression)] =
      cols.collect { case (n, DistinctOf(e)) => n -> e }
    def avgCols: Seq[(String, Expression)] =
      cols.collect { case (n, AvgOf(e)) => n -> e }
    /** The avg side table's own rollup shape: same keys and child,
      * state columns `__n` (liveness) + per avg column `__s_<name>`
      * (sum) and `__c_<name>` (non-null count) — so the side folds
      * through the very machinery that folds the view.
      */
    def avgShape: Shape = Shape(keys,
      keys.map { case (sn, ke) => sn -> (KeyOf(ke): AggCol) } ++
        (("__n" -> (CountStar: AggCol)) +: avgCols.flatMap { case (n, e) =>
          Seq(s"__s_$n" -> (SumOf(e): AggCol),
            s"__c_$n" -> (CountOf(e): AggCol))
        }),
      child)
  }
  private sealed trait AggCol
  private final case class KeyOf(keyExpr: Expression) extends AggCol
  private case object CountStar extends AggCol
  private final case class CountOf(e: Expression) extends AggCol
  private final case class SumOf(e: Expression) extends AggCol
  private final case class MinOf(e: Expression) extends AggCol
  private final case class MaxOf(e: Expression) extends AggCol
  private final case class DistinctOf(e: Expression) extends AggCol
  private final case class AvgOf(e: Expression) extends AggCol
  private final case class KmvOf(e: Expression, k: Int) extends AggCol

  /** Scalar SQL functions admissible inside an expression-valued
    * grouping key: known-deterministic at PARSE time. An unresolved
    * function cannot answer `deterministic` truthfully (rand() parses
    * to a childless UnresolvedFunction that claims determinism), so
    * the incremental tier admits only names from this list; anything
    * else demotes to the always-correct full pinned recompute.
    */
  private val DetScalarFns: Set[String] = Set(
    "date_trunc", "trunc", "year", "quarter", "month", "day", "dayofmonth",
    "hour", "minute", "second", "weekofyear", "dayofweek", "dayofyear",
    "last_day", "to_date", "date_format", "date_add", "date_sub",
    "add_months", "datediff", "months_between", "unix_date",
    "substr", "substring", "concat", "concat_ws", "upper", "lower", "lpad",
    "rpad", "trim", "ltrim", "rtrim", "left", "right", "split_part",
    "translate", "replace", "regexp_replace", "regexp_extract", "length",
    "format_number", "elt", "instr",
    "abs", "floor", "ceil", "ceiling", "round", "mod", "pmod",
    "greatest", "least", "sign", "conv",
    "coalesce", "nvl", "nullif", "if", "ifnull",
    "md5", "sha1", "sha2", "crc32", "hash", "xxhash64")

  /** Admissible key expression: every function call whitelisted
    * deterministic, no DISTINCT/FILTER, no stars, no subqueries.
    */
  private def keyExprOk(e: Expression): Boolean =
    !e.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION) &&
      !e.exists {
        case f: UnresolvedFunction =>
          f.isDistinct || f.filter.nonEmpty ||
            !DetScalarFns(f.nameParts.map(_.toLowerCase).mkString("."))
        case _: UnresolvedStar => true
        case _ => false
      }

  /** Inner-join/filter trees over base relations delta-distribute
    * (Δ over one side replays with the others fixed); anything else —
    * outer joins, subqueries, nondeterminism — does not, so it takes
    * the full-recompute path.
    */
  private def okChild(p: LogicalPlan): Boolean = p match {
    case _: UnresolvedRelation => true
    case SubqueryAlias(_, c) => okChild(c)
    case Filter(cond, c) =>
      cond.deterministic && !cond.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION) && okChild(c)
    case Join(l, r, Inner, cond, _) =>
      cond.forall(c => c.deterministic && !c.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION)) &&
        okChild(l) && okChild(r)
    case _ => false
  }

  private def rollupShape(plan: LogicalPlan): Option[Shape] = plan match {
    case Aggregate(groupingExprs, aggExprs, child, _) =>
      if (!okChild(child)) return None
      // a GLOBAL rollup (no GROUP BY) has no key columns for the fold
      // join / side tables to key on — full recompute (always correct;
      // a one-row view costs nothing to recompute anyway)
      if (groupingExprs.isEmpty) return None
      // grouping keys: attributes or admissible DETERMINISTIC scalar
      // expressions of source columns (`GROUP BY date_trunc('day',
      // ts)` — the reference's landing-rollup grain). Ordinals and
      // attribute-free expressions demote (an ordinal's meaning is
      // resolution-time; a constant key is degenerate).
      groupingExprs.foreach {
        case _: UnresolvedAttribute => ()
        case e if keyExprOk(e) &&
            e.exists(_.isInstanceOf[UnresolvedAttribute]) => ()
        case _ => return None
      }
      // a FILTER (WHERE …) clause is invisible to the delta fold —
      // folding the unfiltered argument would silently diverge, so
      // every arm requires filter.isEmpty (demoting to full recompute)
      def aggOf(e: Expression): Option[AggCol] = e match {
        case f: UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("count") &&
              f.filter.isEmpty =>
          f.arguments match {
            case Seq(Literal(1, _)) if !f.isDistinct => Some(CountStar)
            case Seq(_: UnresolvedStar) if !f.isDistinct => Some(CountStar)
            case Seq(arg) if arg.deterministic &&
                arg.collectFirst { case g: UnresolvedFunction => g }.isEmpty =>
              // COUNT(col) folds like COUNT(*) gated on non-null;
              // COUNT(DISTINCT col) folds through the co-maintained
              // (keys, value) distinct-state side table
              if (f.isDistinct) Some(DistinctOf(arg)) else Some(CountOf(arg))
            case _ => None // multi-arg distinct etc.: full recompute
          }
        case f: UnresolvedFunction
            if Seq(Seq("sum"), Seq("min"), Seq("max"))
              .contains(f.nameParts.map(_.toLowerCase)) && !f.isDistinct &&
              f.filter.isEmpty =>
          f.arguments match {
            case Seq(arg) if arg.deterministic &&
              arg.collectFirst { case g: UnresolvedFunction => g }.isEmpty =>
              f.nameParts.map(_.toLowerCase) match {
                case Seq("sum") => Some(SumOf(arg))
                case Seq("min") => Some(MinOf(arg))
                case _ => Some(MaxOf(arg))
              }
            case _ => None
          }
        // AVG(x) auto-expands into internal SUM+COUNT state — one
        // co-maintained `<mv>__avgs` side table carries (keys, __n,
        // __s_<col>, __c_<col>); the view's avg column derives from
        // them on every refresh by replaying Average's own evaluate
        // chain (funnel_emisor.py:160-164 publishes avg_minutes on
        // every rollup — porting it verbatim must not lose
        // incrementality)
        case f: UnresolvedFunction
            if Seq(Seq("avg"), Seq("mean"))
              .contains(f.nameParts.map(_.toLowerCase)) && !f.isDistinct &&
              f.filter.isEmpty =>
          f.arguments match {
            case Seq(arg) if arg.deterministic &&
              arg.collectFirst { case g: UnresolvedFunction => g }.isEmpty =>
              Some(AvgOf(arg))
            case _ => None
          }
        // graft_bottomk(hash, k) — the KMV distinct sketch as BOUNDED
        // MV state (the 100 TB relief valve for exact distinct: the
        // side table is O(distinct pairs), the sketch is k longs per
        // group). Inserts fold by the classic KMV merge (bottom-k of a
        // union); deletes take a delete-triggered re-derive tier (see
        // foldDeltas). The hash argument rides the same deterministic
        // whitelist as key expressions (md5/conv/substring chains).
        case f: UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("graft_bottomk") &&
              !f.isDistinct && f.filter.isEmpty =>
          f.arguments match {
            case Seq(arg, Literal(k: Int, _))
                if k > 0 && keyExprOk(arg) &&
                  arg.exists(_.isInstanceOf[UnresolvedAttribute]) =>
              Some(KmvOf(arg, k))
            case _ => None
          }
        case _ => None
      }
      val cols = aggExprs.map {
        case a: UnresolvedAttribute if groupingExprs.contains(a) =>
          a.nameParts.last -> (KeyOf(a): AggCol)
        case Alias(k, name) if groupingExprs.contains(k) =>
          name -> (KeyOf(k): AggCol)
        case Alias(child, name) =>
          aggOf(child) match {
            case Some(c) => name -> c
            case None => return None
          }
        case _ => return None // unaliased aggs would break the oracle anyway
      }
      if (!cols.exists(_._2 == CountStar)) return None // liveness column required
      // every GROUP BY key must be SELECTed (bare or aliased): otherwise
      // the MV state lacks the key column and foldDeltas' join on
      // __cur.<key> would fail at REFRESH time (an un-refreshable view)
      // instead of demoting here to the always-correct full recompute
      if (!groupingExprs.forall(g => cols.exists(_._2 == KeyOf(g)))) return None
      val keyPairs = cols.collect { case (n, KeyOf(e)) => n -> e }
      Some(Shape(keyPairs, cols, child))
    case _ => None
  }

  /** The distinct-state table body: one row per (group keys under their
    * STATE names, non-null value of `e` as `__v`) with its occurrence
    * count `__vcnt`. NULLs are excluded up front — COUNT(DISTINCT x)
    * ignores them, so they must never hold a state row alive.
    */
  private def sideState(childDf: DataFrame, shape: Shape,
                        e: Expression): DataFrame =
    childDf.where(ColumnBridge.column(e).isNotNull)
      .groupBy(shape.keys.map { case (sn, ke) =>
        ColumnBridge.column(ke).as(sn) } :+
        ColumnBridge.column(e).as("__v"): _*)
      .agg(count(lit(1)).as("__vcnt"))

  /** The signed per-(keys, value) delta of a distinct column's refresh
    * window — the side-table analogue of [[groupedDelta]]: each replay
    * groups to (child key cols, value) with a signed occurrence count,
    * replays merge on the same synthesized name.
    */
  private def sideDelta(feeds: Seq[DataFrame], shape: Shape,
                        e: Expression): DataFrame = {
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val keyCols = shape.keys.zipWithIndex.map { case ((_, ke), i) =>
      ColumnBridge.column(ke).as(s"__gk_$i") }
    val mergeKeys = shape.keys.indices.map(i => col(s"__gk_$i"))
    val perFeed = feeds.map(_.where(ColumnBridge.column(e).isNotNull)
      .groupBy(keyCols :+ ColumnBridge.column(e).as("__v"): _*)
      .agg(sum(sign).as("__dc")))
    // zero-sum rows (signed-feed cancellation pairs, rewrite windows)
    // change no occurrence count — drop them so a net-no-op window
    // yields an EMPTY delta (metadata-only side commit, no rewrite)
    val eff = col("__dc") =!= 0
    if (perFeed.size == 1) perFeed.head.where(eff)
    else perFeed.reduce(_ unionByName _)
      .groupBy(mergeKeys :+ col("__v"): _*)
      .agg(sum(col("__dc")).as("__dc"))
      .where(eff)
  }

  /** Fold a [[sideDelta]] into the current side state: null-safe join
    * on (keys, value), counts add, rows whose count reaches zero drop
    * (their value no longer exists in the group — exactly what makes
    * the derived COUNT(DISTINCT) track deletes of a group's LAST
    * occurrence of a value).
    */
  private def foldSide(cur: DataFrame, delta0: DataFrame,
                       shape: Shape): DataFrame = {
    val delta = delta0.select(
      shape.keys.zipWithIndex.map { case ((sn, _), i) =>
        col(s"__gk_$i").as(sn) } ++
        Seq(col("__v"), col("__dc")): _*)
    val c = cur.alias("__cur")
    val d = delta.alias("__dlt")
    val keyNames = shape.keys.map(_._1) :+ "__v"
    val on = keyNames.map(k => col(s"__cur.$k") <=> col(s"__dlt.$k"))
      .reduce(_ && _)
    c.join(d, on, "full_outer")
      .select(keyNames.map(k =>
        coalesce(col(s"__cur.$k"), col(s"__dlt.$k")).as(k)) :+
        (coalesce(col("__cur.__vcnt"), lit(0L)) +
          coalesce(col("__dlt.__dc"), lit(0L))).as("__vcnt"): _*)
      .where(col("__vcnt") > 0)
  }

  /** File-restricted state-fold commit — the O(changed-files) WRITE
    * path for incremental refreshes (opt guide §2.4/§6). Collects the
    * delta's first-group-key values (gated by
    * `spark.graft.mv.foldKeysMax`, default 1000), stats-prunes the
    * state manifest to the files that might hold an affected group,
    * runs `fold` over ONLY those files' rows, and retains every other
    * live file byte-identical ([[Snapshot.replaceFilesOn]] — their
    * stats ride along, no data pass). Sound because every fold here is
    * per-group local: a state row whose group key matches no delta key
    * passes through the full-outer fold join unchanged (COUNT/SUM add
    * 0, MIN/MAX fold a null insert, dent flags coalesce to false, the
    * liveness guard keeps it), so fold(touched ⊎ retained) =
    * fold(touched) ⊎ retained — and a file the pruner drops provably
    * holds no delta key (prune() keeps a superset of matching files;
    * first-key containment bounds full-key containment). Falls back to
    * the whole-table rewrite whenever restriction is unsound
    * (partitioned or DV-carrying state) or useless (≤1 file, gate
    * exceeded, nothing retained). With the state layout clustered by
    * the group keys (`graft.write.sorted=range`, set at creation)
    * state files carry disjoint key ranges, so at scale a churn window
    * rewrites only the dented files: the refresh write path becomes
    * O(change) like the read path, instead of a whole-state rewrite
    * per refresh window.
    */
  private def foldCommitRestricted(spark: SparkSession, sp: String,
                                   sm: Snapshot.Manifest, delta: DataFrame,
                                   stateKey: Option[String],
                                   fold: DataFrame => DataFrame,
                                   op: String,
                                   finish: Snapshot.Manifest => Snapshot.Manifest): Long = {
    def whole(): Long = Snapshot.replaceWholeTableOn(spark, sp, sm,
      fold(Snapshot.readManifestFiles(spark, sp, sm, sm.files)), op, finish)
    val gate = spark.conf.getOption("spark.graft.mv.foldKeysMax")
      .map(_.toInt).getOrElse(1000)
    if (stateKey.isEmpty || gate <= 0 || sm.files.size <= 1 ||
      sm.partitionCols.nonEmpty || sm.dvs.nonEmpty) return whole()
    // the delta is caller-checkpointed: this key collect reads the
    // materialized change-sized copy, never the replay trees
    val keys = delta.select(col("__gk_0")).distinct()
      .limit(gate + 1).collect().map(_.get(0))
    if (keys.length > gate || keys.isEmpty) return whole()
    val nonNull = keys.filter(_ != null)
    val k = col(stateKey.get)
    val pred = ((if (nonNull.nonEmpty) Seq(k.isin(nonNull.toSeq: _*)) else Nil) ++
      (if (nonNull.length < keys.length) Seq(k.isNull) else Nil)).reduce(_ || _)
    val touched = SnapshotStats.prune(spark, sm, pred, Some(sp))
    val retained = sm.files.diff(touched)
    if (retained.isEmpty) return whole()
    Snapshot.replaceFilesOn(spark, sp, sm, retained,
      fold(Snapshot.readManifestFiles(spark, sp, sm, touched)), op, finish)
  }

  /** Overwrite one COUNT(DISTINCT) column of the folded view with the
    * side table's per-group row count (0 for live groups whose values
    * are all null). State-sized join, column order preserved.
    */
  private def patchDistinct(mv: DataFrame, side: DataFrame, name: String,
                            shape: Shape,
                            dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val agg = side.groupBy(shape.keys.map(k => col(k._1)): _*)
      .agg(count(lit(1)).cast(dt).as(s"__pd_$name"))
    val a = mv.alias("__mv")
    val b = agg.alias("__sd")
    val on = shape.keys.map(_._1)
      .map(k => col(s"__mv.$k") <=> col(s"__sd.$k")).reduce(_ && _)
    a.join(b, on, "left").select(shape.cols.map {
      case (n2, _) if n2 == name =>
        coalesce(col(s"__pd_$name"), lit(0L).cast(dt)).as(n2)
      case (n2, _) => col(s"__mv.$n2")
    }: _*)
  }

  /** The per-group signed delta of a refresh window. Each element of
    * `feeds` is the defining query's child tree replayed over ONE
    * changed source's net change feed (the telescoping terms) — its
    * rows carry `_change_type`.
    *
    * Each replay is grouped into its per-group delta FIRST and the
    * grouped deltas merged (SUM of sums/counts, MIN/MAX of the
    * insert/delete extrema): the merge columns are all synthesized
    * names, so a child tree with duplicate raw column names (fact.dk ⋈
    * dim.dk — the archetypal join shape) never meets a by-name union.
    */
  private def groupedDelta(feeds: Seq[DataFrame], shape: Shape): DataFrame = {
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val isIns = col("_change_type") === "insert"
    val aggs = shape.cols.flatMap {
      case (name, CountStar) => Seq(sum(sign).as(s"__d_$name"))
      case (name, CountOf(e)) => Seq(
        sum(when(ColumnBridge.column(e).isNotNull, sign).otherwise(0L))
          .as(s"__d_$name"))
      case (name, SumOf(e)) =>
        Seq(sum(ColumnBridge.column(e) * sign).as(s"__d_$name"))
      case (name, MinOf(e)) => Seq(
        min(when(isIns, ColumnBridge.column(e))).as(s"__ins_$name"),
        min(when(!isIns, ColumnBridge.column(e))).as(s"__del_$name"))
      case (name, MaxOf(e)) => Seq(
        max(when(isIns, ColumnBridge.column(e))).as(s"__ins_$name"),
        max(when(!isIns, ColumnBridge.column(e))).as(s"__del_$name"))
      // KMV: the window's inserted hashes as their own bottom-k sketch
      // (mergeable into the state), plus the SMALLEST deleted hash —
      // the only statistic the dent test needs
      case (name, KmvOf(e, k)) => Seq(
        call_function("graft_bottomk",
          when(isIns, ColumnBridge.column(e)), lit(k)).as(s"__ins_$name"),
        min(when(!isIns, ColumnBridge.column(e))).as(s"__delmin_$name"))
      case _ => Seq.empty
    }
    val keyCols = shape.keys.zipWithIndex.map { case ((_, ke), i) =>
      ColumnBridge.column(ke).as(s"__gk_$i") }
    // drop NEUTRAL delta rows — groups whose window nets to no state
    // change. With the SIGNED feed (no exceptAll cancellation) a
    // compaction/rewrite window grids out as all-zero rows; filtering
    // them (a) keeps the no-op-window contract (empty delta → metadata
    // commit, no file rewrite) and (b) keeps the fold's delta side
    // O(truly-changed groups). Per column: count/sum neutral iff the
    // signed sum is 0 or NULL; MIN/MAX, with ONE feed, neutral iff the
    // window's insert and delete extrema agree (min(S∖D∪I) = min(S)
    // when min(I) = min(D) and counts cancel: a deleted minimum is
    // re-inserted, and anything else deleted sits above it — provably
    // no state change, because a single feed's deletes are a
    // sub-multiset of the prior state). With SEVERAL feeds a
    // telescoped replay carries transient rows (inserted by one feed,
    // deleted by a later one), so equal extrema prove nothing: MIN/MAX
    // is neutral only when the window touched neither side. KMV
    // neutral only when the window touched nothing (bottom-k equality
    // of ins/del hashes does NOT imply the sketch survives — a deleted
    // mid-sketch hash can hide behind matching bottom-ks).
    val multiFeed = feeds.size > 1
    val effective = shape.cols.flatMap {
      case (name, CountStar | CountOf(_) | SumOf(_)) =>
        Seq(coalesce(col(s"__d_$name") =!= 0, lit(false)))
      case (name, MinOf(_) | MaxOf(_)) if multiFeed =>
        Seq(col(s"__ins_$name").isNotNull || col(s"__del_$name").isNotNull)
      case (name, MinOf(_) | MaxOf(_)) =>
        Seq(!(col(s"__ins_$name") <=> col(s"__del_$name")))
      case (name, KmvOf(_, _)) =>
        Seq(col(s"__delmin_$name").isNotNull ||
          size(coalesce(col(s"__ins_$name"), array().cast("array<bigint>"))) > 0)
      case _ => Seq.empty
    }.reduceOption(_ || _).getOrElse(lit(true))
    val perFeed = feeds.map(_.groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*))
    if (perFeed.size == 1) perFeed.head.where(effective)
    else {
      val merge = shape.cols.flatMap {
        case (name, CountStar | CountOf(_) | SumOf(_)) =>
          Seq(sum(col(s"__d_$name")).as(s"__d_$name"))
        case (name, MinOf(_)) =>
          Seq(min(col(s"__ins_$name")).as(s"__ins_$name"),
            min(col(s"__del_$name")).as(s"__del_$name"))
        case (name, MaxOf(_)) =>
          Seq(max(col(s"__ins_$name")).as(s"__ins_$name"),
            max(col(s"__del_$name")).as(s"__del_$name"))
        case (name, KmvOf(_, k)) => Seq(
          slice(array_sort(array_distinct(
            flatten(collect_list(col(s"__ins_$name"))))), 1, k)
            .as(s"__ins_$name"),
          min(col(s"__delmin_$name")).as(s"__delmin_$name"))
        case _ => Seq.empty
      }
      perFeed.reduce(_ unionByName _)
        .groupBy(shape.keys.indices.map(i => col(s"__gk_$i")): _*)
        .agg(merge.head, merge.tail: _*)
        .where(effective)
    }
  }

  /** Fold a [[groupedDelta]] into the current state. Null-safe on
    * group keys (GROUP BY treats nulls as one group, so must the
    * join).
    *
    * COUNT/SUM fold arithmetically. MIN/MAX fold inserts as
    * least/greatest; a delete at-or-beyond the folded extremum marks
    * the group for re-derivation from `childAtNew` (the defining
    * query's child with every changed source at its NEW version) —
    * conservative (a delete EQUAL to the extremum recomputes even when
    * a twin row still holds it) but exact, and O(affected groups): the
    * rest of the state is never touched and the recompute aggregates
    * only semi-joined rows.
    */
  private def foldDeltas(current: DataFrame, delta0: DataFrame, shape: Shape,
                         childAtNew: => DataFrame): DataFrame = {
    // the delta speaks synthesized `__gk_<i>` names on its keys; the
    // state speaks the SELECT aliases — rename at the seam so the fold
    // join and all output columns live in state-name space
    val delta = delta0.select(
      shape.keys.zipWithIndex.map { case ((sn, _), i) =>
        col(s"__gk_$i").as(sn) } ++
        delta0.columns.filterNot(_.startsWith("__gk_")).map(col): _*)
    val cur = current.alias("__cur")
    val dlt = delta.alias("__dlt")
    val on = shape.keys.map { case (sn, _) => col(s"__cur.$sn") <=> col(s"__dlt.$sn") }
      .reduce(_ && _)
    val curSchema = current.schema
    def outCol(name: String, c: AggCol): Column = c match {
      case KeyOf(_) => coalesce(col(s"__cur.$name"), col(s"__dlt.$name")).as(name)
      case CountStar | CountOf(_) =>
        (coalesce(col(s"__cur.$name"), lit(0L)) +
          coalesce(col(s"__d_$name"), lit(0L)))
          .cast(curSchema(name).dataType).as(name)
      // distinct counts and avg columns are PATCHED from their folded
      // side tables after this fold (see refresh) — pass the stale
      // value through; a brand-new group passes null, the patch
      // overwrites both
      case DistinctOf(_) | AvgOf(_) =>
        col(s"__cur.$name").cast(curSchema(name).dataType).as(name)
      case SumOf(_) =>
        // delta-null tracking: both sides null stays null (an all-null
        // group), anything else folds arithmetically
        when(col(s"__cur.$name").isNull && col(s"__d_$name").isNull,
          lit(null).cast(curSchema(name).dataType))
          .otherwise((coalesce(col(s"__cur.$name"), lit(0)) +
            coalesce(col(s"__d_$name"), lit(0)))
            .cast(curSchema(name).dataType)).as(name)
      case MinOf(_) =>
        least(col(s"__cur.$name"), col(s"__ins_$name"))
          .cast(curSchema(name).dataType).as(name)
      case MaxOf(_) =>
        greatest(col(s"__cur.$name"), col(s"__ins_$name"))
          .cast(curSchema(name).dataType).as(name)
      // KMV insert merge: bottom-k of the union of the current sketch
      // and the window's insert sketch — the classic KMV merge
      // identity bottomk(bottomk(A) ∪ bottomk(B)) = bottomk(A ∪ B).
      // Deletes are handled by the dent test below.
      case KmvOf(_, k) =>
        val empty = array().cast("array<bigint>")
        slice(array_sort(array_union(
          coalesce(col(s"__cur.$name"), empty),
          coalesce(col(s"__ins_$name"), empty))), 1, k)
          .cast(curSchema(name).dataType).as(name)
    }
    // a group needs re-derivation when a delete reaches the folded
    // extremum. The comparison is NULL when the window deleted nothing
    // from the group (or the state is all-null) — coalesce to false or
    // three-valued logic would drop the row from BOTH branches below.
    val recFlags = shape.cols.collect {
      case (name, MinOf(_)) => coalesce(
        col(s"__del_$name") <= least(col(s"__cur.$name"), col(s"__ins_$name")),
        lit(false))
      case (name, MaxOf(_)) => coalesce(
        col(s"__del_$name") >= greatest(col(s"__cur.$name"), col(s"__ins_$name")),
        lit(false))
      // a KMV group dents when a deleted hash could be INSIDE the
      // sketch: the sketch holds the whole distinct set (size < k), or
      // the smallest deleted hash is at or under the kth statistic.
      // A deleted hash above the kth was never in the sketch and can
      // only move further out (inserts only lower the threshold).
      // Conservative (the value may survive via other rows) but exact.
      case (name, KmvOf(_, k)) =>
        val cur = col(s"__cur.$name")
        val dm = col(s"__delmin_$name")
        coalesce(when(dm.isNotNull,
          size(cur) < k || dm <= element_at(cur, size(cur))), lit(false))
    }
    val liveness = shape.cols.collectFirst { case (n, CountStar) => n }.get
    val folded0 = cur.join(dlt, on, "full_outer")
      .select(shape.cols.map { case (n, c) => outCol(n, c) } :+
        recFlags.reduceOption(_ || _).getOrElse(lit(false)).as("__rec"): _*)
      .where(col(liveness) > 0)
    if (recFlags.isEmpty) return folded0.drop("__rec")
    // the dent-tiered path reads the fold THREE times (the emptiness
    // probe, the keep branch, the affected key set feeding the
    // re-derivation semi-join) — materialize the state-sized fold once
    // instead of re-running the full-outer join per consumer
    val folded = folded0.localCheckpoint()
    val keep = folded.where(!col("__rec")).drop("__rec")
    val affected = folded.where(col("__rec"))
      .select(shape.keys.map { case (sn, _) => col(sn) }: _*)
    // state-sized decision (the MV rollup, not the source): skip the
    // recompute branch entirely when no delete dented an extremum
    if (affected.isEmpty) return keep
    // re-derive ONLY the affected groups: semi-join the defining
    // query's child at the new source version against the (broadcast-
    // tiny) affected key set, then the original aggregation — bitwise
    // the recompute's result for exactly those groups. The key
    // expressions and every aggregate's input are projected as
    // `__gk_<i>` / `__ra_<name>` columns BEFORE the child is re-aliased,
    // so expression keys, duplicate raw names and the defining query's
    // own table qualifiers (`MIN(l.price)` over `lineitem l`) all
    // resolve against the child, never against the alias.
    val gkCols = shape.keys.zipWithIndex.map { case ((_, ke), i) =>
      ColumnBridge.column(ke).as(s"__gk_$i") }
    val inputs = shape.cols.collect {
      case (name, CountOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, SumOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, MinOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, MaxOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, DistinctOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, AvgOf(e)) => ColumnBridge.column(e).as(s"__ra_$name")
      case (name, KmvOf(e, _)) => ColumnBridge.column(e).as(s"__ra_$name")
    }
    val src = childAtNew.select(gkCols ++ inputs: _*).alias("__src")
    val aff = affected.alias("__aff")
    val semiOn = shape.keys.zipWithIndex.map { case ((sn, _), i) =>
      col(s"__src.__gk_$i") <=> col(s"__aff.$sn")
    }.reduce(_ && _)
    val reAggs = shape.cols.collect {
      case (name, CountStar) => count(lit(1)).cast(curSchema(name).dataType).as(name)
      case (name, CountOf(_)) =>
        count(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, SumOf(_)) =>
        sum(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, MinOf(_)) =>
        min(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, MaxOf(_)) =>
        max(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, DistinctOf(_)) =>
        count_distinct(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, AvgOf(_)) =>
        avg(col(s"__ra_$name")).cast(curSchema(name).dataType).as(name)
      case (name, KmvOf(_, k)) =>
        call_function("graft_bottomk", col(s"__ra_$name"), lit(k))
          .cast(curSchema(name).dataType).as(name)
    }
    val rederived = src.join(broadcast(aff), semiOn, "left_semi")
      .groupBy(shape.keys.indices.map(i => col(s"__gk_$i")): _*)
      .agg(reAggs.head, reAggs.tail: _*)
      .select(shape.cols.map {
        case (n, KeyOf(_)) =>
          col(s"__gk_${shape.keys.indexWhere(_._1 == n)}").as(n)
        case (n, _) => col(n)
      }: _*)
    keep.unionByName(rederived)
  }
}
