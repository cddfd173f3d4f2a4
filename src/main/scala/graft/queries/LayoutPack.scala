package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Storage-layout layer: the table organization that decides how much
  * of a 100 TB table a query has to READ before any operator runs.
  * The reference leans on BigQuery clustering for this
  * (`cluster_fields` on its landing tables); on parquet the writer has
  * to produce the layout itself — `Layout.zorderWrite` (Morton
  * interleaving + one range exchange).
  *
  * q80 oracle-gates the full round trip: write events z-ordered on
  * (user_id, value), read the table back, and answer a 2-D range box
  * aggregate. The oracle runs the same aggregate over the raw events
  * table — the layout must be value-invisible (same multiset, footer
  * statistics only affect how much a reader can SKIP, which
  * LayoutSpec pins directly on row-group metadata).
  */
object LayoutPack extends QueryPack {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val q80 = QueryDef(
    "q80_zorder_scan",
    Some("""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events
           |WHERE user_id BETWEEN 40 AND 70 AND value BETWEEN 200.0 AND 240.0
           |GROUP BY 1 ORDER BY event_type""".stripMargin)) { t =>
    val dir = java.nio.file.Files.createTempDirectory("graft_q80_zorder").toString + "/events_z"
    Layout.zorderWrite(
      t.events.select("event_id", "user_id", "event_type", "value"),
      dir, Seq("user_id", "value"), numFiles = 16)
    t.spark.read.parquet(dir)
      .where(col("user_id").between(40, 70) && col("value").between(200.0, 240.0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  val q84 = QueryDef(
    "q84_global_ordinals",
    Some("""SELECT doc_id, n_chars,
           |  CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS ordinal
           |FROM documents ORDER BY doc_id""".stripMargin)) { t =>
    // Global contiguous ordinals by (n_chars, doc_id) — the id-assignment
    // step (sample indices, shard offsets) that naively plans as a
    // one-partition global sort. Layout.ordinals produces the identical
    // numbering from bucket arithmetic + per-bucket distributed sorts;
    // the oracle runs the naive global window, proving equivalence.
    Layout.ordinals(t.documents.select(col("doc_id"), col("n_chars")),
        "n_chars", Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"), col("ordinal"))
      .orderBy("doc_id")
  }

  val q87 = QueryDef(
    "q87_bucketed_join",
    Some("""SELECT c.c_mktsegment, COUNT(*) AS n,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)) { t =>
    // The recurring-join layout: both sides persisted bucketed on the
    // join key, so the join itself plans WITHOUT an exchange on either
    // side (LayoutSpec pins that on the physical plan with broadcast
    // disabled) — at 100 TB the shuffle is paid once at landing time
    // and every nightly join after it is a map-side merge. The oracle
    // joins the raw tables: bucketing must be value-invisible.
    val dir = java.nio.file.Files.createTempDirectory("graft_q87").toString
    Layout.bucketedWrite(t.orders.select("o_custkey", "o_totalprice"),
      "graft_b_orders", s"$dir/orders", "o_custkey", 8)
    Layout.bucketedWrite(t.customer.select("c_custkey", "c_mktsegment"),
      "graft_b_customer", s"$dir/customer", "c_custkey", 8)
    val o = t.spark.table("graft_b_orders")
    val c = t.spark.table("graft_b_customer")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  val q106 = QueryDef(
    "q106_compaction_roundtrip",
    Some("""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // Small-file compaction under the oracle gate: fragment the fact
    // into ~16 files per partition (a streaming/hourly append's natural
    // decay), run the partition-restricted compactor, and answer from
    // the compacted copy — value-identical to the original, which is
    // what the oracle reads. CompactionSpec pins the layout effects
    // (file counts, untouched partitions' files unchanged, idempotence);
    // this query pins that the rewrite moves no data.
    val dir = java.nio.file.Files.createTempDirectory("graft_q106").toString + "/events_c"
    graft.operators.Snapshot.create(t.spark, dir,
      t.events.select("event_id", "ts", "user_id", "event_type", "value").repartition(16),
      Seq("event_type"))
    graft.operators.Snapshot.compact(t.spark, dir, targetBytes = 1L << 30, minFiles = 4)
    graft.operators.Snapshot.read(t.spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
        countDistinct(col("user_id")).as("users"))
      .orderBy("event_type")
  }

  val q116 = QueryDef(
    "q116_snapshot_pipeline",
    Some("""WITH target AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |), updates AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |     OR o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
           |), merged AS (
           |  SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
           |  UNION ALL SELECT * FROM updates
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // The snapshot/commit-log table end to end — create, MERGE-by-id
    // through the routed writer (one atomic manifest commit, pinned
    // reads, no read-own-overwrite hazard), compact, vacuum, read back.
    // This is the write contract the reference gets from BigQuery
    // (atomic load/DELETE/MERGE, funnel_live.py:106-174) rebuilt on a
    // plain filesystem; the oracle recomputes the same merge
    // relationally, so the layer must be value-invisible.
    val dir = java.nio.file.Files.createTempDirectory("graft_q116").toString + "/orders_s"
    val base = t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    val cut95 = lit("1995-01-01 00:00:00").cast("timestamp")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val target = base.where(col("o_orderdate") >= cut95 && col("o_orderdate") < cut97)
      .drop("o_orderdate")
    val updates = base.where(col("o_orderdate") >= cut97 || col("o_orderdate") < cut95)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    graft.operators.Snapshot.create(t.spark, dir, target, Seq("o_orderpriority"))
    // updates keep each key's priority, so the id-embeds-partition
    // contract holds — asserted, not assumed
    graft.operators.Writers.mergeByIdWritePartitioned(
      t.spark, dir, updates, "o_orderkey", "o_orderpriority", assertIdsLocal = true)
    graft.operators.Snapshot.compact(t.spark, dir, targetBytes = 1L << 30, minFiles = 2)
    graft.operators.Snapshot.vacuum(t.spark, dir, keepVersions = 1, orphanGraceMs = 0L)
    graft.operators.Snapshot.read(t.spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q117 = QueryDef(
    "q117_snapshot_pruned_scan",
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           |  AND o_totalprice > 150000.0
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // Manifest data skipping end to end: land orders range-laid-out on
    // o_orderdate (16 files, disjoint date spans — the natural layout of
    // a date-partitioned ingest), then answer a half-year slice through
    // Snapshot.readWhere. The manifest's per-file min/max lets the read
    // OPEN only the files whose span intersects the slice — at 100 TB
    // that is the difference between listing+scheduling every file of
    // the table and touching ~5% of them — and the residual filter
    // makes pruning value-invisible, which is what the oracle (same
    // predicate over raw orders) checks. The require pins that skipping
    // actually happened; SnapshotStatsSpec pins the per-type semantics.
    val dir = java.nio.file.Files.createTempDirectory("graft_q117").toString + "/orders_s"
    val base = t.orders
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
      .repartitionByRange(16, col("o_orderdate"))
    graft.operators.Snapshot.create(t.spark, dir, base)
    val pred = col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
      col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp") &&
      col("o_totalprice") > 150000.0
    val (kept, total) = graft.operators.Snapshot.pruneFiles(t.spark, dir, pred)
    require(kept.size < total / 2,
      s"expected the date band to skip most files, kept ${kept.size}/$total")
    graft.operators.Snapshot.readWhere(t.spark, dir, pred)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q118 = QueryDef(
    "q118_snapshot_changes",
    Some("""WITH base AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           |), upd AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           |), merged AS (
           |  SELECT * FROM base
           |  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           |    AND o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           |  UNION ALL SELECT * FROM upd
           |), feed AS (
           |  SELECT 'delete' AS _change_type, o_orderpriority, o_totalprice FROM base
           |  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           |  UNION ALL
           |  SELECT 'insert' AS _change_type, o_orderpriority, o_totalprice FROM merged
           |)
           |SELECT _change_type, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { t =>
    // The snapshot change feed as an incremental consumer sees it: a
    // MERGE that touches two of five priority partitions produces
    // delete(old partition content) + insert(merged partition content)
    // — and NOTHING for untouched partitions, so the nightly consumer's
    // cost is O(changed partitions), never a table diff. The oracle
    // recomputes the same feed relationally from the raw table.
    val dir = java.nio.file.Files.createTempDirectory("graft_q118").toString + "/orders_s"
    val cut96 = lit("1996-01-01 00:00:00").cast("timestamp")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val cols = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = t.orders.where(col("o_orderdate") < cut96)
      .select(cols.map(col): _*)
    val upd = t.orders
      .where(col("o_orderdate") >= cut97 &&
        col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    graft.operators.Snapshot.create(t.spark, dir, base, Seq("o_orderpriority"))
    graft.operators.Snapshot.mergeById(t.spark, dir, upd, "o_orderkey", "o_orderpriority")
    graft.operators.Snapshot.readChanges(t.spark, dir, 1L, 2L)
      .groupBy("_change_type", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("_change_type", "o_orderpriority")
  }

  val q119 = QueryDef(
    "q119_incremental_mv",
    Some("""WITH base AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           |), upd AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           |), final AS (
           |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           |  UNION ALL SELECT * FROM upd
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // Incremental materialized-view maintenance off the change feed:
    // the rollup is computed ONCE at v1, the table then takes a MERGE,
    // and the new rollup is produced by applying the net v1→v2 deltas
    // (insert = +row, delete = −row) — never rescanning the table. The
    // oracle recomputes the rollup from the final table state, proving
    // delta-application ≡ recompute. At 100 TB this is the difference
    // between a nightly O(changed partitions) job and a nightly table
    // scan per downstream aggregate.
    val dir = java.nio.file.Files.createTempDirectory("graft_q119").toString + "/orders_s"
    val cut96 = lit("1996-01-01 00:00:00").cast("timestamp")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val base = t.orders.where(col("o_orderdate") < cut96)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val upd = t.orders
      .where(col("o_orderdate") >= cut97 &&
        col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    graft.operators.Snapshot.create(t.spark, dir, base, Seq("o_orderpriority"))
    // the standing view, built at v1 and never rebuilt (decimal state so
    // delta-application is exact and order-independent)
    val mv = graft.operators.Snapshot.readVersion(t.spark, dir, 1L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    graft.operators.Snapshot.mergeById(t.spark, dir, upd, "o_orderkey", "o_orderpriority")
    val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    // signed feed: this fold is sum-of-signs per group, so the net
    // feed's exceptAll cancellation is a provable no-op — skipped
    val delta = graft.operators.Snapshot.readChangesSigned(t.spark, dir, 1L, 2L)
      .groupBy("o_orderpriority")
      .agg(sum(sgn).as("dn"),
        sum((col("o_totalprice").cast("decimal(18,2)") * sgn).cast("decimal(28,2)")).as("dtotal"))
    mv.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("dtotal"), lit(0).cast("decimal(28,2)"))).cast("double").as("total"))
      .where(col("n") > 0)
      .orderBy("o_orderpriority")
  }

  val q120 = QueryDef(
    "q120_schema_evolution",
    Some("""SELECT
           |  CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           |       THEN '(pre-evolution)' ELSE o_orderpriority END AS pr,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // Schema evolution across commits — the snapshot form of the
    // reference's autodetect loads (BigQuery `schema=[]` destinations
    // grow columns as batches bring them, audio_digital.py:350,
    // indicadores_cia.py:80-86): the table starts 2-column, a later
    // append brings o_orderpriority with mergeSchema, and every
    // pre-evolution file reads the new column as NULL. The oracle
    // recomputes the same shape from the raw table with the evolution
    // boundary as a CASE.
    val dir = java.nio.file.Files.createTempDirectory("graft_q120").toString + "/orders_s"
    val cut96 = lit("1996-01-01 00:00:00").cast("timestamp")
    graft.operators.Snapshot.create(t.spark, dir,
      t.orders.where(col("o_orderdate") < cut96)
        .select("o_orderkey", "o_totalprice"))
    graft.operators.Snapshot.append(t.spark, dir,
      t.orders.where(col("o_orderdate") >= cut96)
        .select("o_orderkey", "o_totalprice", "o_orderpriority"),
      mergeSchema = true)
    graft.operators.Snapshot.read(t.spark, dir)
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("pr"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("pr")
  }

  val q121 = QueryDef(
    "q121_snapshot_sql_source",
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // The snapshot table through the REGISTERED data source and plain
    // SQL — no engine API in the query path at all: Catalyst pushes the
    // WHERE into the relation's buildScan, which drives the manifest
    // pruner, and re-applies the predicate above the scan so skipping
    // stays an optimization. SnapshotStatsSpec asserts the skip count
    // for this exact shape; here the oracle gates the values.
    val dir = java.nio.file.Files.createTempDirectory("graft_q121").toString + "/orders_s"
    graft.operators.Snapshot.create(t.spark, dir,
      t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
        .repartitionByRange(16, col("o_orderdate")))
    t.spark.read.format("graft.sources.SnapshotSource").load(dir)
      .createOrReplaceTempView("graft_q121_orders")
    t.spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_q121_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val q122 = QueryDef(
    "q122_metadata_agg",
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           |  MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
           |  MIN(o_orderpriority) AS min_pr, MAX(o_orderpriority) AS max_pr,
           |  CAST(COUNT(o_totalprice) AS BIGINT) AS cnt_o_totalprice
           |FROM orders""".stripMargin)) { t =>
    // COUNT/MIN/MAX answered from the MANIFEST alone — zero data files
    // opened (the plan under the agg is a #files-row local relation).
    // File minima/maxima are exact file-level aggregates, so their fold
    // is the exact table aggregate; the oracle recomputes from the raw
    // rows. String min/max participate because stored string stats are
    // exact unless truncation-marked (then metadataAgg refuses). At
    // 100 TB this is the difference between a metadata lookup and a
    // full scan for the most common profiling query there is.
    val dir = java.nio.file.Files.createTempDirectory("graft_q122").toString + "/orders_s"
    graft.operators.Snapshot.create(t.spark, dir,
      t.orders.select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .repartitionByRange(16, col("o_orderdate")))
    graft.operators.Snapshot.metadataAgg(t.spark, dir,
      Seq("o_totalprice", "o_orderdate", "o_orderpriority"))
      .select(col("n"),
        col("min_o_totalprice").as("min_price"), col("max_o_totalprice").as("max_price"),
        col("min_o_orderdate").as("min_date"), col("max_o_orderdate").as("max_date"),
        col("min_o_orderpriority").as("min_pr"), col("max_o_orderpriority").as("max_pr"),
        col("cnt_o_totalprice"))
  }

  val q126 = QueryDef.staged(
    "q126_multilevel_compact",
    Some("""SELECT o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { t =>
    // FIXTURE (untimed): two fragmented loads land (priority, year)
    // leaves as several small files each — the hourly-append decay
    // every 100 TB fact table accumulates. Commit-protocol scaffolding,
    // not the operator under test, so it stages outside Bench's window.
    val dir = java.nio.file.Files.createTempDirectory("graft_q126").toString + "/orders_s"
    val lo = lit("1995-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val base = t.orders
      .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
    val cut = lit("1996-01-01 00:00:00").cast("timestamp")
    graft.operators.Snapshot.create(t.spark, dir,
      base.where(col("o_orderdate") < cut).repartition(3), Seq("o_orderpriority", "yr"))
    graft.operators.Snapshot.append(t.spark, dir,
      base.where(col("o_orderdate") >= cut).repartition(3))
    dir
  } { (t, dir: String) =>
    // MEASURED: one multi-column `compact` bin-packs every fragmented
    // leaf in a single atomic commit — and moves no rows across
    // partitions — then the rollup reads the compacted table. The
    // oracle recomputes from the raw table, so any row lost,
    // duplicated or re-homed by the rewrite fails the gate.
    val packed = graft.operators.Snapshot.compact(t.spark, dir, minFiles = 2)
    require(packed.nonEmpty, "fixture must fragment at least one leaf")
    graft.operators.Snapshot.read(t.spark, dir)
      .groupBy(col("o_orderpriority"), col("yr"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority", "yr")
  }

  val q133 = QueryDef.staged(
    "q133_bloom_index_lookup",
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
           |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
           |FROM orders WHERE o_orderkey IN (7, 1033, 1402)
           |ORDER BY o_orderkey""".stripMargin)) { t =>
    // FIXTURE (untimed): the fact table lands as 8 hash-scattered files
    // — every file's o_orderkey range spans the whole key space, the
    // shape on which min/max stats prune NOTHING — then the bloom index
    // builds as maintenance (like compact/zorder: protocol scaffolding,
    // not the lookup under test).
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q133").toString + "/orders_s"
    Snapshot.create(t.spark, dir,
      t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(8))
    Snapshot.bloomIndex(t.spark, dir, Seq("o_orderkey"))
    dir
  } { (t, dir: String) =>
    // MEASURED: the point lookup itself. The bloom sidecars prove which
    // files can hold the probed ids, so the scan opens at most one file
    // per id instead of all 8 — the needle-in-haystack read a MERGE's
    // source matching does on every run at 100 TB (funnel_live.py's
    // upsert by id). The prune is asserted, the rows oracle-checked.
    val keys = Seq(7L, 1033L, 1402L)
    val out = graft.operators.Snapshot.readWhere(t.spark, dir, col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
    // false positives may KEEP a file beyond the true matches (that is
    // the bloom contract) — at 1% fpp more than a few extra keeps
    // would mean the index is not probing at all
    val (kept, total) = graft.operators.SnapshotStats.lastPrune
    require(total == 8 && kept <= keys.size + 3,
      s"bloom index failed to prune the point lookup: kept $kept of $total")
    out
  }

  val q134 = QueryDef.staged(
    "q134_column_mapping",
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS doc_key,
           |  CAST(o_totalprice AS DOUBLE) AS price
           |FROM orders WHERE o_orderkey BETWEEN 100 AND 300
           |ORDER BY doc_key""".stripMargin)) { t =>
    // FIXTURE (untimed): half the fact lands, then a SQL-text RENAME
    // re-labels two columns METADATA-ONLY (zero bytes move — the only
    // honest rename on 100 TB of immutable parquet), the other half
    // appends under the NEW names (stored under the stable physical
    // names), and a DROP retires a column. The oracle recomputes from
    // the raw table with plain aliases, so any value lost, re-homed or
    // resurrected by the mapping fails the gate.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q134").toString + "/orders_s"
    val reg = Map("orders_cm" -> dir)
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Snapshot.create(t.spark, dir, base.where(col("o_orderkey") % 2 === 0).repartition(2))
    Snapshot.sql(t.spark, "ALTER TABLE orders_cm RENAME COLUMN o_orderkey TO doc_key", reg)
    Snapshot.sql(t.spark, "ALTER TABLE orders_cm RENAME COLUMN o_totalprice TO price", reg)
    // metadata-only widening: the int32 files re-read as BIGINT exactly
    Snapshot.sql(t.spark, "ALTER TABLE orders_cm ALTER COLUMN doc_key TYPE BIGINT", reg)
    Snapshot.append(t.spark, dir,
      base.where(col("o_orderkey") % 2 === 1).repartition(2)
        .withColumnRenamed("o_orderkey", "doc_key")
        .withColumnRenamed("o_totalprice", "price"))
    Snapshot.sql(t.spark, "ALTER TABLE orders_cm DROP COLUMN o_orderpriority", reg)
    dir
  } { (t, dir: String) =>
    // MEASURED: a plain SQL range query through the MAPPED source —
    // renamed names in the predicate and projection, old and new files
    // answering as one table.
    graft.operators.Snapshot.sqlQuery(t.spark,
      """SELECT CAST(doc_key AS BIGINT) AS doc_key, CAST(price AS DOUBLE) AS price
        |FROM orders_cm WHERE doc_key BETWEEN 100 AND 300
        |ORDER BY doc_key""".stripMargin,
      Map("orders_cm" -> dir))
  }

  val q135 = QueryDef.staged(
    "q135_restore_undo",
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the fact lands, a WRONG maintenance DELETE
    // destroys a slice, and SQL-text RESTORE undoes it as a
    // metadata-only forward commit — the lakehouse answer to the
    // reference's recurring re-extract-after-bad-load pattern
    // (delete-and-replace windows exist exactly because loads go
    // wrong). The oracle recomputes from the raw table, so the gate
    // fails if restore loses, duplicates or re-types anything.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q135").toString + "/orders_s"
    val reg = Map("orders_r" -> dir)
    Snapshot.create(t.spark, dir,
      t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(4))
    val good = Snapshot.latestManifest(t.spark, dir).get.version
    Snapshot.sql(t.spark,
      "DELETE FROM orders_r WHERE o_orderpriority = '1-URGENT'", reg)
    Snapshot.sql(t.spark, s"RESTORE TABLE orders_r TO VERSION AS OF $good", reg)
    dir
  } { (t, dir: String) =>
    // MEASURED: the rollup over the restored table through plain SQL.
    graft.operators.Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders_r GROUP BY 1 ORDER BY 1""".stripMargin,
      Map("orders_r" -> dir))
  }

  val q136 = QueryDef.staged(
    "q136_partition_transform",
    Some("""SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,3)) AS DECIMAL(38,3))) AS DOUBLE) AS total
           |FROM events
           |WHERE CAST(date_trunc('day', ts) AS DATE)
           |  BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the event stream lands into a DAY-transform
    // partitioned table (PARTITIONED BY (days(ts)) — the reference's
    // DAY-partitioned BigQuery landing tables, consumo_detalle.py:
    // 301-306): half at create, half appended WITHOUT the generated
    // column — the engine derives ts_day on every write.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q136").toString + "/events_s"
    val base = t.events.select(col("event_id"), col("ts"), col("value"))
    Snapshot.create(t.spark, dir, base.where(col("event_id") % 2 === 0),
      Seq("ts_day"), Map("ts_day" -> "CAST(date_trunc('DAY', ts) AS DATE)"))
    Snapshot.append(t.spark, dir, base.where(col("event_id") % 2 === 1))
    dir
  } { (t, dir: String) =>
    // MEASURED: a day-range rollup through plain SQL — the generated
    // column is the predicate AND the grain, so partition pruning is
    // EXACT (only the three matching day directories are even listed).
    val out = graft.operators.Snapshot.sqlQuery(t.spark,
      """SELECT CAST(ts_day AS STRING) AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,3)) AS DECIMAL(38,3))) AS DOUBLE) AS total
        |FROM events_s
        |WHERE ts_day BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      Map("events_s" -> dir))
    out
  }

  val q128 = QueryDef(
    "q128_row_level_dml",
    Some("""WITH survivors AS (
           |  SELECT o_orderkey, o_orderpriority,
           |    CASE WHEN o_orderpriority = '1-URGENT'
           |           AND o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
           |         THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice
           |  FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM survivors GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // Row-level DELETE + UPDATE against a year-partitioned snapshot
    // table — the copy-on-write DML tier end to end. The DELETE's
    // predicate aligns with whole partitions (those files DROP from the
    // manifest with no rewrite); the UPDATE cuts across them (only
    // files holding a matching row are rewritten). The oracle
    // recomputes the final state from the raw table, so a row deleted
    // too eagerly, kept wrongly, double-updated or lost in the rewrite
    // fails the gate. This is the reference's BigQuery DELETE/MERGE
    // maintenance (consumo_detalle.py) as it has to work on 100 TB of
    // immutable parquet: rewrite the minimum, atomically.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q128").toString + "/orders_s"
    val base = t.orders
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
    Snapshot.create(t.spark, dir, base.repartition(2), Seq("yr"))
    Snapshot.delete(t.spark, dir, col("yr") >= 1998)
    Snapshot.update(t.spark, dir,
      col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") < lit("1993-01-01 00:00:00").cast("timestamp"),
      Map("o_totalprice" -> (col("o_totalprice") * 3)))
    Snapshot.read(t.spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q129 = QueryDef.staged(
    "q129_sql_text_dml",
    Some("""WITH base AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate,
           |         CAST(year(o_orderdate) AS INT) AS yr FROM orders
           |), survivors AS (
           |  SELECT o_orderpriority,
           |    CASE WHEN yr = 1997 AND o_orderpriority = '5-LOW'
           |           THEN o_totalprice * 2
           |         WHEN o_orderpriority = '1-URGENT'
           |           AND o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
           |           THEN o_totalprice * 3
           |         ELSE o_totalprice END AS o_totalprice
           |  FROM base
           |  WHERE yr < 1998
           |    AND (o_orderkey % 1000 <> 7
           |         OR (yr = 1997 AND o_orderpriority = '5-LOW'))
           |  UNION ALL
           |  SELECT o_orderpriority, o_totalprice FROM base
           |  WHERE yr = 1998 AND o_orderpriority = '2-HIGH'
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM survivors GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the year-partitioned snapshot table plus the
    // merge-source temp view — protocol scaffolding staged outside
    // Bench's window; a fresh fixture per pass keeps the DML
    // statements below non-idempotent-safe.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q129").toString + "/orders_s"
    val base = t.orders
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
    Snapshot.create(t.spark, dir, base.repartition(2), Seq("yr"))
    base.where((col("yr") === 1997 && col("o_orderpriority") === "5-LOW") ||
        (col("yr") === 1998 && col("o_orderpriority") === "2-HIGH"))
      .withColumn("o_totalprice",
        when(col("yr") === 1997, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      .createOrReplaceTempView("q129_updates")
    dir
  } { (t, dir: String) =>
    // MEASURED: q128's copy-on-write DML driven entirely from SQL TEXT
    // — the reference's maintenance statements pasted as-is (DELETE
    // window, UPDATE backfill, MERGE upsert: consumo_detalle.py:317-340,
    // funnel_live.py:106-174) through Snapshot.sql's session-parser
    // front end into the same minimum-rewrite tiers. The oracle
    // recomputes the final state from the raw table, so a predicate
    // mis-parse, a qualifier mis-resolution, or an assignment applied
    // to the wrong rows fails the gate.
    import graft.operators.Snapshot
    val reg = Map("orders_s" -> dir)
    Snapshot.sql(t.spark, "DELETE FROM orders_s WHERE yr >= 1998", reg)
    Snapshot.sql(t.spark,
      "UPDATE orders_s SET o_totalprice = o_totalprice * 3 " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "AND o_orderdate < TIMESTAMP '1993-01-01 00:00:00'", reg)
    // point delete (~0.1% of rows per file): takes the DELETION-VECTOR
    // tier — zero data files rewritten, readers anti-join the vector —
    // and the oracle's recompute gates its value-invisibility. The
    // merge below re-inserts any 1997/5-LOW rows this removed (they
    // stop matching and become WHEN NOT MATCHED inserts).
    Snapshot.sql(t.spark, "DELETE FROM orders_s WHERE o_orderkey % 1000 = 7", reg)
    // the reference's aliased explicit-arm MERGE shape
    // (funnel_live.py:155-172), verbatim modulo names; the source view
    // was registered by the fixture stage
    Snapshot.sql(t.spark,
      """MERGE INTO orders_s t_final
        |USING q129_updates t_update
        |ON t_final.o_orderkey = t_update.o_orderkey
        |WHEN MATCHED THEN
        |UPDATE SET
        |    o_totalprice = t_update.o_totalprice
        |WHEN NOT MATCHED THEN
        |INSERT (o_orderkey, o_orderpriority, o_totalprice, o_orderdate, yr)
        |VALUES (o_orderkey, o_orderpriority, o_totalprice, o_orderdate, yr)
        |""".stripMargin, reg)
    Snapshot.read(t.spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q127 = QueryDef.staged(
    "q127_change_feed_rollup",
    Some("""WITH base AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |), ins AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
           |), upd AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice * 3 AS o_totalprice FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           |    AND o_orderpriority IN ('2-HIGH', '5-LOW')
           |), final AS (
           |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           |  UNION ALL SELECT * FROM ins
           |  UNION ALL SELECT * FROM upd
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS total
           |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the source table's base load and the empty
    // downstream rollup — two snapshot creates of protocol scaffolding,
    // staged outside Bench's window.
    import graft.operators.Snapshot
    import graft.streaming.FeedConsumer
    val root = java.nio.file.Files.createTempDirectory("graft_q127").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val base = t.orders.where(col("o_orderdate") < cut97)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    Snapshot.create(t.spark, src, base, Seq("o_orderpriority"))
    Snapshot.create(t.spark, dst, FeedConsumer.emptyRollup(t.spark, base, Seq("o_orderpriority")))
    (src, dst)
  } { (t, fixture: (String, String)) =>
    // MEASURED: the change-feed consumer end to end as a
    // BATCH-checkable fact: bootstrap drain, then an append + a merge
    // on the source, then a catch-up drain — the downstream rollup
    // must equal the oracle's full recompute from the source's final
    // state, though the consumer only ever read the NET deltas of each
    // window (O(changed files), q119's algebra run by the standing
    // FeedConsumer with its manifest-watermarked exactly-once publish).
    import graft.operators.Snapshot
    import graft.streaming.FeedConsumer
    val (src, dst) = fixture
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val cutH1 = lit("1997-06-01 00:00:00").cast("timestamp")
    val cut96 = lit("1996-01-01 00:00:00").cast("timestamp")
    val fold = FeedConsumer.additiveRollup(Seq("o_orderpriority"), "o_totalprice") _
    FeedConsumer.drain(t.spark, src, dst, "q127", signed = true)(fold)
    Snapshot.append(t.spark, src,
      t.orders.where(col("o_orderdate") >= cut97 && col("o_orderdate") < cutH1)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"))
    Snapshot.mergeById(t.spark, src,
      t.orders.where(col("o_orderdate") < cut96 &&
          col("o_orderpriority").isin("2-HIGH", "5-LOW"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") * 3).as("o_totalprice")),
      "o_orderkey", "o_orderpriority")
    // additiveRollup is sign-linear: the signed feed folds identically
    // (oracle-gated) and skips the exceptAll cancellation shuffles
    FeedConsumer.drain(t.spark, src, dst, "q127", signed = true)(fold)
    Snapshot.read(t.spark, dst)
      .select(col("o_orderpriority"), col("n"), col("total").cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  val q130 = QueryDef.staged(
    "q130_sql_materialize",
    Some("""WITH src AS (
           |  SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate FROM orders
           |), mat AS (
           |  SELECT o_orderpriority, o_totalprice FROM src
           |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |  UNION ALL
           |  SELECT o_orderpriority, o_totalprice * 2 AS o_totalprice FROM src
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderpriority = '1-URGENT'
           |  UNION ALL
           |  SELECT o_orderpriority, o_totalprice FROM src
           |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM mat GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a CATALOG-resolved source table — the
    // round-10 re-gate: names flow through graft.catalog.GraftCatalog
    // and the vanilla analyzer, no registry map anywhere.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q130").toString
    t.spark.conf.set("spark.sql.catalog.g130", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g130.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g130.db")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
      Seq("o_orderpriority"))
  } { (t, _: Any) =>
    // MEASURED: the reference's QueryJobConfig(destination=…,
    // WRITE_TRUNCATE) materialization as literal SQL text
    // (liveod_editorial.py:282-359: a UNION ALL over branch SELECTs
    // into a destination table), then the incremental INSERT … SELECT
    // half — both plain spark.sql against catalog names: CTAS rides
    // the atomic staged-commit protocol, INSERT the V1-write append,
    // and the SELECT side plans the native manifest scan. The oracle
    // recomputes the destination's final state from the raw table, so
    // a branch lost in the rewrite, a double append, or
    // positional-mapping drift fails the gate.
    t.spark.sql(
      """CREATE OR REPLACE TABLE g130.db.dest AS
        |SELECT o_orderkey, o_orderpriority, o_totalprice FROM g130.db.src
        |WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |UNION ALL
        |SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice FROM g130.db.src
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderpriority = '1-URGENT'
        |""".stripMargin)
    t.spark.sql(
      """INSERT INTO g130.db.dest
        |SELECT o_orderkey, o_orderpriority, o_totalprice FROM g130.db.src
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |""".stripMargin)
    t.spark.table("g130.db.dest")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q131 = QueryDef.staged(
    "q131_time_travel_sql",
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): three commits of the orders table — v1 the
    // pre-1996 base, then two appends — under a CATALOG name, so
    // version arithmetic has something to travel across.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q131").toString
    t.spark.conf.set("spark.sql.catalog.g131", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g131.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g131.db")
    val dir = s"$root/db/orders_s"
    val base = t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    val cut96 = lit("1996-01-01 00:00:00").cast("timestamp")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    Snapshot.create(t.spark, dir, base.where(col("o_orderdate") < cut96), Seq("o_orderpriority"))
    Snapshot.append(t.spark, dir,
      base.where(col("o_orderdate") >= cut96 && col("o_orderdate") < cut97))
    Snapshot.append(t.spark, dir, base.where(col("o_orderdate") >= cut97))
  } { (t, _: Any) =>
    // MEASURED: the incremental-diff-by-time-travel pattern from plain
    // SQL text through the VANILLA analyzer — current state anti-joined
    // against `VERSION AS OF 1` (the pinned first commit, resolved by
    // the catalog's loadTable(ident, version)) gives exactly the rows
    // added since, without any change-feed bookkeeping. The oracle
    // recomputes the same set from the raw table's date cut, so a
    // version mis-pin or a row leaking across the travel boundary
    // fails the gate.
    t.spark.sql(
      """SELECT cur.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(cur.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g131.db.orders_s cur
        |LEFT ANTI JOIN (SELECT o_orderkey FROM g131.db.orders_s VERSION AS OF 1) old
        |ON cur.o_orderkey = old.o_orderkey
        |GROUP BY cur.o_orderpriority ORDER BY cur.o_orderpriority
        |""".stripMargin)
  }

  val q132 = QueryDef.staged(
    "q132_sql_script",
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM (
           |  SELECT o_orderkey, o_orderpriority,
           |    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
           |         ELSE o_totalprice END AS o_totalprice
           |  FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND NOT (o_orderpriority = '5-LOW'
           |             AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
           |)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a catalog-resolved source table
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q132").toString
    t.spark.conf.set("spark.sql.catalog.g132", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g132.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g132.db")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
      Seq("o_orderpriority"))
  } { (t, _: Any) =>
    // MEASURED: a whole reference-job shape as ONE script text —
    // materialize, mutate (UPDATE + DELETE), and read back the final
    // state as the script's result set (the multi-statement-query
    // contract of the warehouse the reference targets) — every
    // statement resolved by the session's own catalog: CTAS through
    // the staged protocol, UPDATE/DELETE through the DML-capture
    // rule, no registry map anywhere. The oracle recomputes the
    // destination from the raw table, so a statement lost, reordered,
    // or double-applied fails the gate.
    graft.operators.Snapshot.sqlScript(t.spark,
      """CREATE OR REPLACE TABLE g132.db.dest AS
        |SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate FROM g132.db.src
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00';
        |
        |UPDATE g132.db.dest SET o_totalprice = o_totalprice * 2
        |WHERE o_orderpriority = '1-URGENT';
        |
        |DELETE FROM g132.db.dest WHERE o_orderpriority = '5-LOW'
        |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00';
        |
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g132.db.dest GROUP BY o_orderpriority ORDER BY o_orderpriority;
        |""".stripMargin).get
  }

  val q137 = QueryDef.staged(
    "q137_multicol_partition_merge",
    // oracle: the destination's final state recomputed from the raw
    // table — the replace-window dataflow (1996 rows tripled in place,
    // 1997-H1 rows inserted into brand-new partition tuples)
    Some("""WITH src AS (
           |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS periodo,
           |    CAST(month(o_orderdate) AS INT) AS mes, o_orderpriority,
           |    o_totalprice, o_orderdate
           |  FROM orders
           |), final AS (
           |  SELECT o_orderkey, periodo, mes, o_orderpriority,
           |    CASE WHEN periodo = 1996 THEN o_totalprice * 3
           |         ELSE o_totalprice END AS o_totalprice
           |  FROM src WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |  UNION ALL
           |  SELECT o_orderkey, periodo, mes, o_orderpriority, o_totalprice
           |  FROM src WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
           |)
           |SELECT periodo, mes, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM final GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { t =>
    // FIXTURE (untimed): the reference's K2 dual-window destinations are
    // (periodo, fecha)-partitioned (consumo_bloques.py); model the tuple
    // as (periodo = year, mes = month) and land the pre-1997 base.
    // Repartition on the tuple so each partition dir is written by one
    // task — the layout a real landing job produces.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q137").toString + "/t"
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val cutJul = lit("1997-07-01 00:00:00").cast("timestamp")
    val src = t.orders.select(col("o_orderkey"),
      year(col("o_orderdate")).as("periodo"), month(col("o_orderdate")).as("mes"),
      col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
    Snapshot.create(t.spark, dir,
      src.where(col("o_orderdate") < cut97).drop("o_orderdate")
        .repartition(col("periodo"), col("mes")),
      Seq("periodo", "mes"))
    // tonight's batch: 1996 rows re-stated at 3x (matched updates) plus
    // 1997-H1 rows (inserts into partitions that do not exist yet)
    src.where(col("periodo") === 1996 ||
        (col("o_orderdate") >= cut97 && col("o_orderdate") < cutJul))
      .withColumn("o_totalprice",
        when(col("periodo") === 1996, col("o_totalprice") * 3)
          .otherwise(col("o_totalprice")))
      .drop("o_orderdate")
      .createOrReplaceTempView("u_q137")
    dir
  } { (t, dir: String) =>
    // MEASURED: the snapshot-atomic MERGE into the MULTI-column-
    // partitioned table, as literal SQL text — the partition
    // restriction must touch only the (periodo, mes) tuples present in
    // the source (1996/1-12 + 1997/1-6), swap them in one commit, and
    // leave 1992-1995 byte-identical. The oracle recomputes the final
    // state from the raw table, so a tuple missed, doubled, or leaked
    // across the restriction fails the gate.
    import graft.operators.Snapshot
    Snapshot.sql(t.spark,
      """MERGE INTO t USING u_q137 u ON t.o_orderkey = u.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Map("t" -> dir))
    Snapshot.read(t.spark, dir)
      .groupBy("periodo", "mes")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("periodo", "mes")
  }

  val q138 = QueryDef.staged(
    "q138_sql_incremental_mv",
    // oracle: the rollup's final state recomputed from the raw table —
    // base (<1997, with 2-HIGH doubled) plus the 1997-H1 inserts
    Some("""WITH src AS (
           |  SELECT o_orderkey, o_orderpriority,
           |    CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |              AND o_orderpriority = '2-HIGH'
           |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
           |  FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM src GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog registration + the source's base load
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q138").toString
    t.spark.conf.set("spark.sql.catalog.g138", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g138.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g138.db")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val raw = t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    raw.createOrReplaceTempView("orders_q138")
    Snapshot.create(t.spark, s"$root/db/src",
      raw.where(col("o_orderdate") < cut97), Seq("o_orderpriority"))
  } { (t, _: Any) =>
    // MEASURED: incremental materialized-view maintenance as PURE SQL
    // text against catalog names — q119's delta algebra with zero
    // Scala plumbing. Build the rollup once (CTAS, decimal-exact),
    // commit two source changes (an append and an UPDATE), then fold
    // ONLY their net changes into the rollup with one MERGE over the
    // table_changes() feed: signed counts/sums per commit-stamped
    // change row, matched groups adjust arithmetically, brand-new
    // groups insert. The oracle recomputes the rollup from the raw
    // table, so a delta dropped, double-applied, or signed wrong
    // fails the gate. The rollup is UNPARTITIONED, gating the
    // whole-table merge tier through the driver too.
    graft.operators.Snapshot.sqlScript(t.spark,
      """CREATE OR REPLACE TABLE g138.db.roll AS
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS total
        |FROM g138.db.src GROUP BY o_orderpriority;
        |
        |INSERT INTO g138.db.src
        |SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate FROM orders_raw
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00';
        |
        |UPDATE g138.db.src SET o_totalprice = o_totalprice * 2
        |WHERE o_orderpriority = '2-HIGH'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00';
        |
        |MERGE INTO g138.db.roll t USING (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS BIGINT) AS dn,
        |    CAST(SUM(CASE WHEN _change_type = 'insert'
        |                  THEN CAST(o_totalprice AS DECIMAL(18,2))
        |                  ELSE -CAST(o_totalprice AS DECIMAL(18,2)) END)
        |         AS DECIMAL(28,2)) AS dtotal
        |  FROM table_changes('g138.db.src', 2) GROUP BY o_orderpriority
        |) u ON t.o_orderpriority = u.o_orderpriority
        |WHEN MATCHED THEN UPDATE SET n = t.n + u.dn, total = t.total + u.dtotal
        |WHEN NOT MATCHED THEN INSERT (o_orderpriority, n, total)
        |  VALUES (u.o_orderpriority, u.dn, u.dtotal);
        |
        |SELECT o_orderpriority, n, CAST(total AS DOUBLE) AS total
        |FROM g138.db.roll ORDER BY o_orderpriority;
        |""".stripMargin.replace("orders_raw", "orders_q138")).get
  }

  val q139 = QueryDef.staged(
    "q139_catalog_stream_roundtrip",
    // oracle: the downstream table's final state recomputed from the
    // raw orders cut — both windows must land exactly once
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog + upstream base load + empty
    // downstream + checkpoint root
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q139").toString
    t.spark.conf.set("spark.sql.catalog.g139", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g139.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g139.db")
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val base = t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/up",
      base.where(col("o_orderdate") < cut97), Seq("o_orderpriority"))
    t.spark.sql(
      """CREATE TABLE g139.db.down (o_orderkey BIGINT, o_orderpriority STRING,
        |  o_totalprice DOUBLE, o_orderdate TIMESTAMP)
        |PARTITIONED BY (o_orderpriority)""".stripMargin)
    root
  } { (t, root: String) =>
    // MEASURED: the whole streaming pipeline BY CATALOG NAME — the
    // commit-log source behind readStream.table, the exactly-once
    // snapshot sink behind option("table", ...), AvailableNow ticks as
    // the reference's hourly cadence. Bootstrap drains, an upstream
    // append streams incrementally, a replayed tick adds nothing, and
    // the oracle recomputes the downstream from the raw table — a
    // dropped batch, a double delivery, or a row leaking across the
    // commit boundary fails the gate.
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Snapshot
    def pump(): Unit = {
      val q = t.spark.readStream.table("g139.db.up")
        .writeStream.format("graft-snapshot")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .option("table", "g139.db.down")
        .start()
      q.awaitTermination()
    }
    pump() // bootstrap: the pre-1997 base in one watermarked batch
    val cut97 = lit("1997-01-01 00:00:00").cast("timestamp")
    val cutJul = lit("1997-07-01 00:00:00").cast("timestamp")
    Snapshot.append(t.spark, s"$root/db/up",
      t.orders.where(col("o_orderdate") >= cut97 && col("o_orderdate") < cutJul)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"))
    pump() // the append streams exactly once
    pump() // nothing new: the replay must be a no-op
    t.spark.table("g139.db.down")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q140 = QueryDef.staged(
    "q140_history_audit",
    // oracle: every version's OPERATION label plus its metadata-exact
    // live row count, recomputed from the raw table — a mislabeled
    // commit, a phantom extra version (e.g. an unexpected DV fold), or
    // a row count drifting from the data fails the gate
    Some("""WITH c AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
           |    CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS even,
           |    CAST(COUNT(*) FILTER (WHERE o_orderkey % 100 >= 5) AS BIGINT) AS keep,
           |    CAST(COUNT(*) FILTER (WHERE o_orderkey % 100 < 5 AND o_orderkey <= 100) AS BIGINT) AS back
           |  FROM orders)
           |SELECT CAST(version AS BIGINT) AS version, operation, num_rows FROM (
           |  SELECT 1 AS version, 'CREATE' AS operation, even AS num_rows FROM c
           |  UNION ALL SELECT 2, 'APPEND', total FROM c
           |  UNION ALL SELECT 3, 'DELETE', keep FROM c
           |  UNION ALL SELECT 4, 'OPTIMIZE', keep FROM c
           |  UNION ALL SELECT 5, 'UPDATE', keep FROM c
           |  UNION ALL SELECT 6, 'MERGE', keep + back FROM c
           |  UNION ALL SELECT 7, 'RESTORE v2', total FROM c
           |) ORDER BY version""".stripMargin)) { t =>
    // FIXTURE (untimed): a realistic table lifetime — create, append,
    // a bad-slice DELETE, the nightly OPTIMIZE (always fires: the
    // delete leaves either deletion vectors or >= 4 files, both of
    // which mark the partition), a re-statement UPDATE, a late-data
    // MERGE upsert, and the RESTORE that undoes everything back to the
    // full load. Exactly ONE commit per step by construction: the
    // delete touches ~5% of each file (DV tier, below the 20% density
    // fold), the update touches ~20% (rewrite tier, no vectors).
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q140").toString + "/t"
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Snapshot.create(t.spark, dir,
      base.where(col("o_orderkey") % 2 === 0).repartition(4))
    Snapshot.append(t.spark, dir,
      base.where(col("o_orderkey") % 2 === 1).repartition(4))
    Snapshot.delete(t.spark, dir, col("o_orderkey") % 100 < 5)
    Snapshot.compact(t.spark, dir)
    Snapshot.update(t.spark, dir, col("o_orderpriority") === "2-HIGH",
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    Snapshot.mergeByIdPartitioned(t.spark, dir,
      base.where(col("o_orderkey") <= 100), "o_orderkey", Nil)
    Snapshot.restore(t.spark, dir, 2L)
    dir
  } { (t, dir: String) =>
    // MEASURED: the audit read itself — pure manifest metadata, one
    // row per version, no data file opened. On a 100 TB table this is
    // the query an operator runs before every backfill; it must stay
    // O(#versions) JSON parses regardless of table size.
    graft.operators.Snapshot.history(t.spark, dir)
      .select(col("version"), col("operation"), col("num_rows"))
      .orderBy("version")
  }

  val q141 = QueryDef.staged(
    "q141_delete_in_subquery",
    // oracle: the survivors recomputed from the raw table — a key
    // deleted that the blocklist never named, or one kept that it did,
    // shifts a group's count/sum and fails the gate
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the fact table plus a BLOCKLIST table whose
    // key column is named differently — the reference's recurring
    // quarantine shape (bad loads enumerated in a side table, then
    // `DELETE ... WHERE key IN (SELECT ...)`).
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q141").toString
    Snapshot.create(t.spark, s"$root/t",
      t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(4))
    Snapshot.create(t.spark, s"$root/q",
      t.orders.where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("bad_key")).distinct())
    root
  } { (t, root: String) =>
    // MEASURED: the literal SQL statement — the subquery resolves
    // through the registry, the delete runs as ONE distributed
    // equi-join feeding the standard tiers (drop / vector / rewrite),
    // never a collected key list — then the survivors' rollup.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t", "quarantine" -> s"$root/q")
    Snapshot.sql(t.spark,
      "DELETE FROM t WHERE o_orderkey IN (SELECT bad_key FROM quarantine)", reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q142 = QueryDef.staged(
    "q142_update_in_subquery",
    // oracle: the re-stated values recomputed from the raw table —
    // *2 is exact in binary, so double sums stay decimal-clean
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(CASE WHEN o_orderpriority = '5-LOW' AND o_orderkey % 7 = 0
           |    THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the fact plus a key-list table naming the
    // rows to re-state — the update twin of q141's blocklist.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q142").toString
    Snapshot.create(t.spark, s"$root/t",
      t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(4))
    Snapshot.create(t.spark, s"$root/k",
      t.orders.where(col("o_orderpriority") === "5-LOW" && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("restate_key")).distinct())
    root
  } { (t, root: String) =>
    // MEASURED: `UPDATE ... WHERE k IN (SELECT ...)` as literal SQL —
    // the distributed key-set join feeding update's two tiers — then
    // the survivors' rollup.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t", "restated" -> s"$root/k")
    Snapshot.sql(t.spark,
      "UPDATE t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey IN (SELECT restate_key FROM restated)", reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q143 = QueryDef.staged(
    "q143_shallow_clone",
    // oracle: BOTH sides recomputed from the raw table — the clone
    // sees the source's pre-clone state minus its own delete, the
    // source must NOT see the clone's delete; a clone that copied
    // stale data, missed the inherited deletion vectors, or leaked
    // its DML back into the source shifts a branch and fails the gate
    Some("""SELECT side, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM (
           |  SELECT 'clone' AS side, o_orderpriority, o_totalprice FROM orders
           |    WHERE NOT (o_orderkey % 100 < 3) AND NOT (o_orderpriority = '1-URGENT')
           |  UNION ALL
           |  SELECT 'source', o_orderpriority, o_totalprice FROM orders
           |    WHERE NOT (o_orderkey % 100 < 3)
           |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { t =>
    // FIXTURE (untimed): a table with history — create, append, and a
    // small DELETE that takes the deletion-vector tier, so the clone
    // must inherit live VECTORS, not just files.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q143").toString
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Snapshot.create(t.spark, s"$root/src",
      base.where(col("o_orderkey") % 2 === 0).repartition(2))
    Snapshot.append(t.spark, s"$root/src",
      base.where(col("o_orderkey") % 2 === 1).repartition(2))
    Snapshot.delete(t.spark, s"$root/src", col("o_orderkey") % 100 < 3)
    root
  } { (t, root: String) =>
    // MEASURED: the CLONE statement itself — O(manifest), zero data
    // bytes moved regardless of table size — then divergence: a
    // clone-side DELETE that must never leak into the source, and the
    // two-sided rollup read through the native scans (the clone's over
    // external refs). On 100 TB this is the instant dev/test fork.
    import graft.operators.Snapshot
    val reg = Map("src" -> s"$root/src", "fork" -> s"$root/fork")
    Snapshot.sql(t.spark, "CREATE TABLE fork SHALLOW CLONE src", reg)
    Snapshot.sql(t.spark, "DELETE FROM fork WHERE o_orderpriority = '1-URGENT'", reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT side, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT 'clone' AS side, o_orderpriority, o_totalprice FROM fork
        |  UNION ALL
        |  SELECT 'source', o_orderpriority, o_totalprice FROM src
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, reg)
  }

  val q144 = QueryDef.staged(
    "q144_import_in_place",
    // oracle: the rollup recomputed from the raw table, restricted the
    // same way the post-import DELETE restricts — an import that
    // missed files, double-counted a partition dir, or mis-parsed
    // hive partition values shifts a group and fails the gate
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE NOT (o_orderkey % 10 = 0)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a PLAIN hive-partitioned parquet landing —
    // written by stock spark.write, no snapshot machinery — the shape
    // a 100 TB warehouse already has on disk.
    val root = java.nio.file.Files.createTempDirectory("graft_q144").toString
    t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.partitionBy("o_orderpriority").parquet(s"$root/landing")
    root
  } { (t, root: String) =>
    // MEASURED: the in-place conversion — footer stats only, zero data
    // bytes moved — then immediate DML (the converted table IS a full
    // table) and the first rollup through the native scan over the
    // imported (external) refs.
    import graft.operators.Snapshot
    Snapshot.importParquet(t.spark, s"$root/landing", s"$root/landing",
      Seq("o_orderpriority"))
    Snapshot.delete(t.spark, s"$root/landing", col("o_orderkey") % 10 === 0)
    val reg = Map("t" -> s"$root/landing")
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q145 = QueryDef.staged(
    "q145_cluster_by_policy",
    // oracle: the box rollup recomputed from the raw table — a
    // z-order that loses/duplicates rows, or clustering keys that
    // drift from the declared columns, shifts a group and fails
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           |FROM lineitem
           |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 5 AND 60
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a table DECLARED `CLUSTER BY (l_partkey,
    // l_suppkey)` at create, then interleaved appends — every file
    // covers the whole key space, so nothing is skippable until the
    // declared layout policy is applied.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q145").toString + "/t"
    val base = t.lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_returnflag"), col("l_quantity"))
    Snapshot.create(t.spark, dir, base.where(col("l_orderkey") % 4 === 0).repartition(2),
      clusterBy = Seq("l_partkey", "l_suppkey"))
    (1 to 3).foreach(k => Snapshot.append(t.spark, dir,
      base.where(col("l_orderkey") % 4 === k).repartition(2)))
    dir
  } { (t, dir: String) =>
    // MEASURED: the nightly maintenance shape — a BARE OPTIMIZE with
    // no per-statement knowledge z-orders by the table's own declared
    // keys — then the box-predicate rollup the layout exists for. On
    // 100 TB the fleet loop is `OPTIMIZE t` for every table; the
    // table itself carries what that means.
    import graft.operators.Snapshot
    Snapshot.compact(t.spark, dir)
    Snapshot.read(t.spark, dir)
      .where(col("l_partkey").between(100, 400) && col("l_suppkey").between(5, 60))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy("l_returnflag")
  }

  val q146 = QueryDef.staged(
    "q146_merge_schema_evolution",
    // oracle: the post-merge table recomputed from the raw rows — the
    // flag column exists exactly for the source's keys, every key
    // appears once, prices are untouched; a merge that dropped the
    // evolution (flag all-null), duplicated keys, or leaked the widen
    // into the wrong rows fails
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  CAST(COUNT(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey <= 200
           |    THEN 1 END) AS BIGINT) AS flagged
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the target holds 2/3 of the fact; the late
    // feed carries the rest PLUS an overlap, and a column the target
    // has never seen — the evolving-upsert shape every landing
    // pipeline eventually hits.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q146").toString
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Snapshot.create(t.spark, s"$root/t",
      base.where(col("o_orderkey") % 3 =!= 0).repartition(4))
    Snapshot.create(t.spark, s"$root/s",
      base.where(col("o_orderkey") % 3 === 0 || col("o_orderkey") <= 200)
        .withColumn("ingest_tag", lit("late")))
    root
  } { (t, root: String) =>
    // MEASURED: the literal evolving MERGE — one metadata-only ADD
    // COLUMNS (no file rewritten; pre-evolution rows read the new
    // column as null), then the standard partition-restricted upsert —
    // and the rollup proving both sides landed.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t", "s" -> s"$root/s")
    Snapshot.sql(t.spark,
      """MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(COUNT(ingest_tag) AS BIGINT) AS flagged
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q147 = QueryDef.staged(
    "q147_metadata_only_agg",
    // oracle: the same whole-table aggregate over the raw rows — a
    // stats fold that missed a commit, double-counted a file, or
    // decoded a bound wrong shifts a value and fails the gate
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
           |  CAST(MAX(o_orderkey) AS BIGINT) AS mx_key,
           |  MIN(o_orderstatus) AS mn_status, MAX(o_orderstatus) AS mx_status,
           |  CAST(MIN(o_totalprice) AS DOUBLE) AS mn_price,
           |  CAST(MAX(o_totalprice) AS DOUBLE) AS mx_price
           |FROM orders""".stripMargin)) { t =>
    // FIXTURE (untimed): the fact landed as three commits — the table
    // state the reference's incremental DAGs probe before every
    // extract ("how far did the last load get? how many rows?").
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q147").toString + "/t"
    val base = t.orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Snapshot.create(t.spark, dir, base.where(col("o_orderkey") % 3 === 0).repartition(2))
    Snapshot.append(t.spark, dir, base.where(col("o_orderkey") % 3 === 1).repartition(2))
    Snapshot.append(t.spark, dir, base.where(col("o_orderkey") % 3 === 2).repartition(2))
    dir
  } { (t, dir: String) =>
    // MEASURED: the watermark probe as plain SQL — and it must plan
    // METADATA-ONLY (a one-row local relation, zero data files
    // opened): the require keeps the bench number honest, because on
    // 100 TB this query IS the difference between sub-second and a
    // full scan.
    import graft.operators.Snapshot
    val df = Snapshot.sqlQuery(t.spark,
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS mx_key,
        |  MIN(o_orderstatus) AS mn_status, MAX(o_orderstatus) AS mx_status,
        |  CAST(MIN(o_totalprice) AS DOUBLE) AS mn_price,
        |  CAST(MAX(o_totalprice) AS DOUBLE) AS mx_price
        |FROM t""".stripMargin, Map("t" -> dir))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    require(scans.isEmpty,
      s"q147 must answer from the manifest, found scan(s): $scans")
    df
  }

  val q148 = QueryDef.staged(
    "q148_metadata_grouped_rollup",
    // oracle: the per-partition rollup recomputed from the raw rows —
    // a fold that mis-assigns a file to a partition, forgets a
    // vector's rows, or decodes a partition value wrong shifts a
    // group and fails
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
           |  CAST(MAX(o_totalprice) AS DOUBLE) AS mx_price
           |FROM orders WHERE NOT (o_orderkey % 11 = 0 AND o_orderpriority = '5-LOW')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a priority-partitioned landing plus a point
    // delete small enough to land as a deletion vector on 5-LOW —
    // the steady state of a fact table between maintenance windows.
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_q148").toString + "/t"
    Snapshot.create(t.spark, dir,
      t.orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartition(2),
      partitionCols = Seq("o_orderpriority"))
    Snapshot.delete(t.spark, dir,
      col("o_orderkey") % 11 === 0 && col("o_orderpriority") === "5-LOW",
      dvMaxFraction = 0.5)
    dir
  } { (t, dir: String) =>
    // MEASURED: the per-partition health rollup as plain SQL. The
    // grouping is the partition column, so count(*) folds from the
    // manifest (live = rows − dv.rows) — but min/max touch DATA
    // columns on a VECTORED version, where a metadata answer could be
    // wrong, so the plan must be a REAL scan: this gate pins the
    // refusal boundary as much as the fold. (MetadataAggRewriteSpec
    // pins the vector-free fold plan shape.)
    import graft.operators.Snapshot
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
        |  CAST(MAX(o_totalprice) AS DOUBLE) AS mx_price
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, Map("t" -> dir))
  }

  val q149 = QueryDef.staged(
    "q149_cdc_replicate",
    // oracle: the replica's rollup recomputed from the raw rows with
    // the same churn applied in SQL — a replication that missed a
    // delete, dropped an update, or applied a change to the wrong
    // partition shifts a group and fails
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0
           |    THEN o_totalprice + 10.0 ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE NOT (o_orderpriority = '5-LOW' AND o_orderkey % 5 = 0)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): source fact + bootstrapped replica, then a
    // churn window on the source the replica has not seen — updates
    // confined to 1-URGENT, deletes to 5-LOW, so three of the five
    // partitions stay untouched: the realistic nightly shape, and the
    // one where change-bounded replication actually pays (a churn
    // touching every partition degenerates to a full rewrite no matter
    // how the change is applied).
    import graft.operators.Snapshot
    import graft.streaming.FeedConsumer
    val root = java.nio.file.Files.createTempDirectory("graft_q149").toString
    val base = t.orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    Snapshot.create(t.spark, s"$root/src", base.repartition(2),
      partitionCols = Seq("o_orderpriority"))
    Snapshot.create(t.spark, s"$root/dst", base.limit(0),
      partitionCols = Seq("o_orderpriority"))
    FeedConsumer.replicate(t.spark, s"$root/src", s"$root/dst", "rep")
    val upd = base.where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    Snapshot.mergeById(t.spark, s"$root/src", upd, "o_orderkey", "o_orderpriority")
    Snapshot.delete(t.spark, s"$root/src",
      col("o_orderpriority") === "5-LOW" && col("o_orderkey") % 5 === 0)
    root
  } { (t, root: String) =>
    // MEASURED: the incremental drain — the change feed of the churn
    // window applied to the replica as a partition-restricted swap
    // with the watermark in the same commit — then the replica's
    // health rollup. On 100 TB this window is the nightly
    // bronze→silver step: work bounded by the changed files, twice.
    import graft.operators.Snapshot
    import graft.streaming.FeedConsumer
    FeedConsumer.replicate(t.spark, s"$root/src", s"$root/dst", "rep")
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, Map("t" -> s"$root/dst"))
  }

  val q150 = QueryDef.staged(
    "q150_tagged_version_pin",
    // oracle: the TAGGED state recomputed from the raw rows — the tag
    // was created before any churn, so it pins the original base; a
    // tag that resolved to the wrong version, a vacuum that reclaimed
    // a tagged file, or an island checkpoint that dropped a delta
    // field all shift the rollup and fail
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a catalog table tagged at its base state, then
    // heavy churn — deletes, an overwrite, a compaction — followed by a
    // VACUUM whose retention would reclaim everything but the latest.
    // The tagged version survives as a retained island (its delta chain
    // checkpointed at reclaim time); every untagged old version is gone.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q150").toString
    t.spark.conf.set("spark.sql.catalog.g150", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g150.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g150.db")
    Snapshot.create(t.spark, s"$root/db/t",
      t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"))
    t.spark.sql("ALTER TABLE g150.db.t CREATE TAG base_corpus")
    t.spark.sql("DELETE FROM g150.db.t WHERE o_orderkey % 3 = 0")
    t.spark.sql(
      """INSERT OVERWRITE g150.db.t
        |SELECT o_orderkey, o_orderpriority, o_totalprice * 0.5 FROM g150.db.t
        |WHERE o_orderkey % 2 = 0""".stripMargin)
    Snapshot.compact(t.spark, s"$root/db/t", minFiles = 1)
    Snapshot.vacuum(t.spark, s"$root/db/t", keepVersions = 1, orphanGraceMs = 0L)
  } { (t, _: Any) =>
    // MEASURED: the reproducible-dataset read — `VERSION AS OF 'tag'`
    // by name through the vanilla analyzer, post-vacuum. On 100 TB
    // this is "re-run the eval on exactly the corpus the model trained
    // on, months later": the pin must cost a manifest read, not a
    // table copy.
    t.spark.sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g150.db.t VERSION AS OF 'base_corpus'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q151 = QueryDef.staged(
    "q151_cbo_analyzed_join",
    // oracle: the same three-way join recomputed by DuckDB — the gate
    // is that COST-BASED planning over analyzed statistics changes the
    // PLAN, never the ANSWER (reordering that dropped a join side,
    // stats that leaked into results, or a broadcast decision that
    // duplicated rows all shift the rollup and fail)
    Some("""SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n ON c.c_nationkey = n.n_nationkey
           |WHERE o.o_orderkey % 3 <> 0
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the star schema as catalog tables, churned
    // (the delete makes live counts diverge from raw file counts),
    // then ANALYZE — the nightly stats pass of a real warehouse.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q151").toString
    t.spark.conf.set("spark.sql.catalog.g151", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g151.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g151.db")
    Snapshot.create(t.spark, s"$root/db/orders",
      t.orders.select("o_orderkey", "o_custkey", "o_totalprice"))
    Snapshot.create(t.spark, s"$root/db/customer",
      t.customer.select("c_custkey", "c_nationkey"))
    Snapshot.create(t.spark, s"$root/db/nation",
      t.nation.select("n_nationkey", "n_name"))
    t.spark.sql("DELETE FROM g151.db.orders WHERE o_orderkey % 3 = 0")
    Seq("orders", "customer", "nation").foreach(tn =>
      t.spark.sql(s"ANALYZE TABLE g151.db.$tn COMPUTE STATISTICS FOR ALL COLUMNS"))
    root
  } { (t, root: String) =>
    // MEASURED: the join under spark.sql.cbo.enabled, in its OWN
    // session so the flag never leaks into other queries' plans. The
    // planner sees exact live row counts (the delete's survivors, not
    // the raw files) and analyzed NDVs; at 100 TB this is what turns a
    // 5-way star join from "hope the default order is right" into a
    // costed decision. Answer must equal the stats-blind oracle.
    val s2 = t.spark.newSession()
    s2.conf.set("spark.sql.catalog.g151", "graft.catalog.GraftCatalog")
    s2.conf.set("spark.sql.catalog.g151.warehouse", root)
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    s2.sql(
      """SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g151.db.orders o JOIN g151.db.customer c ON o.o_custkey = c.c_custkey
        |JOIN g151.db.nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q152 = QueryDef.staged(
    "q152_write_clustered_scan",
    // oracle: the narrow-range rollup recomputed from the raw rows — a
    // write-time sort that lost, duplicated or mis-bucketed rows during
    // the range exchange shifts the aggregate and fails
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(MIN(o_orderkey) AS BIGINT) AS mn,
           |  CAST(MAX(o_orderkey) AS BIGINT) AS mx,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE o_orderkey BETWEEN 100000 AND 110000""".stripMargin)) { t =>
    // FIXTURE (untimed): the landing declared `CLUSTER BY (o_orderkey)`
    // with the `graft.write.sorted = range` policy, loaded from a fully
    // SCRAMBLED insert — the worst-case arrival order. The policy's
    // range exchange makes the landed files carry disjoint key ranges
    // from this first write, no OPTIMIZE in between.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q152").toString
    t.spark.conf.set("spark.sql.catalog.g152", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g152.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g152.db")
    Snapshot.create(t.spark, s"$root/db/t",
      t.orders.select(col("o_orderkey"), col("o_totalprice")).limit(0),
      clusterBy = Seq("o_orderkey"),
      properties = Map("graft.write.sorted" -> "range"))
    t.orders.select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(xxhash64(col("o_orderkey"))) // worst-case arrival order
      .createOrReplaceTempView("g152_src")
    t.spark.sql("INSERT INTO g152.db.t SELECT o_orderkey, o_totalprice FROM g152_src")
    root
  } { (t, _: Any) =>
    // MEASURED: a narrow key-range probe over the write-clustered
    // landing — at 100 TB the manifest prunes to the handful of files
    // whose disjoint ranges straddle the window; the same query over an
    // unsorted landing reads everything (WriteSortSpec pins the prune
    // counts; this gate pins the answer through the SQL route).
    t.spark.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS mn,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS mx,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g152.db.t WHERE o_orderkey BETWEEN 100000 AND 110000""".stripMargin)
  }

  val q153 = QueryDef.staged(
    "q153_catalog_merge_evolution",
    // oracle: the post-merge table recomputed from the raw rows — the
    // q146 contract re-gated on the CATALOG route: the evolved column
    // exists exactly for the source's keys, every key appears once,
    // prices untouched; a merge that dropped the evolution (flag
    // all-null), duplicated keys, or rewrote pre-evolution files fails
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  CAST(COUNT(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey <= 200
           |    THEN 1 END) AS BIGINT) AS flagged
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): target and late feed as CATALOG tables — the
    // reference's autodetect-load + MERGE maintenance combo
    // (funnel_live.py:106-174 against audio_digital.py:350-style
    // evolving feeds) ported onto dataset.table names, zero registry.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q153").toString
    t.spark.conf.set("spark.sql.catalog.g153", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g153.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g153.db")
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Snapshot.create(t.spark, s"$root/db/t",
      base.where(col("o_orderkey") % 3 =!= 0).repartition(4))
    Snapshot.create(t.spark, s"$root/db/s",
      base.where(col("o_orderkey") % 3 === 0 || col("o_orderkey") <= 200)
        .withColumn("ingest_tag", lit("late")))
  } { (t, _: Any) =>
    // MEASURED: one statement through the vanilla parser/analyzer —
    // the analyzer's AUTOMATIC_SCHEMA_EVOLUTION rule lands the new
    // column as a metadata-only ADD COLUMNS commit (no file
    // rewritten; pre-evolution rows read it as null), then the
    // whole-row upsert, then the rollup proving both sides landed.
    t.spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO g153.db.t t USING g153.db.s s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    t.spark.sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(COUNT(ingest_tag) AS BIGINT) AS flagged
        |FROM g153.db.t GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q154 = QueryDef.staged(
    "q154_default_columns",
    // oracle: the final table recomputed from the raw rows — the
    // life of a DEFAULT: column-list INSERT fills 'landed'; ADD COLUMN
    // DEFAULT 'seed' backfills every pre-evolution row (metadata only);
    // SET DEFAULT 'merged' changes only what the MERGE's insert arm
    // fills afterwards; matched rows take the updated price. A fill
    // that leaked null, a backfill that rewrote the frozen literal, or
    // an update applied to the wrong arm shifts a group and fails.
    Some("""SELECT o_orderpriority,
           |  CASE WHEN o_orderkey % 3 = 0 THEN 'merged' ELSE 'seed' END AS batch_tag,
           |  'landed' AS status,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) +
           |    CASE WHEN o_orderkey % 3 <> 0 AND o_orderkey <= 200
           |      THEN CAST(10 AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
           |    AS DOUBLE) AS total
           |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)) { t =>
    // FIXTURE (untimed): an empty default-carrying CATALOG table plus
    // the raw source — the reference's constant-filled wide load
    // schemas (consumo_bloques_hora.py:132 STRING(NULL)-style columns)
    // as declarations the engine fills.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q154").toString
    t.spark.conf.set("spark.sql.catalog.g154", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g154.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g154.db")
    t.spark.sql(
      """CREATE TABLE g154.db.t (o_orderkey BIGINT, o_orderpriority STRING,
        |o_totalprice DECIMAL(18,2), status STRING DEFAULT 'landed')""".stripMargin)
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice")))
  } { (t, _: Any) =>
    // MEASURED: load (default fills the unlisted column) → evolve with
    // a backfilling default → re-point the write default → evolving
    // MERGE whose insert arm fills the NEW default while pre-evolution
    // rows keep the FROZEN one — then the rollup over all three.
    t.spark.sql(
      """INSERT INTO g154.db.t (o_orderkey, o_orderpriority, o_totalprice)
        |SELECT o_orderkey, o_orderpriority, o_totalprice FROM g154.db.src
        |WHERE o_orderkey % 3 <> 0""".stripMargin)
    t.spark.sql("ALTER TABLE g154.db.t ADD COLUMNS (batch_tag STRING DEFAULT 'seed')")
    t.spark.sql("ALTER TABLE g154.db.t ALTER COLUMN batch_tag SET DEFAULT 'merged'")
    t.spark.sql(
      """MERGE INTO g154.db.t t
        |USING (SELECT * FROM g154.db.src
        |       WHERE o_orderkey % 3 = 0 OR o_orderkey <= 200) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 10
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
        |  VALUES (s.o_orderkey, s.o_orderpriority, s.o_totalprice)""".stripMargin)
    t.spark.sql(
      """SELECT o_orderpriority, batch_tag, status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_totalprice) AS DOUBLE) AS total
        |FROM g154.db.t GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)
  }

  val q155 = QueryDef.staged(
    "q155_deep_clone_durable",
    // oracle: the PINNED pre-churn state recomputed from the raw rows —
    // the deep clone must still serve it after the source's history
    // (including every file the pin referenced) is vacuumed away, which
    // is exactly where a shallow clone or tag dies. A clone that missed
    // a file, dropped the deletion vector, or read post-churn state
    // shifts a group and fails.
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE o_orderkey % 7 <> 0
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): fact + a point delete (deletion vector) + a
    // tag — the reproducible-corpus pin a training run records.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q155").toString
    val reg = Map("s" -> s"$root/s", "d" -> s"$root/d")
    Snapshot.create(t.spark, s"$root/s",
      t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(4),
      partitionCols = Seq("o_orderpriority"))
    Snapshot.delete(t.spark, s"$root/s", col("o_orderkey") % 7 === 0)
    Snapshot.sql(t.spark, "ALTER TABLE s CREATE TAG corpus_pin", reg)
    root
  } { (t, root: String) =>
    // MEASURED: materialize the pin (distributed byte-copy, local
    // refs), churn + vacuum the source past it, and answer FROM THE
    // CLONE — the "make a tag durable" escape hatch, end to end. At
    // 100 TB the copy is one no-shuffle job over the pinned file set.
    import graft.operators.Snapshot
    val reg = Map("s" -> s"$root/s", "d" -> s"$root/d")
    Snapshot.sql(t.spark, "CREATE TABLE d DEEP CLONE s VERSION AS OF 'corpus_pin'", reg)
    Snapshot.sql(t.spark,
      "INSERT OVERWRITE s SELECT o_orderkey, o_orderpriority, o_totalprice FROM s WHERE o_orderkey < 0", reg)
    Snapshot.sql(t.spark, "ALTER TABLE s DROP TAG corpus_pin", reg)
    Snapshot.vacuum(t.spark, s"$root/s", keepVersions = 1, orphanGraceMs = 0L)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q156 = QueryDef.staged(
    "q156_writable_branch",
    // oracle: the promoted state recomputed from the raw rows — the
    // staging workflow end to end: fork, stage a delete + an update on
    // the branch, vacuum the parent (the branch base must hold as a
    // retention island), fast-forward the branch back, answer from the
    // parent. A merge that lost a branch commit, leaked parent churn,
    // or a vacuum that reclaimed the base shifts a group (or throws)
    // and fails.
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) +
           |    CASE WHEN o_orderpriority = '1-URGENT'
           |      THEN CAST(5 AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
           |    AS DOUBLE) AS total
           |FROM orders WHERE o_orderkey % 7 <> 0
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the production fact a nightly build stages
    // against.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q156").toString
    Snapshot.create(t.spark, s"$root/t",
      t.orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice")).repartition(4),
      partitionCols = Seq("o_orderpriority"))
    root
  } { (t, root: String) =>
    // MEASURED: branch → stage DML on the fork (the parent sees
    // nothing) → vacuum the parent with the base pinned as an island →
    // fast-forward promote → read the parent. At 100 TB the fork is
    // O(manifest), branch DML is partition-restricted like any other,
    // and the merge is O(#branch commit dirs) renames — no data moves
    // at any step.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t",
      "t_staging" -> Snapshot.branchPath(s"$root/t", "staging"))
    Snapshot.sql(t.spark, "ALTER TABLE t CREATE BRANCH staging", reg)
    Snapshot.sql(t.spark, "DELETE FROM t_staging WHERE o_orderkey % 7 = 0", reg)
    Snapshot.sql(t.spark,
      "UPDATE t_staging SET o_totalprice = o_totalprice + 5 WHERE o_orderpriority = '1-URGENT'",
      reg)
    // parent churn that a vacuum then reclaims — all METADATA-side
    // (tags), so the fast-forward stays legal while the vacuum still
    // has versions to drop
    Snapshot.sql(t.spark, "ALTER TABLE t CREATE TAG pre_promote", reg)
    Snapshot.sql(t.spark, "ALTER TABLE t DROP TAG pre_promote", reg)
    Snapshot.vacuum(t.spark, s"$root/t", keepVersions = 1, orphanGraceMs = 0L)
    Snapshot.sql(t.spark, "ALTER TABLE t MERGE BRANCH staging", reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_totalprice) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q157 = QueryDef.staged(
    "q157_cbo_histogram_join",
    // oracle: the joined rollup recomputed by DuckDB — the gate is the
    // q151 contract one input deeper: HISTOGRAM-backed range
    // selectivity changes the PLAN (the skewed fact's sparse tail is
    // known to be tiny, so it broadcasts — asserted in the measured
    // body), never the ANSWER. NDV + min/max uniformity alone calls
    // this same filter half the table.
    Some("""SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.o_orderkey % 100 = 0 AND o.o_orderkey >= 3000
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a fact whose `sk` column is 99% zeros with a
    // sparse high tail (the classic skewed-measure shape), a dim, and
    // the histogram-enabled ANALYZE — one extra per-bin-NDV job beside
    // the NDV pass, maintenance-priced.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q157").toString
    t.spark.conf.set("spark.sql.catalog.g157", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g157.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g157.db")
    Snapshot.create(t.spark, s"$root/db/fact",
      t.orders.select(col("o_orderkey"),
        when(col("o_orderkey") % 100 === 0, col("o_orderkey")).otherwise(0L).as("sk"),
        col("o_custkey"), col("o_totalprice")))
    Snapshot.create(t.spark, s"$root/db/dim",
      t.customer.select("c_custkey", "c_mktsegment"))
    val s0 = t.spark.newSession()
    s0.conf.set("spark.sql.catalog.g157", "graft.catalog.GraftCatalog")
    s0.conf.set("spark.sql.catalog.g157.warehouse", root)
    s0.conf.set("spark.sql.statistics.histogram.enabled", "true")
    s0.conf.set("spark.sql.statistics.histogram.numBins", "100")
    s0.sql("ANALYZE TABLE g157.db.fact COMPUTE STATISTICS FOR ALL COLUMNS")
    s0.sql("ANALYZE TABLE g157.db.dim COMPUTE STATISTICS FOR ALL COLUMNS")
    root
  } { (t, root: String) =>
    // MEASURED: the range-probe join under CBO in its own session. The
    // require pins what the histogram buys: the filtered fact is
    // KNOWN-tiny, so it broadcasts under a threshold its uniformity
    // estimate (~half the fact) dwarfs — on a 1000-executor cluster
    // this is a shuffle of the whole dim avoided. Answer must equal
    // the stats-blind oracle.
    val s2 = t.spark.newSession()
    s2.conf.set("spark.sql.catalog.g157", "graft.catalog.GraftCatalog")
    s2.conf.set("spark.sql.catalog.g157.warehouse", root)
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    val df = s2.sql(
      """SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g157.db.fact o JOIN g157.db.dim c ON o.o_custkey = c.c_custkey
        |WHERE o.sk >= 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    require(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "q157: the histogram's range selectivity must plan the filtered fact " +
        s"broadcast-side:\n${df.queryExecution.executedPlan}")
    df
  }

  val q158 = QueryDef.staged(
    "q158_merge_sync_by_source",
    // oracle: the mirrored state recomputed from the raw rows — the
    // FULL standard MERGE surface in one statement: matched rows take
    // the feed's price, feed-only rows insert, stale rows (absent from
    // the feed) DELETE when low-priority and flag (negate) otherwise,
    // with first-match-wins arm ordering. An arm mis-ordered, a stale
    // row that survived the sync, or a condition applied to the wrong
    // side shifts a group and fails.
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0
           |      THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(7 AS DECIMAL(18,2))
           |      ELSE -CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderkey % 3 = 0
           |   OR (o_orderkey % 5 <> 0 AND o_orderpriority <> '5-LOW')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the mirror table holds yesterday's state
    // (keys % 5 <> 0); today's feed carries exactly keys % 3 = 0 —
    // overlap updates, feed-only inserts, the rest is stale.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q158").toString
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    Snapshot.create(t.spark, s"$root/t",
      base.where(col("o_orderkey") % 5 =!= 0).repartition(4),
      partitionCols = Seq("o_orderpriority"))
    Snapshot.create(t.spark, s"$root/s", base.where(col("o_orderkey") % 3 === 0))
    root
  } { (t, root: String) =>
    // MEASURED: one statement mirrors the feed — the WHEN NOT MATCHED
    // BY SOURCE arms pull the whole table into scope by construction
    // (they speak about every target row), which is the inherent cost
    // of a sync; the restricted fast path still serves every merge
    // without them.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t", "s" -> s"$root/s")
    Snapshot.sql(t.spark,
      """MERGE INTO t USING s ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 7
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
        |  VALUES (s.o_orderkey, s.o_orderpriority, s.o_totalprice + 7)
        |WHEN NOT MATCHED BY SOURCE AND t.o_orderpriority = '5-LOW' THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_totalprice = -t.o_totalprice""".stripMargin,
      reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_totalprice) AS DOUBLE) AS total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q159 = QueryDef.staged(
    "q159_composite_key_merge",
    // oracle: the post-merge fact recomputed from the raw rows — the
    // upsert keyed by lineitem's NATURAL composite key (orderkey,
    // linenumber): a merge that joined on one key column alone would
    // fan out (orderkey repeats per line) or collapse lines, shifting
    // the rollup
    Some("""WITH src AS (
           |  SELECT l_orderkey, l_linenumber,
           |    MAX(l_returnflag) AS l_returnflag,
           |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS l_quantity
           |  FROM lineitem GROUP BY 1, 2
           |)
           |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN l_orderkey % 4 = 0 AND l_linenumber <= 3
           |      THEN l_quantity + CAST(1000 AS DECIMAL(18,2)) ELSE l_quantity END)
           |    AS DOUBLE) AS qty
           |FROM src GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the line-item fact keyed by its NATURAL
    // composite key (orderkey, linenumber) — the shape single-id
    // merges cannot express without synthesizing a surrogate. The raw
    // synthetic lines repeat per key, so the keyed fact is the
    // per-key rollup.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q159").toString
    val base = t.lineitem
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max(col("l_returnflag")).as("l_returnflag"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)").as("l_quantity"))
    Snapshot.create(t.spark, s"$root/t", base.repartition(4),
      partitionCols = Seq("l_returnflag"))
    Snapshot.create(t.spark, s"$root/s",
      base.where(col("l_orderkey") % 4 === 0 && col("l_linenumber") <= 3)
        .withColumn("l_quantity", col("l_quantity") + 1000))
    root
  } { (t, root: String) =>
    // MEASURED: the composite-key upsert — ON joins BOTH key columns,
    // so sibling lines of the same order stay distinct rows — then the
    // rollup proving exactly the keyed lines took the update.
    import graft.operators.Snapshot
    val reg = Map("t" -> s"$root/t", "s" -> s"$root/s")
    Snapshot.sql(t.spark,
      """MERGE INTO t USING s
        |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity
        |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, l_returnflag, l_quantity)
        |  VALUES (s.l_orderkey, s.l_linenumber, s.l_returnflag, s.l_quantity)""".stripMargin,
      reg)
    Snapshot.sqlQuery(t.spark,
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin, reg)
  }

  val q165 = QueryDef.staged(
    "q165_dynamic_overwrite",
    // oracle: the table's final state recomputed from raw orders — the
    // K2 delete-and-replace idiom as CATALOG SQL under
    // partitionOverwriteMode=dynamic: partitions the query writes get
    // replaced (with doubled totals, proving the NEW data landed),
    // every other partition keeps its seeded rows. A lost partition, a
    // full-table truncate, or an append-instead-of-replace all fail.
    Some("""WITH final AS (
           |  SELECT o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           |  UNION ALL
           |  SELECT o_orderpriority, o_totalprice * 2 AS o_totalprice FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
           |)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): a catalog warehouse with the source table and
    // a partitioned destination seeded with EVERY priority's pre-1997
    // rows — the state the dynamic overwrite must partially replace.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q165").toString
    t.spark.conf.set("spark.sql.catalog.g165", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g165.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g165.db")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"))
    Snapshot.create(t.spark, s"$root/db/dest",
      t.orders.where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority"),
      partitionCols = Seq("o_orderpriority"))
  } { (t, _: Any) =>
    // MEASURED: the reference's delete-window-and-reload
    // (consumo_bloques_hora delete→load) as ONE statement of catalog
    // SQL — vanilla INSERT OVERWRITE under dynamic mode, captured from
    // the analyzed OverwritePartitionsDynamic plan into the atomic
    // replacePartitions commit. Untouched partitions are not rewritten
    // (their files carry over byte-identical; DynamicOverwriteSpec
    // pins that), so at 100 TB the cost is the written partitions,
    // never the table.
    val prev = t.spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    t.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try t.spark.sql(
      """INSERT OVERWRITE g165.db.dest
        |SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderpriority
        |FROM g165.db.src
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin)
    finally prev match {
      case Some(v) => t.spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => t.spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    t.spark.table("g165.db.dest")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q166 = QueryDef.staged(
    "q166_rebase_branch",
    // oracle: the promoted table's final state from raw orders — a
    // staging branch deleted a priority band and loaded a new month
    // while the PARENT took its own load (divergence), then
    // REBASE BRANCH replayed the branch's deltas onto the moved head
    // and MERGE BRANCH fast-forwarded. Both sides' rows must coexist:
    // a lost parent load, a resurrected deleted band, or a dropped
    // branch month all fail the hash.
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE NOT (o_orderpriority = '3-MEDIUM'
           |           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): parent with pre-1997 rows; branch deletes the
    // 3-MEDIUM band then loads 1997; parent diverges with its own
    // 1998+ load. The state every nightly-staging team ends up in.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q166").toString
    val path = s"$root/t"
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cut98 = lit("1998-01-01").cast("timestamp")
    Snapshot.create(t.spark, path,
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*),
      partitionCols = Seq("o_orderpriority"))
    Snapshot.createBranch(t.spark, path, "staging")
    val bPath = Snapshot.branchPath(path, "staging")
    Snapshot.delete(t.spark, bPath, col("o_orderpriority") === "3-MEDIUM")
    Snapshot.append(t.spark, bPath,
      t.orders.where(col("o_orderdate") >= cut97 && col("o_orderdate") < cut98)
        .select(cols.map(col): _*))
    Snapshot.append(t.spark, path,
      t.orders.where(col("o_orderdate") >= cut98).select(cols.map(col): _*))
    path
  } { (t, path: String) =>
    // MEASURED: the rebase + fast-forward promotion as SQL text — pure
    // metadata on both sides (file-level delta replay, O(#files)
    // set arithmetic, zero rows copied: the 100 TB promotion cost is
    // manifest-sized) — then the rollup over the promoted table.
    import graft.operators.Snapshot
    val reg = Map("t" -> path)
    Snapshot.sql(t.spark, "ALTER TABLE t REBASE BRANCH staging", reg)
    Snapshot.sql(t.spark, "ALTER TABLE t MERGE BRANCH staging", reg)
    Snapshot.read(t.spark, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  val q167 = QueryDef.staged(
    "q167_materialized_view",
    // oracle: the MV's final state recomputed from raw orders — a
    // DECLARED materialized view (defining SQL + watermark in its own
    // manifest) refreshed TWICE across source churn (an append + a
    // delete, then another append), each refresh an incremental
    // change-feed fold. A double-folded window, a lost delete, or a
    // stale watermark all fail the hash.
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_totalprice >= 1000
           |  AND NOT (o_orderpriority = '5-LOW'
           |           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): source with pre-1997 rows, the MV declared
    // over it, then the first churn window (a month load + a cleanup
    // delete) waiting to be refreshed in.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q167").toString
    val srcPath = s"$root/src"
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cut98 = lit("1998-01-01").cast("timestamp")
    Snapshot.create(t.spark, srcPath,
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    val reg = Map("src" -> srcPath, "mv" -> s"$root/mv")
    Snapshot.sql(t.spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM src WHERE o_totalprice >= 1000
        |GROUP BY o_orderpriority""".stripMargin, reg)
    Snapshot.append(t.spark, srcPath,
      t.orders.where(col("o_orderdate") >= cut97 && col("o_orderdate") < cut98)
        .select(cols.map(col): _*))
    Snapshot.delete(t.spark, srcPath,
      col("o_orderpriority") === "5-LOW" &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    (root, reg)
  } { (t, st: (String, Map[String, String])) =>
    // MEASURED: refresh → churn → refresh, each refresh reading ONLY
    // the window's net change feed (O(changed files); the unchanged
    // bulk is never rescanned — at 100 TB the refresh cost is the
    // day's change, not the table), then the view itself. The second
    // churn lands between the refreshes to prove watermark arithmetic.
    import graft.operators.Snapshot
    val (root, reg) = st
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.append(t.spark, s"$root/src",
      t.orders.where(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")))
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.read(t.spark, s"$root/mv")
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  val q168 = QueryDef.staged(
    "q168_commit_group",
    // oracle: a consistent TWO-TABLE read recomputed from raw orders —
    // the hourly DAG tick publishes a per-priority revenue rollup AND
    // a per-priority order-count table in ONE commit group, twice
    // (base tick, then the 1997+ tick). The final read joins the two
    // tables; because every tick is all-or-nothing, the join's n and
    // total always describe the SAME set of orders — a mixed tick
    // (one table's window ahead of the other) breaks the invariant
    // the oracle encodes.
    Some("""SELECT o_orderpriority,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  CAST(COUNT(CASE WHEN o_totalprice >= 100000 THEN 1 END) AS BIGINT) AS n_big
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): both destination tables with the pre-1997
    // tick already published (itself through a group).
    import graft.operators.{CommitGroup, Snapshot}
    import graft.operators.CommitGroup.GroupWrite
    val root = java.nio.file.Files.createTempDirectory("graft_q168").toString
    val cut97 = lit("1997-01-01").cast("timestamp")
    def sums(w: org.apache.spark.sql.Column) = t.orders.where(w)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
    def bigs(w: org.apache.spark.sql.Column) = t.orders.where(w)
      .groupBy(col("o_orderpriority"))
      .agg(count(when(col("o_totalprice") >= 100000, 1)).as("n_big"))
    Snapshot.create(t.spark, s"$root/rev",
      sums(col("o_orderdate") < cut97).withColumn("tick", lit(1)))
    Snapshot.create(t.spark, s"$root/big",
      bigs(col("o_orderdate") < cut97).withColumn("tick", lit(1)))
    root
  } { (t, root: String) =>
    // MEASURED: the second tick — BOTH tables appended through ONE
    // commit group (two staged manifests, one marker flip; at 100 TB
    // the atomicity costs two metadata renames + one marker put, not
    // a lock over the data) — then the consistent two-table join.
    import graft.operators.{CommitGroup, Snapshot}
    import graft.operators.CommitGroup.GroupWrite
    val cut97 = lit("1997-01-01").cast("timestamp")
    CommitGroup.publish(t.spark, root, Seq(
      GroupWrite(s"$root/rev", sp => Snapshot.append(sp, s"$root/rev",
        t.orders.where(col("o_orderdate") >= cut97)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
          .withColumn("tick", lit(2)))),
      GroupWrite(s"$root/big", sp => Snapshot.append(sp, s"$root/big",
        t.orders.where(col("o_orderdate") >= cut97)
          .groupBy(col("o_orderpriority"))
          .agg(count(when(col("o_totalprice") >= 100000, 1)).as("n_big"))
          .withColumn("tick", lit(2))))))
    val rev = Snapshot.read(t.spark, s"$root/rev")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n"), sum(col("total")).cast("decimal(28,2)").as("total"))
    val big = Snapshot.read(t.spark, s"$root/big")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_big")).as("n_big"))
    rev.join(big, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"), col("n_big"))
      .orderBy("o_orderpriority")
  }

  /** GROUP-PINNED CONSISTENT READ — the consumer half of the tick
    * contract. q168 made a tick's WRITES atomic; a consumer that reads
    * table A, then table B a moment later, could still straddle two
    * ticks (the reference's consumer shape: one hourly run chains four
    * pipelines whose outputs get joined downstream —
    * descarga_hora.py:24-60, indicadores_cia.py:160-165). Here BOTH
    * tables resolve through ONE tick marker (`VERSION AS OF
    * 'tick:<marker>'` / CommitGroup.readAt), and a NEW tick
    * deliberately flips BETWEEN the consumer's two reads: without the
    * pin the join would mix tick-1 revenue with tick-2 counts and fail
    * the oracle. Scale shape: the pin is one marker read (a tiny JSON)
    * + per-table manifest loads — O(1) metadata, never data.
    */
  val q171 = QueryDef.staged(
    "q171_tick_pinned_read",
    // oracle: the tick-1 window (pre-1997) recomputed from raw orders —
    // exactly what a NON-mixed two-table read at the tick-1 marker sees
    Some("""SELECT o_orderpriority,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  CAST(COUNT(CASE WHEN o_totalprice >= 100000 THEN 1 END) AS BIGINT) AS n_big
           |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): both destinations created, then tick 1 (the
    // pre-1997 window) published through ONE commit group — its marker
    // is the consumer's pin.
    import graft.operators.{CommitGroup, Snapshot}
    import graft.operators.CommitGroup.GroupWrite
    val root = java.nio.file.Files.createTempDirectory("graft_q171").toString
    val cut97 = lit("1997-01-01").cast("timestamp")
    def rev(w: org.apache.spark.sql.Column) = t.orders.where(w)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(28,2)").as("total"))
    def big(w: org.apache.spark.sql.Column) = t.orders.where(w)
      .groupBy(col("o_orderpriority"))
      .agg(count(when(col("o_totalprice") >= 100000, 1)).as("n_big"))
    Snapshot.create(t.spark, s"$root/rev", rev(lit(false)))
    Snapshot.create(t.spark, s"$root/big", big(lit(false)))
    val mk1 = CommitGroup.publish(t.spark, root, Seq(
      GroupWrite(s"$root/rev",
        sp => Snapshot.overwrite(sp, s"$root/rev", rev(col("o_orderdate") < cut97))),
      GroupWrite(s"$root/big",
        sp => Snapshot.overwrite(sp, s"$root/big", big(col("o_orderdate") < cut97)))))
    (root, mk1, rev(lit(true)), big(lit(true)))
  } { (t, st: (String, String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =>
    // MEASURED: pin table 1 at the tick → a NEW tick flips → table 2
    // still resolves through the SAME marker. The join's n/total/n_big
    // must all describe the tick-1 window; an unpinned second read
    // would see tick 2 and break the oracle.
    import graft.operators.{CommitGroup, Snapshot}
    import graft.operators.CommitGroup.GroupWrite
    val (root, mk1, revAll, bigAll) = st
    val revPinned = CommitGroup.readAt(t.spark, mk1, s"$root/rev")
    CommitGroup.publish(t.spark, root, Seq( // the mid-read tick flip
      GroupWrite(s"$root/rev", sp => Snapshot.overwrite(sp, s"$root/rev", revAll)),
      GroupWrite(s"$root/big", sp => Snapshot.overwrite(sp, s"$root/big", bigAll))))
    val bigPinned = Snapshot.sqlQuery(t.spark,
      s"SELECT * FROM big VERSION AS OF 'tick:$mk1' big",
      Map("big" -> s"$root/big"))
    revPinned.join(bigPinned, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"), col("n_big"))
      .orderBy("o_orderpriority")
  }

  /** INCREMENTAL MV OVER A JOIN — the reference's heaviest
    * materialization shape: a users dim joined to the fact before
    * aggregation (consumo_bloques_hora.py:102-245). The MV declares
    * `fact ⋈ dim → rollup`; a fact-only churn window refreshes by the
    * delta rule ΔMV = Γ(Δfact ⋈ dim) folded into state — the dim and
    * the unchanged fact bulk are read as O(dim) + O(change feed),
    * never O(fact). MatViewSpec pins the dim-churn fold and the
    * both-sides-changed telescoping; here the oracle pins bitwise
    * parity with a from-scratch recompute after TWO incremental
    * windows.
    */
  val q172 = QueryDef.staged(
    "q172_join_mv",
    // oracle: the final MV state recomputed from raw orders ⋈ customer
    Some("""SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.o_totalprice >= 1000
           |  AND NOT (o.o_orderpriority = '5-LOW'
           |           AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): fact (pre-1997 orders) + customer dim as
    // snapshot tables, the join MV declared over them, and the first
    // churn window (a year's load + a cleanup delete) staged.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q172").toString
    val factP = s"$root/fact"
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cut98 = lit("1998-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
      "o_orderpriority")
    Snapshot.create(t.spark, factP,
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    Snapshot.create(t.spark, s"$root/dim",
      t.customer.select(col("c_custkey"), col("c_mktsegment")))
    val reg = Map("fact" -> factP, "dim" -> s"$root/dim", "mv" -> s"$root/mv")
    Snapshot.sql(t.spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT c_mktsegment AS seg, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM fact JOIN dim ON fact.o_custkey = dim.c_custkey
        |WHERE o_totalprice >= 1000
        |GROUP BY c_mktsegment""".stripMargin, reg)
    Snapshot.append(t.spark, factP,
      t.orders.where(col("o_orderdate") >= cut97 && col("o_orderdate") < cut98)
        .select(cols.map(col): _*))
    Snapshot.delete(t.spark, factP,
      col("o_orderpriority") === "5-LOW" &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    (root, reg)
  } { (t, st: (String, Map[String, String])) =>
    // MEASURED: refresh (Δfact ⋈ dim fold) → another fact load →
    // refresh again — each refresh reads the window's net change feed
    // plus the broadcast-sized dim, never the fact bulk — then the view.
    import graft.operators.Snapshot
    val (root, reg) = st
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.append(t.spark, s"$root/fact",
      t.orders.where(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")))
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.read(t.spark, s"$root/mv")
      .select(col("seg"), col("n"), col("total").cast("double").as("total"))
      .orderBy("seg")
  }

  /** MIN/MAX INCREMENTAL MV TIER — additive folds cover COUNT/SUM;
    * MIN/MAX needs the delete-triggered per-group re-derivation (a
    * delete that removes a group's extremum re-aggregates ONLY that
    * group from the source — O(affected groups), not O(table); a
    * window whose deletes never reach an extremum folds with no
    * re-derivation at all). The churn here kills one priority's top
    * price band, so exactly that group re-derives.
    */
  val q173 = QueryDef.staged(
    "q173_minmax_mv",
    // oracle: the final MV state recomputed from raw orders minus the
    // deleted band
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE NOT (o_orderpriority = '1-URGENT' AND o_totalprice >= 300000)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): the source snapshot + the MIN/MAX rollup MV.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q173").toString
    val srcP = s"$root/src"
    Snapshot.create(t.spark, srcP,
      t.orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")))
    val reg = Map("src" -> srcP, "mv" -> s"$root/mv")
    Snapshot.sql(t.spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY o_orderpriority""".stripMargin, reg)
    (root, reg)
  } { (t, st: (String, Map[String, String])) =>
    // MEASURED: the extremum-killing delete (one priority's top band)
    // + the incremental refresh that re-derives exactly that group,
    // then the view. MatViewSpec pins that this window stays on the
    // incremental path.
    import graft.operators.Snapshot
    val (root, reg) = st
    Snapshot.delete(t.spark, s"$root/src",
      col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 300000)
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    Snapshot.read(t.spark, s"$root/mv")
      .select(col("o_orderpriority"), col("n"), col("lo"), col("hi"),
        col("total").cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  /** MULTI-SOURCE INCREMENTAL MV — BOTH the fact and the dim churn in
    * one window and the refresh still folds, by the telescoping delta
    * rule (Δfact ⋈ dim_old + fact_new ⋈ Δdim; MatView.refresh): the
    * fact load, a top-band cleanup delete (which kills group maxima —
    * exercising the per-group MIN/MAX re-derivation against the
    * multi-source childAtNew) and a dim backfill that brings
    * previously-unjoined fact rows into the view, all in one REFRESH.
    * The build REQUIRES the commit landed "(incremental)" — a silent
    * demotion to full recompute fails the query, not just the clock.
    * At 100 TB each refresh reads the two change windows, never the
    * fact bulk.
    */
  val q179 = QueryDef.staged(
    "q179_multisource_mv",
    // oracle: the final MV state recomputed from raw orders ⋈ customer
    // minus the deleted top band
    Some("""SELECT c.c_nationkey AS nat, CAST(COUNT(*) AS BIGINT) AS n,
           |  MAX(o.o_totalprice) AS hi,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE NOT (o.o_totalprice >= 400000)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): fact = pre-1997 orders, dim = HALF the
    // customers (evens), the join MV over them, then the both-sides
    // churn window staged.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q179").toString
    val factP = s"$root/fact"; val dimP = s"$root/dim"
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    Snapshot.create(t.spark, factP,
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    Snapshot.create(t.spark, dimP,
      t.customer.where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_nationkey")))
    val reg = Map("fact" -> factP, "dim" -> dimP, "mv" -> s"$root/mv")
    Snapshot.sql(t.spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT c_nationkey AS nat, COUNT(*) AS n, MAX(o_totalprice) AS hi,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM fact JOIN dim ON fact.o_custkey = dim.c_custkey
        |GROUP BY c_nationkey""".stripMargin, reg)
    Snapshot.append(t.spark, factP,
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    Snapshot.delete(t.spark, factP, col("o_totalprice") >= 400000)
    Snapshot.append(t.spark, dimP,
      t.customer.where(col("c_custkey") % 2 =!= 0)
        .select(col("c_custkey"), col("c_nationkey")))
    (root, reg)
  } { (t, st: (String, Map[String, String])) =>
    // MEASURED: ONE refresh folding both change windows + the view read.
    import graft.operators.Snapshot
    val (root, reg) = st
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val op = Snapshot.latestManifest(t.spark, s"$root/mv").get.operation
    require(op.contains("(incremental)"),
      s"q179: expected a telescoped incremental refresh, got: $op")
    Snapshot.read(t.spark, s"$root/mv")
      .select(col("nat"), col("n"), col("hi"),
        col("total").cast("double").as("total"))
      .orderBy("nat")
  }

  /** MV AUTO-ROUTING — the BigQuery behavior the reference leans on
    * implicitly: a query whose rollup matches a FRESH materialized
    * view answers from the MV's state, not the fact table
    * (plans.MvAutoRoute). The build asserts the plan pin (the MV scan
    * replaced the fact scan) and the oracle pins hash-identity with a
    * from-raw recompute — wrong-but-routed fails both ways. At 100 TB
    * the routed plan reads the rollup (KBs), not the fact table.
    */
  val q178 = QueryDef.staged(
    "q178_mv_autoroute",
    // oracle: the defining rollup recomputed from raw orders with the
    // post-churn window — what BOTH routes must return
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE o_totalprice >= 1000
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog warehouse, fact table (pre-1997 at
    // create), the MV, then a churn window + REFRESH so the watermark
    // is a real mid-history version, not 1.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q178").toString
    t.spark.conf.set("spark.sql.catalog.g178", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g178.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g178.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    val defining =
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g178.db.src WHERE o_totalprice >= 1000
        |GROUP BY o_orderpriority""".stripMargin
    t.spark.sql(s"CREATE MATERIALIZED VIEW g178.db.mv AS $defining")
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g178.db.mv")
    (root, defining)
  } { (t, st: (String, String)) =>
    // MEASURED: the routed query — the matcher, the freshness gate,
    // and the MV scan itself. The plan pin rides the build: if the
    // optimizer left the fact scan in place, the query throws.
    val (root, defining) = st
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(defining)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q178: expected the MV scan to replace the fact scan, got $scans")
      routed.select(col("o_orderpriority"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderpriority")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** ROLLUP-CONTAINMENT AUTO-ROUTING — the query groups by a SUBSET of
    * the MV's keys (o_orderstatus, dropping o_orderpriority), so the
    * exact tier can't fire; the containment tier answers it by
    * RE-AGGREGATING the MV state (COUNT(*) → SUM(n), SUM → SUM(total),
    * MAX → MAX(hi)) — the BigQuery smart-tuning behavior. The build
    * requires the plan pin (only the MV is scanned); the oracle pins
    * hash-identity with the from-raw rollup. At 100 TB the routed plan
    * aggregates the rollup's few hundred rows, not the fact table.
    */
  val q180 = QueryDef.staged(
    "q180_mv_rollup_route",
    // oracle: the coarser rollup recomputed from raw orders
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  MAX(o_totalprice) AS hi,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, two-key MV, churn + REFRESH so
    // the watermark is a mid-history version.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q180").toString
    t.spark.conf.set("spark.sql.catalog.g180", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g180.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g180.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g180.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  MAX(o_totalprice) AS hi,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g180.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g180.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the containment-routed coarser rollup + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS hi,
          |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
          |FROM g180.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q180: expected the containment route onto the MV, got $scans")
      routed.select(col("o_orderstatus"), col("n"), col("hi"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** KEY-PREDICATE COMPENSATION ROUTING — a filter on MV grouping-key
    * columns commutes with the rollup (every fact row of a state group
    * shares its key values), so the query routes as Filter + re-rollup
    * OVER the MV state; the non-key residue must equal the defining
    * tree exactly. The plan pin rides the build. At 100 TB the routed
    * plan filters the rollup's few hundred rows instead of scanning
    * the fact table.
    */
  val q186 = QueryDef.staged(
    "q186_mv_filter_route",
    // oracle: the filtered coarser rollup recomputed from raw orders
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the two-key MV, churn + REFRESH.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q186").toString
    t.spark.conf.set("spark.sql.catalog.g186", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g186.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g186.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g186.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g186.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g186.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the key-filtered, coarser rollup + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
          |FROM g186.db.src
          |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          |GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q186: expected the key-filtered route onto the MV, got $scans")
      routed.select(col("o_orderstatus"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** COUNT(DISTINCT) INCREMENTAL MV TIER — the reference's defining
    * metric family is exact per-rollup distinct device/user counts
    * (consumo_registrados.py:160 count(distinct device_id);
    * audio_digital.py:391); an MV declaring one now refreshes
    * O(change) through a co-maintained (keys, value) DISTINCT-STATE
    * side table folded from the same net change feed — the MV column
    * is the side table's per-group row count. The churn here appends a
    * window AND deletes one (status, priority) band entirely — the
    * group's LAST occurrences of that priority value and the last
    * orders of many custkeys — so both distinct columns must move
    * DOWN, which no additive fold can do without the state. The build
    * REQUIRES the commit landed "(incremental)". At 100 TB the refresh
    * reads the change window and rewrites rollup-sized state; the fact
    * bulk is never rescanned.
    */
  val q187 = QueryDef.staged(
    "q187_distinct_mv",
    // oracle: the final MV state recomputed from raw orders with the
    // same churn applied
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS np,
           |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nc,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE NOT (o_orderstatus = 'F' AND o_orderpriority = '5-LOW')
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): source snapshot (pre-1997) + the distinct MV;
    // the side tables land with the create.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q187").toString
    val srcP = s"$root/src"
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    Snapshot.create(t.spark, srcP,
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    val reg = Map("src" -> srcP, "mv" -> s"$root/mv")
    Snapshot.sql(t.spark,
      """CREATE MATERIALIZED VIEW mv AS
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(DISTINCT o_orderpriority) AS np,
        |  COUNT(DISTINCT o_custkey) AS nc,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM src GROUP BY o_orderstatus""".stripMargin, reg)
    // bulk load + its refresh are fixture (untimed, q172 already times
    // an insert-window fold) — the watermark lands mid-history
    Snapshot.append(t.spark, srcP,
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    (root, reg, cols)
  } { (t, st: (String, Map[String, String], Seq[String])) =>
    // MEASURED: the band delete (removes last occurrences of a
    // priority within a status — the case no additive fold can track)
    // + the incremental refresh folding it through the distinct-state
    // side tables.
    import graft.operators.Snapshot
    val (root, reg, _) = st
    Snapshot.delete(t.spark, s"$root/src",
      col("o_orderstatus") === "F" && col("o_orderpriority") === "5-LOW")
    Snapshot.sql(t.spark, "REFRESH MATERIALIZED VIEW mv", reg)
    val op = Snapshot.latestManifest(t.spark, s"$root/mv").get.operation
    require(op.contains("(incremental)"),
      s"q187: the distinct tier must stay incremental, got: $op")
    Snapshot.read(t.spark, s"$root/mv")
      .select(col("o_orderstatus"), col("n"), col("np"), col("nc"),
        col("total").cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** CATALOG-SCOPED MV ROUTE DISCOVERY + SMALLEST-STATE SELECTION —
    * `spark.graft.mv.autoRouteNamespace` replaces the hand-listed
    * candidate conf: EVERY materialized view in the namespace is a
    * candidate (one bounded directory listing), the BigQuery behavior
    * a 50-MV warehouse actually needs. Three candidates here: a
    * 2-key FINE rollup (routes via containment), a 1-key COARSE rollup
    * (exact match, ~5 rows), and a STALE copy of the coarse rollup
    * (created before a churn window, never refreshed — the freshness
    * gate must skip it silently). The build REQUIRES the plan scanned
    * exactly the fresh coarse MV — the smallest state among the
    * matches. At 100 TB this is the difference between aggregating a
    * few-hundred-row fine rollup and reading 5 rows.
    */
  val q188 = QueryDef.staged(
    "q188_mv_route_discovery",
    // oracle: the coarse rollup recomputed from raw orders
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, a STALE coarse MV (pre-churn),
    // then churn + the fresh fine and coarse MVs refreshed past it.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q188").toString
    t.spark.conf.set("spark.sql.catalog.g188", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g188.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g188.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    def coarseSql(mv: String) =
      s"""CREATE MATERIALIZED VIEW g188.db.$mv AS
         |SELECT o_orderstatus, COUNT(*) AS n,
         |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
         |FROM g188.db.src GROUP BY o_orderstatus""".stripMargin
    t.spark.sql(coarseSql("mv_stale"))
    t.spark.sql(coarseSql("mv_coarse"))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g188.db.mv_fine AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g188.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g188.db.mv_coarse")
    t.spark.sql("REFRESH MATERIALIZED VIEW g188.db.mv_fine")
    root
  } { (t, root: String) =>
    // MEASURED: discovery (namespace listing), the matcher over all
    // three candidates, smallest-state selection, and the routed scan.
    t.spark.conf.set("spark.graft.mv.autoRouteNamespace", "g188.db")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
          |FROM g188.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv_coarse"),
        s"q188: expected the fresh SMALLEST candidate (mv_coarse), got $scans")
      routed.select(col("o_orderstatus"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRouteNamespace")
  }

  /** COUNT(DISTINCT) CONTAINMENT ROUTING — the reference's distinct
    * device/user metrics are published at SEVERAL grains from one
    * detail table (consumo_registrados.py:160, audio_digital.py:391);
    * a coarser distinct rollup can never re-aggregate from the MV's
    * counts (distinct doesn't add), but it CAN re-count from the
    * distinct-state side table the view already co-maintains: the
    * coarse count is count_distinct over the side's member fine
    * groups — state-sized and exact. The build REQUIRES the plan
    * scanned exactly {MV, side} — the fact table never appears. At
    * 100 TB the routed plan reads the rollup + its value state
    * (MBs), not the detail table.
    */
  val q190 = QueryDef.staged(
    "q190_distinct_route",
    // oracle: the coarse distinct rollup recomputed from raw orders
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nc
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the two-key distinct MV, a
    // churn window + REFRESH so watermark and side state are
    // mid-history.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q190").toString
    t.spark.conf.set("spark.sql.catalog.g190", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g190.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g190.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g190.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  COUNT(DISTINCT o_custkey) AS nc
        |FROM g190.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g190.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the routed coarse distinct rollup + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS nc
          |FROM g190.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      val side = graft.operators.MatView.sidePath(s"$root/db/mv", "nc")
      require(scans == Set(s"$root/db/mv", side),
        s"q190: expected the MV + side-state route, got $scans")
      routed.select(col("o_orderstatus"), col("n"), col("nc"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** AVG CONTAINMENT ROUTING — the reference publishes avg_minutes on
    * every rollup (audio_digital.py:262, funnel_emisor.py:160-164); a
    * coarser AVG is NOT averageable from per-group averages, but it IS
    * exactly derivable as SUM(sum state)/SUM(count state) when the MV
    * exposes both for the same DECIMAL argument — the routed division
    * replays Spark's own Average evaluate chain (exact decimal sums,
    * the same Divide + cast), so parity is bitwise. The oracle
    * reproduces the decimal HALF_UP rounding from exact integer cents
    * (DuckDB's decimal division returns DOUBLE, which would drift).
    * The build REQUIRES the plan scanned only the MV. At 100 TB the
    * routed plan reads the rollup, not the fact table.
    */
  val q191 = QueryDef.staged(
    "q191_avg_route",
    // oracle: Spark's AVG(DECIMAL(18,2)) = HALF_UP(exact quotient, 6dp)
    // reproduced in exact integer arithmetic: cents → scale-6 units
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST((2 * CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) * 10000
           |        + COUNT(o_totalprice))
           |       // (2 * COUNT(o_totalprice)) AS DOUBLE) / 1000000.0 AS avg_price
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the 2-key MV carrying SUM and
    // COUNT of the SAME decimal argument, churn + REFRESH.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q191").toString
    t.spark.conf.set("spark.sql.catalog.g191", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g191.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g191.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g191.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  COUNT(CAST(o_totalprice AS DECIMAL(18,2))) AS cnt_p,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_p
        |FROM g191.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g191.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the avg_minutes-shaped coarser rollup + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS avg_price
          |FROM g191.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q191: expected the AVG derivation onto the MV, got $scans")
      routed.select(col("o_orderstatus"), col("n"),
          col("avg_price").cast("double").as("avg_price"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** TIME-HIERARCHY CONTAINMENT ROUTING — the reference's defining
    * rollup pattern is the periodo hierarchy: hora → diario → mensual
    * recomputed per grain from the same detail
    * (consumo_usuarios.py:278-291, audio_digital.py:307,
    * consumo_bloques_hora.py:110-113 dicc_fechas grains). A monthly
    * query over a DAY-keyed MV groups by `date_trunc('month',
    * day_key)` — an EXPRESSION of the MV key, not a bare subset.
    * Exact because every fact row of a fine group shares its key
    * value, so any deterministic function of it commutes with the
    * rollup (the key-predicate-peel argument). The query also carries
    * a key-pure WHERE (peeled onto the state) to pin composition. The
    * build REQUIRES the plan scanned only the MV. At 100 TB the
    * monthly rollup reads a day-grain rollup (MBs), never the fact
    * table.
    */
  val q192 = QueryDef.staged(
    "q192_time_hierarchy_route",
    // oracle: the monthly rollup recomputed from raw orders
    Some("""SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mes,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, day-grain fact, the day-keyed MV,
    // churn + REFRESH so the watermark sits mid-history.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q192").toString
    t.spark.conf.set("spark.sql.catalog.g192", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g192.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g192.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val src = t.orders.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderdate").cast("date").as("o_day"))
    Snapshot.create(t.spark, s"$root/db/src", src.where(col("o_orderdate") < cut97))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g192.db.mv AS
        |SELECT o_day, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g192.db.src GROUP BY o_day""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src", src.where(col("o_orderdate") >= cut97))
    t.spark.sql("REFRESH MATERIALIZED VIEW g192.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the monthly rollup over the day-keyed MV + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT CAST(date_trunc('month', o_day) AS DATE) AS mes,
          |  COUNT(*) AS n,
          |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
          |FROM g192.db.src
          |WHERE o_day >= DATE '1995-01-01'
          |GROUP BY date_trunc('month', o_day)""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q192: expected the time-hierarchy route onto the day-keyed MV, got $scans")
      routed.select(col("mes"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("mes")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** EXPRESSION-KEYED MV INCREMENTAL REFRESH — the most natural
    * landing rollup in the reference is keyed by a GRAIN EXPRESSION
    * of the event time (`date_trunc('day', ts)`; hora/diario/mensual,
    * consumo_bloques_hora.py:110-113, audio_digital.py:307). Round 14
    * refused expression keys outright, silently losing incremental
    * refresh for exactly that shape. Now an aliased deterministic
    * scalar expression IS a key: the telescoping delta replays compute
    * it per feed under synthesized `__gk_<i>` names, the fold joins on
    * the alias, and the MIN/MAX delete tier re-derives dented groups
    * through the same expression. The build REQUIRES the refresh
    * commit landed "(incremental)" — a silent demotion to full
    * recompute fails the build. At 100 TB the refresh reads the
    * change window, never the fact table.
    */
  val q193 = QueryDef.staged(
    "q193_expr_keyed_mv",
    // oracle: the day-grain rollup recomputed from the post-churn fact
    Some("""SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dia,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
           |FROM orders WHERE NOT (o_orderkey % 100 < 5)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog + the pre-churn fact + the
    // expression-keyed MV.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q193").toString
    t.spark.conf.set("spark.sql.catalog.g193", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g193.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g193.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g193.db.mv AS
        |SELECT date_trunc('day', o_orderdate) AS dia, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM g193.db.src GROUP BY date_trunc('day', o_orderdate)""".stripMargin)
    root
  } { (t, root: String) =>
    // MEASURED: a churn window (append + a delete that dents MIN/MAX
    // extrema) + the INCREMENTAL refresh through the expression key.
    import graft.operators.Snapshot
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")))
    Snapshot.delete(t.spark, s"$root/db/src", col("o_orderkey") % 100 < 5)
    t.spark.sql("REFRESH MATERIALIZED VIEW g193.db.mv")
    val op = Snapshot.latestManifest(t.spark, s"$root/db/mv").get.operation
    require(op.contains("(incremental)"),
      s"q193: the expression-keyed refresh must stay incremental, got: $op")
    Snapshot.read(t.spark, s"$root/db/mv")
      .select(col("dia").cast("date").as("dia"), col("n"),
        col("total").cast("double").as("total"), col("lo"), col("hi"))
      .orderBy("dia")
  }

  /** AVG AUTO-EXPANSION — the reference publishes avg_minutes on every
    * rollup (funnel_emisor.py:160-164, audio_digital.py:262-263); a
    * view porting those queries verbatim declares AVG in its defining
    * SQL. The AVG column now auto-expands into a co-maintained
    * `<mv>__avgs` side table (keys, liveness, sum, count — folded from
    * the same net change feeds), the view column derives by replaying
    * Average's own evaluate chain, and the refresh stays INCREMENTAL
    * (required by the build). The same side then serves the
    * CONTAINMENT ROUTE: a coarser AVG re-sums the side state — the
    * plan pin REQUIRES exactly {MV, avg side} scanned. At 100 TB both
    * the refresh and the route read state, never the fact table.
    */
  val q194 = QueryDef.staged(
    "q194_avg_mv",
    // oracle: Spark's AVG(DECIMAL(18,2)) = HALF_UP(exact quotient, 6dp)
    // reproduced in exact integer arithmetic over the post-churn fact
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST((2 * CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) * 10000
           |        + COUNT(o_totalprice))
           |       // (2 * COUNT(o_totalprice)) AS DOUBLE) / 1000000.0 AS avg_price
           |FROM orders WHERE NOT (o_orderkey % 10 = 7)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the AVG-declaring 2-key MV
    // (avg side co-created).
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q194").toString
    t.spark.conf.set("spark.sql.catalog.g194", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g194.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g194.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
      "o_orderpriority")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g194.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS avg_price
        |FROM g194.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    root
  } { (t, root: String) =>
    // MEASURED: churn (append + delete) + the incremental refresh of
    // view AND avg side, then the routed coarser AVG + the plan pin.
    import graft.operators.Snapshot
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus",
          "o_orderpriority").map(col): _*))
    Snapshot.delete(t.spark, s"$root/db/src", col("o_orderkey") % 10 === 7)
    t.spark.sql("REFRESH MATERIALIZED VIEW g194.db.mv")
    val op = Snapshot.latestManifest(t.spark, s"$root/db/mv").get.operation
    require(op.contains("(incremental)"),
      s"q194: the AVG-declaring refresh must stay incremental, got: $op")
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS avg_price
          |FROM g194.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      val side = graft.operators.MatView.avgSidePath(s"$root/db/mv")
      require(scans == Set(s"$root/db/mv", side),
        s"q194: expected the MV + avg-side route, got $scans")
      routed.select(col("o_orderstatus"), col("n"),
          col("avg_price").cast("double").as("avg_price"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** COUNT(DISTINCT key) WITHOUT A SIDE TABLE — when the distinct
    * argument IS an MV grouping key, the coarse distinct count is the
    * number of distinct key values among the member fine groups —
    * derivable from the view state ALONE (count_distinct over the
    * state key column). Covers MVs created before the distinct-state
    * tier existed: this view declares NO distinct column and owns no
    * side table. The build REQUIRES the plan scanned only the MV. At
    * 100 TB the distinct count reads the rollup, never the detail.
    */
  val q195 = QueryDef.staged(
    "q195_distinct_key_route",
    // oracle: the coarse rollup with its key-distinct recomputed raw
    Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS np
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the 2-key MV with NO distinct
    // column, churn + REFRESH.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q195").toString
    t.spark.conf.set("spark.sql.catalog.g195", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g195.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g195.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g195.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM g195.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    t.spark.sql("REFRESH MATERIALIZED VIEW g195.db.mv")
    root
  } { (t, root: String) =>
    // MEASURED: the keyless distinct route + the plan pin.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  COUNT(DISTINCT o_orderpriority) AS np
          |FROM g195.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q195: expected the key-distinct derivation onto the MV alone, got $scans")
      routed.select(col("o_orderstatus"), col("n"), col("np"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** KMV SKETCH-STATE MV — the bounded-state relief valve for distinct
    * counting at 100 TB: the exact distinct-state side table is
    * O(distinct (keys, value) pairs); a `graft_bottomk` sketch column
    * is k longs per group, folds inserts by the classic KMV merge
    * (bottom-k of a union — proven merge == recompute bitwise by
    * q49/q86's estimator machinery), and re-derives only groups a
    * delete actually dented (smallest deleted hash at/under the kth
    * statistic). The build REQUIRES the refresh landed
    * "(incremental)"; the oracle replays the same KMV algorithm
    * (row_number over md5-derived 32-bit hashes) over the post-churn
    * fact, so the engine's sketch estimate hash-matches exactly.
    */
  val q196 = QueryDef.staged(
    "q196_kmv_mv",
    // oracle: bottom-16 hashed customers per status, KMV estimator
    Some("""WITH h AS (
           |  SELECT DISTINCT o_orderstatus,
           |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS hv
           |  FROM orders WHERE o_custkey IS NOT NULL AND NOT (o_orderkey % 10 = 3)
           |), r AS (
           |  SELECT o_orderstatus, hv,
           |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn
           |  FROM h
           |)
           |SELECT o_orderstatus, min(hv) AS h_min, max(hv) AS h_k,
           |  (CAST(count(*) - 1 AS DOUBLE) * 4294967296.0) / max(hv) AS est_users
           |FROM r WHERE rn <= 16
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the sketch-state MV.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q196").toString
    t.spark.conf.set("spark.sql.catalog.g196", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g196.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g196.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g196.db.mv AS
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  graft_bottomk(CAST(CONV(SUBSTRING(MD5(CAST(o_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT), 16) AS uk
        |FROM g196.db.src GROUP BY o_orderstatus""".stripMargin)
    root
  } { (t, root: String) =>
    // MEASURED: churn (append + ~10% delete) + the incremental sketch
    // fold, then the estimator over the folded state.
    import graft.operators.Snapshot
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
          .map(col): _*))
    Snapshot.delete(t.spark, s"$root/db/src", col("o_orderkey") % 10 === 3)
    t.spark.sql("REFRESH MATERIALIZED VIEW g196.db.mv")
    val op = Snapshot.latestManifest(t.spark, s"$root/db/mv").get.operation
    require(op.contains("(incremental)"),
      s"q196: the sketch fold must stay incremental, got: $op")
    Snapshot.read(t.spark, s"$root/db/mv")
      .select(col("o_orderstatus"),
        element_at(col("uk"), 1).as("h_min"),
        element_at(col("uk"), size(col("uk"))).as("h_k"),
        (((size(col("uk")) - 1).cast("double")) * 4294967296.0 /
          element_at(col("uk"), size(col("uk")))).as("est_users"))
      .orderBy("o_orderstatus")
  }

  /** KMV SKETCH CONTAINMENT ROUTE — the approximate-distinct answer at
    * a COARSER grain reads sketch STATE, never the fact table: a query
    * asking `graft_bottomk(h, k)` per status routes onto the
    * (status, priority)-keyed sketch MV by the classic KMV merge
    * identity — bottomk(∪ bottomk(G_i)) = bottomk(∪ G_i) — so the
    * routed sketch AND the estimator derived from it are BITWISE the
    * direct plan's (a mismatched k or hash expression refuses:
    * truncation at different thresholds does not commute). The build
    * REQUIRES the incremental sketch fold in the fixture and the
    * MV-only plan pin in the route. At 100 TB the coarse distinct
    * estimate costs k longs per fine group, not a fact pass.
    */
  val q197 = QueryDef.staged(
    "q197_kmv_route",
    // oracle: per-status row count + the KMV estimator replayed over
    // the post-churn fact (bottom-16 md5-derived 32-bit hashes)
    Some("""WITH f AS (
           |  SELECT * FROM orders WHERE NOT (o_orderkey % 10 = 3)
           |), h AS (
           |  SELECT DISTINCT o_orderstatus,
           |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS hv
           |  FROM f WHERE o_custkey IS NOT NULL
           |), r AS (
           |  SELECT o_orderstatus, hv,
           |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn
           |  FROM h
           |), s AS (
           |  SELECT o_orderstatus, min(hv) AS h_min, max(hv) AS h_k,
           |    (CAST(count(*) - 1 AS DOUBLE) * 4294967296.0) / max(hv) AS est_users
           |  FROM r WHERE rn <= 16 GROUP BY o_orderstatus
           |), c AS (
           |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM f GROUP BY o_orderstatus
           |)
           |SELECT c.o_orderstatus, c.n, s.h_min, s.h_k, s.est_users
           |FROM c JOIN s USING (o_orderstatus) ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the 2-key sketch MV, one churn
    // window + the incremental fold (required) so the route serves
    // post-churn state.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q197").toString
    t.spark.conf.set("spark.sql.catalog.g197", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g197.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g197.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
      "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g197.db.mv AS
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  graft_bottomk(CAST(CONV(SUBSTRING(MD5(CAST(o_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT), 16) AS uk
        |FROM g197.db.src GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= cut97).select(cols.map(col): _*))
    Snapshot.delete(t.spark, s"$root/db/src", col("o_orderkey") % 10 === 3)
    t.spark.sql("REFRESH MATERIALIZED VIEW g197.db.mv")
    val op = Snapshot.latestManifest(t.spark, s"$root/db/mv").get.operation
    require(op.contains("(incremental)"),
      s"q197: the sketch fold must stay incremental, got: $op")
    root
  } { (t, root: String) =>
    // MEASURED: the routed coarse sketch + the plan pin + the
    // estimator over the merged sketch.
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/mv")
    try {
      val routed = t.spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  graft_bottomk(CAST(CONV(SUBSTRING(MD5(CAST(o_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT), 16) AS uk
          |FROM g197.db.src GROUP BY o_orderstatus""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/mv"),
        s"q197: expected the sketch merge onto the MV alone, got $scans")
      routed.select(col("o_orderstatus"), col("n"),
          element_at(col("uk"), 1).as("h_min"),
          element_at(col("uk"), size(col("uk"))).as("h_k"),
          (((size(col("uk")) - 1).cast("double")) * 4294967296.0 /
            element_at(col("uk"), size(col("uk")))).as("est_users"))
        .orderBy("o_orderstatus")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  /** STACKED MATERIALIZED VIEWS — the reference's hora → diario →
    * mensual rollup family as materialized TIERS: a day-grain MV over
    * the fact, a month-grain MV over the DAY MV. Each tier refreshes
    * from its own source's change window — the outer tier folds the
    * inner's net-reconciled replace commits (exceptAll cancellation
    * reduces the whole-state rewrite to exactly the dented day rows),
    * so the monthly refresh is O(changed days), never a fact pass. One
    * fleet maintenance tick lands the WHOLE stack: [[Maintenance]]
    * orders tables sources-first (topological by resolved MV-source
    * edges — name order would run the outer tier first and leave it a
    * tick stale). The build REQUIRES both refreshes "(incremental)",
    * the inner-before-outer execution order, and the monthly query
    * over the day MV routing onto the month state (smallest-state
    * candidate). At 100 TB: fact churn → day fold O(change) → month
    * fold O(dented days) → queries read month state.
    */
  val q198 = QueryDef.staged(
    "q198_stacked_mv",
    // oracle: the monthly rollup recomputed from the post-churn fact
    Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
           |  CAST(COUNT(DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE)) AS BIGINT) AS ndias,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE NOT (o_orderkey % 10 = 6)
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { t =>
    // FIXTURE (untimed): catalog, fact, the two-tier stack with
    // per-table refresh policy.
    import graft.operators.Snapshot
    val root = java.nio.file.Files.createTempDirectory("graft_q198").toString
    t.spark.conf.set("spark.sql.catalog.g198", "graft.catalog.GraftCatalog")
    t.spark.conf.set("spark.sql.catalog.g198.warehouse", root)
    t.spark.sql("CREATE NAMESPACE IF NOT EXISTS g198.db")
    val cut97 = lit("1997-01-01").cast("timestamp")
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate")
    Snapshot.create(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") < cut97).select(cols.map(col): _*))
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g198.db.dia AS
        |SELECT date_trunc('day', o_orderdate) AS dia, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |FROM g198.db.src GROUP BY date_trunc('day', o_orderdate)""".stripMargin)
    // the OUTER tier is named to sort BEFORE its source — only the
    // dependency order makes the cascade land in one tick
    t.spark.sql(
      """CREATE MATERIALIZED VIEW g198.db.agg AS
        |SELECT date_trunc('month', dia) AS mes, COUNT(*) AS ndias,
        |  SUM(n) AS n, SUM(total) AS total
        |FROM g198.db.dia GROUP BY date_trunc('month', dia)""".stripMargin)
    t.spark.sql("ALTER MATERIALIZED VIEW g198.db.dia SET REFRESH EVERY 1 TICKS")
    t.spark.sql("ALTER MATERIALIZED VIEW g198.db.agg SET REFRESH EVERY 1 TICKS")
    root
  } { (t, root: String) =>
    // MEASURED: fact churn + ONE fleet tick (both tiers fold, ordered
    // sources-first) + the routed monthly query over the day MV.
    import graft.operators.Snapshot
    import graft.pipelines.Maintenance
    Snapshot.append(t.spark, s"$root/db/src",
      t.orders.where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select(Seq("o_orderkey", "o_totalprice", "o_orderdate").map(col): _*))
    Snapshot.delete(t.spark, s"$root/db/src", col("o_orderkey") % 10 === 6)
    val out = Maintenance.tickNamespace(t.spark, "g198.db", 1L, s"$root/flags")
    require(out.values.forall(_.ok), s"q198: tick failed: $out")
    val order = out.keys.toSeq
    require(order.indexOf("maintain_dia") < order.indexOf("maintain_agg"),
      s"q198: sources must refresh first, got $order")
    Seq("dia", "agg").foreach { nm =>
      val op = Snapshot.latestManifest(t.spark, s"$root/db/$nm").get.operation
      require(op.contains("(incremental)"),
        s"q198: the $nm tier must fold incrementally, got: $op")
    }
    t.spark.conf.set("spark.graft.mv.autoRoute", s"$root/db/dia,$root/db/agg")
    try {
      val routed = t.spark.sql(
        """SELECT CAST(date_trunc('month', dia) AS DATE) AS mes,
          |  COUNT(*) AS ndias, SUM(n) AS n, SUM(total) AS total
          |FROM g198.db.dia GROUP BY date_trunc('month', dia)""".stripMargin)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case i: graft.sources.SnapshotFileIndex => Seq(i.pinnedPath)
                case _ => Seq.empty[String]
              }
            case _ => Seq.empty[String]
          }
      }.flatten.toSet
      require(scans == Set(s"$root/db/agg"),
        s"q198: expected the month-state route, got $scans")
      routed.select(col("mes"), col("ndias"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("mes")
    } finally t.spark.conf.unset("spark.graft.mv.autoRoute")
  }

  override def queries: Seq[QueryDef] =
    Seq(q80, q84, q87, q106, q116, q117, q118, q119, q120, q121, q122, q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150, q151, q152, q153, q154, q155, q156, q157, q158, q159, q165, q166, q167, q168, q171, q172, q173, q178, q179, q180, q186, q187, q188, q190, q191, q192, q193, q194, q195, q196, q197, q198)
}
