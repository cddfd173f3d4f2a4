package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning — the first lever at
  * 100 TB, before any operator runs: a table laid out so that parquet
  * min/max footer statistics make MOST files/row-groups skippable for
  * range predicates on ANY clustered column, not just the leading sort
  * key. The reference gets this for free from BigQuery clustering
  * (`cluster_fields` on its landing tables, e.g. audio_digital.py's
  * date+soporte clustered destinations); on plain parquet it has to be
  * produced by the writer, which is what this operator does.
  *
  * Mechanism: each clustered column is mapped to a `bits`-wide uniform
  * bucket between its min and max (one cheap stats pass — at scale these
  * bounds come from catalog stats), the buckets' bits are interleaved
  * into a Morton (Z-order) value, and the data is range-partitioned and
  * sorted by that value. Locality in z-space = locality in every
  * clustered dimension, so each file's footer covers a tight box: a
  * 2-D range predicate then intersects O(perimeter) files instead of
  * O(n) — and, crucially, a predicate on the SECOND column alone still
  * skips ~(1 - 2^-bits_per_dim) of the table, where a linear sort on
  * the first column skips nothing.
  *
  * Everything is built-in codegen'd expressions (shifts/ors — no UDF),
  * the exchange is one `repartitionByRange` (sampled range boundaries,
  * no global sort), and the write is a plain parquet append, so the
  * whole layout pass is a single shuffle over the table.
  */
object Layout {

  /** Morton value over `zCols` given per-column (min, max) bounds:
    * uniform `bits`-wide buckets, bit-interleaved high-to-low so equal
    * prefixes = nested boxes. Null values clamp to bucket 0 (they sort
    * first, same as a plain sort). Bounds degenerate (min==max) → the
    * column contributes constant bits and the order falls back to the
    * remaining columns.
    */
  def zvalue(zCols: Seq[Column], bounds: Seq[(Double, Double)], bits: Int): Column = {
    require(zCols.nonEmpty && zCols.size == bounds.size, "one (min,max) per z column")
    require(bits >= 1 && bits * zCols.size <= 62, s"$bits bits x ${zCols.size} cols overflows a long")
    val nBuckets = 1L << bits
    val buckets = zCols.zip(bounds).map { case (c, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      val raw = floor((c.cast("double") - lit(lo)) / lit(span) * lit(nBuckets.toDouble)).cast("long")
      // clamp: the max value itself lands in bucket nBuckets, nulls to 0
      coalesce(least(greatest(raw, lit(0L)), lit(nBuckets - 1)), lit(0L))
    }
    (bits - 1 to 0 by -1).foldLeft(lit(0L)) { (z, bit) =>
      buckets.foldLeft(z)((acc, b) =>
        shiftleft(acc, 1).bitwiseOR(shiftright(b, bit).bitwiseAND(lit(1L))))
    }
  }

  /** Write `df` to `path` z-ordered on `zCols` across `numFiles` files.
    * One stats aggregate (min/max per z column) + one range exchange +
    * sorted write; the z column itself is dropped before writing — the
    * layout is invisible to readers except through footer statistics.
    *
    * `knownBounds`: per-column (min, max) from catalog/table statistics.
    * When supplied the stats job is SKIPPED — at 100 TB the bounds are
    * already in the catalog and recomputing them per write is a full
    * extra scan. Bounds only shape bucket boundaries; values outside
    * them clamp to the edge buckets, so stale stats degrade locality,
    * never correctness.
    */
  def zorderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  numFiles: Int, bits: Int = 8,
                  knownBounds: Option[Seq[(Double, Double)]] = None): Unit = {
    val bounds = knownBounds.getOrElse {
      val row = df.select(zCols.flatMap(c =>
        Seq(min(col(c)).cast("double").as(s"lo_$c"), max(col(c)).cast("double").as(s"hi_$c"))): _*)
        .head()
      zCols.indices.map(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
    }
    require(bounds.size == zCols.size, "one (min,max) per z column")
    df.withColumn("__z", zvalue(zCols.map(col), bounds, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Plain linear layout for comparison: range-partitioned and sorted on
    * the single leading column — what a naive `ORDER BY` write produces.
    */
  def linearWrite(df: DataFrame, path: String, sortCol: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Persist `df` as a bucketed table: rows hash-partitioned into
    * `buckets` files by `key` AT WRITE TIME, bucket metadata in the
    * session catalog, data at `path`. A join (or aggregate) keyed on the
    * bucket column then needs NO exchange at read time — both sides
    * arrive pre-co-partitioned, which turns every recurring join on a
    * 100 TB fact from a full shuffle into a map-side merge. This is the
    * pay-once-shuffle-forever layout (Spark's native analogue of the
    * reference's clustered BigQuery destinations), complementary to
    * `zorderWrite` (which optimizes SCANS, not joins). sortBy(key)
    * additionally makes each bucket merge-join-ready without a sort.
    */
  def bucketedWrite(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    df.write.bucketBy(buckets, key).sortBy(key)
      .option("path", path).mode("overwrite").saveAsTable(table)
  }

  /** Global contiguous ordinals 0..n-1 by (`keyCol`, `tieCols`) WITHOUT
    * a single-partition sort — `row_number() OVER (ORDER BY key)` plans
    * a global Exchange to ONE partition, the canonical driver-melting
    * anti-pattern at 100 TB. Distributed equivalent in three o(fact)
    * steps around one partitioned sort:
    *   1. bucket each row arithmetically (uniform buckets over the key's
    *      min/max from one stats pass — all rows with EQUAL keys land in
    *      the same bucket, so tie-breaking never crosses buckets);
    *   2. per-bucket counts → prefix-sum offsets (a bucket-sized table;
    *      its window is single-partition by construction but over
    *      `buckets` rows, not the fact);
    *   3. row_number within each bucket (hash-partitioned sort — the
    *      only fact-wide work) + broadcast offset.
    * Ordinals are identical to the global window's: bucket order is key
    * order because buckets are monotone in the key. Key must be
    * non-null.
    *
    * Bucketing strategy, in order of preference:
    *   - `boundaries` (sorted ascending quantile cut points, e.g. from
    *     `approxQuantile` maintained in the catalog): bucket = number of
    *     boundaries <= key. Equi-DEPTH, so heavy key skew no longer
    *     concentrates in one straggler bucket, and NO stats job runs.
    *   - `knownBounds` (min, max) from catalog statistics: uniform
    *     buckets, no stats job.
    *   - neither: uniform buckets over a one-pass min/max stats job.
    */
  def ordinals(df: DataFrame, keyCol: String, tieCols: Seq[String],
               buckets: Int = 1024,
               knownBounds: Option[(Double, Double)] = None,
               boundaries: Option[Seq[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = boundaries match {
      case Some(bs) =>
        require(bs == bs.sorted, "quantile boundaries must be ascending")
        // number of cut points <= key: monotone in the key, equal keys
        // share a bucket; the array is a small plan literal (one value
        // per bucket boundary, not per row)
        size(filter(typedLit(bs), b => b <= col(keyCol).cast("double"))).cast("long")
      case None =>
        val (lo, hi) = knownBounds.getOrElse {
          val row = df.agg(min(col(keyCol)).cast("double").as("lo"),
            max(col(keyCol)).cast("double").as("hi")).head()
          (row.getDouble(0), row.getDouble(1))
        }
        val span = if (hi > lo) hi - lo else 1.0
        least(greatest(
          floor((col(keyCol).cast("double") - lit(lo)) / lit(span) * lit(buckets.toDouble)).cast("long"),
          lit(0L)), lit(buckets.toLong - 1))
    }
    val withB = df.withColumn("__b", bucket)
    val counts = withB.groupBy("__b").agg(count(lit(1)).as("__c"))
    val wOff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    val offsets = counts
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c")).drop("__c")
    val wIn = Window.partitionBy("__b").orderBy((keyCol +: tieCols).map(col): _*)
    withB.join(broadcast(offsets), "__b")
      .withColumn("ordinal", (col("__off") + row_number().over(wIn) - 1).cast("long"))
      .drop("__b", "__off")
  }

  /** Spec/diagnostic helper: of the parquet row groups under `path`, how
    * many could a reader with `ranges` (column -> inclusive [lo, hi],
    * conjunctive) NOT skip from footer min/max statistics alone?
    * Returns (intersecting, total). Reads footers only — this is
    * exactly the information a file-skipping reader (or the parquet
    * row-group filter) has before touching data pages.
    */
  def rowGroupsIntersecting(spark: org.apache.spark.sql.SparkSession, path: String,
                            ranges: Map[String, (Double, Double)]): (Int, Int) = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new HPath(path)
    val fs = FileSystem.get(dir.toUri, conf)
    val files = fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    var total = 0
    var intersecting = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        reader.getFooter.getBlocks.forEach { block =>
          total += 1
          val hit = ranges.forall { case (name, (lo, hi)) =>
            val idx = schema.getFieldIndex(name)
            val st = block.getColumns.get(idx).getStatistics
            if (st == null || !st.hasNonNullValue) true // no stats: cannot skip
            else {
              val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) => (a.toDouble, b.toDouble)
                case (a: java.lang.Double, b: java.lang.Double) => (a.toDouble, b.toDouble)
                case (a: java.lang.Integer, b: java.lang.Integer) => (a.toDouble, b.toDouble)
                case (a: java.lang.Float, b: java.lang.Float) => (a.toDouble, b.toDouble)
                case _ => (Double.NegativeInfinity, Double.PositiveInfinity)
              }
              mx >= lo && mn <= hi
            }
          }
          if (hit) intersecting += 1
        }
      } finally reader.close()
    }
    (intersecting, total)
  }
}
