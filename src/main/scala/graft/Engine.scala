package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog.
  *
  * The reference (alopezgo/ETL-Python-Airflow-Bigquery) resolves logical
  * table names to BigQuery datasets (e.g. consumo_detalle.py:257-310);
  * here a [[Tables]] catalog resolves names to parquet paths under a
  * scale-factor directory. All engine code takes a `Tables` so the same
  * query runs on sf0.001 / sf0.01 / sf0.1 / a production lake unchanged.
  */
object Engine {

  /** Local session tuned for the test harness; on a real cluster the
    * builder config comes from spark-submit instead. Shuffle partitions
    * default to 32 (matches local[32]); AQE handles coalesce/skew at
    * scale (SURVEY.md §4.2).
    */
  def session(appName: String = "graft", master: String = "local[32]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  /** A fresh `spark.sql.warehouse.dir` for one run of the [[Verify]] and
    * [[Bench]] mains, deleted when the JVM exits, so a run leaves no
    * `spark-warehouse/` in its working directory.
    */
  def runWarehouse(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    d.toString
  }
}

/** Resolves logical table names to DataFrames over `$dir/<name>.parquet`. */
final case class Tables(spark: SparkSession, dir: String) {

  /** Read a table with PHYSICAL-ENCODING normalization: any column the
    * parquet footer declares as TIMESTAMP(NANOS) — an encoding Spark's
    * reader rejects natively and `nanosAsLong` surfaces as a bare
    * long — comes back as a real timestamp (TIMESTAMP when the footer
    * says isAdjustedToUTC, TIMESTAMP_NTZ otherwise; the values are
    * µs-precision, so `div 1000` is exact). One footer is read per
    * (dir, table), memoized — a fixture regeneration that flips a
    * column's physical encoding (it happened: round 7's events.ts went
    * NANOS → NTZ under the builder) can change NOTHING downstream of
    * this seam.
    */
  def apply(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanos = Tables.nanosCols(spark, path)
    if (nanos.nonEmpty) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // schema memoized per path: the bench/verify harness builds this
    // frame thousands of times per session, and schema INFERENCE
    // (footer reads) is a per-call driver cost Spark does not cache —
    // a production lake reads through a catalog that owns the schema,
    // so pinning the once-inferred schema here is the same contract.
    // The testdata dirs are immutable for a session; the nanosAsLong
    // conf is set BEFORE the one inference, exactly as it was before
    // every inference previously.
    val df = spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
    nanos.foldLeft(df) { case (d, (c, adjustedToUtc)) =>
      if (adjustedToUtc)
        d.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros(`$c` div 1000)"))
      else
        d.withColumn(c, org.apache.spark.sql.functions.expr(
          s"cast(timestamp_micros(`$c` div 1000) as timestamp_ntz)"))
    }
  }

  /** [[apply]] plus [[Tables.normalizeTs]]: the event-time column is
    * additionally canonicalized to session-TZ TimestampType (NTZ casts
    * are value-exact under the engine's UTC session), so watermarks
    * and time-window queries see ONE type whatever the ingest wrote.
    */
  private def withEventTs(name: String): DataFrame =
    Tables.normalizeTs(apply(name))

  def lineitem: DataFrame   = apply("lineitem")
  def orders: DataFrame     = apply("orders")
  def customer: DataFrame   = apply("customer")
  def supplier: DataFrame   = apply("supplier")
  def part: DataFrame       = apply("part")
  def nation: DataFrame     = apply("nation")
  def region: DataFrame     = apply("region")
  def events: DataFrame     = withEventTs("events")
  def documents: DataFrame  = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Memoized per-path footer introspection: columns physically encoded
    * as parquet TIMESTAMP(NANOS), with their isAdjustedToUTC flag. One
    * footer read per table path, driver-side, ~ms.
    */
  private val nanosCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Boolean)]]()

  /** Memoized inferred schema per table path — see [[Tables.apply]].
    * Callers set the nanosAsLong conf (when needed) before the first
    * call, so the one inference here sees the same conf every read did.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private[graft] def schemaOf(spark: SparkSession,
                              path: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(path, _ => spark.read.parquet(path).schema)

  private[graft] def nanosCols(spark: SparkSession, path: String): Seq[(String, Boolean)] =
    nanosCache.computeIfAbsent(path, _ => {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      // ONE footer represents the table: parquet dirs with per-file
      // encoding drift cannot be read by Spark at all (the merged
      // schema conflicts long vs timestamp), so sampling is sound —
      // picked deterministically (first by name) so behavior never
      // depends on filesystem listing order
      val file =
        if (fs.getFileStatus(p).isFile) Some(p)
        else fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .sortBy(_.getName).headOption
      file match {
        case None => Nil
        case Some(f) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try {
            reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq.flatMap { fld =>
              Option(if (fld.isPrimitive) fld.asPrimitiveType().getLogicalTypeAnnotation else null)
                .collect {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                      if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
                    fld.getName -> t.isAdjustedToUTC
                }
            }
          } finally reader.close()
      }
    })

  /** Normalize an event-time column to TimestampType regardless of how the
    * producer encoded it. The reference never sees this problem — its
    * engine ingests timestamps from CSV/API text and BigQuery TIMESTAMP
    * (UTC instants, consumo_detalle.py:127-143, 272-273) and the warehouse
    * owns the physical encoding; a lake engine instead meets whatever the
    * writer produced, so the seam must absorb all of:
    *
    *  - `LongType` — epoch NANOS read under `nanosAsLong` (the source
    *    values are µs-precision, so `div 1000` is exact);
    *  - `TIMESTAMP_NTZ` — parquet timestamp with isAdjustedToUTC=false;
    *    under the engine's UTC session the cast is value-exact;
    *  - `TimestampType` — already the canonical type, untouched.
    *
    * Every reader of an event-time column (batch [[Tables.events]], every
    * streaming watermark in [[graft.streaming.EventStream]]) goes through
    * here, so a fixture/ingest encoding change can never again break
    * queries downstream of the seam.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    if (!df.columns.contains(colName)) df
    else df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
}
