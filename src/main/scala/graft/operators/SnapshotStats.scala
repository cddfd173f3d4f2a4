package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** File-level data skipping for [[Snapshot]] tables.
  *
  * The reference's scans are pruned by BigQuery's own block metadata
  * (partition + cluster statistics on every landing table,
  * consumo_detalle.py:301-306); a plain-parquet reader has nothing
  * above the footer, so every pinned scan opens every live file. This
  * module closes that gap with the standard lakehouse scheme (the
  * publicly documented data-skipping core of Delta/Iceberg):
  *
  *  - at COMMIT time, each new data file's parquet footer is reduced to
  *    per-column (min, max, nullCount) and stored in the manifest —
  *    metadata-only reads, no data pages touched, O(new files) work per
  *    commit, embarrassingly parallel;
  *  - at READ time, [[Snapshot.readWhere]] evaluates the predicate
  *    against those stats and opens only files that might hold a match,
  *    then applies the SAME predicate as a residual filter — pruning is
  *    an optimization by construction, never a semantics change.
  *
  * Soundness rules (a wrong skip silently loses rows, so every decision
  * errs toward KEEP):
  *  - only conjuncts the walker fully understands can vote to skip;
  *    anything else — casts, functions, unknown nodes — becomes
  *    `keep = true`;
  *  - stat comparisons run IN Spark over columns cast to the table's own
  *    types, so coercion and ordering semantics are identical to the
  *    residual filter's, not a hand-rolled re-implementation;
  *  - NULL stat values (file has no stats for the column) propagate
  *    through Kleene logic to a top-level `coalesce(keep, true)`;
  *  - float/double stats poisoned by NaN are dropped at collection;
  *  - string min/max are merged across row groups with unsigned byte
  *    comparison — the same binary ordering parquet's UTF8 comparator
  *    and Spark's UTF8String use.
  *
  * Canonical manifest encoding per Spark type (stable across engines and
  * parquet logical-type units): integral → decimal string; float/double
  * → `toString`; string → raw UTF-8; boolean → true/false; date → epoch
  * days; timestamp → epoch micros (MILLIS/MICROS/NANOS footers all
  * normalized; INT96 has no stats and is skipped — the snapshot writer
  * pins TIMESTAMP_MICROS output for exactly this reason).
  */
object SnapshotStats {

  /** Per-column stats of one data file. `mn`/`mx` use the canonical
    * string encoding above; None = unknown (absent/unusable footer
    * stats) and can never cause a skip. `trunc` marks string bounds
    * stored TRUNCATED (prefix min, bumped-prefix max): still valid
    * bounds for pruning, but not exact values — [[metadataAgg]]
    * refuses them. Parquet's own footer stats are exact-or-absent on
    * this writer (chunk stats above 4 KB are dropped, never truncated),
    * so truncation exists only in this manifest encoding, where it
    * keeps a long-string column prunable without bloating the log.
    */
  final case class ColStats(mn: Option[String], mx: Option[String], nulls: Option[Long],
                            trunc: Boolean = false)

  /** Cap on stored string-stat bytes; longer bounds are truncated and
    * marked. 64 bytes keeps nearly all real-world prefix selectivity.
    */
  private[operators] val MaxStatBytes = 64

  /** Longest codepoint prefix of `s` whose UTF-8 size fits the cap —
    * never split inside a codepoint, or the stored bound could order
    * differently than the value it bounds.
    */
  private def utf8Prefix(s: String): String = {
    var bytes = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w = if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
      if (bytes + w > MaxStatBytes) return s.substring(0, i)
      bytes += w
      i += Character.charCount(cp)
    }
    s
  }

  /** Upper bound for every string extending `s`'s capped prefix: the
    * prefix with its last bumpable codepoint incremented (skipping the
    * surrogate gap — UTF-8 byte order tracks codepoint order, so the
    * bumped prefix is byte-greater than anything sharing the original
    * prefix). None when no codepoint can go up (all U+10FFFF — then the
    * max is simply unknown).
    */
  private def bumpedPrefix(s: String): Option[String] = {
    val cps = utf8Prefix(s).codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val c = cps(i)
      val next = if (c == 0xD7FF) 0xE000 else c + 1
      if (next <= Character.MAX_CODE_POINT && !(next >= 0xD800 && next <= 0xDFFF)) {
        val out = java.util.Arrays.copyOf(cps, i + 1)
        out(i) = next
        return Some(new String(out, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Truncate-and-mark: (mn, mx, trunc). Bounds stay valid — a
    * truncated min is a prefix (<= the true min), a truncated max is a
    * bumped prefix (>= the true max) — exactness is what the flag
    * surrenders.
    */
  private[operators] def stringStats(lo: Array[Byte], hi: Array[Byte]): (Option[String], Option[String], Boolean) = {
    val loS = new String(lo, java.nio.charset.StandardCharsets.UTF_8)
    val hiS = new String(hi, java.nio.charset.StandardCharsets.UTF_8)
    if (lo.length <= MaxStatBytes && hi.length <= MaxStatBytes) (Some(loS), Some(hiS), false)
    else {
      val mn = if (lo.length <= MaxStatBytes) loS else utf8Prefix(loS)
      val mx = if (hi.length <= MaxStatBytes) Some(hiS) else bumpedPrefix(hiS)
      (Some(mn), mx, true)
    }
  }

  /** Stats of one data file: row count, per-column stats, and the
    * file's byte size (0 = unknown, pre-bytes manifests) — carried so
    * scan planning (split sizing, relation sizeInBytes, compaction
    * bin-packing) never needs a per-file filesystem RPC.
    */
  final case class FileStats(rows: Long, cols: Map[String, ColStats], bytes: Long = 0L)

  private[operators] def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** TIMESTAMP_NTZ canonical form: the wall-clock micros as an ISO local
    * datetime string, so decoding (`cast(.. as timestamp_ntz)`) is
    * session-timezone-independent — an epoch-micros form would need a
    * tz-sensitive cast and could unsoundly skip under a non-UTC session.
    */
  private def ntzString(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC
    ).format(java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS"))

  /** Encodable NTZ range: years 1..9999. Outside it the 'uuuu' pattern
    * emits a signed year ('+10000-…') that Spark's timestamp_ntz cast
    * parses to NULL — pruning would stay conservative, but metadataAgg
    * would silently omit the file from min/max. Such stats are dropped
    * at collection instead (unknown = keep-and-refuse, never wrong).
    */
  private val NtzMinMicros: Long =
    java.time.LocalDateTime.of(1, 1, 1, 0, 0).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
  private val NtzMaxMicros: Long =
    java.time.LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 999999L

  // ---------------------------------------------------------- collection

  /** Typed min/max accumulator; merges row-group stats in the value
    * domain, not via string compare.
    */
  private sealed trait Acc {
    def add(v: Any): Acc
    def mn: String
    def mx: String
  }
  private final case class LongAcc(lo: Long, hi: Long) extends Acc {
    def add(v: Any): Acc = { val l = v.asInstanceOf[Number].longValue(); LongAcc(math.min(lo, l), math.max(hi, l)) }
    def mn: String = lo.toString
    def mx: String = hi.toString
  }
  private final case class DoubleAcc(lo: Double, hi: Double) extends Acc {
    def add(v: Any): Acc = { val d = v.asInstanceOf[Number].doubleValue(); DoubleAcc(math.min(lo, d), math.max(hi, d)) }
    def mn: String = lo.toString
    def mx: String = hi.toString
  }
  private final case class BoolAcc(lo: Boolean, hi: Boolean) extends Acc {
    def add(v: Any): Acc = { val b = v.asInstanceOf[Boolean]; BoolAcc(lo && b, hi || b) }
    def mn: String = lo.toString
    def mx: String = hi.toString
  }
  private final case class BytesAcc(lo: Array[Byte], hi: Array[Byte]) extends Acc {
    def add(v: Any): Acc = {
      val b = v.asInstanceOf[Array[Byte]]
      BytesAcc(if (unsignedLt(b, lo)) b else lo, if (unsignedLt(hi, b)) b else hi)
    }
    def mn: String = new String(lo, java.nio.charset.StandardCharsets.UTF_8)
    def mx: String = new String(hi, java.nio.charset.StandardCharsets.UTF_8)
  }
  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Footer stat value → canonical domain value for `dt`, or None when
    * the physical/logical parquet type can't be mapped soundly (INT96
    * timestamps, NaN floats, unexpected encodings).
    */
  private def normalize(dt: DataType, pt: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[Any] =
    (dt, pt.getPrimitiveTypeName) match {
      case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32) =>
        Some(v.asInstanceOf[Number].longValue())
      case (LongType, PrimitiveTypeName.INT64) =>
        Some(v.asInstanceOf[Number].longValue())
      case (DateType, PrimitiveTypeName.INT32)
        if pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some(v.asInstanceOf[Number].longValue())
      case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT64) =>
        pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val raw = v.asInstanceOf[Number].longValue()
            import LogicalTypeAnnotation.TimeUnit._
            ts.getUnit match {
              case MILLIS => Some(math.multiplyExact(raw, 1000L))
              case MICROS => Some(raw)
              case NANOS  => Some(Math.floorDiv(raw, 1000L)) // see micros note below
            }
          case _ => None
        }
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        val f = v.asInstanceOf[java.lang.Float].doubleValue()
        if (f.isNaN) None else Some(f)
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue()
        if (d.isNaN) None else Some(d)
      case (StringType, PrimitiveTypeName.BINARY) =>
        Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some(v.asInstanceOf[java.lang.Boolean].booleanValue())
      case _ => None
    }

  private def emptyAcc(dt: DataType, first: Any): Acc = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType | TimestampNTZType =>
      val l = first.asInstanceOf[Long]; LongAcc(l, l)
    case FloatType | DoubleType => val d = first.asInstanceOf[Double]; DoubleAcc(d, d)
    case BooleanType => val b = first.asInstanceOf[Boolean]; BoolAcc(b, b)
    case StringType => val b = first.asInstanceOf[Array[Byte]]; BytesAcc(b, b)
    case other => throw new IllegalStateException(s"no accumulator for $other")
  }

  /** Reduce one file's parquet FOOTER to [[FileStats]] for the schema's
    * supported top-level columns. Metadata-only: no data pages read.
    * A NANOS max is floored to micros, which can under-report by <1µs;
    * the only nanos producer in this engine is µs-precision (Tables
    * events note), and an under-reported MAX only weakens `>` pruning,
    * never unsounds `<`/`<=` (floor(min) <= true min is conservative
    * for the lower bound by the same argument... it is not — so a NANOS
    * min is ALSO floored, which is exact for the lower bound (floor can
    * only move min down = conservative) and the max case is made
    * conservative by adding one micro at encode time below.
    */
  private[operators] def footerStats(conf: Configuration, file: HPath, schema: StructType): FileStats = {
    val inFile = HadoopInputFile.fromPath(file, conf)
    val reader = ParquetFileReader.open(inFile)
    try {
      val footer = reader.getFooter
      val msg = footer.getFileMetaData.getSchema
      val fields = schema.fields.filter(f => supported(f.dataType) && msg.containsField(f.name))
        .filter(f => msg.getType(msg.getFieldIndex(f.name)).isPrimitive)
      var rows = 0L
      // per column: (acc, minMaxKnown, nulls, nullsKnown)
      val acc = scala.collection.mutable.Map[String, (Option[Acc], Boolean, Long, Boolean)]()
      fields.foreach(f => acc(f.name) = (None, true, 0L, true))
      footer.getBlocks.forEach { block =>
        rows += block.getRowCount
        val byPath = new java.util.HashMap[String, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]()
        block.getColumns.forEach(c => byPath.put(c.getPath.toDotString, c))
        fields.foreach { f =>
          val (a0, known0, n0, nk0) = acc(f.name)
          val cc = byPath.get(f.name)
          val st = if (cc == null) null else cc.getStatistics
          if (st == null || st.isEmpty) {
            // row group has no usable stats: file min/max and null count unknowable
            acc(f.name) = (a0, false, n0, false)
          } else {
            val nk = nk0 && st.isNumNullsSet
            val n = if (st.isNumNullsSet) n0 + st.getNumNulls else n0
            if (st.hasNonNullValue) {
              val pt = msg.getType(msg.getFieldIndex(f.name)).asPrimitiveType()
              (normalize(f.dataType, pt, st.genericGetMin.asInstanceOf[AnyRef]), normalize(f.dataType, pt, st.genericGetMax.asInstanceOf[AnyRef])) match {
                case (Some(lo), Some(hi)) =>
                  val a1 = a0 match {
                    case Some(a) => Some(a.add(lo).add(hi))
                    case None    => Some(emptyAcc(f.dataType, lo).add(hi))
                  }
                  acc(f.name) = (a1, known0, n, nk)
                case _ => acc(f.name) = (a0, false, n, nk)
              }
            } else acc(f.name) = (a0, known0, n, nk) // all-null row group
          }
        }
      }
      val nanosCols: Set[String] = fields.collect {
        case f if (f.dataType == TimestampType || f.dataType == TimestampNTZType) &&
          (msg.getType(msg.getFieldIndex(f.name)).asPrimitiveType().getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }) => f.name
      }.toSet
      val cols = fields.flatMap { f =>
        val (a, known, n, nk) = acc(f.name)
        val nulls = if (nk) Some(n) else None
        a match {
          case Some(acc0) if known =>
            val cs: ColStats = f.dataType match {
              case TimestampType | TimestampNTZType =>
                val la = acc0.asInstanceOf[LongAcc]
                // NANOS→micros floor: bump the max by 1µs so the true max
                // is always <= the recorded max (min's floor is already
                // <= the true min)
                val hi = if (nanosCols.contains(f.name)) la.hi + 1L else la.hi
                if (f.dataType == TimestampNTZType) {
                  if (la.lo < NtzMinMicros || hi > NtzMaxMicros) ColStats(None, None, nulls)
                  else ColStats(Some(ntzString(la.lo)), Some(ntzString(hi)), nulls)
                } else ColStats(Some(la.lo.toString), Some(hi.toString), nulls)
              case StringType =>
                val ba = acc0.asInstanceOf[BytesAcc]
                val (mn, mx, tr) = stringStats(ba.lo, ba.hi)
                ColStats(mn, mx, nulls, tr)
              case _ => ColStats(Some(acc0.mn), Some(acc0.mx), nulls)
            }
            Some(f.name -> cs)
          case _ if nulls.isDefined || !known =>
            Some(f.name -> ColStats(None, None, nulls))
          case _ => None
        }
      }.toMap
      FileStats(rows, cols, inFile.getLength)
    } finally reader.close()
  }

  /** Canonical encoding of a hive PARTITION-DIRECTORY value: the file's
    * min = max = the partition value, so partition predicates prune
    * through the same path as data-column predicates.
    */
  private def canonicalPartitionValue(dt: DataType, raw: String): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => scala.util.Try(raw.trim.toLong.toString).toOption
    case FloatType | DoubleType => scala.util.Try(raw.trim.toDouble.toString).toOption
    case StringType  => Some(raw)
    case BooleanType => raw.trim.toLowerCase match { case "true" => Some("true"); case "false" => Some("false"); case _ => None }
    case DateType    => scala.util.Try(java.time.LocalDate.parse(raw.trim).toEpochDay.toString).toOption
    case _           => None // timestamp partition dirs: format varies, skip
  }

  /** One file's full stats: footer reduction + partition-value
    * pseudo-stats. Runs wherever the caller puts it (driver pool or
    * executor task — everything it touches is static).
    */
  private def statsForFile(conf: Configuration, root: String, rel: String,
                           schema: StructType,
                           pTypes: Map[String, DataType],
                           partitionCols: Seq[String]): (String, FileStats) = {
    val base = footerStats(conf, new HPath(s"$root/$rel"), schema)
    val pv = Snapshot.partitionValues(partitionCols, rel)
    val pCols = pv.flatMap { case (c, raw) =>
      pTypes.get(c).map { dt =>
        if (raw == Snapshot.NullPartition) c -> ColStats(None, None, Some(base.rows))
        else canonicalPartitionValue(dt, raw) match {
          case Some(v) => c -> ColStats(Some(v), Some(v), Some(0L))
          case None    => c -> ColStats(None, None, Some(0L))
        }
      }
    }
    rel -> FileStats(base.rows, base.cols ++ pCols, base.bytes)
  }

  /** Collect [[FileStats]] for `relFiles` (paths relative to `root`).
    * Small commits run on a bounded driver-side pool (footer reads are
    * O(KB) metadata operations — a Spark job would cost more than it
    * saves); commits above `distributeAbove` files run as ONE Spark job
    * over the file list, so a million-file landing reduces its footers
    * with cluster parallelism and the driver only collects the
    * per-file stat rows.
    */
  def collect(spark: SparkSession, root: String, relFiles: Seq[String],
              schema: StructType, partitionCols: Seq[String],
              distributeAbove: Int = 256): Map[String, FileStats] = {
    if (relFiles.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val pTypes = partitionCols.flatMap(c => schema.fields.find(_.name == c).map(c -> _.dataType)).toMap
    if (relFiles.size > distributeAbove) {
      val sconf = org.apache.spark.graftbridge.ConfBridge.serializable(conf)
      val slices = math.max(1, math.min(relFiles.size / 32, 512))
      spark.sparkContext.parallelize(relFiles, slices)
        .map(rel => statsForFile(
          org.apache.spark.graftbridge.ConfBridge.value(sconf),
          root, rel, schema, pTypes, partitionCols))
        .collect().toMap
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, relFiles.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = relFiles.map { rel =>
          new java.util.concurrent.Callable[(String, FileStats)] {
            def call(): (String, FileStats) =
              statsForFile(conf, root, rel, schema, pTypes, partitionCols)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
  }

  /** Canonical stat string → double, for layout math over manifest
    * stats (z-order bounds). None for types without a numeric canonical.
    */
  private[operators] def canonicalToDouble(dt: DataType, s: String): Option[Double] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | DateType | TimestampType =>
      scala.util.Try(s.toDouble).toOption
    case TimestampNTZType =>
      scala.util.Try {
        val i = java.time.LocalDateTime
          .parse(s, java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS"))
          .toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond.toDouble * 1e6 + i.getNano / 1000.0
      }.toOption
    case _ => None
  }

  // ------------------------------------------------------------- pruning

  /** Decode a canonical stat string column into the table column's own
    * Spark type, so every comparison below runs with exactly the
    * semantics the residual filter will use.
    */
  private def decode(dt: DataType, c: Column): Column = dt match {
    case DateType      => date_from_unix_date(c.cast(IntegerType))
    case TimestampType => timestamp_micros(c.cast(LongType))
    case other         => c.cast(other) // incl. TIMESTAMP_NTZ: tz-free string cast
  }

  private final case class StatRefs(mn: Column, mx: Column, nulls: Column, rows: Column)

  import ColumnBridge.{AttrNode, FnNode, LitNode, PredNode, ValueNode}

  private def referencedAttrs(p: PredNode): Set[String] = p match {
    case AttrNode(n)     => Set(n)
    case FnNode(_, args) => args.flatMap(referencedAttrs).toSet
    case _               => Set.empty
  }

  /** keep-expression over the stats frame: TRUE/NULL = the file might
    * hold a matching row; FALSE = provably cannot. Unknown shapes map
    * to keep=true — the walker can only ever make pruning WEAKER.
    */
  private def keep(p: PredNode, refs: String => Option[StatRefs]): Column = {
    // (attr, value, flipped): both `a op v` and `v op a` orientations
    def asVal(p: PredNode): Option[Column] = p match {
      case l: LitNode   => Some(l.value)
      case v: ValueNode => Some(v.value)
      case _            => None
    }
    def sides(args: Seq[PredNode]): Option[(StatRefs, Column, Boolean)] = args match {
      case Seq(AttrNode(a), v) => for (r <- refs(a); c <- asVal(v)) yield (r, c, false)
      case Seq(v, AttrNode(a)) => for (r <- refs(a); c <- asVal(v)) yield (r, c, true)
      case _                   => None
    }
    def cmp(args: Seq[PredNode])(f: (StatRefs, Column) => Column)(g: (StatRefs, Column) => Column): Column =
      sides(args).map { case (r, c, flipped) => if (flipped) g(r, c) else f(r, c) }.getOrElse(lit(true))
    def eq(args: Seq[PredNode]): Column =
      cmp(args)((r, c) => r.mn <= c && r.mx >= c)((r, c) => r.mn <= c && r.mx >= c)
    def nullable(args: Seq[PredNode]): Column = args match {
      case Seq(AttrNode(a)) => refs(a).map(r => r.nulls.isNull || r.nulls > 0).getOrElse(lit(true))
      case _                => lit(true)
    }
    p match {
      case FnNode("and", Seq(l, r)) => keep(l, refs) && keep(r, refs)
      case FnNode("or", Seq(l, r))  => keep(l, refs) || keep(r, refs)
      case FnNode("=" | "==" | "equal_null", args) if args.size == 2 &&
        !args.exists { case LitNode(_, null) => true; case _ => false } => eq(args)
      case FnNode("<=>" | "equal_null", args) if args.size == 2 =>
        args match {
          case Seq(a, LitNode(_, null)) => nullable(Seq(a))
          case Seq(LitNode(_, null), a) => nullable(Seq(a))
          case _                        => eq(args)
        }
      case FnNode("between", Seq(a, lo, hi)) =>
        keep(FnNode("and", Seq(FnNode(">=", Seq(a, lo)), FnNode("<=", Seq(a, hi)))), refs)
      case FnNode(">", args)  => cmp(args)((r, c) => r.mx > c)((r, c) => r.mn < c)
      case FnNode(">=", args) => cmp(args)((r, c) => r.mx >= c)((r, c) => r.mn <= c)
      case FnNode("<", args)  => cmp(args)((r, c) => r.mn < c)((r, c) => r.mx > c)
      case FnNode("<=", args) => cmp(args)((r, c) => r.mn <= c)((r, c) => r.mx >= c)
      case FnNode("in", (a: AttrNode) +: vs)
        if vs.nonEmpty && vs.forall(v => v.isInstanceOf[LitNode] || v.isInstanceOf[ValueNode]) =>
        vs.map(v => eq(Seq(a, v))).reduce(_ || _)
      case FnNode("!" | "not", Seq(FnNode("=" | "==", args))) if args.size == 2 =>
        // skip only a constant-v file: min == max == v (null-safe: an
        // unknown min/max compares false and keeps the file)
        cmp(args)((r, c) => !(r.mn <=> c && r.mx <=> c))((r, c) => !(r.mn <=> c && r.mx <=> c))
      case FnNode("isNull" | "isnull", args)       => nullable(args)
      case FnNode("isNotNull" | "isnotnull", args) => args match {
        case Seq(AttrNode(a)) =>
          refs(a).map(r => r.nulls.isNull || r.rows.isNull || r.nulls < r.rows).getOrElse(lit(true))
        case _ => lit(true)
      }
      case FnNode("startswith", Seq(AttrNode(a), LitNode(c, raw: String))) =>
        refs(a).map { r =>
          // prefix length in CODEPOINTS: Spark's substring counts
          // codepoints, raw.length counts UTF-16 units — for a literal
          // with supplementary chars the unit count over-takes the
          // prefix and could unsoundly skip a matching file
          val n = raw.codePointCount(0, raw.length)
          substring(r.mn, 1, n) <= c && substring(r.mx, 1, n) >= c
        }.getOrElse(lit(true))
      case _ => lit(true)
    }
  }

  /** Engine of [[Snapshot.metadataAgg]]: exact table-level aggregates
    * folded from per-file stats. Requires usable stats (min/max/nulls)
    * for every requested column in every live file.
    */
  private[graft] def metadataAgg(spark: SparkSession, m: Snapshot.Manifest,
                                 cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "metadataAgg needs at least one column")
    metadataAggBy(spark, m, cols, Nil)
  }

  /** Generalized metadata fold: exact aggregates from per-file manifest
    * metadata, optionally GROUPED by (a subset of) the partition
    * columns — `SELECT fecha, count(*), max(ts) FROM t GROUP BY fecha`
    * without opening a single data file.
    *
    * Two metadata sources, with different exactness envelopes:
    *
    *  - DATA columns answer from file stats (min/max/nulls reduced from
    *    parquet footers at commit): exact only on a DELETION-VECTOR-FREE
    *    version (a deleted row may have carried a bound) — callers must
    *    guard; truncated / missing / undecodable stats refuse here.
    *  - PARTITION columns answer from the files' partition values
    *    weighted by LIVE rows (`stats.rows − dv.rows`): exact even
    *    under vectors — a file whose rows are all deleted contributes
    *    nothing, exactly like the scan.
    *
    * Output: one row per surviving group (grouping values under
    * `__g_<i>` in `groupCols` order; groups whose live-row sum is 0 are
    * dropped — SQL produces no group for no rows), or a single global
    * row when `groupCols` is empty. Aggregate columns: `n` (live rows),
    * then `min_<c>` / `max_<c>` / `cnt_<c>` per requested column.
    */
  private[graft] def metadataAggBy(spark: SparkSession, m: Snapshot.Manifest,
                                   cols: Seq[String],
                                   groupCols: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val partSet = m.partitionCols.toSet
    groupCols.foreach(c => require(partSet.contains(c),
      s"metadataAggBy: grouping column $c is not a partition column"))
    val (partCols, dataCols) = cols.partition(partSet.contains)
    // file stats key on PHYSICAL names; callers ask in logical names
    def phys(c: String): String = m.colMap.getOrElse(c, c)
    val types = (cols ++ groupCols).distinct.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      c -> f.dataType
    }.toMap
    dataCols.foreach(c => require(supported(types(c)),
      s"no stats support for ${types(c)} column $c"))
    // live-row counts come from stats.rows: every file must have stats
    val statless = m.files.filterNot(m.stats.contains)
    require(statless.isEmpty,
      s"metadataAggBy: files without stats (fall back to a scan): " +
        statless.take(3).mkString(", "))
    // string min/max fold is exact only over EXACT stored bounds:
    // refuse any file whose string stats were truncated at collection
    val truncated = m.files.filter(f =>
      m.stats.get(f).exists(fs => dataCols.exists(c => fs.cols.get(phys(c)).exists(_.trunc))))
    require(truncated.isEmpty,
      s"metadataAgg: truncated string stats for ${dataCols.mkString(",")} " +
        s"(fall back to a scan): ${truncated.take(3).mkString(", ")}")
    val missing = m.files.filter { f =>
      !m.stats.get(f).exists(fs => dataCols.forall(c =>
        fs.cols.get(phys(c)).exists(cs =>
          cs.nulls.isDefined && ((cs.mn.isDefined && cs.mx.isDefined) ||
            // an all-null file legitimately has no min/max
            cs.nulls.contains(fs.rows)))))
    }
    require(missing.isEmpty,
      s"metadataAgg: files without usable stats for ${dataCols.mkString(",")} " +
        s"(fall back to a scan): ${missing.take(3).mkString(", ")}...")
    val idx = dataCols.zipWithIndex.toMap
    val pcols = (groupCols ++ partCols).distinct
    val pidx = pcols.zipWithIndex.toMap
    val rawSchema = StructType(
      pcols.map(c => StructField(s"__praw_${pidx(c)}", StringType)) ++
        Seq(StructField("__rw", LongType), StructField("__dv", LongType)) ++
        dataCols.flatMap(c => Seq(
          StructField(s"__mn_${idx(c)}", StringType),
          StructField(s"__mx_${idx(c)}", StringType),
          StructField(s"__nl_${idx(c)}", LongType))))
    val rows: Seq[Row] = m.files.map { f =>
      val fs = m.stats(f)
      val pv = Snapshot.partitionValues(m.partitionCols, f)
      Row.fromSeq(
        pcols.map(c => pv.getOrElse(c, Snapshot.NullPartition)) ++
          Seq(Long.box(fs.rows),
            Long.box(m.dvs.get(f).map(_.rows).getOrElse(0L))) ++
          dataCols.flatMap { c =>
            val cs = fs.cols(phys(c))
            Seq(cs.mn.orNull, cs.mx.orNull, Long.box(cs.nulls.get))
          })
    }
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, rawSchema)
    // typed partition values — hive value strings cast to the declared
    // type (the same contract the merge family's partition restriction
    // uses); the null sentinel maps to a real null group/value
    def typedPart(c: String): Column = {
      val raw = col(s"__praw_${pidx(c)}")
      when(raw === Snapshot.NullPartition || raw.isNull,
        lit(null).cast(types(c))).otherwise(raw.cast(types(c)))
    }
    // defense in depth: a recorded stat (or partition value) whose
    // decode comes back NULL (corrupt/out-of-range encoding) would
    // silently warp the fold — refuse instead, same contract as
    // missing stats
    val undecodable = (dataCols.flatMap { c =>
      val i = idx(c)
      Seq(col(s"__mn_$i").isNotNull && decode(types(c), col(s"__mn_$i")).isNull,
          col(s"__mx_$i").isNotNull && decode(types(c), col(s"__mx_$i")).isNull)
    } ++ pcols.map { c =>
      col(s"__praw_${pidx(c)}") =!= Snapshot.NullPartition && typedPart(c).isNull
    }).reduceOption(_ || _).getOrElse(lit(false))
    require(df.where(undecodable).isEmpty,
      s"metadataAgg: undecodable stats for ${cols.mkString(",")} (fall back to a scan)")
    val live = col("__rw") - col("__dv")
    // coalesce the counting aggregates so an EMPTY table answers 0, not
    // null (min/max stay null — standard SQL semantics over no rows)
    val nAgg = coalesce(sum(live), lit(0L)).as("n")
    val aggs: Seq[Column] =
      dataCols.flatMap { c =>
        val i = idx(c)
        Seq(
          min(decode(types(c), col(s"__mn_$i"))).as(s"min_$c"),
          max(decode(types(c), col(s"__mx_$i"))).as(s"max_$c"),
          coalesce(sum(col("__rw")) - sum(col(s"__nl_$i")), lit(0L)).as(s"cnt_$c"))
      } ++
      partCols.flatMap { c =>
        // live-weighted: a fully-deleted file's value never surfaces
        Seq(
          min(when(live > 0, typedPart(c))).as(s"min_$c"),
          max(when(live > 0, typedPart(c))).as(s"max_$c"),
          coalesce(sum(when(typedPart(c).isNotNull, live).otherwise(0L)), lit(0L))
            .as(s"cnt_$c"))
      }
    if (groupCols.isEmpty) df.agg(nAgg, aggs: _*)
    else df
      .groupBy(groupCols.zipWithIndex.map { case (c, i) =>
        typedPart(c).as(s"__g_$i") }: _*)
      .agg(nAgg, aggs: _*)
      // a group whose every row is vector-deleted does not exist to a
      // scan — it must not exist to the fold either
      .where(col("n") > 0)
  }

  /** [[prune]] driven by Catalyst's pushed-down `sources.Filter`s (the
    * DSv1/DSv2 pushdown ADT — already attribute/value normalized, so
    * the translation to the mini-AST is direct). The filter array is an
    * implicit conjunction; unknown filter shapes become opaque nodes
    * and can only weaken pruning.
    */
  def pruneByFilters(spark: SparkSession, m: Snapshot.Manifest,
                     filters: Array[org.apache.spark.sql.sources.Filter],
                     tablePath: Option[String] = None): Seq[String] = {
    import org.apache.spark.sql.{sources => sf}
    def ln(v: Any): PredNode = LitNode(lit(v), v)
    def toPred(f: sf.Filter): PredNode = f match {
      case sf.EqualTo(a, v)            => FnNode("=", Seq(AttrNode(a), ln(v)))
      case sf.EqualNullSafe(a, v)      => FnNode("<=>", Seq(AttrNode(a), ln(v)))
      case sf.GreaterThan(a, v)        => FnNode(">", Seq(AttrNode(a), ln(v)))
      case sf.GreaterThanOrEqual(a, v) => FnNode(">=", Seq(AttrNode(a), ln(v)))
      case sf.LessThan(a, v)           => FnNode("<", Seq(AttrNode(a), ln(v)))
      case sf.LessThanOrEqual(a, v)    => FnNode("<=", Seq(AttrNode(a), ln(v)))
      case sf.In(a, vs)                => FnNode("in", AttrNode(a) +: vs.toSeq.map(ln))
      case sf.IsNull(a)                => FnNode("isNull", Seq(AttrNode(a)))
      case sf.IsNotNull(a)             => FnNode("isNotNull", Seq(AttrNode(a)))
      case sf.And(l, r)                => FnNode("and", Seq(toPred(l), toPred(r)))
      case sf.Or(l, r)                 => FnNode("or", Seq(toPred(l), toPred(r)))
      case sf.Not(c)                   => FnNode("!", Seq(toPred(c)))
      case sf.StringStartsWith(a, v)   => FnNode("startswith", Seq(AttrNode(a), ln(v)))
      case _                           => ColumnBridge.OpaqueNode
    }
    if (filters.isEmpty) m.files
    else pruneNode(spark, m,
      filters.map(toPred).reduceLeft((l, r) => FnNode("and", Seq(l, r))), tablePath)
  }

  /** Test-only observability: (kept, total) of the most recent prune
    * decision — lets a spec assert that a scan driven through the SQL
    * path actually skipped files. Never read by engine code.
    */
  @volatile private[graft] var lastPrune: (Int, Int) = (0, 0)

  /** Files of `m` that might satisfy `pred` per manifest stats. Sound:
    * the result is always a superset of the files holding matching
    * rows. Files without stats are kept. The evaluation itself is one
    * local-relation filter — Spark's own casts and orderings decide
    * every comparison.
    */
  def prune(spark: SparkSession, m: Snapshot.Manifest, pred: Column,
            tablePath: Option[String] = None): Seq[String] =
    pruneNode(spark, m, ColumnBridge.pred(pred), tablePath)

  /** Point-lookup probes a bloom sidecar can answer: the top-level
    * conjuncts of shape `c = v` / `c <=> v` (non-null) / `c IN
    * (literals)`, as (column, OR-values). An OR branch contributes
    * nothing (its conjuncts aren't global), which can only weaken
    * bloom pruning — sound.
    */
  private def eqProbes(p: PredNode): Seq[(String, Seq[Any])] = {
    def lits(vs: Seq[PredNode]): Option[Seq[Any]] = {
      val raw = vs.collect { case LitNode(_, v) => v }
      if (raw.size == vs.size) Some(raw.filter(_ != null)) else None
    }
    p match {
      case FnNode("and", Seq(l, r)) => eqProbes(l) ++ eqProbes(r)
      case FnNode("=" | "==" | "<=>" | "equal_null", Seq(AttrNode(a), v: LitNode)) if v.raw != null =>
        Seq(a -> Seq(v.raw))
      case FnNode("=" | "==" | "<=>" | "equal_null", Seq(v: LitNode, AttrNode(a))) if v.raw != null =>
        Seq(a -> Seq(v.raw))
      case FnNode("in", AttrNode(a) +: vs) =>
        // null among the IN values matches nothing by itself — probe
        // the non-null subset; all-null (or non-literal) probes nothing
        lits(vs).filter(_.nonEmpty).map(a -> _).toSeq
      case _ => Nil
    }
  }

  private def pruneNode(spark: SparkSession, m: Snapshot.Manifest, root: PredNode,
                        tablePath: Option[String] = None): Seq[String] = {
    // bloom sidecars prune AFTER stats (fewer sidecar reads), but they
    // do not NEED stats: a stats-free manifest still bloom-prunes
    def bloomed(kept: Seq[String]): Seq[String] = tablePath match {
      case Some(p) if m.blooms.nonEmpty && kept.nonEmpty =>
        val probes = eqProbes(root)
        if (probes.isEmpty) kept else SnapshotBloom.prune(spark, p, m, kept, probes)
      case _ => kept
    }
    if (m.files.isEmpty || m.stats.isEmpty) {
      val kept = bloomed(m.files)
      lastPrune = (kept.size, m.files.size)
      return kept
    }
    val schema = StructType.fromDDL(m.schemaDdl)
    // stat columns: referenced by the predicate, supported, present in schema
    val referenced = referencedAttrs(root)
    val statCols = schema.fields
      .filter(f => referenced.contains(f.name) && supported(f.dataType))
      .map(_.name)
    if (statCols.isEmpty) {
      val kept = bloomed(m.files)
      lastPrune = (kept.size, m.files.size)
      return kept
    }

    val idx = statCols.zipWithIndex.toMap
    val rawSchema = StructType(
      StructField("__file", StringType) +:
        StructField("__rw", LongType) +:
        statCols.flatMap(c => Seq(
          StructField(s"__mn_${idx(c)}", StringType),
          StructField(s"__mx_${idx(c)}", StringType),
          StructField(s"__nl_${idx(c)}", LongType))))
    val rows: Seq[Row] = m.files.map { f =>
      val fs = m.stats.get(f)
      val cells: Seq[Any] = statCols.flatMap { c =>
        fs.flatMap(_.cols.get(m.colMap.getOrElse(c, c))) match {
          case Some(cs) => Seq(cs.mn.orNull, cs.mx.orNull, cs.nulls.map(Long.box).orNull)
          case None     => Seq(null, null, null)
        }
      }
      Row.fromSeq(f +: fs.map(s => Long.box(s.rows)).orNull +: cells)
    }
    import scala.jdk.CollectionConverters._
    // small manifests ride a LocalRelation; big ones go through an RDD
    // so a million-file table never embeds a million-row literal into
    // the plan (analyzer/codegen blowup — the bloom-literal lesson)
    val statsDf =
      if (rows.size <= 10000) spark.createDataFrame(rows.asJava, rawSchema)
      else spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1 + rows.size / 100000), rawSchema)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val refs: String => Option[StatRefs] = name => idx.get(name).map { i =>
      StatRefs(
        decode(types(name), col(s"__mn_$i")),
        decode(types(name), col(s"__mx_$i")),
        col(s"__nl_$i"), col("__rw"))
    }
    // a zero-row file (an empty write's schema stub) can never match
    val nonEmpty = coalesce(col("__rw") > 0, lit(true))
    val kept = bloomed(statsDf.where(nonEmpty && coalesce(keep(root, refs), lit(true)))
      .select("__file").collect().map(_.getString(0)).toSeq)
    lastPrune = (kept.size, m.files.size)
    kept
  }
}
