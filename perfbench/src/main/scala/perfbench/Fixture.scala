package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic generator of the ten input tables the query packs read
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`), with the schemas, physical encodings and value
  * domains of the engine's shared synthetic test data: TPC-H-ish star
  * tables, an event stream, a text corpus with 5% near-duplicates and a
  * 64-d unit-vector corpus in ten labelled clusters.
  *
  * The base tables come from a FIXED generator seed, so every run of a
  * query workload reads byte-identical inputs and one golden fingerprint
  * per query holds for every `--seed` (the workload seed orders the ops
  * and generates the churn history, see [[ChurnWorkload]]). Each table is
  * written as ONE parquet file `<dir>/<name>.parquet`, the layout
  * `graft.Tables` and the DuckDB oracle both read.
  */
object Fixture {
  val BaseSeed = 42L

  /** Row counts per table. `sf` scales the star and event tables like the
    * shared test data; the corpus tables stay at 500 rows, the size the
    * ANN oracles' plane/centroid constants are derived from.
    */
  final case class Scale(sf: Double) {
    def customers: Int = (150000 * sf).round.toInt
    def suppliers: Int = (10000 * sf).round.toInt
    def parts: Int = (200000 * sf).round.toInt
    def orders: Int = (1500000 * sf).round.toInt
    def lineitems: Int = (6000000 * sf).round.toInt
    def events: Int = (1000000 * sf).round.toInt
    def users: Int = (15000 * sf).round.toInt
    def documents: Int = 500
    def embeddings: Int = 500
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("de", "es", "fr", "zh")
  private val Dim = 64

  private val Day0 = java.time.LocalDate.of(1995, 1, 1)
  private val Events0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round(r.nextDouble(lo, hi) * 100) / 100.0
  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def day(offset: Int): java.time.LocalDateTime = Day0.plusDays(offset.toLong).atStartOfDay()

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Every table as (schema, rows), generated in a fixed order from one
    * stream per table so adding rows to one table never shifts another.
    */
  def tables(scale: Scale): Seq[(String, StructType, Seq[Row])] = {
    def rng(i: Int) = new SplittableRandom(BaseSeed * 1000 + i)
    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = { val r = rng(1); (0 until scale.customers).map { k =>
      Row(k.toLong, f"Customer#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, Segments)) } }
    val supplier = { val r = rng(2); (0 until scale.suppliers).map { k =>
      Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99)) } }
    val part = { val r = rng(3); (0 until scale.parts).map { k =>
      Row(k.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50), (9000 + k % 1000) / 10.0) } }
    val orders = { val r = rng(4); (0 until scale.orders).map { k =>
      Row(k.toLong, r.nextInt(scale.customers).toLong, pick(r, Seq("F", "O", "P")),
        cents(r, 1000, 500000), day(r.nextInt(2404)), pick(r, Priorities)) } }
    val lineitem = { val r = rng(5); (0 until scale.lineitems).map { _ =>
      Row(r.nextInt(scale.orders).toLong, r.nextInt(scale.parts).toLong,
        r.nextInt(scale.suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        cents(r, 900, 105000), math.round(r.nextDouble(0, 0.1) * 100) / 100.0,
        math.round(r.nextDouble(0, 0.08) * 100) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("F", "O")), day(1 + r.nextInt(2499))) } }
    val events = { val r = rng(6)
      val meanGapMicros = 30L * 86400 * 1000000 / math.max(1, scale.events)
      var t = 0L
      (0 until scale.events).map { k =>
        t += (-math.log(1 - r.nextDouble()) * meanGapMicros).toLong
        Row(k.toLong, Events0.plusNanos(t * 1000), r.nextInt(scale.users).toLong,
          pick(r, EventTypes), math.max(0.01, math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      } }
    val documents = { val r = rng(7)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until scale.documents).map { k =>
        // 5% of documents copy an earlier one and append a marker token,
        // so the dedup operators have real near-duplicate clusters
        val text =
          if (k > 0 && r.nextInt(20) == 0) texts(r.nextInt(k)) + " dup"
          else Seq.fill(10 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
        texts += text
        val lang = if (r.nextInt(100) < 42) "en" else pick(r, Langs)
        Row(k.toLong, text, lang, s"src${k % 20}", text.length.toLong)
      } }
    val embeddings = { val r = rng(8)
      def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val centroids = Array.fill(10)(unit(Array.fill(Dim)(r.nextGaussian())))
      (0 until scale.embeddings).map { k =>
        val label = r.nextInt(10)
        val v = unit(Array.tabulate(Dim)(i => 0.3 * centroids(label)(i) + r.nextGaussian() / 8))
        Row(k.toLong, v.map(_.toFloat).toSeq, label)
      } }
    val ts = TimestampNTZType
    Seq(
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> ts,
        "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType), embeddings))
  }

  private def parquetType(f: StructField): Type = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    f.dataType match {
      case IntegerType => Types.optional(INT32).named(f.name)
      case LongType => Types.optional(INT64).named(f.name)
      case DoubleType => Types.optional(DOUBLE).named(f.name)
      case StringType => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
      case TimestampNTZType => Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named(f.name)
      case ArrayType(FloatType, _) => Types.optionalList().optionalElement(FLOAT).named(f.name)
      case t => throw new IllegalArgumentException(s"no parquet mapping for $t")
    }
  }

  private val Epoch = java.time.LocalDateTime.of(1970, 1, 1, 0, 0)

  /** Write every table to `dir/<name>.parquet`, one file each, straight
    * through parquet-java: the driver writes the rows without a Spark job.
    */
  def write(dir: Path, scale: Scale): Unit = {
    Files.createDirectories(dir)
    tables(scale).foreach { case (name, sch, rows) =>
      val msg = new MessageType(name, sch.fields.map(parquetType).toList.asJava)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
          new HPath(dir.resolve(s"$name.parquet").toUri), new Configuration()))
        .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val gf = new SimpleGroupFactory(msg)
      try rows.foreach { r =>
        val g = gf.newGroup()
        sch.fields.zipWithIndex.foreach { case (f, i) =>
          (f.dataType, r.get(i)) match {
            case (IntegerType, v: Int) => g.append(f.name, v)
            case (LongType, v: Long) => g.append(f.name, v)
            case (DoubleType, v: Double) => g.append(f.name, v)
            case (StringType, v: String) => g.append(f.name, v)
            case (TimestampNTZType, v: java.time.LocalDateTime) =>
              g.append(f.name, java.time.temporal.ChronoUnit.MICROS.between(Epoch, v))
            case (ArrayType(FloatType, _), v: Seq[_]) =>
              val list = g.addGroup(f.name)
              v.foreach(x => list.addGroup("list").append("element", x.asInstanceOf[Float]))
            case (t, v) => throw new IllegalArgumentException(s"$name.${f.name}: $v for $t")
          }
        }
        w.write(g)
      } finally w.close()
    }
  }
}
