package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Snapshot

/** The snapshot read core across schema evolution. One scan planned
  * from the manifest reads every file under the CURRENT schema:
  * files written before a widening read up to the wider type, files
  * that predate an added-with-default column read its frozen literal
  * while post-add nulls stay null, a renamed column follows its
  * physical name, and a dropped-then-re-added name never brings the
  * old values back. Each case runs on both parquet readers (vectorized
  * and row-based), with pushed-down predicates, deletion vectors,
  * partitioning and shallow-clone roots in play.
  */
class SnapshotReadCoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-readcore-$tag").toString + "/t"

  /** Run `body` once per parquet reader: vectorized, then row-based. */
  private def bothReaders(body: String => Unit): Unit = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prior = spark.conf.getOption(key)
    try Seq("true", "false").foreach { vec =>
      spark.conf.set(key, vec)
      body(s"vectorized=$vec")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def byId(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  test("every lossless widening reads old files up to the wider type, on both readers") {
    val dir = tmp("widen")
    val pairs = Seq("b2" -> (ByteType, ShortType), "b4" -> (ByteType, IntegerType),
      "b8" -> (ByteType, LongType), "s4" -> (ShortType, IntegerType),
      "s8" -> (ShortType, LongType), "i8" -> (IntegerType, LongType),
      "f8" -> (FloatType, DoubleType))
    Snapshot.create(spark, dir, spark.range(0, 6).select(col("id") +: pairs.map {
      case (c, (from, _)) => (col("id") - 3).cast(from).as(c)
    }: _*).repartition(2))
    pairs.foreach { case (c, (_, to)) => Snapshot.widenColumnType(spark, dir, c, to) }
    // post-widen rows hold values only the wider type can
    def wide(to: DataType, id: Long): Any = to match {
      case ShortType   => (id * 1000).toShort
      case IntegerType => (id * 100000).toInt
      case LongType    => id * 10000000000L
      case DoubleType  => id * 1e300
    }
    def narrow(to: DataType, id: Long): Any = to match {
      case ShortType   => (id - 3).toShort
      case IntegerType => (id - 3).toInt
      case LongType    => id - 3
      case DoubleType  => (id - 3).toDouble
    }
    val schema = StructType(StructField("id", LongType) +:
      pairs.map { case (c, (_, to)) => StructField(c, to) })
    val fresh = (6L until 9L).map(id => Row(id +: pairs.map(p => wide(p._2._2, id)): _*))
    Snapshot.append(spark, dir, frame(schema, fresh))
    val expected = (0L until 6L).map(id => Row(id +: pairs.map(p => narrow(p._2._2, id)): _*)) ++
      fresh
    bothReaders { r =>
      val read = Snapshot.read(spark, dir)
      assert(read.schema.map(_.dataType) == schema.map(_.dataType), r)
      assert(byId(read) == expected, r)
      assert(byId(spark.read.format("graft.sources.SnapshotSource").load(dir)) == expected, r)
      // predicates on widened columns push down into the scan
      assert(read.where(col("i8") > 1000000000L).count() == 3L, r)
      assert(read.where(col("b8") < 0L).count() == 3L, r)
      assert(read.where(col("f8") > 1e299).count() == 3L, r)
    }
  }

  test("ADD COLUMN with DEFAULT: old files read the default, post-add nulls stay null") {
    val dir = tmp("default")
    Snapshot.create(spark, dir, (0L until 200L).map(i => (i, s"a$i")).toDF("id", "s").repartition(1))
    Snapshot.addColumns(spark, dir, Seq(StructField("d", IntegerType)), Map("d" -> "40 + 2"))
    Snapshot.append(spark, dir, frame(
      StructType(Seq(StructField("id", LongType), StructField("s", StringType),
        StructField("d", IntegerType))),
      Seq(Row(1000L, "c", 7), Row(1001L, "d", null))))
    // an add with no DEFAULT over every file: all read null
    Snapshot.addColumns(spark, dir, Seq(StructField("e", StringType)))
    val expected = (0L until 200L).map(i => Row(i, s"a$i", 42, null)) ++
      Seq(Row(1000L, "c", 7, null), Row(1001L, "d", null, null))
    bothReaders { r =>
      val read = Snapshot.read(spark, dir)
      assert(byId(read) == expected, r)
      // predicates over the filled column see the default, not null
      assert(read.where(col("d") === 42).count() == 200L, r)
      assert(read.where(col("d").isNull).count() == 1L, r)
      assert(read.where(col("e").isNull).count() == 202L, r)
    }
    // a vector on the pre-add file: the default fills around it
    Snapshot.delete(spark, dir, col("id") === 5L)
    assert(Snapshot.latestManifest(spark, dir).get.dvs.nonEmpty, "point delete takes the DV tier")
    bothReaders { r =>
      assert(byId(Snapshot.read(spark, dir)) == expected.filterNot(_.getLong(0) == 5L), r)
    }
  }

  test("rename: values follow the physical column, and a re-added old name starts empty") {
    val dir = tmp("rename")
    Snapshot.create(spark, dir, (0L until 6L).map(i => (i, i * 10)).toDF("id", "v").repartition(2))
    Snapshot.renameColumn(spark, dir, "v", "w")
    // the old logical name comes back as a NEW column on a fresh physical slot
    Snapshot.addColumns(spark, dir, Seq(StructField("v", LongType)))
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.colMap("w") == "v" && m.colMap("v") != "v", m.colMap)
    Snapshot.append(spark, dir, Seq((6L, 60L, -1L)).toDF("id", "w", "v"))
    val expected = (0L until 6L).map(i => Row(i, i * 10, null)) :+ Row(6L, 60L, -1L)
    bothReaders { r =>
      val read = Snapshot.read(spark, dir)
      assert(read.columns.toSeq == Seq("id", "w", "v"), r)
      assert(byId(read) == expected, r)
      // stats pruning and parquet pushdown key on the physical names
      assert(byId(read.where(col("w") === 30L)) == Seq(Row(3L, 30L, null)), r)
      assert(byId(read.where(col("v").isNotNull)) == Seq(Row(6L, 60L, -1L)), r)
      assert(byId(read.where(col("v") === -1L)) == Seq(Row(6L, 60L, -1L)), r)
    }
  }

  test("drop then re-add the same name: the old values never come back") {
    val dir = tmp("readd")
    Snapshot.create(spark, dir, (0L until 4L).map(i => (i, i + 100, s"x$i")).toDF("id", "v", "x"))
    Snapshot.dropColumn(spark, dir, "v")
    Snapshot.addColumns(spark, dir, Seq(StructField("v", LongType)))
    Snapshot.append(spark, dir, Seq((4L, "x4", 7L)).toDF("id", "x", "v"))
    val expected = (0L until 4L).map(i => Row(i, s"x$i", null)) :+ Row(4L, "x4", 7L)
    bothReaders { r =>
      val read = Snapshot.read(spark, dir)
      assert(byId(read) == expected, r)
      assert(read.where(col("v") >= 100L).count() == 0L, r)
      assert(read.where(col("v").isNull).count() == 4L, r)
    }
  }

  test("a DV'd partitioned table reads exactly through the one scan") {
    val dir = tmp("dvpart")
    val data = (0L until 400L).map(i =>
      (i, java.sql.Date.valueOf(f"2024-01-${1 + i % 3}%02d"), s"p${i % 2}", i * 3))
      .toDF("id", "day", "p", "v")
    Snapshot.create(spark, dir, data.repartition(1), Seq("day", "p"))
    Snapshot.append(spark, dir, data.withColumn("id", col("id") + 1000L).repartition(1))
    // one point per partition leaf, on both transactions' files: every
    // leaf's files carry the SAME part-file basename per write job
    val gone = Seq(0L, 1L, 2L, 3L, 4L, 5L, 1000L, 1001L)
    Snapshot.delete(spark, dir, col("id").isin(gone: _*))
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.dvs.size >= 6, s"point deletes must take the DV tier: ${m.dvs.size}")
    val expected = byId(data.union(data.withColumn("id", col("id") + 1000L))
      .where(!col("id").isin(gone: _*)))
    bothReaders { r =>
      assert(byId(Snapshot.read(spark, dir)) == expected, r)
      assert(byId(Snapshot.readWhere(spark, dir, col("p") === "p1")) ==
        expected.filter(_.getString(2) == "p1"), r)
      assert(Snapshot.readChanges(spark, dir, m.version - 1, m.version, net = true)
        .where(col("_change_type") === "delete").select("id").as[Long].collect().sorted.toSeq ==
        gone.sorted, r)
    }
  }

  test("a shallow clone mixing @alias roots with its own transactions reads exactly") {
    val src = tmp("clone-src"); val dst = tmp("clone-dst")
    val data = (0L until 300L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v")
    Snapshot.create(spark, src, data.repartition(1), Seq("k"))
    Snapshot.delete(spark, src, col("id") === 4L) // a vector the clone inherits
    Snapshot.shallowClone(spark, src, dst)
    Snapshot.append(spark, dst,
      (300L until 600L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v").repartition(1))
    Snapshot.delete(spark, dst, col("id").isin(5L, 301L)) // vectors on both roots
    val m = Snapshot.latestManifest(spark, dst).get
    assert(m.files.exists(_.startsWith("@")) && m.files.exists(!_.startsWith("@")), m.files)
    assert(m.dvs.keySet.exists(_.startsWith("@")) && m.dvs.keySet.exists(!_.startsWith("@")),
      m.dvs.keySet)
    val expected = (0L until 600L).filterNot(Set(4L, 5L, 301L)).map(i => Row(i, s"k${i % 3}", i))
    bothReaders { r =>
      assert(byId(Snapshot.read(spark, dst).select("id", "k", "v")) == expected, r)
      assert(Snapshot.read(spark, src).count() == 299L, r)
    }
  }

  test("a DECIMAL partition column reads through the read core and the SQL source") {
    val dir = tmp("decpart")
    val data = (0L until 30L).map(i => (i, new java.math.BigDecimal(s"${i % 3}.25")))
      .toDF("id", "rate")
    Snapshot.create(spark, dir, data, Seq("rate"))
    val expected = byId(data.select(col("id"), col("rate").cast("decimal(38,18)")))
    bothReaders { r =>
      assert(byId(Snapshot.read(spark, dir).select("id", "rate")) == expected, r)
      val viaSql = spark.read.format("graft.sources.SnapshotSource").load(dir)
      assert(byId(viaSql.select("id", "rate")) == expected, r)
      assert(viaSql.where(col("rate") === new java.math.BigDecimal("1.25")).count() == 10L, r)
    }
  }

  test("the row-based scan body counts, projects and prunes a DV'd version exactly") {
    val dir = tmp("rowscan")
    Snapshot.create(spark, dir,
      (0L until 300L).map(i => (i, s"name-$i", i % 7)).toDF("id", "s", "g").repartition(3))
    Snapshot.delete(spark, dir, col("id") === 5L)
    val m = Snapshot.latestManifest(spark, dir).get
    assert(m.dvs.nonEmpty, "the point delete must take the vector tier")
    def scan(required: Seq[String], filters: org.apache.spark.sql.sources.Filter*) =
      graft.sources.SnapshotSource.scanRows(spark, dir, m, required, filters.toArray).collect()
    // count-only: one empty row per live row
    val counted = scan(Nil)
    assert(counted.length == 299 && counted.forall(_.length == 0))
    // the required columns in the asked order; a pushed filter only
    // prunes files, so the rows are a superset Spark filters above
    val picked = scan(Seq("g", "id"), org.apache.spark.sql.sources.EqualTo("id", 7L))
    assert(picked.forall(_.length == 2))
    assert(picked.exists(r => r.getLong(1) == 7L && r.getLong(0) == 0L))
    assert(!picked.exists(_.getLong(1) == 5L), "the deleted row stays deleted")
  }
}
