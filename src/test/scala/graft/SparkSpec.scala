package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: one JVM-wide session keeps the
  * suite fast. Suites write only under their own temp directories, so
  * isolation is per table path.
  */
object TestSession {
  /** Per-JVM scratch root for what Spark and Derby would otherwise put
    * in the working directory (the default `spark-warehouse/` and
    * `derby.log`); deleted when the test JVM exits.
    */
  lazy val scratch: Path = {
    val d = Files.createTempDirectory("graft-test-")
    sys.addShutdownHook(FileUtils.deleteQuietly(d.toFile))
    // read once, when the embedded Derby engine boots (JDBC suites)
    System.setProperty("derby.stream.error.file", d.resolve("derby.log").toString)
    d
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  TestSession.scratch // before a suite's first Derby connection or Spark call
  lazy val spark: SparkSession = TestSession.spark
  def sf(dir: String = "sf0.001") = Tables(spark, s"/root/testdata/$dir")
}
