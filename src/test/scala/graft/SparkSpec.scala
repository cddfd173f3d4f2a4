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

  /** Spark jobs the calling thread starts inside `body`, counted by a
    * job group so nothing else on the shared context is attributed —
    * a load-independent figure for job-budget pins.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget pin")
    try {
      body
      // listener bus is async: poll until the job count stabilizes
      var last = -1
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && last != jobs.get()) {
        last = jobs.get(); Thread.sleep(150)
      }
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
