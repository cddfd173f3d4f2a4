package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Materialize, Similarity}

/** The one materialization helper: one job, exact statistics, the
  * input's partitioning kept — and what those statistics buy: the
  * planner broadcasts collision-sized and persisted sides by itself,
  * under the session threshold and never above it.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = sf().dir

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withThreshold[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", bytes.toString)(body)

  private def count(plan: String, pattern: String) = pattern.r.findAllIn(plan).length

  test("one job materializes, counts rows and flagged rows, and sizes the result") {
    val df = spark.range(0, 100, 1, 4)
      .select(col("id"), (col("id") * 2).as("v"), (col("id") % 3 === 0).as("f"))
    var m: Materialize.Materialized = null
    assert(jobsOf { m = Materialize(df, Some("f")) } == 1)
    assert(m.rows == 100L && m.flagged == 34L)
    // an UnsafeRow of three fixed-width fields: 8-byte null bitset + 3 words
    val stats = m.df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(100)) && stats.sizeInBytes == BigInt(3200))
    // the materialized copy reads back without another pass over the input
    assert(m.df.where(col("f")).count() == 34L)

    val empty = Materialize(df.where(col("id") < 0))
    assert(empty.rows == 0L && empty.flagged == 0L)
    val none = empty.df.queryExecution.optimizedPlan.stats
    assert(none.rowCount.contains(BigInt(0)) && none.sizeInBytes == BigInt(0))
  }

  test("materializing a shuffled input costs no more jobs than a bare checkpoint") {
    def grouped = (0 until 400).map(i => (i % 7, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    val bare = jobsOf(grouped.localCheckpoint())
    val helper = jobsOf(Materialize(grouped))
    assert(helper <= bare, s"helper $helper jobs, bare checkpoint $bare")
  }

  test("a hash-partitioned input keeps its partitioning: no extra Exchange downstream") {
    def base = (0 until 300).map(i => (i % 11, i.toLong)).toDF("k", "v")
      .repartition(4, col("k"))
    def exchanges(df: DataFrame) = count(
      df.groupBy("k").agg(sum("v")).queryExecution.executedPlan.toString, "Exchange ")
    def relation(df: DataFrame) =
      df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    // AQE hides the input's partitioning from the checkpoint, so the
    // aggregate re-shuffles either way; without AQE both reuse it
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled", aqe) {
        val input = base
        val (helper, bare) = (Materialize(input).df, input.localCheckpoint())
        assert(relation(helper).outputPartitioning == relation(bare).outputPartitioning, s"aqe=$aqe")
        assert(relation(helper).outputOrdering == relation(bare).outputOrdering, s"aqe=$aqe")
        assert(exchanges(helper) == exchanges(bare), s"aqe=$aqe")
        if (aqe == "false") assert(exchanges(helper) == 0,
          "the aggregate must reuse the checkpoint's hash partitioning")
      }
    }
  }

  test("q181's candidate-id semi-join broadcasts with no hint") {
    val qe = SparkEntry.queries("q181_chunk_neardup")(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    val semis = plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semis.nonEmpty, s"q181 lost its candidate-id semi-join:\n$plan")
    assert(semis.forall(_.contains("BroadcastHashJoin")),
      s"q181's semi-joins must broadcast the candidate ids:\n${semis.mkString("\n")}")
    val hints = qe.optimizedPlan.collect { case j: Join => j.hint }
    assert(hints.forall(_ == JoinHint.NONE), s"q181 carries join hints: $hints")
  }

  test("q33's dictionary join broadcasts by the dictionary's size, not by a hint") {
    def plan = SparkEntry.queries("q33_enrich_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    val on = plan
    assert(on.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
      s"q33 must broadcast its persisted dictionary:\n$on")
    val off = withThreshold(1L)(plan)
    assert(!off.contains("BroadcastHashJoin") && !off.contains("BroadcastExchange"),
      s"q33 broadcast above the threshold:\n$off")
  }

  test("kmeansRefine's assignment broadcasts the centroids under the threshold only") {
    val emb = sf().embeddings
    val seeds = Similarity.hashSeeds(emb, "vec_id", "embedding", 8)
    // the assignment runs inside each round's materialization; catch
    // the plans of those actions (a listener sees them asynchronously)
    def assignmentPlans(iters: Int): Seq[String] = {
      val seen = new ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          val p = qe.executedPlan.toString
          if (p.contains("graft_topk_pairs")) seen.add(p)
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        Similarity.kmeansRefine(emb, seeds, "vec_id", "embedding", iters = iters).collect()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (seen.size < iters && System.nanoTime() < deadline) Thread.sleep(20)
      } finally spark.listenerManager.unregister(listener)
      seen.asScala.toSeq
    }
    val on = assignmentPlans(2)
    assert(on.size >= 2, s"expected one assignment plan per round, got ${on.size}")
    assert(on.forall(p => p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
      s"the centroid side must broadcast:\n${on.mkString("\n---\n")}")
    val off = withThreshold(1L)(assignmentPlans(2))
    assert(off.size >= 2, s"expected one assignment plan per round, got ${off.size}")
    assert(off.forall(p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("BroadcastExchange")),
      s"the centroid side broadcast above the threshold:\n${off.mkString("\n---\n")}")
  }

  test("one path: no bare localCheckpoint in src/main outside the helper, no broadcast gate") {
    val main = new java.io.File("src/main/scala")
    val test = new java.io.File("src/test/scala")
    assert(main.isDirectory && test.isDirectory, s"run from the repo root (cwd ${new java.io.File(".").getAbsolutePath})")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val checkpointers = scalaFiles(main)
      .filter(f => read(f).contains("localCheckpoint("))
      .map(_.getName)
    assert(checkpointers == Seq("Materialize.scala"),
      s"localCheckpoint( outside the helper: $checkpointers")
    val gate = "sizeGated" + "Broadcast"
    val gated = (scalaFiles(main) ++ scalaFiles(test)).filter(f => read(f).contains(gate))
    assert(gated.isEmpty, s"$gate is back: ${gated.map(_.getName)}")
  }
}
