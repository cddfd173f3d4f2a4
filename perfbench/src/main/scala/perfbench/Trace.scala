package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced call: `layer` names the engine module the call enters,
  * `op` the benchmark op it belongs to. Times are epoch microseconds so
  * they line up with the listener's job timestamps.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, op: String,
                      startUs: Long, endUs: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Spans around the benchmark's calls into the engine, kept in memory
  * and written out when the run ends. Each span sets the Spark job group
  * to its own id, so [[JobCounters]] can attribute every job to the
  * innermost call that caused it. When disabled, [[span]] only runs its
  * body: no job groups, no listener, no records.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  /** Plan shapes of the traced forcing aggregates since the last [[reset]]. */
  var plans: PlanCounts = PlanCounts(0, 0, 0)
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  val counters: Option[JobCounters] =
    if (enabled) { val c = new JobCounters; sc.addSparkListener(c); Some(c) } else None

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  def span[A](name: String, layer: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val start = nowUs
      try body
      finally {
        recorded += Span(id, parent, name, layer, op, start, nowUs)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Forget everything recorded so far (the warm-up pass is not measured). */
  def reset(): Unit = {
    counters.foreach(_ => org.apache.spark.perfbenchbridge.Bus.drain(sc))
    recorded.clear(); counters.foreach(_.reset()); plans = PlanCounts(0, 0, 0)
  }

  /** Spans plus one span per Spark job, parented to the call whose job
    * group it ran under. Waits for the listener bus first.
    */
  def allSpans(): Seq[Span] = {
    counters.foreach(_ => org.apache.spark.perfbenchbridge.Bus.drain(sc))
    val byId = recorded.map(s => s.id -> s).toMap
    val jobSpans = counters.toSeq.flatMap(_.jobs).flatMap { j =>
      byId.get(j.group).map(p =>
        Span(-j.id - 1L, p.id, s"job ${j.id}", "exec", p.op, j.startMs * 1000, j.endMs * 1000))
    }
    recorded.toSeq ++ jobSpans
  }
}

object Tracer {
  /** Self time per layer: each span's duration minus the part of it its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.layer -> math.max(0L, (s.endUs - s.startUs) - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Total length of the union of [start, end) intervals, in the input unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def writeJsonl(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.toAbsolutePath.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${Util.esc(s.name)}",""" +
        s""""layer":"${s.layer}","op":"${Util.esc(s.op)}","start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** The benchmark's own listener: per job group (= span id) the jobs,
  * the stages that ran, and the task totals.
  */
final class JobCounters extends SparkListener {
  final case class Job(id: Int, group: Long, startMs: Long, var endMs: Long)
  final class Agg {
    var stages = 0L; var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var inputBytes = 0L; var inputRows = 0L
    def +=(o: Agg): Unit = {
      stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks; runMs += o.runMs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    }
  }
  private val jobMap = mutable.LinkedHashMap.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, Long]
  private val aggs = mutable.Map.empty[Long, Agg]

  private def groupOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)

  def reset(): Unit = synchronized { jobMap.clear(); stageGroup.clear(); aggs.clear() }
  def jobs: Seq[Job] = synchronized(jobMap.values.filter(_.endMs > 0).toSeq)
  def agg(group: Long): Agg = synchronized(aggs.getOrElse(group, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobMap(e.jobId) = Job(e.jobId, groupOf(e.properties), e.time, 0L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    aggs.getOrElseUpdate(g, new Agg).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggs.getOrElseUpdate(stageGroup.getOrElse(e.stageId, 0L), new Agg)
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }
}
