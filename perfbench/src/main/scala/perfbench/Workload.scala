package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}

/** One op as the client saw it. `kind` groups ops for the per-kind
  * latency figures (churn commits, refreshes, reads).
  */
final case class OpResult(kind: String, name: String, seconds: Double, ok: Boolean,
                          err: String = "")

/** What a traced op learned about its physical plan. */
final case class PlanCounts(exchanges: Int, smj: Int, bhj: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges, smj + o.smj, bhj + o.bhj)
}

trait Workload {
  def name: String
  /** Build a fresh fixture under `dir`; the last fixture built is the one measured. */
  def setup(dir: Path): Unit
  /** One pass over the op list, closed loop, in an order drawn from `rnd`. */
  def pass(rnd: SplittableRandom): Seq[OpResult]
  /** Output checks of the pass just run, made outside its timing. */
  def checkPass(): Seq[OpResult] = Nil
  /** Fixture builds per run; `setup_s` takes their median. */
  def setupReps: Int = 3
  /** Untimed passes before measuring; their time counts in `setup_s`. */
  def warmupPasses: Int = 1
  /** Measured passes per run, whatever `--seconds` says: a run is sized
    * in ops. The first measured pass of a query workload still runs
    * slower while the JIT settles, so measuring a fixed number keeps
    * every run's mix the same.
    */
  def minPasses: Int = 2
  /** Called once the warm-up is done. */
  def startMeasuring(): Unit = ()
  /** Checks that need the whole history (run after the measured window). */
  def finalChecks(): Seq[OpResult] = Nil
  /** Per-layer figures only this workload can measure (trace mode). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures, printed beside the result line. */
  def extraEndToEnd(ops: Seq[OpResult]): Map[String, Double] = Map.empty
  /** Time to open the fixture's tables through `graft.Tables`. */
  def sourcesOpenS: Double = 0.0
}

object Fingerprint extends AdaptiveSparkPlanHelper {
  /** Row count plus the decimal sum of `xxhash64` over every column — the
    * forcing aggregate `graft.Bench` times, with the row count beside it.
    * In trace mode the executed plan's shape is added to the tracer's tally.
    */
  def apply(df: DataFrame, tracer: Tracer, op: String): String = {
    val agg = df.select(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(c => col(s"`$c`")): _*)).cast("decimal(38,0)")))
    tracer.span("plan", "plans", op)(agg.queryExecution.executedPlan)
    val row = tracer.span("run", "exec", op)(agg.collect().head)
    if (tracer.enabled) tracer.plans = tracer.plans + counts(agg.queryExecution.executedPlan)
    s"${row.getLong(0)}:${Option(row.get(1)).map(_.toString).getOrElse("null")}"
  }

  def counts(plan: SparkPlan): PlanCounts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanCounts(nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }
}

/** `daily_rollup` and `dedup_corpus`: registered queries of a set of
  * packs, each op one `QueryDef.buildPrepared` plus its forcing
  * aggregate, checked against a golden fingerprint. A staged query's
  * fixture runs before its op, outside the op's latency, as in
  * `graft.Bench`. `only` names the ops by query-id prefix (`q05_`);
  * empty means every query of the packs.
  */
final class QueryWorkload(val name: String, spark: SparkSession, tracer: Tracer,
                          packs: Seq[graft.queries.QueryPack], only: Seq[String],
                          scale: Fixture.Scale, golden: Golden) extends Workload {
  val queries: Seq[graft.queries.QueryDef] = {
    val all = packs.flatMap(_.queries).sortBy(_.name)
    if (only.isEmpty) all
    else only.map(id => all.find(_.name.startsWith(id + "_")).getOrElse(
      throw new IllegalArgumentException(s"$name: no query $id in its packs")))
  }
  private var tables: graft.Tables = _
  private var openS = 0.0

  def setup(dir: Path): Unit = {
    Fixture.write(dir, scale)
    tables = graft.Tables(spark, dir.toString)
    openS = Util.timed(Fixture.Tables.foreach(t => tables(t).schema))._2
  }

  override def sourcesOpenS: Double = openS

  def run(q: graft.queries.QueryDef): OpResult = {
    val state = q.setup.map(f => tracer.span("fixture", "fixture", q.name)(f(tables))).orNull
    val t0 = System.nanoTime()
    val res = scala.util.Try(tracer.span("op", "op", q.name) {
      val df = tracer.span("build", "queries", q.name)(q.buildPrepared(tables, state))
      Fingerprint(df, tracer, q.name)
    })
    val secs = Util.secondsSince(t0)
    res match {
      case scala.util.Success(fp) =>
        golden.check(q.name, fp) match {
          case None => OpResult("query", q.name, secs, ok = true)
          case Some(msg) => OpResult("query", q.name, secs, ok = false, msg)
        }
      case scala.util.Failure(e) =>
        OpResult("query", q.name, secs, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  def pass(rnd: SplittableRandom): Seq[OpResult] = Util.shuffle(queries, rnd).map(run)
}

/** Golden fingerprints: `name<TAB>rows:hashsum` per query. In record
  * mode every fingerprint is accepted and kept for [[save]].
  */
final class Golden(path: Path, record: Boolean) {
  private val known: Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, fp) = l.split("\t"); n -> fp }.toMap
  private val seen = scala.collection.mutable.Map.empty[String, String]
  /** Overrides used by the self-test to corrupt one expected value. */
  val overrides = scala.collection.mutable.Map.empty[String, String]

  def check(name: String, fp: String): Option[String] = {
    seen(name) = fp
    if (record) None
    else overrides.get(name).orElse(known.get(name)) match {
      case None => Some(s"no golden fingerprint for $name")
      case Some(g) if g == fp => None
      case Some(g) => Some(s"fingerprint $fp != golden $g")
    }
  }

  def lastSeen(name: String): Option[String] = seen.get(name)

  def save(header: String): Unit = {
    val merged = (known ++ seen).toSeq.sortBy(_._1)
    java.nio.file.Files.writeString(path,
      (s"# $header" +: merged.map { case (n, f) => s"$n\t$f" }).mkString("", "\n", "\n"))
  }
}
