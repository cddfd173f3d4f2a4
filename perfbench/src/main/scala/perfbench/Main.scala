package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * `--mode run` (the default) builds the workload's fixture several
  * times, runs the untimed warm-up, then measures closed-loop passes
  * with one client thread, at least the workload's minimum number and
  * until `--seconds` of passes have been measured, and prints one JSON
  * result line last. `--trace 1` turns on spans and the
  * job listener and reports per-layer figures instead of end-to-end
  * ones. Other modes: `record-golden`, `dump-fixture`, `self-test`.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, checkout: Path = Paths.get("."),
                        tmp: Path = Paths.get("."), spans: Option[Path] = None,
                        mode: String = "run", out: Option[Path] = None)

  /** Scale of the generated star and event tables (see [[Fixture.Scale]]). */
  val QueryScale: Fixture.Scale = Fixture.Scale(0.002)
  /** Scale of the `orders`/`lineitem` the churn tables start from. */
  val ChurnScale: Fixture.Scale = Fixture.Scale(0.002)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--checkout" :: v :: t => parse(t, o.copy(checkout = Paths.get(v)))
    case "--tmp" :: v :: t => parse(t, o.copy(tmp = Paths.get(v)))
    case "--spans" :: v :: t => parse(t, o.copy(spans = Some(Paths.get(v))))
    case "--mode" :: v :: t => parse(t, o.copy(mode = v))
    case "--out" :: v :: t => parse(t, o.copy(out = Some(Paths.get(v))))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
  }

  val DailyRollupPacks: Seq[graft.queries.QueryPack] = {
    import graft.queries._
    Seq(Relational, Relational2, SqlPack, PipelinePack, ConsumoBloquesPack, IndicadoresPack,
      TraficoPack, StatsPack, EnrichPack)
  }
  val DedupCorpusPacks: Seq[graft.queries.QueryPack] = {
    import graft.queries._
    Seq(DedupPack, SimilarityPack, TextPack, CorpusPack, TrainPack)
  }
  /** The ops of `daily_rollup`: scans, joins, aggregates, window and
    * SQL-text queries of the packs that reproduce the reference's
    * BigQuery SQL and pandas steps, q62 being its largest query. A run
    * must fit the benchmark's time budget, so this is a fixed subset of
    * the 71 queries of those packs, chosen to cover each operator family.
    */
  val DailyRollupOps = Seq("q01", "q02", "q03", "q05", "q06", "q09", "q12", "q42", "q52",
    "q62", "q78", "q114")
  /** The ops of `dedup_corpus`: self-joins, LSH and ANN searches,
    * connected components and BPE training over `documents` and
    * `embeddings`, including the eager-materialization heavy q79/q181
    * semi-joins — a fixed subset of the 61 queries of those packs.
    */
  val DedupCorpusOps = Seq("q27", "q28", "q31", "q44", "q45", "q64", "q70", "q79", "q95",
    "q124", "q181")
  val Workloads = Seq("daily_rollup", "dedup_corpus", "refresh_churn")

  def session(o: Opts, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", o.tmp.resolve("warehouse").toString)
      .config("spark.local.dir", o.tmp.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.tmp.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, tracer: Tracer, golden: Golden): Workload = name match {
    case "daily_rollup" =>
      new QueryWorkload(name, spark, tracer, DailyRollupPacks, DailyRollupOps, QueryScale, golden)
    case "dedup_corpus" =>
      new QueryWorkload(name, spark, tracer, DedupCorpusPacks, DedupCorpusOps, QueryScale, golden)
    case "refresh_churn" => new ChurnWorkload(spark, tracer, ChurnScale)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Workloads.mkString(", ")})")
  }

  def goldenPath(o: Opts): Path = o.checkout.resolve("perfbench").resolve("golden.tsv")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val cpus = Runtime.getRuntime.availableProcessors()
    val code = o.mode match {
      case "run" => run(o, cpus)
      case "record-golden" => recordGolden(o, cpus)
      case "dump-fixture" =>
        Fixture.write(o.out.get, QueryScale); 0
      case "self-test" => selfTest(o, cpus)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    sys.exit(code)
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Live driver heap: the least heap in use right after each of four
    * full GCs. Spark frees broadcast and shuffle blocks from a cleaner
    * thread only after a GC found their handles unreachable, so the first
    * readings can still count them.
    */
  private def heapLiveMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ => System.gc(); Thread.sleep(150); mx.getHeapMemoryUsage.getUsed }.min / 1048576.0
  }

  def run(o: Opts, cpus: Int): Int = {
    val loadStart = loadAvg
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, cpus)
    // session start as a user pays it: JVM launch to a ready session
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val golden = new Golden(goldenPath(o), record = false)
    val wl = workload(o.workload, spark, tracer, golden)
    val fixtureS = (1 to wl.setupReps).map { i =>
      if (i > 1) Util.deleteTree(o.tmp.resolve(s"fixture${i - 1}"))
      Util.timed(wl.setup(o.tmp.resolve(s"fixture$i")))._2
    }
    val rnd = new SplittableRandom(o.seed)
    val checks = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val (warmOps, warmS) = Util.timed((1 to wl.warmupPasses).flatMap { _ =>
      val ops = wl.pass(rnd); checks ++= wl.checkPass(); ops })
    tracer.reset()
    wl.startMeasuring()
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Seq[OpResult], Double)]
    var firstPassPlans = PlanCounts(0, 0, 0)
    while (passes.size < wl.minPasses || passes.map(_._2).sum < o.seconds) {
      val (ops, s) = Util.timed(tracer.span("pass", "pass", s"pass${passes.size + 1}")(wl.pass(rnd)))
      if (passes.isEmpty) firstPassPlans = tracer.plans
      passes += ((ops, s))
      checks ++= wl.checkPass()
    }
    val ops = passes.flatMap(_._1).toSeq
    checks ++= wl.finalChecks()
    // every op and every output check counts as attempted; a check that
    // finds a wrong answer counts as a failure
    val all = warmOps ++ ops ++ checks
    val failed = all.filterNot(_.ok)
    val attempted = all.size
    val nFailed = failed.size
    val lat = ops.map(_.seconds)
    val setupS = sessionS + Util.median(fixtureS) + warmS

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Util.median(passes.map(_._2).toSeq), "s"),
        ("op_p50_s", Util.quantile(lat, 0.5), "s"),
        ("op_p90_s", Util.quantile(lat, 0.9), "s"),
        ("ok_ratio", (attempted - nFailed).toDouble / attempted, "ratio"),
        ("heap_live_mb", heapLiveMb(), "MB"))
      else Layers.metrics(tracer, wl, passes.map(_._2).toSeq, firstPassPlans, cpus)

    val extra = if (o.trace) Map.empty[String, Double] else wl.extraEndToEnd(ops)
    failed.take(20).foreach(f => println(s"[perfbench] FAILED ${f.kind} ${f.name}: ${f.err}"))
    val info = Seq(
      s""""workload":"${o.workload}"""", s""""seed":${o.seed}""", s""""trace":${o.trace}""",
      s""""nproc":$cpus""", s""""load_start":${Util.num(loadStart)}""",
      s""""load_end":${Util.num(loadAvg)}""",
      s""""jvm":"${Util.esc(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))}"""",
      s""""spark":"${spark.version}"""", s""""passes":${passes.size}""",
      s""""ops_measured":${ops.size}""", s""""session_s":${Util.num(sessionS)}""",
      s""""fixture_s":[${fixtureS.map(Util.num).mkString(",")}]""",
      s""""warmup_s":${Util.num(warmS)}""",
      s""""pass_times_s":[${passes.map(p => Util.num(p._2)).mkString(",")}]""") ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Util.num(v)}""" }
    println(s"[perfbench] info {${info.mkString(",")}}")
    if (o.trace) {
      val spans = tracer.allSpans()
      val self = Tracer.selfTimes(spans).toSeq.sortBy(-_._2)
      println("[perfbench] self time per layer (measured passes):")
      self.foreach { case (l, s) => println(f"[perfbench]   $l%-10s $s%10.3f s") }
      o.spans.foreach { p =>
        Tracer.writeJsonl(spans, p)
        println(s"[perfbench] spans: $p (${spans.size})")
      }
    }
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${Util.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${nFailed == 0},"attempted":$attempted,"failed":$nFailed,""" +
      s""""metrics":{${m.mkString(",")}}}""")
    spark.stop()
    0
  }

  /** Run every query of both query workloads once over a fresh fixture
    * and write their fingerprints to `perfbench/golden.tsv`. With `--out
    * DIR` (a `graft.Verify` dump of the same fixture), every fingerprint
    * must also equal the one computed from the dumped result.
    */
  def recordGolden(o: Opts, cpus: Int): Int = {
    val spark = session(o, cpus)
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    val golden = new Golden(goldenPath(o), record = true)
    val wl = new QueryWorkload("golden", spark, tracer, DailyRollupPacks ++ DedupCorpusPacks,
      Nil, QueryScale, golden)
    wl.setup(o.tmp.resolve("fixture"))
    val results = wl.queries.map { q =>
      val r = wl.run(q)
      val fp = golden.lastSeen(q.name).getOrElse("")
      val dumped = o.out.map { d =>
        Fingerprint(spark.read.parquet(d.resolve(q.name).toString), tracer, q.name)
      }
      val ok = r.ok && dumped.forall(_ == fp)
      println(s"[golden] ${q.name} $fp ${dumped.fold("")(d => s"dump=$d")} ${if (ok) "ok" else s"MISMATCH ${r.err}"}")
      ok
    }
    if (results.forall(identity))
      golden.save(s"rows:xxhash64-decimal-sum per query over the fixture at sf ${QueryScale.sf}")
    spark.stop()
    if (results.forall(identity)) 0 else 1
  }

  /** The output check must catch a wrong answer: run two queries with
    * their true golden values (must pass), then one with a corrupted
    * golden value (must fail). Exit 0 only when both hold.
    */
  def selfTest(o: Opts, cpus: Int): Int = {
    val spark = session(o, cpus)
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    val golden = new Golden(goldenPath(o), record = false)
    val wl = new QueryWorkload("self-test", spark, tracer, DailyRollupPacks, DailyRollupOps,
      QueryScale, golden)
    wl.setup(o.tmp.resolve("fixture"))
    val q = wl.queries.head
    val good = wl.run(q)
    val truth = golden.lastSeen(q.name).get
    val Array(rows, hash) = truth.split(":")
    golden.overrides(q.name) = s"$rows:${BigInt(hash) + 1}"
    val bad = wl.run(q)
    spark.stop()
    println(s"[self-test] ${q.name} true golden -> ok=${good.ok}; corrupted golden -> ok=${bad.ok} (${bad.err})")
    if (good.ok && !bad.ok) { println("[self-test] PASS: corrupted golden value caught"); 0 }
    else { println("[self-test] FAIL"); 1 }
  }
}
