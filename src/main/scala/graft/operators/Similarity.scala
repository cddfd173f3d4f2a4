package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions
import graft.functions.TextFns

/** Vector-similarity search over an embedding column (Array[Float]).
  *
  * Determinism contract: all arithmetic is double-precision left-fold in
  * array-index order, so cosine values are bitwise-reproducible across
  * engines — the DuckDB oracles compute the identical doubles.
  *
  * Physical design:
  *  - dot products run through the native codegen'd `graft_dot`
  *    expression (expressions.DotProduct), not interpreted higher-order
  *    functions — the all-pairs queries are ~40× cheaper per pair;
  *  - norms are computed once per VECTOR (projection before the join),
  *    never per pair;
  *  - brute-force top-k scans the corpus once per query batch; the LSH
  *    path buckets by random-hyperplane signs so candidate generation is
  *    an equi-join on the bucket key — at 100 TB the corpus shuffles
  *    once on a small key instead of cross-joining.
  */
object Similarity {

  /** Fold-left double dot product of two float-array columns (native
    * codegen expression; falls back identically under interpretation).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine via precomputed norms — use when norms are already columns. */
  private def cosPre(dotAB: Column, na: Column, nb: Column): Column = dotAB / (na * nb)

  def cosine(a: Column, b: Column): Column = cosPre(dot(a, b), norm(a), norm(b))

  /** Corpus-scaled hyperplane count: expected bucket occupancy stays
    * ~targetBucket as the corpus grows (planes = ceil(log2(n/target)),
    * floored at 4), so the in-bucket candidate join is O(n · target),
    * never O(n²) — at 1e9 vectors this is 25 planes / 33M buckets, not
    * the compile-time 16 buckets that would go quadratic.
    */
  def planesFor(n: Long, targetBucket: Int = 32): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)

  /** Corpus-scaled IVF cell count, sqrt-sized (the standard IVF
    * trade): nlist = sqrt(n / targetCell), so the centroid table is
    * o(n) — it stays broadcastable far longer — and the assignment
    * pass costs n · sqrt(n / targetCell) dot products instead of the
    * n²/targetCell a linearly-growing centroid count degenerates to.
    * Cells hold ~sqrt(n · targetCell) vectors; nprobe bounds how many
    * a query searches. 1e9 vectors → 5 793 centroids (assignment
    * ~6e12 dots spread across the cluster), not the 31M centroids /
    * 3e16 dots of the old linear sizing.
    */
  def centroidsFor(n: Long, targetCell: Int = 32): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble / targetCell)).toInt)

  /** Per-query top-k via the graft_topk_pairs TypedImperativeAggregate:
    * partial (map-side) aggregation forwards at most k pairs per query
    * per upstream partition, so the shuffle is O(queries × k) — the
    * window row_number() plan would shuffle and sort EVERY candidate
    * pair. Output matches the window exactly (score desc, id asc ties).
    */
  private[graft] def topKAgg(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(call_function("graft_topk_pairs", col("match_id"), col("cos"), lit(k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "m")))
      .select(col("query_id"), col("m.match_id").as("match_id"),
        (col("pos") + 1).cast("int").as("rank"), col("m.score").as("cos"))

  /** Brute-force exact top-k by cosine: every query row against the full
    * corpus — the documented O(Q×N) baseline (small Q side), but the
    * rank step is still the partial-aggregate, not a window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("match_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("match_id"))
      .withColumn("cos", cosPre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    topKAgg(scored, k)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * hash32("p:d") mapped to [-0.5, 0.5) in exact rational steps — the
    * same value is reconstructible in any engine with md5.
    */
  def planeWeight(plane: Int, d: Column): Column =
    (TextFns.hash32(concat(lit(s"$plane:"), d.cast("string"))) % 1000000L).cast("double") / 1000000.0 - 0.5

  /** Sign-of-projection LSH bucket id over `planes` hyperplanes: bit p is
    * set iff dot(plane_p, v) > 0 — the native one-pass expression
    * (expressions.LshBucket); weights are derived once per executor, not
    * md5-rederived per row like the composed formula below.
    */
  def lshBucket(vec: Column, planes: Int): Column =
    call_function("graft_lsh_bucket", vec, lit(planes))

  /** The reference formula lshBucket is value-equal to (kept for the
    * equivalence spec): fold in array-index order per plane.
    */
  def lshBucketComposed(vec: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeWeight(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k: candidates share one of the query's probe buckets — the
    * scale path (equi-join on bucket), trading recall for never
    * materializing the cross product. Multiprobe: each query also
    * probes the `planes` buckets at hamming distance 1 from its own
    * (flip one sign bit), recovering most neighbors lost to a single
    * near-boundary projection at the cost of a (planes+1)-way explode of
    * the QUERY side only — the corpus still shuffles once on its bucket.
    * A (q,c) pair can meet on at most one probe (probe values are
    * distinct, c has one bucket), so no dedup pass is needed.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              planes: Int, k: Int, multiprobe: Boolean = true): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"), lshBucket(col(vecCol), planes).as("bucket"))
    val probeCols =
      if (multiprobe) col("bucket") +: (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
      else Seq(col("bucket"))
    val q = b.withColumn("probe", explode(array(probeCols: _*)))
    val scored = q.as("q").join(b.as("c"),
        col("q.probe") === col("c.bucket") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("match_id"),
        cosPre(dot(col("q.v"), col("c.v")), col("q.n"), col("c.n")).as("cos"))
    topKAgg(scored, k)
  }

  /** A built IVF index: the cached centroid table and the cached
    * per-vector cell assignment (rn = 1 is the home cell, rn <= nprobe
    * the probe cells). The caches ARE the in-session index — they live
    * until `release()` (or LRU eviction); a production deployment would
    * materialize the assignment to storage instead.
    */
  final case class IvfIndex(centroids: DataFrame, assignment: DataFrame) {
    def release(): Unit = { assignment.unpersist(); centroids.unpersist() }
  }

  /** IVF index build: every vector's nprobe nearest centroids (argmax
    * cosine, ties to the smallest centroid id). The assignment pass is
    * corpus × nlist dot products — with the sqrt `centroidsFor` sizing
    * that is n·sqrt(n), the standard IVF build cost, and the ranking is
    * the `graft_topk_pairs` partial aggregate, so the post-join shuffle
    * carries O(n · nprobe) rows, never the n × nlist candidate set a
    * window sort would move. The centroid table is persisted and
    * counted, so the planner sees its real bytes: under the session
    * broadcast threshold it broadcasts, above it the assignment runs as
    * a partitioned cartesian (n_part_v × n_part_c tasks) instead of
    * dying in a driver build.
    */
  def ivfIndex(df: DataFrame, centroids: DataFrame,
               idCol: String, vecCol: String, nprobe: Int = 2): IvfIndex = {
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn")).persist()
    c.count() // materialize so the cached-plan stats are real bytes
    IvfIndex(c, assignTo(c, df, idCol, vecCol, nprobe).persist())
  }

  /** The assignment pass against a PREPARED centroid table
    * ((centroid_id, cv, cn)) — shared by the initial build and the
    * incremental append.
    */
  private def assignTo(c: DataFrame, df: DataFrame,
                       idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    v.crossJoin(c)
      .select(col("id"), col("v"), col("n"),
        cosPre(dot(col("v"), col("cv")), col("n"), col("cn")).as("ccos"), col("centroid_id"))
      .groupBy("id")
      .agg(first(col("v")).as("v"), first(col("n")).as("n"),
        call_function("graft_topk_pairs", col("centroid_id"), col("ccos"), lit(nprobe)).as("tk"))
      .select(col("id"), col("v"), col("n"), posexplode(col("tk")).as(Seq("pos", "m")))
      .select(col("id"), col("v"), col("n"), col("m.match_id").as("cell"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Incremental index maintenance — the nightly-ingest path: assign
    * only the NEW batch to the frozen centroids and union it into the
    * assignment. o(batch · nlist) new work; the standing corpus's
    * assignment is reused from cache, never recomputed. Because cell
    * assignment is per-vector, the result is IDENTICAL to a full
    * rebuild over (corpus ∪ batch) with the same centroids
    * (IvfAppendSpec pins set equality); freezing centroids between
    * re-clusterings is the trade every IVF deployment makes, and
    * recall drifts only as far as the data distribution does. Pass the
    * same `nprobe` the index was built with. The superseded assignment
    * cache is migrated: the merged assignment materializes first, then
    * the old one is unpersisted (the shared centroid cache is
    * untouched — do NOT release() the old index).
    */
  def ivfAppend(index: IvfIndex, batch: DataFrame,
                idCol: String, vecCol: String, nprobe: Int = 2): IvfIndex = {
    val merged = index.assignment
      .unionByName(assignTo(index.centroids, batch, idCol, vecCol, nprobe))
      .persist()
    merged.count()
    index.assignment.unpersist()
    IvfIndex(index.centroids, merged)
  }

  /** Search a built IVF index: candidates live in the query's nprobe
    * nearest cells (equi-join on the cell id) — the inverted-file
    * trade: recall bounded by the cell partition, no all-pairs product.
    *
    * `homeCells` > 1 is IVF multi-assignment: each corpus vector is
    * LISTED in its `homeCells` nearest cells (storage inflates by that
    * factor — the standard recall/storage trade), so a pair whose two
    * vectors straddle a cell boundary still meets without widening the
    * query's probe set. A pair can then meet in up to
    * min(nprobe, homeCells) cells; `graft_topk_pairs` has set semantics
    * on (score, id), so duplicate meetings collapse inside the partial
    * aggregate — no distinct pass, the shuffle stays O(n · nprobe).
    * Requires homeCells <= the nprobe the index was built with.
    */
  def ivfTopK(index: IvfIndex, k: Int): DataFrame = ivfTopK(index, k, 1)

  def ivfTopK(index: IvfIndex, k: Int, homeCells: Int): DataFrame = {
    val home = index.assignment.where(col("rn") <= homeCells).drop("rn")
    val probes = index.assignment.drop("rn")
    val scored = probes.as("q").join(home.as("c"),
        col("q.cell") === col("c.cell") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("match_id"),
        cosPre(dot(col("q.v"), col("c.v")), col("q.n"), col("c.n")).as("cos"))
    topKAgg(scored, k)
  }

  /** Quantized IVF search — int8 codes THROUGH the inverted file: cell
    * assignment runs at full precision (the index is built once, its
    * quality should not pay the quantization tax), then in-cell scoring
    * uses per-vector symmetric int8 quantization (scale = max|x|/127,
    * codes = round-half-up(x/scale)) and the RESCALED integer dot
    * product `dot(qcodes, ccodes) * qscale * cscale` — q74's 4x-smaller
    * scoring payload composed with q51's o(n·nprobe) candidate set
    * instead of its brute-force cross join. 64-dim int8 products stay
    * under 2^21, so the double fold is exact and the scores reproduce
    * bitwise across engines. Codes are derived per assignment row by
    * codegen'd array expressions — at scale they would be materialized
    * INTO the index (a narrower column next to `v`), which changes
    * storage, not this plan.
    */
  def ivfTopKQuantized(index: IvfIndex, k: Int): DataFrame = {
    def quantized(df: DataFrame, pre: String): DataFrame = df
      .withColumn(s"${pre}s",
        greatest(array_max(transform(col("v"), x => abs(x.cast("double")))) / 127.0, lit(1e-30)))
      .withColumn(s"${pre}qv",
        transform(col("v"), x => floor(x.cast("double") / col(s"${pre}s") + 0.5).cast("float")))
    val home = quantized(index.assignment.where(col("rn") === 1).drop("rn"), "c")
    val probes = quantized(index.assignment.drop("rn"), "q")
    val scored = probes.as("q").join(home.as("c"),
        col("q.cell") === col("c.cell") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("match_id"),
        (dot(col("q.qqv"), col("c.cqv")) * col("q.qs") * col("c.cs")).as("cos"))
    topKAgg(scored, k).withColumnRenamed("cos", "score")
  }

  /** One-shot IVF ANN: build the index and search it. The index caches
    * stay session-resident (both the probe and home sides consume the
    * assignment, and Spark does not reuse the exchange across their
    * different rn filters). Repeated calls with the SAME inputs do not
    * accumulate copies — CacheManager dedups persisted plans by
    * analyzed-plan equality, so an identical rebuild maps onto the
    * existing cache entries (spec-asserted). Callers whose inputs
    * change between calls should use `ivfIndex`/`ivfTopK(index, k)`
    * and `release()` for an explicit lifecycle. Centroids are
    * caller-chosen rows (deterministic); `kmeansRefine` slots in front
    * without changing the plan shape.
    */
  def ivfTopK(df: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int = 2,
              homeCells: Int = 1): DataFrame =
    ivfTopK(ivfIndex(df, centroids, idCol, vecCol, nprobe), k, homeCells)

  /** Deterministic hash-spread seed centroids: the k corpus rows with the
    * smallest md5-derived key (ties to the smaller id) — a uniform
    * pseudo-random sample that decorrelates seeds from id locality,
    * where first-k-ids seeding inherits whatever clustering the insert
    * order carries (adjacent ids are often near-duplicates, wasting
    * cells). Plans as TakeOrderedAndProject: per-partition top-k, no
    * global sort shuffle — o(n) rows ever move.
    */
  def hashSeeds(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    df.select(col(idCol), col(vecCol))
      .orderBy(TextFns.hash32(col(idCol).cast("string")), col(idCol))
      .limit(k)

  /** Deterministic Lloyd refinement of caller-chosen seed centroids:
    * `iters` rounds of (assign to nearest centroid, recompute each
    * cell's elementwise mean). Empty cells keep their previous
    * centroid. Each round costs one assignment pass (n · nlist dots,
    * partial-aggregated to one row per vector) plus an elementwise-mean
    * shuffle of n · dim (cell, dim, value) triples — the standard
    * distributed k-means step; no driver-side math, no collect. The
    * centroid side is materialized, so it broadcasts by its real size,
    * and the mean accumulates in DECIMAL so the refined centroids are
    * identical across partition counts and reruns.
    * Returns (centroid_id, vec) with ids preserved from the seeds, so
    * downstream assignment stays deterministic.
    *
    * Spec-gated, not oracle-gated, deliberately: DuckDB's float→decimal
    * cast rounds half-way values differently from Spark's HALF_UP
    * (measured: 0.0001220703125 → …312 there, …313 here), and a float's
    * exact decimal expansion can exceed decimal(38)'s digits — so
    * bitwise cross-engine parity of the means is not achievable; the
    * contract that matters (same result across partitionings/reruns
    * within the engine) is what the decimal accumulation guarantees and
    * the recall spec exercises.
    */
  def kmeansRefine(df: DataFrame, seeds: DataFrame,
                   idCol: String, vecCol: String, iters: Int = 2): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    // centroids stay array<float> (graft_dot's input type); means are
    // computed exactly (decimal sum, one division) and cast back
    var c = seeds.select(col(idCol).cast("long").as("centroid_id"),
      col(vecCol).cast("array<float>").as("cv"))
    for (_ <- 1 to iters) {
      // materialized, so the planner sees REAL bytes — the raw seeds
      // plan's estimate can be the multi-GB source file a small seed
      // slice was filtered from, which would plan a cartesian instead
      // of a broadcast
      val cn = Materialize(c.select(col("centroid_id"), col("cv"), norm(col("cv")).as("cn"))).df
      val best = v.crossJoin(cn)
        .select(col("id"), col("v"),
          cosPre(dot(col("v"), col("cv")), col("n"), col("cn")).as("ccos"), col("centroid_id"))
        .groupBy("id")
        .agg(first(col("v")).as("v"),
          call_function("graft_topk_pairs", col("centroid_id"), col("ccos"), lit(1)).as("tk"))
        .select(col("id"), col("v"), col("tk").getItem(0).getField("match_id").as("cell"))
      val means = best
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        // keep the decimal accumulator inside its range: NaN/Inf/1e16+
        // components (garbage embeddings) would THROW the ANSI decimal
        // cast mid-job — exclude them from the mean instead (the filter
        // runs before the groupBy, so the count denominator matches)
        .where(!isnan(col("x")) && abs(col("x")) < 1e15f)
        .groupBy("cell", "dim")
        // decimal sum + one division: order-independent, unlike avg()
        // over doubles whose value drifts with partition count
        .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1))).cast("double").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell").as("centroid_id"),
          expr("transform(dm, p -> CAST(p.m AS FLOAT))").as("cv"))
      // empty cells keep their previous centroid (standard Lloyd fix)
      // cut the per-iteration lineage
      c = Materialize(c.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(means("cv"), c("cv")).as("cv"))).df
    }
    c.select(col("centroid_id"), col("cv"))
  }

  /** Cross-corpus embedding near-dup: every (query, corpus) pair with
    * cosine >= threshold — the embedding-space analog of the n-gram
    * train/test contamination scan (Dedup.jaccardPairsAcross). With
    * planes > 0 both corpora bucket on the same hyperplanes and
    * candidates come from an equi-join on the bucket (multiprobe
    * explodes the QUERY side to its hamming-1 neighbors, recovering
    * near-boundary losses); planes = 0 is the exact baseline — the
    * query side is the small one (a test set), so the non-equi join
    * broadcasts it and streams the training corpus once, the q30
    * pattern, never a shuffled cartesian. A pair can meet on at most
    * one probe (probe values are distinct, the corpus row has one
    * bucket), so no dedup pass is needed.
    */
  def crossNearDup(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, threshold: Double,
                   planes: Int = 0, multiprobe: Boolean = true): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    def prep(df: DataFrame, idOut: String) = df.select(col(idCol).as(idOut),
      col(vecCol).as(s"${idOut}_v"), norm(col(vecCol)).as(s"${idOut}_n"))
    val q0 = prep(queries, "query_id")
    val c0 = prep(corpus, "match_id")
    val cos = cosPre(dot(col("query_id_v"), col("match_id_v")),
      col("query_id_n"), col("match_id_n"))
    val pairs =
      if (planes == 0) {
        // exact baseline: non-equi join on the threshold itself — the
        // small query side broadcasts (BNLJ), the corpus streams once
        q0.join(c0, cos >= threshold)
      } else {
        val probeCols =
          if (multiprobe) col("qb") +: (0 until planes).map(p => col("qb").bitwiseXOR(lit(1L << p)))
          else Seq(col("qb"))
        val q = q0.withColumn("qb", lshBucket(col("query_id_v"), planes))
          .withColumn("probe", explode(array(probeCols: _*)))
        val c = c0.withColumn("cb", lshBucket(col("match_id_v"), planes))
        q.join(c, col("probe") === col("cb")).where(cos >= threshold)
      }
    pairs.select(col("query_id"), col("match_id"), cos.as("cos"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, via the LSH
    * bucket join (candidates must agree on all plane signs — fine for
    * high thresholds) or exact when planes = 0 (single bucket).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, planes: Int = 0): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"),
      (if (planes == 0) lit(0L) else lshBucket(col(vecCol), planes)).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosPre(dot(col("a.v"), col("b.v")), col("a.n"), col("b.n")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid
    * cell, enumerate pairs only WITHIN a cell, connect pairs above the
    * cosine threshold into components, and keep the min-id member of
    * each component. Returns (id, canonical_id, survivor) for the full
    * corpus — the training-set filter is `where(survivor)`.
    *
    * Scale shape: the pair join is cell-bucketed, so candidate volume
    * is Σ|cell|² with |cell| ≈ n / nlist held ~constant by the sqrt
    * `centroidsFor` sizing — near-linear total, vs the O(n²) exact
    * pair scan. Pairs STRADDLING a cell boundary are missed — the
    * paper's documented recall trade; raise recall with kmeansRefine'd
    * centroids (tighter cells) rather than widening the probe set,
    * since dedup only needs each DUPLICATE GROUP co-located, not every
    * neighbor found. Component labels come from Dedup.canonicalize
    * (one job per propagation round, edge-touched nodes only), and the
    * transient IVF caches are released before returning — the result
    * plan reads only the materialized labels and the corpus ids.
    */
  def semanticDedup(df: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    val index = ivfIndex(df, centroids, idCol, vecCol, nprobe = 1)
    val home = index.assignment.where(col("rn") === 1)
    val edges = home.as("a").join(home.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosPre(dot(col("a.v"), col("b.v")), col("a.n"), col("b.n")).as("cos"))
      .where(col("cos") >= threshold)
    val canon = Dedup.canonicalize(df.select(col(idCol)), idCol, edges)
    // canonicalize materialized its labels (persist/checkpoint + count
    // per round), so dropping the IVF caches does not force a rebuild
    index.release()
    canon.select(col("id"), col("canonical_id"),
      (col("id") === col("canonical_id")).as("survivor"))
  }
}
