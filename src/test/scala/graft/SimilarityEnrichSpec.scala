package graft

import org.apache.spark.sql.{Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Enrich, Multimodal, Similarity}

class SimilarityEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("cosine is exact on known vectors") {
    val df = Seq((Array(1f, 0f, 0f), Array(0.6f, 0.8f, 0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine($"a", $"b")).as[Double].head()
    assert(math.abs(c - 0.6) < 1e-7) // float inputs → ~1e-8 noise
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break and excludes self") {
    val emb = sf().embeddings
    val out = Similarity.bruteForceTopK(emb.where($"vec_id" === 0), emb, "vec_id", "embedding", 3)
      .as[(Long, Long, Int, Double)].collect()
    assert(out.length == 3)
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
    assert(out.forall(_._2 != 0L))
    assert(out.sliding(2).forall { case Array(x, y) => x._4 >= y._4 })
  }

  test("lshTopK results are a subset of brute-force candidates with matching scores") {
    val emb = sf().embeddings.limit(100)
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 99)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, m, c) => (q, m) -> c }.toMap
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", planes = 4, k = 3)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, m, c) => assert(brute((q, m)) == c) }
  }

  test("graft_topk_pairs equals window row_number ranking on random scored pairs") {
    graft.expressions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    // unique (query, match) pairs incl. deliberate score TIES per query
    val rows = (for {
      q <- 0L until 40L
      m <- 0L until 30L if m != q
    } yield (q, m, math.floor(rnd.nextDouble() * 20) / 20.0)).toSeq
    val scored = rows.toDF("query_id", "match_id", "cos").repartition(8)
    val agg = scored.groupBy("query_id")
      .agg(call_function("graft_topk_pairs", $"match_id", $"cos", lit(3)).as("tk"))
      .select($"query_id", posexplode($"tk").as(Seq("pos", "m")))
      .select($"query_id", $"m.match_id".as("match_id"),
        ($"pos" + 1).cast("int").as("rank"), $"m.score".as("cos"))
      .as[(Long, Long, Int, Double)].collect().toSet
    val win = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy($"cos".desc, $"match_id")
      scored.withColumn("rank", row_number().over(w)).where($"rank" <= 3)
        .select("query_id", "match_id", "rank", "cos")
        .as[(Long, Long, Int, Double)].collect().toSet
    }
    assert(agg == win)
    assert(agg.size == 40 * 3)
  }

  test("semanticDedup keeps the min id per within-cell component and never orphans a member") {
    // two tight clusters on opposite axes plus a lone vector; centroids
    // are the first row of each cluster, so cells split the corpus
    // cleanly and each cluster collapses to its min id
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f)), (2L, Array(0.98f, 0.15f, 0f)),
      (10L, Array(0f, 1f, 0f)), (11L, Array(0f, 0.99f, 0.1f)),
      (20L, Array(0.6f, 0.75f, 0.2f))).toDF("vec_id", "embedding")
    val centroids = emb.where($"vec_id".isin(0L, 10L))
    val out = Similarity.semanticDedup(emb, centroids, "vec_id", "embedding", threshold = 0.95)
      .as[(Long, Long, Boolean)].collect().toSet
    // 20 lands in one of the two cells but clears nobody's 0.95 bar
    assert(out == Set((0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (10L, 10L, true), (11L, 10L, false), (20L, 20L, true)))
    // corpus-level invariants on the real table: every non-survivor's
    // canonical is a survivor, and an impossible threshold keeps everyone
    val real = Similarity.semanticDedup(sf().embeddings,
        sf().embeddings.where($"vec_id" < 4), "vec_id", "embedding", threshold = 0.35)
      .as[(Long, Long, Boolean)].collect()
    val surv = real.filter(_._3).map(_._1).toSet
    assert(real.filter(!_._3).forall(r => surv(r._2)))
    val none = Similarity.semanticDedup(sf().embeddings,
      sf().embeddings.where($"vec_id" < 4), "vec_id", "embedding", threshold = 1.1)
    assert(none.where(!$"survivor").count() == 0)
  }

  test("jaccardPairs maxDocFreq cap is a no-op when slack and only prunes hot postings") {
    val docs = sf().documents.limit(300)
    val exact = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val capped = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = 1000000L)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == exact) // cap above every df → identical
    val tight = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = 1L)
      .as[(Long, Long, Double)].collect().toSet
    // df=1 shingles can never produce a pair → everything pruned
    assert(tight.isEmpty)
    // the valve must be a partial-aggregated blocklist anti-join, never a
    // count-over-Window (which sorts every posting just to count them)
    val plan = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = 5L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "doc-freq valve plan contains a WindowExec")
  }

  test("native LSH bucket equals the composed md5-weight formula") {
    graft.expressions.GraftFunctions.register(spark)
    val emb = sf().embeddings.limit(200)
    val both = emb.select(
      Similarity.lshBucket($"embedding", 6).as("a"),
      Similarity.lshBucketComposed($"embedding", 6).as("b"))
    assert(both.where($"a" =!= $"b").isEmpty)
  }

  test("ANN bucket counts scale with the corpus; candidate pairs stay O(n * bucket)") {
    // the round-1 weakness: compile-time 16 buckets → O(n²/16) in-bucket
    // join at 100 TB. planesFor/centroidsFor must grow with n...
    assert(Similarity.planesFor(500) == 4)   // sf0.01 — oracle parity
    assert(Similarity.planesFor(2000) == 6)  // sf0.1
    assert(Similarity.planesFor(1L << 30) == 25)
    assert(Similarity.centroidsFor(500) == 16) // sf0.01 — oracle parity
    assert(Similarity.centroidsFor(2000) == 16)
    // the q31/q51/q64 oracle constants are GENERATED from these formulas
    // at the documented sf0.01 corpus size — if the testdata drifts, the
    // gate must break HERE, loudly, not as a silent oracle mismatch
    assert(sf("sf0.01").embeddings.count() == 500,
      "sf0.01 embeddings corpus size changed: regenerate the ANN oracle constants")
    // sqrt-scaled (round-2 weakness fixed): 1e9 vectors → ~5.8k
    // centroids, not the 33M a linear n/32 sizing degenerates to — the
    // centroid table stays o(n) and broadcastable far longer
    assert(Similarity.centroidsFor(1L << 30) == 5793)
    assert(Similarity.centroidsFor(1L << 30) < math.sqrt((1L << 30).toDouble).toLong)

    // ...and the realized candidate-pair count must be bounded by
    // n × (planes + 1) × max-bucket-occupancy, far below the n(n-1)
    // cross product a fixed bucket count degenerates to
    val emb = sf("sf0.01").embeddings
    val n = emb.count()
    val planes = Similarity.planesFor(n)
    val b = emb.select($"vec_id".as("id"),
      Similarity.lshBucket($"embedding", planes).as("bucket"))
    val maxBucket = b.groupBy("bucket").count().agg(max("count")).as[Long].head()
    val probed = b.withColumn("probe",
      explode(array(($"bucket" +: (0 until planes).map(p => $"bucket".bitwiseXOR(lit(1L << p)))): _*)))
    val candidates = probed.as("q").join(b.as("c"),
      $"q.probe" === $"c.bucket" && $"q.id" =!= $"c.id").count()
    assert(candidates <= n * (planes + 1) * maxBucket)
    // at 500 vectors multiprobe covers 5 of 16 buckets (~31% of pairs);
    // the covered fraction is (planes+1)/2^planes and shrinks with n
    assert(candidates < n * (n - 1) / 2, s"candidates=$candidates vs n²=${n * (n - 1)}")
  }

  test("IVF assignment is O(n * nlist) with nlist = o(n); shuffle carries O(n * nprobe)") {
    val emb = sf("sf0.01").embeddings
    val n = emb.count()
    val nc = Similarity.centroidsFor(n)
    // candidate generation is exactly corpus × centroids — with sqrt
    // sizing that is n^1.5-ish, nowhere near the n² of linear sizing
    assert(n.toLong * nc < n * (n - 1) / 8, s"assignment pairs ${n * nc} not o(n²)")
    val idx = Similarity.ivfIndex(emb, emb.where($"vec_id" < nc), "vec_id", "embedding", nprobe = 2)
    try {
      // the ranked assignment that leaves the aggregate is n × nprobe
      // rows — the graft_topk_pairs partial keeps the n × nlist
      // candidate set out of the shuffle entirely
      assert(idx.assignment.count() == n * 2)
      val plan = idx.assignment.queryExecution.executedPlan.toString
      assert(plan.contains("partial_graft_topk_pairs"),
        "assignment ranking must partially aggregate before the shuffle")
      // every vector's home cell is its argmax-cosine centroid
      assert(idx.assignment.where($"rn" === 1).count() == n)
    } finally idx.release()
  }

  test("IVF centroids broadcast by their real size and stop above the threshold") {
    val emb = sf().embeddings.limit(100)
    val cents = sf().embeddings.where($"vec_id" < 16)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def assignPlan(): String = {
      val idx = Similarity.ivfIndex(emb, cents, "vec_id", "embedding")
      val p = idx.assignment.queryExecution.executedPlan.toString
      idx.release(); p
    }
    try {
      assert(assignPlan().contains("BroadcastNestedLoopJoin"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100b")
      assert(!assignPlan().contains("BroadcastNestedLoopJoin"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!assignPlan().contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("crossNearDup: LSH pairs are a subset of exact pairs with equal cosines; no dupes") {
    val emb = sf("sf0.01").embeddings
    val test = emb.where($"vec_id" % 50 === 0)
    val train = emb.where($"vec_id" % 50 =!= 0)
    val exact = Similarity.crossNearDup(test, train, "vec_id", "embedding",
        threshold = 0.3, planes = 0)
      .as[(Long, Long, Double)].collect()
    val exactMap = exact.map { case (q, m, c) => (q, m) -> c }.toMap
    assert(exactMap.size == exact.length) // planes=0 emits each pair once
    assert(exact.nonEmpty)
    val lsh = Similarity.crossNearDup(test, train, "vec_id", "embedding",
        threshold = 0.3, planes = 4)
      .as[(Long, Long, Double)].collect()
    assert(lsh.length == lsh.map(p => (p._1, p._2)).distinct.length) // one probe per pair
    lsh.foreach { case (q, m, c) =>
      assert(exactMap(q -> m) == c) // every LSH pair is an exact pair, same cosine
    }
    // the exact path streams the corpus through a broadcast non-equi
    // join — never a shuffled equi-join on a constant bucket
    val plan = Similarity.crossNearDup(test, train, "vec_id", "embedding", 0.3, planes = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ivfTopK recall vs brute force stays above the floor; kmeans refinement keeps it") {
    val emb = sf("sf0.01").embeddings
    val n = emb.count()
    val nc = Similarity.centroidsFor(n)
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    def recallOf(centroids: org.apache.spark.sql.DataFrame, nprobe: Int,
                 homeCells: Int = 1): Double = {
      val ivf = Similarity.ivfTopK(emb, centroids, "vec_id", "embedding", k = 3,
          nprobe = nprobe, homeCells = homeCells)
        .select("query_id", "match_id").as[(Long, Long)].collect().toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    // hash-spread seeds (not first-nc ids, which inherit id-order
    // clustering); nprobe=2 of 16 cells searches ~1/8 of the corpus
    val seeds = Similarity.hashSeeds(emb, "vec_id", "embedding", nc)
    val seedRecall = recallOf(seeds, nprobe = 2)
    assert(seedRecall >= 0.30, s"seed-centroid recall $seedRecall below floor")
    val refined = Similarity.kmeansRefine(emb, seeds, "vec_id", "embedding", iters = 3)
      .withColumnRenamed("centroid_id", "vec_id").withColumnRenamed("cv", "embedding")
    // the production search setting: Lloyd-refined cells + nprobe=3 +
    // 2-cell multi-assignment — the recall the operator ships with,
    // contract-floored at 0.6
    val refinedRecall = recallOf(refined, nprobe = 3, homeCells = 2)
    val refinedRecall2 = recallOf(refined, nprobe = 2)
    info(s"recall: seeds@2=$seedRecall refined@2=$refinedRecall2 refined@3x2=$refinedRecall")
    assert(refinedRecall2 >= 0.30, s"refined-centroid nprobe=2 recall $refinedRecall2 below floor")
    assert(refinedRecall >= 0.60, s"refined-centroid nprobe=3 recall $refinedRecall below floor")
  }

  test("repeated one-shot ivfTopK calls reuse the session index cache, not accumulate it") {
    // the one-shot overload persists the centroid table + assignment (the
    // in-session index); CacheManager dedups by analyzed plan, so an
    // identical rebuild must map to the SAME cache entries — callers with
    // changing inputs use ivfIndex/release() for an explicit lifecycle
    val emb = sf().embeddings
    val nc = Similarity.centroidsFor(emb.count())
    val seeds = emb.where($"vec_id" < nc)
    Similarity.ivfTopK(emb, seeds, "vec_id", "embedding", k = 3).count()
    val n1 = spark.sparkContext.getPersistentRDDs.size
    Similarity.ivfTopK(emb, seeds, "vec_id", "embedding", k = 3).count()
    val n2 = spark.sparkContext.getPersistentRDDs.size
    // one-directional: getPersistentRDDs is a WEAK-value map, so a GC
    // between the two measurements can legitimately shrink it (observed
    // flaking the strict equality in full-suite runs); the property
    // under test is only that an identical rebuild does not ACCUMULATE
    assert(n2 <= n1, s"identical one-shot rebuild grew the cache ($n1 -> $n2)")
  }

  test("frameSample emits zero rows for payloads shorter than one frame") {
    val df = Seq((1L, "abc"), (2L, "abcdefgh")).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(df, "text", frameLen = 4, stride = 3)
      .select("doc_id", "frame_no").as[(Long, Int)].collect().toSeq
    assert(frames.forall(_._1 == 2L)) // the 3-char doc contributes nothing
    assert(frames.nonEmpty)
  }

  test("Enrich.viaDistinct runs the lookup once per distinct key and joins back") {
    val calls = spark.sparkContext.longAccumulator("lookup-calls")
    val df = Seq(("k1", 1), ("k1", 2), ("k2", 3), ("k1", 4)).toDF("key", "v")
    val out = Enrich.viaDistinct(df, "key",
      StructType(Seq(StructField("upper", StringType)))) { k =>
      calls.add(1); Row(k.toUpperCase)
    }
    val rows = out.select("key", "upper").as[(String, String)].collect()
    assert(rows.length == 4)
    assert(rows.toSet == Set("k1" -> "K1", "k2" -> "K2"))
    assert(calls.value == 2) // once per DISTINCT key, not per row
  }

  test("Enrich.viaDistinct broadcasts by real size and stops above the threshold") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def plan(rows: Int): String = {
      val df = (1 to rows).map(i => (s"key$i", i)).toDF("key", "v")
      Enrich.viaDistinct(df, "key",
        StructType(Seq(StructField("upper", StringType))))(k => Row(k.toUpperCase))
        .queryExecution.executedPlan.toString
    }
    try {
      // dimension-sized dictionary → broadcast join
      assert(plan(50).contains("BroadcastHashJoin"))
      // same dictionary over a tiny threshold → no broadcast, so the
      // dictionary is never collected
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100b")
      assert(!plan(50).contains("BroadcastHashJoin"))
      // "-1" (broadcast disabled) → no broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!plan(50).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Multimodal resize stub stride-samples bytes deterministically") {
    // len 10, max 4 → stride 3 → indices 0,3,6,9
    assert(Multimodal.resizeBytesStub("abcdefghij".getBytes("UTF-8"), 4).toSeq ==
      "adgj".getBytes("UTF-8").toSeq)
    // under the cap: unchanged
    assert(Multimodal.resizeBytesStub("abc".getBytes("UTF-8"), 4).toSeq ==
      "abc".getBytes("UTF-8").toSeq)
    val media = Multimodal.withMedia(Seq((1L, "abcdefghij")).toDF("doc_id", "text"), "text")
    val out = Multimodal.resizePartition(media, "media", "doc_id", maxBytes = 4)
      .select($"doc_id", $"media_resized".cast("string"), $"meta_resized.n_bytes")
      .as[(Long, String, Long)].head()
    assert(out == ((1L, "adgj", 4L)))
  }

  test("Multimodal decodePartition carries features through mapPartitions") {
    val media = Multimodal.withMedia(Seq((1L, "hello world")).toDF("doc_id", "text"), "text")
    val out = Multimodal.decodePartition(media, "media", "doc_id")
    val r = out.select($"doc_id", $"features.checksum").as[(Long, Long)].head()
    assert(r._1 == 1L)
    val expected = Multimodal.decodeBytesStub("hello world".getBytes("UTF-8"))._3
    assert(r._2 == expected)
  }

  test("frameSample emits stride-aligned windows") {
    val df = Seq((1L, "abcdefghij")).toDF("doc_id", "text") // len 10
    val frames = Multimodal.frameSample(df, "text", frameLen = 4, stride = 3)
      .select("frame_no", "frame").as[(Int, String)].collect().toSeq
    assert(frames == Seq((0, "abcd"), (1, "defg"), (2, "ghij")))
  }

  test("BottomK aggregate: distributed merge equals global bottom-k of distinct values") {
    graft.expressions.GraftFunctions.register(spark)
    val df = (1 to 5000).map(i => (i % 3, (i * 2654435761L) % 100000))
      .toDF("g", "v").repartition(8)
    val got = df.groupBy("g")
      .agg(call_function("graft_bottomk", $"v", lit(5)).as("bk"))
      .select($"g", $"bk").as[(Int, Seq[Long])].collect().toMap
    val expect = (1 to 5000).map(i => (i % 3, (i * 2654435761L) % 100000))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.take(5).toSeq).toMap
    assert(got == expect)
  }
}
