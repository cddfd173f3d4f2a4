package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus deduplication operators — the training-data-pipeline layer.
  *
  * Four strategies, each with a different scale/recall trade-off, all
  * shuffle-bounded (no cross join on the fact side at any point):
  *
  *  - exact:   hash-groupBy on a content key — one shuffle.
  *  - jaccard: shingle-explode inverted-index join — pairs sharing >= 1
  *             shingle meet on a shingle-hash shuffle key; O(postings²)
  *             per shingle instead of O(docs²).
  *  - minhash: MinHash signatures + LSH banding — candidate pairs meet on
  *             a band-key shuffle; recall tunable via (bands, rows).
  *  - simhash: 32-bit SimHash + byte banding — EXACT for hamming <= 3 by
  *             pigeonhole (4 disjoint bytes; <= 3 flipped bits leave one
  *             byte untouched), so no cross join is ever needed.
  */
object Dedup {

  /** Exact dedup: keep one canonical row per content hash (smallest id).
    * Equivalent to the reference's MERGE-by-id latest-wins but keyed on
    * content (SURVEY.md §2.2 K3).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // ONE scan, ONE full-row exchange, ONE sort: rank rows inside each
    // content-hash partition and keep the min-id winner. The previous
    // groupBy + join-back formulation read (and computed) the upstream
    // TWICE and shuffled the full text a second time for the join; a
    // min_by(struct) aggregate was tried and measured SLOWER (complex
    // agg state falls off whole-stage codegen into SortAggregate,
    // copying every row's struct) — the window rank keeps the rows
    // unboxed through codegen.
    // tiebreaker: rows sharing (hash, id) order on a full-row
    // fingerprint, so the keeper is deterministic across runs/retries
    // even when idCol is not unique per text (row_number alone would
    // pick an arbitrary tied row per execution). xxhash64 over every
    // column stays inside whole-stage codegen — only rows already tied
    // on (hash, id) can depend on it, so a 64-bit collision between
    // DISTINCT tied rows (astronomically rare) is the only residue.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__key"))
      .orderBy(col(idCol), xxhash64(df.columns.map(col): _*))
    df.withColumn("__key", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__key", "__rn")
  }

  /** SUB-DOCUMENT (chunk-level) exact dedup — the C4/CCNet move that
    * document-level dedup cannot make: boilerplate repeated INSIDE
    * otherwise-distinct documents (license headers, navigation
    * blocks, quoted passages) survives whole-doc hashing but drowns a
    * training mix. Documents split into fixed `chunkTokens`-token
    * windows (pure column ops — `slice` over the token array, no
    * explode-and-reassemble ordering hazards); each distinct chunk
    * text keeps its FIRST occurrence corpus-wide (smallest
    * (id, chunk_no)) and drops the rest.
    *
    * Output: one row per chunk — (id, chunk_no, chunk, n_tokens,
    * keep) — so callers can both rebuild cleaned documents (filter
    * keep, re-aggregate by position) and audit what was dropped.
    *
    * Scale shape: ONE scan of the chunk pipeline, one exchange on the
    * 128-bit chunk hash, one sort — the keeper is a window rank, so
    * the expensive chunk construction never evaluates twice; at 100 TB
    * the hot boilerplate chunks are exactly the high-frequency hash
    * groups and rank within them in one pass.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    // stage the token array: the window lambda below slices it once
    // per chunk, and lambda bodies re-evaluate free expressions per
    // element — an inlined split() would cost O(chunks × tokens)
    val toked = df.select(col(idCol).as("id"),
      split(col(textCol), " ").as("__toks"))
    val toks = col("__toks")
    val nChunks = (size(toks) + chunkTokens - 1).divide(chunkTokens).cast("int")
    val chunks = toked.select(
      col("id"),
      explode(transform(sequence(lit(0), nChunks - 1), i => struct(
        i.cast("long").as("chunk_no"),
        concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens))).as("chunk")
      ))).as("c"))
      .select(col("id"), col("c.chunk_no"), col("c.chunk"),
        size(split(col("c.chunk"), " ")).as("n_tokens"),
        md5(col("c.chunk")).as("__h"))
    // keeper per distinct chunk text: lexicographically smallest
    // (id, chunk_no) — deterministic across engines and partitionings
    keeperOverChunks(chunks)
  }

  /** CONTENT-DEFINED (rolling-hash) chunking + dedup — the CDC move
    * fixed windows cannot make: [[chunkDedup]]'s 10-token windows miss
    * boilerplate at SHIFTED offsets (a banner inserted mid-document
    * shifts every later window boundary, so an identical passage
    * chunks differently in each document). Here a chunk boundary falls
    * BETWEEN two adjacent tokens whenever the hash of that token
    * 2-gram ≡ 0 (mod `divisor`) — a boundary decision that depends
    * only on LOCAL content, so an identical passage re-chunks
    * identically wherever it sits, and its interior chunks dedup
    * across documents regardless of offset. Expected chunk length ≈
    * `divisor` tokens; no minimum/maximum is imposed (bounds would
    * reintroduce offset dependence).
    *
    * Same plan shape as [[chunkDedup]]: boundaries and slices are pure
    * column ops over the STAGED token array (one scan, no
    * explode-reassemble ordering hazards), keeper by one window rank
    * over the chunk hash. The 2-gram hash is [[TextFns.hash32]]
    * (md5-prefix), so an external engine reproduces the exact
    * boundaries.
    */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    divisor: Int = 16): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2")
    // STAGE each expensive producer as a materialized column BEFORE
    // any lambda references it: lambda bodies re-evaluate their free
    // expressions per element (no subexpression elimination inside
    // higher-order functions), so an inlined split() under the
    // boundary filter costs O(tokens²) per document and an inlined
    // cuts array O(tokens × chunks) — measured 70× at sf0.1 before
    // staging. Multiple references to expensive producers also keep
    // CollapseProject from merging the projections back together.
    val toked = df.select(col(idCol).as("id"),
      split(col(textCol), " ").as("__toks"))
    val toks = col("__toks")
    val n = size(toks)
    // boundary AFTER 1-based token position b (1 <= b < n) when the
    // (tok[b], tok[b+1]) 2-gram hashes to 0 mod divisor
    val bpos = when(n > 1,
      filter(sequence(lit(1), n - 1), b =>
        pmod(TextFns.hash32(concat_ws(" ",
          element_at(toks, b), element_at(toks, b + 1))), lit(divisor)) === 0))
      .otherwise(array().cast("array<int>"))
    val staged = toked.select(col("id"), toks,
      concat(array(lit(0)), bpos, array(n)).as("__cuts"))
    val cuts = col("__cuts")
    // cut offsets frame the chunks: chunk j covers tokens
    // (cuts[j], cuts[j+1]] in 1-based positions
    val chunks = staged.select(
      col("id"),
      explode(transform(sequence(lit(0), size(cuts) - 2), j => struct(
        j.cast("long").as("chunk_no"),
        concat_ws(" ", slice(toks, element_at(cuts, j + 1) + 1,
          element_at(cuts, j + 2) - element_at(cuts, j + 1))).as("chunk")
      ))).as("c"))
      .select(col("id"), col("c.chunk_no"), col("c.chunk"),
        size(split(col("c.chunk"), " ")).as("n_tokens"),
        md5(col("c.chunk")).as("__h"))
    keeperOverChunks(chunks)
  }

  /** NEAR-duplicate passages — the FUZZY tier of sub-document dedup,
    * composing [[cdcChunkDedup]] (content-defined chunks, so an edited
    * passage still chunks identically around the edit) with
    * [[minhashLshPairs]] over the CHUNK corpus: exact-duplicate chunks
    * are screened out first (their pairs are trivially Jaccard 1 and
    * at 100 TB boilerplate would dominate the LSH buckets), tiny
    * chunks below `minTokens` are dropped (their shingle sets are too
    * small to carry signal), and the surviving chunks band on MinHash
    * signatures — candidates are O(collisions), never chunk-pairs.
    *
    * Chunk identity rides ONE long (`doc * maxChunksPerDoc +
    * chunk_no`) through the pair machinery and is unpacked on output:
    * (doc_a, chunk_a, doc_b, chunk_b, jaccard), id_a < id_b order.
    * The packing is GUARDED at runtime: a document with >=
    * maxChunksPerDoc chunks, a negative id, or an id large enough to
    * overflow the long FAILS LOUDLY (raise_error inside the cid
    * projection — no extra pass) instead of silently colliding cids
    * across documents, which would make the downstream anti-join drop
    * innocent chunks of OTHER docs. Expected chunks ≈ tokens/divisor;
    * size maxChunksPerDoc for the corpus's longest document.
    */
  def cdcChunkNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                           divisor: Int = 16, minTokens: Int = 5,
                           k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                           minJaccard: Double = 0.5,
                           maxChunksPerDoc: Int = 128,
                           maxBucket: Long = Long.MaxValue): DataFrame = {
    // materialize the surviving chunk corpus ONCE: downstream it is
    // read twice (band keys + shingle verification), each on top of
    // the two-scan keeper election — inlined, the chunk pipeline would
    // re-run four times (at 100 TB the chunk table would be a
    // persisted intermediate anyway)
    val packOk = col("chunk_no") < maxChunksPerDoc.toLong &&
      col("id") >= 0L && col("id") <= lit(Long.MaxValue / maxChunksPerDoc - 1)
    val cid = when(packOk, col("id") * maxChunksPerDoc + col("chunk_no"))
      .otherwise(raise_error(concat(
        lit(s"cdcChunkNearDupPairs: chunk identity overflow " +
          s"(maxChunksPerDoc=$maxChunksPerDoc): doc "),
        col("id").cast("string"), lit(" chunk "),
        col("chunk_no").cast("string"))).cast("long"))
    val survivors = cdcChunkDedup(df, idCol, textCol, divisor)
      .where(col("keep") && col("n_tokens") >= minTokens)
      .select(cid.as("cid"), col("chunk"))
      .localCheckpoint()
    def doc(c: Column) = floor(c / maxChunksPerDoc).cast("long")
    def no(c: Column) = pmod(c, lit(maxChunksPerDoc.toLong)).cast("long")
    minhashLshPairs(survivors, "cid", "chunk", k, bands, rowsPerBand, minJaccard,
        maxBucket)
      .select(doc(col("id_a")).as("doc_a"), no(col("id_a")).as("chunk_a"),
        doc(col("id_b")).as("doc_b"), no(col("id_b")).as("chunk_b"),
        col("jaccard"))
  }

  /** Shared keeper election for chunk-level dedup: first corpus-wide
    * occurrence (smallest (id, chunk_no)) of each distinct chunk text
    * wins. ONE window rank over the 128-bit hash — one scan of the
    * chunk pipeline (the expensive part), one exchange, one sort; the
    * earlier groupBy+join-back shape evaluated the whole chunk
    * pipeline twice and shuffled it a second time for the join (the
    * same trade measured on Dedup.exact: the window wins).
    */
  private def keeperOverChunks(chunks: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("id"), col("chunk_no"))
    chunks
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id"), col("chunk_no"), col("chunk"), col("n_tokens"),
        col("keep"))
  }

  /** All pairs (a.id < b.id) with shingle-set Jaccard >= minJaccard,
    * via an inverted index: explode distinct shingles, equi-join on the
    * shingle, count co-occurrences = |A∩B|, recover the union from
    * per-doc set sizes. Integer arithmetic until one final division.
    *
    * `maxDocFreq` is the text-skew valve for 100 TB corpora: a shingle
    * appearing in d documents contributes d² join rows, so one
    * boilerplate shingle (a license header line) can dominate the whole
    * shuffle. Capping document frequency drops only those
    * near-zero-information postings — intersections shrink by at most
    * the dropped shingles, so reported Jaccard becomes a lower bound
    * (exact for pairs not sharing any capped shingle). Default ∞ keeps
    * the operator exact.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int, minJaccard: Double,
                   maxDocFreq: Long = Long.MaxValue): DataFrame =
    shinglePairAgg(df, idCol, textCol, k, maxDocFreq)
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Containment near-dups: pairs whose shingle INTERSECTION covers at
    * least `minContainment` of the SMALLER document's shingle set —
    * the asymmetric duplication Jaccard structurally under-scores: a
    * tweet-sized doc quoted whole inside a long article has tiny
    * Jaccard (union ≈ the article) but containment ≈ 1. A corpus dedup
    * that only thresholds Jaccard keeps every such subsumed fragment.
    * Same inverted-index plan as [[jaccardPairs]] (postings equi-join,
    * no cross join, same doc-frequency valve), different final ratio.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int, minContainment: Double,
                       maxDocFreq: Long = Long.MaxValue): DataFrame =
    shinglePairAgg(df, idCol, textCol, k, maxDocFreq)
      .withColumn("containment", col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")

  /** Shared shingle-posting pair aggregate: (id_a, na, id_b, nb, inter)
    * for every co-occurring pair. See [[jaccardPairs]] for the plan
    * rationale comments.
    */
  private def shinglePairAgg(df: DataFrame, idCol: String, textCol: String,
                             k: Int, maxDocFreq: Long): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    // 56-bit shingle hashes as the posting key: same set sizes as the
    // string shingles (distinct is computed on strings), far cheaper to
    // shuffle/compare; collision odds at corpus scale ~2^-30 per pair.
    val sh = df.select(
      col(idCol).as("id"),
      call_function("graft_shingle_hashes", col(textCol), lit(k), lit(14)).as("shingles"))
    // the set size rides each posting (one int beside the id — n is
    // functionally dependent on id, so grouping on both is free) instead
    // of living in a separate sizes table: joining sizes back onto the
    // pair aggregate would re-scan the corpus twice more and shuffle the
    // PRE-threshold pair set through two extra joins
    val allPosting = sh.select(col("id"), size(col("shingles")).as("n"),
      explode(col("shingles")).as("sh"))
    // hot shingles are FEW by definition (at most |postings|/maxDocFreq),
    // so the valve is a partial-aggregated groupBy blocklist + anti-join
    // — NOT a count-over-Window, which would sort every posting within
    // each hash partition just to compute a count, exactly on the skewed
    // corpora the valve exists for. AQE turns the anti join into a
    // broadcast at runtime when the blocklist is as small as expected.
    val posting =
      if (maxDocFreq == Long.MaxValue) allPosting
      else {
        val hot = allPosting.groupBy("sh").agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxDocFreq).select("sh")
        allPosting.join(hot, Seq("sh"), "left_anti")
      }
    // SHUFFLE_HASH self-join: the two sides are the identical subtree
    // shuffled on the same key, so ReuseExchange computes the posting
    // exchange ONCE — the broadcast plan the optimizer picks at small
    // sizes instead evaluates the whole scan+tokenize+hash subtree
    // twice (a broadcast side is rebuilt, not reused), and at corpus
    // scale the posting table never fits a broadcast anyway, so the
    // hinted plan is also the 100 TB plan. No sort (vs sort-merge).
    posting.hint("shuffle_hash").as("a")
      .join(posting.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("a.n").as("na"),
        col("b.id").as("id_b"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Cross-corpus contamination pairs: (left doc, right doc) whose
    * shingle-set Jaccard >= minJaccard, docs compared ACROSS the two
    * corpora only — the train/test decontamination pass of an LLM data
    * pipeline (is an eval document leaked into the training set?).
    * Same inverted-index plan as [[jaccardPairs]]: postings meet on the
    * shingle hash, no corpus cross join.
    */
  def jaccardPairsAcross(left: DataFrame, right: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, minJaccard: Double): DataFrame = {
    graft.expressions.GraftFunctions.register(left.sparkSession)
    def shingled(df: DataFrame) = df.select(
      col(idCol).as("id"),
      call_function("graft_shingle_hashes", col(textCol), lit(k), lit(14)).as("shingles"))
    val la = shingled(left); val rb = shingled(right)
    // sizes ride the postings (see jaccardPairs): no sizes tables, no
    // post-aggregate joins over the pre-threshold pair set
    def posting(df: DataFrame) = df.select(col("id"), size(col("shingles")).as("n"),
      explode(col("shingles")).as("sh"))
    posting(la).as("a")
      .join(posting(rb).as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.id").as("id_a"), col("a.n").as("na"),
        col("b.id").as("id_b"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature columns m0..m{n-1} for a shingle array column:
    * one md5 per shingle, then all n affine derivations in a single
    * native pass (expressions.MinhashSig).
    */
  def minhashSignature(shingles: Column, n: Int): Seq[Column] = {
    val sig = call_function("graft_minhash_sig",
      transform(shingles, s => TextFns.hash32(s)), lit(n))
    (0 until n).map(i => element_at(sig, i + 1).as(s"m$i"))
  }

  /** (id, band-key) rows for LSH banding: MinHash signatures from hashed
    * shingles (one md5 per shingle, native one-pass affine mins), then
    * one row per (doc, band) keyed on the band's row hash. Shingle
    * STRINGS are never materialized here — only candidate pairs that
    * reach exact verification pay for them.
    */
  private def bandedKeys(df: DataFrame, idCol: String, textCol: String, k: Int,
                         bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      call_function("graft_minhash_sig",
        call_function("graft_shingle_hashes", col(textCol), lit(k), lit(8)),
        lit(bands * rowsPerBand)).as("sig"))
    val ms = (0 until bands * rowsPerBand).map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    val sigCols = sig.select(col("id") +: ms: _*)
    val msRef = (0 until bands * rowsPerBand).map(i => col(s"m$i"))
    sigCols.select(col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), TextFns.bandKey(msRef, b, rowsPerBand).as("key"))): _*)).as("bk"))
  }

  /** LSH candidate pairs: docs sharing at least one of `bands` band keys
    * (bands × rowsPerBand = signature length), then verified with exact
    * Jaccard >= minJaccard over the shingle sets. Output matches a naive
    * all-pairs Jaccard join restricted to LSH-reachable pairs.
    *
    * `maxBucket` is the SKEW VALVE for 100 TB corpora: a band bucket
    * holding d members contributes d² candidate rows, so one hot
    * bucket (boilerplate that survives exact dedup with trivial
    * variations) can dominate the whole self-join. Capping the bucket
    * size drops ONLY those buckets, making recall a floor (a dropped
    * pair may still meet in one of its other bands — and a truly hot
    * bucket's members pair at Jaccard ≈ 1 through any of them).
    * Default ∞ keeps the operator exhaustive over LSH-reachable pairs.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
                      bands: Int, rowsPerBand: Int, minJaccard: Double,
                      maxBucket: Long = Long.MaxValue): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val banded0 = bandedKeys(df, idCol, textCol, k, bands, rowsPerBand)
    val banded =
      if (maxBucket == Long.MaxValue) banded0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bk.band"), col("bk.key"))
        banded0.withColumn("__bs", count(lit(1)).over(w))
          .where(col("__bs") <= maxBucket).drop("__bs")
      }
    // SHUFFLE_HASH self-join + ReuseExchange: one evaluation of the
    // banding subtree (scan + minhash signatures) instead of the two a
    // broadcast build would pay — see shinglePairAgg for the rationale
    val cand = banded.hint("shuffle_hash").as("a")
      .join(banded.as("b"),
        col("a.bk.band") === col("b.bk.band") && col("a.bk.key") === col("b.bk.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      // the candidate set feeds THREE consumers (the id restriction
      // below, twice, and the verification join) — materialize the
      // collision-sized pair list once instead of re-running the
      // banded self-join per consumer
      .localCheckpoint()
    // verify ONLY candidate docs: shingle STRINGS are built for the
    // semi-joined candidate ids — O(collisions) docs — never for the
    // whole corpus (which the previous plan re-shingled twice, once
    // per verification join)
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sh = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        TextFns.wordShingles(TextFns.tokens(col(textCol)), k).as("shingles"))
    cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus MinHash+LSH near-dup pairs: (left doc, right doc)
    * sharing a band key and verifying at Jaccard >= minJaccard — the
    * INCREMENTAL ingestion shape (a new batch screened against the
    * standing corpus) where jaccardPairsAcross is the exhaustive one.
    * Both corpora band on the same minhash family, so the candidate
    * step is an equi-join on (band, key): the standing corpus shuffles
    * once on its band keys no matter how small the batch is, and at
    * 100 TB the corpus side's banding would be precomputed and stored,
    * making a nightly batch screen o(batch) new work.
    */
  def minhashLshPairsAcross(left: DataFrame, right: DataFrame,
                            idCol: String, textCol: String, k: Int,
                            bands: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    graft.expressions.GraftFunctions.register(left.sparkSession)
    val cand = bandedKeys(left, idCol, textCol, k, bands, rowsPerBand).as("a")
      .join(bandedKeys(right, idCol, textCol, k, bands, rowsPerBand).as("b"),
        col("a.bk.band") === col("b.bk.band") && col("a.bk.key") === col("b.bk.key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      // collision-sized; three consumers (two id restrictions + the
      // verification join) — materialize once (see minhashLshPairs)
      .localCheckpoint()
    // shingle strings only for candidate docs (semi-join per side) —
    // never for either whole corpus
    def sh(df: DataFrame, ids: DataFrame) = df
      .select(col(idCol).as("id"), col(textCol))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"),
        TextFns.wordShingles(TextFns.tokens(col(textCol)), k).as("shingles"))
    val shL = sh(left, cand.select(col("id_a").as("id")).distinct())
    val shR = sh(right, cand.select(col("id_b").as("id")).distinct())
    cand
      .join(shL.select(col("id").as("id_a"), col("shingles").as("sa")), "id_a")
      .join(shR.select(col("id").as("id_b"), col("shingles").as("sb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Collapse near-dup PAIRS into clusters and pick one survivor per
    * cluster: connected components by min-label propagation PLUS
    * pointer jumping — each round every node adopts the smallest label
    * among its own, its neighbours', and its current canonical's
    * label. The jump halves the remaining label-chain length every
    * round, so convergence is O(log diameter) rounds instead of the
    * O(diameter) of plain propagation — the difference between 5 and
    * 500 rounds on the chain-shaped duplicate graphs that semantic
    * dedup produces (shingle clusters are shallow; embedding-threshold
    * graphs are not). Same fixpoint either way: min label of the
    * connected component, deterministic. Returns (id, canonical_id);
    * rows with canonical_id = id are the survivors.
    */
  def canonicalize(ids: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "id_a", bCol: String = "id_b",
                   maxIter: Int = 20, driverMaxEdges: Long = 1L << 21): DataFrame = {
    // null ids never meet an equi-join key, so they cannot link
    // components in EITHER tier; dropped up front (the driver tier
    // would otherwise have to order null, which Spark's min never does)
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // TIERED, like every size-dependent strategy in Spark (broadcast
    // thresholds, AQE): the edge list is the pair graph, a vanishing
    // fraction of the corpus by construction (near-dups are rare), and
    // BELOW `driverMaxEdges` (~2M directed edges ≈ tens of MB) a driver
    // union-find resolves components in one collect + milliseconds —
    // against O(log d) distributed rounds of 3 jobs each, the loop's
    // scheduling alone costs seconds. ABOVE the threshold the
    // distributed pointer-jumping loop below is the scale path; the
    // fixpoint (min label per component, type-exact ordering) is
    // identical by construction, so the tier is invisible to results.
    // The final labels→ids join is the same broadcast either way.
    // The gate and the collect are ONE job: limit(max+1).collect()
    // returns the complete edge set iff it fits the tier (a result of
    // <= max rows under a max+1 limit is necessarily exhaustive). The
    // edges are cached BEFORE the probe, so the pair pipeline — the
    // expensive part — is evaluated once whichever tier runs: the
    // probe's pass fills the cache the distributed loop reads. (Edges
    // over driver-local rows have no pipeline to save; they cache only
    // for the loop.) A threshold whose max+1 does not fit an Int
    // cannot be probed exhaustively and goes straight to the
    // distributed tier.
    val driverLocal = edges.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    if (!driverLocal) edges.persist()
    if (driverMaxEdges < Int.MaxValue) {
      val probe = edges.limit((driverMaxEdges + 1).toInt).collect()
      if (probe.length <= driverMaxEdges) {
        driverCanonicalize(probe, pairs.schema(aCol).dataType,
          edges.sparkSession) match {
          case Some(labelsDf) =>
            edges.unpersist()
            return ids.select(col(idCol).as("id"))
              .join(labelsDf, Seq("id"), "left")
              .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canonical_id"))
          case None => () // unsupported id type: fall through to the loop
        }
      }
    }
    if (driverLocal) edges.persist()
    // only edge-touched nodes need propagation — a vanishing fraction of
    // the corpus (near-dups are rare by construction); everything else
    // is its own canonical id and never enters the loop
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("canonical_id", col("id")).persist()
    // labels becomes a projection over the cached step below; unpersist
    // must target the cached plan itself, so track it separately
    var cached = labels
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node adopts the smallest canonical label among itself and
      // its neighbours' labels; the previous label rides along so the
      // convergence check needs NO second join/job — one count() both
      // materializes the persisted next AND folds the changed tally
      val viaNeighbor = edges
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "canonical_id" -> "nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nl"))
      val stepped = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("canonical_id").as("__prev"),
          least(col("canonical_id"), coalesce(col("nl"), col("canonical_id"))).as("canonical_id"))
        .persist() // both jump sides read this one cached plan, not two rebuilds
      // pointer jump: adopt the canonical's canonical. Labels cover
      // exactly the edge-touched nodes and every label IS such a node,
      // so the lookup never misses (left + coalesce is belt-and-braces)
      val jumped = stepped.as("x")
        .join(stepped.select(col("id").as("cid"), col("canonical_id").as("cl")).as("p"),
          col("x.canonical_id") === col("p.cid"), "left")
        .select(col("x.id").as("id"), col("x.__prev").as("__prev"),
          least(col("x.canonical_id"), coalesce(col("p.cl"), col("x.canonical_id"))).as("canonical_id"))
      // truncate lineage EVERY round (lazy localCheckpoint: the count
      // below materializes it in the same job). The jump references
      // `stepped` twice, so without per-round truncation the analyzed
      // plan doubles each round and the driver drowns in plan
      // analysis/cache-lookup time (measured: 8 rounds of ~16 s of jobs
      // hiding behind ~110 s of driver overhead at every-3rd cadence);
      // checkpointing each round keeps every plan O(1) — the self-join
      // then reads a two-node RDD-leaf plan, not a doubling tree
      val next = jumped.localCheckpoint(false)
      converged = next.where(col("canonical_id") =!= col("__prev")).count() == 0
      stepped.unpersist()
      cached.unpersist()
      cached = next
      labels = next.select("id", "canonical_id")
      i += 1
    }
    edges.unpersist()
    // no broadcast hint: Catalyst broadcasts when the cluster table is
    // small (the usual case) and falls back to SMJ when it isn't
    ids.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }

  /** Driver union-find over a collected edge list: the small-graph
    * tier of [[canonicalize]]. Returns (id, canonical_id) for every
    * edge-touched node with canonical = MIN id of the component under
    * the SAME ordering Spark's `min` would use (natural for integral
    * ids, UTF8String binary for strings — `String.compareTo`'s UTF-16
    * order differs beyond the BMP, so strings compare through
    * UTF8String). None when the id type has no such ordering here —
    * the caller then runs the distributed loop, which needs no
    * driver-side ordering at all.
    */
  private def driverCanonicalize(rows: Array[Row],
                                 idType: org.apache.spark.sql.types.DataType,
                                 spark: org.apache.spark.sql.SparkSession)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val ord: Ordering[Any] = idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Ordering.by[Any, Long](v => v.asInstanceOf[Number].longValue())
      case StringType =>
        Ordering.comparatorToOrdering(
          (a: Any, b: Any) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String])))
      case _ => return None
    }
    val index = new java.util.HashMap[Any, Integer]()
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def ix(v: Any): Int = {
      val e = index.get(v)
      if (e != null) e.intValue()
      else { index.put(v, values.size); values += v; parent += values.size - 1; values.size - 1 }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (a, b) = (find(ix(r.get(0))), find(ix(r.get(1))))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // min VALUE per component root (root index order ≠ value order)
    val minOf = new java.util.HashMap[Int, Any]()
    values.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(values(i), cur)) minOf.put(r, values(i))
    }
    val out: Seq[Row] = values.indices.map(i => Row(values(i), minOf.get(find(i))))
    val schema = StructType(Seq(
      StructField("id", idType), StructField("canonical_id", idType)))
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema))
  }

  /** Near-dup pairs at hamming distance <= maxHamming over 32-bit SimHash.
    * Exact (not approximate) for maxHamming <= 3: the 4 byte-bands are
    * disjoint, so <= 3 bit flips leave at least one band equal and every
    * qualifying pair meets in the band join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "byte banding is only exact for hamming <= 3")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val sig = df.select(col(idCol).as("id"),
      TextFns.simhashText(col(textCol)).as("sim"))
    val banded = sig.select(col("id"), col("sim"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("sim"), 8 * b).bitwiseAND(255).as("key"))): _*)).as("bk"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk.band") === col("b.bk.band") && col("a.bk.key") === col("b.bk.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental connected components — merge NEW edges into an existing
    * labeling without re-propagating the standing corpus: contract each
    * new edge's endpoints to their current canonical labels (new ids
    * label themselves), run the propagation loop on that LABEL graph —
    * components-touched-sized, not corpus-sized — and remap. Components
    * no new edge touches keep their labels bit-for-bit; canonical = min
    * id survives contraction because the min of sub-component minima is
    * the global minimum, so the result is IDENTICAL to a full recompute
    * over (old edges ∪ new edges) — q109 proves it against the same
    * recursive-CTE oracle as q44, and the nightly-ingest story
    * (ivfAppend, minhashLshPairsAcross, this) composes: screen the
    * batch, find its pairs, fold them into yesterday's labels.
    *
    * `labels` must cover every pre-existing id ((id, canonical_id),
    * e.g. canonicalize's output); new ids appearing only in `newPairs`
    * are picked up automatically.
    */
  def canonicalizeIncremental(labels: DataFrame, newPairs: DataFrame,
                              aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val la = labels.withColumnsRenamed(Map("id" -> aCol, "canonical_id" -> "__ca"))
    val lb = labels.withColumnsRenamed(Map("id" -> bCol, "canonical_id" -> "__cb"))
    // lift new edges to the canonical-label graph (unknown ids = themselves)
    val lifted = newPairs
      .join(la, Seq(aCol), "left").join(lb, Seq(bCol), "left")
      .select(coalesce(col("__ca"), col(aCol)).as(aCol),
        coalesce(col("__cb"), col(bCol)).as(bCol))
      .where(col(aCol) =!= col(bCol))
      .distinct()
    val newIds = newPairs.select(col(aCol).as("id"))
      .unionByName(newPairs.select(col(bCol).as("id")))
      .distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
    val universe = labels.select(col("canonical_id").as("id")).distinct()
      .unionByName(newIds).distinct()
    // simultaneous select, not withColumnsRenamed: a sequential rename
    // map whose target collides with the other source name renames both
    val relabel = canonicalize(universe, "id", lifted)
      .select(col("id").as("canonical_id"), col("canonical_id").as("__final"))
    labels.unionByName(newIds.withColumn("canonical_id", col("id")))
      .join(relabel, Seq("canonical_id"), "left")
      .select(col("id"), coalesce(col("__final"), col("canonical_id")).as("canonical_id"))
  }
}
