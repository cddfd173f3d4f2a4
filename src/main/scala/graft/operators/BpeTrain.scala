package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — learning the merge table FROM
  * the corpus, the step the pinned-table apply
  * ([[graft.expressions.BpeTokens]]) consumes. Classic algorithm
  * (Sennrich et al.'s subword-nmt formulation): train on the WORD-TYPE
  * frequency table (vocabulary-sized, never corpus-sized — the one
  * aggregation that touches all 100 TB happens once, up front); each
  * round counts adjacent symbol pairs weighted by word frequency,
  * picks the most frequent (ties broken by pair text, so the result is
  * deterministic across engines and partitionings), and merges its
  * occurrences left-to-right non-overlapping in every word type.
  *
  * Tie-break ordering caveat: Spark's string ORDER BY and DuckDB's
  * both compare UTF-8 bytes, so the cross-engine determinism claim is
  * exact for any input. A JVM-side reference that compares with
  * `String.compareTo` (UTF-16 code units) orders SUPPLEMENTARY-PLANE
  * characters differently (surrogates sort below some BMP chars that
  * UTF-8 orders first) — compare tie keys as UTF-8 byte sequences (or
  * stay BMP-only) when adding reference implementations.
  *
  * Scale shape: per round, ONE aggregation over the checkpointed
  * word-type table plus a 1-row argmax collect — the driver holds only
  * the merge table itself (nMerges rows). The merge application is a
  * single `aggregate` fold per word type (the accumulator is a bound
  * lambda variable, so there is no per-element re-evaluation), and the
  * vocabulary is re-checkpointed per round to keep the plan flat.
  *
  * State is maintained INCREMENTALLY (round k applies only merge k to
  * the round k-1 state). This is deliberate: re-tokenizing from
  * scratch per round by greedy rank-order apply is NOT always
  * equivalent — a later merge can build a symbol string that makes an
  * EARLIER-ranked pair newly adjacent, which greedy re-apply would
  * merge but incremental training never revisits. The DuckDB oracle
  * replays the same incremental rounds.
  */
object BpeTrain {

  /** Learn `nMerges` merges; returns the table as (rank, pair) rows,
    * rank 1-based in learning order, pair = "left right".
    */
  def train(df: DataFrame, textCol: String, nMerges: Int): DataFrame =
    trainState(df, textCol, nMerges)._1

  /** [[train]], also returning the final tokenized VOCABULARY state
    * (w, cnt, syms) — the word-type table with each type's learned
    * subword split, ready to join corpus words against (token
    * accounting, packing, budget queries under the LEARNED tokenizer
    * without re-running the merge loop per row).
    */
  def trainState(df: DataFrame, textCol: String,
                 nMerges: Int): (DataFrame, DataFrame) = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = Materialize(df
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"))).df
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var exhausted = false
    while (out.size < nMerges && !exhausted) {
      // adjacent pairs of the current state, frequency-weighted;
      // sequence(1, 0) counts DOWN, so single-symbol words are guarded
      val top = vocab.select(col("cnt"), explode(
          when(size(col("syms")) > 1,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => concat_ws(" ", element_at(col("syms"), i),
                element_at(col("syms"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("p"))
        .groupBy("p").agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("p").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        out += (((out.size + 1).toLong, pair))
        val Array(a, b) = pair.split(" ", 2)
        // left-to-right non-overlapping sweep: fold each symbol onto
        // the accumulator, merging when (last(acc), s) is the pair —
        // a merge can only create LONGER symbols, so it never forms a
        // new occurrence of the same pair to its left
        val merged = aggregate(col("syms"), array().cast("array<string>"),
          (acc, s) => when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(element_at(acc, -1), s))))
            .otherwise(concat(acc, array(s))))
        vocab = Materialize(vocab.select(col("w"), col("cnt"), merged.as("syms"))).df
      }
    }
    (spark.createDataset(out.toSeq).toDF("rank", "pair"), vocab)
  }
}
