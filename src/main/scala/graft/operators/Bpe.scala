package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the "train the tokenizer"
  * job of an LLM data pipeline.
  *
  * Scale shape: classic BPE trains on WORD FREQUENCIES, so the only
  * corpus-scale pass is the word count (one shuffle over the tokenized
  * corpus). The merge loop then runs on the word-frequency table —
  * bounded by distinct-word count, not corpus size — with one small
  * aggregation job per merge round:
  *
  *   1. `explode` each word's adjacent symbol pairs weighted by the
  *      word's corpus count, `groupBy(pair).sum(weight)` (partial agg),
  *      take the top pair (count desc, pair asc — a deterministic total
  *      order, no RNG);
  *   2. apply the merge to every word's symbol array via a SQL
  *      `aggregate` fold (greedy left-to-right: a symbol merges with the
  *      previous output element iff they form the chosen pair — the
  *      last-element check reproduces standard BPE application,
  *      including the "aaa" + (a,a) -> [aa, a] case);
  *   3. `localCheckpoint` the word table per round so the loop's lineage
  *      does not grow (same discipline as [[Graph.connectedComponents]]).
  *
  * The merge table itself is tiny (ranks × 4 columns) and is THE
  * artifact — production tokenizers ship the merge list, not the
  * training corpus.
  *
  * Tokens lowercase via the engine's tokenizer contract; symbols are
  * characters (no explicit end-of-word marker — documented deviation
  * from Sennrich et al.'s `</w>`, which only matters for cross-word
  * frequency sharing of suffixes).
  */
object Bpe {

  private def sqlStr(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Learn `numMerges` merges from the corpus. Returns the merge table:
    * (rank, left, right, merged, pair_count) — rank is 0-based merge
    * order; pair_count is the weighted corpus frequency that won the
    * round. Stops early (shorter table) when no pair occurs twice. */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // the one corpus-scale pass: word frequencies
    var words = docs
      .select(explode(expr(graft.plans.Tokens.whitespaceSql(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(expr("filter(split(w, ''), x -> x <> '')").as("sym"), col("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // adjacent pairs weighted by word count; deterministic winner
      val top = words
        .filter(size(col("sym")) > 1)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(sym) - 1), i -> struct(sym[i-1] AS l, sym[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case Some((l, r, cnt)) if cnt > 1 =>
          val merged = l + r
          merges += ((rank, l, r, merged, cnt))
          // greedy left-to-right application — one native codegen fold
          // per word (graft.plans.BpeMergeFold; the interpreted
          // aggregate-fold stays the BpeSpec reference form)
          words = words
            .withColumn("sym",
              graft.plans.BpeMergeFold.of(col("sym"), Seq((l, r, merged))))
            .localCheckpoint()
          rank += 1
        case _ => exhausted = true
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Apply a learned merge table to text: tokenize, split each token to
    * characters, replay the merges in rank order. Returns the frame with
    * a `bpe_tokens: array<string>` column — the encode side of the
    * tokenizer.
    *
    * The replay is one native codegen fold per token
    * ([[graft.plans.BpeMergeFold]] — the merge table rides along as a
    * per-task array, constant plan depth at any vocabulary size): the
    * same greedy left-to-right rule as training, O(merges × symbols)
    * with an in-place write pointer. The earlier interpreted form — a
    * nested `aggregate` over a `typedlit` merge table — re-allocated
    * the accumulated output array per symbol per merge (O(symbols²)
    * copying, every step an interpreted lambda eval); it stays the
    * BpeSpec differential reference. */
  def encode(docs: DataFrame, textCol: String, merges: DataFrame): DataFrame = {
    val ordered = merges.select("rank", "left", "right", "merged")
      .orderBy("rank")
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    // per token: its character array; the merge fold then runs per token.
    val base = expr(
      s"transform(${graft.plans.Tokens.whitespaceSql(textCol)}, " +
      "w -> filter(split(w, ''), x -> x <> ''))")
    docs.withColumn("bpe_tokens", flatten(transform(base,
      w => graft.plans.BpeMergeFold.of(w, ordered))))
  }
}
