package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{BpeMergeFold, ConstTable}

/** Byte-pair-encoding vocabulary induction — the "train the tokenizer"
  * job of an LLM data pipeline.
  *
  * Scale shape: classic BPE trains on WORD FREQUENCIES, so the only
  * corpus-scale pass is the word count (one shuffle over the tokenized
  * corpus). The merge loop then runs on the word-frequency table —
  * bounded by distinct-word count, not corpus size — held once as an
  * RDD of (symbols, count), with exactly one Spark job per merge round
  * and no DataFrame planned inside the loop:
  *
  *   1. each partition sums its words' adjacent symbol pairs, weighted
  *      by the word's corpus count, into one hash map; `treeAggregate`
  *      merges the partial maps into the driver (one stage at a few
  *      partitions, a bounded fan-in at many). Driver memory is bounded
  *      by distinct pairs × partitions, not by the corpus. The driver
  *      takes the top pair (count desc, left asc, right asc in Spark's
  *      binary string order — a deterministic total order, no RNG);
  *   2. the merge is mapped lazily over every word's symbol array with
  *      the native [[graft.plans.BpeMergeFold]] kernel (greedy
  *      left-to-right: a symbol merges with the previous output element
  *      iff they form the chosen pair — the last-element check
  *      reproduces standard BPE application, including the "aaa" +
  *      (a,a) -> [aa, a] case); the next round's counting job computes
  *      it, and no map follows the last round;
  *   3. each round's word table is a lazy RDD [[Materialize]], so the
  *      counting job stores it and truncates the loop's lineage without
  *      a job of its own.
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

  private type Word = (Array[UTF8String], Long)
  /** Pair → count, the count in a one-slot array so that an update is
    * one lookup and boxes nothing. */
  private type PairCounts = mutable.HashMap[(UTF8String, UTF8String), Array[Long]]

  /** Learn `numMerges` merges from the corpus. Returns the merge table:
    * (rank, left, right, merged, pair_count) — rank is 0-based merge
    * order; pair_count is the weighted corpus frequency that won the
    * round. Stops early (shorter table) when no pair occurs twice. */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // the one corpus-scale pass: word frequencies
    val counted = docs
      .select(explode(expr(graft.plans.Tokens.whitespaceSql(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(expr("filter(split(w, ''), x -> x <> '')").as("sym"), col("n"))
    var words: RDD[Word] = Materialize(counted.queryExecution.toRdd.map { row =>
      // rows and their strings are reused buffers: copy each symbol
      val sym = row.getArray(0)
      (Array.tabulate(sym.numElements())(i => sym.getUTF8String(i).clone()), row.getLong(1))
    })
    val merges = mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // the round's one job: per-partition pair counts, merged at the driver
      val pairs = words.treeAggregate(new PairCounts)(addPairs, mergeCounts)
      best(pairs) match {
        case Some(((l, r), cnt)) if cnt > 1 =>
          val merged = UTF8String.concat(l, r)
          merges += ((merges.size, l.toString, r.toString, merged.toString, cnt))
          if (merges.size < numMerges) {
            val table = new ConstTable(s"$l+$r=$merged", Array(Array(l, r, merged)))
            words = Materialize(words.map { case (sym, n) =>
              val out = BpeMergeFold.fold(new GenericArrayData(sym.asInstanceOf[Array[Any]]), table)
              // a word the merge left alone keeps its array, shared by the rounds
              if (out.numElements() == sym.length) (sym, n)
              else (out.array.map(_.asInstanceOf[UTF8String]), n)
            })
          }
        case _ => exhausted = true
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  private def addPairs(acc: PairCounts, word: Word): PairCounts = {
    val (sym, n) = word
    var i = 1
    while (i < sym.length) {
      acc.getOrElseUpdate((sym(i - 1), sym(i)), new Array[Long](1))(0) += n
      i += 1
    }
    acc
  }

  private def mergeCounts(a: PairCounts, b: PairCounts): PairCounts = {
    val (into, from) = if (a.size >= b.size) (a, b) else (b, a)
    from.foreach { case (pair, n) => into.getOrElseUpdate(pair, new Array[Long](1))(0) += n(0) }
    into
  }

  /** The round's winner: count descending, then left, then right
    * ascending in Spark's binary (UTF-8 byte) string order. */
  private def best(pairs: PairCounts): Option[((UTF8String, UTF8String), Long)] =
    pairs.iterator.map { case (pair, n) => (pair, n(0)) }.reduceOption { (a, b) =>
      val ((al, ar), an) = a
      val ((bl, br), bn) = b
      val c = if (an != bn) java.lang.Long.compare(bn, an)
              else if (al != bl) al.binaryCompare(bl)
              else ar.binaryCompare(br)
      if (c <= 0) a else b
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
