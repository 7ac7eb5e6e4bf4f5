package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `distinct_ngram_count`: the number of DISTINCT n-grams of a token
  * array, n-grams rendered exactly as
  * [[graft.operators.Quality.repetitionSignals]] renders them
  * (`concat_ws(" ", slice(tokens, i, n))` — space-joined adjacent
  * tokens, null tokens skipped by concat_ws semantics), so
  * `1 − distinct/total` computed from it is bit-identical to the
  * operator's shuffled `dup_ngram_frac` (pinned by a CurationSpec
  * differential test).
  *
  * Why it exists: [[graft.pipelines.Curation]]'s repetition gate only
  * needs the per-document fraction, but routing it through the operator
  * costs two doc-keyed shuffles plus a semi-join whose probe side
  * re-plans AND re-executes every pipeline stage above the gate (the
  * one-lazy-plan self-join trade). A per-row count keeps the pipeline
  * one narrow pass — and the interpreted-HOF form of the same idea
  * (`array_distinct(transform(sequence…))`) measured 5× SLOWER than the
  * shuffle it replaced, so this is a codegen'd single hash-set pass
  * (the [[ClippedNgramOverlap]] / [[TokenLcs]] discipline).
  *
  * Null contract: null array → null; arrays shorter than n count 0.
  */
object DistinctNgramCount {

  def of(tokens: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, s"distinct_ngram_count: n must be in [1,8], got $n")
    NativeFunctions("distinct_ngram_count")(tokens, lit(n))
  }

  private val Space = UTF8String.fromString(" ")

  /** Kernel. */
  def count(arr: ArrayData, n: Int): Long = {
    val len = arr.numElements()
    if (len < n) return 0L
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String]((len - n + 1) * 2)
    i = 0
    while (i <= len - n) {
      if (n == 1) {
        // concat_ws of a single null token renders "" — match it
        seen.add(if (toks(i) == null) UTF8String.EMPTY_UTF8 else toks(i))
      } else {
        // concat_ws(" ", …) skips null positions: join the non-null
        // tokens of the window with single spaces
        var nonNull = 0
        var j = 0
        while (j < n) { if (toks(i + j) != null) nonNull += 1; j += 1 }
        val parts = new Array[UTF8String](math.max(2 * nonNull - 1, 1))
        var p = 0
        j = 0
        while (j < n) {
          val t = toks(i + j)
          if (t != null) {
            if (p > 0) { parts(p) = Space; p += 1 }
            parts(p) = t; p += 1
          }
          j += 1
        }
        seen.add(
          if (nonNull == 0) UTF8String.EMPTY_UTF8
          else UTF8String.concat(parts.take(p): _*))
      }
      i += 1
    }
    seen.size.toLong
  }
}
