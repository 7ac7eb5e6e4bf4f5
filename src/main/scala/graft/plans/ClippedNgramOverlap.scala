package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `clipped_ngram_overlap`: BLEU-style clipped n-gram overlap between
  * two token arrays — Σ over distinct candidate n-grams g of
  * min(count_cand(g), count_ref(g)), with n-grams rendered exactly as the
  * HOF reference form renders them (adjacent tokens joined by the chr(1)
  * separator), so the count is bit-identical to the
  * `aggregate(transform(array_distinct(cand), …))` chain it replaces in
  * [[graft.operators.Eval.bleu2]] (that chain stays the reference
  * implementation in tests).
  *
  * Why it exists: the HOF form is O(|distinct| · (|cand| + |ref|)) per
  * row — for every distinct candidate gram it re-scans BOTH arrays with
  * interpreted `filter` lambdas, which made the per-row cost quadratic in
  * document length (q284 at sf0.1: ~8 s, almost all in this count). A
  * hash-counting pass is O(|cand| + |ref|): count the reference grams
  * into a map, then walk the candidate grams decrementing budgets —
  * identical value, linear work (the [[TokenLcs]] / [[CosineSimilarity]]
  * discipline: per-row text math belongs in one codegen'd static call).
  *
  * Null contract: null if either array is null. Null ELEMENTS follow the
  * HOF form: a null token (or a bigram containing one — SQL `concat`
  * null-propagates) never matches anything and contributes 0.
  */
object ClippedNgramOverlap {

  /** `clipped_ngram_overlap(cand, ref, n)` — candidate tokens first (the
    * side whose distinct grams are clipped), reference second. */
  def of(cand: Column, ref: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, s"clipped_ngram_overlap: n must be in [1,8], got $n")
    NativeFunctions("clipped_ngram_overlap")(cand, ref, lit(n))
  }

  // the HOF reference's bigram joint: chr(1), outside the whitespace-token
  // alphabet — n-gram equality below is equality of these joined strings,
  // exactly as the SQL transform renders them
  private val Sep = UTF8String.fromString("\u0001")

  /** n-grams of one side as separator-joined strings; a null token makes
    * its gram null (SQL concat semantics), returned as null entries. */
  private def grams(arr: ArrayData, n: Int): Array[UTF8String] = {
    val len = arr.numElements()
    if (len < n) return Array.empty
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    if (n == 1) return toks
    val out = new Array[UTF8String](len - n + 1)
    i = 0
    while (i < out.length) {
      var nullGram = false
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        if (toks(i + j) == null) nullGram = true
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = Sep
        j += 1
      }
      out(i) = if (nullGram) null else UTF8String.concat(parts: _*)
      i += 1
    }
    out
  }

  /** Kernel: Σ_g min(count_cand(g),
    * count_ref(g)) over the n-grams of the two token arrays. */
  def overlap(cand: ArrayData, ref: ArrayData, n: Int): Long = {
    val cg = grams(cand, n)
    if (cg.length == 0) return 0L
    val rg = grams(ref, n)
    if (rg.length == 0) return 0L
    // reference gram budgets
    val budget = new java.util.HashMap[UTF8String, Integer](rg.length * 2)
    var i = 0
    while (i < rg.length) {
      val g = rg(i)
      if (g != null) {
        val c = budget.get(g)
        budget.put(g, if (c == null) 1 else c.intValue() + 1)
      }
      i += 1
    }
    // walk candidate grams, consuming budget: Σ_g min(c_cand, c_ref)
    var matched = 0L
    i = 0
    while (i < cg.length) {
      val g = cg(i)
      if (g != null) {
        val c = budget.get(g)
        if (c != null && c.intValue() > 0) {
          matched += 1L
          budget.put(g, c.intValue() - 1)
        }
      }
      i += 1
    }
    matched
  }
}
