package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Native `token_lcs`: token-level longest common subsequence
  * length — the DP primitive under ROUGE-L (generation eval) that no
  * built-in expresses (`levenshtein` is char-level and distance-shaped;
  * ROUGE needs the ORDER-PRESERVING shared token count).
  *
  * Tokenization is the engine's lowercase-whitespace contract, applied
  * INSIDE the kernel so both sides see identical tokens regardless
  * of caller casing. The DP is the classic O(n·m) two-rolling-rows
  * recurrence — small integer arithmetic on interned token ids (each
  * side's tokens map to ints first, so the inner loop compares ints,
  * not strings). Designed for SHORT texts (sentences/documents up to a
  * few thousand tokens — the [[JaroWinkler]] scalar-gate envelope); a
  * guard caps n·m at 10^8 cells and fails fast with the chunk-first
  * remedy rather than letting one row burn a task for minutes.
  *
  * Execution shape: whole-stage codegen emits ONE static call (the
  * [[JaroWinkler]] trade — inlining the DP would
  * bloat generated methods past JIT limits). The rolling rows are
  * thread-local and grown geometrically: zero steady-state allocation.
  *
  * Null contract: null if either side is null; empty/whitespace-only
  * text has zero tokens → LCS 0.
  */
object TokenLcs {

  /** `token_lcs(a, b)` — LCS length over lowercase-whitespace tokens. */
  def tokenLcs(a: Column, b: Column): Column =
    NativeFunctions("token_lcs")(a, b)

  private val MaxCells = 100000000L

  // per-thread rolling DP rows, grown geometrically
  private val scratch = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](512)
  }

  private def tokensOf(s: String): Array[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Kernel. */
  def lcs(ua: UTF8String, ub: UTF8String): Long = {
    val a = tokensOf(ua.toString)
    val b = tokensOf(ub.toString)
    if (a.length == 0 || b.length == 0) return 0L
    if (a.length.toLong * b.length > MaxCells)
      throw new IllegalArgumentException(
        s"token_lcs: ${a.length} x ${b.length} tokens exceeds the " +
          s"$MaxCells-cell DP envelope — ROUGE-L is a sentence/document " +
          "metric; chunk the texts first")
    // intern tokens of the shorter side, map the longer side to ids
    // (int compares in the hot loop); unseen tokens can never match
    val (sh, lo) = if (a.length <= b.length) (a, b) else (b, a)
    val dict = new java.util.HashMap[String, Integer](sh.length * 2)
    var i = 0
    while (i < sh.length) {
      if (!dict.containsKey(sh(i))) dict.put(sh(i), dict.size())
      i += 1
    }
    val shIds = sh.map(t => dict.get(t).intValue())
    val loIds = lo.map { t =>
      val v = dict.get(t); if (v == null) -1 else v.intValue()
    }
    val width = sh.length + 1
    var rows = scratch.get()
    if (rows.length < 2 * width) {
      rows = new Array[Int](Integer.highestOneBit(2 * width) * 2)
      scratch.set(rows)
    } else java.util.Arrays.fill(rows, 0, 2 * width, 0)
    // rows[0, width) = previous DP row; rows[width, 2*width) = current
    var r = 0
    while (r < loIds.length) {
      val cur = loIds(r)
      var c = 0
      while (c < sh.length) {
        rows(width + c + 1) =
          if (cur >= 0 && cur == shIds(c)) rows(c) + 1
          else math.max(rows(c + 1), rows(width + c))
        c += 1
      }
      System.arraycopy(rows, width, rows, 0, width)
      r += 1
    }
    rows(width - 1).toLong
  }
}
