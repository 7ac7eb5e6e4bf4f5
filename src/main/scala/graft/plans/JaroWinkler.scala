package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Native `jaro_similarity` / `jaro_winkler`: Jaro (and Jaro-Winkler)
  * string similarity — the record-linkage gate Spark lacks
  * (`levenshtein` is its only built-in edit metric, and absolute edit
  * distance misranks short strings: one edit in 4 chars ≠ one edit in
  * 40).
  *
  * Definition (the classic one, matching DuckDB/RapidFuzz so results
  * are SQL-oracle-able): match window ⌊max(|a|,|b|)/2⌋−1, m matching
  * chars, t = half the transpositions,
  * J = (m/|a| + m/|b| + (m−t)/m)/3 (0 when m = 0, and 0 when either
  * string is empty — the engines' convention, not 1); Winkler boost
  * applies ONLY when J > 0.7: JW = J + 0.1·ℓ·(1−J) with ℓ = common
  * prefix capped at 4. Comparison is over UTF-16 code units,
  * case-sensitive — identical to byte-based engines on ASCII (the
  * linkage domain); document non-ASCII expectations before relying on
  * exact cross-engine equality there.
  *
  * Execution shape: whole-stage codegen emits ONE call into the static
  * [[JaroWinkler.sim]] (a JIT-compiled scratch-array loop — inlining
  * the whole DP into generated Java would only bloat the method past
  * JIT limits, the same trade Spark's own regexp expressions make).
  * The per-call scratch arrays are thread-local and grown
  * geometrically, so the hot loop allocates nothing at steady state.
  *
  * Scale note: this is a SCALAR gate, evaluated per candidate pair —
  * at corpus scale generate candidates with a blocked join first
  * ([[graft.operators.EditDistance.levenshteinSelfJoin]] /
  * [[graft.operators.SetSimJoin]]); all-pairs × this function is the
  * documented anti-pattern.
  *
  * Null contract: null if either side is null.
  */
object JaroWinkler {

  /** `jaro(a, b)` — plain Jaro similarity in [0, 1]. */
  def jaro(a: Column, b: Column): Column =
    NativeFunctions("jaro_similarity")(a, b)

  /** `jaro_winkler(a, b)` — prefix-boosted (ℓ ≤ 4, p = 0.1, boost
    * threshold 0.7). */
  def jaroWinkler(a: Column, b: Column): Column =
    NativeFunctions("jaro_winkler")(a, b)

  // Per-thread scratch (match flags for both strings), grown
  // geometrically — zero steady-state allocation in the codegen hot loop.
  private val scratch = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](256)
  }

  /** Kernel. Public because generated Java lives outside this package. */
  def sim(ua: UTF8String, ub: UTF8String, winkler: Boolean): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    var flags = scratch.get()
    if (flags.length < la + lb) {
      flags = new Array[Boolean](Integer.highestOneBit(la + lb) * 2)
      scratch.set(flags)
    } else java.util.Arrays.fill(flags, 0, la + lb, false)
    // flags[0, la) = matched in a; flags[la, la+lb) = matched in b
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!flags(la + j) && a.charAt(i) == b.charAt(j)) {
          flags(i) = true
          flags(la + j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk matched chars of both strings in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (flags(i)) {
        while (!flags(la + j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val half = t / 2
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - half) / md) / 3.0
    if (!winkler || jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + 0.1 * l * (1.0 - jaro)
  }
}
