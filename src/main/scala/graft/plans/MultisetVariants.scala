package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `multiset_variant_keys`: the sorted-char-multiset deletion
  * variants of [[graft.operators.JwJoin.multisetKeys]], up to depth
  * d ≤ 2, as the same flat strings the HOF chain rendered —
  * `"<depth digit><deleted chars><variant>"` over the CHAR-SORTED
  * string, depth-1 by deleted position i, depth-2 by canonical i < j
  * (that HOF chain stays the reference implementation in JwJoinSpec).
  *
  * Why it exists: the HOF form built 1 + n + n(n−1)/2 strings per rep
  * through interpreted nested `transform` lambdas (≈190 interpreted
  * concat-of-substr trees per 18-char name) — measured 3.4 s of
  * q274's 6.4 s sf0.1 wall in the variant explode alone. One codegen'd
  * static call builds the same strings with two StringBuilder passes.
  * The char sort folds in (UTF-8 byte order == code-point order, so
  * the `array_sort`-of-1-char-strings order is reproduced exactly by a
  * numeric code-point sort); all indexing is code-point-based, exactly
  * like SQL `substr` on UTF8String.
  *
  * Null contract: null in → null out; the empty string yields just its
  * depth-0 variant ["0"]. */
object MultisetVariantKeys {

  /** `multiset_variant_keys(s, d)` — sorted-multiset deletion variants
    * of the raw string `s` (sorting happens inside). */
  def of(s: Column, d: Int): Column = {
    require(d >= 0 && d <= 2,
      s"multiset_variant_keys: depth must be in [0,2], got $d")
    NativeFunctions("multiset_variant_keys")(s, lit(d))
  }

  /** Kernel. */
  def variants(us: UTF8String, d: Int): GenericArrayData = {
    // code-point array, sorted ascending — identical order to
    // array_sort over 1-char UTF8Strings (UTF-8 is order-preserving)
    val cps = us.toString.codePoints().toArray
    java.util.Arrays.sort(cps)
    val n = cps.length
    val count = 1 + (if (d >= 1) n else 0) +
      (if (d >= 2 && n >= 2) n * (n - 1) / 2 else 0)
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder(n + 3)
    def render(): UTF8String = UTF8String.fromString(sb.toString)
    // depth 0: "0" + sorted
    sb.append('0')
    var i = 0
    while (i < n) { sb.appendCodePoint(cps(i)); i += 1 }
    out(0) = render()
    var k = 1
    if (d >= 1) {
      // depth 1: "1" + deleted char + sorted-without-i
      i = 0
      while (i < n) {
        sb.setLength(0)
        sb.append('1').appendCodePoint(cps(i))
        var p = 0
        while (p < n) { if (p != i) sb.appendCodePoint(cps(p)); p += 1 }
        out(k) = render(); k += 1
        i += 1
      }
    }
    if (d >= 2 && n >= 2) {
      // depth 2: "2" + deleted pair (i < j, canonical on the sorted
      // string) + sorted-without-both
      i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) {
          sb.setLength(0)
          sb.append('2').appendCodePoint(cps(i)).appendCodePoint(cps(j))
          var p = 0
          while (p < n) {
            if (p != i && p != j) sb.appendCodePoint(cps(p)); p += 1
          }
          out(k) = render(); k += 1
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}
