package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `ordered_deletion_variants`: the ORDER-PRESERVING deletion
  * neighborhood of `graft.HofReference.deletionVariants` (src/test) —
  * every string reachable by ≤ d single-character deletions, original
  * included, duplicates collapsed keep-first, in exactly the order the
  * HOF chain (`array_distinct(concat(v, flatten(transform(v,
  * deletions))))` per depth) emits them (that chain stays the reference
  * implementation in EditDistanceSpec).
  *
  * The [[MultisetVariantKeys]] sibling for the SymSpell family: where
  * the JW threshold join sorts characters first (multiset semantics),
  * Levenshtein candidates need POSITIONS preserved. Why it exists: the
  * HOF form evaluates 1 + n + … interpreted concat-of-substr lambdas
  * per row and its Catalyst tree doubles per depth; one codegen'd
  * static call builds the same strings with UTF8String.substring
  * (bit-identical to SQL `substr` — code-point indexed) and a
  * keep-first LinkedHashSet.
  *
  * Null contract: null in → null out; "" → [""] at any depth (deleting
  * from the empty string adds nothing).
  */
object OrderedDeletionVariants {

  def of(s: Column, d: Int): Column = {
    require(d >= 0 && d <= 3,
      s"ordered_deletion_variants: depth must be in [0,3], got $d")
    NativeFunctions("ordered_deletion_variants")(s, lit(d))
  }

  /** Kernel: breadth-first closure, the
    * HOF's append order (previous level's survivors in order, then each
    * one's deletions left-to-right), keep-first dedup. */
  def variants(us: UTF8String, d: Int): GenericArrayData = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    seen.add(us)
    var depth = 0
    while (depth < d) {
      // snapshot: the HOF generates deletions of EVERY accumulated
      // variant each round (re-deleting earlier levels only re-produces
      // seen strings — the set absorbs them, order unchanged)
      val snapshot = seen.toArray(new Array[UTF8String](seen.size))
      var s = 0
      while (s < snapshot.length) {
        val v = snapshot(s)
        val n = v.numChars()
        var i = 0
        while (i < n) {
          // SQL substr semantics: UTF8String.substring is code-point
          // indexed, 0-based, until-exclusive
          seen.add(UTF8String.concat(v.substring(0, i), v.substring(i + 1, n)))
          i += 1
        }
        s += 1
      }
      depth += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }
}
