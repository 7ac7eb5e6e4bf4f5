package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native `squared_l2(a, b)`: squared euclidean (L2²) distance between
  * two numeric arrays, accumulated in double over array order.
  *
  * The k-means assignment primitive: cluster assignment scores every
  * corpus vector against every centroid (corpus × k evaluations), which
  * makes this THE hot loop of distributed clustering — the same argument
  * as [[CosineSimilarity]] applies, so it runs as one primitive loop
  * inside the enclosing whole-stage codegen. Squared (not rooted) on
  * purpose: argmin is invariant under sqrt and the root costs a
  * transcendental per evaluation.
  *
  * Null contract: null if either input is null, if lengths differ, or if
  * an element is null.
  */
object SquaredL2 {
  /** Column-level entry point: `squared_l2(a, b)`. */
  def apply(a: Column, b: Column): Column =
    NativeFunctions("squared_l2")(a, b)

  /** Kernel; `aFloat`/`bFloat` give each array's element type. */
  def distance(xs: ArrayData, ys: ArrayData, aFloat: Boolean,
               bFloat: Boolean): java.lang.Double = {
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val d = (if (aFloat) xs.getFloat(i).toDouble else xs.getDouble(i)) -
        (if (bFloat) ys.getFloat(i).toDouble else ys.getDouble(i))
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
