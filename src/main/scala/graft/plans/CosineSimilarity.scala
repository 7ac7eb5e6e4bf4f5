package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native `cosine_similarity(a, b)` between two numeric arrays,
  * accumulated in double, sequential over array order (identical
  * semantics to the `zip_with`+`aggregate` higher-order form, which is
  * this kernel's reference implementation in tests).
  *
  * Why it exists: Spark's higher-order functions evaluate every element
  * through the interpreter — the difference between scanning an
  * embedding column at memory bandwidth and burning CPU on per-element
  * virtual calls when the corpus has billions of vectors. This kernel is
  * one tight primitive loop inside the enclosing whole-stage codegen.
  *
  * Null contract: null if either input is null, if lengths differ, if
  * either norm is zero, or if an element is null (the HOF fold's
  * null-propagation).
  */
object CosineSimilarity {
  /** Column-level entry point: `cosine_similarity(a, b)`. */
  def apply(a: Column, b: Column): Column =
    NativeFunctions("cosine_similarity")(a, b)

  /** Kernel; `aFloat`/`bFloat` give each array's element type. */
  def cosine(xs: ArrayData, ys: ArrayData, aFloat: Boolean,
             bFloat: Boolean): java.lang.Double = {
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (aFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (bFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}
