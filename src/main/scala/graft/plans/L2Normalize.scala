package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native `l2_normalize`: L2-normalized copy of an `array<float>` vector
  * — bit-identical to the interpreted HOF chain that stays the reference
  * implementation in VectorFunctionsSpec: norm² accumulates
  * left-to-right in doubles exactly like the `aggregate∘zip_with` fold,
  * each element divides in double then narrows to float exactly like
  * `transform(v, x -> x / norm)` under the array<float> cast, and a
  * zero norm or any null element passes the ORIGINAL vector through
  * (the HOF's `when(norm > 0, …).otherwise(v)` with null-propagating
  * fold; a NaN norm NORMALIZES — Spark SQL ranks NaN above every
  * numeric, so `norm > 0` is true there and every element lands NaN).
  *
  * Why it exists: the HOF form pays ~2·dim interpreted lambda
  * evaluations per row, re-run at every materialization of the plan
  * (q140 normalizes the corpus on the query collect, the train sample
  * checkpoint AND the encode checkpoint). One codegen'd static call is
  * the [[CosineSimilarity]] discipline applied to the normalize pass.
  */
object L2Normalize {

  def of(v: Column): Column = NativeFunctions("l2_normalize")(v)

  /** Kernel. Returns the INPUT ArrayData
    * unchanged when the norm is not strictly positive (zero vector, NaN,
    * or a null element nulls the fold — the HOF `otherwise` branch). */
  def normalize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return v // fold nulls out -> original passes through
      val x = v.getFloat(i).toDouble
      s += x * x // left-to-right, doubles: the aggregate fold's order
      i += 1
    }
    val norm = math.sqrt(s)
    // Spark SQL ordering ranks NaN above every numeric, so the HOF's
    // when(norm > 0) takes the NORMALIZE branch for a NaN norm (every
    // element divides to NaN) and the passthrough fires only at exactly 0
    if (norm == 0.0) return v
    val out = new Array[Float](n)
    i = 0
    while (i < n) {
      out(i) = (v.getFloat(i).toDouble / norm).toFloat
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}
