package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit

/** Native random-hyperplane LSH bucketing: `hyperplane_lsh(vec)` → 64-bit
  * bucket id whose bit (p - planeOffset) is the sign of the dot product of
  * `vec` against pseudo-random hyperplane p, with plane components derived
  * deterministically from `xxhash64(p, i)` mapped to [-0.5, 0.5).
  *
  * Why native: this is the full-corpus bucketing pass feeding LSH ANN and
  * embedding near-dup clustering — the widest scan in the dedup pipeline.
  * The higher-order-function form (the reference in VectorFunctionsSpec)
  * evaluates a nested interpreted `aggregate(zip_with(...))` per plane
  * per row. This kernel is one static JIT'd loop inside whole-stage
  * codegen (the [[SimHash64]] pattern).
  *
  * Bit-parity contract (asserted in VectorFunctionsSpec): identical hash
  * family (XXH64.hashInt(i, XXH64.hashInt(p, 42)) = builtin
  * `xxhash64(int p, int i)`), identical pmod→unit-interval mapping,
  * identical left-fold accumulation order, and identical null semantics —
  * a null ELEMENT nulls the plane dot so every plane bit is 0 (bucket 0),
  * exactly as null propagates through the HOF fold.
  */
object HyperplaneLsh {

  /** Kernel. Plane p component i =
    * pmod(xxhash64(p, i), 1e6) / 1e6 - 0.5 where xxhash64 is Spark's
    * builtin two-int composition: hashInt(i, seed = hashInt(p, 42)).
    * Accumulation is a left fold in element order (bit-identical to the
    * HOF reference). A null element nulls the dot → bit 0 on every plane
    * (all planes read all elements), so the bucket is 0, matching
    * null-propagation through `aggregate`. */
  def compute(arr: ArrayData, isFloat: Boolean, numPlanes: Int, planeOffset: Int): Long = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L // null element → every plane dot is null → all bits 0
      i += 1
    }
    var bucket = 0L
    var p = planeOffset
    val end = planeOffset + numPlanes
    while (p < end) {
      var dot = 0.0
      val seed = XXH64.hashInt(p, 42L)
      i = 0
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        val h = XXH64.hashInt(i, seed)
        val m = ((h % 1000000L) + 1000000L) % 1000000L
        dot += v * (m.toDouble / 1000000.0 - 0.5)
        i += 1
      }
      if (dot > 0.0) bucket |= (1L << (p - planeOffset))
      p += 1
    }
    bucket
  }

  def apply(vec: Column, numPlanes: Int, planeOffset: Int = 0): Column = {
    require(numPlanes >= 1 && numPlanes <= 64,
      s"hyperplane_lsh numPlanes must be in [1, 64], got $numPlanes")
    NativeFunctions("hyperplane_lsh")(vec, lit(numPlanes), lit(planeOffset))
  }
}
