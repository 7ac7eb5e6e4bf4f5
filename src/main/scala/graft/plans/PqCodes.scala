package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Product-quantization codec kernels (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  * compression layer under [[graft.functions.PqIndex]].
  *
  * A 100 TB embedding corpus at 64 float dims is 256 bytes/vector;
  * PQ with m sub-quantizers stores m BYTES per vector (32× here) and
  * answers approximate distances straight from the codes — the scan
  * reads a binary column, never the raw vectors. Both kernels are
  * primitive loops inside whole-stage codegen over a constant table
  * passed once per task ([[ConstTable]]), the [[SquaredL2]] discipline:
  * no UDF serialization on the hot path.
  */
object PqCodes {

  /** `pq_encode(vec)`: m PQ code bytes — for each of the m contiguous
    * sub-vectors, the index of the nearest codebook centroid (squared L2,
    * ties to the LOWEST code — deterministic). `codebooks(s)(c)` is
    * centroid c of subspace s; all subspaces share `ksub =
    * codebooks(s).length <= 256` and `subDim = dim / m`. Null input →
    * null; a vector whose length differs from m·subDim, or with a null
    * element → null (malformed row, the [[SquaredL2]] convention). */
  def encode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val subDim = codebooks.head.head.length
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"need 1 <= ksub <= 256 codes per subspace (one byte each), got $ksub")
    require(codebooks.forall(cb => cb.length == ksub &&
      cb.forall(_.length == subDim)),
      "ragged codebooks: every subspace needs ksub centroids of subDim dims")
    NativeFunctions("pq_encode")(vec,
      ConstTable.lit(s"pq codebooks ${m}x${ksub}x$subDim", codebooks))
  }

  /** `pq_adc(codes)`: asymmetric distance computation — approximate
    * squared L2 between the (uncompressed) query and a PQ-coded vector,
    * summed from a per-subspace lookup table the caller precomputes
    * driver-side: `lut(s)(c)` = ||query_s − codebook_s[c]||². One
    * binary-column read + m table lookups per row; the codes column IS
    * the dataset at scan time. Null codes → null; wrong code width →
    * null. */
  def adc(codes: Column, lut: Array[Array[Float]]): Column = {
    require(lut.length >= 1, "empty lookup table")
    NativeFunctions("pq_adc")(codes,
      ConstTable.lit(s"pq lut ${lut.length}x${lut.head.length}", lut))
  }

  /** Kernel of [[encode]]. */
  def nearestCodes(xs: ArrayData, isFloat: Boolean,
                   table: ConstTable[Array[Array[Array[Float]]]]): Array[Byte] = {
    val codebooks = table.value
    val m = codebooks.length
    val ksub = codebooks(0).length
    val subDim = codebooks(0)(0).length
    if (xs.numElements() != m * subDim) return null
    var i = 0
    while (i < m * subDim) { if (xs.isNullAt(i)) return null; i += 1 }
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cent = codebooks(s)(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val x = if (isFloat) xs.getFloat(s * subDim + j).toDouble
                  else xs.getDouble(s * subDim + j)
          val diff = x - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** Kernel of [[adc]]. */
  def adcDistance(codes: Array[Byte],
                  table: ConstTable[Array[Array[Float]]]): java.lang.Double = {
    val lut = table.value
    val m = lut.length
    if (codes.length != m) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut(s)(codes(s) & 0xFF)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
