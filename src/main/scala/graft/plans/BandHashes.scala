package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native LSH band hashing: `band_hashes(minhash)` → array<bigint> of
  * `bands` hashes, where hash b folds XXH64.hashLong over the signature
  * slice [b*rowsPerBand, (b+1)*rowsPerBand) from seed 42 — exactly
  * Spark's builtin `xxhash64(slice(minhash, b*r+1, r))` applied to the
  * array (the builtin hashes array elements left-to-right with the
  * running hash as seed), asserted bit-identical in DedupSpec.
  *
  * Why native: banding runs once per document on the full corpus — the
  * round-2 string formulation (`concat_ws` of each slice, then hash the
  * string) materialized a ~90-byte string per band per row inside an
  * interpreted `transform`. This is one JIT'd loop, no allocation beyond
  * the output array, inside whole-stage codegen.
  */
object BandHashes {

  /** Kernel. A slice that runs past the signature end folds only the
    * available elements — same clipping as builtin `slice` — and a null
    * element leaves the running hash unchanged, as builtin `xxhash64`
    * skips it. */
  def compute(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"band_hashes needs positive band layout, got ${bands}x$rowsPerBand")
    NativeFunctions("band_hashes")(sig, lit(bands), lit(rowsPerBand))
  }
}
