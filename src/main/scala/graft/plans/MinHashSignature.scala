package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: `minhash(text)` → array<bigint> of
  * `numHashes` minima over seeded xxhash64 of k-token shingles.
  *
  * Why native: a MinHash signature is per-row computable — the scale-
  * correct plan has NO shuffle until the (tiny) signature rows. The
  * higher-order-function formulation keeps that shape but evaluates
  * interpreted, and the explode+aggregate formulation is codegen'd but
  * shuffles every shingle. This kernel gets both: one JIT'd loop per row
  * inside whole-stage codegen, zero shuffle. (SURVEY.md §4: custom
  * Expression for hot-path north-star ops.)
  *
  * Hash family (aligned with the pure-builtin formulation
  * [[graft.operators.Dedup.minHashSignatureAgg]] so the two are
  * interchangeable and cross-checkable): shingle hash
  * h = xxhash64(shingle_string) (XXH64 over UTF-8 bytes, seed 42 — Spark's
  * builtin composition); h_j = XXH64.hashLong(h, XXH64.hashLong(j, 42)),
  * which is exactly the builtin `xxhash64(lit(j.toLong), h)`. Signatures
  * from either path can be banded together. (ASCII-exact; both paths
  * lowercase via the same ASCII fast path for the corpus alphabet.)
  */
object MinHashSignature {

  /** Kernel: lowercase, whitespace-tokenize, then one pass per shingle
    * hashing the space-joined window (via a reused byte buffer — one allocation per
    * row, not per shingle) and updating all `numHashes` minima.
    * Bit-identical to the builtin composition
    * `min(xxhash64(lit(j.toLong), xxhash64(shingle_string)))`. */
  def compute(text: UTF8String, shingleSize: Int, numHashes: Int,
              nfc: Boolean = false): ArrayData = {
    val toks = Tokens.tokens(text, nfc)
    val tokBytes = new Array[Array[Byte]](toks.length)
    var maxWin = 0
    var i = 0
    while (i < toks.length) {
      tokBytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    i = 0
    while (i < toks.length) { // longest window determines the buffer size
      var len = math.min(shingleSize, toks.length - i) - 1
      var k = 0
      val kMax = math.min(shingleSize, toks.length - i)
      while (k < kMax) { len += tokBytes(i + k).length; k += 1 }
      if (len > maxWin) maxWin = len
      i += 1
    }
    val buf = new Array[Byte](math.max(maxWin, 1))
    // seeds(j) = XXH64.hashLong(j, 42) makes h_j identical to the builtin
    // xxhash64(lit(j.toLong), h): the builtin folds args left-to-right from
    // seed 42, so hash = hashLong(h, hashLong(j, 42)).
    val seeds = Array.tabulate(numHashes)(j => XXH64.hashLong(j.toLong, 42L))
    val nShingles = math.max(toks.length - shingleSize + 1, 1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < nShingles) {
      val kMax = math.min(shingleSize, toks.length - s)
      var off = 0
      var k = 0
      while (k < kMax) { // space-joined window == concat_ws(' ', slice(...))
        if (k > 0) { buf(off) = ' '; off += 1 }
        val tb = tokBytes(s + k)
        System.arraycopy(tb, 0, buf, off, tb.length)
        off += tb.length
        k += 1
      }
      val h = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, off, 42L)
      var j = 0
      while (j < numHashes) {
        val hj = XXH64.hashLong(h, seeds(j))
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  def apply(text: Column, shingleSize: Int = 3, numHashes: Int = 32,
            nfc: Boolean = false): Column =
    NativeFunctions("minhash")(text, lit(shingleSize), lit(numHashes), lit(nfc))
}
