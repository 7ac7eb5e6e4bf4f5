package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash: `simhash64(text)` → 64-bit fingerprint whose bit i is
  * the sign of Σ over tokens of (token-hash bit i ? +1 : -1).
  *
  * Why native: like [[MinHashSignature]], the fingerprint is per-row
  * computable — the scale-correct plan has NO shuffle until fingerprints
  * exist (one long per document). The explode + 64-sum-aggregates
  * formulation ([[graft.operators.Dedup.simHashAgg]]) shuffles one row
  * per corpus token; this kernel is one JIT'd loop inside
  * whole-stage codegen.
  *
  * Hash family: token hash = xxhash64(token) (XXH64 over UTF-8 bytes,
  * seed 42 — Spark's builtin composition), so the two formulations are
  * bit-identical (asserted in DedupSpec). Ties (bit-sum 0) count as 0,
  * matching `sum > 0` in the aggregate form.
  */
object SimHash64 {

  /** Kernel: lowercase,
    * whitespace-tokenize, hash each token once (seed 42 = builtin
    * xxhash64), accumulate the 64 bit counters, assemble sign bits. */
  def compute(text: UTF8String, nfc: Boolean = false): Long = {
    val toks = Tokens.tokens(text, nfc)
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  def apply(text: Column, nfc: Boolean = false): Column =
    NativeFunctions("simhash64")(text, lit(nfc))
}
