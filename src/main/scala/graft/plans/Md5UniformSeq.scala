package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `md5_uniform_seq`: the engine's md5 uniform
  * ([[graft.operators.Splits.uniformFromId]]) drawn B times per row in
  * ONE static call — u_r = (first-52-bits-of md5(prefix ‖ r) + 1) / 2^52
  * for r = 1..b, returned as array<double>.
  *
  * Bit-identical to the SQL chain it replaces in
  * [[graft.operators.Eval.bootstrapCi]] / `randomizationTest`
  * (`conv(substring(md5(concat(prefix, r)), 1, 13), 16, 10)` — 13 hex
  * digits = the digest's top 52 bits, exactly representable in a double;
  * the chain stays the reference form in a differential spec).
  *
  * Why it exists: the SQL form is evaluated once per (row, replicate)
  * AFTER an explode — corpus × B evaluations, each materializing a
  * 32-char hex string, a 13-char substring, and a base-16 string parse
  * around the one digest that actually matters. Drawing the whole
  * replicate vector per row amortizes the digest machinery (one
  * MessageDigest instance reset B times, no hex/substring/conv
  * allocations, the per-row prefix encoded once) and turns the explode
  * into a cheap posexplode over a primitive double array. Measured ~3×
  * on the q243/q244 replicate stage at sf0.1, B = 200.
  *
  * Null contract: null prefix → null array.
  */
object Md5UniformSeq {

  /** `md5_uniform_seq(prefix, b)` — prefix already carries salt ‖ id ‖ '#';
    * element r−1 of the result is the uniform for replicate r (1-based). */
  def of(prefix: Column, b: Int): Column = {
    require(b >= 1 && b <= 1000000,
      s"md5_uniform_seq: b must be in [1, 1e6], got $b")
    NativeFunctions("md5_uniform_seq")(prefix, lit(b))
  }

  private val TwoTo52 = 4503599627370496.0 // 2^52

  /** Kernel. */
  def uniforms(prefix: UTF8String, b: Int): ArrayData = {
    val pre = prefix.getBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](b)
    // reusable ASCII buffer for the replicate ordinal (≤ 7 digits at the
    // b cap); digits written back-to-front per replicate
    val digits = new Array[Byte](8)
    var r = 1
    while (r <= b) {
      md.reset()
      md.update(pre)
      var n = r
      var i = digits.length
      while (n > 0) { i -= 1; digits(i) = ('0' + n % 10).toByte; n /= 10 }
      md.update(digits, i, digits.length - i)
      val d = md.digest()
      // first 13 hex digits == top 52 bits: 6 full bytes + the high
      // nibble of byte 6
      val v = ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) |
        ((d(2) & 0xffL) << 28) | ((d(3) & 0xffL) << 20) |
        ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
        ((d(6) & 0xffL) >>> 4)
      out(r - 1) = (v + 1.0) / TwoTo52
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}
