package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.unsafe.types.UTF8String

/** Native `shingle_hash_set(text)` → sorted distinct array<bigint> of
  * k-token shingle hashes (same hash family as
  * [[MinHashSignature]] — the two compose into an LSH + exact-Jaccard
  * pipeline that never materializes shingle strings). Jaccard over these
  * hash sets equals string-shingle Jaccard up to 64-bit collisions.
  * Sorted output makes downstream set intersection mergeable.
  */
object ShingleHashSet {

  def compute(text: UTF8String, shingleSize: Int, nfc: Boolean = false): ArrayData = {
    val toks = Tokens.tokens(text, nfc)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      th(i) = XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L)
      i += 1
    }
    val nShingles = math.max(toks.length - shingleSize + 1, 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    var s = 0
    while (s < nShingles) {
      var h = 0L
      var k = 0
      val kMax = math.min(shingleSize, toks.length - s)
      while (k < kMax) {
        h = XXH64.hashLong(th(s + k), h)
        k += 1
      }
      set.add(h)
      s += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  def apply(text: Column, shingleSize: Int = 3, nfc: Boolean = false): Column =
    NativeFunctions("shingle_hash_set")(text, lit(shingleSize), lit(nfc))
}
