package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native `bpe_merge_fold`: greedy left-to-right BPE merge replay over a
  * symbol array — the inner fold of [[graft.operators.Bpe]], applied for
  * every merge in rank order. Replaces the interpreted nested
  * `aggregate(mergeTab, syms, (out, x) -> CASE …
  * concat(slice(out, …), array(m)) … concat(out, array(x)))` chain
  * (which stays the reference form in BpeSpec): that HOF re-allocates
  * the accumulated output array per SYMBOL per MERGE — O(symbols²)
  * copying per token per merge, every element an interpreted lambda
  * eval. One static call does the same fold with an in-place
  * write-pointer compaction: O(merges × symbols), no per-step copies.
  *
  * Exact HOF parity, pinned by BpeSpec's differential test:
  *   - a symbol merges with the previous OUTPUT element iff
  *     (out.last, x) == (left, right) — so a merged token keeps
  *     merging with later symbols in the same pass ("aaa" + (a,a) →
  *     [aa, a]), and multi-pass chains compose ((t,h) then (th,e));
  *   - null array in → null out; null ELEMENTS pass through unmerged
  *     (any comparison with null is non-true in the CASE);
  *   - a merge row with null left/right never fires; a null merged
  *     value is inserted as null when it does.
  */
object BpeMergeFold {

  /** The merge table rides along as one [[ConstTable]] of
    * (left, right, merged) rows; explain shows its size and first rows. */
  def of(symbols: Column, merges: Seq[(String, String, String)]): Column = {
    val rows = merges.map { case (l, r, m) =>
      Array(UTF8String.fromString(l), UTF8String.fromString(r),
        UTF8String.fromString(m))
    }.toArray
    val shown = merges.take(3).map { case (l, r, m) => s"$l+$r=$m" }
    val label = s"${merges.size} merges [" + shown.mkString(", ") +
      (if (merges.size > 3) ", …]" else "]")
    NativeFunctions("bpe_merge_fold")(symbols, ConstTable.lit(label, rows))
  }

  /** Kernel: replay every merge in table order with an in-place write
    * pointer (w ≤ read index always, so compaction is safe). */
  def fold(arr: ArrayData,
           table: ConstTable[Array[Array[UTF8String]]]): GenericArrayData = {
    val merges = table.value
    val n = arr.numElements()
    val cur = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      cur(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    var len = n
    var mi = 0
    while (mi < merges.length) {
      val l = merges(mi)(0)
      val r = merges(mi)(1)
      if (l != null && r != null) {
        val m = merges(mi)(2)
        var w = 0
        var j = 0
        while (j < len) {
          val x = cur(j)
          if (w > 0 && x != null && cur(w - 1) != null &&
              cur(w - 1).asInstanceOf[UTF8String].equals(l) &&
              x.asInstanceOf[UTF8String].equals(r)) {
            cur(w - 1) = m
          } else {
            cur(w) = x
            w += 1
          }
          j += 1
        }
        len = w
      }
      mi += 1
    }
    val out = new Array[AnyRef](len)
    System.arraycopy(cur, 0, out, 0, len)
    new GenericArrayData(out)
  }
}
