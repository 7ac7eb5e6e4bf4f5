package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

class TseGenSpec extends AnyFunSuite {

  /** One batch's CSV members, concatenated in order. */
  private def csvBytes(seed: Long, b: Int): Array[Byte] = {
    val c = TseGen.csvs(seed, b)
    (c.cand ++ c.votes).flatMap(_._2).toArray
  }

  test("the same seed gives byte-identical CSVs, another seed different ones") {
    for (b <- TseGen.Years.indices) {
      assert(csvBytes(7, b).sameElements(csvBytes(7, b)))
      assert(!csvBytes(7, b).sameElements(csvBytes(8, b)))
    }
  }

  test("inputs carry the reference's hazards") {
    val c = TseGen.csvs(3, 0)
    val cand = c.cand.flatMap { case (_, bytes) =>
      new String(bytes, ISO_8859_1).split("\n").drop(1).toSeq.map(_.split(";", -1).toSeq) }
    assert(cand.size == TseGen.CandRows)
    val names = cand.groupBy(_(8)).map { case (n, rows) => n -> rows.map(_(10)).distinct }
    assert(names.contains("0"), "party number 0")
    assert(names.values.exists(_.size > 1), "a party number with conflicting names")
    assert(cand.map(r => (r(5), r(6))).distinct.size < cand.size, "repeated name pairs")
    assert(cand.exists(_.mkString.exists(_ > '\u007f')), "latin-1 diacritics")
    assert(c.votes.exists { case (_, bytes) => new String(bytes, ISO_8859_1).trim == TseGen.VotesHeader },
      "a header-only member")
    val candKeys = cand.map(_(3)).toSet
    val voteKeys = c.votes.flatMap { case (_, bytes) =>
      new String(bytes, ISO_8859_1).split("\n").drop(1).toSeq.map(_.split(";")(0)) }.toSet
    assert((voteKeys -- candKeys).size == TseGen.MissKeys, "vote keys with no candidacy")
    assert(c.truth.misses == TseGen.MissKeys)
  }
}
