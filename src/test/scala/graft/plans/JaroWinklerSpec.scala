package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  // expected values verified against DuckDB's jaro_similarity /
  // jaro_winkler_similarity (bit-exact agreement over all 150k
  // customer × supplier name pairs at sf0.01)
  test("classic values, empty/threshold/prefix edges, case sensitivity") {
    val cases = Seq(
      // (a, b, jaro, jw)
      ("martha", "marhta", 0.9444444444444445, 0.9611111111111111),
      ("dixon", "dicksonx", 0.7666666666666666, 0.8133333333333332),
      ("duane", "dwayne", 0.8222222222222223, 0.8400000000000001),
      ("CRATE", "TRACE", 0.7333333333333334, 0.7333333333333334), // l=0
      ("abcd", "badc", 0.8333333333333334, 0.8333333333333334),
      ("aaab", "aaba", 0.9166666666666666, 0.9333333333333333),
      // boost threshold: J = 0.5 <= 0.7 -> NO prefix boost despite l=2
      ("abcdefgh", "abzzzzzz", 0.5, 0.5),
      // J just over threshold -> boost applies
      ("ab", "abcdefghijklmnop", 0.7083333333333334, 0.7666666666666667),
      ("aBc", "abc", 0.7777777777777777, 0.7999999999999999),
      ("abc", "abc", 1.0, 1.0),
      // window 0 at len 2: no cross-position matches
      ("ab", "ba", 0.0, 0.0),
      ("x", "y", 0.0, 0.0),
      ("", "", 0.0, 0.0),   // the engines' empty convention (not 1)
      ("a", "", 0.0, 0.0),
      ("", "a", 0.0, 0.0))
    val out = cases.zipWithIndex.map { case ((a, b, _, _), i) => (i, a, b) }
      .toDF("i", "a", "b")
      .select($"i", JaroWinkler.jaro($"a", $"b").as("j"),
        JaroWinkler.jaroWinkler($"a", $"b").as("jw"))
      .as[(Int, Double, Double)].collect()
      .map { case (i, j, jw) => i -> ((j, jw)) }.toMap
    cases.zipWithIndex.foreach { case ((a, b, ej, ejw), i) =>
      assert(out(i)._1 == ej, s"jaro($a, $b): got ${out(i)._1}, want $ej")
      assert(out(i)._2 == ejw, s"jw($a, $b): got ${out(i)._2}, want $ejw")
    }
  }

  test("null contract and codegen/interpreted agreement") {
    val df = Seq((1L, Some("abc"), None: Option[String]),
      (2L, None: Option[String], Some("abc")),
      (3L, Some("kitten"), Some("sitting"))).toDF("id", "a", "b")
    val out = df.select($"id", JaroWinkler.jaroWinkler($"a", $"b").as("jw"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).nonEmpty)

    // same kernel through the interpreted path: eval the StaticInvoke
    // the function table builds
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = NativeCall("jaro_winkler",
      Seq(Literal("kitten"), Literal("sitting"))).replacement
    assert(e.eval(null) == out(3L).get,
      "interpreted eval must equal the codegen result")
  }

  test("scratch growth: strings longer than the initial 256-char buffer") {
    val a = "x" * 300 + "tail"
    val b = "x" * 300 + "tali"
    val r = Seq((a, b)).toDF("a", "b")
      .select(JaroWinkler.jaro($"a", $"b")).as[Double].collect().head
    assert(r > 0.99 && r < 1.0, s"$r")
  }
}
