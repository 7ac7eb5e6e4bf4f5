package graft.operators

import org.apache.spark.sql.functions._

import graft.{HofReference, SparkSpec}

class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  /** Names with planted typos: substitutions, insertions, deletions,
    * and far-apart strings that must not pair. */
  private def corpus = Seq(
    (1L, "jonathan"), (2L, "jonathon"),   // substitution, dist 1
    (3L, "jonatha"),                      // deletion of 1,  dist 1
    (4L, "jonathans"),                    // insertion on 1, dist 1
    (5L, "monathan"),                     // substitution of 1, dist 1
    (6L, "xyzzy"), (7L, "xyzzy"),         // exact dup, dist 0
    (8L, "completely"), (9L, "different"),
    (10L, "a"), (11L, "b"), (12L, ""),    // short edge cases
    (13L, "jonathaX")                     // dist 1 of 1, dist 2 of 2
  ).toDF("id", "name")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet

  test("deletion-neighborhood join equals brute force at d = 1 and d = 2") {
    for (d <- Seq(1, 2)) {
      val fast = pairsOf(EditDistance.levenshteinSelfJoin(corpus, "id", "name", d))
      val slow = pairsOf(HofReference.editDistanceBruteForce(corpus, "id", "name", d))
      assert(fast == slow, s"mismatch at maxDist $d")
      assert(fast.nonEmpty)
    }
  }

  test("planted typos found with exact distances; far strings never pair") {
    val out = pairsOf(EditDistance.levenshteinSelfJoin(corpus, "id", "name", 1))
    assert(out.contains((1L, 2L, 1L)), "substitution")
    assert(out.contains((1L, 3L, 1L)), "deletion")
    assert(out.contains((1L, 4L, 1L)), "insertion")
    assert(out.contains((1L, 5L, 1L)), "leading substitution")
    assert(out.contains((6L, 7L, 0L)), "exact duplicate")
    assert(out.contains((10L, 11L, 1L)), "1-char substitution")
    assert(out.contains((10L, 12L, 1L)), "1-char vs empty")
    assert(!out.exists { case (a, b, _) => Set(a, b) == Set(8L, 9L) })
    // null strings never pair
    val withNull = corpus.union(
      Seq((99L, null.asInstanceOf[String])).toDF("id", "name"))
    val n = pairsOf(EditDistance.levenshteinSelfJoin(withNull, "id", "name", 2))
    assert(!n.exists { case (a, b, _) => a == 99L || b == 99L })
  }

  test("maxDist outside the short-string design envelope fails fast") {
    // deletionVariants' expression tree doubles per depth (ADVICE r7):
    // a large d would hit pathological analysis/codegen, not a slow job
    val e = intercept[IllegalArgumentException] {
      EditDistance.levenshteinSelfJoin(corpus, "id", "name", maxDist = 6)
    }
    assert(e.getMessage.contains("maxDist must be <= 3"))
    intercept[IllegalArgumentException] {
      EditDistance.levenshteinSelfJoin(corpus, "id", "name", maxDist = 0)
    }
  }

  test("codegen ordered deletion variants == the HOF reference chain, " +
    "element-for-element, at every depth") {
    // adversarial: repeats (dedup order), multi-byte UTF-8, a
    // supplementary (4-byte) code point, 1-char and empty strings
    val strs = Seq("jonathan", "aaa", "ab", "a", "", "naïve",
      "x😀y", "ababa")
    val df = strs.toDF("s")
    for (d <- 0 to 3) {
      val rows = df.select(
        graft.plans.OrderedDeletionVariants.of(col("s"), d).as("fast"),
        HofReference.deletionVariants(col("s"), d).as("ref"),
        col("s")).as[(Seq[String], Seq[String], String)].collect()
      rows.foreach { case (fast, ref, s) =>
        assert(fast == ref, s"depth $d, input '$s': $fast != $ref")
      }
    }
  }

  test("deletion neighborhood: size and membership at d = 1") {
    val v = spark.range(1).select(
        HofReference.deletionVariants(lit("abc"), 1).as("v"))
      .as[Seq[String]].collect().head.toSet
    assert(v == Set("abc", "bc", "ac", "ab"))
    val e = spark.range(1).select(
        HofReference.deletionVariants(lit(""), 1).as("v"))
      .as[Seq[String]].collect().head.toSet
    assert(e == Set(""))
  }
}
