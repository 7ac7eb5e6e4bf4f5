package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic corpus: 40 base sets of pseudo-random longs
    * plus planted near-dup twins (base + 2 extra elements → Jaccard well
    * above 0.8 for the 30-element bases) and one exact dup. */
  private def corpus = {
    def els(id: Int): Seq[Long] =
      (0 until 30).map(j => ((id * 131 + j * 17) % 97).toLong * 1000003L + j % 7)
    val bases = (0 until 40).map(i => (i.toLong, els(i)))
    val twins = (0 until 10).map(i =>
      (1000L + i, els(i) ++ Seq(-1L, -2L)))
    val exact = Seq((2000L, els(5)))
    (bases ++ twins ++ exact).toDF("id", "els")
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("id_a", "id_b", "intersection").as[(Long, Long, Long)].collect().toSet

  test("prefix-filtered join equals brute force at several thresholds") {
    for (t <- Seq(0.5, 0.8, 0.95, 1.0)) {
      val fast = pairsOf(SetSimJoin.jaccardSelfJoin(corpus, "id", "els", t))
      val slow = pairsOf(graft.HofReference.setSimBruteForce(corpus, "id", "els", t))
      assert(fast == slow, s"mismatch at threshold $t")
    }
  }

  test("frequency order changes nothing but the plan") {
    val t = 0.8
    val value = pairsOf(SetSimJoin.jaccardSelfJoin(corpus, "id", "els", t))
    val freq = pairsOf(
      SetSimJoin.jaccardSelfJoin(corpus, "id", "els", t, frequencyOrder = true))
    assert(value == freq)
  }

  test("finds planted twins and the exact duplicate; jaccard values exact") {
    val out = SetSimJoin.jaccardSelfJoin(corpus, "id", "els", 0.8)
      .select("id_a", "id_b", "size_a", "size_b", "intersection", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // twin i pairs with base i: |base| = 30 distinct? els may repeat values
    // — sizes come from the frame itself, assert consistency instead
    for (i <- 0 until 10) {
      val key = (i.toLong, 1000L + i)
      assert(out.contains(key), s"missing twin pair $key")
      val (_, _, sa, sb, inter, j) = out(key)
      assert(sb == sa + 2 && inter == sa)
      assert(math.abs(j - sa.toDouble / (sa + 2)) < 1e-12)
    }
    val dup = out((5L, 2000L))
    assert(dup._5 == dup._3 && dup._6 == 1.0)
  }

  test("empty and null sets never pair; duplicate elements collapse") {
    val df = Seq(
      (1L, Seq(1L, 1L, 2L, 3L)), (2L, Seq(3L, 2L, 1L)),
      (3L, Seq.empty[Long])).toDF("id", "els")
      .union(Seq((4L, null.asInstanceOf[Seq[Long]])).toDF("id", "els"))
    val out = pairsOf(SetSimJoin.jaccardSelfJoin(df, "id", "els", 0.5))
    assert(out == Set((1L, 2L, 3L)))
  }

  test("threshold 1.0 returns exact duplicates only") {
    val out = pairsOf(SetSimJoin.jaccardSelfJoin(corpus, "id", "els", 1.0))
    assert(out == Set((5L, 2000L, 30L)) ||
      out.forall { case (a, b, _) => (a, b) == (5L, 2000L) })
  }

  test("containmentJoin equals brute force; subsets found regardless of B size") {
    import org.apache.spark.sql.DataFrame
    def brute(l: DataFrame, r: DataFrame, t: Double): Set[(Long, Long)] = {
      val a = l.select(col("id").as("id_a"),
        array_sort(array_distinct(col("els"))).as("ea"))
        .filter(size(col("ea")) > 0)
      val b = r.select(col("id").as("id_b"),
        array_sort(array_distinct(col("els"))).as("eb"))
        .filter(size(col("eb")) > 0)
      a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
        .filter(size(array_intersect(col("ea"), col("eb"))).cast("double") /
          size(col("ea")) >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    // probes: strict subsets of corpus sets + partial overlaps
    val probes = (Seq(
      (9000L, (0 until 10).map(j => ((131 + j * 17) % 97).toLong * 1000003L + j % 7)), // ⊂ base 1
      (9001L, Seq(-1L, -2L)),                 // ⊂ every twin
      (9002L, Seq(1L, 2L, 3L))) ++            // nowhere
      (0 until 5).map(i => (9100L + i,
        (0 until 30).map(j => ((i * 131 + j * 17) % 97).toLong * 1000003L + j % 7)))) // = base i
      .toDF("id", "els")
    for (t <- Seq(0.6, 0.9, 1.0)) {
      val fast = SetSimJoin.containmentJoin(probes, "id", corpus, "id", "els", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute(probes, corpus, t), s"mismatch at threshold $t")
    }
    // the full-subset probe is contained in base 1 at threshold 1.0
    val exact = SetSimJoin.containmentJoin(probes, "id", corpus, "id", "els", 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((9000L, 1L)))
    assert(exact.exists { case (a, b) => a == 9001L && b >= 1000L })
    assert(!exact.exists(_._1 == 9002L))
  }

  /** Skewed raw-token universe: 5 stop words in EVERY corpus set + 5
    * unique tokens per set. Value order puts the stop words first
    * (lexicographically 's' < 'u'), so every probe prefix meets every
    * posting list — the b² hazard; frequency order puts each probe's
    * unique tokens first and candidates collapse to the true pairs. */
  test("containmentJoin on a skewed universe: frequencyOrder bounds candidates, results ≡ brute force") {
    val stops = (0 until 5).map(i => s"stop$i")
    val corpusSk = (0 until 30)
      .map(i => (i.toLong, stops ++ (0 until 5).map(j => s"u${i}_$j")))
      .toDF("id", "els")
    // probe i ⊂ set i: 2 stop words + 2 of its unique tokens; vs any other
    // set the overlap is the 2 stop words = 0.5 < 0.75
    val probesSk = (0 until 30)
      .map(i => (9000L + i, Seq("stop0", "stop1", s"u${i}_0", s"u${i}_1")))
      .toDF("id", "els")
    val t = 0.75
    val expect = (0 until 30).map(i => (9000L + i, i.toLong)).toSet

    def results(freq: Boolean, cap: Int) =
      SetSimJoin.containmentJoin(probesSk, "id", corpusSk, "id", "els", t,
          frequencyOrder = freq, maxBlockSize = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def candidates(freq: Boolean, cap: Int) =
      SetSimJoin.containmentCandidates(
        SetSimJoin.prepSets(probesSk, "id", "els"),
        SetSimJoin.prepSets(corpusSk, "id", "els"),
        t, frequencyOrder = freq, maxBlockSize = cap).count()

    // exact under both orders; frequency order shrinks the candidate set
    // from ~every (probe, set) pair down to the true pairs
    assert(results(freq = false, Int.MaxValue) == expect)
    assert(results(freq = true, Int.MaxValue) == expect)
    val valueCands = candidates(freq = false, Int.MaxValue)
    val freqCands = candidates(freq = true, Int.MaxValue)
    assert(valueCands >= 30L * 30, s"stop-word prefixes must block b²: $valueCands")
    assert(freqCands == 30, s"rare-first prefixes must block only true pairs: $freqCands")

    // the maxBlockSize valve: stop-word postings (30 > 5) stop generating
    // candidates. With rare-first prefixes the true pairs all survive …
    assert(results(freq = true, cap = 5) == expect)
    assert(candidates(freq = true, cap = 5) == 30)
    // … but under value order the capped stop words WERE the prefixes —
    // the documented recall trade, pinned here
    assert(results(freq = false, cap = 5).isEmpty)
  }

  test("jaccardJoin (cross-table) ≡ brute cross at several thresholds, " +
    "with and without frequency order; self-join unchanged by the " +
    "refactor") {
    import org.apache.spark.sql.DataFrame
    val left = corpus.filter(col("id") >= 1000)   // twins + exact dup
    val right = corpus.filter(col("id") < 1000)   // bases
    def brute(t: Double): Set[(Long, Long, Long)] = {
      val a = left.select(col("id").as("id_a"),
        array_distinct(col("els")).as("ea"))
      val b = right.select(col("id").as("id_b"),
        array_distinct(col("els")).as("eb"))
      a.crossJoin(b)
        .withColumn("i", size(array_intersect(col("ea"), col("eb"))).cast("long"))
        .withColumn("j", col("i").cast("double") /
          (size(col("ea")) + size(col("eb")) - col("i")))
        .filter(col("j") >= t)
        .select(col("id_a"), col("id_b"), col("i"))
        .as[(Long, Long, Long)].collect().toSet
    }
    for (t <- Seq(0.5, 0.8, 1.0); fo <- Seq(false, true)) {
      val fast = pairsOf(SetSimJoin.jaccardJoin(left, "id", "els",
        right, "id", "els", t, frequencyOrder = fo))
      assert(fast == brute(t), s"threshold $t freq $fo")
    }
    // the planted twins link to their bases across the table split
    val hits = pairsOf(SetSimJoin.jaccardJoin(left, "id", "els",
      right, "id", "els", 0.8))
    for (i <- 0L until 10L)
      assert(hits.exists(p => p._1 == 1000L + i && p._2 == i),
        s"twin $i must link to base $i")
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(left, "id", "els", right, "id", "els", 0.0)
    }
  }
}
