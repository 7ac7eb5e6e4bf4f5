package graft.operators

import org.apache.spark.sql.functions._

import graft.{HofReference, SparkSpec}

class JwJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Names with planted near-matches at several JW levels, repeats
    * (the multiset occ-index path), transposition pairs, short edge
    * cases, and far-apart strings that must never pair. */
  private def corpus = Seq(
    (1L, "jonathan smith"), (2L, "jonathon smith"),   // 1 substitution
    (3L, "jonathan smyth"), (4L, "jonathan smith"),   // exact dup of 1
    (5L, "martha washington"), (6L, "martha washingtno"), // transposition
    (7L, "aaaaabbbbb"), (8L, "aaaaabbbbc"),           // heavy repeats
    (9L, "completely"), (10L, "unrelated"),
    (11L, "a"), (12L, "b"), (13L, "aa"),
    (14L, "supplier#000000001"), (15L, "supplier#000000011"),
    (16L, "supplier#000000002")
  ).toDF("id", "name")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"), round(col("jw"), 9))
      .as[(Long, Long, Double)].collect().toSet

  test("bounded self-join equals brute force at 0.85 / 0.90 / 0.97") {
    for (t <- Seq(0.85, 0.90, 0.97)) {
      val fast = pairsOf(JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", t))
      val slow = pairsOf(HofReference.jwBruteForce(corpus, "id", "name", t))
      assert(fast == slow, s"mismatch at threshold $t")
      assert(fast.nonEmpty, s"degenerate spec at threshold $t")
    }
  }

  test("planted pairs found; far strings, nulls and empties never pair") {
    val out = pairsOf(JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", 0.9))
    assert(out.exists { case (a, b, _) => (a, b) == (1L, 2L) }, "substitution")
    assert(out.exists { case (a, b, jw) => (a, b) == (1L, 4L) && jw == 1.0 },
      "exact duplicate at jw 1.0")
    assert(out.exists { case (a, b, _) => (a, b) == (5L, 6L) }, "transposition")
    assert(out.exists { case (a, b, _) => (a, b) == (7L, 8L) }, "repeats")
    assert(out.exists { case (a, b, _) => (a, b) == (14L, 15L) }, "digit swap")
    assert(!out.exists { case (a, b, _) => Set(a, b) == Set(9L, 10L) })
    val withNull = corpus.union(
      Seq((99L, null.asInstanceOf[String]), (98L, "")).toDF("id", "name"))
    val n = pairsOf(JwJoin.jaroWinklerSelfJoin(withNull, "id", "name", 0.85))
    assert(!n.exists { case (a, b, _) => Seq(a, b).exists(Set(98L, 99L)) })
  }

  test("cross-table join equals the brute cross at 0.9, with and " +
    "without block keys") {
    val left = corpus.select(col("id"), col("name"),
      (col("id") % 2).as("blk"))
    val right = corpus.select((col("id") + 100L).as("rid"),
      col("name").as("rname"), (col("id") % 2).as("rblk"))
    val brute = left.crossJoin(right)
      .select(col("id").as("id_a"), col("rid").as("id_b"),
        graft.plans.JaroWinkler.jaroWinkler(col("name"), col("rname"))
          .as("jw"),
        (col("blk") <=> col("rblk")).as("same"))
    val bruteAll = pairsOf(brute.filter(col("jw") >= 0.9))
    val fastAll = pairsOf(JwJoin.jaroWinklerJoin(
      left, "id", "name", right, "rid", "rname", 0.9))
    assert(fastAll == bruteAll)
    val bruteBlk = pairsOf(brute.filter(col("jw") >= 0.9 && col("same")))
    val fastBlk = pairsOf(JwJoin.jaroWinklerJoin(
      left, "id", "name", right, "rid", "rname", 0.9,
      blockCols = Seq(("blk", "rblk"))))
    assert(fastBlk == bruteBlk)
    assert(fastBlk.subsetOf(fastAll) && fastBlk != fastAll,
      "block key must actually restrict on this corpus")
  }

  test("blocked self-join ≡ brute within blocks; null blocks pair " +
    "with null (the blockingReport convention)") {
    val df = corpus.withColumn("blk",
      when(col("id") <= 4, lit("x"))
        .when(col("id") <= 8, lit(null: String))
        .otherwise(lit("y")))
    val fast = pairsOf(JwJoin.jaroWinklerSelfJoin(
      df, "id", "name", 0.9, blockCols = Seq("blk")))
    val slow = pairsOf(HofReference.jwBruteForce(
      df, "id", "name", 0.9, blockCols = Seq("blk")))
    assert(fast == slow)
    assert(fast.exists { case (a, b, _) => (a, b) == (5L, 6L) },
      "null-block pair (5,6) must survive")
    assert(!fast.exists { case (a, b, _) => (a, b) == (1L, 2L) } ||
      fast.exists { case (a, b, _) => (a, b) == (1L, 2L) }) // in-block kept
    assert(fast.exists { case (a, b, _) => (a, b) == (1L, 2L) })
  }

  test("maxBlockSize valve returns a subset (recall trade, exact when " +
    "off); thresholds outside the boundable envelope fail fast") {
    val full = pairsOf(JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", 0.9))
    val capped = pairsOf(JwJoin.jaroWinklerSelfJoin(
      corpus, "id", "name", 0.9, maxBlockSize = 1))
    assert(capped.subsetOf(full))
    val e = intercept[IllegalArgumentException] {
      JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", 0.75)
    }
    assert(e.getMessage.contains("0.82"))
    intercept[IllegalArgumentException] {
      JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", 0.9, maxBlockSize = 0)
    }
  }

  test("MultisetVariantKeys codegen expression == the HOF reference " +
    "chain it replaced (sort + depth-0/1/2 deletion variants), " +
    "element-for-element, on adversarial strings") {
    // the pre-optimization construction, verbatim: sort via
    // array_sort of 1-char substrings, variants via nested transforms
    def refVariants(d: Int) = {
      val n = length(col("s"))
      val sorted = concat_ws("", array_sort(
        transform(sequence(lit(1), n), i => col("s").substr(i, lit(1)))))
      def delAt(s: org.apache.spark.sql.Column,
                i: org.apache.spark.sql.Column) =
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))
      def variantsOf(s: org.apache.spark.sql.Column) = {
        val d0 = array(concat(lit("0"), s))
        val d1 = transform(sequence(lit(1), n),
          i => concat(lit("1"), s.substr(i, lit(1)), delAt(s, i)))
        val d2 = when(n < 2, array().cast("array<string>"))
          .otherwise(flatten(transform(sequence(lit(1), n - 1),
            i => transform(sequence(i + 1, n), j =>
              concat(lit("2"), s.substr(i, lit(1)), s.substr(j, lit(1)),
                s.substr(lit(1), i - 1), s.substr(i + 1, j - i - 1),
                s.substr(j + 1, n - j))))))
        d match {
          case 0 => d0
          case 1 => concat(d0, d1)
          case _ => concat(d0, d1, d2)
        }
      }
      flatten(transform(array(sorted), sv => variantsOf(sv)))
    }
    val strings = Seq("a", "ab", "ba", "aaa", "customer#000000001",
      "zyxwvut", "aabbccdd", "mélange über", "日本語テキスト",
      "x😀y", // supplementary code point between BMP chars
      "  spaces  ", "0123456789")
      .toDF("s")
    for (d <- 0 to 2) {
      val rows = strings.select(
        graft.plans.MultisetVariantKeys.of(col("s"), d).as("got"),
        refVariants(d).as("want")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"depth $d mismatch: got=${r.getSeq[String](0)} " +
            s"want=${r.getSeq[String](1)}")
      }
    }
  }

  test("maxBlockSize valve under fire: a degenerate multiset class " +
    "(~10% of rows) trips the cap and is shed WHOLESALE; every pair " +
    "outside the class survives exactly (VERDICT r15 #6)") {
    // one multiset class: all C(9,2)=36 single swaps of the digit
    // suffix + the base — same char multiset, pairwise jw >= 0.977
    // (one swap 0.9888, two disjoint swaps 0.9777), so the class is
    // dense TRUE pairs, not just candidate pressure
    val base = "customer#012345678".toCharArray
    val classNames = Seq(new String(base)) ++
      (for (i <- 9 until 17; j <- (i + 1) to 17) yield {
        val a = base.clone(); val t = a(i); a(i) = a(j); a(j) = t
        new String(a)
      })
    // 360 diverse names (seeded random letters, so variant keys don't
    // collide across bases) with planted single-substitution true
    // pairs — the population that must survive the valve. NOT
    // zero-padded digits: those share zero-heavy deletion-variant
    // hubs corpus-wide (the q191 saturation shape) and the first cut
    // of this spec measured exactly that collateral.
    val rnd = new scala.util.Random(42)
    val rest = (1 to 180).flatMap { _ =>
      val s = "nm#" + (1 to 14).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString
      val mut = s.updated(5 + rnd.nextInt(9), 'q')
      Seq(s, mut)
    }
    val all = (classNames ++ rest).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    val classIds = (0 until classNames.size).map(_.toLong).toSet
    val full = pairsOf(JwJoin.jaroWinklerSelfJoin(all, "id", "name", 0.9699))
    val brute = pairsOf(HofReference.jwBruteForce(all, "id", "name", 0.9699))
    assert(full == brute, "valve off must stay exact under multiset pressure")
    val capped = pairsOf(JwJoin.jaroWinklerSelfJoin(
      all, "id", "name", 0.9699, maxBlockSize = 30))
    assert(capped.subsetOf(full))
    val lost = full -- capped
    assert(lost.nonEmpty, "the class must actually trip a cap of 30")
    // every shared variant key of a class-internal pair is held by all
    // 37 class members (> cap), so the class sheds wholesale...
    assert(lost.forall { case (a, b, _) =>
      classIds(a) && classIds(b) }, s"collateral loss outside the class: " +
      lost.filterNot { case (a, b, _) => classIds(a) && classIds(b) })
    // ...and ONLY the class: pairs outside share under-cap keys
    val classPairs = full.filter { case (a, b, _) => classIds(a) && classIds(b) }
    assert(capped == full -- classPairs,
      "valve must shed exactly the degenerate class")
    // the class is a complete clique (every swap pair clears 0.9699),
    // so it carries C(37,2) = 666 of the corpus's true pairs — recall
    // when the valve trips is exactly the non-class share
    assert(classPairs.size == 666, s"class clique incomplete: ${classPairs.size}")
    assert(capped.size > 100, "diverse planted pairs must survive")
    val recall = capped.size.toDouble / full.size
    info(f"valve recall with 10%% degenerate class, cap 30: $recall%.3f " +
      f"(${classPairs.size} class pairs shed wholesale, ${capped.size} " +
      "diverse pairs kept — 100% outside the class)")
  }

  test("plan has no cartesian product — candidates come from the " +
    "prefix equi-join") {
    val plan = JwJoin.jaroWinklerSelfJoin(corpus, "id", "name", 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("candidate generation prunes: far pairs never reach the JW gate") {
    // structured corpus: 60 zero-padded names in two families — the
    // prefix filter + length band must generate far fewer candidates
    // than C(60,2) = 1770
    val names = ((1 to 30).map(i => f"customer#$i%09d") ++
      (1 to 30).map(i => f"warehouse-$i%04d-zone")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = names.toDF("id", "name")
    val fast = pairsOf(JwJoin.jaroWinklerSelfJoin(df, "id", "name", 0.95))
    val slow = pairsOf(HofReference.jwBruteForce(df, "id", "name", 0.95))
    assert(fast == slow)
    // cross-family pairs (length 18 vs 19, different char sets) must
    // not appear — the families are far below 0.95
    assert(fast.forall { case (a, b, _) => (a < 30) == (b < 30) })
  }

  /** All-pairs argmax reference: per left id the best right row under
    * the (−jw, right string, right id) tie-break — the contract
    * [[JwJoin.bestMatch]] approximates. */
  private def bruteArgmax(left: org.apache.spark.sql.DataFrame,
                          right: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Double)] =
    left.crossJoin(right.select(col("id").as("rid"),
        col("name").as("rname")))
      .select(col("id"), col("rid"), col("rname"),
        graft.plans.JaroWinkler.jaroWinkler(col("name"), col("rname"))
          .as("jw"))
      .groupBy(col("id"))
      .agg(min(struct(negate(col("jw")), col("rname"), col("rid"),
        col("jw"))).as("m"))
      .select(col("id"), col("m.rid"), col("m.jw"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("bestMatch ≡ the all-pairs argmax when topM covers the right " +
    "side (full retrieval), including ties and repeated strings") {
    val right = corpus.select((col("id") + 100).as("id"), col("name"))
    val got = JwJoin.bestMatch(corpus, "id", "name", right, "id", "name",
        topM = 100, maxDfFraction = 1.0)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = bruteArgmax(corpus, right)
    assert(got == want, s"got $got\nwant $want")
  }

  test("bestMatch: measured recall vs the all-pairs argmax on the " +
    "sf0.01 name corpus, both directions (the AnnRecallSpec " +
    "discipline — floors pinned under the measured values)") {
    val cust = spark.read.parquet(sf("sf0.01") + "/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val supp = spark.read.parquet(sf("sf0.01") + "/supplier.parquet")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
    def recall(l: org.apache.spark.sql.DataFrame,
               r: org.apache.spark.sql.DataFrame, topM: Int): Double = {
      val want = bruteArgmax(l, r)
      val got = JwJoin.bestMatch(l, "id", "name", r, "id", "name",
          topM = topM)
        .as[(Long, Long, Double)].collect()
        .map(x => x._1 -> (x._2, x._3)).toMap
      want.count { case (k, v) => got.get(k).contains(v) }.toDouble /
        want.size
    }
    val rCS = recall(cust, supp, 20)
    val rSC = recall(supp, cust, 20)
    info(f"bestMatch recall cust→supp $rCS%.4f  supp→cust $rSC%.4f")
    // measured 1.0 both ways (candidate GENERATION covers every true
    // argmax — the unigram layer carries the transposition-tie family)
    // — floors pinned at the measured value; q234 routes through this
    // path with the all-pairs form as its oracle.
    // Two-metric note (SCALE.md `jwrecall` reports both): SAME-SCORE
    // recall — emitted jw == the true max jw — is the contract metric
    // (equal-JW partners are equally correct matches; 1.000/0.960 at
    // 1x/10x). EXACT-TUPLE agreement additionally requires winning the
    // oracle's tie-break among equal scores (0.966/0.797 at 1x/10x) —
    // a tie-break-agreement number, NOT a recall miss: every
    // "disagreement" beyond the score metric emitted a partner with
    // the identical jw. This spec measures exact-tuple (got == want)
    // and still reads 1.0 because sf0.01 has no cross-partner ties.
    assert(rCS >= 1.0, s"cust→supp recall $rCS")
    assert(rSC >= 1.0, s"supp→cust recall $rSC")
  }

  test("autoGramLen mechanizes the sizing rule: grows with corpus " +
    "saturation, falls back on vocabulary-starved corpora; gramLen=0 " +
    "default resolves and lands in the lineage") {
    def prepped(names: Seq[String]) =
      JwJoin.prep(names.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "name"), "id", "name", Nil)
    // 16 mixed names: bigram vocabulary alone outgrows the corpus
    // (saturation at 2, one-below floors at minG = 2)
    assert(JwJoin.autoGramLen(prepped(corpus.as[(Long, String)]
      .collect().map(_._2).toSeq)) == 2)
    // 5000 zero-padded digit names saturate bigrams (<=100 live) AND
    // trigrams (<=1000 live): saturation is at >= 4, and the rule
    // picks one below it (the last saturated length)
    val dense = (1 to 5000).map(i => f"$i%09d")
    val g = JwJoin.autoGramLen(prepped(dense))
    assert(g >= 3, s"expected >= 3 on saturated digit names, got $g")
    // single-char alphabet: no length can ever reach |corpus| — fall
    // back to the largest live vocabulary (longest strings win there,
    // smallest length on ties; never throws)
    val starved = (1 to 50).map(i => "a" * (i % 5 + 1))
    val gs = JwJoin.autoGramLen(prepped(starved))
    assert(gs >= 2 && gs <= 6, s"fallback out of range: $gs")
    // the default (0 = auto) resolves and is auditable in the lineage
    val out = JwJoin.bestMatch(corpus, "id", "name",
      corpus.select((col("id") + 100).as("id"), col("name")), "id", "name")
    val alias = "__jw_gramlen_(\\d+)".r
      .findFirstMatchIn(out.queryExecution.analyzed.toString)
    assert(alias.exists(_.group(1) == "2"), "lineage alias missing")
  }

  test("bestMatchCandidates: bounded per left string, cartesian-free " +
    "plan, block restriction holds") {
    val left = corpus.withColumn("blk", col("id") % 2)
    val right = corpus.select((col("id") + 100).as("id"), col("name"),
      (col("id") % 2).as("blk"))
    val cand = JwJoin.bestMatchCandidates(left, "id", "name",
      right, "id", "name", topM = 3, maxDfFraction = 1.0)
    // the bound is per distinct (left string, right string) rep pair:
    // duplicate strings expand past it by construction
    val perLeft = cand
      .join(right.select(col("id").as("id_b"), col("name").as("rn")), "id_b")
      .groupBy(col("id_a"))
      .agg(countDistinct(col("rn")).as("k"))
      .as[(Long, Long)].collect()
    assert(perLeft.nonEmpty && perLeft.forall(_._2 <= 3),
      perLeft.mkString(","))
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the only nested-loop join allowed is the 1-row __N (right-count)
    // broadcast feeding the stopword-threshold filter
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("__N")), bnlj.mkString("\n"))
    // blocked: pairs only within equal blk (ids share parity +100)
    val blocked = JwJoin.bestMatchCandidates(left, "id", "name",
        right, "id", "name", topM = 100, maxDfFraction = 1.0,
        blockCols = Seq(("blk", "blk")))
      .as[(Long, Long, Double)].collect()
    assert(blocked.nonEmpty &&
      blocked.forall { case (a, b, _) => a % 2 == b % 2 })
  }

  test("probeDfBudget bounds the retrieval: a saturated gram is shed " +
    "once the cumulative-df cap is hit, the rarest gram is always " +
    "probed, and an unlimited budget reproduces the unbudgeted set") {
    // right corpus engineered so every row holds one UNIQUE bigram
    // (its 2-letter prefix, df = 1), a semi-rare one (c2+'z', df <= 2)
    // and the HOT suffix "zz" (df = n, plus the saturated 'z' unigram
    // elements); maxDfFraction = 1.0 keeps the hot grams eligible so
    // only the budget can shed them
    val n = 40
    def name(i: Int) = "" + ('a' + (i - 1) / 26).toChar +
      ('a' + (i - 1) % 26).toChar + "zz"
    val right = (1 to n).map(i => (i.toLong, name(i))).toDF("id", "name")
    val left = (1 to 5).map(i => (i.toLong, name(i))).toDF("id", "name")
    def vol(budget: Long) = JwJoin.scoredRepsProbe(left, "id", "name",
      right, "id", "name", gramLen = 2, maxDfFraction = 1.0,
      probeGrams = 1000, probeDfBudget = budget).count()
    // budget 1: only the unique prefix bigram fits (first gram always
    // admitted), so each left row retrieves exactly itself
    assert(vol(1) == 5L, s"budget=1 volume: ${vol(1)}")
    // unlimited budget ≡ unbudgeted: the hot "zz"/unigram postings are
    // probed and every left row retrieves all n right rows
    assert(vol(Long.MaxValue) == 5L * n, s"got ${vol(Long.MaxValue)}")
    // the argmax survives a budget that sheds the hot grams: each left
    // string IS a right string, and its unique prefix gram retrieves it
    val got = JwJoin.bestMatch(left, "id", "name", right, "id", "name",
        probeDfBudget = 8)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 5 &&
      got.forall { case (a, b, jw) => a == b && jw == 1.0 },
      got.mkString(","))
  }

  test("probeDfBudget = 0 (the shipped default) auto-sizes to " +
    "max(512, 8·√|right reps|) and equals the explicit value it " +
    "resolves to") {
    // the r17 budget rule (SCALE.md r17 dial): below the floor corpus
    // (8·√n <= 512 for n <= 4096 reps) auto ≡ explicit 512 — which is
    // why the oracle-certified catalog calls (pass only columns) kept
    // their hash-green results through the default change
    assert(JwJoin.resolveBudget(0L, 1000L) == 512L)
    assert(JwJoin.resolveBudget(0L, 10000L) == 800L)
    assert(JwJoin.resolveBudget(0L, 100000L) == 2530L)
    assert(JwJoin.resolveBudget(77L, 100000L) == 77L) // explicit wins
    // the round-18 saturation-transition boost (SCALE.md r18): fires
    // exactly when rho = |right| / vocab(chosen) < 5 — the measured
    // half-decade values (jwvocab: rho 9.17/9.96/2.98/9.92 at
    // 1x/10x/30x/100x; only 30x boosts, to 0.28·30000 = 8400, which
    // bought recall 0.896 -> 0.9665 where every sqrt-budget plateaued)
    assert(JwJoin.resolveBudget(0L, 30000L, 10083L) == 8400L,
      "rho = 2.98 < 5: boost to ceil(0.28 * 30000)")
    assert(JwJoin.resolveBudget(0L, 100000L, 10083L) == 2530L,
      "rho = 9.92: no boost, the sqrt rule stands")
    assert(JwJoin.resolveBudget(0L, 10000L, 1004L) == 800L,
      "rho = 9.96: no boost")
    assert(JwJoin.resolveBudget(0L, 100L, 109L) == 512L,
      "inside the boost window but under the floor: oracle scales " +
        "resolve to 512 bit-identically (0.28 * 100 = 28 << 512)")
    assert(JwJoin.resolveBudget(0L, 30000L) == 1386L,
      "vocab unknown (explicit gramLen): plain sqrt rule, no boost")
    assert(JwJoin.resolveBudget(77L, 30000L, 10083L) == 77L,
      "explicit budget always wins")
    val cust = spark.read.parquet(sf("sf0.01") + "/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val supp = spark.read.parquet(sf("sf0.01") + "/supplier.parquet")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
    val auto = JwJoin.bestMatch(cust, "id", "name", supp, "id", "name")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val explicit = JwJoin.bestMatch(cust, "id", "name", supp, "id",
        "name", probeDfBudget = 512L)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(auto.sameElements(explicit),
      "auto budget must equal its resolved explicit value")
  }
}
