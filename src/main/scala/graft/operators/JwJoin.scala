package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.JaroWinkler

/** Bounded Jaro-Winkler similarity join — candidate generation for
  * fuzzy-name record linkage without an all-pairs comparison: the
  * short-string counterpart of [[SetSimJoin]] for the JW metric, closing
  * the one similarity family ([[EditDistance]] covers Levenshtein,
  * SetSimJoin covers Jaccard/containment, IVF/LSH cover vectors) whose
  * consumers previously paid a cartesian (reference analog: the
  * politicians natural-key join, load.py:57,70-71, is exactly fuzzy-name
  * linkage once names vary).
  *
  * Principle — a provable no-false-negative prefilter from the Jaro
  * definition. With m matching chars and t >= 0 half-transpositions,
  * J = (m/|a| + m/|b| + (m-t)/m)/3 <= (m/|a| + m/|b| + 1)/3, and the
  * Winkler boost (l <= 4, p = 0.1) gives JW <= 0.6*J + 0.4. So
  * JW >= tau implies:
  *
  *  - J >= j0 = (tau - 0.4)/0.6 (also holds when no boost fires, since
  *    then JW = J >= tau >= j0);
  *  - m >= (3*j0 - 1) * |a||b| / (|a|+|b|) (from the first two terms);
  *  - a LENGTH BAND: m <= min(|a|,|b|) forces
  *    min >= (3*j0 - 2) * max — positive only for tau > 0.8, which is
  *    why the operator requires tau >= 0.82: below that the Jaro bound
  *    admits pairs sharing barely half their characters and NO exact
  *    filter can prune (measured: the q191/q234 best-match queries top
  *    out at jw 0.81 on the test corpus — argmax over all pairs is a
  *    different problem from a threshold join, and keeps its
  *    documented all-pairs oracle shape);
  *  - matched chars are a partial injection preserving the character,
  *    so the CHARACTER-MULTISET overlap |ms(a) ∩ ms(b)| >= m.
  *
  * That turns JW >= tau into an overlap join, and the classic
  * AllPairs/prefix filter applies: represent each string as n elements
  * (char, occurrence-index), order all elements by one global total
  * order (corpus frequency, rare first — smallest posting lists), and
  * keep each record's first p = n - oMin + 1 elements, where oMin is
  * the overlap bound minimized over the record's admissible partner
  * lengths (the band edge — f(L) = (3*j0-1)*n*L/(n+L) is increasing, so
  * L = max(1, (3*j0-2)*n) minimizes). Any pair with overlap >= oMin on
  * both sides shares a prefix element (an integer >= r is >= ceil(r),
  * and longer-than-required prefixes only help), so an equi-join on
  * prefix elements plus the length band yields a candidate superset
  * with ZERO false negatives; the exact codegen'd [[JaroWinkler]] gate
  * decides membership.
  *
  * Scale shape: one narrow projection expands each string into n
  * (char, occ) elements (the occurrence index costs O(n^2) HOF steps
  * per record — the documented SHORT-string envelope shared with
  * [[EditDistance]]: names, titles, codes); elements ride as
  * fixed-width xxhash64 longs (a collision merges two posting lists,
  * which only ADDS candidates — and colliding elements share their
  * JOIN key, so prefix-order ambiguity between them cannot lose a
  * pair); one small frequency agg; a per-record prefix pick (window
  * over tiny id-sized groups); one equi-join shuffle keyed by element;
  * distinct on bare id pairs; strings re-attach via id-keyed joins
  * (the EditDistance discipline — strings never ride the fan-out).
  * `blockCols` equality keys fold into the element hash, so blocked
  * variants add zero join columns; block equality is re-checked
  * null-safely at the gate (a 2^-64 hash collision must not cross
  * blocks). `maxBlockSize` is the recall VALVE (the containmentJoin
  * precedent): elements whose right-side posting list exceeds the cap
  * are dropped from both prefixes — a pair is lost only if every
  * shared prefix element is over the cap; default = off (unbounded,
  * exact). Trip behavior, measured (JwJoinSpec "valve under fire"):
  * on a corpus where one char-multiset class holds ~10% of rows (a
  * 37-member complete clique, every shared variant key held by the
  * whole class), a cap of 30 sheds that class WHOLESALE (all 666
  * clique pairs, in-class recall 0) while every pair outside the
  * class survives exactly (diverse bases don't share over-cap keys).
  * Corpus recall when the valve trips is exactly the non-class share
  * of true pairs — 0.16 on that spec corpus, where the clique
  * carried 84% of them.
  *
  * TWO no-false-negative candidate channels, auto-selected. The prefix
  * filter above is the general one, but it degenerates when the corpus
  * shares its character multisets and only POSITION distinguishes
  * records (zero-padded sequential ids: "…#000014998" vs "…#000014999"
  * — 10 digits over 9 positions means multiset blocks grow with the
  * corpus). At high thresholds a stronger bound kicks in: overlap >=
  * oMin means at most u = n − oMin characters of each record sit
  * OUTSIDE the common multiset M, so deleting <= u chars from each
  * side's SORTED string reaches the same canonical string sorted(M) —
  * the SymSpell deletion-neighborhood discipline ([[EditDistance]])
  * applied to multisets. When D = max admissible u over the observed
  * length range is <= 2 (tau >= ~0.95 on name-length strings), the
  * operator keys candidates on xxhash64(blockHash, sorted-string
  * deletion variant) instead — neighborhoods of 1 + distinct-chars
  * (+ pairs at D = 2) variants, block sizes bounded by true
  * multiset-near-equality rather than shared rare characters
  * (measured 15x on the sequential-name corpus). D is found by one
  * tiny max-length agg; both channels share the band, valve, distinct,
  * re-attach and gate tail.
  *
  * Char identity is UTF-16-per-code-point (same BMP contract as the
  * [[JaroWinkler]] expression — document non-BMP expectations before
  * relying on exactness there). Null and empty strings never pair
  * (JW = 0 by the engines' convention).
  */
object JwJoin {

  private val Eps = 1e-9

  /** The shipped best-match retrieval valves (measured, SCALE.md
    * rounds 16-17) — single source of truth shared by [[bestMatch]],
    * [[bestMatchCandidates]] and [[scoredRepsProbe]] (the specs'
    * retrieval-volume hook), so a default drift can never make the
    * specs silently pin different settings than production.
    * `DefaultProbeDfBudget = 0` = AUTO: resolve to
    * max([[BudgetFloor]], ceil(8·√|right reps|)) — the measured
    * recall-per-cost optimum at each corpus decade (SCALE.md r17
    * budget dial, measured on single-length retrieval: 512 → 1.000 at
    * 1k right reps, 800 → 0.971 at 10k, 2530 → 0.919 at 100k — 0.919
    * being that retrieval's subquadratic plateau; the unbudgeted
    * probe reaches 0.992 at all-pairs-class cost) — PLUS the
    * round-18 saturation-transition boost ([[TransitionRho]]) on the
    * full-auto path, which raises the resolved budget to
    * 0.28·|right| exactly when ρ = |right|/vocab(chosen) < 5 (the
    * measured half-decade window where the √-rule underfeeds the
    * mid-df postings that carry the residual recall). Outside the
    * window the hard fan-out bound stays subquadratic (<= |left| ·
    * max(512, 8·√|right|)); inside it the bound is |left| ·
    * 0.28·|right| — the measured price of the bar there, ~3.6× under
    * the all-pairs oracle. The r17 dual-length union ([[gramTable]])
    * plus this boost measure, at the shipped no-knob defaults,
    * 1.000 / 0.983 / 0.967 / 0.964 across 1k/10k/30k/100k right reps
    * (SCALE.md r18) — the 30x half-decade at 99.7% of its unbudgeted
    * retrieval ceiling (0.9691). */
  private[graft] val DefaultProbeGrams: Int     = 64
  private[graft] val DefaultProbeDfBudget: Long = 0L
  private[graft] val BudgetFloor: Long          = 512L

  /** The SATURATION-TRANSITION budget boost (round-18, closing the
    * r17 30x trough). Mechanism: the √-rule budget buys recall through
    * the chosen length's posting mass, and that mass per gram is
    * df ≈ positions · ρ where ρ = |right| / vocab(chosen). Right after
    * a saturation crossing the selector moves up a length whose live
    * vocabulary is nearly corpus-sized — ρ collapses (measured 3.0 at
    * the 30k-rep half-decade vs 7.7/9.1/9.6 at 1x/10x/100x, `jwvocab`)
    * — so the budget buys ALL the chosen grams cheaply and stops,
    * while the residual recall sits in mid-df (~0.15·|right|) elements
    * no √-budget can admit: the r17 dip (0.896) was measured as a COST
    * cliff, not a cap (unbudgeted 30x ceiling 0.9691; budget
    * 0.27·|right| reaches 0.9660 where 2·/4·√-budgets plateau at
    * 0.908). The rule: when ρ < [[TransitionRho]], raise the auto
    * budget to [[TransitionFraction]]·|right| — inside the transition
    * window ONLY, where it is the measured price of the bar; outside
    * it the √-rule stands and total work stays O(|L|·√|R|). The boost
    * needs vocab(chosen), so it applies exactly on the full-auto path
    * (gramLen = 0), where the probe pass already computed it — pinned
    * explicit gramLen keeps the plain √-rule (geometry-pinning
    * callers, including every oracle-certified catalog call, resolve
    * bit-identically: below 4k reps the 512 floor dominates both
    * terms). */
  private[graft] val TransitionRho: Double      = 5.0
  private[graft] val TransitionFraction: Double = 0.28

  /** `chosenVocab` = the live (block, gram) vocabulary of the chosen
    * gram length (0 = unknown → no transition boost; see
    * [[TransitionRho]]). */
  private[graft] def resolveBudget(probeDfBudget: Long, nRight: Long,
                                   chosenVocab: Long = 0L): Long =
    if (probeDfBudget != 0L) probeDfBudget
    else {
      val base = math.max(BudgetFloor,
        math.ceil(8.0 * math.sqrt(math.max(0L, nRight).toDouble)).toLong)
      if (chosenVocab > 0L &&
          nRight.toDouble < TransitionRho * chosenVocab.toDouble)
        math.max(base,
          math.ceil(TransitionFraction * nRight.toDouble).toLong)
      else base
    }

  private[graft] val DefaultMaxDfFraction       = 0.25

  /** All pairs (id_a, id_b) across two tables with
    * jaroWinkler(strA, strB) >= threshold, optionally restricted to
    * equal `blockCols` (null-safe: null blocks with null, the
    * blockingReport convention). Output: (id_a, id_b, jw) with jw the
    * exact unrounded score. */
  def jaroWinklerJoin(left: DataFrame, leftIdCol: String, leftStrCol: String,
                      right: DataFrame, rightIdCol: String, rightStrCol: String,
                      threshold: Double,
                      blockCols: Seq[(String, String)] = Nil,
                      maxBlockSize: Int = Int.MaxValue): DataFrame =
    join(prep(left, leftIdCol, leftStrCol, blockCols.map(_._1)),
      prep(right, rightIdCol, rightStrCol, blockCols.map(_._2)),
      threshold, maxBlockSize, selfPairs = false)

  /** All pairs (id_a < id_b) within one table with jw >= threshold.
    * Same contract as [[jaroWinklerJoin]]. */
  def jaroWinklerSelfJoin(df: DataFrame, idCol: String, strCol: String,
                          threshold: Double,
                          blockCols: Seq[String] = Nil,
                          maxBlockSize: Int = Int.MaxValue): DataFrame = {
    val p = prep(df, idCol, strCol, blockCols)
    join(p, p, threshold, maxBlockSize, selfPairs = true)
  }

  /** Normalize one side: (__id, __s, __n, __bh, __bk) with the block
    * key folded to one null-safe struct. private[graft]: [[ErStore]]
    * persists and replays these shapes. */
  private[graft] def prep(df: DataFrame, idCol: String, strCol: String,
                          blockCols: Seq[String]): DataFrame = {
    val bk =
      if (blockCols.isEmpty) struct(lit(0).as("__z"))
      else struct(blockCols.map(col): _*)
    df.select(col(idCol).as("__id"), col(strCol).as("__s"), bk.as("__bk"))
      .filter(col("__s").isNotNull && length(col("__s")) > 0)
      .withColumn("__n", length(col("__s")))
      .withColumn("__bh", xxhash64(col("__bk")))
  }

  /** (char, occurrence-index) elements of __s as an array of structs —
    * occ disambiguates repeats so shared elements count the multiset
    * intersection exactly. */
  private def elements(s: Column, n: Column): Column =
    transform(sequence(lit(1), n), i =>
      struct(s.substr(i, lit(1)).as("ch"),
        size(filter(sequence(lit(1), i),
          j => s.substr(j, lit(1)) === s.substr(i, lit(1)))).as("occ")))

  /** Exploded prefix elements of one prepped side: (__id, __n, __rn,
    * __eh) where __eh = xxhash64(blockHash, ch, occ), __rn the
    * element's rank in the global order, and only the record's first p
    * elements in (freq asc, hash asc) order survive. `freq` is the
    * shared global order (computed over BOTH sides' element universes
    * by the caller). The rank rides into the join so the PAIR-level
    * prefix bound (rank <= n − o(n_a,n_b) + 1, the positional PPJoin
    * refinement of the per-record band-edge bound) can prune there. */
  private def prefixes(prepped: DataFrame, freq: DataFrame,
                       j0: Double): DataFrame = {
    val alpha = 3.0 * j0 - 2.0
    val lmin = greatest(lit(1.0), col("__n").cast("double") * alpha)
    val f = (lit(3.0 * j0 - 1.0) * col("__n").cast("double") * lmin) /
      (col("__n").cast("double") + lmin)
    val oMin = greatest(lit(1L), ceil(f - Eps))
    val p = greatest(lit(1L), col("__n").cast("long") - oMin + 1L)
    // Partition by the string alongside the id: a 2^-64 rep-hash
    // collision (dedup-first reps derive __id from xxhash64(block,
    // string)) would otherwise merge two records' element sets and
    // could crowd a true element out of a prefix — a recall hole the
    // exact gate cannot repair. The string is short (names) and rides
    // only this prefix-ranking shuffle.
    val w = Window.partitionBy(col("__id"), col("__s"))
      .orderBy(col("__cnt").asc, col("__eh").asc)
    prepped
      .select(col("__id"), col("__n"), col("__bh"), col("__s"), p.as("__p"),
        explode(elements(col("__s"), col("__n"))).as("__e"))
      .select(col("__id"), col("__n"), col("__s"), col("__p"),
        xxhash64(col("__bh"), col("__e.ch"), col("__e.occ")).as("__eh"))
      .join(freq, "__eh")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__p"))
      .select(col("__id"), col("__n"), col("__rn").cast("long").as("__rn"),
        col("__eh"))
  }

  private def allElements(prepped: DataFrame): DataFrame =
    prepped.select(col("__bh"),
        explode(elements(col("__s"), col("__n"))).as("__e"))
      .select(xxhash64(col("__bh"), col("__e.ch"), col("__e.occ")).as("__eh"))

  /** Scala-side mirror of the per-record overlap bound: the minimum
    * character-multiset overlap any JW >= tau partner of an n-char
    * string must have. */
  private[graft] def oMinOf(threshold: Double, n: Int): Int = {
    val j0 = (threshold - 0.4) / 0.6
    val alpha = 3.0 * j0 - 2.0
    val lmin = math.max(1.0, n * alpha)
    val f = (3.0 * j0 - 1.0) * n * lmin / (n + lmin)
    math.max(1L, math.ceil(f - Eps).toLong).toInt
  }

  /** Deletion depth for the sorted-multiset channel: the largest
    * number of out-of-overlap chars any record of length <= maxLen can
    * carry. The channel is used only when this is <= 2 (the
    * EditDistance tree-growth envelope). */
  private[graft] def deletionDepth(threshold: Double, maxLen: Int): Int =
    if (maxLen < 1) 0
    else (1 to maxLen).map(n => n - math.min(n, oMinOf(threshold, n))).max

  /** Exploded deletion-variant keys of one prepped side: (__id, __n,
    * __dd, __del, __eh) with __eh = xxhash64(blockHash, variant of the
    * sorted string up to depth d <= 2), __dd the variant's deletion
    * depth, and __del the DELETED chars (canonical sorted string,
    * length __dd). Two bounds ride into the join:
    *  - __dd <= n − o(n_a,n_b): deep variants only pair with genuinely
    *    shorter partners, so an all-equal-length corpus joins at the
    *    depth its same-length bound implies, not the band edge's;
    *  - disjoint(__del_a, __del_b): keeps exactly the MAXIMAL common
    *    multiset witness M* = ms(a) ∩ ms(b) — a char deleted from BOTH
    *    sides means the shared variant is a proper sub-multiset of M*,
    *    a duplicate row of the same pair (equal-multiset pairs
    *    otherwise join once per shared variant, a ~|alphabet|×
    *    pre-distinct blow-up measured 13x on the name corpus). */
  private[graft] def multisetKeys(prepped: DataFrame, d: Int): DataFrame = {
    require(d <= 2, s"multiset channel requires depth <= 2, got $d")
    // variants ride as flat strings "<depth digit><deleted chars><variant>"
    // (fixed-width decode, unambiguous for any char content). Deleting
    // i < j from the SORTED string makes the deleted pair canonical for
    // free. Construction is the codegen'd
    // [[graft.plans.MultisetVariantKeys]] (sort folded in): the
    // interpreted nested-transform HOF chain it replaced — kept as the
    // reference form in JwJoinSpec — built ~n²/2 concat-of-substr trees
    // per rep and was 3.4 s of q274's 6.4 s sf0.1 wall on its own.
    val variants = graft.plans.MultisetVariantKeys.of(col("__s"), d)
    val dd = col("__t").substr(lit(1), lit(1)).cast("long")
    prepped
      .select(col("__id"), col("__n"), col("__bh"),
        explode(array_distinct(variants)).as("__t"))
      .select(col("__id"), col("__n"), dd.as("__dd"),
        col("__t").substr(lit(2), dd.cast("int")).as("__del"),
        xxhash64(col("__bh"),
          col("__t").substr(dd.cast("int") + 2,
            col("__n").cast("int"))).as("__eh"))
      // key-partition the exploded variants: (a) spreads the
      // explode+sort work off a single input file's one task, (b) both
      // join sides canonicalize to the same exchange subtree, so
      // ReuseExchange computes the variants ONCE per join, (c)
      // HashPartitioning(__eh) satisfies the candidate join's
      // clustered distribution — no further shuffle
      .repartition(col("__eh"))
  }

  /** No shared char between two canonical deleted-strings (each length
    * <= 2). `contains(x, "")` is true, so every probe is length-guarded. */
  private def delDisjoint(da: Column, db: Column): Column =
    !(length(da) >= 1 && contains(db, da.substr(lit(1), lit(1)))) &&
      !(length(da) >= 2 && contains(db, da.substr(lit(2), lit(1))))

  private[graft] def requireThreshold(threshold: Double): Unit =
    require(threshold >= 0.82 && threshold <= 1.0,
      s"threshold must be in [0.82, 1], got $threshold — below 0.82 the " +
        "Jaro length/overlap bounds admit pairs sharing barely half " +
        "their characters and no exact prefilter can prune; an argmax " +
        "(best-match) query is a different problem — score candidates " +
        "from a domain blocking key instead")

  /** Candidate pairs (__ida, __idb) from two MULTISET-KEYED sides
    * ([[multisetKeys]] shapes — the a side as-is, the b side fanned
    * here over its admissible partner lengths). private[graft]:
    * [[ErStore]] replays the a side from its persisted key layout.
    *
    * A common variant v = sorted(M) exists at depths (n_a − |M|,
    * n_b − |M|), both within n − o(n_a,n_b), and variant lengths must
    * agree (|v| = n_a − dd_a = n_b − dd_b) — so the fanned partner
    * length joins as a KEY: inadmissible depth combos — (2,2) on an
    * equal-length pair, 93% of raw match volume measured on the name
    * corpus — never meet instead of being filtered after the hash
    * join iterates them. The pair-level overlap bound o(n_a,n_b)
    * refines each record's band-edge bound (an integer >= r is
    * >= ceil(r), so ceil is safe pair-wise too). */
  private[graft] def deletionCandidates(aKeys: DataFrame, bKeys: DataFrame,
                                        threshold: Double, d: Int,
                                        selfPairs: Boolean,
                                        maxBlockSize: Int): DataFrame = {
    val j0 = (threshold - 0.4) / 0.6
    val alpha = 3.0 * j0 - 2.0
    // The pair-level overlap bound is enforced structurally here: the
    // fanned partner length joins as a key (__na === __pna below), so
    // oFan — computed against the fanned partner length — IS the
    // pair-level bound for every pair this channel can emit.
    val pna = col("__n").cast("long") - col("__dd") + col("__fd")
    val oFan = greatest(lit(1L), ceil(
      (lit(3.0 * j0 - 1.0) * pna.cast("double") *
        col("__n").cast("double")) /
        (pna.cast("double") + col("__n").cast("double")) - Eps))
    val pb0 = bKeys
      .withColumn("__fd", explode(sequence(lit(0L), lit(d.toLong))))
      .filter(col("__fd") <= pna - oFan &&
        col("__dd") <= col("__n").cast("long") - oFan)
      .select(col("__id").as("__idb"), col("__n").as("__nb"),
        col("__del").as("__delb"), pna.as("__pna"), col("__eh"))
    val pa = aKeys
      .select(col("__id").as("__ida"), col("__n").as("__na"),
        col("__del").as("__dela"), col("__eh"))
    val posBound = col("__na").cast("long") === col("__pna") &&
      delDisjoint(col("__dela"), col("__delb"))
    candJoin(pa, pb0, posBound, alpha, selfPairs, maxBlockSize)
  }

  /** The shared candidate-join tail: recall valve, length band,
    * pair predicate, distinct on bare id pairs. */
  private def candJoin(pa: DataFrame, pb0: DataFrame, posBound: Column,
                       alpha: Double, selfPairs: Boolean,
                       maxBlockSize: Int): DataFrame = {
    // recall valve: drop elements whose right-side posting list exceeds
    // the cap (documented recall trade, off by default)
    val (paV, pbV) =
      if (maxBlockSize == Int.MaxValue) (pa, pb0)
      else {
        val keep = pb0.groupBy("__eh").agg(count(lit(1)).as("__pc"))
          .filter(col("__pc") <= maxBlockSize).select(col("__eh"))
        (pa.join(keep, "__eh"), pb0.join(keep, "__eh"))
      }
    val band = col("__na").cast("double") >=
        col("__nb").cast("double") * alpha - 1e-6 &&
      col("__nb").cast("double") >=
        col("__na").cast("double") * alpha - 1e-6
    val pairPred =
      if (selfPairs) col("__ida") < col("__idb") && band && posBound
      else band && posBound
    // rename-keyed: in the self-pair case both sides share the scan
    // lineage, and same-lineage refs lean on dataset-id disambiguation
    paV.join(pbV.withColumnRenamed("__eh", "__ehb"),
        col("__eh") === col("__ehb") && pairPred)
      .select(col("__ida"), col("__idb"))
      .distinct()
  }

  /** Exact gate on candidate pairs: re-attach names via id-keyed joins
    * (strings never ride the candidate fan-out), re-check block
    * equality null-safely (a 2^-64 element-hash collision must not
    * link across blocks), evaluate the codegen JW. `namesX` shape:
    * (__idX, __sX, __bkX). private[graft]: [[ErStore]] gates
    * batch-vs-stored candidates with names from two layouts. */
  private[graft] def gateJw(cand: DataFrame, namesA: DataFrame,
                            namesB: DataFrame, threshold: Double,
                            keepNames: Boolean = false): DataFrame = {
    val keep = if (keepNames)
      Seq(col("__sa"), col("__bka"), col("__sb"), col("__bkb"))
    else Seq.empty
    cand.join(namesA, "__ida").join(namesB, "__idb")
      .filter(col("__bka") <=> col("__bkb"))
      .select(col("__ida").as("id_a") +: col("__idb").as("id_b") +:
        JaroWinkler.jaroWinkler(col("__sa"), col("__sb")).as("jw") +:
        keep: _*)
      .filter(col("jw") >= threshold)
  }

  private[graft] def namesOf(prepped: DataFrame, side: String): DataFrame =
    prepped.select(col("__id").as(s"__id$side"), col("__s").as(s"__s$side"),
      col("__bk").as(s"__bk$side"))

  private def join(a: DataFrame, b: DataFrame, threshold: Double,
                   maxBlockSize: Int, selfPairs: Boolean): DataFrame = {
    requireThreshold(threshold)
    require(maxBlockSize > 0,
      s"maxBlockSize must be positive, got $maxBlockSize")
    val j0 = (threshold - 0.4) / 0.6
    val alpha = 3.0 * j0 - 2.0
    // DEDUP-FIRST: the whole candidate machinery runs on DISTINCT
    // (string, block) representatives — a corpus where each name
    // repeats c times otherwise pays c² through every posting list
    // (measured 18 s → 2 s on the 200-copies-per-name part corpus);
    // id pairs expand back at the end through exact string-keyed
    // joins. The representative id is xxhash64(blockHash, string) — a
    // collision merely merges two posting lists (the exact gate and
    // the exact expansion keys still decide).
    // lazy local checkpoint (the bestMatchFrames discipline): the rep
    // table is read by the channel-selection agg, the key explode (per
    // side), the exact gate's two name joins and the expansion — one
    // materialization instead of a re-embedded prep+distinct subtree
    // per reference (the maxLen collect below materializes it)
    val aD = Materialize(dedupReps(a))
    val bD = if (selfPairs) aD
      else Materialize(dedupReps(b))
    // channel selection: one tiny max-length agg decides whether the
    // sorted-multiset deletion neighborhood is affordable (D <= 2)
    val maxLen = {
      def m(df: DataFrame): Int = {
        val r = df.agg(max(col("__n"))).collect().head
        if (r.isNullAt(0)) 0 else r.getInt(0)
      }
      if (selfPairs) m(aD) else math.max(m(aD), m(bD))
    }
    val d = deletionDepth(threshold, maxLen)
    val cand =
      if (d <= 2)
        deletionCandidates(multisetKeys(aD, d),
          multisetKeys(bD, d),
          threshold, d, selfPairs, maxBlockSize)
      else {
        // one global element order shared by both sides: corpus
        // frequency, rare first (self-join: count once). The FIRST
        // common element of a true pair sits in both prefixes with
        // rank <= n − o + 1 and everything before it unshared, so the
        // positional + suffix-count bounds keep at least that row.
        val universe = if (selfPairs) allElements(aD)
          else allElements(aD).unionByName(allElements(bD))
        val freq = universe.groupBy("__eh").agg(count(lit(1)).as("__cnt"))
        val oPair = greatest(lit(1L), ceil(
          (lit(3.0 * j0 - 1.0) * col("__na").cast("double") *
            col("__nb").cast("double")) /
            (col("__na").cast("double") + col("__nb").cast("double")) - Eps))
        val pa = prefixes(aD, freq, j0)
          .select(col("__id").as("__ida"), col("__n").as("__na"),
            col("__rn").as("__rna"), col("__eh"))
        val pb0 = prefixes(bD, freq, j0)
          .select(col("__id").as("__idb"), col("__n").as("__nb"),
            col("__rn").as("__rnb"), col("__eh"))
        val posBound =
          col("__rna") <= col("__na").cast("long") - oPair + 1L &&
            col("__rnb") <= col("__nb").cast("long") - oPair + 1L &&
            lit(1L) + least(col("__na").cast("long") - col("__rna"),
              col("__nb").cast("long") - col("__rnb")) >= oPair
        candJoin(pa, pb0, posBound, alpha, selfPairs, maxBlockSize)
      }
    // gate on representative pairs (distinct strings), then expand to
    // id pairs through exact (string, block) keys
    val repPairs = gateJw(cand, namesOf(aD, "a"), namesOf(bD, "b"),
      threshold, keepNames = true)
    val expanded = expandRepPairs(repPairs, a, if (selfPairs) a else b)
    if (!selfPairs)
      expanded.select(col("__reala").as("id_a"),
        col("__realb").as("id_b"), col("jw"))
    else {
      // rep order (hash) is not id order: normalize, and add the
      // identical-string diagonal the rep_a < rep_b machinery cannot
      // see (jw(s, s) = 1.0 exactly, the sim() early exit)
      val cross = expanded.select(
        least(col("__reala"), col("__realb")).as("id_a"),
        greatest(col("__reala"), col("__realb")).as("id_b"), col("jw"))
      val diag = a.select(col("__id").as("id_a"), col("__s"), col("__bk"))
        .join(a.select(col("__id").as("id_b"), col("__s"), col("__bk")),
          Seq("__s", "__bk"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jw"))
      cross.unionByName(diag)
    }
  }

  /** Expand gated REPRESENTATIVE pairs (id_a/id_b are rep hashes, with
    * kept names __sa/__bka/__sb/__bkb) back to real id pairs through
    * exact (string, block) keys — a representative-hash collision fans
    * extra rows and the exact keys reject them here. Output keeps
    * (__reala, __realb, jw). */
  private def expandRepPairs(repPairs: DataFrame, a: DataFrame,
                             b: DataFrame): DataFrame = {
    val mapA = a.select(xxhash64(col("__bh"), col("__s")).as("id_a"),
      col("__id").as("__reala"), col("__s").as("__esa"),
      col("__bk").as("__ebka"))
    val mapB = b.select(xxhash64(col("__bh"), col("__s")).as("id_b"),
      col("__id").as("__realb"), col("__s").as("__esb"),
      col("__bk").as("__ebkb"))
    repPairs
      .join(mapA, "id_a").join(mapB, "id_b")
      .filter(col("__sa") === col("__esa") && col("__sb") === col("__esb") &&
        (col("__bka") <=> col("__ebka")) && (col("__bkb") <=> col("__ebkb")))
  }

  /** Distinct (string, block) representatives of a prepped side, with
    * the representative hash as the working __id. */
  private def dedupReps(prepped: DataFrame): DataFrame =
    prepped.select(col("__s"), col("__bk"), col("__n"), col("__bh"))
      .distinct()
      .withColumn("__id", xxhash64(col("__bh"), col("__s")))

  // -----------------------------------------------------------------------
  // Approximate best-match (argmax) retrieval
  // -----------------------------------------------------------------------

  /** Exploded gram element hashes of one prepped side: (__id, __eh)
    * with __eh = xxhash64(blockHash, gram, occurrence-index) — the occ
    * index gives multiset semantics (a repeated gram is two elements),
    * the block hash keeps cross-block grams from ever joining. The
    * universe is UNIGRAMS ∪ (gramLen−1)-grams ∪ gramLen-grams:
    * unigram (char, occ) overlap is exactly the Jaro matching-chars
    * bound (it retrieves transposition-heavy partners that share NO
    * adjacent pair — the "...210" vs "...012" tie family bigrams
    * alone miss), the q-grams add the adjacency signal that ranks
    * low-transposition partners ahead, and the ONE-SHORTER length is
    * the r17 saturation-transition hedge (SCALE.md r17 open finding):
    * a substitution destroys g consecutive g-grams, so right after
    * the vocabulary-saturation boundary the longer length's
    * informative postings outprice the budget while the shorter
    * length's still fit — probing both under ONE rarest-first budget
    * lets the budget arbitrate (measured: the 30k-rep half-decade
    * read 0.744 with gramLen-only retrieval vs 0.896 at the shorter
    * length; the union recovers it with no new bound — fan-out stays
    * <= |left|·budget). Lengths below 2 are skipped (gramLen = 2
    * retrieval is unchanged — every oracle-certified scale resolves
    * there). Strings shorter than a length skip that layer. Same
    * O(n²)-HOF short-string envelope as [[elements]]. */
  private def gramTable(prepped: DataFrame, gramLen: Int): DataFrame = {
    val n = col("__n")
    def windows(len: Int) =
      transform(sequence(lit(1), n - (len - 1)), i =>
        col("__s").substr(i, lit(len)))
    def guarded(len: Int) =
      when(n < len, array().cast("array<string>"))
        .otherwise(windows(len))
    val grams = Seq(gramLen - 1, gramLen).filter(_ >= 2).distinct
      .foldLeft(windows(1))((acc, l) => concat(acc, guarded(l)))
    // occurrence indices via a count-then-sequence explode, NOT a
    // per-position filter HOF — HOFs are interpreted (the
    // charEntropies lesson) and the quadratic occ filter measured 3 s
    // on 15k names where this shape is a codegen count
    prepped.select(col("__id"), col("__bh"), explode(grams).as("__g"))
      .groupBy(col("__id"), col("__bh"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__id"),
        explode(sequence(lit(1L), col("__c"))).as("__occ"),
        xxhash64(col("__bh"), col("__g")).as("__gh"))
      .select(col("__id"), xxhash64(col("__gh"), col("__occ")).as("__eh"))
  }

  /** The `gramLen = 0` AUTO-SIZING probe. Find the smallest gramLen in
    * [2, 6] whose live (block, gram) vocabulary on the RIGHT side
    * reaches |right| distinct strings (the saturation point, where
    * posting lists stop growing with the corpus), then pick ONE BELOW
    * it — the last SATURATED length. Rationale, measured (SCALE.md
    * round-16): `probeDfBudget`, not vocabulary growth, now carries
    * the volume guarantee (fan-out <= |left| * budget at any length),
    * so the length should be chosen for RECALL per budget unit — and
    * that is densest just below saturation, where true near-matches
    * still share many grams but each gram narrows the corpus the most.
    * On the 10x name corpus: the saturating length (4) scores 0.833
    * same-score argmax recall, one-below (3) scores 0.960, two-below
    * (2) scores 0.920 — all at the identical budget; at 1x, one-below
    * (2) scores 1.000. When no length saturates (the corpus outgrows
    * every achievable vocabulary — very short strings or a tiny
    * alphabet), fall back to the largest vocabulary seen (smallest
    * length on ties; no minus-one, since posting behavior never
    * plateaus). One pass over the right reps: all five window lengths
    * explode together and aggregate to five HLL counters
    * (approx_count_distinct — a few-percent error only moves the
    * decision between neighboring lengths whose posting behavior is
    * near-identical at the boundary). Sizing on the right side alone
    * is sufficient for the symmetric (reciprocal) form too: the pair
    * fan-out stays budget-bounded per LEFT row regardless. */
  private[graft] def autoGramLen(bD: DataFrame, minG: Int = 2,
                                 maxG: Int = 6, nRight: Long = -1L): Int =
    autoGramLenVocab(bD, minG, maxG, nRight)._1

  /** [[autoGramLen]] plus the probe's per-length live-vocabulary map —
    * the chosen length's entry feeds the saturation-transition budget
    * boost ([[TransitionRho]]) at zero extra cost. */
  private[graft] def autoGramLenVocab(bD: DataFrame, minG: Int = 2,
                                      maxG: Int = 6, nRight: Long = -1L)
      : (Int, Map[Int, Long]) = {
    val nR = if (nRight >= 0L) nRight else bD.count()
    val n = col("__n")
    val layered = array((minG to maxG).map { g =>
      struct(lit(g).as("g"),
        when(n < g, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), n - (g - 1)),
            i => col("__s").substr(i, lit(g)))).as("ws"))
    }: _*)
    val vocab = bD
      .select(col("__bh"), explode(layered).as("__x"))
      .select(col("__x.g").as("g"), col("__bh"),
        explode(col("__x.ws")).as("w"))
      .groupBy(col("g"))
      .agg(approx_count_distinct(struct(col("__bh"), col("w"))).as("v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val g = (minG to maxG).find(g => vocab.getOrElse(g, 0L) >= nR)
      .map(g => math.max(minG, g - 1))
      .getOrElse((minG to maxG).maxBy(g => (vocab.getOrElse(g, 0L), -g)))
    (g, vocab)
  }

  /** Proxy-scored candidate rep pairs: every pair sharing at least
    * one surviving probe gram, scored by the IDF-weighted shared-gram
    * sum — the retrieval core all best-match forms share. The proxy
    * exists to BOUND the exact-JW gate (the topM cut keeps ~topM
    * rows/left where the raw candidate set runs hundreds/left); its
    * ranking quality is part of the measured recall contract, and the
    * unigram element layer is what keeps transposition-heavy ties
    * retrievable (the "...210" vs "...012" family shares no bigram).
    *
    * Volume shape: one gram-keyed equi-join (work = Σ posting-list
    * sizes over each left's probe grams, never |L|·|R|).
    * `maxDfFraction` drops grams held by more than that fraction of
    * the right side (stopword valve: corpus-sized posting lists carry
    * no signal); `probeGrams` bounds each LEFT record to its rarest
    * surviving grams (rank by right-side df — the AllPairs prefix
    * discipline applied to retrieval); `probeDfBudget` additionally
    * caps each left record's CUMULATIVE probed df — the valve that
    * makes total fan-out <= |left| * budget at any corpus size (see
    * the inline note at the probe prefix). Explicit-width repartitions
    * pin the parallelism of the CPU-heavy middle: these tables are
    * bytes-small, and AQE would coalesce the fan-out + aggregation
    * onto one task (the covarianceMatrix finding). Downstream rides
    * the __ida partitioning end-to-end: the pair agg, the per-left
    * cut window, the gate's broadcast probes — one exchange for the
    * whole middle.
    *
    * Output: (__ida, __idb, __score) at REP grain. */
  private def bestMatchScoredReps(aD: DataFrame, bD: DataFrame,
                                  gramLen: Int, maxDfFraction: Double,
                                  probeGrams: Int,
                                  probeDfBudget: Long): DataFrame = {
    val ga = gramTable(aD, gramLen).select(col("__id").as("__ida"),
      col("__eh"))
    val gb = gramTable(bD, gramLen).select(col("__id").as("__idb"),
      col("__eh"))
    val nB = bD.agg(count(lit(1)).cast("double").as("__N"))
    // (rep, gram) rows are distinct by construction (occ index), so
    // df = posting-list length; the surviving-gram table is
    // gram-vocabulary-sized (sublinear in the corpus for short
    // strings) — broadcast it so the left gram table never shuffles
    // for the df lookup
    // IDF weights ride as 1e9-scaled LONGS: exact deterministic sums
    // (no double reassociation at the topM cut boundary) at long-sum
    // speed
    val dfT = gb.groupBy(col("__eh")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nB))
      .filter(col("__df").cast("double") <= col("__N") * maxDfFraction)
      .select(col("__eh"), col("__df"),
        round(log(lit(1.0) + col("__N") / col("__df").cast("double")) *
          1e9).cast("long").as("__w"))
    val par = aD.sparkSession.sparkContext.defaultParallelism
    val gaW = ga.join(broadcast(dfT), "__eh")
      .repartition(par, col("__ida"))
    val gaP =
      if (probeGrams == Int.MaxValue && probeDfBudget == Long.MaxValue)
        gaW.select(col("__ida"), col("__eh"), col("__w"))
      else {
        // rarest-first probe prefix, DOUBLE-valved: a count cap
        // (probeGrams, the AllPairs discipline) and a cumulative-df
        // budget. The budget is what makes the retrieval volume
        // LINEAR BY CONSTRUCTION: Σ probed posting-list lengths per
        // left row <= probeDfBudget (+ the always-admitted first
        // gram), so total fan-out <= |left| * budget at ANY corpus
        // size — without it, saturated unigram elements (df grows
        // linearly with the corpus, yet under maxDfFraction) fill the
        // probe set and the fan-out goes quadratic (measured r16:
        // 1.9M -> 216M pair rows from 1x -> 10x at probeGrams=12).
        // Rare grams are cheap, so dozens fit; saturated grams only
        // enter while budget remains. The admit rule is cum-AFTER <=
        // budget (not cum-before: that version overshoots by the last
        // gram's df, which is bounded only by maxDfFraction * |right|
        // — corpus-LINEAR, and measured r16 it left 114M of the 216M
        // fan-out standing). The first (rarest) gram is always
        // admitted so no left row goes probe-less; it is the one
        // per-row term the cap can't bound, and it's the RAREST
        // surviving gram — pathological only when a row's sole
        // surviving gram is near the maxDfFraction stopword line.
        val w = Window.partitionBy(col("__ida"))
          .orderBy(col("__df").asc, col("__eh").asc)
        gaW.withColumn("__pr", row_number().over(w))
          .withColumn("__cum", sum(col("__df")).over(w))
          .filter(col("__pr") <= probeGrams &&
            (col("__cum") <= probeDfBudget || col("__pr") === 1))
          .select(col("__ida"), col("__eh"), col("__w"))
      }
    // the pair aggregation rides the __ida partitioning (a subset of
    // the grouping key satisfies the clustered distribution): no
    // exchange between the fan-out, the pair agg, the proxy cut and
    // the gate
    gaP.join(gb, "__eh")
      .groupBy(col("__ida"), col("__idb"))
      .agg(sum(col("__w")).as("__score"))
  }

  /** APPROXIMATE best-match candidates: for each left row, up to
    * `topM` right rows by IDF-weighted shared-gram score, each scored
    * with the exact codegen [[JaroWinkler]] — the near-linear serving
    * path for ARGMAX (best-match) linkage, which the bounded
    * threshold join provably cannot serve (best matches routinely
    * score below the 0.82 bound floor where no exact prefilter
    * exists; [[requireThreshold]]). The [[graft.functions.IvfIndex]]
    * contract applied to strings: the candidate set is a RECALL
    * TRADE, not exact — measure recall vs the all-pairs argmax on a
    * sample of YOUR corpus and size `topM`/`probeGrams`/
    * `probeDfBudget`/`maxDfFraction` under the measured value
    * (JwJoinSpec measures 1.0 at the defaults on the sf0.01 name
    * corpus, both directions; the all-pairs form stays the oracle). A
    * left row sharing no surviving gram with any right row emits
    * nothing.
    *
    * Default sizing (measured, SCALE.md rounds 16-17): `probeDfBudget`
    * is the SCALE knob — it caps each left row's summed posting-list
    * lengths, bounding retrieval fan-out BY CONSTRUCTION (<= |left| *
    * budget at any corpus size), where the r16 diagnosis measured
    * quadratic growth from budget-less probes (216M pair rows at 10x
    * vs 17.7M budgeted; the budget admits every rare recall-carrying
    * gram — digit q-grams cost ~6 df each — and sheds exactly the
    * saturated corpus-linear lists that carried the least recall per
    * df). The DEFAULT (`probeDfBudget = 0`) is AUTO: max(512,
    * ceil(8·√|right reps|)) — the r17 budget-dial measurement
    * (same-score argmax recall on the name corpus): a FIXED 512 holds
    * 1.000/0.955 across the first two decades but decays to 0.848 at
    * the third (posting mass grows with the corpus while the spend is
    * fixed), and the √-rule's resolved values (512/800/2530 at
    * 1k/10k/100k right reps) measured 1.000/0.971/0.919 on
    * single-length retrieval — with the shipped dual-length union
    * ([[gramTable]]'s saturation-transition hedge) the same resolved
    * budgets measure 1.000/0.983/0.964, plus 0.896 at the 30k
    * half-decade that single-length retrieval dipped to 0.744. The
    * single-length third-decade plateau (0.919 — 4096 bought +0.0005)
    * sat in chunky df ≈ 5k-25k mid-frequency postings; buying recall
    * there without the union costs O(|L|·|R|)-shaped fan-out (the
    * fully-unbudgeted probe measured 0.992 — available, at the
    * all-pairs cost class the budget exists to prevent). At the
    * SATURATION-TRANSITION half-decade (ρ = |right|/vocab(chosen)
    * < [[TransitionRho]] — measured 2.98 at 30k reps vs 9.2-9.9
    * everywhere else) the full-auto path additionally boosts the
    * budget to 0.28·|right|: the r18 probe showed the 30x residual
    * (0.896 at every √-budget: 2048/4096 plateau at 0.908) is a cost
    * cliff whose price is exactly the mid-df class — budget 8400
    * reaches 0.9665 of an unbudgeted 0.9691 ceiling. Outside the
    * window the hard bound stays subquadratic: <= |left| · max(512,
    * 8·√|right|); inside it, |left|·0.28·|right| — documented
    * deliberately, ~3.6× under all-pairs, and only where measurement
    * says the bar costs that much. With the gate bounded
    * by the budget, `topM` defaults to UNBOUNDED: the proxy-ranked cut
    * is pure recall loss when its only historic job (bounding the
    * exact-JW gate) is already done — measured at 1x, same-score
    * argmax recall 0.906 at topM=20, 0.987 at topM=100, 1.000
    * unbounded, identical budget. Pass a finite topM only to bound
    * this operator's OUTPUT per left row (candidate-list consumers).
    * CAUTION: disabling BOTH probe valves (`probeGrams = Int.MaxValue`
    * AND `probeDfBudget = Long.MaxValue`) under the unbounded-topM
    * default removes every bound in the operator — the exact-JW gate
    * then runs on the FULL gram fan-out (only `maxDfFraction` trims
    * it), which is the measured-quadratic budget-less shape. Turning
    * both valves off is an exhaustive-retrieval debugging mode; keep a
    * finite topM (the pre-budget backstop) if you must run it on a
    * corpus of any size.
    *
    * `gramLen` is the SCALING knob (measured, SCALE.md round-15): the
    * retrieval fan-out is Σ right-side posting-list length over each
    * left row's probe grams, so when the gram vocabulary SATURATES
    * relative to the corpus (gramLen=2 on digit-dominated names: ~100
    * digit bigrams), df grows linearly with |right| and the fan-out
    * quadratically — 10x corpus measured 29x wall at gramLen=2 vs
    * 8.6x (near-linear) at gramLen=3. The DEFAULT (`gramLen = 0`) is
    * AUTO: grow gramLen until the live gram vocabulary outgrows
    * |right| (posting lists stay O(1) in corpus size) —
    * [[autoGramLen]], one cheap probe pass over the right reps. The
    * chosen length AND the resolved budget are auditable in the
    * result's lineage: the returned frame's analyzed plan carries a
    * `__jw_gramlen_N__budget_B` subquery alias.
    *
    * `symmetric = true` additionally keeps each RIGHT row's topM —
    * the reciprocal-linkage feed (both sides' argmaxes from ONE
    * retrieval; a no-op under the unbounded default, where both sides
    * already keep everything). Output: (id_a, id_b, jw) — up to topM
    * rows per DISTINCT left string (the dedup-first discipline:
    * candidates are retrieved per rep and expanded to ids through
    * exact string keys; duplicate strings expand past the bound by
    * construction).
    * The cut ranks by (proxy score desc, partner rep hash);
    * `blockCols` restrict pairs to equal blocks (null-safe). */
  def bestMatchCandidates(left: DataFrame, leftIdCol: String,
                          leftStrCol: String,
                          right: DataFrame, rightIdCol: String,
                          rightStrCol: String,
                          topM: Int = Int.MaxValue, gramLen: Int = 0,
                          maxDfFraction: Double = DefaultMaxDfFraction,
                          probeGrams: Int = DefaultProbeGrams,
                          probeDfBudget: Long = DefaultProbeDfBudget,
                          blockCols: Seq[(String, String)] = Nil,
                          symmetric: Boolean = false): DataFrame = {
    val (a, b, aD, bD, g, budget, scores0) = bestMatchPrep(left, leftIdCol,
      leftStrCol, right, rightIdCol, rightStrCol, topM, gramLen,
      maxDfFraction, probeGrams, probeDfBudget, blockCols)
    // Unbounded topM (the default): no cut at all — the score pairs ARE
    // the candidates (already distinct via the pair agg), the budget
    // bounds the gate, and symmetric mode needs no second branch (both
    // sides keep everything). Finite topM keeps the proxy-cut
    // machinery; symmetric then pins the scores EAGERLY — its two cut
    // branches run concurrently in one job, and a lazy checkpoint lets
    // both race to compute the retrieval before either caches it
    // (measured as twin full-pipeline stages).
    val cand = if (topM == Int.MaxValue) {
      scores0.select(col("__ida"), col("__idb"))
    } else {
      val scores =
        if (symmetric) Materialize(scores0, eager = true) else scores0
      def cut(df: DataFrame, keyCol: String, otherCol: String) = {
        val w = Window.partitionBy(col(keyCol))
          .orderBy(col("__score").desc, col(otherCol).asc)
        df.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= topM)
          .select(col("__ida"), col("__idb"))
      }
      val par = left.sparkSession.sparkContext.defaultParallelism
      if (!symmetric) cut(scores, "__ida", "__idb")
      else cut(scores, "__ida", "__idb")
        // explicit-width repartition on the OTHER side's key: the
        // right-side cut needs its own exchange and AQE would coalesce
        // the 2.8M-row sort onto one task
        .unionByName(cut(scores.repartition(par, col("__idb")),
          "__idb", "__ida"))
        .distinct()
    }
    val repPairs = gateJw(cand, namesOf(aD, "a"), namesOf(bD, "b"),
      threshold = 0.0, keepNames = true)
    expandRepPairs(repPairs, a, b)
      .select(col("__reala").as("id_a"), col("__realb").as("id_b"),
        col("jw"))
      .alias(s"__jw_gramlen_${g}__budget_$budget")
  }

  /** The argmax itself: each left row's single best right row by
    * exact JW among its `topM` retrieved candidates (ties to the
    * smallest right string then the smallest right id — total and
    * engine-stable). Same approximate contract as
    * [[bestMatchCandidates]]: the emitted match is the TRUE argmax
    * exactly when the true argmax survived candidate retrieval
    * (measured, not proved — the recall-floor discipline). Output:
    * (id_a, id_b, jw), one row per left row with >= 1 candidate. */
  def bestMatch(left: DataFrame, leftIdCol: String, leftStrCol: String,
                right: DataFrame, rightIdCol: String, rightStrCol: String,
                topM: Int = Int.MaxValue, gramLen: Int = 0,
                maxDfFraction: Double = DefaultMaxDfFraction,
                probeGrams: Int = DefaultProbeGrams,
                probeDfBudget: Long = DefaultProbeDfBudget,
                blockCols: Seq[(String, String)] = Nil): DataFrame = {
    val (a, b, aD, bD, g, budget, scores) = bestMatchPrep(left, leftIdCol,
      leftStrCol, right, rightIdCol, rightStrCol, topM, gramLen,
      maxDfFraction, probeGrams, probeDfBudget, blockCols)
    // Default topM = unbounded: `probeDfBudget` already caps the gate
    // at <= |left| * budget exact-JW calls (a codegen scalar), so the
    // proxy-ranked cut — a full window sort of the retrieval, kept
    // from the budget-less era — is pure RECALL LOSS for the argmax
    // form (measured r16 at 1x: score-recall 0.906 at topM=20, 0.987
    // at topM=100, ceiling at gate-everything; the map-side-combined
    // argmax agg below is also cheaper than the row_number sort).
    // A finite topM keeps the documented proxy-cut semantics.
    val cand =
      if (topM == Int.MaxValue) scores.select(col("__ida"), col("__idb"))
      else {
        val cw = Window.partitionBy(col("__ida"))
          .orderBy(col("__score").desc, col("__idb").asc)
        scores.withColumn("__rk", row_number().over(cw))
          .filter(col("__rk") <= topM)
          .select(col("__ida"), col("__idb"))
      }
    val scoredJw = gateJw(cand, namesOf(aD, "a"), namesOf(bD, "b"),
      threshold = 0.0, keepNames = true)
    // rep-level argmax (ties: -jw, right string, right rep id), then
    // expand; among right ids sharing the winning string take the min
    val best = scoredJw
      .groupBy(col("id_a"), col("__sa"), col("__bka"))
      .agg(min(struct(negate(col("jw")).as("njw"), col("__sb"),
        col("id_b"), col("jw"), col("__bkb"))).as("__m"))
      .select(col("id_a"), col("__m.id_b").as("id_b"),
        col("__m.jw").as("jw"), col("__sa"), col("__bka"),
        col("__m.__sb").as("__sb"), col("__m.__bkb").as("__bkb"))
    expandRepPairs(best, a, b)
      .groupBy(col("__reala").as("id_a"))
      .agg(min(struct(col("__realb"), col("jw"))).as("__m"))
      .select(col("id_a"), col("__m.__realb").as("id_b"),
        col("__m.jw").as("jw"))
      .alias(s"__jw_gramlen_${g}__budget_$budget")
  }

  /** Shared head of the best-match forms: prep + dedup reps (pinned —
    * each feeds several independently-executed subtrees) + the
    * resolved gramLen (0 = auto, [[autoGramLen]]) + the proxy score
    * table. */
  private def bestMatchPrep(left: DataFrame, leftIdCol: String,
                            leftStrCol: String,
                            right: DataFrame, rightIdCol: String,
                            rightStrCol: String,
                            topM: Int, gramLen: Int,
                            maxDfFraction: Double, probeGrams: Int,
                            probeDfBudget: Long,
                            blockCols: Seq[(String, String)])
      : (DataFrame, DataFrame, DataFrame, DataFrame, Int, Long, DataFrame) = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    require(gramLen >= 0,
      s"gramLen must be >= 1 (or 0 = auto-size), got $gramLen")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    require(probeGrams >= 1, s"probeGrams must be >= 1, got $probeGrams")
    require(probeDfBudget >= 0,
      s"probeDfBudget must be >= 0 (0 = auto-size), got $probeDfBudget")
    val a = prep(left, leftIdCol, leftStrCol, blockCols.map(_._1))
    val b = prep(right, rightIdCol, rightStrCol, blockCols.map(_._2))
    val aD = Materialize(dedupReps(a))
    val bD = Materialize(dedupReps(b))
    // one count serves both auto knobs (gramLen saturation + budget)
    val nRight =
      if (gramLen == 0 || probeDfBudget == 0L) bD.count() else -1L
    // full-auto path: the vocab probe feeds BOTH the length choice and
    // the transition boost; explicit gramLen pins the plain geometry
    val (g, vocabG) =
      if (gramLen == 0) {
        val (gg, vocab) = autoGramLenVocab(bD, nRight = nRight)
        (gg, vocab.getOrElse(gg, 0L))
      } else (gramLen, 0L)
    val budget = resolveBudget(probeDfBudget, nRight, vocabG)
    (a, b, aD, bD, g, budget,
      bestMatchScoredReps(aD, bD, g, maxDfFraction, probeGrams, budget))
  }

  /** Test hook: the rep-grain proxy-score table a best-match call
    * would cut. `JwJoinSpec` counts it to pin how `probeDfBudget`
    * bounds the retrieval fan-out, apart from the cut/gate machinery. */
  private[graft] def scoredRepsProbe(left: DataFrame, leftIdCol: String,
      leftStrCol: String, right: DataFrame, rightIdCol: String,
      rightStrCol: String, gramLen: Int = 0,
      maxDfFraction: Double = DefaultMaxDfFraction,
      probeGrams: Int = DefaultProbeGrams,
      probeDfBudget: Long = DefaultProbeDfBudget): DataFrame =
    bestMatchPrep(left, leftIdCol, leftStrCol, right, rightIdCol,
      rightStrCol, 1, gramLen, maxDfFraction, probeGrams, probeDfBudget,
      Nil)._7
}
