package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join with prefix filtering (AllPairs/PPJoin
  * family) — the ZERO-false-negative counterpart of the MinHash/LSH path
  * ([[Dedup.candidatePairs]]): every pair with Jaccard >= threshold is
  * found, by construction, with no banding probability to tune. Use it
  * when dedup must be provably complete (compliance-grade decontamination,
  * eval-leak audits) or as the ground truth that calibrates an LSH layout.
  *
  * Algorithm (reference: the prefix-filtering literature, e.g. Bayardo et
  * al. "Scaling Up All Pairs Similarity Search", WWW'07): order every
  * set's elements by one GLOBAL total order; a pair with Jaccard >= t must
  * share at least one element inside each side's first
  * `n - ceil(t*n) + 1` elements (overlap >= ceil(t*n) on both sides, and
  * fewer than that many elements lie outside a prefix). So equi-joining
  * exploded PREFIX elements generates a candidate superset, and an exact
  * `array_intersect` gate removes the rest.
  *
  * Scale shape: one narrow projection computes sorted sets, one explode of
  * ~(1-t)·n elements per set feeds one equi-join shuffle keyed by element
  * (never all-pairs), a distinct collapses multi-element agreements, and
  * the exact gate touches candidates only — work is proportional to
  * candidates, as in [[Dedup.jaccardVerify]]. Element blocks bound the
  * fan-out: a block of b sets sharing a prefix element contributes at most
  * b² candidates, and because prefixes hold each set's RAREST elements
  * under frequency order (below), b stays small on real corpora.
  *
  * Element order: the default orders by element VALUE — with ~unique
  * elements (shingle hashes: corpus-wide frequency ≈ 1 except for actual
  * near-dups) frequency ordering buys nothing, and value order reuses the
  * already-sorted [[graft.plans.ShingleHashSet]] output with ZERO extra
  * jobs. `frequencyOrder = true` adds the classic ascending-global-
  * frequency order (one count aggregation + one re-sort shuffle) for
  * skewed element universes (raw tokens, category sets).
  */
object SetSimJoin {

  /** All pairs (id_a < id_b) with exact Jaccard(setCol_a, setCol_b) >=
    * `threshold`, over DISTINCT set elements. Rows with empty/null sets
    * never pair (Jaccard undefined). Output: (id_a, id_b, size_a, size_b,
    * intersection, jaccard). `setCol` is any atomic-element array column;
    * elements are compared by equality, ordered per the mode above. */
  def jaccardSelfJoin(df: DataFrame, idCol: String, setCol: String,
                      threshold: Double,
                      frequencyOrder: Boolean = false): DataFrame = {
    val base = prepJaccard(df, idCol, setCol, threshold)
    jaccardCore(base, base, threshold, frequencyOrder, selfPairs = true)
  }

  /** Cross-table variant: all (id_a from `left`, id_b from `right`)
    * with exact Jaccard >= `threshold` — record linkage / cross-corpus
    * near-dup where the two sides are different tables (candidate
    * docs vs a reference corpus, this week's batch vs the catalog).
    * Same prefix-filter machinery as [[jaccardSelfJoin]] under ONE
    * global element order computed over BOTH sides (frequency mode
    * counts each side's sets once); zero false negatives, exact gate.
    * Same output contract (id equality across tables is not
    * meaningful and not filtered). */
  def jaccardJoin(left: DataFrame, leftIdCol: String, leftSetCol: String,
                  right: DataFrame, rightIdCol: String,
                  rightSetCol: String, threshold: Double,
                  frequencyOrder: Boolean = false): DataFrame =
    jaccardCore(prepJaccard(left, leftIdCol, leftSetCol, threshold),
      prepJaccard(right, rightIdCol, rightSetCol, threshold),
      threshold, frequencyOrder, selfPairs = false)

  private def prepJaccard(df: DataFrame, idCol: String, setCol: String,
                          threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    df.select(col(idCol).as("__sid"),
        array_sort(array_distinct(col(setCol))).as("__els"))
      .filter(size(col("__els")) > 0)
  }

  private def jaccardCore(baseA: DataFrame, baseB: DataFrame,
                          threshold: Double, frequencyOrder: Boolean,
                          selfPairs: Boolean): DataFrame = {
    def orderedOf(base: DataFrame, freq: DataFrame) =
      base.select(col("__sid"), explode(col("__els")).as("__el"))
        .join(freq, Seq("__el"), "left")
        .groupBy(col("__sid"))
        .agg(array_sort(collect_list(
          struct(coalesce(col("__cnt"), lit(0L)).as("__cnt"), col("__el"))))
          .as("__se"))
        .select(col("__sid"),
          transform(col("__se"), s => s.getField("__el")).as("__els"))
    val (ordA, ordB) =
      if (!frequencyOrder) (baseA, baseB)
      else {
        // ascending global frequency over BOTH sides (self: one side,
        // counted once), element value tie-break: rare elements first,
        // so prefixes block on the rarest elements
        val universe =
          if (selfPairs) baseA.select(explode(col("__els")).as("__el"))
          else baseA.select(explode(col("__els")).as("__el"))
            .unionByName(baseB.select(explode(col("__els")).as("__el")))
        val freq = universe.groupBy(col("__el"))
          .agg(count(lit(1)).as("__cnt"))
        (orderedOf(baseA, freq),
          if (selfPairs) orderedOf(baseA, freq) else orderedOf(baseB, freq))
      }
    def setsOf(ordered: DataFrame) = ordered
      .select(col("__sid"), col("__els"), size(col("__els")).as("__n"),
        // prefix length n - ceil(t*n) + 1, never below 1
        greatest(size(col("__els"))
          - ceil(lit(threshold) * size(col("__els"))).cast("int") + 1,
          lit(1)).as("__p"))
    val setsA = setsOf(ordA)
    val setsB = if (selfPairs) setsA else setsOf(ordB)

    // candidate generation: exploded-prefix equi-join. The length filter
    // (Jaccard >= t implies min(n_a, n_b) >= t * max(n_a, n_b)) rides the
    // join condition; the epsilon slackens PRUNING only — a candidate is
    // never wrongly dropped, the exact gate below decides membership.
    def prefixesOf(sets: DataFrame) = sets.select(col("__sid"), col("__n"),
      explode(slice(col("__els"), lit(1), col("__p"))).as("__el"))
    val a = prefixesOf(setsA).select(col("__sid").as("id_a"),
      col("__n").as("__na"), col("__el"))
    val b = prefixesOf(setsB).select(col("__sid").as("id_b"),
      col("__n").as("__nb"), col("__el"))
    val pairPred =
      if (selfPairs) col("id_a") < col("id_b")
      else lit(true)
    val candidates = a.join(b,
        a("__el") === b("__el") && pairPred &&
          col("__na").cast("double") >= lit(threshold) * col("__nb") - lit(1e-9) &&
          col("__nb").cast("double") >= lit(threshold) * col("__na") - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()

    // exact gate — candidates only
    val withA = candidates.join(
      setsA.select(col("__sid").as("id_a"), col("__els").as("__ea"),
        col("__n").as("size_a")), "id_a")
    val withB = withA.join(
      setsB.select(col("__sid").as("id_b"), col("__els").as("__eb"),
        col("__n").as("size_b")), "id_b")
    withB
      .withColumn("intersection",
        size(array_intersect(col("__ea"), col("__eb"))).cast("long"))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"), col("intersection"),
        col("jaccard"))
  }

  /** Exact containment join: all (id_a from `left`, id_b from `right`)
    * with overlap coefficient |A ∩ B| / |A| >= `threshold` — the
    * doc-in-doc detector (quotes, boilerplate inclusion, eval passages
    * embedded in training docs). Asymmetric by nature: A is the
    * contained/probe side. Same-id pairs are excluded (self-containment
    * is trivially 1).
    *
    * Prefix filtering only helps the PROBE side here (containment puts
    * no lower bound on the share of B covered, so B must index EVERY
    * element): A explodes its first `na - ceil(t*na) + 1` elements,
    * B explodes all of ITS elements, and the equi-join blocks as in
    * [[jaccardSelfJoin]]. Because the required overlap ceil(t·na)
    * exceeds the |A| - prefix-length remainder, ANY p-subset of A is a
    * valid prefix — so ordering is free to minimize block sizes:
    *
    *  - `frequencyOrder = true` orders each A set by ascending frequency
    *    of its elements IN THE INDEXED SIDE (one B-side count aggregation
    *    + one A re-sort) — prefixes then hold the elements with the
    *    SMALLEST posting blocks (elements absent from B count 0: a free
    *    non-match). Essential for skewed universes (raw tokens, category
    *    sets) where a stop-word-ish element in a value-ordered prefix
    *    meets B's full posting list and the block explodes b². Exact
    *    either way; default off because ~unique shingle hashes gain
    *    nothing from the extra jobs.
    *  - `maxBlockSize` drops elements whose B-side posting list exceeds
    *    the cap from CANDIDATE GENERATION (the [[Dedup.candidatePairs]]
    *    `maxBucketSize` hazard valve). This one trades recall: a
    *    qualifying pair is missed only when EVERY shared prefix element
    *    is capped — with `frequencyOrder` on, prefixes prefer uncapped
    *    elements, so set it comfortably above the frequency knee and
    *    pairs sharing any non-stop-word survive. Leave at `Int.MaxValue`
    *    (default) for provably complete output.
    *
    * Output: (id_a, id_b, size_a, size_b, intersection, containment). */
  def containmentJoin(left: DataFrame, leftIdCol: String,
                      right: DataFrame, rightIdCol: String,
                      setCol: String, threshold: Double,
                      frequencyOrder: Boolean = false,
                      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxBlockSize > 0, s"maxBlockSize must be positive, got $maxBlockSize")
    val a = prepSets(left, leftIdCol, setCol)
    val b = prepSets(right, rightIdCol, setCol)
    val candidates =
      containmentCandidates(a, b, threshold, frequencyOrder, maxBlockSize)
    candidates
      .join(a.select(col("__sid").as("id_a"), col("__els").as("__ea"),
        col("__n").as("size_a")), "id_a")
      .join(b.select(col("__sid").as("id_b"), col("__els").as("__eb"),
        col("__n").as("size_b")), "id_b")
      .withColumn("intersection",
        size(array_intersect(col("__ea"), col("__eb"))).cast("long"))
      .withColumn("containment", col("intersection").cast("double") / col("size_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"), col("intersection"),
        col("containment"))
  }

  /** (id, sorted distinct elements, size) — shared prep. */
  private[graft] def prepSets(df: DataFrame, idCol: String, setCol: String) = df
    .select(col(idCol).as("__sid"),
      array_sort(array_distinct(col(setCol))).as("__els"))
    .filter(size(col("__els")) > 0)
    .withColumn("__n", size(col("__els")))

  /** Candidate (id_a, id_b) pairs of [[containmentJoin]] — split out so
    * specs can assert the candidate count stays bounded under
    * `frequencyOrder`/`maxBlockSize` on skewed universes. Inputs are
    * [[prepSets]] frames. */
  private[graft] def containmentCandidates(a: DataFrame, b: DataFrame,
                                           threshold: Double,
                                           frequencyOrder: Boolean,
                                           maxBlockSize: Int): DataFrame = {
    // posting-list size per element on the indexed side (distinct
    // elements per set already — one count per (element, set) membership)
    lazy val bFreq = b.select(explode(col("__els")).as("__el"))
      .groupBy(col("__el")).agg(count(lit(1)).as("__cnt"))

    val aOrdered =
      if (!frequencyOrder) a
      else {
        // ascending B-side posting size, element value tie-break; an
        // element absent from B sorts first (freq 0 — a free non-match)
        a.select(col("__sid"), col("__n"), explode(col("__els")).as("__el"))
          .join(bFreq, Seq("__el"), "left")
          .groupBy(col("__sid"), col("__n"))
          .agg(array_sort(collect_list(struct(
            coalesce(col("__cnt"), lit(0L)).as("__cnt"), col("__el"))))
            .as("__se"))
          .select(col("__sid"),
            transform(col("__se"), s => s.getField("__el")).as("__els"),
            col("__n"))
      }

    val aPrefix = aOrdered.select(col("__sid").as("id_a"),
      explode(slice(col("__els"), lit(1),
        greatest(col("__n") - ceil(lit(threshold) * col("__n")).cast("int") + 1,
          lit(1)))).as("__el"))
    val bAll = b.select(col("__sid").as("id_b"), explode(col("__els")).as("__el"))
    val (aGen, bGen) =
      if (maxBlockSize == Int.MaxValue) (aPrefix, bAll)
      else {
        // hazard valve: capped elements generate no candidates (recall
        // trade documented at the API) — semi-join BOTH sides so neither
        // shuffles the capped blocks (the keep list is vocabulary-sized,
        // so no broadcast hint: AQE picks the strategy by its real size)
        val keep = bFreq.filter(col("__cnt") <= maxBlockSize).select(col("__el"))
        (aPrefix.join(keep, Seq("__el"), "leftsemi"),
          bAll.join(keep, Seq("__el"), "leftsemi"))
      }
    aGen.join(bGen,
        aGen("__el") === bGen("__el") && col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }
}
