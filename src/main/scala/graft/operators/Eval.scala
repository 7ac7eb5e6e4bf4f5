package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and distribution-drift statistics — the measurements
  * a training-data pipeline runs on its OWN outputs: how well a score
  * ranks a label (AUC), whether serving data still looks like training
  * data (KS, PSI), how concentrated a quantity is (Gini), whether a
  * numeric column looks organically generated (Benford). The categorical
  * dependence screens (χ², mutual information, Cohen's κ) live in
  * [[Features]]; these are their ordered/numeric cousins.
  *
  * Scale discipline shared by all rank statistics here (the
  * [[Features.spearman]] / islands pattern): nothing row-sized ever hits
  * an ordered window. Every cumulative walk runs over a DISTINCT-VALUE
  * table (per group where grouped), so the ordered exchange is bounded
  * by value cardinality, not corpus size — for model scores that is the
  * score grid (probabilities land on a rounded grid; round them first if
  * truly continuous), for drift tests the value grid, for PSI just
  * `numBins` rows. All rank arithmetic is EXACT integer math held in
  * DECIMAL(38,0) until the single final division, so results are
  * bit-stable across partitionings and engines (the q192 kappa
  * discipline).
  */
object Eval {

  /** Tie-aware ROC AUC per group — the probability a random positive
    * outranks a random negative (ties count ½), i.e. the Mann-Whitney
    * U statistic normalized: with average ranks R over the pooled
    * scores, AUC = (Σ_pos R − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    *
    * Computed without ranking rows: for a distinct-score level holding
    * p positives and q negatives (t = p+q) with c rows at lower scores,
    * every member's average rank is c + (t+1)/2, so the level
    * contributes p·(2c + t + 1) to 2·Σ_pos R — integer arithmetic on
    * the score-level table only. AUC = (Σ p(2c+t+1) − n⁺(n⁺+1)) /
    * (2·n⁺·n⁻), exact in DECIMAL(38,0) until the final division.
    *
    * Label contract: null labels/scores drop; label casts to int,
    * nonzero = positive (booleans cast true→1). Groups with no
    * positives or no negatives yield null AUC (undefined, not 0.5 —
    * a silent 0.5 would read as "uninformative" when it means
    * "unmeasurable"). Output: (groupCol, n_pos, n_neg, auc rounded 6).
    */
  def rocAuc(df: DataFrame, groupCol: String, labelCol: String,
             scoreCol: String): DataFrame = {
    val rows = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (col(labelCol).cast("int") =!= 0).as("__pos"),
        col(scoreCol).cast("double").as("__s"))
    val level = rows.groupBy(col("__g"), col("__s"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__q"))
      .withColumn("__t", col("__p") + col("__q"))
    // score-grid walk via the bucketed two-level cumulative (the
    // ksTest discipline): a continuous score column never funnels a
    // group's grid through one task
    val walked = Ranks.groupedCumSum(level, Seq("__g"), "__s", Seq("__t"))
      .withColumn("__cum", col("cum___t"))
      // p·(2c + t + 1) with c = rows strictly below this score level;
      // both operands cast to DECIMAL(38,0) BEFORE the multiply so the
      // product is exact past 2^63 (a LongType multiply wraps silently)
      .withColumn("__u2",
        col("__p").cast("decimal(38,0)") *
          (lit(2L) * (col("__cum") - col("__t")) +
            col("__t") + lit(1L)).cast("decimal(38,0)"))
    walked.groupBy(col("__g")).agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__q")).as("n_neg"),
        sum(col("__u2")).as("__s2"))
      .select(col("__g").as(groupCol),
        col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__s2") - col("n_pos").cast("decimal(38,0)") *
            (col("n_pos") + lit(1L)).cast("decimal(38,0)")).cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))), 6).as("auc"))
  }

  /** Average precision (area under the precision-recall curve, step
    * form) per group — the ranking metric that stays honest under
    * class imbalance, where ROC AUC saturates: AP = Σ_t (R_t −
    * R_{t−1})·P_t over descending score thresholds (the step-integral
    * convention, matching scikit-learn's average_precision_score; ties
    * form ONE threshold — no arbitrary intra-tie ordering).
    *
    * Level form: thresholds are the distinct scores; at each, P = cum
    * positives / cum total and ΔR = level positives / total positives —
    * so the walk is over the score grid (the [[rocAuc]] shape), each
    * level term rounds to the 9-grid and accumulates in DECIMAL(38,9).
    * Groups with no positives yield null. Output: (groupCol, n_pos,
    * n_neg, avg_precision rounded 6). */
  def averagePrecision(df: DataFrame, groupCol: String, labelCol: String,
                       scoreCol: String): DataFrame = {
    val rows = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (col(labelCol).cast("int") =!= 0).as("__pos"),
        col(scoreCol).cast("double").as("__s"))
    // read by the walk AND the totals agg — one lazy
    // materialization (the dunn levels discipline)
    val level = Materialize(rows.groupBy(col("__g"), col("__s"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__q")))
    // descending-threshold walk as an ASCENDING bucketed cumulative
    // over the negated score (the ksTest discipline — a continuous
    // score grid never funnels a group through one task)
    val walked = Ranks.groupedCumSum(
        level.withColumn("__ns", negate(col("__s")))
          .withColumn("__t", col("__p") + col("__q")),
        Seq("__g"), "__ns", Seq("__p", "__t"))
      .withColumn("__cp", col("cum___p"))
      .withColumn("__ct", col("cum___t"))
    val totals = level.groupBy(col("__g"))
      .agg(sum(col("__p")).as("n_pos"), sum(col("__q")).as("n_neg"))
    walked
      .join(totals, Seq("__g"))
      .select(col("__g"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          round((col("__p").cast("double") / col("n_pos")) *
            (col("__cp").cast("double") / col("__ct")), 9)
            .cast("decimal(38,9)")).as("__term"))
      .groupBy(col("__g"), col("n_pos"), col("n_neg"))
      .agg(sum(col("__term")).as("__ap"))
      .select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0, col("__ap").cast("double")), 6)
          .as("avg_precision"))
  }

  /** Jensen-Shannon divergence between two ITEM distributions (token
    * histograms, source mixes, label distributions) — the symmetric,
    * bounded [0, ln 2] drift measure for categorical space,
    * complementing [[ksTest]]'s numeric CDFs: JSD = ½·KL(p‖m) +
    * ½·KL(q‖m) with m = (p+q)/2. An item absent from one side
    * contributes its finite ½·f·ln 2 limit (never ±∞) — that is the
    * whole reason to prefer JSD over raw KL for corpus drift.
    *
    * One count agg per side, a full-outer item join, every per-item
    * term 9-grid rounded into a DECIMAL(38,9) sum; fractions are
    * integer-over-integer. Output: one row (n_a, n_b, items, jsd
    * rounded 6). */
  def jsDivergence(a: DataFrame, b: DataFrame, itemCol: String): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col(itemCol).isNotNull)
        .groupBy(col(itemCol).as("__i")).agg(count(lit(1)).as(out))
    val joined = counts(a, "__ca").join(counts(b, "__cb"), Seq("__i"),
        "full_outer")
      .select(col("__i"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joined.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val half = (frac: Column, m: Column) =>
      when(frac > 0, frac * log(frac / m) * 0.5).otherwise(lit(0.0))
    joined.crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"),
        (col("__ca").cast("double") / col("__na")).as("__p"),
        (col("__cb").cast("double") / col("__nb")).as("__q"))
      .select(col("__na"), col("__nb"),
        round(half(col("__p"), (col("__p") + col("__q")) / 2.0) +
          half(col("__q"), (col("__p") + col("__q")) / 2.0), 9)
          .cast("decimal(38,9)").as("__term"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("items"), sum(col("__term")).as("__jsd"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"), col("items"),
        round(col("__jsd").cast("double"), 6).as("jsd"))
  }

  /** Per-item Jensen-Shannon contributions, top-k — the WHICH behind
    * [[jsDivergence]]'s single number: the k items whose probability
    * shift contributes most to the corpus-level drift ("these words
    * appeared/vanished between snapshots"). Same full-outer count
    * join, same 9-grid term arithmetic; top-k via (term desc, item
    * asc) with TakeOrderedAndProject pinning the plan — the item
    * vocabulary never sorts globally. Output: (item, n_a, n_b, term
    * rounded 9) — term is that item's additive share of the JSD. */
  def jsDivergenceTerms(a: DataFrame, b: DataFrame, itemCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col(itemCol).isNotNull)
        .groupBy(col(itemCol).as("__i")).agg(count(lit(1)).as(out))
    val joined = counts(a, "__ca").join(counts(b, "__cb"), Seq("__i"),
        "full_outer")
      .select(col("__i"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joined.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val half = (frac: Column, m: Column) =>
      when(frac > 0, frac * log(frac / m) * 0.5).otherwise(lit(0.0))
    joined.crossJoin(broadcast(totals))
      .select(col("__i"), col("__ca"), col("__cb"),
        (col("__ca").cast("double") / col("__na")).as("__p"),
        (col("__cb").cast("double") / col("__nb")).as("__q"))
      .select(col("__i").as(itemCol),
        col("__ca").as("n_a"), col("__cb").as("n_b"),
        round(half(col("__p"), (col("__p") + col("__q")) / 2.0) +
          half(col("__q"), (col("__p") + col("__q")) / 2.0), 9)
          .as("term"))
      .orderBy(col("term").desc, col(itemCol).asc)
      .limit(k)
  }

  /** One-way ANOVA F statistic — does a numeric outcome differ across
    * k groups (the multi-group extension of the two-sample t):
    * F = [SSB/(k−1)] / [SSW/(n−k)], plus η² = SSB/SST (effect size —
    * an F alone says nothing about magnitude at corpus n).
    *
    * ONE pass of per-group (n, Σx, Σx²) on the 9-grid in DECIMAL (the
    * [[welchT]] discipline), then the k-row group table folds to the
    * single output row. Degenerate inputs (k < 2, n ≤ k, zero
    * within-group variance) yield null F. Output: one row
    * (k, n, f_stat, eta_sq) rounded 6. */
  def anovaF(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val per = df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(dec9(col("__v"))).as("__s"),
        sum(dec9(col("__v") * col("__v"))).as("__q"))
    // SSB = Σ_g s_g²/n_g − S²/N and SSW = Σ q_g − Σ s_g²/n_g — all from
    // the k-row table; per-group ratios round to the 9-grid before the
    // DECIMAL fold so the fold is associative
    val folded = per.agg(
      count(lit(1)).as("k"), sum(col("__n")).as("n"),
      sum(col("__s")).as("__S"), sum(col("__q")).as("__Q"),
      sum(round(col("__s").cast("double") * col("__s").cast("double") /
        col("__n"), 9).cast("decimal(38,9)")).as("__B"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val ssb = col("__B").cast("double") -
      col("__S").cast("double") * col("__S").cast("double") / nD
    val ssw = col("__Q").cast("double") - col("__B").cast("double")
    val sst = col("__Q").cast("double") -
      col("__S").cast("double") * col("__S").cast("double") / nD
    folded.select(col("k"), col("n"),
      round(when(col("k") >= 2 && col("n") > col("k") && ssw > 0.0,
        (ssb / (kD - 1.0)) / (ssw / (nD - kD))), 6).as("f_stat"),
      round(when(sst > 0.0, ssb / sst), 6).as("eta_sq"))
  }

  /** Levene / Brown-Forsythe variance-homogeneity test — the
    * precondition check [[anovaF]] quietly assumes (and the direct
    * "did the SPREAD change" question drift monitoring asks; a mean
    * test sees nothing when a distribution widens symmetrically).
    * W = the one-way ANOVA F statistic applied to per-row absolute
    * deviations from each group's center: `center = "median"` is
    * Brown-Forsythe 1974 (robust to heavy tails — the recommended
    * default), `"mean"` is Levene 1960.
    *
    * Group medians come from the (group, value) LEVEL grid — one
    * [[Ranks.groupedCumSum]] walk, then the two levels straddling
    * ranks ⌈n/2⌉ and ⌊n/2⌋+1 average (exact even-n median); a
    * million-row group costs its value levels, never a per-group sort
    * (`percentile`'s whole-column state — the [[Features.winsorize]]
    * trade this path avoids). Centers ride a k-row broadcast back
    * onto the rows; deviations round to the 9-grid; the F fold is
    * [[anovaF]] verbatim (per-group DECIMAL sufficient stats, 9-grid
    * ratio terms).
    *
    * Contract: null groups/values drop; all deviations zero (every
    * group constant) → null W. Output: one row (k, n, w rounded 6). */
  def leveneTest(df: DataFrame, groupCol: String, valueCol: String,
                 center: String = "median"): DataFrame = {
    require(center == "median" || center == "mean",
      s"center must be 'median' or 'mean', got '$center'")
    val rows = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val ctr =
      if (center == "mean")
        rows.groupBy(col("__g")).agg(
          round(sum(round(col("__v"), 9).cast("decimal(38,9)"))
            .cast("double") / count(lit(1)), 9).as("__m"))
      else {
        // read by the walk AND the totals agg (the dunn discipline)
        val lvl = Materialize(rows.groupBy(col("__g"), col("__v"))
          .agg(count(lit(1)).as("__c")))
        val tot = lvl.groupBy(col("__g")).agg(sum(col("__c")).as("__ng"))
        val lo = ((col("__ng") + lit(1L)) / lit(2L)).cast("long")
        val hi = (col("__ng") / lit(2L)).cast("long") + lit(1L)
        Ranks.groupedCumSum(lvl, Seq("__g"), "__v", Seq("__c"))
          .join(broadcast(tot), Seq("__g"))
          .withColumn("__vlo", when(col("cum___c") >= lo &&
            col("cum___c") - col("__c") < lo, col("__v")))
          .withColumn("__vhi", when(col("cum___c") >= hi &&
            col("cum___c") - col("__c") < hi, col("__v")))
          .groupBy(col("__g"))
          .agg(((max(col("__vlo")) + max(col("__vhi"))) / 2.0).as("__m"))
      }
    val dev = rows.join(broadcast(ctr), Seq("__g"))
      .select(col("__g"), round(abs(col("__v") - col("__m")), 9).as("__z"))
    anovaF(dev, "__g", "__z")
      .select(col("k"), col("n"), col("f_stat").as("w"))
  }

  /** Jarque-Bera normality screen per group — DOES this column still
    * look Gaussian (the moment-based drift check beside [[ksTest]]'s
    * two-sample comparison: KS needs a reference sample, JB asks the
    * absolute question from skewness and kurtosis alone; many
    * downstream assumptions — z-gates, 3σ fences, [[welchT]] at small
    * n — quietly lean on it). JB = n/6·(S² + (K−3)²/4) with
    * S = m₃/m₂^1.5, K = m₄/m₂² from CENTERED moments.
    *
    * Two passes, both narrow: per-group 9-grid means broadcast back
    * (the [[leveneTest]] shape), then one keyed agg of 9-grid
    * deviation powers in DECIMAL(38,9) — centering BEFORE the power
    * sums instead of the raw-moment closed forms because Σx⁴ − 4μΣx³…
    * cancels catastrophically exactly when the data IS normal (the
    * case under test); the documented envelope is |dev|⁴·n < 10²⁹.
    *
    * Contract: null groups/values drop; constant groups (m₂ = 0) →
    * null S/K/JB; the χ²₂ reference is a large-sample approximation —
    * n below ~50 inflates type-I error (caller's concern, emitted
    * anyway). Output: one row per group (groupCol, n, skewness,
    * kurtosis, jb) rounded 6, kurtosis in Pearson (not excess) form. */
  def jarqueBera(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val rows = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val means = rows.groupBy(col("__g")).agg(
      round(sum(round(col("__v"), 9).cast("decimal(38,9)"))
        .cast("double") / count(lit(1)), 9).as("__m"))
    val d = round(col("__v") - col("__m"), 9)
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val agg = rows.join(broadcast(means), Seq("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("n"),
        sum(dec9(d * d)).as("__s2"), sum(dec9(d * d * d)).as("__s3"),
        sum(dec9(d * d * d * d)).as("__s4"))
    val nD = col("n").cast("double")
    val m2 = col("__s2").cast("double") / nD
    val m3 = col("__s3").cast("double") / nD
    val m4 = col("__s4").cast("double") / nD
    // m2^1.5 as m2·√m2 — sqrt is IEEE-correctly-rounded everywhere,
    // libm pow(x, 1.5) is not
    val sk = m3 / (m2 * sqrt(m2))
    val ku = m4 / (m2 * m2)
    agg.select(col("__g").as(groupCol), col("n"),
      round(when(m2 > 0.0, sk), 6).as("skewness"),
      round(when(m2 > 0.0, ku), 6).as("kurtosis"),
      round(when(m2 > 0.0,
        nD / 6.0 * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0)), 6)
        .as("jb"))
  }

  /** Mantel-Haenszel stratified 2×2 analysis — the exposure-outcome
    * association AFTER controlling for a confounding stratum (Mantel
    * & Haenszel 1959; the Simpson's-paradox guard: a pooled 2×2 odds
    * ratio can reverse sign when strata differ in both exposure mix
    * and base rate — the MH estimate weights each stratum's own
    * table): OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ), and the CMH test
    * χ² = (|Σaᵢ − ΣEᵢ| − ½)² / ΣVᵢ with Eᵢ = (a+b)(a+c)/n and the
    * hypergeometric Vᵢ = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)) — the R
    * `mantelhaen.test(correct = TRUE)` form, continuity correction
    * UNclamped (a perfectly null table scores 0.25/ΣV — the
    * documented R behavior, kept for parity).
    *
    * Shape: ONE stratum-keyed conditional-count agg (map-side
    * combined), per-stratum 9-grid terms folded in DECIMAL(38,9),
    * one final row — no joins at all. Margin products run in double
    * from the start (four 10⁷ margins overflow int64 and the pinned
    * left-assoc double chain is what the oracle replicates);
    * single-subject strata contribute V = 0.
    *
    * Contract: null stratum/exposure/outcome rows drop; exposure and
    * outcome cast to int, nonzero = true. No discordant strata at all
    * (Σbc = 0) → null OR; ΣV = 0 → null χ². Output: one row
    * (k_strata, n, or_mh, chi2) rounded 6. */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
                     exposureCol: String, outcomeCol: String): DataFrame = {
    val rows = df.filter(col(stratumCol).isNotNull &&
        col(exposureCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(stratumCol).as("__s"),
        (col(exposureCol).cast("int") =!= 0).as("__e"),
        (col(outcomeCol).cast("int") =!= 0).as("__o"))
    val cells = rows.groupBy(col("__s")).agg(
      sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("__a"),
      sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("__b"),
      sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("__c"),
      sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("__d"))
    val a = col("__a").cast("double"); val b = col("__b").cast("double")
    val c = col("__c").cast("double"); val dd = col("__d").cast("double")
    val n = a + b + c + dd
    val dec9 = (x: Column) => round(x, 9).cast("decimal(38,9)")
    val folded = cells.agg(count(lit(1)).as("k_strata"),
      sum(col("__a") + col("__b") + col("__c") + col("__d")).as("n"),
      sum(col("__a")).as("__sa"),
      sum(dec9(a * dd / n)).as("__num"),
      sum(dec9(b * c / n)).as("__den"),
      sum(dec9((a + b) * (a + c) / n)).as("__se"),
      sum(when(n >= 2.0, dec9((a + b) * (c + dd) * ((a + c) * (b + dd))
        / (n * n * (n - 1.0)))).otherwise(lit(0.0).cast("decimal(38,9)")))
        .as("__sv"))
    val dev = abs(col("__sa").cast("double") -
      col("__se").cast("double")) - 0.5
    val sv = col("__sv").cast("double")
    folded.select(col("k_strata"), col("n"),
      round(when(col("__den").cast("double") > 0.0,
        col("__num").cast("double") / col("__den").cast("double")), 6)
        .as("or_mh"),
      round(when(round(sv, 9) > 0.0, dev * dev / sv), 6).as("chi2"))
  }

  /** Cochran-Armitage trend test — IS a binary rate increasing across
    * groups taken in their natural ascending order (Cochran 1954,
    * Armitage 1955; the proportions sibling of [[jonckheereTerpstra]]:
    * JT tests a trend in a continuous value, CA in a success rate —
    * dose-response, severity-graded conversion, time-ordered cohort
    * uptake; [[chiSquare]] sees "some difference" where CA aims all
    * its power along the ordering). Scores are the group ranks
    * 0..k−1; z = (N·Σsᵢrᵢ − R·Σsᵢnᵢ) /
    * √(R(N−R)(N·Σsᵢ²nᵢ − (Σsᵢnᵢ)²)/N) — the textbook statistic
    * rearranged so every aggregate is an exact integer before the
    * single double division.
    *
    * Shape: one group-keyed conditional-count agg, scores via one
    * k-BOUNDED ordered window over the group rows, exact DECIMAL
    * integer folds, one output row. Contract: null groups/outcomes
    * drop; outcome casts to int, nonzero = success; a descending
    * trend flips the sign; all successes / all failures / a single
    * group → null z. Output: (k_groups, n, successes, z rounded 6). */
  def cochranArmitage(df: DataFrame, groupCol: String,
                      outcomeCol: String): DataFrame = {
    val rows = df
      .filter(col(groupCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (col(outcomeCol).cast("int") =!= 0).as("__o"))
    val per = rows.groupBy(col("__g")).agg(count(lit(1)).as("__n"),
      sum(when(col("__o"), 1L).otherwise(0L)).as("__r"))
    val w = Window.orderBy(col("__g"))
    val scored = per.withColumn("__s", row_number().over(w) - lit(1))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val f = scored.agg(count(lit(1)).as("k_groups"),
      sum(col("__n")).as("n"), sum(col("__r")).as("successes"),
      sum(dec(col("__s")) * dec(col("__r"))).as("__sr"),
      sum(dec(col("__s")) * dec(col("__n"))).as("__sn"),
      sum(dec(col("__s")) * dec(col("__s")) * dec(col("__n"))).as("__s2n"))
    val nD = col("n").cast("double")
    val rD = col("successes").cast("double")
    val num = nD * col("__sr").cast("double") -
      rD * col("__sn").cast("double")
    val a = nD * col("__s2n").cast("double") -
      col("__sn").cast("double") * col("__sn").cast("double")
    val variance = rD * (nD - rD) * a / nD
    f.select(col("k_groups"), col("n"), col("successes"),
      round(when(round(variance, 9) > 0.0, num / sqrt(variance)), 6)
        .as("z"))
  }

  /** Jonckheere-Terpstra ordered-trend test — IS the value
    * stochastically increasing across groups taken in their natural
    * ascending order (Jonckheere 1954; [[kruskalWallis]] asks "any
    * location difference", JT asks the sharper one-directional
    * question and buys power when the alternative really is a trend —
    * dose levels, severity grades, time-ordered cohorts). J = Σ over
    * ordered group pairs a < b of the Mann-Whitney count
    * #{x∈a, y∈b : x < y} + ½·ties; large-sample z standardizes J by
    * the tie-corrected null moments (Hollander & Wolfe: E = (N² −
    * Σn_g²)/4; Var = A/72 + B/(36N(N−1)(N−2)) + C/(8N(N−1)) with
    * A = N(N−1)(2N+5) − Σn(n−1)(2n+5) − Σt(t−1)(2t+5),
    * B = Σn(n−1)(n−2)·Σt(t−1)(t−2), C = Σn(n−1)·Σt(t−1) over group
    * sizes n and tie groups t; ties vanish → the classic
    * [N²(2N+3) − Σn²(2n+3)]/72).
    *
    * Never row pairs: the corpus reduces to the DENSE (value level ×
    * group) grid — levels crossJoin a k-row broadcast of group ids,
    * one [[Ranks.groupedCumSum]] walk per group over the value grid
    * gives below-counts, one k-BOUNDED ordered window within each
    * level prefixes the ordered-group slices, and 2J = Σ c·(2·below-
    * prefix + tie-prefix) folds exactly in DECIMAL(38,0). J − E stays
    * exact through (2·2J − 4E)/4; the moment sums are level/group-
    * grid work throughout.
    *
    * Contract: null groups/values drop; group order is the column's
    * natural ascending order (a decreasing trend flips the sign);
    * N < 3 or zero variance (all values tied) → null z. Output: one
    * row (n, k_groups, j_stat, z rounded 6). */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val rows = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    // value-grid tables each with multiple readers (cells: levels +
    // groups + the dense join; levels: dense + the tie-term agg;
    // groups: dense + the group-moment agg) — one lazy materialization
    // apiece instead of re-running the cell aggregation per reader
    // (the dunn/ksTest levels discipline)
    val cells = Materialize(rows.groupBy(col("__v"), col("__g"))
      .agg(count(lit(1)).as("__c")))
    val levels = Materialize(cells.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__t")))
    val groups = Materialize(cells.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ng")))
    // dense grid: every (level, group) cell, zeros where absent
    val dense = levels.select(col("__v"))
      .crossJoin(broadcast(groups.select(col("__g"))))
      .join(cells, Seq("__v", "__g"), "left")
      .na.fill(0L, Seq("__c"))
    val win = Window.partitionBy(col("__v")).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val j2 = Ranks.groupedCumSum(dense, Seq("__g"), "__v", Seq("__c"))
      .withColumn("__below", col("cum___c") - col("__c"))
      .withColumn("__pb", coalesce(sum(col("__below")).over(win), lit(0L)))
      .withColumn("__pc", coalesce(sum(col("__c")).over(win), lit(0L)))
      .agg(sum(col("__c").cast("decimal(38,0)") *
        (lit(2L) * col("__pb") + col("__pc")).cast("decimal(38,0)"))
        .as("__j2"))
    val nd = col("__ng").cast("decimal(38,0)")
    val td = col("__t").cast("decimal(38,0)")
    val gm = groups.agg(sum(nd).as("__n"), count(lit(1)).as("__k"),
      sum(nd * nd).as("__sn2"), sum(nd * (nd - 1)).as("__sn21"),
      sum(nd * (nd - 1) * (lit(2L) * nd + lit(5L))).as("__sn25"),
      sum(nd * (nd - 1) * (nd - 2)).as("__sn3"))
    val tm = levels.agg(sum(td * (td - 1)).as("__st21"),
      sum(td * (td - 1) * (lit(2L) * td + lit(5L))).as("__st25"),
      sum(td * (td - 1) * (td - 2)).as("__st3"))
    val nD = col("__n").cast("double")
    val a = nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("__sn25").cast("double") - col("__st25").cast("double")
    val b = col("__sn3").cast("double") * col("__st3").cast("double")
    val cc = col("__sn21").cast("double") * col("__st21").cast("double")
    val variance = a / 72.0 +
      b / (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0)) +
      cc / (lit(8.0) * nD * (nD - 1.0))
    // J − E exact: (2·2J − (N² − Σn²)) / 4 in DECIMAL before the cast
    val dev = (lit(2L) * col("__j2") -
      (col("__n") * col("__n") - col("__sn2"))).cast("double") / 4.0
    j2.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      .select(col("__n").cast("long").as("n"), col("__k").as("k_groups"),
        round(col("__j2").cast("double") / 2.0, 6).as("j_stat"),
        round(when(col("__n") >= 3L && round(variance, 9) > 0.0,
          dev / sqrt(variance)), 6).as("z"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic — the distribution-drift
    * test on a NUMERIC column: D = sup_x |F_a(x) − F_b(x)| over the
    * empirical CDFs of the two samples. Sensitive to any difference
    * (location, scale, shape), unlike a mean check.
    *
    * One value-level aggregation (counts per distinct value per
    * sample), one cumulative walk over the distinct-value grid, and
    * the sup is exact integer arithmetic: D = max|cumA·n_b − cumB·n_a|
    * / (n_a·n_b), held in DECIMAL(38,0) until the final division.
    * Rows whose sample label is neither `aLabel` nor `bLabel` (or
    * whose value is null) drop. Output: one row
    * (n_a, n_b, ks_d rounded 6); ks_d null if either sample is empty.
    *
    * The cumulative walk is [[graft.operators.Ranks.groupedCumSum]]'s
    * two-level bucketed shape, so a NEAR-UNIQUE continuous column
    * (distinct-value grid ≈ the corpus) still never funnels through a
    * single-partition window — the only global walk is the
    * buckets-sized prefix table. */
  def ksTest(df: DataFrame, sampleCol: String, valCol: String,
             aLabel: String, bLabel: String): DataFrame = {
    val rows = df
      .filter(col(valCol).isNotNull &&
        col(sampleCol).isin(aLabel, bLabel))
      .select((col(sampleCol) === aLabel).as("__a"),
        col(valCol).cast("double").as("__v"))
    // read by the walk AND the totals agg — one lazy
    // materialization (the dunn levels discipline)
    val level = Materialize(rows.groupBy(col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb")))
    val totals = level.agg(sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"))
    graft.operators.Ranks
      .groupedCumSum(level, Seq.empty, "__v", Seq("__ca", "__cb"))
      .crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        abs(col("cum___ca").cast("decimal(38,0)") * col("n_b") -
          col("cum___cb").cast("decimal(38,0)") * col("n_a")).as("__d"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(round(when(col("n_a") > 0 && col("n_b") > 0,
        max(col("__d")).cast("double") /
          (col("n_a").cast("double") * col("n_b"))), 6).as("ks_d"))
  }

  /** Two-sample Mann-Whitney U test (tie-corrected normal
    * approximation) — the nonparametric location test behind
    * [[rocAuc]]: U_a counts pairs where an A value beats a B value
    * (ties ½), so U_a = AUC·n_a·n_b, and the z statistic asks whether
    * that count is farther from n_a·n_b/2 than rank noise explains.
    * The distribution-free A/B readout when [[welchT]]'s
    * normal-ish-means assumption is suspect (heavy-tailed spend,
    * latency, counts).
    *
    * Same score-level discipline as [[rocAuc]]/[[ksTest]]: one
    * distinct-value aggregation, one bucketed cumulative walk
    * ([[Ranks.groupedCumSum]] — a near-unique continuous column never
    * funnels one partition), exact DECIMAL(38,0) integer arithmetic
    * through 2U = Σ p(2c+t+1) − n_a(n_a+1) and the tie term
    * Σ t(t−1)(t+1), one final double division:
    * z = (2U − n_a·n_b) / (2·σ) with
    * σ² = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))).
    *
    * Rows with other labels or null values drop. Output: one row
    * (n_a, n_b, u rounded 1 — U is integer-or-half, z rounded 6);
    * z is null when a sample is empty or every value ties (σ = 0). */
  def mannWhitneyU(df: DataFrame, sampleCol: String, valCol: String,
                   aLabel: String, bLabel: String): DataFrame = {
    val rows = df
      .filter(col(valCol).isNotNull &&
        col(sampleCol).isin(aLabel, bLabel))
      .select((col(sampleCol) === aLabel).as("__a"),
        col(valCol).cast("double").as("__v"))
    val level = rows.groupBy(col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__q"))
      .withColumn("__t", col("__p") + col("__q"))
    val walked = graft.operators.Ranks
      .groupedCumSum(level, Seq.empty, "__v", Seq("__t"))
      // p·(2c + t + 1), c = rows strictly below — operands to decimal
      // BEFORE the multiply (the rocAuc overflow discipline)
      .withColumn("__u2",
        col("__p").cast("decimal(38,0)") *
          (lit(2L) * (col("cum___t") - col("__t")) +
            col("__t") + lit(1L)).cast("decimal(38,0)"))
      // tie correction Σ t(t−1)(t+1) = Σ(t³−t), exact
      .withColumn("__tie",
        col("__t").cast("decimal(38,0)") *
          (col("__t") - 1L).cast("decimal(38,0)") *
          (col("__t") + 1L).cast("decimal(38,0)"))
    walked.agg(
        sum(col("__p")).as("n_a"), sum(col("__q")).as("n_b"),
        sum(col("__u2")).as("__s2"), sum(col("__tie")).as("__T"))
      // 2U_a = Σ p(2c+t+1) − n_a(n_a+1)
      .withColumn("__2u",
        col("__s2") - col("n_a").cast("decimal(38,0)") *
          (col("n_a") + lit(1L)).cast("decimal(38,0)"))
      .withColumn("__n", col("n_a") + col("n_b"))
      // σ² = n_a·n_b/12 · ((N+1) − T/(N(N−1))) in double
      .withColumn("__var",
        col("n_a").cast("double") * col("n_b") / 12.0 *
          ((col("__n") + lit(1L)).cast("double") -
            col("__T").cast("double") /
              (col("__n").cast("double") * (col("__n") - lit(1L)))))
      .select(col("n_a"), col("n_b"),
        round(col("__2u").cast("double") / 2.0, 1).as("u"),
        round(when(col("n_a") > 0 && col("n_b") > 0 && col("__var") > 0,
          (col("__2u").cast("double") -
            col("n_a").cast("double") * col("n_b")) /
            (lit(2.0) * sqrt(col("__var")))), 6).as("z"))
  }

  /** Isotonic calibration (pool-adjacent-violators) per group — the
    * monotone repair for a score [[calibration]] diagnoses as skewed:
    * fit the best non-decreasing map score → P(label) by pooling
    * adjacent score levels whose empirical rates violate monotonicity
    * (each pooled block's rate is its weighted mean — the classical
    * PAV fixpoint, and the L2-optimal monotone fit). Unlike Platt
    * scaling it assumes no sigmoid shape; unlike binning (q201) it
    * lets the DATA choose the step boundaries.
    *
    * Shape: scores aggregate to their per-group distinct-value level
    * table (the [[rocAuc]] grid contract — round continuous scores
    * first), then ONE shuffle groups levels by `groupCol` and PAV
    * runs imperatively inside each task (`flatMapGroups` — the
    * [[graft.operators.Keywords.textRank]] per-key-imperative
    * precedent; PAV's unbounded backward merging cannot be expressed
    * as a bounded HOF). Merging compares exact integer cross products
    * (pos·n), so block boundaries are bit-stable; rates render once
    * at the end.
    *
    * Output: one row per input score level — (groupCol, score, n,
    * n_pos, calibrated rounded 6), non-decreasing in score within
    * each group. Null labels/scores drop.
    *
    * Guard: the per-group PAV walk materializes the group's LEVEL
    * table in one task, so a continuous score fed raw would build a
    * corpus-sized array. `maxLevelsPerGroup` fails fast with the
    * round-the-score-first remedy instead of an executor OOM. */
  def isotonicCalibrate(df: DataFrame, groupCol: String,
                        labelCol: String, scoreCol: String,
                        maxLevelsPerGroup: Int = 1000000): DataFrame = {
    require(maxLevelsPerGroup >= 1,
      s"maxLevelsPerGroup must be >= 1, got $maxLevelsPerGroup")
    import df.sparkSession.implicits._
    val level = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(scoreCol).cast("double").as("__s"),
        (col(labelCol).cast("int") =!= 0).as("__pos"))
      .groupBy(col("__g"), col("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("__p"))
      .as[(String, Double, Long, Long)]
    level.groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val levels = it.toArray.sortBy(_._2)
        if (levels.length > maxLevelsPerGroup)
          throw new IllegalArgumentException(
            s"isotonicCalibrate: group '$g' has ${levels.length} distinct " +
              s"score levels (> $maxLevelsPerGroup) — round the score to " +
              "a grid first (the rocAuc contract) or raise maxLevelsPerGroup")
        // blocks of (firstLevelIdx, n, pos); merge while the previous
        // block's rate exceeds the new one's (pos_prev·n_new > pos_new·n_prev)
        val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        levels.zipWithIndex.foreach { case ((_, _, n, p), i) =>
          var blk = (i, n, p)
          while (stack.nonEmpty &&
            stack.last._3 * blk._2 > blk._3 * stack.last._2) {
            val prev = stack.remove(stack.size - 1)
            blk = (prev._1, prev._2 + blk._2, prev._3 + blk._3)
          }
          stack += blk
        }
        val out = new Array[(String, Double, Long, Long, Double)](levels.length)
        var bi = 0
        levels.indices.foreach { i =>
          if (bi + 1 < stack.size && stack(bi + 1)._1 <= i) bi += 1
          val (_, bn, bp) = stack(bi)
          val (_, s, n, p) = levels(i)
          out(i) = (g, s, n, p,
            math.rint(bp.toDouble / bn * 1e6) / 1e6)
        }
        out.iterator
      }
      .toDF(groupCol, "score", "n", "n_pos", "calibrated")
  }

  /** 1-D Wasserstein distance (earth mover's) between two samples —
    * the INTEGRAL drift measure beside [[ksTest]]'s sup: W₁ =
    * ∫|F_a − F_b| dv says how much probability mass moved how FAR,
    * where KS only says the worst single gap. A distribution that
    * shifts slightly everywhere (quantization, unit drift) moves W₁
    * and barely moves KS; a localized spike does the opposite —
    * drift monitors want both.
    *
    * Exact on the merged distinct-value grid: between consecutive
    * grid values the CDFs are constant, so
    * W₁ = Σ_i |cumA_i·n_b − cumB_i·n_a| · (v_{i+1} − v_i) / (n_a·n_b)
    * with the integer cross-difference held in DECIMAL(38,0) (the
    * ksTest discipline). The walk is [[Ranks.groupedCumSum]] +
    * [[Ranks.globalRowNumber]]; the neighbor gap comes from a
    * rank → rank+1 self-join (keyed — a near-unique continuous
    * column never funnels one task, and no unpartitioned lead()).
    * Each segment term rounds to the 9-grid into a DECIMAL(38,9) sum;
    * ONE final division. Output: one row (n_a, n_b, w1 rounded 6);
    * null if either sample is empty. */
  def wasserstein1(df: DataFrame, sampleCol: String, valCol: String,
                   aLabel: String, bLabel: String): DataFrame = {
    val rows = df
      .filter(col(valCol).isNotNull &&
        col(sampleCol).isin(aLabel, bLabel))
      .select((col(sampleCol) === aLabel).as("__a"),
        col(valCol).cast("double").as("__v"))
    // value-level grid and its walked CDF are each read twice (totals +
    // walk; current + next segment endpoints): lazy local checkpoints
    // share one materialization per table (the q246 plan-explosion fix)
    val level = Materialize(rows.groupBy(col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb")))
    val totals = level.agg(sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"))
    val walked = Materialize(Ranks.globalRowNumber(
      Ranks.groupedCumSum(level, Seq.empty, "__v", Seq("__ca", "__cb")),
      "__v", "__rk"))
    val cur = walked.select(col("__rk"), col("__v"),
      col("cum___ca").as("__fa"), col("cum___cb").as("__fb"))
    val nxt = walked.select((col("__rk") - 1L).as("__rk"),
      col("__v").as("__vn"))
    val segs = cur.join(nxt, "__rk")
      .crossJoin(broadcast(totals))
      .select(
        round(abs(col("__fa").cast("decimal(38,0)") * col("n_b") -
            col("__fb").cast("decimal(38,0)") * col("n_a")).cast("double") *
          (col("__vn") - col("__v")), 9).cast("decimal(38,9)").as("__t"))
      // a one-point grid has no segments: the sum is an exact 0, not an
      // absent row
      .agg(coalesce(sum(col("__t")),
        lit(0).cast("decimal(38,9)")).as("__s"))
    totals.crossJoin(segs)
      .select(col("n_a"), col("n_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          col("__s").cast("double") /
            (col("n_a").cast("double") * col("n_b"))), 6).as("w1"))
  }

  /** Split-conformal prediction intervals — distribution-free
    * uncertainty for ANY point predictor: with q̂ the
    * ⌈(n+1)(1−α)⌉-th smallest calibration residual |y − ŷ|, the
    * interval ŷ ± q̂ covers the true y of a fresh row with
    * probability ≥ 1−α, no matter how wrong the model is (the
    * guarantee is exchangeability, not correctness). The honest
    * error-bar [[calibration]]'s reliability table diagnoses but
    * cannot produce.
    *
    * Shape: residuals aggregate to their distinct-value grid, the
    * ceil-rank order statistic comes off one [[Ranks.groupedCumSum]]
    * walk (never a corpus sort), and q̂ broadcasts onto the scoring
    * rows as a 1-row cross join — scoring is a narrow projection.
    * The exact order statistic (not an interpolated percentile) is
    * what the conformal guarantee is proved for.
    *
    * Null y/ŷ calibration rows drop. If ⌈(n+1)(1−α)⌉ > n (α too
    * small for the calibration size) q̂ is undefined and the
    * intervals come back null — widen α or the calibration set.
    * Output: scoring rows as (idCol, yhatCol, lo, hi), lo/hi rounded
    * 6. */
  def conformalInterval(cal: DataFrame, score: DataFrame, idCol: String,
                        yCol: String, yhatCol: String,
                        alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val res = cal
      .filter(col(yCol).isNotNull && col(yhatCol).isNotNull)
      .select(abs(col(yCol).cast("double") -
        col(yhatCol).cast("double")).as("__r"))
    // read by the walk AND the count agg (the dunn discipline)
    val level = Materialize(res.groupBy(col("__r")).agg(count(lit(1)).as("__c")))
    val n = level.agg(sum(col("__c")).as("__n"))
    val qhat = Ranks.groupedCumSum(level, Seq.empty, "__r", Seq("__c"))
      .crossJoin(broadcast(n))
      .filter(col("cum___c") >=
        ceil((col("__n") + lit(1L)) * lit(1.0 - alpha)).cast("long"))
      .agg(min(col("__r")).as("__q"))
    score
      .crossJoin(broadcast(qhat))
      .select(col(idCol), col(yhatCol),
        round(col(yhatCol).cast("double") - col("__q"), 6).as("lo"),
        round(col(yhatCol).cast("double") + col("__q"), 6).as("hi"))
  }

  /** Benjamini-Hochberg FDR adjustment — the multiple-comparisons
    * correction every WIDE testing sweep here needs ([[welchT]] per
    * segment, [[Features.chiSquare]] per cell, drift tests per
    * feature): testing m hypotheses at α inflates false discoveries
    * ~m-fold; BH adjusts each p to the smallest FDR level at which it
    * would still be rejected: adj_i = min_{j ≥ i}(p_j · m / j) over
    * the ascending p ranking, clamped at 1.
    *
    * Input contract — and why the windows here are deliberately
    * unpartitioned: the input is a TABLE OF TESTS (one row per
    * hypothesis — thousands at most, the |tests| analog of the
    * numBins contract), never corpus rows. Aggregate to your test
    * table first. Ranking ties break by `idCol` so equal p-values
    * order deterministically (BH is rank-monotone, so tie order never
    * changes an adjusted value — pinning it keeps the rank column
    * itself reproducible). Null p-values drop; m counts the surviving
    * tests.
    *
    * Output: (idCol, pCol, rank, p_adj rounded 6) ordered by rank. */
  def bhAdjust(df: DataFrame, idCol: String, pCol: String): DataFrame = {
    // test-table-sized by contract; read by m AND the ranking walk
    val rows = Materialize(df.filter(col(pCol).isNotNull)
      .select(col(idCol).as("__id"), col(pCol).cast("double").as("__p"),
        struct(col(pCol).cast("double"), col(idCol)).as("__ord")))
    val m = rows.agg(count(lit(1)).as("__m"))
    // both corpus-sized walks ride the Ranks two-level machinery — a
    // million-hypothesis screen never funnels through one task
    // (the former Window.orderBy form did; r12 scale audit)
    val ranked = Ranks.globalRowNumber(rows, "__ord", "rank")
      .crossJoin(broadcast(m))
      .withColumn("__cand", col("__p") * col("__m") / col("rank"))
    Ranks.globalSuffixMin(ranked, "rank", "__cand", "__sm")
      .withColumn("p_adj", round(least(col("__sm"), lit(1.0)), 6))
      .select(col("__id").as(idCol), col("__p").as(pCol),
        col("rank").cast("long").as("rank"), col("p_adj"))
      .orderBy(col("rank"))
  }

  /** CUPED variance reduction (Controlled-experiment Using Pre-Exposure
    * Data) — the A/B readout [[welchT]]/[[propZTest]] should run ON:
    * subtract the part of each unit's metric that its pre-experiment
    * covariate already predicted, ŷ = y − θ·(x − x̄), θ = cov(x,y)/var(x)
    * POOLED across variants. Means are unchanged in expectation but
    * their variance shrinks by the covariate's R², which is what turns
    * an underpowered experiment into a conclusive one.
    *
    * One corpus pass for the pooled sufficient statistics
    * (n, Σx, Σy, Σx², Σxy — 9-grid terms in DECIMAL(38,9), the
    * [[Features.olsFit]] discipline) broadcast as one row, one keyed
    * agg for per-variant means; θ and the adjustment derive in a
    * projection with pinned double association. Rows with null
    * metric/covariate/variant drop (unit-level input — pre-aggregate
    * events to units first). Zero covariate variance → null θ and
    * null adjusted means (no silent fallback to the raw mean: that
    * would misreport the variance you think you removed).
    *
    * Output: (variantCol, n, mean_metric, adjusted_mean, theta),
    * rounded 6, ordered by variant. */
  def cuped(df: DataFrame, variantCol: String, metricCol: String,
            covariateCol: String): DataFrame = {
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val rows = df
      .filter(col(variantCol).isNotNull && col(metricCol).isNotNull &&
        col(covariateCol).isNotNull)
      .select(col(variantCol).as("__v"),
        col(metricCol).cast("double").as("__y"),
        col(covariateCol).cast("double").as("__x"))
    val pooled = rows.agg(
      count(lit(1)).as("__pn"),
      sum(dec9(col("__x"))).as("__psx"),
      sum(dec9(col("__y"))).as("__psy"),
      sum(dec9(col("__x") * col("__x"))).as("__psxx"),
      sum(dec9(col("__x") * col("__y"))).as("__psxy"))
    val per = rows.groupBy(col("__v")).agg(
      count(lit(1)).as("n"),
      sum(dec9(col("__y"))).as("__sy"),
      sum(dec9(col("__x"))).as("__sx"))
    per.crossJoin(broadcast(pooled))
      .withColumn("__varx",
        col("__pn").cast("double") * col("__psxx").cast("double") -
          col("__psx").cast("double") * col("__psx").cast("double"))
      .withColumn("__theta",
        when(col("__varx") > 0,
          (col("__pn").cast("double") * col("__psxy").cast("double") -
            col("__psx").cast("double") * col("__psy").cast("double")) /
            col("__varx")))
      .select(col("__v").as(variantCol), col("n"),
        round(col("__sy").cast("double") / col("n"), 6).as("mean_metric"),
        round(col("__sy").cast("double") / col("n") - col("__theta") *
          (col("__sx").cast("double") / col("n") -
            col("__psx").cast("double") / col("__pn")), 6)
          .as("adjusted_mean"),
        round(col("__theta"), 6).as("theta"))
      .orderBy(col(variantCol))
  }

  /** Population Stability Index per bin — the serving-vs-training drift
    * monitor on a numeric column: bin both populations by the
    * REFERENCE's exact quantile boundaries (the [[Features.quantileBin]]
    * convention: bin = 1 + #{boundaries < value}), then per bin
    * PSI_i = (q_i − p_i)·ln(q_i/p_i) with p = reference fraction,
    * q = current fraction. Σ PSI_i < 0.1 is the conventional "stable"
    * reading; per-bin terms localize WHERE the shift happened, which is
    * why this returns the per-bin table rather than one number.
    *
    * Empty-bin handling: fractions floor at 1e-6 (deterministic, both
    * engines) so a vanished or newborn bin contributes a large finite
    * term instead of ±∞. Each term rounds to the 9-grid (ln parity is
    * the q193 exposure). Scale: two fact-sized binning passes against a
    * broadcast boundary array + two numBins-sized aggs; `exact = false`
    * swaps the reference percentile for t-digest at corpus scale.
    * Output: (bin, ref_n, cur_n, ref_frac, cur_frac, psi_term) ordered
    * by bin. */
  def psi(ref: DataFrame, cur: DataFrame, valCol: String,
          numBins: Int = 10, exact: Boolean = true): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    val bexpr =
      if (exact) expr(s"percentile($valCol, array($ps))")
      else expr(s"approx_percentile($valCol, array($ps), 10000)")
    val bounds = ref.agg(bexpr.as("__bounds"))
    def binned(df: DataFrame, out: String): DataFrame =
      df.filter(col(valCol).isNotNull)
        .crossJoin(broadcast(bounds))
        .select((lit(1) + size(filter(col("__bounds"),
          b => col(valCol).cast("double") > b))).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    val joined = binned(ref, "ref_n")
      .join(binned(cur, "cur_n"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = joined.agg(sum(col("ref_n")).as("__rt"),
      sum(col("cur_n")).as("__ct"))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        greatest(col("ref_n").cast("double") / col("__rt"), lit(1e-6))
          .as("__p"),
        greatest(col("cur_n").cast("double") / col("__ct"), lit(1e-6))
          .as("__q"))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round(col("__p"), 6).as("ref_frac"),
        round(col("__q"), 6).as("cur_frac"),
        round((col("__q") - col("__p")) * log(col("__q") / col("__p")), 9)
          .as("psi_term"))
  }

  /** Laplace-noised group counts — the ε-differential-privacy release
    * mechanism for a count table, with the noise draw DETERMINISTIC
    * from the engine's cross-engine md5 uniform over (salt, group):
    * noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|), the exact inverse-CDF
    * Laplace(1/ε) transform. Determinism is deliberately a TESTING
    * mode (auditable, engine-reproducible — what makes a SQL oracle
    * possible at all); a production DP release must swap the salt for
    * fresh entropy per release and never publish it, or the noise is
    * recoverable and the ε guarantee void — the scaladoc IS the
    * warning label. One map-side-combined count agg; noise is one
    * expression per GROUP row. Output: (groupCol, n, noise, noisy_n
    * rounded 6). */
  def laplaceNoisyCounts(df: DataFrame, groupCol: String, epsilon: Double,
                         salt: String = "dp"): DataFrame = {
    require(epsilon > 0.0, s"epsilon must be positive, got $epsilon")
    val counts = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"))
    val u = graft.operators.Splits.uniformFromId(col("__g"), salt)
    val centered = u - lit(0.5)
    val noise = round(
      negate(lit(1.0 / epsilon)) * signum(centered) *
        log(lit(1.0) - lit(2.0) * abs(centered)), 9)
    counts
      .select(col("__g").as(groupCol), col("n"),
        round(noise, 6).as("noise"),
        round(col("n") + noise, 6).as("noisy_n"))
  }

  /** Two-sample Poisson rate test — do events arrive FASTER in one
    * arm (per unit exposure), the count-data question [[propZTest]]'s
    * per-trial proportions can't ask: rate ratio k_a·T_b / (k_b·T_a)
    * and the Wald z on the log ratio, z = ln(ratio)/√(1/k_a + 1/k_b)
    * (conditioning on totals — the standard large-count test).
    * Exposures are caller-supplied constants (observation windows);
    * zero counts yield null ratio/z (unmeasurable). ONE
    * map-side-combined count pass. Output one row: (k_a, k_b,
    * rate_a, rate_b, rate_ratio, z) rounded 6. */
  def poissonRateTest(df: DataFrame, variantCol: String, aLabel: String,
                      bLabel: String, exposureA: Double,
                      exposureB: Double): DataFrame = {
    require(exposureA > 0 && exposureB > 0,
      s"exposures must be positive, got $exposureA, $exposureB")
    df.filter(col(variantCol).isin(aLabel, bLabel))
      .agg(
        sum(when(col(variantCol) === aLabel, 1L).otherwise(0L)).as("k_a"),
        sum(when(col(variantCol) === bLabel, 1L).otherwise(0L)).as("k_b"))
      .select(col("k_a"), col("k_b"),
        round(col("k_a") / lit(exposureA), 6).as("rate_a"),
        round(col("k_b") / lit(exposureB), 6).as("rate_b"),
        round(when(col("k_a") > 0 && col("k_b") > 0,
          (col("k_a") * lit(exposureB)) / (col("k_b") * lit(exposureA))),
          6).as("rate_ratio"),
        round(when(col("k_a") > 0 && col("k_b") > 0,
          log((col("k_a") * lit(exposureB)) /
            (col("k_b") * lit(exposureA))) /
            sqrt(lit(1.0) / col("k_a") + lit(1.0) / col("k_b"))), 6)
          .as("z"))
  }

  /** PSI drift timeline — [[psi]] per period against ONE fixed
    * reference: the trajectory view that says not just "the serving
    * distribution moved" but WHEN it started moving and whether it is
    * still drifting. Reference deciles compute once; every period of
    * `cur` gets the full numBins-bin comparison against them (bins
    * empty in a period are REAL zeros via the dense periods × bins
    * frame, ε-floored like [[psi]] — a period missing a bin is exactly
    * the signal).
    *
    * Scale shape: one ref percentile agg + one binned count per side;
    * the dense frame is periods × numBins rows built by explode, never
    * a row-wise fill. Nulls drop on both sides (the q196 pin). Output
    * one row per period: (periodCol, ref_n, cur_n, psi rounded 6). */
  def psiOverTime(ref: DataFrame, cur: DataFrame, valCol: String,
                  periodCol: String, numBins: Int = 10): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    val bounds = ref.filter(col(valCol).isNotNull)
      .agg(expr(s"percentile($valCol, array($ps))").as("__bounds"))
    def binOf: Column =
      lit(1) + size(filter(col("__bounds"),
        b => col(valCol).cast("double") > b))
    val refBins = ref.filter(col(valCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .select(binOf.as("__bin"))
      .groupBy(col("__bin")).agg(count(lit(1)).as("__rn"))
    val curBins = cur.filter(col(valCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .select(col(periodCol).as("__p"), binOf.as("__bin"))
      .groupBy(col("__p"), col("__bin")).agg(count(lit(1)).as("__cn"))
    val dense = curBins.select(col("__p")).distinct()
      .withColumn("__bin", explode(sequence(lit(1), lit(numBins))))
      .join(broadcast(refBins), Seq("__bin"), "left")
      .join(curBins, Seq("__p", "__bin"), "left")
      .select(col("__p"), col("__bin"),
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
    val totals = dense.groupBy(col("__p"))
      .agg(sum(col("__rn")).as("__rt"), sum(col("__cn")).as("__ct"))
    // the when-guard keeps ANSI division from ever seeing a zero total
    // (an empty reference or an empty period yields null psi, not an
    // error — degenerate input is unmeasurable, not zero-drift)
    val pp = greatest(col("__rn").cast("double") / col("__rt"), lit(1e-6))
    val qq = greatest(col("__cn").cast("double") / col("__ct"), lit(1e-6))
    val term = when(col("__rt") > 0L && col("__ct") > 0L,
      round((qq - pp) * log(qq / pp), 9).cast("decimal(38,9)"))
    dense.join(broadcast(totals), "__p")
      .groupBy(col("__p"))
      .agg(sum(col("__rn")).as("ref_n"), sum(col("__cn")).as("cur_n"),
        sum(term).as("__psi"))
      .select(col("__p").as(periodCol), col("ref_n"), col("cur_n"),
        round(col("__psi").cast("double"), 6).as("psi"))
  }

  /** Lorenz curve per group — the CURVE behind [[gini]]'s single
    * number: at each population decile k/d, the share of total value
    * held by the poorest ⌈n·k/d⌉ rows ("the bottom 80% of documents
    * hold 20% of the tokens"). Diagonal = perfect equality; the area
    * gap is the Gini.
    *
    * Ranks are EXACT integer order statistics, ⌈n·k/d⌉ computed as
    * (n·k + d − 1) div d in pure integer arithmetic (no float decile
    * fractions near integer boundaries). The walk runs on the
    * per-group distinct-value grid ([[graft.operators.Ranks]]
    * cumulative counts AND cumulative 9-grid DECIMAL value sums —
    * both compose across buckets); a rank cutting inside a tie level
    * takes its exact partial share, cumw − (cum − rank)·v. Negative
    * values break the construction (the [[gini]] caller contract);
    * nulls drop; zero-total groups yield null shares. Output:
    * (groupCol, decile, rank, pop_frac, value_share) rounded 6. */
  def lorenzCurve(df: DataFrame, groupCol: String, valCol: String,
                  deciles: Int = 10): DataFrame = {
    require(deciles >= 2, s"deciles must be >= 2, got $deciles")
    val rows = df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valCol).cast("double"), 9).as("__v"))
    // level grid read by the totals agg AND the cumulative walk — one
    // lazy materialization (the trimmedMean/dunn levels discipline)
    val level = Materialize(rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(round(col("__v"), 9).cast("decimal(38,9)")).as("__w")))
    val totals = level.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"), sum(col("__w")).as("__tw"))
    val walked = Ranks.groupedCumSum(level, Seq("__g"), "__v",
        Seq("__c", "__w"))
      .join(totals, "__g")
    walked
      .withColumn("__d", explode(sequence(lit(1), lit(deciles))))
      .withColumn("__rank",
        expr(s"(__n * __d + ${deciles - 1}) div $deciles"))
      .filter(col("cum___c") >= col("__rank") &&
        col("cum___c") - col("__c") < col("__rank"))
      .select(col("__g").as(groupCol), col("__d").cast("int").as("decile"),
        col("__rank").as("rank"),
        round(col("__d").cast("double") / deciles, 6).as("pop_frac"),
        round(when(col("__tw").cast("double") =!= 0.0,
          (col("cum___w").cast("double") -
            (col("cum___c") - col("__rank")).cast("double") * col("__v")) /
            col("__tw").cast("double")), 6).as("value_share"))
  }

  /** Per-column PSI sweep — [[psi]] for EVERY listed numeric column in
    * one pass each side: the drift dashboard a serving pipeline
    * actually runs nightly, not one column at a time. Columns stack
    * into (column, v) rows; each column gets its own exact ref-decile
    * bounds (grouped `percentile`) and its own 10-bin comparison; the
    * per-column PSI is the 9-grid DECIMAL sum of its bin terms.
    *
    * Scale shape: two stacked fact passes (ref: bounds + bins; cur:
    * bins) and columns×bins tiny tables after — the per-column bounds
    * ride ONE broadcast join. Same ε = 1e-6 floor and null contract
    * as [[psi]] (nulls drop — pin the same filter in any oracle).
    * Output one row per column: (column, ref_n, cur_n, psi rounded 6),
    * ordered by column. */
  def psiSweep(ref: DataFrame, cur: DataFrame, cols: Seq[String],
               numBins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    def stacked(df: DataFrame): DataFrame = {
      val stackArgs = cols
        .map(c => s"'${c.replace("'", "''")}', CAST(`$c` AS DOUBLE)")
        .mkString(", ")
      df.selectExpr(s"stack(${cols.size}, $stackArgs) AS (__col, __v)")
        .filter(col("__v").isNotNull)
    }
    val bounds = stacked(ref).groupBy(col("__col"))
      .agg(expr(s"percentile(__v, array($ps))").as("__bounds"))
    def binned(df: DataFrame, out: String): DataFrame =
      stacked(df).join(broadcast(bounds), "__col")
        .select(col("__col"), (lit(1) + size(filter(col("__bounds"),
          b => col("__v") > b))).as("__bin"))
        .groupBy(col("__col"), col("__bin")).agg(count(lit(1)).as(out))
    val joined = binned(ref, "__rn")
      .join(binned(cur, "__cn"), Seq("__col", "__bin"), "full_outer")
      .select(col("__col"), col("__bin"),
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
    val totals = joined.groupBy(col("__col"))
      .agg(sum(col("__rn")).as("__rt"), sum(col("__cn")).as("__ct"))
    joined.join(broadcast(totals), "__col")
      .select(col("__col"), col("__rn"), col("__cn"),
        // a side with zero non-null rows makes the fraction 0/0 — an
        // ANSI DIVIDE_BY_ZERO. Null instead: the column's psi reads
        // null = unmeasurable, not an error (the psiOverTime contract)
        when(col("__rt") > 0,
          greatest(col("__rn").cast("double") / col("__rt"), lit(1e-6)))
          .as("__p"),
        when(col("__ct") > 0,
          greatest(col("__cn").cast("double") / col("__ct"), lit(1e-6)))
          .as("__q"))
      .groupBy(col("__col"))
      .agg(sum(col("__rn")).as("ref_n"), sum(col("__cn")).as("cur_n"),
        sum(round((col("__q") - col("__p")) * log(col("__q") / col("__p")),
          9).cast("decimal(38,9)")).as("__psi"))
      .select(col("__col").as("column"), col("ref_n"), col("cur_n"),
        round(col("__psi").cast("double"), 6).as("psi"))
  }

  /** Gini coefficient per group — inequality of a non-negative quantity
    * (sampling-weight concentration, per-source token share, spend):
    * G = Σᵢ (2i − n − 1)·x₍ᵢ₎ / (n·Σx) over ascending values, 0 =
    * perfectly even, (n−1)/n = one holder has everything.
    *
    * Rank-free form: a distinct-value level (value v, count c, s rows
    * strictly below) contributes v·c·(2s + c − n) to the numerator.
    * Each level term is ONE IEEE double product (bit-identical on any
    * engine given identical inputs), rounded to the 9-grid and summed
    * in DECIMAL(38,9) — associative, so partition order can't move the
    * result; a decimal×decimal form would instead overflow the 38-digit
    * cap with engine-specific truncation. Negative values violate the Lorenz
    * construction; they are the caller's contract (the result is then
    * merely a ratio, not an inequality index). Null values drop; groups
    * with n = 0 or Σx = 0 yield null. Output: (groupCol, n, gini
    * rounded 6). */
  def gini(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val rows = df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valCol).cast("double"), 9).as("__v"))
    // level grid read by the totals agg AND the cumulative walk — one
    // lazy materialization (the trimmedMean/dunn levels discipline)
    val level = Materialize(rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    val totals = level.groupBy(col("__g")).agg(
      sum(col("__c")).as("__n"),
      sum(round(col("__v") * col("__c"), 9).cast("decimal(38,9)"))
        .as("__sx"))
    // per-group value-grid walk via the bucketed two-level cumulative
    // (the ksTest discipline): a near-unique value column under few
    // groups never funnels a group's grid through one task
    Ranks.groupedCumSum(level, Seq("__g"), "__v", Seq("__c"))
      .withColumn("__cum", col("cum___c"))
      .join(totals, Seq("__g"))
      .select(col("__g"), col("__n"), col("__sx"),
        // count × rank-weight multiplied in DECIMAL(38,0) (not Long) so
        // the exact-integer discipline holds past 2^63-row groups
        round(col("__v") *
          (col("__c").cast("decimal(38,0)") *
            (lit(2L) * (col("__cum") - col("__c")) +
              col("__c") - col("__n")).cast("decimal(38,0)"))
            .cast("double"), 9)
          .cast("decimal(38,9)").as("__term"))
      .groupBy(col("__g"), col("__n"), col("__sx"))
      .agg(sum(col("__term")).as("__num"))
      .select(col("__g").as(groupCol),
        col("__n").as("n"),
        round(when(col("__n") > 0 && col("__sx") =!= 0,
          col("__num").cast("double") /
            (col("__n").cast("double") * col("__sx").cast("double"))), 6)
          .as("gini"))
  }

  /** Calibration (reliability) table — is a probability score HONEST:
    * among rows scored ≈ p, do ≈ p of them carry the positive label?
    * Scores bin equal-width on [0, 1] (bin = ⌊s·k⌋+1 clamped to k —
    * exactly 1.0 joins the top bin); per bin the mean score vs the
    * positive fraction is the reliability curve, and `bin_mse` is the
    * within-bin Brier term (Σ(s−y)² / n) so Σ n·bin_mse / Σ n
    * reconstructs the overall Brier score from the same table.
    *
    * One fact-sized keyed agg; score sums and squared-error sums are
    * 9-grid DECIMAL (partition-order independence), fractions are
    * integer-over-integer. Scores outside [0, 1] clamp into the edge
    * bins (deterministic, no fabricated bins) — calibrating an
    * unbounded score is the caller's modeling error to notice. Null
    * labels/scores drop. Output: (bin, n, mean_score, frac_pos,
    * bin_mse) — all rounded 6, ordered by whatever the caller sorts. */
  def calibration(df: DataFrame, labelCol: String, scoreCol: String,
                  numBins: Int = 10): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val rows = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select((col(labelCol).cast("int") =!= 0).as("__pos"),
        col(scoreCol).cast("double").as("__s"))
      .select(col("__pos"), col("__s"),
        least(greatest(floor(col("__s") * numBins).cast("int") + 1, lit(1)),
          lit(numBins)).as("bin"))
    rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__s"), 9).cast("decimal(28,9)")).as("__ss"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("__np"),
        sum(round((col("__s") - when(col("__pos"), 1.0).otherwise(0.0)) *
          (col("__s") - when(col("__pos"), 1.0).otherwise(0.0)), 9)
          .cast("decimal(28,9)")).as("__se"))
      .select(col("bin"), col("n"),
        round(col("__ss").cast("double") / col("n"), 6).as("mean_score"),
        round(col("__np").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("__se").cast("double") / col("n"), 6).as("bin_mse"))
  }

  /** Expected calibration error — the one-number summary of the
    * [[calibration]] table: ECE = Σ_b (n_b/n)·|mean_score_b −
    * frac_pos_b| (plus max-gap MCE alongside), computed FROM the same
    * binned aggregation so the two readouts can never disagree. Per-bin
    * means derive as rounded-6 doubles exactly as the table renders
    * them (the report IS the contract), the weighted fold accumulates
    * on the 9-grid in DECIMAL(38,9). Output: one row (n, n_bins_used,
    * ece, mce) rounded 6. */
  def expectedCalibrationError(df: DataFrame, labelCol: String,
                               scoreCol: String,
                               numBins: Int = 10): DataFrame = {
    val tbl = calibration(df, labelCol, scoreCol, numBins)
      .withColumn("__gap", abs(col("mean_score") - col("frac_pos")))
    tbl.agg(sum(col("n")).as("__n"),
        count(lit(1)).as("n_bins_used"),
        sum(round(col("n") * col("__gap"), 9).cast("decimal(38,9)"))
          .as("__w"),
        max(round(col("__gap"), 9)).as("__mce"))
      .select(col("__n").as("n"), col("n_bins_used"),
        round(col("__w").cast("double") / col("__n"), 6).as("ece"),
        round(col("__mce"), 6).as("mce"))
  }

  /** Cochran's Q — the k-classifier generalization of [[mcnemar]]:
    * do k related binary outcomes (k model versions scored on the SAME
    * items) share one success rate? Q = (k−1)·(k·ΣC_j² − (ΣC_j)²) /
    * (k·ΣR_i − ΣR_i²) with C_j the per-classifier success totals and
    * R_i the per-item success counts; χ²_(k−1) under H₀. Input is LONG
    * form (item, rater, correct). The design must be complete — every
    * item scored by every rater — and the operator FAILS FAST when it
    * is not (a silently unbalanced Q is wrong, not approximate).
    *
    * One (item)-keyed agg for the R_i terms + one (rater)-keyed agg
    * for the C_j terms, both map-side-combinable; exact integer sums
    * in DECIMAL(38,0) (ΣC² overflows long at corpus n), one final
    * double division. All items succeeding or all failing (zero
    * denominator) → null Q. Output: one row (n_items, k, q rounded
    * 6). */
  def cochranQ(df: DataFrame, itemCol: String, raterCol: String,
               correctCol: String): DataFrame = {
    val ok = when(col(correctCol).cast("int") =!= 0, 1L).otherwise(0L)
    val rows = df.filter(col(itemCol).isNotNull &&
        col(raterCol).isNotNull && col(correctCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"), ok.as("__x"))
    val k = rows.select(col("__r")).distinct()
      .agg(count(lit(1))).collect()(0).getLong(0)
    require(k >= 2, s"cochranQ needs >= 2 raters, got $k")
    val items = rows.groupBy(col("__i"))
      .agg(count(lit(1)).as("__c"), sum(col("__x")).as("__ri"))
    val bad = items.filter(col("__c") =!= k).limit(1).collect()
    require(bad.isEmpty,
      s"cochranQ needs a complete design (every item scored by all $k " +
        s"raters); item ${bad.headOption.map(_.get(0)).orNull} has " +
        s"${bad.headOption.map(_.getLong(1)).getOrElse(0L)} scores")
    val rTerms = items.agg(count(lit(1)).as("n_items"),
      sum(col("__ri").cast("decimal(38,0)")).as("__sr"),
      sum(col("__ri").cast("decimal(19,0)") *
        col("__ri").cast("decimal(19,0)")).as("__sr2"))
    val cTerms = rows.groupBy(col("__r")).agg(sum(col("__x")).as("__cj"))
      // cast BEFORE the product: a long C_j² overflows past 3e9 items
      // (the r10 multiply-before-cast audit)
      .agg(sum(col("__cj").cast("decimal(19,0)") *
        col("__cj").cast("decimal(19,0)")).as("__sc2"))
    val num = (lit(k) * col("__sc2").cast("double") -
      col("__sr").cast("double") * col("__sr").cast("double")) * (k - 1.0)
    val den = lit(k) * col("__sr").cast("double") -
      col("__sr2").cast("double")
    rTerms.crossJoin(cTerms)
      .select(col("n_items"), lit(k).as("k"),
        round(when(den =!= 0.0, num / den), 6).as("q"))
  }

  /** Fleiss' kappa — chance-corrected agreement for n raters assigning
    * k CATEGORIES to the same items (the multi-rater generalization of
    * `Features.cohenKappa`; [[cochranQ]] asks whether binary raters
    * share one success RATE where this asks whether categorical raters
    * AGREE item-by-item). Input is LONG form (item, rater, label);
    * every item must carry the same number of ratings n ≥ 2 and no
    * (item, rater) may appear twice — the operator FAILS FAST on
    * either (a silently unbalanced kappa is wrong, not approximate).
    *
    * With n_ij the per-(item, category) rating counts, N items and C_j
    * the per-category column totals: P̄ = (Σ n_ij² − N·n)/(N·n·(n−1))
    * and P̄_e = Σ C_j²/(N·n)² — every numerator and denominator an
    * EXACT integer (DECIMAL(19,0) cast BEFORE each product, the r10
    * overflow rule; sums in DECIMAL(38,0)), so both engines divide the
    * identical values once, in a pinned double expression tree; κ =
    * (P̄ − P̄_e)/(1 − P̄_e), null when 1 − P̄_e = 0 (every rating in one
    * category — agreement is undefined, not perfect). One (item,
    * category)-keyed count + one category-keyed count, both map-side-
    * combinable. Output: one row (n_items, n_raters, n_categories,
    * p_bar, p_e, kappa) rounded 6. */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
                  labelCol: String): DataFrame = {
    val rows = df.filter(col(itemCol).isNotNull &&
        col(raterCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(labelCol).cast("string").as("__l"))
    val dup = rows.groupBy(col("__i"), col("__r"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"fleissKappa needs one rating per (item, rater); item " +
        s"${dup.headOption.map(_.get(0)).orNull} / rater " +
        s"${dup.headOption.map(_.get(1)).orNull} appears " +
        s"${dup.headOption.map(_.getLong(2)).getOrElse(0L)} times")
    val perItem = rows.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val ns = perItem.select(col("__n")).distinct().limit(2).collect()
    require(ns.length == 1,
      "fleissKappa needs the same number of ratings on every item " +
        s"(got counts ${ns.map(_.getLong(0)).sorted.mkString(", ")}, ...)")
    val n = ns(0).getLong(0)
    require(n >= 2, s"fleissKappa needs >= 2 ratings per item, got $n")
    // Σ n_ij² over (item, category) cells + the item count
    val itemTerms = rows.groupBy(col("__i"), col("__l"))
      .agg(count(lit(1)).as("__nij"))
      .agg(countDistinct(col("__i")).as("n_items"),
        sum(col("__nij").cast("decimal(19,0)") *
          col("__nij").cast("decimal(19,0)")).as("__s2"))
    // Σ C_j² over category column totals + the category count
    val catTerms = rows.groupBy(col("__l"))
      .agg(count(lit(1)).as("__cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("__cj").cast("decimal(19,0)") *
          col("__cj").cast("decimal(19,0)")).as("__sc2"))
    val nItems = col("n_items").cast("double")
    val nn = nItems * n.toDouble
    val pBar = (col("__s2").cast("double") - nn) / (nn * (n - 1.0))
    val pE = col("__sc2").cast("double") / (nn * nn)
    itemTerms.crossJoin(catTerms)
      .select(col("n_items"), lit(n).as("n_raters"), col("n_categories"),
        round(pBar, 6).as("p_bar"), round(pE, 6).as("p_e"),
        round(when(lit(1.0) - pE =!= 0.0, (pBar - pE) / (lit(1.0) - pE)), 6)
          .as("kappa"))
  }

  /** Kruskal-Wallis H — the k-group rank test ([[mannWhitneyU]]
    * generalized past two samples; the nonparametric [[anovaF]]): do k
    * groups draw from one location? Ranks never attach to rows — the
    * average rank of each DISTINCT value derives from the global value
    * grid's cumulative counts ((2·cum − cnt + 1)/2, the `spearman`
    * construction) via [[Ranks.groupedCumSum]]'s bucketed walk, and
    * per-group rank sums come from (group, value)-level counts joined
    * onto that grid — so a million-row group costs its value levels,
    * not a corpus-wide rank window.
    *
    * R_g accumulates as exact DECIMAL (counts cast before the rank
    * product); the per-group R_g²/n_g terms round to the 9-grid into a
    * DECIMAL(38,9) sum; H = 12/(N(N+1))·Σ − 3(N+1) is one pinned
    * double tree. Tie correction divides by 1 − Σt(t−1)(t+1)/(N³−N)
    * with both sides exact DECIMAL(38,0) (counts cast to DECIMAL(12,0)
    * before the triple product — the documented ≤ 10¹² envelope);
    * all-one-value input → h_tie null (and h degenerates to 0). Output:
    * one row (n, k_groups, h, h_tie) rounded 6. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val (rg, levels) = globalGroupRanks(df, groupCol, valueCol)
    val stats = rg.agg(
      sum(col("__ng")).as("n"), count(lit(1)).as("k_groups"),
      sum(round(col("__rg").cast("double") * col("__rg").cast("double") /
        col("__ng"), 9).cast("decimal(38,9)")).as("__s"))
    val t = col("__cnt").cast("decimal(12,0)")
    val ties = levels.agg(
      sum((t * (t - 1)) * (t + 1)).as("__tsum"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("__s").cast("double") -
      lit(3.0) * (nD + 1.0)
    val nDec = col("n").cast("decimal(12,0)")
    val cf = lit(1.0) - col("__tsum").cast("double") /
      ((nDec * (nDec - 1)) * (nDec + 1)).cast("double")
    stats.crossJoin(ties)
      .select(col("n"), col("k_groups"), round(h, 6).as("h"),
        round(when(cf =!= 0.0, h / cf), 6).as("h_tie"))
  }

  /** Shared independent-groups rank machinery for [[kruskalWallis]]
    * and [[dunn]]: null rows drop, average ranks of each DISTINCT
    * value derive from the GLOBAL value grid's cumulative counts
    * ((2·cum − cnt + 1)/2 on the .5-exact DECIMAL(19,1) grid via
    * [[Ranks.groupedCumSum]]'s bucketed walk — value-level work, never
    * a corpus rank window), per-group exact-DECIMAL rank sums from
    * (group, value)-level counts joined onto that grid. Returns
    * (per-group sums (__g, __rg, __ng), value grid (__v, __cnt)). */
  private def globalGroupRanks(df: DataFrame, groupCol: String,
      valueCol: String): (DataFrame, DataFrame) = {
    val rows = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).as("__v"))
    // both returned tables have multiple readers (kruskalWallis/dunn
    // read rg for totals AND means, levels for the tie sum) — lazy
    // materializations instead of re-executing the grid walk per
    // reader (guide §3.3). levels is value-grid-sized, rg is k rows;
    // Bench sweeps localCheckpoint blocks per query.
    val levels = Materialize(rows.groupBy(col("__v"))
      .agg(count(lit(1)).as("__cnt")))
    val ranks = Ranks.groupedCumSum(levels, Seq.empty, "__v", Seq("__cnt"))
      .select(col("__v"), col("__cnt"),
        ((lit(2L) * col("cum___cnt") - col("__cnt") + lit(1L))
          .cast("double") / 2.0).cast("decimal(19,1)").as("__r"))
    val rg = Materialize(rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .join(ranks.drop("__cnt"), Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c").cast("decimal(19,0)") * col("__r")).as("__rg"),
        sum(col("__c")).as("__ng")))
    (rg, levels)
  }

  /** Dunn's post-hoc — WHICH groups differ, once [[kruskalWallis]]
    * rejects "one location" (Dunn 1964; the independent-groups
    * counterpart of [[nemenyi]], which serves the complete-block
    * [[friedman]] side of the shelf). Pairwise mean-rank gaps on the
    * SHARED global ranking standardize to
    * z = (R̄_a − R̄_b) / √(σ²·(1/n_a + 1/n_b)) with the tie-corrected
    * variance σ² = N(N+1)/12 − Σt(t−1)(t+1)/(12(N−1)) — the reason
    * Dunn is the correct KW follow-up and per-pair Mann-Whitney runs
    * are not: each pair is judged against the FULL ranking, not a
    * re-ranked two-group subset. z is the emitted statistic (the
    * [[propZTest]]/[[welchT]] convention — adjust downstream with
    * [[bhAdjust]] over the pair table, which is k²-bounded).
    *
    * Machinery is [[globalGroupRanks]] verbatim (value-level grid
    * work); mean ranks round to the 9-grid off exact DECIMAL rank
    * sums; the tie sum is exact DECIMAL(38,0) under the documented
    * DECIMAL(12,0) envelope; the pair fan-out is a k-row broadcast
    * self-join — k² pairs, never data-sized. All values identical →
    * σ² = 0 → z null. Output: one row per unordered pair a < b
    * (group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z)
    * rounded 6. */
  def dunn(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val (rg, levels) = globalGroupRanks(df, groupCol, valueCol)
    val t = col("__cnt").cast("decimal(12,0)")
    val tot = rg.agg(sum(col("__ng")).as("__n"))
      .crossJoin(levels.agg(sum((t * (t - 1)) * (t + 1)).as("__tsum")))
    val means = rg.select(col("__g"),
      round(col("__rg").cast("double") / col("__ng"), 9).as("__mr"),
      col("__ng"))
    val a = means.select(col("__g").as("group_a"), col("__mr").as("__ma"),
      col("__ng").as("n_a"))
    val b = means.select(col("__g").as("group_b"), col("__mr").as("__mb"),
      col("__ng").as("n_b"))
    val nD = col("__n").cast("double")
    val sig2 = nD * (nD + 1.0) / 12.0 -
      col("__tsum").cast("double") / (lit(12.0) * (nD - 1.0))
    val se = sqrt(sig2 * (lit(1.0) / col("n_a").cast("double") +
      lit(1.0) / col("n_b").cast("double")))
    a.crossJoin(broadcast(b))
      .filter(col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(col("__ma"), 6).as("mean_rank_a"),
        round(col("__mb"), 6).as("mean_rank_b"),
        round(when(round(sig2, 9) > 0.0,
          (col("__ma") - col("__mb")) / se), 6).as("z"))
  }

  /** Shared complete-block rank machinery for [[friedman]] and
    * [[nemenyi]]: fail-fast design checks (one observation per (item,
    * treatment), every item all k treatments, k ≥ 2), within-item
    * average ranks off each item's own (item, value) grid, exact
    * DECIMAL(19,1) per-treatment rank sums. Returns (rank sums
    * (__t, __rj), item-count frame (n_items), value-grid cells
    * (__i, __v, __cnt), k). `op` names the caller in guard messages. */
  private def completeBlockRanks(df: DataFrame, itemCol: String,
      treatmentCol: String, valueCol: String, op: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val rows = df.filter(col(itemCol).isNotNull &&
        col(treatmentCol).isNotNull && col(valueCol).isNotNull)
      .select(col(itemCol).as("__i"), col(treatmentCol).as("__t"),
        col(valueCol).cast("double").as("__v"))
    val dup = rows.groupBy(col("__i"), col("__t"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"$op needs one observation per (item, treatment); item " +
        s"${dup.headOption.map(_.get(0)).orNull} / treatment " +
        s"${dup.headOption.map(_.get(1)).orNull} appears " +
        s"${dup.headOption.map(_.getLong(2)).getOrElse(0L)} times")
    val ks = rows.groupBy(col("__i")).agg(count(lit(1)).as("__k"))
      .select(col("__k")).distinct().limit(2).collect()
    require(ks.length == 1,
      s"$op needs every item to carry all k treatments (got " +
        s"per-item counts ${ks.map(_.getLong(0)).sorted.mkString(", ")}, ...)")
    val k = ks(0).getLong(0)
    require(k >= 2, s"$op needs >= 2 treatments, got $k")
    // within-item average ranks off the item's own value grid
    val cells = rows.groupBy(col("__i"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col("__i")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("__cum", sum(col("__cnt")).over(w))
      .select(col("__i"), col("__v"), col("__cnt"),
        ((lit(2L) * col("__cum") - col("__cnt") + lit(1L))
          .cast("double") / 2.0).cast("decimal(19,1)").as("__r"))
    val rj = rows.join(ranked.select(col("__i"), col("__v"), col("__r")),
        Seq("__i", "__v"))
      .groupBy(col("__t")).agg(sum(col("__r")).as("__rj"))
    val nDf = rows.agg(countDistinct(col("__i")).as("n_items"))
    (rj, nDf, cells, k)
  }

  /** Friedman test — the complete-block rank test closing the paired-
    * comparison shelf ([[mcNemar]] 2 binary raters → [[cochranQ]] k
    * binary raters → Friedman k CONTINUOUS treatments on the same
    * items): do k treatments rank the same within each block?
    * [[kruskalWallis]] ranks over the GLOBAL value grid (independent
    * groups); Friedman ranks WITHIN each item, so between-item level
    * shifts cancel — the right test when every item sees all k
    * treatments (k systems scored on one benchmark suite).
    *
    * Design must be complete and unreplicated — every (item,
    * treatment) exactly once, every item all k treatments — and the
    * operator FAILS FAST otherwise (an unbalanced Friedman is a
    * different statistic, not an approximation). Ranks come from each
    * item's OWN (item, value)-level grid via the (2·cum − cnt + 1)/2
    * average-rank construction ([[kruskalWallis]]'s form, but the
    * window partitions by item — partitions are k-bounded, never
    * corpus-wide); ranks land on the .5 grid as exact DECIMAL(19,1),
    * R_j accumulates exactly, the Σ R_j² terms round to the 9-grid
    * into a DECIMAL(38,9) sum, and χ² = 12/(N·k·(k+1))·Σ − 3·N·(k+1)
    * is one pinned double tree. Tie correction divides by
    * 1 − Σt(t−1)(t+1)/(N·k·(k²−1)) with the tie sum exact DECIMAL
    * (counts cast to DECIMAL(12,0) before the triple product, the
    * [[kruskalWallis]] envelope); all treatments tied everywhere →
    * chi2_tie null. Output: one row (n_items, k_treatments, chi2,
    * chi2_tie) rounded 6. */
  def friedman(df: DataFrame, itemCol: String, treatmentCol: String,
               valueCol: String): DataFrame = {
    val (rj, nDf, cells, k) =
      completeBlockRanks(df, itemCol, treatmentCol, valueCol, "friedman")
    val s2 = rj.agg(sum(round(col("__rj").cast("double") *
        col("__rj").cast("double"), 9).cast("decimal(38,9)")).as("__s"))
    val t = col("__cnt").cast("decimal(12,0)")
    val ties = cells.agg(sum((t * (t - 1)) * (t + 1)).as("__tsum"))
    val nD = col("n_items").cast("double")
    val kD = lit(k.toDouble)
    val chi2 = lit(12.0) / (nD * kD * (kD + 1.0)) *
      col("__s").cast("double") - lit(3.0) * nD * (kD + 1.0)
    val cf = lit(1.0) - col("__tsum").cast("double") /
      (nD * kD * (kD * kD - 1.0))
    nDf.crossJoin(s2).crossJoin(ties)
      .select(col("n_items"), lit(k).as("k_treatments"),
        round(chi2, 6).as("chi2"),
        round(when(cf =!= 0.0, chi2 / cf), 6).as("chi2_tie"))
  }

  /** Studentized-range q_α / √2 constants for [[nemenyi]], k = 2..10,
    * infinite df — Demšar, "Statistical Comparisons of Classifiers
    * over Multiple Data Sets", JMLR 7 (2006), Table 5. */
  private val nemenyiQ05 = Map(2 -> 1.960, 3 -> 2.343, 4 -> 2.569,
    5 -> 2.728, 6 -> 2.850, 7 -> 2.949, 8 -> 3.031, 9 -> 3.102,
    10 -> 3.164)
  private val nemenyiQ10 = Map(2 -> 1.645, 3 -> 2.052, 4 -> 2.291,
    5 -> 2.459, 6 -> 2.589, 7 -> 2.693, 8 -> 2.780, 9 -> 2.855,
    10 -> 2.920)

  /** Nemenyi post-hoc — WHICH treatments differ, once [[friedman]]
    * rejects "they all rank the same" (the Demšar 2006 critical-
    * difference companion; running pairwise tests without the omnibus
    * gate inflates family-wise error, which is the point of the CD):
    * treatments a, b differ at level α when their mean-rank gap
    * exceeds CD = q_α·√(k(k+1)/(6N)), q_α from the studentized range
    * table (k ≤ 10 — the published grid; larger panels need a
    * different post-hoc, rejected explicitly).
    *
    * Same complete-block contract and rank machinery as [[friedman]]
    * (fail-fast on replicated/incomplete designs); mean ranks are the
    * exact DECIMAL rank sums over N on the 9-grid, and significance
    * compares |gap| to CD on the rounded-6 grid so both engines in a
    * cross-engine compare resolve boundary cases identically. The
    * pairwise fan-out is a k-row broadcast self-join — k² pairs,
    * never data-sized. Output: one row per unordered pair a < b
    * (treatment_a, treatment_b, mean_rank_a, mean_rank_b, abs_diff,
    * critical_difference, significant INT), rounded 6. */
  def nemenyi(df: DataFrame, itemCol: String, treatmentCol: String,
              valueCol: String, alpha: Double = 0.05): DataFrame = {
    val qTable =
      if (alpha == 0.05) nemenyiQ05
      else if (alpha == 0.10) nemenyiQ10
      else throw new IllegalArgumentException(
        s"nemenyi supports alpha 0.05 or 0.10, got $alpha")
    val (rj, nDf, _, k) =
      completeBlockRanks(df, itemCol, treatmentCol, valueCol, "nemenyi")
    require(qTable.contains(k.toInt),
      s"nemenyi's q table covers k in 2..10, got $k treatments")
    val qv = qTable(k.toInt)
    val means = rj.crossJoin(broadcast(nDf))
      .select(col("__t"),
        round(col("__rj").cast("double") / col("n_items"), 9).as("__mr"),
        col("n_items"))
    val a = means.select(col("__t").as("treatment_a"),
      col("__mr").as("__ma"), col("n_items"))
    val b = means.select(col("__t").as("treatment_b"),
      col("__mr").as("__mb"))
    val cd = lit(qv) * sqrt(lit(k * (k + 1.0) / 6.0) / col("n_items"))
    a.crossJoin(broadcast(b))
      .filter(col("treatment_a") < col("treatment_b"))
      .select(col("treatment_a"), col("treatment_b"),
        round(col("__ma"), 6).as("mean_rank_a"),
        round(col("__mb"), 6).as("mean_rank_b"),
        round(abs(col("__ma") - col("__mb")), 6).as("abs_diff"),
        round(cd, 6).as("critical_difference"),
        (round(abs(col("__ma") - col("__mb")), 6) > round(cd, 6))
          .cast("int").as("significant"))
  }

  /** Cumulative gains / lift table — the targeting-efficiency view of a
    * ranking score: bucket the population into `numBins` score bands
    * (band 1 = highest scores, by the score distribution's own
    * quantile boundaries — the [[psi]] binning convention mirrored
    * descending), then per band the positive rate, the cumulative
    * capture rate (share of ALL positives found so far walking down),
    * and lift vs the base rate.
    *
    * Equal-depth is approximate under score ties (ties never split a
    * band — deterministic, and the honest behavior: a band boundary
    * inside a tie group would be an arbitrary split of identical
    * scores). The fact-sized work is one percentile pass + one keyed
    * agg; the cumulative walk is over `numBins` rows. Output:
    * (band, n, n_pos, pos_rate, capture, lift) rounded 6, ordered by
    * band. */
  def liftTable(df: DataFrame, labelCol: String, scoreCol: String,
                numBins: Int = 10, exact: Boolean = true): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    val bexpr =
      if (exact) expr(s"percentile($scoreCol, array($ps))")
      else expr(s"approx_percentile($scoreCol, array($ps), 10000)")
    val rows = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
    val bounds = rows.agg(bexpr.as("__bounds"))
    val banded = rows
      .crossJoin(broadcast(bounds))
      // band 1 = top scores: numBins − #{boundaries strictly below}
      .select((lit(numBins) - size(filter(col("__bounds"),
          b => col(scoreCol).cast("double") > b))).as("band"),
        (col(labelCol).cast("int") =!= 0).as("__pos"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"))
    val totals = banded.agg(sum(col("n")).as("__nt"),
      sum(col("n_pos")).as("__pt"))
    val w = Window.orderBy(col("band")) // numBins rows only
    banded
      .withColumn("__cump", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(totals))
      .select(col("band"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(when(col("__pt") > 0,
          col("__cump").cast("double") / col("__pt")), 6).as("capture"),
        round(when(col("__pt") > 0,
          (col("n_pos").cast("double") / col("n")) /
            (col("__pt").cast("double") / col("__nt"))), 6).as("lift"))
  }

  /** Welch's unequal-variance t statistic — the mean-difference test
    * between two samples that does NOT assume equal spread (the safe
    * default for A/B readouts and cohort comparisons):
    * t = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b), with the
    * Welch–Satterthwaite degrees of freedom.
    *
    * ONE fact-sized pass accumulates (n, Σx, Σx²) per sample on the
    * 9-grid in DECIMAL (the [[Features.olsFit]] discipline); the
    * closed form runs in double from identical decimal sums. Sample
    * variances are the unbiased n−1 form; t and df are null when
    * either n < 2 or both variances are zero. Output: one row
    * (n_a, n_b, mean_a, mean_b, t_stat, df) rounded 6. */
  def welchT(df: DataFrame, sampleCol: String, valCol: String,
             aLabel: String, bLabel: String): DataFrame = {
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val rows = df
      .filter(col(valCol).isNotNull && col(sampleCol).isin(aLabel, bLabel))
      .select((col(sampleCol) === aLabel).as("__a"),
        col(valCol).cast("double").as("__v"))
    val stats = rows.agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("__a"), 0L).otherwise(1L)).as("nb"),
      sum(when(col("__a"), dec9(col("__v")))).as("sa"),
      sum(when(!col("__a"), dec9(col("__v")))).as("sb"),
      sum(when(col("__a"), dec9(col("__v") * col("__v")))).as("qa"),
      sum(when(!col("__a"), dec9(col("__v") * col("__v")))).as("qb"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val ma = col("sa").cast("double") / na
    val mb = col("sb").cast("double") / nb
    val va = (col("qa").cast("double") - na * ma * ma) / (na - 1.0)
    val vb = (col("qb").cast("double") - nb * mb * mb) / (nb - 1.0)
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    stats.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(when(col("na") > 0, ma), 6).as("mean_a"),
      round(when(col("nb") > 0, mb), 6).as("mean_b"),
      round(when(col("na") >= 2 && col("nb") >= 2 && se2 > 0.0,
        (ma - mb) / sqrt(se2)), 6).as("t_stat"),
      round(when(col("na") >= 2 && col("nb") >= 2 && se2 > 0.0,
        se2 * se2 / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))), 6)
        .as("df"))
  }

  /** McNemar's paired test — do two classifiers (or two model
    * versions) disagree SYSTEMATICALLY on the same items? The paired
    * complement to [[propZTest]]'s independent-samples rates: only the
    * DISCORDANT pairs carry information (b = items only A got right,
    * c = items only B got right), and the continuity-corrected
    * statistic (|b − c| − 1)² / (b + c) is χ²₁ under H₀: equal error
    * rates. The standard before/after readout for model upgrades
    * scored on one eval set.
    *
    * ONE fact-sized count pass; everything after is integer-derived
    * doubles (engine-stable). correctA/correctB are truthy ints
    * (≠ 0 = correct); rows where either is null drop. b + c = 0
    * (no disagreements) → null statistic, not 0. Output: one row
    * (n, n_both, n_a_only, n_b_only, n_neither, chi2 rounded 6). */
  def mcnemar(df: DataFrame, correctACol: String,
              correctBCol: String): DataFrame = {
    val a = col(correctACol).cast("int") =!= 0
    val b = col(correctBCol).cast("int") =!= 0
    val counts = df
      .filter(col(correctACol).isNotNull && col(correctBCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(a && b, 1L).otherwise(0L)).as("n_both"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!a && !b, 1L).otherwise(0L)).as("n_neither"))
    val bb = col("n_a_only").cast("double")
    val cc = col("n_b_only").cast("double")
    val diff = abs(bb - cc) - 1.0
    counts.select(col("n"), col("n_both"), col("n_a_only"),
      col("n_b_only"), col("n_neither"),
      round(when(bb + cc > 0.0, diff * diff / (bb + cc)), 6).as("chi2"))
  }

  /** Two-proportion z-test — the A/B readout on RATES (conversion,
    * defect rate, positive-label share): z = (p̂_a − p̂_b) /
    * √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ pooled — the standard
    * two-sided test statistic against H₀: equal proportions.
    *
    * ONE fact-sized pass counts (n, successes) per sample; everything
    * after is integer-over-integer doubles (engine-stable). Success =
    * successCol ≠ 0 (cast to int), nulls drop. z is null when either
    * n = 0 or the pooled rate is degenerate (0 or 1 — no variance to
    * test against). Output: one row (n_a, x_a, n_b, x_b, p_a, p_b, z)
    * rounded 6. */
  def propZTest(df: DataFrame, sampleCol: String, successCol: String,
                aLabel: String, bLabel: String): DataFrame = {
    val rows = df
      .filter(col(successCol).isNotNull &&
        col(sampleCol).isin(aLabel, bLabel))
      .select((col(sampleCol) === aLabel).as("__a"),
        (col(successCol).cast("int") =!= 0).as("__s"))
    val stats = rows.agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("xa"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("xb"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val pa = col("xa").cast("double") / na
    val pb = col("xb").cast("double") / nb
    val pp = (col("xa") + col("xb")).cast("double") / (na + nb)
    stats.select(col("na").as("n_a"), col("xa").as("x_a"),
      col("nb").as("n_b"), col("xb").as("x_b"),
      round(when(col("na") > 0, pa), 6).as("p_a"),
      round(when(col("nb") > 0, pb), 6).as("p_b"),
      round(when(col("na") > 0 && col("nb") > 0 &&
          pp > 0.0 && pp < 1.0,
        (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / na + lit(1.0) / nb))), 6).as("z"))
  }

  /** Wilson score interval per group — the binomial rate CI that stays
    * honest at small n and extreme p̂ (the Wald interval collapses to
    * zero width at p̂ ∈ {0, 1}; Wilson never does): center
    * (p̂ + z²/2n)/(1 + z²/n), half-width
    * z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n). The per-segment rate
    * readout a dashboard should ship instead of bare proportions.
    *
    * ONE keyed count pass; the interval is a fixed double expression
    * tree on (n, x) — engine-stable. Output: (groupCol, n, x, p_hat,
    * ci_lo, ci_hi) rounded 6; empty groups cannot occur (no rows → no
    * group), n ≥ 1 always. */
  def wilsonCI(df: DataFrame, groupCol: String, successCol: String,
               z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"z must be > 0, got $z")
    val per = df.filter(col(successCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol).cast("int") =!= 0, 1L).otherwise(0L))
          .as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val halfW = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    per.select(col(groupCol), col("n"), col("x"),
      round(p, 6).as("p_hat"),
      round(center - halfW, 6).as("ci_lo"),
      round(center + halfW, 6).as("ci_hi"))
  }

  /** Ranked-retrieval quality per query — the metrics a search/RAG
    * stack is actually judged by, computed over a (query, doc, score,
    * relevance) table in ONE pass: graded nDCG@k (gain (2^rel − 1) /
    * log₂(rank+1), normalized by the ideal ordering), MRR@k
    * (reciprocal rank of the first relevant hit, 0 if none in the top
    * k), precision@k and recall@k (binary relevance = rel > 0).
    *
    * Ranking is score-descending with the id column as the
    * deterministic tie-break (a ranking metric without a pinned
    * tie-break is not reproducible — this is the engine's id-asc
    * convention, applied to BOTH the actual and the ideal ordering).
    * Scale shape: two per-query row_number windows (keyed by query —
    * the standard partitioned-window shuffle, never global) + one
    * keyed agg; DCG/IDCG terms round to the 9-grid and accumulate in
    * DECIMAL(38,9). Queries with no relevant docs: ndcg and recall are
    * null (unmeasurable), precision and rr are 0 (measured and failed).
    * Output: (queryCol, n, n_rel, p_at_k, r_at_k, rr, ndcg) rounded 6.
    */
  def rankingMetrics(df: DataFrame, queryCol: String, idCol: String,
                     labelCol: String, scoreCol: String,
                     k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(queryCol).as("__q"), col(idCol).as("__d"),
        col(labelCol).cast("double").as("__rel"),
        col(scoreCol).cast("double").as("__s"))
    val byScore = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__d").asc)
    val byIdeal = Window.partitionBy(col("__q"))
      .orderBy(col("__rel").desc, col("__d").asc)
    val ranked = rows
      .withColumn("__rnk", row_number().over(byScore))
      .withColumn("__irnk", row_number().over(byIdeal))
    val gain = (r: Column, rank: Column) =>
      round((pow(lit(2.0), r) - 1.0) / log2(rank + 1), 9)
        .cast("decimal(38,9)")
    ranked.groupBy(col("__q")).agg(
        count(lit(1)).as("n"),
        sum(when(col("__rel") > 0, 1L).otherwise(0L)).as("n_rel"),
        sum(when(col("__rnk") <= k && col("__rel") > 0, 1L).otherwise(0L))
          .as("__hits"),
        min(when(col("__rnk") <= k && col("__rel") > 0, col("__rnk")))
          .as("__first"),
        sum(when(col("__rnk") <= k, gain(col("__rel"), col("__rnk"))))
          .as("__dcg"),
        sum(when(col("__irnk") <= k, gain(col("__rel"), col("__irnk"))))
          .as("__idcg"))
      .select(col("__q").as(queryCol), col("n"), col("n_rel"),
        round(col("__hits").cast("double") / k, 6).as("p_at_k"),
        round(when(col("n_rel") > 0,
          col("__hits").cast("double") / col("n_rel")), 6).as("r_at_k"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("rr"),
        round(when(col("__idcg").cast("double") > 0,
          col("__dcg").cast("double") / col("__idcg").cast("double")), 6)
          .as("ndcg"))
  }

  /** Truncated RBO weight table: W(m) = Σ_{d=m..k} p^{d−1}/d — the
    * total weight an item contributes once it has entered both prefixes
    * at depth m. Driver-side (k values), shared verbatim by the SQL
    * oracle so both engines index the identical doubles. */
  def rboWeights(k: Int, p: Double): Seq[Double] = {
    val terms = (1 to k).map(d => math.pow(p, d - 1) / d)
    (1 to k).map(m => terms.drop(m - 1).sum)
  }

  /** Rank-biased overlap (Webber et al. 2010), truncated at depth k —
    * HOW SIMILAR are two rankings of the same universe, with
    * top-weighted emphasis (persistence p: each deeper prefix counts
    * p× the previous): RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·|S_d ∩ T_d|/d.
    * The metric for comparing retrieval variants (BM25 vs cosine, old
    * index vs new) where plain set overlap ignores order entirely.
    *
    * One-pass form: an item ranked ra in S and rb in T joins every
    * prefix intersection from depth max(ra, rb) on, so its total
    * contribution is the suffix weight W(max(ra, rb)) — precomputed
    * driver-side ([[rboWeights]]), looked up via a broadcast literal
    * array. Each side is pruned to its top k by (score desc, id asc)
    * BEFORE ranking (TakeOrderedAndProject — no global window over the
    * corpus), so the join is k×k-bounded. Ties break by id, pinned.
    * Output: one row (n_common, rbo rounded 6); disjoint prefixes → 0.
    */
  def rbo(a: DataFrame, b: DataFrame, idCol: String, scoreCol: String,
          k: Int = 20, p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    def topRanked(df: DataFrame, out: String): DataFrame = {
      val pruned = df.filter(col(scoreCol).isNotNull)
        .select(col(idCol).as("__i"), col(scoreCol).cast("double").as("__s"))
        .orderBy(col("__s").desc, col("__i").asc).limit(k)
      pruned.withColumn(out, row_number().over(
          Window.orderBy(col("__s").desc, col("__i").asc))) // k rows only
        .select(col("__i"), col(out))
    }
    val weights = array(rboWeights(k, p).map(lit): _*)
    topRanked(a, "__ra")
      .join(topRanked(b, "__rb"), Seq("__i"))
      .select(round(element_at(weights,
        greatest(col("__ra"), col("__rb")).cast("int")), 9)
        .cast("decimal(38,9)").as("__w"))
      .agg(count(lit(1)).as("n_common"),
        round(lit(1.0 - p) * coalesce(sum(col("__w")).cast("double"),
          lit(0.0)), 6).as("rbo"))
  }

  /** Benford first-significant-digit screen — does a naturally-generated
    * numeric column follow log₁₀(1 + 1/d)? Fabricated, truncated, or
    * capped data deviates; the χ² contributions localize which digits.
    *
    * Digit extraction is STRING-based, not log-based: the value rounds
    * to DECIMAL(18,4) (fixed-point rendering is identical across
    * engines; float log10 at exact powers of ten is not) and the first
    * [1-9] character of the rendering is the digit. Zeros, nulls, and
    * values that round to 0 drop. One digit-keyed agg (9 groups) + a
    * 1-row total broadcast. Expected fractions round to the 9-grid (the
    * q193 ln-parity exposure). Output: (digit, n, obs_frac, exp_frac,
    * chi2_term) ordered by digit. */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val digit = regexp_extract(
      abs(col(valCol).cast("double")).cast("decimal(18,4)").cast("string"),
      "[1-9]", 0)
    val counts = df
      .filter(col(valCol).isNotNull)
      .select(digit.as("__d"))
      .filter(col("__d") =!= "")
      .select(col("__d").cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("__t")).as("__obs"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 9)
          .as("exp_frac"),
        col("__t"))
      .select(col("digit"), col("n"),
        round(col("__obs"), 6).as("obs_frac"),
        col("exp_frac"),
        round(col("__t") * (col("__obs") - col("exp_frac")) *
          (col("__obs") - col("exp_frac")) / col("exp_frac"), 4)
          .as("chi2_term"))
  }

  /** Poisson(1) draw from a deterministic uniform — the resampling
    * primitive behind [[bootstrapCi]]: inverse-CDF over pinned cumulative
    * literals (shortest-repr doubles, so any engine parsing the same
    * decimal text lands on the same bits and the same weight). Mass
    * beyond k = 8 (≈ 1.1e-6) truncates to 9 — part of the operator's
    * definition, identically on every engine. */
  private def poisson1(u: Column): Column =
    when(u <= 0.36787944117144233, 0)
      .when(u <= 0.7357588823428847, 1)
      .when(u <= 0.9196986029286058, 2)
      .when(u <= 0.9810118431238463, 3)
      .when(u <= 0.9963401531726563, 4)
      .when(u <= 0.9994058151824183, 5)
      .when(u <= 0.999916758850712, 6)
      .when(u <= 0.9999897508033253, 7)
      .when(u <= 0.999998874797402, 8)
      .otherwise(9)

  /** Poisson-bootstrap confidence interval for the per-group mean —
    * the resampling error bar that actually distributes: classical
    * bootstrap resamples n rows WITH replacement (a global operation —
    * unshardable), but each row's multiplicity in a replicate is
    * Binomial(n, 1/n) → Poisson(1) in the limit, so every row draws its
    * own B independent Poisson(1) weights from md5(salt‖id‖#‖r)
    * ([[graft.operators.Splits.uniformFromId]] — the engine's one
    * cross-engine hash) and NEVER coordinates with any other row
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012). Deterministic: same salt → the same
    * replicates on any engine, any partitioning.
    *
    * The CI is the percentile bootstrap with EXACT order statistics
    * (the conformal discipline): lo = the ⌈B_eff·α/2⌉-th smallest
    * replicate mean, hi = the ⌈B_eff·(1−α/2)⌉-th, read off a
    * replicate-mean grid walk, never an interpolated percentile.
    * Replicates whose total weight lands 0 (only plausible for tiny
    * groups) drop — B_eff counts the survivors.
    *
    * Scale shape: the corpus explodes ×B into ONE (group, replicate)-
    * keyed partial agg — map-side combine collapses each task to
    * ≤ groups×B cells, so the shuffle carries groups×B rows, not
    * B copies of the corpus; the grid walk and rank picks run on
    * groups×B-sized tables. B is a per-row CPU multiplier — hundreds,
    * not tens of thousands. Per-row products w·round(v,9) round to the
    * 9-grid into DECIMAL(38,9) sums; one division per replicate.
    * Output: (groupCol, n, mean, b_eff, lo, hi) rounded 6. */
  def bootstrapCi(df: DataFrame, groupCol: String, idCol: String,
                  valCol: String, b: Int = 200, alpha: Double = 0.05,
                  salt: String = "boot"): DataFrame = {
    require(b >= 10, s"b must be >= 10, got $b")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    // spread the ×B md5/weight work across the cluster and pin the
    // 3-column projection — a small parquet source scans as ONE split
    // and would hash corpus×B rows on one core (the logisticGD fix;
    // measured 33 s → ~3 s at sf0.1, B = 200)
    val rows = Materialize(df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).cast("string").as("__id"),
        col(valCol).cast("double").as("__v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism),
      eager = true)
    val point = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("__v"), 9).cast("decimal(38,9)"))
          .cast("double") / count(lit(1)), 6).as("mean"))
    // the full replicate vector draws in ONE codegen call per row
    // (graft.plans.Md5UniformSeq — bit-identical to the per-replicate
    // conv(substring(md5(…))) chain, minus corpus×B hex/substring/conv
    // allocations), then a posexplode over the primitive array
    // ≤ groups×B rows, but its lineage is the whole ×B replicate
    // pipeline and it feeds eff (read twice) + both rank picks — a
    // lazy local checkpoint shares ONE materialization (the stat-
    // family plan-truncation discipline; measured: the rank-walk tail
    // re-ran the 20M-row pipeline and cost more than the pipeline)
    val reps = Materialize(rows
      .select(col("__g"), col("__v"),
        posexplode(graft.plans.Md5UniformSeq.of(
          concat(lit(salt), col("__id"), lit("#")), b))
          .as(Seq("__p", "__u")))
      .withColumn("__r", col("__p") + 1)
      .withColumn("__w", poisson1(col("__u")))
      // w = 0 draws (36.8% of rows) add 0 to both sums; a cell whose
      // draws are ALL zero goes missing instead of summing to (0, 0),
      // and the __ws > 0 filter below drops that cell anyway — value-
      // identical, one third fewer decimal-agg updates
      .filter(col("__w") > 0)
      .groupBy(col("__g"), col("__r"))
      .agg(sum(col("__w").cast("long")).as("__ws"),
        sum(round(col("__w") * col("__v"), 9).cast("decimal(38,9)"))
          .as("__wv"))
      .filter(col("__ws") > 0L)
      .select(col("__g"),
        round(col("__wv").cast("double") / col("__ws"), 9).as("__m")))
    // read by eff AND the grid walk
    val lvl = Materialize(reps.groupBy(col("__g"), col("__m"))
      .agg(count(lit(1)).as("__c")))
    val eff = lvl.groupBy(col("__g")).agg(sum(col("__c")).as("b_eff"))
    val walked = Ranks.groupedCumSum(lvl, Seq("__g"), "__m", Seq("__c"))
      .join(eff, "__g")
    def pick(q: Double, out: String): DataFrame = {
      val rank = ceil(col("b_eff").cast("double") * lit(q))
      walked.filter(col("cum___c") >= rank && col("cum___c") - col("__c") < rank)
        .select(col("__g"), round(col("__m"), 6).as(out))
    }
    // rename-keyed self-join (shared lineage upstream; same-lineage
    // refs would lean on dataset-id disambiguation)
    point.join(eff.withColumnRenamed("__g", "__ge"),
        col("__g") === col("__ge"))
      .select(col("__g"), col("n"), col("mean"), col("b_eff"))
      .join(pick(alpha / 2.0, "lo"), "__g")
      .join(pick(1.0 - alpha / 2.0, "hi"), "__g")
      .select(col("__g").as(groupCol), col("n"), col("mean"),
        col("b_eff"), col("lo"), col("hi"))
  }

  /** Randomization (approximate permutation) test for a difference in
    * means — the assumption-free significance readout next to
    * [[welchT]]'s t approximation: under H₀ labels are exchangeable,
    * so B pseudo-experiments reassign each row to variant A with
    * probability n_a/n from its own md5(salt‖id‖#‖r) uniform and the
    * p-value is the fraction of pseudo-diffs at least as extreme as
    * the observed one, (1 + #{|d_r| ≥ |d_obs|}) / (1 + B_eff) — the
    * add-one form that never returns an impossible p = 0.
    *
    * Independent Bernoulli assignment (not an exact relabeling — that
    * would be a global shuffle of the label multiset, unshardable) is
    * the standard distributed randomization-test compromise: pseudo
    * group sizes vary Binomial(n, n_a/n) around the originals, which
    * the mean-difference statistic is insensitive to. Replicates where
    * either pseudo group lands empty drop (B_eff). Deterministic on
    * any engine/partitioning — same discipline as [[bootstrapCi]],
    * same explode-then-partial-agg scale shape (shuffle carries B
    * rows). Both d_obs and every d_r round to the 9-grid BEFORE the
    * |·| comparison, so the exceed count is bit-stable. Output one row:
    * (n_a, n_b, diff_obs, b_eff, p_value) rounded 6. */
  def randomizationTest(df: DataFrame, idCol: String, variantCol: String,
                        valCol: String, aLabel: String, bLabel: String,
                        b: Int = 200, salt: String = "perm"): DataFrame = {
    require(b >= 10, s"b must be >= 10, got $b")
    // same single-split hazard as bootstrapCi: spread the ×B work
    val rows = Materialize(df
      .filter(col(valCol).isNotNull && col(variantCol).isin(aLabel, bLabel))
      .select(col(idCol).cast("string").as("__id"),
        (col(variantCol) === aLabel).as("__a"),
        col(valCol).cast("double").as("__v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism),
      eager = true)
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val tot = rows.agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"),
      sum(when(col("__a"), dec9(col("__v")))).as("__sa"),
      sum(when(!col("__a"), dec9(col("__v")))).as("__sb"))
    val obs = tot.select(col("n_a"), col("n_b"),
      round(col("__sa").cast("double") / col("n_a") -
        col("__sb").cast("double") / col("n_b"), 9).as("__d_obs"))
    val frac = col("n_a").cast("double") / (col("n_a") + col("n_b"))
    // same one-call-per-row replicate vector as bootstrapCi
    val diffs = rows.crossJoin(broadcast(obs))
      .select(col("__v"), col("n_a"), col("n_b"), col("__d_obs"),
        posexplode(graft.plans.Md5UniformSeq.of(
          concat(lit(salt), col("__id"), lit("#")), b))
          .as(Seq("__p", "__u")))
      .withColumn("__r", col("__p") + 1)
      .withColumn("__pa", col("__u") < frac)
      .groupBy(col("__r"))
      .agg(count(when(col("__pa"), lit(1))).as("__na"),
        count(when(!col("__pa"), lit(1))).as("__nb"),
        sum(when(col("__pa"), dec9(col("__v")))).as("__ra"),
        sum(when(!col("__pa"), dec9(col("__v")))).as("__rb"),
        first(col("__d_obs")).as("__d_obs"))
      .filter(col("__na") > 0L && col("__nb") > 0L)
      .select(round(col("__ra").cast("double") / col("__na") -
        col("__rb").cast("double") / col("__nb"), 9).as("__d"),
        col("__d_obs"))
    val pv = diffs.agg(count(lit(1)).as("b_eff"),
      count(when(abs(col("__d")) >= abs(col("__d_obs")), lit(1)))
        .as("__exceed"))
      .select(col("b_eff"),
        round((lit(1L) + col("__exceed")).cast("double") /
          (lit(1L) + col("b_eff")), 6).as("p_value"))
    obs.crossJoin(pv)
      .select(col("n_a"), col("n_b"),
        round(col("__d_obs"), 6).as("diff_obs"),
        col("b_eff"), col("p_value"))
  }

  /** Pairwise agreement between two clusterings of the same items —
    * the EVALUATION half of the ER family ([[graft.operators.ErStore]]
    * /q273 produce clusters; this scores them against a gold
    * partition): pairwise precision/recall/F1 (a pair of items
    * counts as TP when both clusterings co-cluster it) and the
    * Adjusted Rand Index, all from ONE contingency-table pass.
    *
    * Exact-integer pair accounting in DECIMAL(38,0) — n(n−1)/2
    * overflows long past n ≈ 4·10⁹, corpus territory — RENDERED as
    * strings (the q174/q266 rule: raw DECIMAL never reaches a
    * catalog output). The ARI arithmetic runs in doubles (the
    * expected-index product overflows even 38 digits at corpus n;
    * a rounded-6 index loses nothing). Degenerate inputs follow the
    * scikit convention: max−E = 0 with TP−E = 0 (both partitions
    * trivial and identical) scores ARI = 1.0; n <= 1 scores null;
    * a zero pair denominator nulls that ratio. Rows with a null on
    * either side drop. Output one row: (n, n_pred_clusters,
    * n_gold_clusters, tp_pairs, pred_pairs, gold_pairs, precision,
    * recall, f1, ari). */
  def clusteringAgreement(df: DataFrame, predCol: String,
                          goldCol: String): DataFrame = {
    def pairs(c: Column): Column =
      (c.cast("decimal(38,0)") * (c - 1L).cast("decimal(38,0)")) / 2
    val cells = df
      .filter(col(predCol).isNotNull && col(goldCol).isNotNull)
      .groupBy(col(predCol).as("__p"), col(goldCol).as("__g"))
      .agg(count(lit(1)).as("__c"))
    val predSizes = cells.groupBy(col("__p")).agg(sum(col("__c")).as("__a"))
    val goldSizes = cells.groupBy(col("__g")).agg(sum(col("__c")).as("__b"))
    val tp = cells.agg(sum(pairs(col("__c"))).cast("decimal(38,0)")
        .as("__tp"),
      sum(col("__c")).as("__n"),
      count(lit(1)).as("__ncells"))
    val pp = predSizes.agg(sum(pairs(col("__a"))).cast("decimal(38,0)")
      .as("__pp"), count(lit(1)).as("__kp"))
    val gp = goldSizes.agg(sum(pairs(col("__b"))).cast("decimal(38,0)")
      .as("__gp"), count(lit(1)).as("__kg"))
    val base = tp.crossJoin(pp).crossJoin(gp)
      .withColumn("__np", pairs(col("__n")).cast("decimal(38,0)"))
    val (tpD, ppD, gpD, npD) = (col("__tp").cast("double"),
      col("__pp").cast("double"), col("__gp").cast("double"),
      col("__np").cast("double"))
    val e = ppD * gpD / npD
    val m = (ppD + gpD) / 2.0
    val prec = when(col("__pp") > 0, tpD / ppD)
    val rec = when(col("__gp") > 0, tpD / gpD)
    base.select(col("__n").as("n"),
      col("__kp").as("n_pred_clusters"), col("__kg").as("n_gold_clusters"),
      col("__tp").cast("string").as("tp_pairs"),
      col("__pp").cast("string").as("pred_pairs"),
      col("__gp").cast("string").as("gold_pairs"),
      round(prec, 6).as("precision"),
      round(rec, 6).as("recall"),
      round(when(prec + rec > 0, lit(2.0) * prec * rec / (prec + rec)),
        6).as("f1"),
      round(when(col("__n") <= 1, lit(null).cast("double"))
        .when(m - e === 0.0 && tpD - e === 0.0, lit(1.0))
        .when(m - e =!= 0.0, (tpD - e) / (m - e)), 6).as("ari"))
  }

  /** ROUGE-L per (reference, candidate) pair — the recall-oriented
    * generation eval beside [[bleu2]]'s precision lens: P = LCS/|cand|,
    * R = LCS/|ref|, F = 2PR/(P+R) over the token-level longest common
    * subsequence (order-preserving shared tokens — a reordered
    * reconstruction scores below a faithful one where bag-of-ngram
    * precision cannot tell them apart).
    *
    * The LCS is the native codegen'd [[graft.plans.TokenLcs]]
    * expression (the [[graft.plans.JaroWinkler]] discipline: one
    * static DP call fused into whole-stage codegen, interned-int inner
    * loop, thread-local rolling rows, a 10⁸-cell fail-fast envelope);
    * token counts ride the engine's lowercase-whitespace contract so
    * both factors see identical tokens. One per-row projection, zero
    * shuffle. A side with zero tokens nulls its ratio (and F); both
    * sides tokenized but nothing shared scores F = 0. Output: (idCol,
    * ref_len, cand_len, lcs, rouge_p, rouge_r, rouge_f) rounded 6. */
  def rougeL(pairs: DataFrame, idCol: String, refCol: String,
             candCol: String): DataFrame = {
    def nTok(c: String) = expr(
      s"size(coalesce(${graft.plans.Tokens.whitespaceSql(c)}," +
        " CAST(array() AS ARRAY<STRING>)))").cast("long")
    val base = pairs.select(col(idCol),
      nTok(refCol).as("ref_len"), nTok(candCol).as("cand_len"),
      graft.plans.TokenLcs.tokenLcs(col(refCol), col(candCol)).as("__l"))
    val p = when(col("cand_len") > 0,
      col("__l").cast("double") / col("cand_len"))
    val r = when(col("ref_len") > 0,
      col("__l").cast("double") / col("ref_len"))
    val f = when(p.isNull || r.isNull, lit(null).cast("double"))
      .when(p + r === 0.0, lit(0.0))
      .otherwise(lit(2.0) * p * r / (p + r))
    base.select(col(idCol), col("ref_len"), col("cand_len"),
      coalesce(col("__l"), lit(0L)).as("lcs"),
      round(p, 6).as("rouge_p"), round(r, 6).as("rouge_r"),
      round(f, 6).as("rouge_f"))
  }

  /** Sentence-level BLEU-2 per (reference, candidate) pair — the
    * n-gram-precision eval for generated/augmented text (summaries,
    * denoised reconstructions, translations): clipped unigram and
    * bigram precisions p₁, p₂ (candidate n-gram counts clipped by the
    * reference's — repeating a reference word cannot farm credit),
    * brevity penalty BP = min(1, e^(1−r/c)), score = BP·√(p₁p₂).
    *
    * Runs as ONE per-row codegen-able HOF chain, zero shuffle (the
    * maskTokens map-job discipline): clipped matches are a
    * Σ-over-distinct-candidate-tokens of min(count_cand, count_ref) —
    * O(n·m) per row, the short-document envelope; bigrams render as
    * separator-joined token pairs (\\u0001 — outside the
    * whitespace-token alphabet). Tokens are the engine's
    * lowercase-whitespace contract. p₁/p₂ are exact integer ratios
    * rounded 9; the BP exponent is one e^x of a small rational,
    * rendered through the 6-grid (the q226 ln discipline — cross-
    * engine ULP noise sits far inside the grid). A candidate with no
    * tokens scores null; no bigrams on either side → p₂ null and the
    * score falls back to BP·p₁ (the standard smoothing-free
    * short-sentence convention). Output: (idCol, ref_len, cand_len,
    * p1, p2, brevity_penalty, bleu2) rounded 6. */
  def bleu2(pairs: DataFrame, idCol: String, refCol: String,
            candCol: String): DataFrame = {
    def toks(c: String) = s"coalesce(${graft.plans.Tokens.whitespaceSql(c)}," +
      " CAST(array() AS ARRAY<STRING>))"
    // clipped matches: Σ over DISTINCT candidate grams of
    // min(count in cand, count in ref) — one codegen'd linear counting
    // pass per row ([[graft.plans.ClippedNgramOverlap]]; the HOF
    // `aggregate(transform(array_distinct(cand), …))` form it replaces
    // re-scanned both arrays per distinct gram — O(n·m) per row, ~8 s
    // of q284's sf0.1 wall — and stays the reference form in EvalSpec2).
    // Bigram counts render through the same chr(1) joint inside the
    // expression; the candidate bigram COUNT is size-1 by construction
    // (toks arrays are never null), so no bigram array materializes.
    val prepped = pairs.select(col(idCol),
      expr(toks(refCol)).as("__rt"), expr(toks(candCol)).as("__ct"))
      .select(col(idCol),
        size(col("__rt")).cast("long").as("ref_len"),
        size(col("__ct")).cast("long").as("cand_len"),
        graft.plans.ClippedNgramOverlap.of(col("__ct"), col("__rt"), 1)
          .as("__m1"),
        graft.plans.ClippedNgramOverlap.of(col("__ct"), col("__rt"), 2)
          .as("__m2"),
        greatest(size(col("__ct")) - 1, lit(0)).cast("long").as("__nb"))
    val p1 = when(col("cand_len") > 0,
      round(col("__m1").cast("double") / col("cand_len"), 9))
    val p2 = when(col("__nb") > 0,
      round(col("__m2").cast("double") / col("__nb"), 9))
    val bp = when(col("cand_len") === 0, lit(null).cast("double"))
      .when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(round(exp(lit(1.0) -
        col("ref_len").cast("double") / col("cand_len")), 9))
    prepped.select(col(idCol), col("ref_len"), col("cand_len"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round(bp, 6).as("brevity_penalty"),
      round(bp * coalesce(sqrt(p1 * p2), p1), 6).as("bleu2"))
  }
}
