package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tabular feature preparation for model training — the encodings and
  * robust transforms a training-data pipeline applies to structured
  * columns before they reach a trainer (the numeric cousins of the text
  * quality gates in [[Quality]]).
  *
  * Determinism discipline throughout: every cross-row sum rounds to the
  * 9-grid and accumulates in DECIMAL(28,9) (the q73 rule), so encodings
  * are bit-stable across partitionings and engines.
  */
object Features {

  private val dec9 = (c: Column) => round(c, 9).cast("decimal(28,9)")

  /** Smoothed target (mean) encoding of a categorical column — the
    * standard high-cardinality categorical representation: each
    * category maps to a shrunk estimate of the target mean,
    * `(Σ target + α · global_mean) / (n + α)` — rare categories pull
    * toward the global mean (α is the pseudo-count prior; α = 0 is the
    * raw per-category mean, already unsafe at n = 1), frequent ones
    * toward their own. Output: (category, n, encoding) — join it back
    * onto the table to materialize the feature; keeping the code table
    * separate is what makes the encoding auditable and reusable on
    * serving data. Null targets drop; a null CATEGORY is a real level
    * (it encodes like any other — unseen-at-serving-time handling is
    * the caller's join default).
    *
    * Scale shape: one category-keyed partial-agg shuffle + a 1-row
    * global-mean broadcast — the global mean derives from the
    * per-category sums, so the corpus is scanned ONCE. */
  /** One-hot (dummy) encoding — each listed categorical column fans
    * into one 0/1 indicator column per observed category (the
    * model-matrix step [[targetEncode]] is the high-cardinality
    * alternative to; linear models and tree libraries both eat this
    * shape). Category vocabularies are BOUNDED by contract:
    * `maxCategories` caps each column's distinct values and the
    * operator fails fast beyond it — one-hot on a near-unique column
    * explodes the schema, which is a modeling bug, not a capacity
    * setting.
    *
    * Scale shape: one distinct-agg per column at PLAN TIME (a
    * k-bounded driver collect — the vocabulary pins the schema, which
    * Spark requires static); the encoded frame itself is one narrow
    * codegen'd projection, no joins, no shuffle. Indicator names are
    * `col_value` with runs of non-alphanumerics collapsed to `_`;
    * colliding sanitized names fail fast. Category order (and thus
    * column order) is the string-ascending vocabulary — deterministic
    * across runs.
    *
    * Contract: values compare as strings (the [[Profile.profileTable]]
    * stringification convention); a null category yields all-zero
    * indicators (no implicit null column — add an explicit
    * `coalesce` upstream if null is a level); the caller owns the
    * dummy trap (drop a column downstream if fitting with an
    * intercept). */
  def oneHot(df: DataFrame, cols: Seq[String],
             maxCategories: Int = 100): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(maxCategories >= 1,
      s"maxCategories must be >= 1, got $maxCategories")
    val indicators = cols.flatMap { c =>
      val vals = df.select(col(c).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
        .distinct().orderBy(col("__v")).limit(maxCategories + 1)
        .collect().map(_.getString(0)).toSeq
      require(vals.length <= maxCategories,
        s"column '$c' exceeds maxCategories = $maxCategories distinct " +
          "values; one-hot on a near-unique column explodes the " +
          "schema — raise maxCategories deliberately or targetEncode")
      val names = vals.map(v =>
        c + "_" + v.replaceAll("[^A-Za-z0-9]+", "_"))
      vals.zip(names).map { case (v, nm) =>
        ((col(c).cast("string") <=> lit(v)).cast("int"), nm)
      }
    }
    // collision check over the FULL generated set AND the existing
    // schema — sanitization can collide across encoded columns
    // ('x' value 'y_z' vs 'x_y' value 'z' both yield x_y_z) or with a
    // pre-existing dataframe column; either silently produces a
    // duplicate-named schema that fails ambiguously downstream
    val allNames = indicators.map(_._2)
    require(allNames.distinct.size == allNames.size,
      "sanitized one-hot names collide: " +
        allNames.diff(allNames.distinct).distinct.mkString(", "))
    val existing = df.columns.toSet
    val clash = allNames.filter(existing.contains)
    require(clash.isEmpty,
      "one-hot indicator names collide with existing columns: " +
        clash.mkString(", "))
    df.select(df.columns.map(col).toSeq ++
      indicators.map { case (e, nm) => e.as(nm) }: _*)
  }

  /** Weight-of-evidence encoding — the binary-target sibling of
    * [[targetEncode]] (the standard credit-scoring / churn-model
    * categorical representation, and the additive feature-screening
    * score [[oneHot]] and targetEncode don't give): each category maps
    * to `ln(p_c / q_c)` where p_c and q_c are its SMOOTHED shares of
    * the positive and negative populations, plus its information-value
    * contribution `(p_c − q_c)·woe` — Σ iv_term is the classic IV
    * feature-strength screen (< 0.02 useless, > 0.3 strong).
    *
    * Smoothing: `alpha` pseudo-counts per (category, class) with the
    * totals inflated by `alpha·k` (k = observed categories), so
    * single-class categories stay finite and the shares still sum to
    * 1 — the additive-smoothing convention, pinned here because WoE
    * variants differ exactly in this seam.
    *
    * Determinism: counts are exact BIGINTs; each share is ONE double
    * division, woe/iv one `ln` and one product, rounded 6 (the q113
    * BM25 ln-parity precedent). A non-0/1 target FAILS the job
    * (assert_true inside a Filter — the [[CentroidStore.append]]
    * valve, zero extra jobs); null targets drop; a null CATEGORY is a
    * real level (the [[targetEncode]] contract).
    *
    * Scale shape: one category-keyed conditional-count agg + a 1-row
    * totals broadcast — the corpus is scanned once, k-sized tables
    * everywhere after. Output: (category, n, n_pos, n_neg, woe,
    * iv_term) ordered by category. */
  def woeEncode(df: DataFrame, catCol: String, targetCol: String,
                alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    // validate the ORIGINAL value (as double) before the long cast —
    // casting first would truncate a fractional target (0.7 → 0) and
    // silently pass the 0/1 valve the contract says must fail the job
    val rows = df.filter(col(targetCol).isNotNull)
      .select(col(catCol).as("category"),
        col(targetCol).cast("double").as("__yd"))
      .filter(assert_true(col("__yd").isin(0.0, 1.0),
        concat(lit(s"woeEncode target '$targetCol' must be 0/1, got "),
          col("__yd").cast("string"))).isNull)
      .select(col("category"), col("__yd").cast("long").as("__y"))
    val per = rows.groupBy(col("category"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val tot = per.agg(sum(col("n_pos")).cast("long").as("__tp"),
      sum(col("n_neg")).cast("long").as("__tn"),
      count(lit(1)).as("__k"))
    per.crossJoin(broadcast(tot))
      .withColumn("__p",
        (col("n_pos").cast("double") + lit(alpha)) /
          (col("__tp").cast("double") + lit(alpha) * col("__k")))
      .withColumn("__q",
        (col("n_neg").cast("double") + lit(alpha)) /
          (col("__tn").cast("double") + lit(alpha) * col("__k")))
      .select(col("category"), col("n"), col("n_pos"), col("n_neg"),
        round(log(col("__p") / col("__q")), 6).as("woe"),
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 6)
          .as("iv_term"))
      .orderBy(col("category"))
  }

  /** Tukey (boxplot) fence report per group — the IQR outlier gate
    * beside the median/MAD gate (MAD resists heavy tails harder; the
    * 1.5·IQR fence is the boxplot convention every profiling
    * pipeline speaks): Q1/Q3 per group, fences at
    * `Q1 − k·IQR / Q3 + k·IQR`, and the count of rows beyond each
    * fence. Output: (groupCol, n, q1, q3, lo_fence, hi_fence, n_low,
    * n_high), rounds 4, ordered by group.
    *
    * Determinism: exact `percentile` interpolation (the q49
    * quantile_cont-parity convention), fence arithmetic in one
    * pinned double chain, boundary comparisons against the
    * UNROUNDED fences (both engines compute the identical double).
    * Two corpus passes by necessity (quantiles, then counts against
    * them); the fence table joins back keyed, no broadcast
    * assumption on group count. As with [[winsorize]], exact
    * `percentile` holds each group's column in aggregation state —
    * at corpus scale feed fences from the KLL store
    * ([[graft.operators.Quantiles]]) instead. */
  def tukeyFences(df: DataFrame, groupCol: String, valCol: String,
                  k: Double = 1.5): DataFrame = {
    require(k >= 0.0, s"k must be >= 0, got $k")
    val rows = df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
    val fences = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(__v, 0.25)").as("__q1"),
        expr("percentile(__v, 0.75)").as("__q3"))
      .withColumn("__lo",
        col("__q1") - lit(k) * (col("__q3") - col("__q1")))
      .withColumn("__hi",
        col("__q3") + lit(k) * (col("__q3") - col("__q1")))
    val counts = rows
      .join(fences.select(col("__g"), col("__lo"), col("__hi")), Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(when(col("__v") < col("__lo"), 1L).otherwise(0L))
          .as("__nl"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L))
          .as("__nh"))
    fences.join(counts, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"),
        round(col("__q1"), 4).as("q1"), round(col("__q3"), 4).as("q3"),
        round(col("__lo"), 4).as("lo_fence"),
        round(col("__hi"), 4).as("hi_fence"),
        coalesce(col("__nl"), lit(0L)).as("n_low"),
        coalesce(col("__nh"), lit(0L)).as("n_high"))
      .orderBy(col(groupCol))
  }

  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   alpha: Double = 10.0): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    val per = df.filter(col(targetCol).isNotNull)
      .groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n"),
        sum(dec9(col(targetCol).cast("double"))).as("__s"))
    val g = per.agg(
      (sum(col("__s")).cast("double") / sum(col("n"))).as("__g"))
    per.crossJoin(broadcast(g))
      .select(col("category"), col("n"),
        round((col("__s").cast("double") + lit(alpha) * col("__g")) /
          (col("n") + lit(alpha)), 6).as("encoding"))
  }

  /** Time-decayed (exponentially weighted) sum per key — the recency
    * feature: each event contributes `value · 2^(−age/halfLife)` toward
    * its key, ages measured back from `asOfUs` (or the frame's max
    * timestamp when absent — a reproducible snapshot anchor). Half the
    * signal gone every half-life; a user's decayed activity score, an
    * item's trending weight. Output: (keyCol, decayed_sum).
    *
    * Determinism: the decay WEIGHT rounds to the 9-grid before the
    * product, the product re-rounds, and the sum accumulates in
    * DECIMAL(28,9) — partition-order independent; `pow` is the one
    * libm call (the ln/log exposure every scoring query already
    * carries). Scale shape: one narrow projection + one key-keyed
    * partial-agg shuffle; the snapshot anchor is a 1-row broadcast. */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, halfLifeUs: Long,
                 asOfUs: Option[Long] = None): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be positive, got $halfLifeUs")
    val anchored = asOfUs match {
      case Some(t) => df.withColumn("__T", lit(t))
      case None =>
        df.crossJoin(broadcast(
          df.agg(max(unix_micros(col(tsCol))).as("__T"))))
    }
    anchored
      .select(col(keyCol),
        round(col(valCol).cast("double") *
          round(pow(lit(2.0),
            -(col("__T") - unix_micros(col(tsCol))).cast("double") /
              lit(halfLifeUs.toDouble)), 9), 9).as("__wv"))
      .groupBy(col(keyCol))
      .agg(round(sum(col("__wv").cast("decimal(28,9)")).cast("double"), 6)
        .as("decayed_sum"))
  }

  /** Winsorization: clip a numeric column at its [pLo, pHi] quantiles —
    * the robust-scaling precursor that tames heavy tails before
    * normalization (a single 10⁹ outlier otherwise flattens every
    * z-score in the batch). Returns the input with `<valCol>_w`
    * appended; nulls stay null.
    *
    * `exact = true` uses Spark's exact `percentile` (the interpolating
    * quantile_cont convention, oracle-parity with DuckDB) — its
    * aggregation state holds the column's values, so reserve it for
    * single-machine-sized inputs (the correctness path). At corpus
    * scale set `exact = false` for `approx_percentile` (t-digest,
    * bounded state, 1e-4 relative accuracy here) or feed bounds from
    * the mergeable KLL store ([[Quantiles]]) and clip manually. */
  def winsorize(df: DataFrame, valCol: String, pLo: Double = 0.01,
                pHi: Double = 0.99, exact: Boolean = true): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val (lo, hi) =
      if (exact)
        (expr(s"percentile($valCol, $pLo)"), expr(s"percentile($valCol, $pHi)"))
      else
        (expr(s"approx_percentile($valCol, $pLo, 10000)"),
         expr(s"approx_percentile($valCol, $pHi, 10000)"))
    val bounds = df.agg(lo.as("__lo"), hi.as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(valCol + "_w",
        // greatest/least SKIP nulls (a null value would clip to the
        // lower bound) — gate explicitly so nulls stay null
        when(col(valCol).isNull, lit(null).cast("double"))
          .otherwise(least(greatest(col(valCol).cast("double"),
            col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Per-group simple linear regression (y = a·x + b) from sufficient
    * statistics — the distributed closed form: ONE map-side-combined
    * aggregation pass accumulates (n, Σx, Σy, Σxy, Σx², Σy²) per group,
    * then slope/intercept/R² derive in a projection. No iteration, no
    * second pass, no driver round-trips — the plan is a single keyed
    * shuffle whatever the fact size.
    *
    * Determinism: x and y round to a 4-decimal grid and accumulate as
    * DECIMAL (exact, associative — the [[graft.catalog.Catalog]] rule);
    * the closed-form arithmetic then runs in double from identical
    * decimal sums, so any engine evaluating the same formula gets the
    * same bits. Groups with zero x-variance yield null slope/intercept/r2
    * rather than a division blowup.
    *
    * Output: (groupCol, n, slope, intercept, r2), rounded to 4.
    */
  def olsFit(df: DataFrame, groupCol: String, xCol: String,
             yCol: String): DataFrame = {
    val x = round(col(xCol).cast("decimal(18,4)"), 4)
    val y = round(col(yCol).cast("decimal(18,4)"), 4)
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("double").as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum((x * y).cast("decimal(38,8)")).cast("double").as("sxy"),
      sum((x * x).cast("decimal(38,8)")).cast("double").as("sxx"),
      sum((y * y).cast("decimal(38,8)")).cast("double").as("syy"))
    val varX  = col("n") * col("sxx") - col("sx") * col("sx")
    val varY  = col("n") * col("syy") - col("sy") * col("sy")
    val cov   = col("n") * col("sxy") - col("sx") * col("sy")
    val slope = when(varX =!= 0.0, cov / varX)
    stats.select(col(groupCol), col("n").cast("bigint").as("n"),
      round(slope, 4).as("slope"),
      round(when(varX =!= 0.0,
        (col("sy") - slope * col("sx")) / col("n")), 4).as("intercept"),
      round(when(varX =!= 0.0 && varY =!= 0.0,
        (cov * cov) / (varX * varY)), 4).as("r2"))
  }

  /** Equi-depth quantile binning: adds `<valCol>_bin` ∈ 1..numBins where
    * bin boundaries are the exact (or t-digest) 1/numBins quantiles of
    * the column — the discretization step in front of histogramming,
    * monotone-feature bucketing, or stratified sampling on a continuous
    * key. Bin of v = 1 + |{boundary b : v > b}| (upper-inclusive bins,
    * the quantile_cont convention both engines share); nulls stay null.
    *
    * Scale shape: ONE aggregation computes all numBins−1 boundaries
    * (single `percentile(col, array(...))` pass), the 1-row bound table
    * broadcasts onto a narrow codegen'd projection (`size(filter(...))`
    * over a numBins-sized constant array — no per-bin join, no shuffle
    * of the fact). As with [[winsorize]], exact `percentile` holds the
    * column in aggregation state — the correctness path; at corpus
    * scale set `exact = false` (t-digest `approx_percentile`) or feed
    * boundaries from the mergeable KLL store ([[Quantiles]]). */
  def quantileBin(df: DataFrame, valCol: String, numBins: Int,
                  exact: Boolean = true): DataFrame = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    val bexpr =
      if (exact) expr(s"percentile($valCol, array($ps))")
      else expr(s"approx_percentile($valCol, array($ps), 10000)")
    val bounds = df.agg(bexpr.as("__bounds"))
    df.crossJoin(broadcast(bounds))
      .withColumn(valCol + "_bin",
        when(col(valCol).isNull, lit(null).cast("int"))
          .otherwise(lit(1) +
            size(filter(col("__bounds"),
              b => col(valCol).cast("double") > b))))
      .drop("__bounds")
  }

  /** Per-group Spearman rank correlation — the monotone-association
    * screen that is robust to outliers and nonlinearity (Pearson on
    * average ranks, the standard tie-corrected form).
    *
    * Scale shape: ranks are NOT computed with a row-level window (a
    * corpus-sized sort per group). Instead the average rank of every
    * DISTINCT (group, value) pair derives from a distinct-sized count
    * table + a cumulative window over distinct values only
    * (avg rank = (2·cum − cnt + 1)/2, exactly rank() ties-averaged),
    * then joins back onto the rows — the [[graft.operators.TimeSeries]]
    * islands discipline: only value-cardinality-sized tables hit the
    * ordered window, and AQE broadcasts them when small. One keyed
    * aggregation then accumulates the Pearson sufficient statistics
    * over the ranks.
    *
    * Determinism: average ranks are exact halves, held as DECIMAL(19,1);
    * products and sums accumulate in DECIMAL (associative), the closed
    * form runs in double from identical decimal sums (the [[olsFit]]
    * discipline). Zero-variance groups (constant x or y) yield null.
    * Rows with null x or y are excluded. Output: (groupCol, n, spearman
    * rounded 4). */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).as("__x"), col(yCol).as("__y"))
    def ranks(vCol: String, out: String): DataFrame = {
      // cumulative over the per-group distinct-value grid via the
      // bucketed two-level walk: a near-unique continuous column under
      // a low-cardinality group (q190: 3 groups × ~200k distinct
      // prices) would otherwise funnel each group's grid through one
      // task (5.1 → 4.2 s warm at sf0.1 — the remaining cost is the two
      // rank-table joins back onto the fact; count sums compose
      // exactly, results unchanged)
      Ranks.groupedCumSum(
          rows.groupBy(col("__g"), col(vCol)).agg(count(lit(1)).as("__cnt")),
          Seq("__g"), vCol, Seq("__cnt"))
        .select(col("__g"), col(vCol),
          ((lit(2L) * col("cum___cnt") - col("__cnt") + lit(1L))
            .cast("double") / 2.0)
            .cast("decimal(19,1)").as(out))
    }
    val ranked = rows
      .join(ranks("__x", "__rx"), Seq("__g", "__x"))
      .join(ranks("__y", "__ry"), Seq("__g", "__y"))
    val x = col("__rx"); val y = col("__ry")
    val stats = ranked.groupBy(col("__g")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum((x * y).cast("decimal(38,2)")).cast("double").as("sxy"),
      sum((x * x).cast("decimal(38,2)")).cast("double").as("sxx"),
      sum((y * y).cast("decimal(38,2)")).cast("double").as("syy"))
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    stats.select(col("__g").as(groupCol),
      col("n").cast("bigint").as("n"),
      round(when(varX > 0.0 && varY > 0.0,
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt(varX * varY)), 4).as("spearman"))
  }

  /** Chi-square contingency table between two categorical columns: per
    * cell the observed count, the independence-expected count
    * (rowTotal·colTotal/N), and the χ² contribution (obs−exp)²/exp —
    * the categorical-feature/target dependence screen.
    *
    * One cell aggregation over the fact (the only fact-sized shuffle),
    * then row totals, column totals and N derive from the CELL table
    * (cardinality = |A|×|B|, tiny) and ride broadcast joins back on.
    * Counts are integers in doubles (exact < 2^53 regardless of
    * association order), so the derived doubles are engine-stable.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).cast("double").as("obs"))
    val rt = cell.groupBy(col(aCol)).agg(sum(col("obs")).as("rt"))
    val ct = cell.groupBy(col(bCol)).agg(sum(col("obs")).as("ct"))
    val n  = cell.agg(sum(col("obs")).as("n"))
    val e  = col("rt") * col("ct") / col("n")
    cell.join(broadcast(rt), Seq(aCol)).join(broadcast(ct), Seq(bCol))
      .crossJoin(broadcast(n))
      .select(col(aCol), col(bCol), col("obs").cast("bigint").as("obs"),
        round(e, 4).as("expected"),
        round((col("obs") - e) * (col("obs") - e) / e, 4).as("contrib"))
  }

  /** Exact weighted lower median per group — the smallest value whose
    * cumulative weight reaches half the total: the summary a
    * sampling-weighted corpus owes instead of the row median (a
    * document counted 100× IS 100 documents). Comparisons run as
    * 2·cumW ≥ totW on exact DECIMAL(38,9) sums (no half-total
    * division — decimal division scale rules differ across engines;
    * doubling is exact), walked on the per-group value-level grid
    * ([[graft.operators.Ranks.groupedCumSum]] — the conformal
    * exact-order-statistic discipline, weights collapse per level
    * first). Null values/weights and non-positive weights drop.
    * Output: (groupCol, n, total_w rounded 6, wmedian). */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
                     weightCol: String): DataFrame = {
    val rows = df
      .filter(col(valCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"),
        round(col(weightCol).cast("double"), 9).cast("decimal(38,9)")
          .as("__w"))
    val lvl = rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__w")).as("__lw"))
    val tot = lvl.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"), sum(col("__lw")).as("__tw"))
    Ranks.groupedCumSum(lvl, Seq("__g"), "__v", Seq("__lw"))
      .join(tot, "__g")
      .filter(col("cum___lw") * 2 >= col("__tw") &&
        (col("cum___lw") - col("__lw")) * 2 < col("__tw"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__tw").cast("double"), 6).as("total_w"),
        col("__v").as("wmedian"))
  }

  /** Empirical-CDF (rank-uniform) quantile transform — the monotone
    * map to [0,1] that kills ANY marginal distribution shape before a
    * scale-sensitive consumer (k-means, LSH on mixed features, linear
    * probes): each distinct value maps to its midrank position
    * u = (cum − c/2)/n (Hazen plotting position — symmetric, so the
    * transform of a reversed column is 1 − u of the original). Emitted
    * as a per-group VALUE→u code table (the [[targetEncode]]
    * convention: auditable, reusable on serving data via a join; the
    * caller materializes the feature).
    *
    * The walk runs on the per-group distinct-VALUE grid
    * ([[graft.operators.Ranks.groupedCumSum]] — the Eval discipline:
    * round truly continuous columns first or the grid IS the corpus).
    * u derives from exact integers, (2·cum − c)/(2n), so both engines
    * agree to the bit before the single 6-grid round. Null values
    * drop. Output: (groupCol, value, n_at_value, u). */
  def quantileTransform(df: DataFrame, groupCol: String,
                        valCol: String): DataFrame = {
    // the level grid is read by the totals agg AND the cumulative walk
    // (sample + shuffle) — one lazy materialization (the dunn levels
    // discipline; grid-sized, swept by Bench per query)
    val lvl = Materialize(df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")))
    val tot = lvl.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    graft.operators.Ranks.groupedCumSum(lvl, Seq("__g"), "__v", Seq("__c"))
      .join(tot, "__g")
      .select(col("__g").as(groupCol), col("__v").as("value"),
        col("__c").as("n_at_value"),
        round((lit(2L) * col("cum___c") - col("__c")).cast("double") /
          (lit(2L) * col("__n")), 6).as("u"))
  }

  /** G-test (log-likelihood ratio) contingency table between two
    * categorical columns — [[chiSquare]]'s information-theoretic twin:
    * per cell the contribution 2·o·ln(o/e). G sums to exactly
    * 2N·ln(2)·MI(A;B) (mutual information in bits — the q193 bridge),
    * is additive across cell partitions where χ² is not, and tracks
    * the asymptotic χ² distribution more closely when expected counts
    * are small-but-positive. Empty cells (o = 0) contribute exactly 0
    * by the x·ln(x) → 0 limit and never appear in the cell table, so
    * both engines agree by construction.
    *
    * Same scale shape as [[chiSquare]]: ONE fact-sized cell
    * aggregation, then margins and N derive from the cell table and
    * ride broadcast joins back on. Counts are integers in doubles
    * (exact < 2^53); the single ln per cell rounds to the 6-grid in
    * the output. */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).cast("double").as("obs"))
    val rt = cell.groupBy(col(aCol)).agg(sum(col("obs")).as("rt"))
    val ct = cell.groupBy(col(bCol)).agg(sum(col("obs")).as("ct"))
    val n  = cell.agg(sum(col("obs")).as("n"))
    val e  = col("rt") * col("ct") / col("n")
    cell.join(broadcast(rt), Seq(aCol)).join(broadcast(ct), Seq(bCol))
      .crossJoin(broadcast(n))
      .select(col(aCol), col(bCol), col("obs").cast("bigint").as("obs"),
        round(e, 4).as("expected"),
        round(lit(2.0) * col("obs") * log(col("obs") / e), 6)
          .as("g_contrib"))
  }

  /** Cohen's kappa between two label columns — chance-corrected
    * inter-rater agreement, the annotation-quality gate of a labeling
    * pipeline (two annotators, or a model vs gold labels):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_label p_a(label)·p_b(label) the agreement expected from the
    * raters' marginal distributions alone. κ = 1 is perfect agreement,
    * 0 chance-level, < 0 worse than chance; degenerate p_e = 1 (both
    * raters constant and equal) yields null, not NaN.
    *
    * Scale shape: agreement and both margins fold into ONE fact-sized
    * aggregation pass each side (the [[chiSquare]] discipline) — the
    * label-space-sized margin tables full-outer join on the label (a
    * label one rater never uses contributes 0) and p_e sums exact
    * integer count products in DECIMAL(38,0) (n² overflows long past
    * n ≈ 3·10⁹ — corpus territory), so every derived double comes from
    * exact integer arithmetic: engine-stable to the last bit. Rows with
    * a null on either side are excluded. Output one row:
    * (n, po, pe, kappa) rounded to 4. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    val base = rows.agg(count(lit(1)).as("__n"),
      count(when(col("__a") === col("__b"), lit(1))).as("__agree"))
    val ma = rows.groupBy(col("__a").as("__l")).agg(count(lit(1)).as("__ca"))
    val mb = rows.groupBy(col("__b").as("__l")).agg(count(lit(1)).as("__cb"))
    val pe = ma.join(mb, Seq("__l"), "full")
      .agg(sum((coalesce(col("__ca"), lit(0L)) * coalesce(col("__cb"), lit(0L)))
        .cast("decimal(38,0)")).as("__pe_num"))
    val po  = col("__agree").cast("double") / col("__n")
    val peX = col("__pe_num").cast("double") /
      (col("__n").cast("double") * col("__n"))
    base.crossJoin(broadcast(pe))
      .select(col("__n").as("n"), round(po, 4).as("po"),
        round(peX, 4).as("pe"),
        round(when(peX < 1.0, (po - peX) / (lit(1.0) - peX)), 4).as("kappa"))
  }

  /** Mutual information between two categorical columns, in nats, with
    * marginal entropies and the normalized form
    * NMI = I/√(H_a·H_b) — the feature-selection/dependence screen that,
    * unlike [[chiSquare]], is directly comparable across feature pairs.
    * I = Σ_cells p(a,b)·ln(p(a,b)·N²/(c_a·c_b·N)) from exact counts.
    *
    * Scale shape: one fact-sized cell aggregation, margins derive from
    * the |A|×|B| cell table and ride broadcast joins (the [[chiSquare]]
    * plan verbatim); per-cell information terms round to the 9-grid and
    * sum in DECIMAL(28,9) (the q73 discipline — ln() doubles are
    * IEEE-exact for given inputs, only the SUM order needs pinning).
    * Nulls excluded. Degenerate single-valued columns give H = 0 and
    * null NMI. Output one row: (n, mi, h_a, h_b, nmi) rounded to 4. */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val cell = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ma = cell.groupBy(col("__a")).agg(sum(col("__c")).as("__ca"))
    val mb = cell.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val n = cell.agg(sum(col("__c")).as("__n"))
    def entropy(margin: DataFrame, cnt: String): DataFrame = {
      val p = col(cnt).cast("double") / col("__n")
      margin.crossJoin(broadcast(n))
        .agg(sum(dec(-p * log(p))).cast("double").as("__h"))
    }
    val mi = cell.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(n))
      .agg(sum(dec((col("__c").cast("double") / col("__n")) *
        log(col("__c").cast("double") * col("__n").cast("double") /
          (col("__ca").cast("double") * col("__cb").cast("double")))))
        .cast("double").as("__mi"))
    n.crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropy(ma, "__ca").select(col("__h").as("__ha"))))
      .crossJoin(broadcast(entropy(mb, "__cb").select(col("__h").as("__hb"))))
      .select(col("__n").as("n"), round(col("__mi"), 4).as("mi"),
        round(col("__ha"), 4).as("h_a"), round(col("__hb"), 4).as("h_b"),
        round(when(col("__ha") > 0.0 && col("__hb") > 0.0,
          col("__mi") / sqrt(col("__ha") * col("__hb"))), 4).as("nmi"))
  }

  /** Theil's uncertainty coefficient — the ASYMMETRIC dependence screen
    * [[mutualInfo]] and [[cramersV]] cannot express: U(a|b) = I(a;b) /
    * H(a) is the fraction of a's uncertainty that knowing b removes,
    * and U(a|b) ≠ U(b|a) tells you WHICH column predicts which (zip
    * code predicts city almost fully; city barely predicts zip). Both
    * directions from the same single pass. Same cell/margin shape and
    * 9-grid DECIMAL discipline as [[mutualInfo]]; a constant column
    * (H = 0) yields a null coefficient in that direction. Output: one
    * row (n, mi, u_a_given_b, u_b_given_a) rounded 4. */
  def theilU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val cell = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ma = cell.groupBy(col("__a")).agg(sum(col("__c")).as("__ca"))
    val mb = cell.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val n = cell.agg(sum(col("__c")).as("__n"))
    def entropy(margin: DataFrame, cnt: String): DataFrame = {
      val p = col(cnt).cast("double") / col("__n")
      margin.crossJoin(broadcast(n))
        .agg(sum(dec(-p * log(p))).cast("double").as("__h"))
    }
    val mi = cell.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(n))
      .agg(sum(dec((col("__c").cast("double") / col("__n")) *
        log(col("__c").cast("double") * col("__n").cast("double") /
          (col("__ca").cast("double") * col("__cb").cast("double")))))
        .cast("double").as("__mi"))
    n.crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropy(ma, "__ca").select(col("__h").as("__ha"))))
      .crossJoin(broadcast(entropy(mb, "__cb").select(col("__h").as("__hb"))))
      .select(col("__n").as("n"), round(col("__mi"), 4).as("mi"),
        round(when(col("__ha") > 0.0, col("__mi") / col("__ha")), 4)
          .as("u_a_given_b"),
        round(when(col("__hb") > 0.0, col("__mi") / col("__hb")), 4)
          .as("u_b_given_a"))
  }

  /** Kendall's τ-b — ordinal association with tie correction, the
    * rank statistic to reach for when [[spearman]]'s average-rank
    * linearity is unwanted: τ-b = (C − D) / √((n₀−n₁)(n₀−n₂)) with C/D
    * the concordant/discordant pair counts, n₀ = n(n−1)/2 and n₁/n₂
    * the pairs tied in x / in y.
    *
    * Computed from the JOINT-DISTRIBUTION cell table, never row pairs:
    * cells (x, y, c) self-join on x_i < x_j, each cell pair
    * contributing cᵢ·cⱼ to C (y ascending) or D (y descending); ties
    * come from the margins. The contract is discrete/binned data —
    * work is |cells|², so bin continuous columns first
    * ([[quantileBin]]); the row-pair formulation this replaces is
    * O(n²) in the CORPUS. All pair counts are exact integers in
    * DECIMAL(38,0); the two divisions happen once, in double. Output:
    * one row (n, concordant, discordant, tau_b rounded 6); τ null
    * when either tie-corrected denominator term is 0 (a constant
    * column). */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    val cell = rows.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__c"))
    val b = cell.select(col("__x").as("__x2"), col("__y").as("__y2"),
      col("__c").as("__c2"))
    val pairs = cell.join(b, col("__x") < col("__x2"))
      .agg(
        // cell-count products in DECIMAL(38,0) BEFORE the multiply —
        // a LongType product wraps silently past 2^63
        sum(when(col("__y") < col("__y2"),
          col("__c").cast("decimal(38,0)") *
            col("__c2").cast("decimal(38,0)")))
          .as("__C"),
        sum(when(col("__y") > col("__y2"),
          col("__c").cast("decimal(38,0)") *
            col("__c2").cast("decimal(38,0)")))
          .as("__D"))
    // t(t−1)/2 stays DECIMAL end-to-end: long `/` in Spark is DOUBLE
    // division (silent precision loss past 2^53), and the product of
    // consecutive integers is even, so the decimal division is exact
    def tiePairs(kCol: String, out: String): DataFrame =
      cell.groupBy(col(kCol)).agg(sum(col("__c")).as("__t"))
        .agg(sum(((col("__t").cast("decimal(38,0)") * (col("__t") - 1)) / 2)
          .cast("decimal(38,0)")).as(out))
    val n = cell.agg(sum(col("__c")).as("__n"))
    val joined = pairs
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(tiePairs("__x", "__n1")))
      .crossJoin(broadcast(tiePairs("__y", "__n2")))
      .withColumn("__n0",
        (col("__n").cast("decimal(38,0)") * (col("__n") - 1) / 2)
          .cast("decimal(38,0)"))
    val cd = coalesce(col("__C"), lit(0).cast("decimal(38,0)")).cast("double") -
      coalesce(col("__D"), lit(0).cast("decimal(38,0)")).cast("double")
    val tx = (col("__n0") - col("__n1")).cast("double")
    val ty = (col("__n0") - col("__n2")).cast("double")
    joined.select(col("__n").as("n"),
      coalesce(col("__C"), lit(0).cast("decimal(38,0)")).cast("long")
        .as("concordant"),
      coalesce(col("__D"), lit(0).cast("decimal(38,0)")).cast("long")
        .as("discordant"),
      round(when(tx > 0.0 && ty > 0.0, cd / sqrt(tx * ty)), 6)
        .as("tau_b"))
  }

  /** Cramér's V — the EFFECT SIZE the χ² screen is missing: at corpus n
    * everything is "significant", V = √(χ²/(n·min(r−1, c−1))) ∈ [0, 1]
    * says whether the association is big. Same one-cell-agg shape as
    * [[chiSquare]], but over the DENSIFIED r×c grid — an unobserved
    * cell still contributes (0−e)²/e = e, and dropping zero cells
    * deflates χ² on sparse tables (spec-pinned: a perfect 2×2 is V = 1
    * only with its two zero cells counted); per-cell χ² terms round to
    * the 9-grid into a DECIMAL(38,9) sum. Output: one row (n, r, c,
    * chi2 rounded 4, v rounded 6); V null for a degenerate 1×k table. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).cast("double").as("__o"))
    val rt = cell.groupBy(col("__a")).agg(sum(col("__o")).as("__rt"))
    val ct = cell.groupBy(col("__b")).agg(sum(col("__o")).as("__ct"))
    val dims = cell.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__r"), countDistinct(col("__b")).as("__c"))
    val e = col("__rt") * col("__ct") / col("__n")
    val chi = rt.crossJoin(ct) // the dense r×c grid, margins included
      .join(cell, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0.0)))
      .crossJoin(broadcast(dims))
      .select(col("__n"), col("__r"), col("__c"),
        round((col("__o") - e) * (col("__o") - e) / e, 9)
          .cast("decimal(38,9)").as("__t"))
      .groupBy(col("__n"), col("__r"), col("__c"))
      .agg(sum(col("__t")).as("__chi2"))
    val minDim = least(col("__r") - 1, col("__c") - 1).cast("double")
    chi.select(col("__n").cast("long").as("n"),
      col("__r").as("r"), col("__c").as("c"),
      round(col("__chi2").cast("double"), 4).as("chi2"),
      round(when(minDim > 0.0,
        sqrt(col("__chi2").cast("double") / (col("__n") * minDim))), 6)
        .as("v"))
  }

  /** Huber robust regression per group (IRLS, fixed iterations) — the
    * M-estimator between [[olsFit]] (outliers drag the fit) and
    * [[graft.operators.TimeSeries.theilSen]] (median-exact but
    * O(n²) pairs): start from OLS, then re-fit weighted least squares
    * with w = min(1, delta/|residual|) — inliers keep weight 1,
    * outliers fade as 1/|r| instead of voting quadratically.
    *
    * `delta` is an ABSOLUTE residual threshold (the caller pins the
    * scale — a per-iteration MAD re-estimate would be another grid
    * walk; pre-standardize y or pass a domain delta). Each iteration
    * is ONE map-side-combinable weighted-stats pass: per-row w and
    * every product round to the 9-grid, accumulate in DECIMAL(38,9)
    * (associative — partition order cannot move a bit), the
    * closed-form solve runs in double from identical decimal sums and
    * the params re-round to the 9-grid before broadcasting into the
    * next pass (the logisticGD discipline, q227). Zero weighted
    * x-variance (or a degenerate group) yields null params from that
    * iteration on. Output: (groupCol, n, n_downweighted, slope,
    * intercept) rounded 6, where n_downweighted counts rows with
    * w < 1 in the LAST iteration. */
  /** Trimmed mean per group — drop the k = ⌊frac·n⌋ smallest AND
    * largest values, average the middle: the blunt robust-location
    * companion to [[winsorize]] (which clamps instead of dropping)
    * and [[huberRegression]] (which reweights). Exact on the
    * VALUE-LEVEL grid (the conversionLag discipline — no per-row rank
    * window): a level with c copies and `cum` cumulative count keeps
    * max(0, min(cum, n−k) − max(cum−c, k)) copies, so ties trim
    * identically on any engine and the kept mass is always exactly
    * n − 2k. 9-grid DECIMAL sum, one division. Groups where
    * n − 2k <= 0 yield null. Output: (groupCol, n, n_trimmed_each,
    * trimmed_mean rounded 6). */
  def trimmedMean(df: DataFrame, groupCol: String, valCol: String,
                  frac: Double): DataFrame = {
    require(frac >= 0.0 && frac < 0.5, s"frac must be in [0, 0.5), got $frac")
    // the level grid is read by the totals agg AND the cumulative walk
    // (sample + shuffle) — one lazy materialization (the dunn levels
    // discipline; grid-sized, swept by Bench per query)
    val lvl = Materialize(df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")))
    val tot = lvl.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val k = floor(col("__n") * frac)
    val kept = greatest(lit(0L),
      least(col("cum___c"), col("__n") - k) -
        greatest(col("cum___c") - col("__c"), k))
    graft.operators.Ranks.groupedCumSum(lvl, Seq("__g"), "__v", Seq("__c"))
      .join(tot, "__g")
      .select(col("__g"), col("__n"), k.as("__k"),
        kept.as("__kept"), col("__v"))
      .groupBy(col("__g"), col("__n"), col("__k"))
      .agg(sum(round(col("__v") * col("__kept"), 9)
        .cast("decimal(38,9)")).as("__s"))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        col("__k").as("n_trimmed_each"),
        round(when(col("__n") - lit(2) * col("__k") > 0,
          col("__s").cast("double") /
            (col("__n") - lit(2) * col("__k"))), 6)
          .as("trimmed_mean"))
  }

  def huberRegression(df: DataFrame, groupCol: String, xCol: String,
                      yCol: String, delta: Double,
                      iters: Int = 2): DataFrame = {
    require(delta > 0, s"delta must be positive, got $delta")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val rows = Materialize(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      // spread the repeated weighted-stats passes across the cluster
      // and pin the narrow projection (the logisticGD discipline: a
      // small parquet source scans as few splits and would run every
      // IRLS pass underparallelized)
      .repartition(df.sparkSession.sparkContext.defaultParallelism))
    def fit(w: Column, prev: DataFrame): DataFrame = {
      val base = if (prev == null) rows
        else rows.join(broadcast(prev), Seq("__g"), "left")
      val wr = round(w, 9)
      Materialize(base.groupBy(col("__g")).agg(
          count(lit(1)).as("n"),
          sum(when(wr < 1.0, 1L).otherwise(0L)).as("n_downweighted"),
          sum(dec9(wr)).as("__sw"),
          sum(dec9(wr * col("__x"))).as("__swx"),
          sum(dec9(wr * col("__y"))).as("__swy"),
          sum(dec9(wr * col("__x") * col("__x"))).as("__swxx"),
          sum(dec9(wr * col("__x") * col("__y"))).as("__swxy"))
        .select(col("__g"), col("n"), col("n_downweighted"),
          col("__sw").cast("double").as("__sw"),
          col("__swx").cast("double").as("__swx"),
          col("__swy").cast("double").as("__swy"),
          col("__swxx").cast("double").as("__swxx"),
          col("__swxy").cast("double").as("__swxy"))
        .select(col("__g"), col("n"), col("n_downweighted"),
          round(when(col("__sw") * col("__swxx") -
              col("__swx") * col("__swx") =!= 0.0,
            (col("__sw") * col("__swxy") - col("__swx") * col("__swy")) /
              (col("__sw") * col("__swxx") - col("__swx") * col("__swx"))),
            9).as("__b1"),
          col("__sw"), col("__swx"), col("__swy"))
        .select(col("__g"), col("n"), col("n_downweighted"), col("__b1"),
          round(when(col("__sw") =!= 0.0,
            (col("__swy") - col("__b1") * col("__swx")) / col("__sw")), 9)
            .as("__b0")))
    }
    val resid = col("__y") - (col("__b0") + col("__b1") * col("__x"))
    val huberW = when(col("__b0").isNull || col("__b1").isNull,
        lit(null).cast("double"))
      .when(abs(resid) <= delta, lit(1.0))
      .otherwise(lit(delta) / abs(resid))
    val fitted = (1 to iters).foldLeft(fit(lit(1.0), null)) { (p, _) =>
      fit(huberW, p.select(col("__g"), col("__b0"), col("__b1")))
    }
    fitted.select(col("__g").as(groupCol), col("n"),
      col("n_downweighted"),
      round(col("__b1"), 6).as("slope"),
      round(col("__b0"), 6).as("intercept"))
  }
}
