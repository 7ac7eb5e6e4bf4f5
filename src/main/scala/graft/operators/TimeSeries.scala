package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: turn an irregular event stream into a
  * dense per-key daily series (the resample step every feature pipeline
  * needs before windowed models can consume event data).
  *
  * Reference analog: the reference materializes per-entity daily
  * aggregates by re-querying per day (transform.py:31 groups one
  * extraction batch at a time); here the spine and the fill are one
  * declarative plan over all keys at once.
  */
object TimeSeries {

  /** Dense daily series per key with forward-filled gaps.
    *
    * Steps (all keyed by `keyCol` — no corpus-wide shuffle):
    *  1. daily sums, DECIMAL(28,9)-accumulated ([[graft.catalog.Catalog]]
    *     determinism rules: decimal is associative, double is not);
    *  2. a per-key date spine `sequence(min(day), max(day))` — the
    *     explode is bounded by each key's own span, so a key observed
    *     once contributes one row, not `global-range` rows;
    *  3. left join daily onto the spine on (key, day);
    *  4. forward fill: `last(v, ignoreNulls)` over a per-key
    *     rows-unbounded-preceding window.
    *
    * Everything shuffles on the key: the daily agg, the spine join and
    * the fill window share hash(key) co-partitioning, and AQE coalesces
    * the tiny bounds agg. At 100 TB the cost is one fact-sized keyed
    * shuffle plus rows ∝ Σ per-key spans — there is no global date
    * cross-join (the classic gap-fill scale bug this operator exists to
    * avoid).
    *
    * Output: (keyCol, day, filled DECIMAL(28,9), observed INT) —
    * `observed` = 0 marks rows synthesized by the spine. Leading rows
    * before a key's first observation do not exist by construction, so
    * `filled` is never null.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valCol).cast("decimal(28,9)"), 9)).as("v"))
    val spine = daily
      .groupBy(col(keyCol))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col(keyCol),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 day")))
          .as("day"))
    val fillW = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        last(col("v"), ignoreNulls = true).over(fillW)
          .cast("decimal(28,9)").as("filled"),
        when(col("v").isNull, 0).otherwise(1).cast("int").as("observed"))
  }

  /** Dense daily series per key with LINEAR INTERPOLATION across gaps —
    * [[gapFillDaily]]'s honest sibling for continuous measures: forward
    * fill asserts "nothing changed since the last reading" (right for
    * state like account balances), interpolation asserts "it moved
    * smoothly between readings" (right for sampled sensors, rates,
    * prices). Same scale shape: per-key daily DECIMAL sums, per-key
    * spine bounded by each key's own [min, max] span, one keyed
    * shuffle — no global date cross-join.
    *
    * Each synthesized day takes prev + (next − prev)·Δ/span from its
    * nearest observed neighbors on both sides (two keyed windows
    * carrying (day, value) structs); integer day distances make the
    * fraction an exact integer ratio, the interpolation is one pinned
    * double tree rounded to the 9-grid. Interior gaps only by
    * construction (the spine starts and ends on observations), so
    * `filled` is never null. Output: (keyCol, day, filled
    * DECIMAL(28,9), observed INT). */
  def gapFillInterpolate(df: DataFrame, keyCol: String, tsCol: String,
                         valCol: String): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valCol).cast("decimal(28,9)"), 9)).as("v"))
    val spine = daily
      .groupBy(col(keyCol))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col(keyCol),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 day")))
          .as("day"))
    val backW = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdW = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obs = when(col("v").isNotNull, struct(col("day"), col("v")))
    val joined = spine.join(daily, Seq(keyCol, "day"), "left")
      .withColumn("__p", last(obs, ignoreNulls = true).over(backW))
      .withColumn("__nx", first(obs, ignoreNulls = true).over(fwdW))
    val frac = datediff(col("day"), col("__p.day")).cast("double") /
      datediff(col("__nx.day"), col("__p.day")).cast("double")
    joined.select(col(keyCol), col("day"),
      when(col("v").isNotNull, col("v"))
        .otherwise(round(col("__p.v").cast("double") +
          (col("__nx.v").cast("double") - col("__p.v").cast("double")) *
            frac, 9).cast("decimal(28,9)"))
        .as("filled"),
      when(col("v").isNull, 0).otherwise(1).cast("int").as("observed"))
  }

  /** Per-group robust outlier profile via the median/MAD gate (the
    * scale-free alternative to z-scores: one 10⁹ reading moves a mean
    * and std arbitrarily but not the median; see winsorize's scaladoc
    * in [[Features]] for why quantile gates beat moment gates on raw
    * event data).
    *
    * Two exact-`percentile` aggregation passes keyed by `groupCol`
    * (median, then median absolute deviation) and one counting pass —
    * each a single keyed shuffle; the per-group medians ride a
    * broadcast-or-shuffle join back onto the rows under AQE. The
    * `exact` percentile holds group values in executor memory per
    * group — the documented trade of [[Features.winsorize]]; swap in
    * approx_percentile / the KLL store for groups beyond memory.
    *
    * The gate compares on the 9-grid (`round(adev,9) > round(3·mad,9)`)
    * so both engines in a cross-engine compare resolve boundary cases
    * identically.
    *
    * Output per group: (groupCol, med, mad, n, n_outliers), med/mad
    * rounded to 4.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val dev = df.join(med, groupCol)
      .withColumn("adev", abs(col(valCol) - col("med")))
    val mad = dev.groupBy(col(groupCol), col("med"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad.withColumnRenamed("med", "med2"), groupCol)
      .groupBy(col(groupCol), col("med2"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(round(col("adev"), 9) > round(lit(k) * col("mad"), 9), 1)
          .otherwise(0)).as("n_outliers"))
      .select(col(groupCol), round(col("med2"), 4).as("med"),
        round(col("mad"), 4).as("mad"), col("n"), col("n_outliers"))
  }

  /** Islands of consecutive integer keys (gaps-and-islands): maximal
    * runs k, k+1, …, k+len−1 all present in the column.
    *
    * Distributed shape: island STARTS are keys whose predecessor is
    * absent (one key-keyed anti-join), ENDS are keys whose successor is
    * absent (another); sorted starts and ends interleave 1:1, so pairing
    * is a rank join. The heavy work — distinct + both anti-joins — is
    * all key-keyed shuffles over the full column. Ranks come from
    * [[Ranks.globalRowNumber]]'s bucketed two-level shape, so even the
    * adversarial key set where EVERY key is its own island (no
    * consecutive runs — start/end tables as big as the distinct-key
    * set) never funnels through a single-partition window; the only
    * global walk is over the buckets-sized prefix table. This avoids
    * the textbook `k - row_number()` form whose single global window
    * sees EVERY key.
    *
    * Output: (island_start, island_end, len) for islands with
    * `len >= minLen`.
    */
  def islands(df: DataFrame, keyCol: String, minLen: Long = 1L): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val keys = df.select(col(keyCol).cast("long").as("k")).distinct()
    val starts = keys
      .join(keys.select((col("k") + 1).as("k")), Seq("k"), "left_anti")
    val ends = keys
      .join(keys.select((col("k") - 1).as("k")), Seq("k"), "left_anti")
    val s2 = Ranks.globalRowNumber(
      starts.select(col("k").as("island_start")), "island_start", "__i")
    val e2 = Ranks.globalRowNumber(
      ends.select(col("k").as("island_end")), "island_end", "__i")
    s2.join(e2, "__i")
      .select(col("island_start"), col("island_end"),
        (col("island_end") - col("island_start") + 1).as("len"))
      .filter(col("len") >= minLen)
  }

  /** Per-key exponentially-weighted moving average over the key's
    * time-ordered values: the sequential fold ewmaₜ = α·vₜ + (1−α)·ewmaₜ₋₁
    * seeded with the first value.
    *
    * A fold is inherently sequential per key, so it runs as a codegen'd
    * higher-order `aggregate` over the key's sorted value array — one
    * keyed shuffle (collect_list), no window, no UDF, no iteration. The
    * array holds ONE KEY's values (the per-key sequence bound every
    * sessionize/pack operator in this repo shares); keys are independent
    * and distribute freely.
    *
    * Determinism: inputs round to the 9-grid, every fold step re-rounds
    * (`round(α·x + (1−α)·acc, 9)`), so engines agree bit-for-bit.
    * Output: (keyCol, ewma round-6).
    */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val a = lit(alpha)
    val b = lit(1.0 - alpha)
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        col(tieCol).as("i"),
        round(col(valCol).cast("decimal(28,9)"), 9).cast("double")
          .as("v")))).as("__arr"))
      .select(col(keyCol),
        round(aggregate(
          expr("slice(transform(__arr, x -> x.v), 2, size(__arr) - 1)"),
          expr("__arr[0].v"),
          (acc, x) => round(a * x + b * acc, 9)), 6).as("ewma"))
  }

  /** Holt linear (double-exponential) forecast per key — level + trend
    * smoothing, the first forecaster a monitoring pipeline reaches for
    * once [[ewma]]'s flat level lags a trending series:
    * l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β·Δ_t + (1−β)b_{t−1} with Δ_t = α(x_t − l_{t−1}) +
    * (1−α)b_{t−1} — the level INCREMENT in its algebraic form (equal
    * to l_t − l_{t−1} before rounding; using it keeps the trend update
    * independent of the rounded level, so neither engine nests one
    * rounded term inside another). Forecast(h) = l_n + h·b_n.
    * Init: l₁ = x₁, b₁ = x₂ − x₁ (single-point series forecast flat).
    *
    * Execution: the [[ewma]] shape — ONE keyed collect, the recursion
    * is a codegen'd `aggregate` HOF over each key's sorted values with
    * a (level, trend, n) struct accumulator; per-step results round to
    * the 9-grid, so the fold is bit-reproducible and ORACLE-ABLE
    * (DuckDB list_reduce replays it exactly — including writing 1−α
    * and 1−β as subtractions, because the IEEE value of `1.0 - 0.3` is
    * NOT the literal `0.7`). tsCol must be unique per key (duplicate
    * sort keys would leave cross-engine collect order ambiguous).
    * Per-key state is O(series length) in the collect — aggregate to
    * the series grain first, the [[changePoint]] contract. Output:
    * (keyCol, h, forecast rounded 6) for h = 1..horizon. */
  def holtForecast(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, alpha: Double, beta: Double,
                   horizon: Int): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta > 0.0 && beta <= 1.0, s"beta must be in (0,1], got $beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val b = lit(beta); val b1 = lit(1.0 - beta)
    val arr = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        round(col(valCol).cast("decimal(28,9)"), 9).cast("double")
          .as("v")))).as("__a"))
    val vals = expr("transform(__a, x -> x.v)")
    val init = struct(element_at(vals, 1).as("l"), lit(0.0).as("b"),
      lit(1).as("n"))
    val step = (acc: Column, x: Column) => {
      val accL = acc.getField("l"); val accB = acc.getField("b")
      // first folded element is x₂: substitute the init b₁ = x₂ − l₁
      val b0 = when(acc.getField("n") === 1, x - accL).otherwise(accB)
      struct(round(a * x + a1 * (accL + b0), 9).as("l"),
        round(b * (a * (x - accL) + a1 * b0) + b1 * b0, 9).as("b"),
        (acc.getField("n") + 1).as("n"))
    }
    arr
      .withColumn("__st",
        aggregate(expr("slice(transform(__a, x -> x.v), 2, size(__a) - 1)"),
          init, step))
      .select(col(keyCol),
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("__st"))
      .select(col(keyCol), col("h"),
        round(col("__st.l") + col("h") * col("__st.b"), 6).as("forecast"))
  }

  /** Holt-Winters additive triple exponential smoothing per key — the
    * seasonal completion of [[holtForecast]]: level + trend + a
    * rotating `period`-slot seasonal state, so a weekly-patterned
    * daily series forecasts next Tuesday like a Tuesday instead of
    * like the trend line. Classical init (the textbook convention):
    * l₀ = mean of the first period, b₀ = (second-period mean −
    * first-period mean)/period, s_i = x_i − l₀; the fold then consumes
    * x_{period+1}.. with
    * l′ = α(x − s_head) + (1−α)(l + b),
    * b′ = β(l′ − l) + (1−β)b,
    * s′ = γ(x − l′) + (1−γ)s_head, seasonal slots rotating.
    *
    * Same execution shape and oracle discipline as [[holtForecast]]:
    * one keyed collect of the (small — the aggregate-first contract)
    * series, a codegen'd `aggregate` HOF whose state is a
    * `(2+period)`-slot double array ([l, b, s₁..s_period] — an ARRAY,
    * not a struct, because DuckDB's list_reduce replays list states
    * faithfully where struct-state lambdas miscompile), every update
    * re-rounded to the 9-grid so the recursion is bit-identical
    * across engines. Init means fold left with a 0.0 seed (pinned
    * association, replayable term by term).
    *
    * Keys with fewer than 2·period observations drop (the classical
    * init needs two full periods — emitting a half-initialized
    * forecast would be silently wrong). Forecast h steps out:
    * l + h·b + s[(h−1) mod period]. Output: (keyCol, h, forecast
    * rounded 6). */
  def holtWintersForecast(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String, period: Int, alpha: Double,
                          beta: Double, gamma: Double,
                          horizon: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta > 0.0 && beta <= 1.0, s"beta must be in (0,1], got $beta")
    require(gamma > 0.0 && gamma <= 1.0, s"gamma must be in (0,1], got $gamma")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val bb = lit(beta); val b1 = lit(1.0 - beta)
    val g = lit(gamma); val g1 = lit(1.0 - gamma)
    val m = period
    val arr = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        round(col(valCol).cast("decimal(28,9)"), 9).cast("double")
          .as("v")))).as("__a"))
      .filter(size(col("__a")) >= 2 * m)
      .withColumn("__v", expr("transform(__a, x -> x.v)"))
    val mean1 = round(aggregate(slice(col("__v"), 1, m), lit(0.0),
      (acc, x) => acc + x) / m, 9)
    val mean2 = round(aggregate(slice(col("__v"), m + 1, m), lit(0.0),
      (acc, x) => acc + x) / m, 9)
    val withInit = arr
      .withColumn("__l0", mean1)
      .withColumn("__b0", round((mean2 - col("__l0")) / m, 9))
      .withColumn("__s0", transform(slice(col("__v"), 1, m),
        x => round(x - col("__l0"), 9)))
      .withColumn("__state0",
        concat(array(col("__l0"), col("__b0")), col("__s0")))
    val step = (acc: Column, x: Column) => {
      val l = element_at(acc, 1); val b = element_at(acc, 2)
      val sh = element_at(acc, 3)
      val lNew = round(a * (x - sh) + a1 * (l + b), 9)
      val bNew = round(bb * (lNew - l) + b1 * b, 9)
      val sNew = round(g * (x - lNew) + g1 * sh, 9)
      concat(array(lNew, bNew), slice(acc, 4, m - 1), array(sNew))
    }
    withInit
      .withColumn("__st",
        aggregate(expr(s"slice(__v, ${m + 1}, size(__v) - $m)"),
          col("__state0"), step))
      .select(col(keyCol),
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("__st"))
      .select(col(keyCol), col("h"),
        round(element_at(col("__st"), 1) +
          col("h") * element_at(col("__st"), 2) +
          element_at(col("__st"),
            pmod(col("h") - 1, lit(m)).cast("int") + 3), 6)
          .as("forecast"))
  }

  /** CUSUM changepoint locator — WHERE did a series' level shift:
    * cusum_t = Σ_{i≤t}(x_i − x̄) peaks (in absolute value) at the
    * point where the mean changes; the argmax is the classic
    * single-changepoint estimate, and max|cusum| is its strength
    * (compare across series, or against a permutation threshold the
    * caller owns).
    *
    * The series is (keyCol asc → valCol); the cumulative walk runs
    * over the distinct-key grid (aggregate to the grain you mean —
    * daily/hourly — BEFORE calling; a corpus-row walk is the misuse,
    * same contract as [[graft.operators.Eval.ksTest]]). Deviations
    * round to the 9-grid and cumulate in DECIMAL(38,9); the argmax
    * tie-breaks to the EARLIEST key. Output: one row
    * (change_at = keyCol value, max_abs_cusum, mean, n). */
  def changePoint(df: DataFrame, keyCol: String,
                  valCol: String): DataFrame = {
    // series-grain by contract, referenced by the mean AND the walk:
    // a lazy local checkpoint shares one materialization and keeps the
    // upstream plan from re-embedding per reference (the q246 plan-
    // explosion fix — these queries were driver-bound: same wall at
    // sf0.001 as sf0.1, all planning + AQE stage orchestration)
    val rows = Materialize(df.filter(col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valCol).cast("double").as("__v")))
    val m = rows.agg(count(lit(1)).as("__n"),
      (sum(round(col("__v"), 9).cast("decimal(38,9)")).cast("double") /
        count(lit(1))).as("__mean"))
    // distinct-key grid by contract; the walk itself is the bucketed
    // two-level cumulative (decimal sums compose exactly), so a grid
    // as big as the corpus still never crosses one task
    val cum = Ranks.groupedCumSum(
      rows.crossJoin(broadcast(m))
        .withColumn("__d",
          round(col("__v") - col("__mean"), 9).cast("decimal(38,9)")),
      Seq.empty, "__k", Seq("__d"))
    cum
      .withColumn("__cusum", col("cum___d"))
      .select(col("__n"), col("__mean"), col("__k"),
        abs(col("__cusum")).cast("double").as("__a"))
      .groupBy(col("__n"), col("__mean"))
      .agg(min(struct(negate(col("__a")).as("__na"), col("__k"),
        col("__a"))).as("__best"))
      .select(col("__best.__k").as("change_at"),
        round(col("__best.__a"), 6).as("max_abs_cusum"),
        round(col("__mean"), 6).as("mean"),
        col("__n").as("n"))
  }

  /** Binary-segmentation changepoints — [[changePoint]] recursed once
    * (the decisionTreeDepth2 move): the root CUSUM peak partitions the
    * series, each side gets its own peak, yielding up to three
    * boundaries — the standard multi-changepoint heuristic (Scott &
    * Knott): each recursion level costs two series passes regardless
    * of segment count. The root boundary rides a 1-row broadcast into
    * the child filters; an empty side emits no row. Same grid/grain
    * contract as [[changePoint]] (aggregate to series grain first).
    * Output: (segment ∈ root/le/gt, change_at, max_abs_cusum, mean,
    * n), ordered by the caller. */
  def changePoints2(df: DataFrame, keyCol: String,
                    valCol: String): DataFrame = {
    // shared by root + both child segments; root's 1-row result rides
    // into the children as a leaf, not as its whole plan (the
    // decisionTreeDepth2 truncation)
    val rows = Materialize(df.filter(col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valCol).as("__v")))
    val root = Materialize(changePoint(rows, "__k", "__v"))
    val rt = broadcast(root.select(col("change_at").as("__cp")))
    val le = changePoint(
      rows.crossJoin(rt).filter(col("__k") <= col("__cp")), "__k", "__v")
    val gt = changePoint(
      rows.crossJoin(rt).filter(col("__k") > col("__cp")), "__k", "__v")
    root.withColumn("segment", lit("root"))
      .unionByName(le.withColumn("segment", lit("le")))
      .unionByName(gt.withColumn("segment", lit("gt")))
      .select(col("segment"), col("change_at"), col("max_abs_cusum"),
        col("mean"), col("n"))
  }

  /** Local-maximum peak detection per key — points strictly above BOTH
    * neighbors with prominence (the smaller of the two rises) at least
    * `minProminence`: the event-burst / anomaly-crest finder that
    * thresholds can't express (a peak is relative, not absolute).
    * Series edges (missing a neighbor) are never peaks — honest, not
    * extrapolated. Two keyed lag/lead windows (each key's series sorts
    * inside its own partition); the prominence compares on the 9-grid.
    * Output: (keyCol, tsCol, value, prominence rounded 6). */
  def peaks(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
            minProminence: Double = 0.0): DataFrame = {
    require(minProminence >= 0.0,
      s"minProminence must be >= 0, got $minProminence")
    val w = Window.partitionBy(col("__key")).orderBy(col("__t"))
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__key"), col(tsCol).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__prev", lag(col("__v"), 1).over(w))
      .withColumn("__next", lead(col("__v"), 1).over(w))
    rows
      .filter(col("__prev").isNotNull && col("__next").isNotNull &&
        col("__v") > col("__prev") && col("__v") > col("__next"))
      .withColumn("__prom",
        round(least(col("__v") - col("__prev"), col("__v") - col("__next")),
          9))
      .filter(col("__prom") >= round(lit(minProminence), 9))
      .select(col("__key").as(keyCol), col("__t").as(tsCol),
        round(col("__v"), 6).as("value"),
        round(col("__prom"), 6).as("prominence"))
  }

  /** Classical additive seasonal decomposition — value = trend +
    * seasonal + residual, the first model a monitoring pipeline fits
    * to a regular series: trend is the centered moving average over
    * one full period (null at the edges where the window is
    * incomplete — honest, not extrapolated), the seasonal component is
    * each phase's mean DETRENDED value re-centered to sum to zero over
    * the period (so trend and seasonal don't double-count the level),
    * residual is the remainder where trend exists.
    *
    * Input is one regular series at its grain: (keyCol asc = time
    * order, period = cycle length in rows, phase = position mod
    * period). Positions come from [[Ranks.globalRowNumber]] and the
    * centered MA is a period-factor explode + position-keyed agg — no
    * global sort anywhere, so even a corpus-grain misuse (the
    * [[changePoint]] contract) degrades to an oversized keyed shuffle,
    * never a one-task funnel; phase means are one period-sized agg.
    * Every mean derives from 9-grid DECIMAL sums. Output: (keyCol,
    * value, trend, seasonal, residual) rounded 6. */
  def seasonalDecompose(df: DataFrame, keyCol: String, valCol: String,
                        period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(period % 2 == 1,
      s"period must be odd (centered MA of even windows needs the " +
        s"2x-MA refinement this operator does not model), got $period")
    val half = period / 2
    val rows = df.filter(col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(valCol).cast("double").as("__v"))
    // positions via the bucketed two-level rank (no global window);
    // the centered MA is a period-factor explode + one position-keyed
    // agg instead of a sliding window over a single global sort —
    // row __pos contributes its value to trends __pos−half…__pos+half
    // positions feed the MA explode AND the trend join-back: one lazy
    // materialization (the q246 plan-explosion fix)
    val pos = Materialize(Ranks.globalRowNumber(rows, "__k", "__pos"))
    val trend = pos
      .select(explode(sequence(col("__pos") - half, col("__pos") + half))
          .as("__tp"),
        round(col("__v"), 9).cast("decimal(38,9)").as("__v9"))
      .groupBy(col("__tp"))
      .agg(count(lit(1)).as("__tn"), sum(col("__v9")).as("__ts"))
      // edge positions (incomplete windows) and the phantom positions
      // past either end fall out of the = period filter together
      .filter(col("__tn") === period)
      .select(col("__tp"), (col("__ts").cast("double") / period)
        .as("__trend"))
    val trended = pos.join(trend, col("__pos") === col("__tp"), "left")
      .drop("__tp")
    // read by phase means + final join
    val phase = Materialize(trended
      .withColumn("__phase", (col("__pos") - 1) % period))
    val phaseMeans = phase.filter(col("__trend").isNotNull)
      .groupBy(col("__phase"))
      .agg((sum(round(col("__v") - col("__trend"), 9)
        .cast("decimal(38,9)")).cast("double") / count(lit(1)))
        .as("__raw_seasonal"))
    val centered = phaseMeans.crossJoin(broadcast(
        phaseMeans.agg((sum(round(col("__raw_seasonal"), 9)
          .cast("decimal(38,9)")).cast("double") /
          count(lit(1))).as("__soff"))))
      .select(col("__phase"),
        round(col("__raw_seasonal") - col("__soff"), 9).as("__seasonal"))
    phase.join(broadcast(centered), Seq("__phase"), "left")
      .select(col("__k").as(keyCol),
        round(col("__v"), 6).as("value"),
        round(col("__trend"), 6).as("trend"),
        round(col("__seasonal"), 6).as("seasonal"),
        round(when(col("__trend").isNotNull,
          col("__v") - col("__trend") - col("__seasonal")), 6)
          .as("residual"))
  }

  /** Seasonality-aware anomaly gate — [[seasonalDecompose]]'s residual
    * put through [[madOutliers]]' robust median/MAD fence: a reading is
    * anomalous only if it deviates from what the trend AND the seasonal
    * pattern jointly predict, so the Monday peak that a raw MAD gate
    * flags every week is ordinary here, and a quiet-Sunday spike that
    * hides under the weekly mean is caught. The standard STL-residual
    * anomaly recipe, composed from the engine's own two primitives.
    *
    * Rows whose residual is undefined (the decompose's half-period
    * edges) pass through with a null flag — unjudged, not silently
    * normal. The fence compares on the 9-grid (the madOutliers
    * boundary contract); median/MAD are the exact interpolated
    * percentiles both engines share. Scale: the decompose's keyed
    * shuffles + two series-length percentile aggs (one series — the
    * [[changePoint]] grain contract: aggregate to series grain first).
    * Output: (keyCol, value, residual, med, mad, is_outlier) rounded
    * as produced by the decompose, ordered by the caller. */
  def seasonalOutliers(df: DataFrame, keyCol: String, valCol: String,
                       period: Int, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the decomposition is read three times (median, MAD, final gate):
    // one lazy materialization of the series-sized table
    val dec = Materialize(seasonalDecompose(df, keyCol, valCol, period))
    val scored = dec.filter(col("residual").isNotNull)
    val med = scored.agg(expr("percentile(residual, 0.5)").as("__med"))
    val dev = scored.crossJoin(broadcast(med))
      .withColumn("__adev", abs(col("residual") - col("__med")))
    val mad = dev.agg(first(col("__med")).as("__med"),
      expr("percentile(__adev, 0.5)").as("__mad"))
    dec.crossJoin(broadcast(mad))
      .select(col(keyCol), col("value"), col("residual"),
        round(col("__med"), 4).as("med"),
        round(col("__mad"), 4).as("mad"),
        when(col("residual").isNotNull,
          (round(abs(col("residual") - col("__med")), 9) >
            round(lit(k) * col("__mad"), 9)).cast("int"))
          .as("is_outlier"))
  }

  /** Forecast-accuracy scorecard per key — MAE, RMSE, sMAPE and MASE
    * for ANY forecast column against actuals, the backtest gate that
    * decides whether [[holtForecast]]/[[holtWintersForecast]] (or a
    * lag-m seasonal naive) earns production: MASE < 1 means the
    * forecast beats the in-sample naive ŷ_t = y_{t−1} random walk —
    * the scale-free comparison MAPE breaks on zero/near-zero actuals
    * (Hyndman & Koehler 2006).
    *
    * Rows with a null forecast (warm-up lags, short keys) score no
    * error term but DO feed the naive denominator — MASE's scaling is
    * the whole series' one-step difficulty, not just the scored span.
    * sMAPE terms with |y|+|f| = 0 drop from that metric's own count
    * (0/0 is undefined agreement, not perfect agreement). All error
    * terms round to the 9-grid into DECIMAL(38,9) sums (bit-stable
    * across partitionings and engines); one division each at the end.
    *
    * Scale shape: lag rides a per-key window (partitioned — a key's
    * series sorts inside its own partition, never globally) and the
    * scorecard is ONE map-side-combinable agg per key; output is
    * keys-sized. Output: (keyCol, n, n_scored, mae, rmse, smape, mase)
    * rounded 6; mase is null when the naive denominator is 0 (constant
    * series) or no naive terms exist (single-point key). */
  def forecastAccuracy(df: DataFrame, keyCol: String, tsCol: String,
                       actualCol: String, forecastCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val rows = df.filter(col(actualCol).isNotNull)
      .select(col(keyCol), col(tsCol),
        col(actualCol).cast("double").as("__y"),
        col(forecastCol).cast("double").as("__f"))
      .withColumn("__naive", lag(col("__y"), 1).over(w))
    val err   = abs(col("__y") - col("__f"))
    val sden  = abs(col("__y")) + abs(col("__f"))
    val nerr  = abs(col("__y") - col("__naive"))
    val dec38 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    rows.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        count(col("__f")).as("n_scored"),
        sum(when(col("__f").isNotNull, dec38(err))).as("__sae"),
        sum(when(col("__f").isNotNull, dec38(err * err))).as("__sse"),
        count(when(col("__f").isNotNull && sden > 0.0, lit(1)))
          .as("__ns"),
        sum(when(col("__f").isNotNull && sden > 0.0,
          dec38(lit(2.0) * err / sden))).as("__ss"),
        count(col("__naive")).as("__nn"),
        sum(dec38(nerr)).as("__sn"))
      .select(col(keyCol), col("n"), col("n_scored"),
        round(col("__sae").cast("double") / col("n_scored"), 6).as("mae"),
        round(sqrt(col("__sse").cast("double") / col("n_scored")), 6)
          .as("rmse"),
        round(col("__ss").cast("double") / col("__ns"), 6).as("smape"),
        round(when(col("__nn") > 0 && col("__sn") > 0 &&
            col("n_scored") > 0,
          (col("__sae").cast("double") / col("n_scored")) /
            (col("__sn").cast("double") / col("__nn"))), 6).as("mase"))
  }

  /** Time-weighted average per key — the irregular-sampling mean:
    * each observation holds until the next one, so its weight is its
    * holding duration in seconds, TWA = Σ v_i·(t_{i+1}−t_i) / span.
    * The arithmetic mean over-counts whichever regime happens to be
    * sampled often (the classic sensor/price bug); this is the
    * integral ∫v dt / T a metering pipeline actually owes. The LAST
    * observation holds for zero time by this contract (no horizon
    * assumption smuggled in) — append a horizon row upstream to
    * extend it.
    *
    * One keyed lead window (each key's series sorts inside its own
    * partition) + one keyed agg. Durations are exact long seconds
    * (both engines floor epoch seconds identically); v·Δt rounds to
    * the 9-grid into a DECIMAL(38,9) sum; one division. Keys with a
    * single observation (span 0) yield null twa. Output: (keyCol, n,
    * span_sec, twa rounded 6). */
  def timeWeightedAverage(df: DataFrame, keyCol: String, tsCol: String,
                          valCol: String): DataFrame = {
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"),
        unix_timestamp(col(tsCol).cast("timestamp")).as("__t"),
        col(valCol).cast("double").as("__v"))
    // value tie-break pins the order of same-second observations —
    // without it the lead() pairing (and thus which value holds the
    // zero-duration slot) is partition-order nondeterministic
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__v"))
    rows.withColumn("__nt", lead(col("__t"), 1).over(w))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        (max(col("__t")) - min(col("__t"))).as("span_sec"),
        sum(when(col("__nt").isNotNull,
          round(col("__v") * (col("__nt") - col("__t")), 9)
            .cast("decimal(38,9)"))).as("__num"))
      .select(col("__k").as(keyCol), col("n"), col("span_sec"),
        round(when(col("span_sec") > 0L,
          col("__num").cast("double") / col("span_sec")), 6).as("twa"))
  }

  /** Coalesce overlapping/touching closed intervals per key — the
    * interval-algebra union behind activity sessions from fixed
    * windows, blackout-period merging, and time-range dedup; the
    * continuous-domain sibling of [[islands]] (which needs integer
    * adjacency). Intervals [s, e] merge when they overlap OR touch
    * (next.s ≤ running max e — a shared endpoint is one period).
    *
    * The classic sweep: per key, sorted by (start, end), an interval
    * opens a new group iff its start exceeds the running max end of
    * everything before it; group id = running count of openings. Both
    * windows are KEY-partitioned (each key's intervals sort inside its
    * own partition — no global exchange); duplicates order arbitrarily
    * under the (s, e) sort but the running max and opening flags are
    * invariant to that order, so output is deterministic. Degenerate
    * rows (null or start > end) drop. Output: (keyCol, start, end,
    * n_merged) — one row per maximal merged interval. */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    val rows = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .select(col(keyCol).as("__k"), col(startCol).as("__s"),
        col(endCol).as("__e"))
    val wPrev = Window.partitionBy(col("__k"))
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("__k"))
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rows
      .withColumn("__pmax", max(col("__e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__g", sum(col("__new")).over(wRun))
      .groupBy(col("__k"), col("__g"))
      .agg(min(col("__s")).as("start"), max(col("__e")).as("end"),
        count(lit(1)).as("n_merged"))
      .select(col("__k").as(keyCol), col("start"), col("end"),
        col("n_merged"))
  }

  /** Autocorrelation function per key up to `maxLag` — the standard
    * biased estimator r_l = Σ_{t>l}(x_t−μ)(x_{t−l}−μ) / Σ(x_t−μ)²:
    * the periodicity detector that picks [[holtWintersForecast]]'s
    * `period` and validates [[seasonalDecompose]]'s choice (a true
    * weekly cycle spikes r_7), and the independence check behind every
    * i.i.d.-assuming test in [[Eval]].
    *
    * Shape: per-key positions from a keyed row_number (each key's
    * series sorts inside its own partition), then ONE self-join on
    * (key, pos − lag) after a lag-explode — n·maxLag joined rows, all
    * key-co-partitioned; μ and the denominator come from one keyed
    * moment agg. Products round to the 9-grid into DECIMAL(38,9) sums
    * (bit-stable across partitionings/engines); one division per
    * (key, lag). Keys shorter than lag+1 emit no row at that lag;
    * constant series (zero denominator) emit null r. Output:
    * (keyCol, lag, n_terms, r rounded 6) for lag 1..maxLag. */
  def autocorrelation(df: DataFrame, keyCol: String, tsCol: String,
                      valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__p", row_number().over(w))
    val dec38 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val stats = rows.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(dec38(col("__v"))).as("__s"))
      .select(col("__k"),
        round(col("__s").cast("double") / col("__n"), 9).as("__mu"))
    val centered = rows.join(broadcast(stats), "__k")
    val denom = centered.groupBy(col("__k"))
      .agg(sum(dec38((col("__v") - col("__mu")) *
        (col("__v") - col("__mu")))).as("__d"))
    val cur = centered.select(col("__k"), col("__p"),
        (col("__v") - col("__mu")).as("__e"))
      .withColumn("__lag", explode(sequence(lit(1), lit(maxLag))))
    val prev = centered.select(col("__k").as("__k2"),
      col("__p").as("__pp"), (col("__v") - col("__mu")).as("__ep"))
    cur.join(prev, col("__k") === col("__k2") &&
        col("__p") - col("__lag") === col("__pp"))
      .groupBy(col("__k"), col("__lag"))
      .agg(count(lit(1)).as("n_terms"),
        sum(dec38(col("__e") * col("__ep"))).as("__num"))
      .join(denom, "__k")
      .select(col("__k").as(keyCol), col("__lag").cast("int").as("lag"),
        col("n_terms"),
        round(when(col("__d") =!= 0,
          col("__num").cast("double") / col("__d").cast("double")), 6)
          .as("r"))
  }

  /** Cross-correlation function (CCF) per key — does series x LEAD
    * series y? r(l) correlates x_t with y_(t+l) for l = 0..maxLag (the
    * lead-lag detector behind "do views this week drive purchases
    * next week"): r(l) = Σ (x_t − x̄)(y_(t+l) − ȳ) / √(Σ(x−x̄)² ·
    * Σ(y−ȳ)²) — the biased estimator over the key's full-series
    * means, the [[autocorrelation]] convention (CCF(x = y, l ≥ 1)
    * reduces to it, spec-pinned). To probe the opposite direction
    * (y leading x) swap the columns.
    *
    * Same shape as ACF: keyed positions, ONE lag-exploded self-join on
    * (key, pos + lag), all key-co-partitioned; 9-grid DECIMAL(38,9)
    * product sums, one division per (key, lag); either side constant →
    * null r. Rows with null ts/x/y drop. Output: (keyCol, lag,
    * n_terms, r rounded 6), lag 0 included (aligned Pearson). */
  def crossCorrelation(df: DataFrame, keyCol: String, tsCol: String,
                       xCol: String, yCol: String,
                       maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val rows = df.filter(col(tsCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__p", row_number().over(w))
    val dec38 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val stats = rows.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(dec38(col("__x"))).as("__sx"),
        sum(dec38(col("__y"))).as("__sy"))
      .select(col("__k"),
        round(col("__sx").cast("double") / col("__n"), 9).as("__mx"),
        round(col("__sy").cast("double") / col("__n"), 9).as("__my"))
    val centered = rows.join(broadcast(stats), "__k")
    val denom = centered.groupBy(col("__k"))
      .agg(sum(dec38((col("__x") - col("__mx")) *
          (col("__x") - col("__mx")))).as("__dx"),
        sum(dec38((col("__y") - col("__my")) *
          (col("__y") - col("__my")))).as("__dy"))
    val cur = centered.select(col("__k"), col("__p"),
        (col("__x") - col("__mx")).as("__ex"))
      .withColumn("__lag", explode(sequence(lit(0), lit(maxLag))))
    val fut = centered.select(col("__k").as("__k2"),
      col("__p").as("__pf"), (col("__y") - col("__my")).as("__ey"))
    cur.join(fut, col("__k") === col("__k2") &&
        col("__p") + col("__lag") === col("__pf"))
      .groupBy(col("__k"), col("__lag"))
      .agg(count(lit(1)).as("n_terms"),
        sum(dec38(col("__ex") * col("__ey"))).as("__num"))
      .join(denom, "__k")
      .select(col("__k").as(keyCol), col("__lag").cast("int").as("lag"),
        col("n_terms"),
        round(when(col("__dx") =!= 0 && col("__dy") =!= 0,
          col("__num").cast("double") /
            sqrt(col("__dx").cast("double") * col("__dy").cast("double"))), 6)
          .as("r"))
  }

  /** Theil–Sen robust trend per key — slope = the median of all
    * pairwise slopes (v_j−v_i)/(t_j−t_i), intercept = the median of
    * v_i − slope·t_i: the trend estimate a 29%-outlier-contaminated
    * series cannot drag, where OLS ([[graft.operators.Features]] q177)
    * chases every spike. The robust complement to [[madOutliers]]'
    * robust dispersion.
    *
    * Both medians are the LOWER median — the exact ⌈m/2⌉-th smallest
    * order statistic (the conformal-interval discipline: an exact
    * order statistic, never an interpolated percentile two engines
    * round differently), read off a slope-LEVEL grid walk
    * ([[Ranks.groupedCumSum]] per key) — ties collapse to one grid row
    * each, and no per-row rank window runs over the O(n_k²) pair set.
    *
    * Scale contract — ENFORCED: pairs are generated by a key-equi
    * self-join, O(n_k²) per key. This is for MANY SHORT series
    * (per-entity daily metrics); a single 10⁶-point key owes 10¹²
    * pairs. Keys over `maxPointsPerKey` are deterministically THINNED
    * to the cap before pairing — md5-ordered row pick (the q104
    * salt-deterministic sampling discipline), so the estimator runs on
    * a reproducible subsample and the output is self-describing:
    * `n` stays the TRUE point count while `n_pairs` reflects the
    * pairs actually walked (n_pairs < n(n−1)/2 ⟹ sampled). Equal-
    * timestamp pairs are skipped (vertical slope); keys with < 2
    * distinct timestamps emit null slope/intercept. Slopes round to
    * the 9-grid (the grid IS the comparison key, so both engines walk
    * identical levels); output (keyCol, n, n_pairs, slope, intercept)
    * rounded 6. */
  def theilSen(df: DataFrame, keyCol: String, tsCol: String,
               valCol: String, maxPointsPerKey: Int = 10000): DataFrame = {
    require(maxPointsPerKey >= 2,
      s"maxPointsPerKey must be >= 2, got $maxPointsPerKey")
    val all = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("double").as("__t"),
        col(valCol).cast("double").as("__v"))
    val keyStats = all.groupBy(col("__k")).agg(count(lit(1)).as("n"))
    // deterministic per-key thinning: md5 hash order with a total
    // tie-break, same shuffle key as the pair join
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(md5(concat_ws("\u0000", col("__k"), col("__t"),
        col("__v"))), col("__t"), col("__v"))
    // thinned point set, referenced by both pair sides and the
    // follow-up pass: one lazy materialization (the q246 plan-
    // explosion fix) — the pair self-join reads blocks instead of
    // re-running the thinning window per side
    val rows = Materialize(all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPointsPerKey)
      .drop("__rn"))
    val a = rows.select(col("__k"), col("__t").as("__t1"),
      col("__v").as("__v1"))
    val b = rows.select(col("__k"), col("__t").as("__t2"),
      col("__v").as("__v2"))
    val pairs = a.join(b, "__k")
      .filter(col("__t1") < col("__t2"))
      .select(col("__k"),
        round((col("__v2") - col("__v1")) / (col("__t2") - col("__t1")), 9)
          .as("__s"))
    // lower median off the per-key slope-level grid: first level whose
    // cumulative count reaches ceil(m/2)
    def lowerMedian(lvls0: DataFrame, out: String): DataFrame = {
      // slope-level grid, read by the total AND the cumulative walk
      val lvls = Materialize(lvls0)
      val tot = lvls.groupBy(col("__k")).agg(sum(col("__c")).as("__m"))
      Ranks.groupedCumSum(lvls, Seq("__k"), "__s", Seq("__c"))
        .join(tot, "__k")
        .filter(col("cum___c") >= ceil(col("__m") / 2) &&
          col("cum___c") - col("__c") < ceil(col("__m") / 2))
        .select(col("__k"), col("__s").as(out), col("__m"))
    }
    // key-sized; read by icepts + join
    val slope = Materialize(lowerMedian(
      pairs.groupBy(col("__k"), col("__s")).agg(count(lit(1)).as("__c")),
      "__slope"))
    val icepts = rows.join(slope, "__k")
      .select(col("__k"),
        round(col("__v") - col("__slope") * col("__t"), 9).as("__s"))
      .groupBy(col("__k"), col("__s")).agg(count(lit(1)).as("__c"))
    val intercept = lowerMedian(icepts, "__icept")
      .select(col("__k"), col("__icept"))
    keyStats.join(slope.select(col("__k"), col("__slope"),
        col("__m").as("n_pairs")), Seq("__k"), "left")
      .join(intercept, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        round(col("__slope"), 6).as("slope"),
        round(col("__icept"), 6).as("intercept"))
  }

  /** Mann-Kendall monotonic-trend test per key — IS there a trend,
    * the significance half of the [[theilSen]] duo (MK answers
    * whether, Theil-Sen how steep — the standard pairing for
    * environmental/ops series): S = Σ_{i<j} sign(v_j − v_i) over
    * time-ordered pairs, z from the tie-corrected null variance
    * Var = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 with the ±1 continuity
    * correction. Distribution-free and level-shift-robust where a
    * rolling OLS t-test chases spikes.
    *
    * Scale contract — theilSen's verbatim: pairs come from a key-equi
    * self-join, O(n_k²) per key, for MANY SHORT series under the
    * aggregate-first contract; keys past `maxPointsPerKey` thin
    * deterministically (md5-ordered pick, same discipline), `n` stays
    * the true count while `n_used` names the points actually tested
    * (S, ties, and the variance all derive from the SAME thinned
    * set — a test on a reproducible subsample, never a mixed one).
    * Duplicate (key, time) observations FAIL FAST — MK is defined on
    * a series, and the time-tie variance correction silently changes
    * the test; aggregate first.
    *
    * Output: (keyCol, n, n_used, s, z rounded 6); all values tied (or
    * n_used < 2) → null z; S = 0 → z = 0 exactly. */
  def mannKendall(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, maxPointsPerKey: Int = 10000): DataFrame = {
    require(maxPointsPerKey >= 2,
      s"maxPointsPerKey must be >= 2, got $maxPointsPerKey")
    val all = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("double").as("__t"),
        col(valCol).cast("double").as("__v"))
    val dup = all.groupBy(col("__k"), col("__t"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"mannKendall needs one observation per (key, time); key " +
        s"${dup.headOption.map(_.get(0)).orNull} / t " +
        s"${dup.headOption.map(_.get(1)).orNull} has " +
        s"${dup.headOption.map(_.getLong(2)).getOrElse(0L)} rows — " +
        "aggregate first")
    val keyStats = all.groupBy(col("__k")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(md5(concat_ws("\u0000", col("__k"), col("__t"),
        col("__v"))), col("__t"), col("__v"))
    // thinned point set, referenced by both pair sides and the
    // follow-up pass: one lazy materialization (the q246 plan-
    // explosion fix) — the pair self-join reads blocks instead of
    // re-running the thinning window per side
    val rows = Materialize(all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPointsPerKey)
      .drop("__rn"))
    val a = rows.select(col("__k"), col("__t").as("__t1"),
      col("__v").as("__v1"))
    val b = rows.select(col("__k"), col("__t").as("__t2"),
      col("__v").as("__v2"))
    val s = a.join(b, "__k")
      .filter(col("__t1") < col("__t2"))
      .groupBy(col("__k"))
      .agg(sum(when(col("__v2") > col("__v1"), 1L)
        .when(col("__v2") < col("__v1"), -1L).otherwise(0L)).as("s"))
    val used = rows.groupBy(col("__k")).agg(count(lit(1)).as("n_used"))
    val tc = col("__c").cast("decimal(38,0)")
    val ties = rows.groupBy(col("__k"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__k"))
      .agg(sum(tc * (tc - 1) * (lit(2L) * tc + lit(5L))).as("__ts"))
    val nu = col("n_used").cast("double")
    val varS = (nu * (nu - 1.0) * (lit(2.0) * nu + 5.0) -
      col("__ts").cast("double")) / 18.0
    val sD = col("s").cast("double")
    keyStats
      .join(used, Seq("__k"), "left")
      .join(s, Seq("__k"), "left")
      .join(ties, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n"), col("n_used"),
        coalesce(col("s"), lit(0L)).as("s"),
        round(when(round(varS, 9) > 0.0,
          when(col("s") > 0L, (sD - 1.0) / sqrt(varS))
            .when(col("s") < 0L, (sD + 1.0) / sqrt(varS))
            .otherwise(lit(0.0))), 6).as("z"))
  }

  /** Durbin-Watson statistic per key — ARE the residuals of the
    * per-key trend fit serially correlated (Durbin & Watson 1950; the
    * diagnostic that says whether [[graft.operators.Features.olsFit]]'s
    * standard errors can be believed: positively autocorrelated
    * residuals make a trend look far more certain than it is).
    * DW = Σ(eₜ − eₜ₋₁)² / Σeₜ² over the time-ordered residuals of the
    * key's own OLS line — 2 ≈ independent, → 0 positive, → 4 negative
    * serial correlation.
    *
    * Residuals come from the PUBLISHED [[Features.olsFit]]
    * coefficients (4-grid slope/intercept on the 4-grid inputs — the
    * rounded numbers a user would read are the ones diagnosed, and
    * both engines rebuild identical residuals from them), rounded to
    * the 9-grid; numerator and denominator fold 9-grid squared terms
    * in DECIMAL(38,9). Shape: one olsFit agg + a k-row broadcast of
    * coefficients back + ONE keyed lag window ordered by time (the
    * [[rollingRegression]] shape) + one keyed agg.
    *
    * Contract: duplicate (key, time) FAILS FAST (a row lag over ties
    * is engine-nondeterministic — aggregate first); null rows drop;
    * perfect fits (Σe² = 0), degenerate fits (null slope), or n < 2
    * → null DW. Output: (keyCol, n, dw rounded 6). */
  def durbinWatson(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String): DataFrame = {
    val all = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valCol).as("__v"))
    val dup = all.groupBy(col("__k"), col("__t"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"durbinWatson needs one observation per (key, time); key " +
        s"${dup.headOption.map(_.get(0)).orNull} / t " +
        s"${dup.headOption.map(_.get(1)).orNull} has " +
        s"${dup.headOption.map(_.getLong(2)).getOrElse(0L)} rows — " +
        "aggregate first")
    val fit = graft.operators.Features.olsFit(all, "__k", "__t", "__v")
      .select(col("__k"), col("n"), col("slope"), col("intercept"))
    val x = round(col("__t").cast("decimal(18,4)"), 4).cast("double")
    val y = round(col("__v").cast("decimal(18,4)"), 4).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__t"))
    val res = all.join(broadcast(fit), Seq("__k"))
      .withColumn("__e",
        round(y - (col("intercept") + col("slope") * x), 9))
      .withColumn("__ep", lag(col("__e"), 1).over(w))
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    res.groupBy(col("__k"))
      .agg(first(col("n")).as("n"),
        sum(when(col("__ep").isNotNull,
          dec9((col("__e") - col("__ep")) * (col("__e") - col("__ep"))))
          .otherwise(lit(0.0).cast("decimal(38,9)"))).as("__num"),
        sum(dec9(col("__e") * col("__e"))).as("__den"))
      .select(col("__k").as(keyCol), col("n"),
        round(when(col("n") >= 2L &&
          round(col("__den").cast("double"), 9) > 0.0,
          col("__num").cast("double") / col("__den").cast("double")), 6)
          .as("dw"))
  }

  /** Partial autocorrelation (Durbin–Levinson closed forms, lags
    * 1..3) per key — the AR-order detector beside [[autocorrelation]]:
    * PACF at lag k is the correlation of v_t with v_{t−k} AFTER
    * regressing out the intervening lags, so an AR(p) series cuts off
    * sharply past lag p where the plain ACF only decays.
    *
    * Shape: one [[autocorrelation]] pass (the q252 grid), one pivot of
    * r₁..r₃ to a row per key, then the closed-form recursion in plain
    * column arithmetic — φ₁₁ = r₁; φ₂₂ = (r₂ − r₁²)/(1 − r₁²);
    * φ₂₁ = r₁(1 − φ₂₂); φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ −
    * φ₂₂r₂). Inputs are the rounded-6 ACF values and every
    * intermediate rounds to the 9-grid, so both engines walk an
    * identical double chain. Degenerate denominators (|r₁| = 1, or a
    * constant series with null ACF) yield null at that lag and past
    * it. Output per key: (keyCol, pacf1, pacf2, pacf3) rounded 6. */
  /** Rolling (trailing-window) OLS slope per key — the local-trend
    * detector a single global [[graft.operators.Features.olsFit]]
    * smooths away: at each point, the regression of the last `window`
    * points of v on t. One keyed window pass computing the five
    * sufficient stats over `ROWS window−1 PRECEDING..CURRENT` — t and
    * v round to a 4-decimal DECIMAL grid first (the olsFit
    * discipline), so the frame sums are exact and associative and the
    * closed-form solve runs in double from identical sums on any
    * engine. Contract: `tsCol` must be UNIQUE per key (a row frame
    * over ties is engine-nondeterministic — the rolling window is
    * defined by a total order). Warm-up rows (fewer than `window`
    * points yet) emit their partial-window slope with `n` saying so;
    * zero t-variance frames emit null. Output per input row:
    * (keyCol, tsCol, n, slope rounded 6). */
  def rollingRegression(df: DataFrame, keyCol: String, tsCol: String,
                        valCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val t = round(col(tsCol).cast("decimal(18,4)"), 4)
    val v = round(col(valCol).cast("decimal(18,4)"), 4)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        t.as("__t"), v.as("__v"))
    rows
      .withColumn("__n", count(lit(1)).over(w).cast("double"))
      .withColumn("__sx", sum(col("__t")).over(w).cast("double"))
      .withColumn("__sy", sum(col("__v")).over(w).cast("double"))
      .withColumn("__sxx",
        sum((col("__t") * col("__t")).cast("decimal(38,8)")).over(w)
          .cast("double"))
      .withColumn("__sxy",
        sum((col("__t") * col("__v")).cast("decimal(38,8)")).over(w)
          .cast("double"))
      .select(col("__k").as(keyCol), col("__ts").as(tsCol),
        col("__n").cast("long").as("n"),
        round(when(col("__n") * col("__sxx") -
            col("__sx") * col("__sx") =!= 0.0,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx"))), 6)
          .as("slope"))
  }

  /** Classical additive seasonal decomposition per key (period p,
    * ODD — e.g. 7 for weekly-in-daily): trend = centered p-point
    * moving average (null at the ±p/2 edges), seasonal = the
    * per-position mean of (v − trend) re-centered to sum to zero over
    * the period, residual = v − trend − seasonal. The readable
    * three-way split behind [[seasonalNaive]]-style models — which
    * part of the series is structure and which is noise.
    *
    * Positions come from `posCol` (e.g. day-of-week), supplied by the
    * caller so the period phase is a DOMAIN notion, not a row count.
    * 9-grid DECIMAL means throughout (both the MA and the seasonal
    * means), so both engines fold identical grids. `tsCol` unique per
    * key (the rolling-frame contract). Output per row: (keyCol,
    * tsCol, value, trend, seasonal, residual) rounded 6, trend/
    * residual null at the edges. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        valCol: String, posCol: String,
                        period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd and >= 3, got $period (use the centered-MA" +
        " convention; even periods need the 2xMA variant)")
    val half = period / 2
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val w = Window.partitionBy(col("__k")).orderBy(col("__ts"))
      .rowsBetween(-half, half)
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(posCol).as("__pos"), col(valCol).cast("double").as("__v"))
    val trended = rows
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("__trend",
        when(col("__wn") === period,
          round(sum(dec9(col("__v"))).over(w).cast("double") / period, 9)))
      .withColumn("__det", col("__v") - col("__trend"))
    val seas = trended.filter(col("__det").isNotNull)
      .groupBy(col("__k"), col("__pos"))
      .agg(round(sum(dec9(col("__det"))).cast("double") /
        count(lit(1)), 9).as("__s0"))
    val seasCentered = seas
      .withColumn("__smean",
        round(sum(dec9(col("__s0")))
          .over(Window.partitionBy(col("__k"))).cast("double") /
          count(lit(1)).over(Window.partitionBy(col("__k"))), 9))
      .select(col("__k"), col("__pos"),
        round(col("__s0") - col("__smean"), 9).as("__seas"))
    trended.join(seasCentered, Seq("__k", "__pos"), "left")
      .select(col("__k").as(keyCol), col("__ts").as(tsCol),
        round(col("__v"), 6).as("value"),
        round(col("__trend"), 6).as("trend"),
        round(col("__seas"), 6).as("seasonal"),
        round(col("__v") - col("__trend") - col("__seas"), 6)
          .as("residual"))
  }

  /** AR(p) forecast by Yule-Walker closed forms, p ∈ {1, 2} — the
    * autoregressive complement to [[holtForecast]]'s smoothing: where
    * Holt extrapolates level+trend, AR extrapolates the series' own
    * measured lag structure (φ from the [[autocorrelation]] grid via
    * the same Durbin-Levinson forms [[pacf]] prints: φ₂ =
    * (r₂ − r₁²)/(1 − r₁²), φ₁ = r₁(1 − φ₂); AR(1) is φ₁ = r₁).
    * Orders past 2 need a general Toeplitz solver and belong to a
    * dedicated fitter — rejected explicitly, not approximated.
    *
    * Forecast recursion on the mean-centered tail: ŷ_{n+k} − μ =
    * φ₁(ŷ_{n+k−1} − μ) + φ₂(ŷ_{n+k−2} − μ) seeded by the last two
    * observations, every coefficient and step rounded to the 9-grid
    * (the [[holtForecast]] bit-reproducibility discipline), horizon
    * unrolled as plain column arithmetic — per key the work past the
    * ACF is O(horizon) expressions on one row. Timestamps must be
    * unique per key (the [[rollingRegression]] contract). Degenerate
    * keys (constant series, fewer than p+1 points) forecast null, the
    * honest answer. Output: (keyCol, step 1..horizon, forecast
    * rounded 6). */
  def arForecast(df: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, horizon: Int, p: Int = 2): DataFrame = {
    require(horizon >= 1 && horizon <= 64,
      s"horizon must be in [1, 64], got $horizon")
    require(p == 1 || p == 2,
      s"arForecast fits AR(1)/AR(2) Yule-Walker closed forms; got p=$p" +
        " (higher orders need a general Toeplitz solver)")
    val acf = autocorrelation(df, keyCol, tsCol, valCol, maxLag = 2)
    val piv = acf.groupBy(col(keyCol))
      .agg(max(when(col("lag") === 1, col("r"))).as("__r1"),
        max(when(col("lag") === 2, col("r"))).as("__r2"))
    val dec38 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val rows = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol).as("__t"),
        col(valCol).cast("double").as("__v"))
    val mu = rows.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"), sum(dec38(col("__v"))).as("__s"))
      .select(col(keyCol),
        round(col("__s").cast("double") / col("__n"), 9).as("__mu"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__t").desc)
    val lastTwo = rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col(keyCol))
      .agg(max(when(col("__rn") === 1, col("__v"))).as("__xn"),
        max(when(col("__rn") === 2, col("__v"))).as("__xn1"))
    val base = piv.join(mu, Seq(keyCol)).join(lastTwo, Seq(keyCol))
    val r1 = col("__r1"); val r2 = col("__r2")
    val d2 = lit(1.0) - r1 * r1
    val phi2 = if (p == 2)
      round(when(d2 =!= 0.0, (r2 - r1 * r1) / d2), 9) else lit(0.0)
    val phi1 = if (p == 2)
      round(r1 * (lit(1.0) - phi2), 9) else round(r1, 9)
    var prev1 = round(col("__xn") - col("__mu"), 9)
    var prev2 = round(col("__xn1") - col("__mu"), 9)
    val steps = (1 to horizon).map { k =>
      val f = round(phi1 * prev1 + phi2 * prev2, 9)
      prev2 = prev1
      prev1 = f
      struct(lit(k).as("step"), round(col("__mu") + f, 6).as("forecast"))
    }
    base.select(col(keyCol), explode(array(steps: _*)).as("__f"))
      .select(col(keyCol), col("__f.step").as("step"),
        col("__f.forecast").as("forecast"))
  }

  def pacf(df: DataFrame, keyCol: String, tsCol: String,
           valCol: String): DataFrame = {
    val acf = autocorrelation(df, keyCol, tsCol, valCol, maxLag = 3)
    val piv = acf.groupBy(col(keyCol))
      .agg(max(when(col("lag") === 1, col("r"))).as("__r1"),
        max(when(col("lag") === 2, col("r"))).as("__r2"),
        max(when(col("lag") === 3, col("r"))).as("__r3"))
    val r1 = col("__r1"); val r2 = col("__r2"); val r3 = col("__r3")
    val d2 = lit(1.0) - r1 * r1
    val p22 = round(when(d2 =!= 0.0, (r2 - r1 * r1) / d2), 9)
    val p21 = round(r1 * (lit(1.0) - p22), 9)
    val d3 = lit(1.0) - p21 * r1 - p22 * r2
    val p33 = round(when(d3 =!= 0.0,
      (r3 - p21 * r2 - p22 * r1) / d3), 9)
    piv.select(col(keyCol),
      round(r1, 6).as("pacf1"),
      round(p22, 6).as("pacf2"),
      round(p33, 6).as("pacf3"))
  }
}
