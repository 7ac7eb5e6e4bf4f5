package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-to-event analysis — the retention/churn reading of event logs.
  *
  * [[Funnel.cohortRetention]] answers "what fraction was active in
  * period k"; the Kaplan-Meier estimator answers the finer question
  * "what fraction SURVIVES past time t" while staying honest about
  * censoring: a user last seen at day 30 without converting tells us
  * survival ≥ 30, not survival = 30 — dropping or event-ifying those
  * rows biases the curve, which is why the naive
  * `count(converted)/count(*)` readout is wrong whenever observation
  * windows differ (they always do in a live log).
  *
  * Reference has no survival surface (its only aggregation is the
  * group-sum of load.py:104-107); this extends the eval family
  * (BASELINE.json north star) the same way [[Eval.rocAuc]] extends
  * counting.
  */
object Survival {

  /** Kaplan-Meier survival curve per group: at each distinct duration
    * level (ascending) with d events, c censored and n at risk, the
    * curve steps S ← S · (1 − d/n); censoring-only levels leave S
    * unchanged but still shrink the risk set — the estimator's whole
    * point.
    *
    * Shape: the [[Eval.ksTest]] distinct-value-grid discipline — one
    * (group, duration)-level aggregation, then two bucketed cumulative
    * walks ([[Ranks.groupedCumSum]]): cumulative level sizes give the
    * at-risk count (n_g − cum + t), cumulative 9-grid-rounded
    * ln(1 − d/n) terms in DECIMAL(38,9) give the product as
    * exp(Σ ln) — sums compose exactly across buckets where a
    * sequential product fold would not. Group totals ride one
    * broadcast join. Nothing row-sized hits an ordered window: the
    * walks run over the duration grid (days/weeks — bounded), not
    * rows.
    *
    * d = n (every remaining subject events together) can only happen
    * at a group's final level; its ln(0) term is gated out and the
    * level's survival pinned to exactly 0.
    *
    * Contract: null durations/events drop; `eventCol` casts to int,
    * nonzero = event, zero = censored. Durations compare as doubles.
    * Output: (groupCol, duration, n_risk, n_event, n_censored,
    * survival rounded 6), every distinct duration level present. */
  def kaplanMeier(df: DataFrame, groupCol: String, durationCol: String,
                  eventCol: String): DataFrame = {
    val rows = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(durationCol).cast("double").as("__dur"),
        (col(eventCol).cast("int") =!= 0).as("__ev"))
    val level = rows.groupBy(col("__g"), col("__dur"))
      .agg(sum(when(col("__ev"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__ev"), 0L).otherwise(1L)).as("__c"))
      .withColumn("__t", col("__d") + col("__c"))
    val totals = level.groupBy(col("__g")).agg(sum(col("__t")).as("__n"))
    // walk 1: level sizes → at-risk counts
    // truncate between the chained walks: walk 2's internal
    // offsets/join double-reference would otherwise re-embed (and
    // re-execute) walk 1's whole tree, scan included (measured
    // 1.7 → 1.1 s warm at sf0.1; level-grid-sized blocks, Bench
    // sweeps them per query). Lazy — walk 2's first job
    // materializes it.
    val atRisk = Materialize(Ranks
      .groupedCumSum(level, Seq("__g"), "__dur", Seq("__t"), truncate = true)
      .join(broadcast(totals), Seq("__g"))
      .withColumn("__nr", col("__n") - col("cum___t") + col("__t"))
      // ln(1 − d/n) on the 9-grid; the d = n final level contributes 0
      // here and pins survival to 0 below (ln(0) never evaluates into
      // the sum)
      .withColumn("__lnq",
        when(col("__d") > 0 && col("__d") < col("__nr"),
          round(log(lit(1.0) -
            col("__d").cast("double") / col("__nr")), 9))
          .otherwise(lit(0.0)).cast("decimal(38,9)")))
    // walk 2: cumulative ln terms → survival
    Ranks.groupedCumSum(atRisk, Seq("__g"), "__dur", Seq("__lnq"),
        truncate = true)
      .select(col("__g").as(groupCol), col("__dur").as("duration"),
        col("__nr").as("n_risk"), col("__d").as("n_event"),
        col("__c").as("n_censored"),
        round(when(col("__d") === col("__nr"), lit(0.0))
          .otherwise(exp(col("cum___lnq").cast("double"))), 6)
          .as("survival"))
  }

  /** Two-group log-rank test — ARE these two survival curves
    * different, the question [[kaplanMeier]]'s per-group output
    * begs (Mantel 1966; eyeballing curve gaps ignores that late
    * levels rest on tiny risk sets). At each duration level with
    * d events and risk sets (n, n_a), group a's observed events
    * compare against the hypergeometric expectation E = d·n_a/n
    * with variance V = d·(n_a/n)·(1 − n_a/n)·(n − d)/(n − 1);
    * z = (O_a − ΣE)/√ΣV, χ² = z². Censoring-only levels contribute
    * nothing to O/E/V but shrink the risk sets — the same honesty
    * [[kaplanMeier]] buys, which a naive events-rate χ² throws away.
    *
    * Shape: the kaplanMeier grid verbatim minus the group partition —
    * one GLOBAL duration-level aggregation carrying the group-a slice
    * alongside the totals, one [[Ranks.groupedCumSum]] walk over the
    * duration grid for both risk sets at once, 9-grid E/V terms
    * folded in DECIMAL(38,9) (sums compose exactly across buckets),
    * one final double division. Group identities ride a 1-row
    * broadcast (a = min, b = max); nothing row-sized hits an ordered
    * window.
    *
    * Contract: exactly two non-null groups or fail fast (k-sample
    * log-rank needs the full covariance matrix — explicit rejection
    * beats a silently-approximate diagonal form); null durations/
    * events drop; `eventCol` casts to int, nonzero = event. All
    * events tied at risk-set-1 levels or no events at all → V = 0 →
    * null z/χ². Output: one row (group_a, group_b, n_a, n_b,
    * observed_a, expected_a, observed_b, expected_b, chi2, z)
    * rounded 6. */
  def logRank(df: DataFrame, groupCol: String, durationCol: String,
              eventCol: String): DataFrame = {
    val rows = df
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(durationCol).cast("double").as("__dur"),
        (col(eventCol).cast("int") =!= 0).as("__ev"))
    val gdf = rows.agg(min(col("__g")).as("__ga"), max(col("__g")).as("__gb"),
      countDistinct(col("__g")).as("__k"))
    val k = gdf.select(col("__k")).collect()(0).getLong(0)
    require(k == 2L, s"logRank needs exactly 2 groups, got $k")
    val ids = gdf.select(col("__ga"), col("__gb"))
    val lvl = rows.crossJoin(broadcast(ids))
      .withColumn("__isa", col("__g") <=> col("__ga"))
      .groupBy(col("__dur")).agg(
        sum(when(col("__ev"), 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__t"),
        sum(when(col("__isa") && col("__ev"), 1L).otherwise(0L)).as("__da"),
        sum(when(col("__isa"), 1L).otherwise(0L)).as("__ta"))
    val totals = lvl.agg(sum(col("__t")).as("__n"), sum(col("__ta")).as("__na"))
    val dD = col("__d").cast("double")
    val nrD = col("__nr").cast("double")
    val nraD = col("__nra").cast("double")
    val fold = Ranks.groupedCumSum(lvl, Seq.empty, "__dur", Seq("__t", "__ta"))
      .crossJoin(broadcast(totals))
      .withColumn("__nr", col("__n") - col("cum___t") + col("__t"))
      .withColumn("__nra", col("__na") - col("cum___ta") + col("__ta"))
      .withColumn("__e", when(col("__d") > 0L,
        round(dD * nraD / nrD, 9)).otherwise(lit(0.0))
        .cast("decimal(38,9)"))
      .withColumn("__v", when(col("__d") > 0L && col("__nr") > 1L,
        round(dD * (nraD / nrD) * (lit(1.0) - nraD / nrD) *
          (nrD - dD) / (nrD - lit(1.0)), 9)).otherwise(lit(0.0))
        .cast("decimal(38,9)"))
      .agg(sum(col("__da")).as("__oa"), sum(col("__d")).as("__dd"),
        sum(col("__e")).as("__ea"), sum(col("__v")).as("__vv"),
        max(col("__n")).as("__n"), max(col("__na")).as("__na"))
    val eaD = col("__ea").cast("double")
    val vD = col("__vv").cast("double")
    val z = (col("__oa").cast("double") - eaD) / sqrt(vD)
    fold.crossJoin(broadcast(ids))
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("__na").as("n_a"), (col("__n") - col("__na")).as("n_b"),
        col("__oa").as("observed_a"), round(eaD, 6).as("expected_a"),
        (col("__dd") - col("__oa")).as("observed_b"),
        round(col("__dd").cast("double") - eaD, 6).as("expected_b"),
        round(when(round(vD, 9) > 0.0, z * z), 6).as("chi2"),
        round(when(round(vD, 9) > 0.0, z), 6).as("z"))
  }
}
