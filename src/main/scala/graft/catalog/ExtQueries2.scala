package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Second breadth batch: time-interval joins, union-distinct, math/string/
  * date function coverage, approximate order statistics. */
object ExtQueries2 {

  import Catalog._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- interval (time-range) join: purchase within 2h after a signup ---
    "q63_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      // rename-keyed self-join (not purchases("user_id") ===
      // signups("user_id")): both frames derive from one scan, and
      // same-lineage column refs lean on dataset-id disambiguation
      purchases.join(signups.withColumnRenamed("user_id", "__su"),
        col("user_id") === col("__su") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") < col("signup_ts") + expr("INTERVAL 2 HOURS"))
        .select(col("event_id"), col("user_id"), col("signup_ts"))
        .orderBy(col("event_id"), col("signup_ts"))
    }),

    // --- union distinct ---------------------------------------------------
    "q64_union_distinct" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_totalprice") > 100000.0).select(col("o_custkey"))
        .union(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
        .distinct()
        .orderBy(col("o_custkey"))
    }),

    // --- math function breadth --------------------------------------------
    "q65_math_funcs" -> ((s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        round(abs(col("c_acctbal")), 2).as("abs_bal"),
        ceil(col("c_acctbal")).cast("long").as("ceil_bal"),
        floor(col("c_acctbal")).cast("long").as("floor_bal"),
        signum(col("c_acctbal")).cast("long").as("sign_bal"),
        pmod(col("c_custkey"), lit(7L)).as("mod7"),
        round(pow(col("c_custkey").cast("double"), 2.0), 2).as("key_sq"),
        round(log(col("c_custkey").cast("double") + 1.0), 6).as("ln_key"),
        round(sqrt(col("c_custkey").cast("double")), 6).as("sqrt_key"))
        .orderBy(col("c_custkey"))
    }),

    // --- string function breadth ------------------------------------------
    "q66_string_more" -> ((s, d) => {
      t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("key"),
        concat(upper(substring(col("n_name"), 1, 1)),
          lower(substring(col("n_name"), 2, 100))).as("name_cap"),
        lpad(col("n_name"), 12, "_").as("padded"),
        rpad(col("n_name"), 12, ".").as("rpadded"),
        translate(col("n_name"), "AEIOU", "aeiou").as("translated"),
        reverse(col("n_name")).as("reversed"),
        split(col("n_name"), "A").getItem(0).as("first_part"),
        instr(col("n_name"), "A").cast("long").as("a_pos"),
        repeat(substring(col("n_name"), 1, 2), 2).as("repeated"))
        .orderBy(col("key"))
    }),

    // --- date function breadth --------------------------------------------
    "q67_date_more" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        last_day(to_date(col("o_orderdate"))).as("month_end"),
        date_add(to_date(col("o_orderdate")), 30).as("plus30"),
        date_sub(to_date(col("o_orderdate")), 7).as("minus7"),
        weekofyear(col("o_orderdate")).cast("long").as("week"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey"))
    }),

    // --- approximate percentile (rows-only: estimator-specific) ----------
    "q68_approx_percentile" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.95), 1000)")
          .as("approx_p"))
        .select(col("o_orderstatus"), element_at(col("approx_p"), 1).as("p50"),
          element_at(col("approx_p"), 2).as("p95"))
        .orderBy(col("o_orderstatus"))
    }),

    // --- corpus-statistics quality: mean -ln(corpus token frequency) -----
    "q73_corpus_surprisal" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      val freq = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // total token count derived lazily (no driver-side action); the
      // per-token surprisal is rounded to a fixed scale and accumulated
      // in decimal so the mean is partition-order independent
      val withTotal = freq.crossJoin(broadcast(freq.agg(sum(col("cnt")).as("total"))))
      toks.join(broadcast(withTotal), "word")
        .withColumn("surprisal",
          round(-log(col("cnt").cast("double") / col("total").cast("double")), 9)
            .cast("decimal(28,9)"))
        .groupBy(col("doc_id"))
        .agg(round((sum(col("surprisal")).cast("double") / count(lit(1))), 4)
          .as("mean_surprisal"), count(lit(1)).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // --- windowed event dedup: first event per (user, type, 10-min bucket)
    "q74_windowed_dedup" -> ((s, d) => {
      import graft.operators.Dedup
      val bucketed = ev(s, d).withColumn("bucket",
        timestamp_seconds(floor(unix_timestamp(col("ts")) / 600) * 600))
      Dedup.keepFirstAgg(
        bucketed.select("event_id", "user_id", "event_type", "bucket"),
        Seq("user_id", "event_type", "bucket"), "event_id")
        .select(col("user_id"), col("event_type"), col("bucket"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"), col("bucket"))
    }),

    // --- forward as-of: next error event after each purchase, per user ---
    "q75_asof_forward" -> ((s, d) => {
      import graft.operators.AsOfJoin
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("error_ts"))
      AsOfJoin.forward(purchases, errors, Seq("user_id"),
        leftTime = "ts", rightTime = "error_ts", payload = Seq("error_ts"))
        .select(col("event_id"), col("user_id"), col("error_ts").as("next_error_ts"))
        .orderBy(col("event_id"))
    }),

    // --- nth_value / cume_dist / percent_rank ------------------------------
    "q69_window_rank_funcs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, d, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"),
        round(nth_value(col("c_acctbal"), 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("second_lowest"))
        .orderBy(col("c_custkey"))
    }),

    // --- smoothed target encoding (categorical feature prep) -------------
    // Mean o_totalprice per priority, shrunk toward the global mean
    // with a pseudo-count of 10.
    "q165_target_encode" -> ((s, d) =>
      graft.operators.Features.targetEncode(t(s, d, "orders"),
          "o_orderpriority", "o_totalprice", alpha = 10.0)
        .orderBy(col("category"))),

    // --- market-basket co-occurrence with lift -----------------------------
    // Suppliers co-appearing in the same order; lift vs independence.
    "q170_basket_lift" -> ((s, d) =>
      graft.operators.Baskets.cooccurrence(t(s, d, "lineitem"),
          "l_orderkey", "l_suppkey", minCount = 25L)
        .orderBy(col("item_a"), col("item_b"))),

    // --- one-pass table profiling -----------------------------------------
    // Null counts, exact distincts, modal value per column (string
    // form; int columns stringify identically in both engines — floats
    // would not, see Profile scaladoc).
    "q167_profile" -> ((s, d) =>
      graft.operators.Profile.profileTable(t(s, d, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("column"))),

    // --- winsorization at exact quantiles (robust scaling) ----------------
    // Clip prices at [p05, p95], then profile the clipped column per
    // returnflag — the clip bounds surface as min/max.
    "q166_winsorize" -> ((s, d) =>
      graft.operators.Features.winsorize(t(s, d, "orders"),
          "o_totalprice", 0.05, 0.95)
        .withColumn("__w", round(col("o_totalprice_w"), 4))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("__w"), 4).cast("decimal(28,4)"))
            .cast("double"), 2).as("sum_w"),
          round(min(col("__w")), 4).as("min_w"),
          round(max(col("__w")), 4).as("max_w"))
        .orderBy(col("o_orderstatus"))),

    // --- snapshot diff (drift audit between two table versions) ----------
    // Per-order revenue over two overlapping ship windows: orders only
    // in the old window read as removed, only in the new as added,
    // spanning both with different totals as changed.
    "q176_snapshot_diff" -> ((s, d) => {
      def snap(lo: String, hi: String) =
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
          .groupBy(col("l_orderkey"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("rev"),
            count(lit(1)).as("n_items"))
      graft.operators.Diff.snapshotDiff(
          snap("1996-01-01", "1998-01-01"), snap("1997-01-01", "1999-01-01"),
          Seq("l_orderkey"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("change_type") === "changed",
              round(abs(col("rev_new") - col("rev_old")), 4)
                .cast("decimal(28,4)"))
            .otherwise(lit(0).cast("decimal(28,4)")))
            .cast("double"), 4).as("changed_delta"))
        .orderBy(col("change_type"))
    }),

    // --- grouped OLS from sufficient statistics ---------------------------
    // price-on-quantity regression per returnflag: one aggregation
    // pass, closed-form slope/intercept/R².
    "q177_ols_fit" -> ((s, d) =>
      graft.operators.Features.olsFit(t(s, d, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))),

    // --- 2-D Pareto frontier (skyline) ------------------------------------
    // Suppliers not dominated on (account balance, total revenue).
    "q180_skyline" -> ((s, d) => {
      val m = t(s, d, "lineitem").groupBy(col("l_suppkey").as("suppkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double"), 4).as("rev"))
      val pts = t(s, d, "supplier")
        .join(m, col("s_suppkey") === col("suppkey"))
        .select(round(col("s_acctbal"), 4).as("bal"), col("rev"))
      graft.operators.Skyline.pareto(pts, "bal", "rev")
        .orderBy(col("bal").desc)
    }),

    // --- declarative data-quality expectations ----------------------------
    // One report row per rule; row-local rules share a single scan.
    "q181_expectations" -> ((s, d) => {
      import graft.operators.Expectations._
      check(t(s, d, "lineitem"), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1, 30),
        Satisfies("discount_cap", col("l_discount") <= 0.05),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", t(s, d, "orders"), "o_orderkey")))
        .orderBy(col("rule"))
    }),

    // --- equi-depth quantile binning ---------------------------------------
    // Order totals into 4 equal-population bins; per-bin count + range.
    "q189_quantile_bins" -> ((s, d) =>
      graft.operators.Features.quantileBin(t(s, d, "orders"),
          "o_totalprice", numBins = 4)
        .groupBy(col("o_totalprice_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 4).as("lo"),
          round(max(col("o_totalprice")), 4).as("hi"))
        .orderBy(col("bin"))),

    // --- per-group Spearman rank correlation -------------------------------
    // Monotone association of quantity vs extended price per returnflag.
    "q190_spearman" -> ((s, d) =>
      graft.operators.Features.spearman(t(s, d, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))),

    // --- Jaro-Winkler record linkage ---------------------------------------
    // Best-matching supplier name per customer name, served by the
    // APPROXIMATE candidate path (gram retrieval + exact codegen JW on
    // candidates — measured recall 1.0 vs all-pairs on this corpus,
    // JwJoinSpec's pinned floor); all-pairs stays the ORACLE shape.
    // The argmax runs on the round-4 grid with the s_name tie-break
    // (the oracle's rank convention).
    "q191_jaro_linkage" -> ((s, d) => {
      graft.operators.JwJoin.bestMatchCandidates(
          t(s, d, "customer").select(col("c_name")), "c_name", "c_name",
          t(s, d, "supplier").select(col("s_name")), "s_name", "s_name")
        .select(col("id_a").as("c_name"), col("id_b").as("s_name"),
          round(col("jw"), 4).as("jw"))
        .groupBy(col("c_name"))
        .agg(min(struct(negate(col("jw")).as("njw"), col("s_name"),
          col("jw"))).as("best"))
        .select(col("c_name"), col("best.s_name").as("s_name"),
          col("best.jw").as("jw"))
        .orderBy(col("c_name"))
    }),

    // --- Cohen's kappa (inter-rater agreement) -----------------------------
    // Two heuristic length raters over documents: char buckets vs
    // whitespace-token buckets.
    "q192_kappa" -> ((s, d) => {
      val tok = size(split(col("text"), " ", -1))
      graft.operators.Features.cohenKappa(
        t(s, d, "documents")
          .withColumn("rater_chars",
            when(col("n_chars") <= 250, "short")
              .when(col("n_chars") <= 400, "medium").otherwise("long"))
          .withColumn("rater_tokens",
            when(tok <= 45, "short")
              .when(tok <= 70, "medium").otherwise("long")),
        "rater_chars", "rater_tokens")
    }),

    // --- mutual information screen -----------------------------------------
    // Is document language independent of source?
    "q193_mutual_info" -> ((s, d) =>
      graft.operators.Features.mutualInfo(
        t(s, d, "documents"), "lang", "source")),

    // --- chi-square independence screen -----------------------------------
    // Market segment x order priority: per-cell observed/expected/
    // contribution.
    "q183_chi_square" -> ((s, d) =>
      graft.operators.Features.chiSquare(
          t(s, d, "orders").join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey")),
          "c_mktsegment", "o_orderpriority")
        .orderBy(col("c_mktsegment"), col("o_orderpriority"))),

    // --- tie-aware ROC AUC per group ---------------------------------------
    // Does event value rank afternoon vs morning events, per type?
    "q194_roc_auc" -> ((s, d) =>
      graft.operators.Eval.rocAuc(
          ev(s, d).withColumn("is_pm",
            (hour(col("ts")) >= 12).cast("int")),
          "event_type", "is_pm", "value")
        .orderBy(col("event_type"))),

    // --- two-sample Kolmogorov-Smirnov drift test --------------------------
    // Do click and view events draw their values from the same
    // distribution?
    "q195_ks_drift" -> ((s, d) =>
      graft.operators.Eval.ksTest(
        ev(s, d), "event_type", "value", "click", "view")),

    // --- isotonic (PAV) calibration — rows-only ----------------------------
    // Monotone repair of the q194 score/label pair per event type;
    // PAV's unbounded backward pooling has no SQL form (the q208
    // adjudication), so correctness is EvalSpec's brute-force-PAV
    // equality + monotonicity/mass-preservation invariants.
    "q239_isotonic" -> ((s, d) =>
      graft.operators.Eval.isotonicCalibrate(
          ev(s, d)
            .withColumn("is_pm", (hour(col("ts")) >= 12).cast("int"))
            // floor/100, not round(v/100, 2): engines disagree on
            // decimal-string .xx5 halves (round(1.035, 2) is 1.04 in
            // Spark, 1.03 in DuckDB), and the score GRID must be
            // bit-identical for the PAV levels to line up
            .withColumn("score", floor(col("value")) / lit(100.0)),
          "event_type", "is_pm", "score")
        .orderBy(col("event_type"), col("score"))),

    // --- 1-D Wasserstein (earth mover's) distance --------------------------
    // The integral companion to q195's KS sup, same two samples.
    "q238_wasserstein" -> ((s, d) =>
      graft.operators.Eval.wasserstein1(
        ev(s, d), "event_type", "value", "click", "view")),

    // --- population stability index ----------------------------------------
    // Order-price drift: pre-1996 orders as reference, 1996+ as current.
    "q196_psi" -> ((s, d) => {
      val o = t(s, d, "orders")
      graft.operators.Eval.psi(
          o.filter(col("o_orderdate") < lit("1996-01-01")),
          o.filter(col("o_orderdate") >= lit("1996-01-01")),
          "o_totalprice", numBins = 10)
        .orderBy(col("bin"))
    }),

    // --- Gini concentration per group --------------------------------------
    // How unevenly is order spend distributed within each priority class?
    "q197_gini" -> ((s, d) =>
      graft.operators.Eval.gini(
          t(s, d, "orders"), "o_orderpriority", "o_totalprice")
        .orderBy(col("o_orderpriority"))),

    // --- Benford first-digit screen ----------------------------------------
    "q198_benford" -> ((s, d) =>
      graft.operators.Eval.benford(t(s, d, "lineitem"), "l_extendedprice")
        .orderBy(col("digit"))),

    // --- Naive Bayes language ID: train on 4/5 of the corpus, ------------
    // predict the held-out fifth (deterministic id-mod split)
    "q199_naive_bayes" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Classify.naiveBayes(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    }),

    // --- information-gain split finder -------------------------------------
    // Best l_quantity threshold separating return flags.
    "q200_info_gain" -> ((s, d) =>
      graft.operators.Classify.infoGainSplit(
        t(s, d, "lineitem"), "l_quantity", "l_returnflag")),

    // --- calibration / reliability table -----------------------------------
    // Treat value/500 (clamped to [0,1]) as a probability of "afternoon":
    // per bin, is the score honest?
    "q201_calibration" -> ((s, d) =>
      graft.operators.Eval.calibration(
          ev(s, d)
            .withColumn("is_pm", (hour(col("ts")) >= 12).cast("int"))
            .withColumn("p", least(col("value") / lit(500.0), lit(1.0))),
          "is_pm", "p", numBins = 10)
        .orderBy(col("bin"))),

    // --- cumulative gains / lift table -------------------------------------
    "q202_lift" -> ((s, d) =>
      graft.operators.Eval.liftTable(
          ev(s, d).withColumn("is_pm", (hour(col("ts")) >= 12).cast("int")),
          "is_pm", "value", numBins = 10)
        .orderBy(col("band"))),

    // --- Welch's t-test ----------------------------------------------------
    // Do purchase and click events differ in mean value?
    "q203_welch_t" -> ((s, d) =>
      graft.operators.Eval.welchT(
        ev(s, d), "event_type", "value", "purchase", "click")),

    // --- Morton (z-order) clustering key -----------------------------------
    // The exact bit-interleave the layout writer sorts by (the write
    // itself is ZOrderSpec's layout proof; the KEY is oracle-able).
    "q204_zorder" -> ((s, d) =>
      graft.operators.ZOrder.withZValue(
          ev(s, d), Seq("value", "user_id"), bits = 8)
        .select(col("event_id"), col("__z").as("z"))
        .orderBy(col("z").desc, col("event_id"))
        .limit(100)),

    // --- average precision (PR-AUC, step form) per group -------------------
    "q205_avg_precision" -> ((s, d) =>
      graft.operators.Eval.averagePrecision(
          ev(s, d).withColumn("is_pm",
            (hour(col("ts")) >= 12).cast("int")),
          "event_type", "is_pm", "value")
        .orderBy(col("event_type"))),

    // --- Jensen-Shannon divergence of token distributions ------------------
    // Corpus drift in categorical space: even- vs odd-id documents.
    "q206_jsd" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(m: Int) = docs.filter(col("doc_id") % 2 === m)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
      graft.operators.Eval.jsDivergence(toks(0), toks(1), "token")
    }),

    // --- one-way ANOVA F ---------------------------------------------------
    // Does mean event value differ across the five event types?
    "q207_anova_f" -> ((s, d) =>
      graft.operators.Eval.anovaF(ev(s, d), "event_type", "value")),

    // --- TextRank keyword extraction ---------------------------------------
    // Top-3 keywords per document; ONE shuffle, then every document's
    // tiny graph iterates inside its task. Oracled since r14: the 5
    // fixed iterations unroll as DuckDB CTEs, with the engine's Long
    // 1e-9-grid accumulation replayed as a BIGINT sum (exact parity).
    // KeywordsSpec additionally pins bit-exact equality with an
    // independent reference implementation.
    "q208_textrank" -> ((s, d) =>
      graft.operators.Keywords.textRank(
          t(s, d, "documents"), "doc_id", "text",
          window = 2, iterations = 5, topK = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // --- ranked-retrieval metrics: nDCG@10, MRR@10, P@10, R@10 -------------
    // Per event type: does value rank evening (rel 2) and afternoon
    // (rel 1) events to the top?
    "q209_ranking_metrics" -> ((s, d) =>
      graft.operators.Eval.rankingMetrics(
          ev(s, d).withColumn("rel",
            when(hour(col("ts")) >= 18, 2.0)
              .when(hour(col("ts")) >= 12, 1.0).otherwise(0.0)),
          "event_type", "event_id", "rel", "value", k = 10)
        .orderBy(col("event_type"))),

    // --- two-proportion z-test ---------------------------------------------
    // Do purchases clear the 100-value bar at a different rate than
    // clicks?
    "q210_prop_z" -> ((s, d) =>
      graft.operators.Eval.propZTest(
        ev(s, d).withColumn("hi", (col("value") > 100).cast("int")),
        "event_type", "hi", "purchase", "click")),

    // --- Wilson score intervals per group ----------------------------------
    "q211_wilson" -> ((s, d) =>
      graft.operators.Eval.wilsonCI(
          ev(s, d).withColumn("hi", (col("value") > 100).cast("int")),
          "event_type", "hi")
        .orderBy(col("event_type"))),

    // --- CUSUM changepoint on the daily order series -----------------------
    "q212_changepoint" -> ((s, d) =>
      graft.operators.TimeSeries.changePoint(
        t(s, d, "orders").groupBy(col("o_orderdate").as("day"))
          .agg(count(lit(1)).cast("double").as("cnt")),
        "day", "cnt")),

    // --- classical additive seasonal decomposition -------------------------
    // Weekly seasonality of daily order counts.
    "q213_seasonal" -> ((s, d) =>
      graft.operators.TimeSeries.seasonalDecompose(
          t(s, d, "orders").groupBy(col("o_orderdate").as("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          "day", "cnt", period = 7)
        .orderBy(col("day"))),

    // --- Holt linear forecast ----------------------------------------------
    // Three-day forecast of daily event volume per type.
    "q215_holt" -> ((s, d) =>
      graft.operators.TimeSeries.holtForecast(
          ev(s, d).groupBy(col("event_type"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("double").as("cnt")),
          "event_type", "day", "cnt",
          alpha = 0.5, beta = 0.3, horizon = 3)
        .orderBy(col("event_type"), col("h"))),

    // --- Holt-Winters additive seasonal forecast ---------------------------
    // q215's daily series with the weekly pattern modeled explicitly:
    // level + trend + 7 rotating seasonal slots.
    "q236_holt_winters" -> ((s, d) =>
      graft.operators.TimeSeries.holtWintersForecast(
          ev(s, d).groupBy(col("event_type"),
              col("ts").cast("date").as("day"))
            .agg(count(lit(1)).cast("double").as("v")),
          "event_type", "day", "v", period = 7,
          alpha = 0.5, beta = 0.3, gamma = 0.4, horizon = 3)
        .orderBy(col("event_type"), col("h"))),

    // --- Kendall's tau-b ---------------------------------------------------
    // Ordinal association of quantity and line number (both discrete —
    // the cell-table contract).
    "q216_kendall" -> ((s, d) =>
      graft.operators.Features.kendallTau(
        t(s, d, "lineitem"), "l_quantity", "l_linenumber")),

    // --- Cramér's V --------------------------------------------------------
    // Effect size for the q183 chi-square screen.
    "q217_cramers_v" -> ((s, d) =>
      graft.operators.Features.cramersV(
        t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_orderpriority")),

    // --- Theil's uncertainty coefficient -----------------------------------
    // Directional version of q193: does lang predict source, or source
    // predict lang?
    "q218_theil_u" -> ((s, d) =>
      graft.operators.Features.theilU(
        t(s, d, "documents"), "lang", "source")),

    // --- split-conformal prediction intervals ------------------------------
    // A deliberately crude predictor (price ≈ 1000·quantity) gets an
    // honest 90% error bar from its own calibration residuals.
    "q237_conformal" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("y"),
        (col("l_quantity").cast("double") * 1000.0).as("yhat"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("rid"))
      graft.operators.Eval.conformalInterval(
          li.filter(col("l_orderkey") % 5 === 0),
          li.filter(col("l_orderkey") % 5 === 1 &&
            col("l_linenumber") === 1),
          "rid", "y", "yhat", alpha = 0.1)
        // (orderkey, linenumber) is NOT unique in the testdata — pin
        // the tie with yhat so the ordering is total
        .orderBy(col("rid"), col("yhat"))
    }),

    // --- reciprocal best match (bidirectional linkage) ---------------------
    // q191's best-per-customer gate, hardened: keep only pairs where
    // customer and supplier each pick the other — the high-precision
    // entity-resolution filter (one-sided best match links every left
    // row somewhere; reciprocity drops the forced marriages). This is
    // an ARGMAX query (best-match jw tops out at 0.81 on this corpus,
    // below the 0.82 floor where JwJoin's exact threshold prefilter
    // exists), served by the APPROXIMATE candidate path: IDF-weighted
    // gram retrieval bounds each side to topM partners, exact codegen
    // JW on candidates only — near-linear where the r10 form paid the
    // full cartesian twice. Candidates from BOTH directions (each
    // argmax needs its own side's recall); measured recall vs the
    // all-pairs argmax is 1.0 both ways on this corpus (JwJoinSpec's
    // pinned floor — the AnnRecallSpec discipline); the all-pairs form
    // stays the DuckDB oracle.
    "q234_reciprocal_match" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_name"))
      val supp = t(s, d, "supplier").select(col("s_name"))
      val scored = Materialize(graft.operators.JwJoin.bestMatchCandidates(
          cust, "c_name", "c_name", supp, "s_name", "s_name",
          symmetric = true)
        .select(col("id_a").as("c_name"), col("id_b").as("s_name"),
          round(col("jw"), 4).as("jw")))
      val bestPerC = scored.groupBy(col("c_name"))
        .agg(min(struct(negate(col("jw")).as("njw"), col("s_name"),
          col("jw"))).as("b"))
        .select(col("c_name"), col("b.s_name").as("s_name"),
          col("b.jw").as("jw"))
      val bestPerS = scored.groupBy(col("s_name"))
        .agg(min(struct(negate(col("jw")).as("njw"), col("c_name"))).as("b"))
        .select(col("b.c_name").as("c_name"), col("s_name"))
      bestPerC.join(bestPerS, Seq("c_name", "s_name"), "left_semi")
        .orderBy(col("c_name"))
    }),

    // --- Benjamini-Hochberg FDR adjustment ---------------------------------
    // The q183 chi-square cells as a family of 25 tests; p surrogate =
    // 1/(1+contrib) (monotone in the statistic — the adjustment
    // arithmetic is what's under test; a real Φ-based p differs only
    // by the input mapping, and erf is not cross-engine stable).
    "q235_bh_adjust" -> ((s, d) => {
      val cells = graft.operators.Features.chiSquare(
          t(s, d, "orders").join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey")),
          "c_mktsegment", "o_orderpriority")
        .select(concat_ws("_", col("c_mktsegment"),
            col("o_orderpriority")).as("test_id"),
          round(lit(1.0) / (lit(1.0) + col("contrib")), 6).as("p"))
      graft.operators.Eval.bhAdjust(cells, "test_id", "p")
    }),

    // --- pairwise correlation matrix ---------------------------------------
    // The redundancy screen over lineitem's numeric measures: one pass,
    // all 6 pairs, pairwise null deletion.
    "q231_corr_matrix" -> ((s, d) =>
      graft.operators.Profile.correlationMatrix(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_a"), col("col_b"))),

    // --- CUPED variance-reduced A/B readout --------------------------------
    // Even/odd users as variants; per-user second-half event value as
    // the metric, first-half value as the pre-exposure covariate.
    "q232_cuped" -> ((s, d) => {
      val units = ev(s, d).groupBy(col("user_id")).agg(
        coalesce(sum(when(dayofmonth(col("ts")) > 15, col("value"))
          .cast("decimal(18,2)")), lit(0.0)).cast("double").as("metric"),
        coalesce(sum(when(dayofmonth(col("ts")) <= 15, col("value"))
          .cast("decimal(18,2)")), lit(0.0)).cast("double").as("covariate"))
        .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
          .as("variant"), col("metric"), col("covariate"))
      graft.operators.Eval.cuped(units, "variant", "metric", "covariate")
    }),

    // --- logistic regression (full-batch GD, 3 steps) ----------------------
    // Does (scaled) quantity or discount predict a returned line item?
    // Weights only — the auditable model table, not scored rows.
    "q227_logistic_gd" -> ((s, d) =>
      graft.operators.Classify.logisticGD(
        t(s, d, "lineitem").select(
          (col("l_returnflag") === "R").cast("int").as("y"),
          (col("l_quantity").cast("double") / 50.0).as("x1"),
          (col("l_discount").cast("double") * 10.0).as("x2")),
        "y", Seq("x1", "x2"), lr = 0.5, iters = 3)),

    // --- Mann-Whitney U ----------------------------------------------------
    // Nonparametric twin of q203's Welch test: do purchase and click
    // event values come from the same location?
    "q223_mann_whitney" -> ((s, d) =>
      graft.operators.Eval.mannWhitneyU(
        ev(s, d), "event_type", "value", "purchase", "click")),

    // --- Kaplan-Meier survival curve ---------------------------------------
    // Time to first purchase per user, censored at the user's last
    // observed event; even/odd user cohorts.
    "q224_kaplan_meier" -> ((s, d) => {
      val per = ev(s, d).groupBy(col("user_id")).agg(
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("conv_ts"),
        max(col("ts")).as("last_ts"))
      val durs = per.select(
        (col("user_id") % 2).cast("int").as("cohort"),
        datediff(coalesce(col("conv_ts"), col("last_ts")).cast("date"),
          col("first_ts").cast("date")).as("dur"),
        col("conv_ts").isNotNull.cast("int").as("ev"))
      graft.operators.Survival.kaplanMeier(durs, "cohort", "dur", "ev")
        .orderBy(col("cohort"), col("duration"))
    }),

    // --- CDC changelog apply -----------------------------------------------
    // Orders as a change stream over customer balances: latest order
    // per customer upserts its total as the balance, 'P' status
    // deletes the row; untouched customers pass through.
    "q225_cdc_apply" -> ((s, d) => {
      val base = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      val log = t(s, d, "orders").select(
        col("o_custkey").as("id"), col("o_orderdate"), col("o_orderkey"),
        when(col("o_orderstatus") === "P", "D").otherwise("U").as("op"),
        col("o_totalprice").as("bal"))
      graft.operators.Merge.applyCdc(base, log, Seq("id"),
          Seq(col("o_orderdate"), col("o_orderkey")), "op")
        .orderBy(col("id"))
    }),

    // --- rank-biased overlap -----------------------------------------------
    // Do spend and order frequency rank the top-50 customers alike?
    "q214_rbo" -> ((s, d) => {
      val o = t(s, d, "orders")
      graft.operators.Eval.rbo(
        o.groupBy(col("o_custkey").as("id"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("s")),
        o.groupBy(col("o_custkey").as("id"))
          .agg(count(lit(1)).cast("double").as("s")),
        "id", "s", k = 50, p = 0.9)
    }))

  def oracleSql: Map[String, String] = Map(
    "q63_interval_join" ->
      """SELECT p.event_id, p.user_id, s.ts AS signup_ts
         FROM events p JOIN events s
           ON p.user_id = s.user_id
          AND p.event_type = 'purchase' AND s.event_type = 'signup'
          AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL '2 hours'
         ORDER BY p.event_id, signup_ts""",

    "q64_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0
         UNION
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
         ORDER BY o_custkey""",

    "q65_math_funcs" ->
      """SELECT c_custkey,
           round(abs(c_acctbal), 2) AS abs_bal,
           CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
           CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
           CAST(sign(c_acctbal) AS BIGINT) AS sign_bal,
           c_custkey % 7 AS mod7,
           round(pow(CAST(c_custkey AS DOUBLE), 2.0), 2) AS key_sq,
           round(ln(CAST(c_custkey AS DOUBLE) + 1.0), 6) AS ln_key,
           round(sqrt(CAST(c_custkey AS DOUBLE)), 6) AS sqrt_key
         FROM customer ORDER BY c_custkey""",

    "q66_string_more" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
           concat(upper(substring(n_name, 1, 1)), lower(substring(n_name, 2, 100))) AS name_cap,
           lpad(n_name, 12, '_') AS padded,
           rpad(n_name, 12, '.') AS rpadded,
           translate(n_name, 'AEIOU', 'aeiou') AS translated,
           reverse(n_name) AS reversed,
           string_split(n_name, 'A')[1] AS first_part,
           CAST(instr(n_name, 'A') AS BIGINT) AS a_pos,
           repeat(substring(n_name, 1, 2), 2) AS repeated
         FROM nation ORDER BY key""",

    "q67_date_more" ->
      """SELECT o_orderkey,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           CAST(o_orderdate AS DATE) - 7 AS minus7,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS week,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
         FROM orders ORDER BY o_orderkey""",

    "q73_corpus_surprisal" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word
           FROM documents),
         freq AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
         total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
         SELECT t.doc_id,
           round(CAST(sum(CAST(round(-ln(CAST(f.cnt AS DOUBLE) / (SELECT n FROM total)), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 4) AS mean_surprisal,
           count(*) AS n_tokens
         FROM toks t JOIN freq f ON t.word = f.word
         GROUP BY t.doc_id ORDER BY t.doc_id""",

    "q74_windowed_dedup" ->
      """SELECT user_id, event_type, bucket, event_id FROM (
           SELECT user_id, event_type,
             time_bucket(INTERVAL '10 minutes', ts) AS bucket, event_id,
             row_number() OVER (PARTITION BY user_id, event_type,
               time_bucket(INTERVAL '10 minutes', ts) ORDER BY event_id) AS rn
           FROM events)
         WHERE rn = 1
         ORDER BY user_id, event_type, bucket""",

    "q75_asof_forward" ->
      """SELECT p.event_id, p.user_id,
           (SELECT min(x.ts) FROM events x
            WHERE x.user_id = p.user_id AND x.event_type = 'error'
              AND x.ts >= p.ts) AS next_error_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",

    "q69_window_rank_funcs" ->
      """SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           round(nth_value(c_acctbal, 2) OVER
             (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS second_lowest
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
         ORDER BY c_custkey""",

    // per-category 9-grid DECIMAL sums; global mean from the category
    // sums (one corpus scan); same shrinkage arithmetic
    "q165_target_encode" ->
      """WITH per AS (
           SELECT o_orderpriority AS category, CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(round(o_totalprice, 9) AS DECIMAL(28,9))) AS s
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
         g AS (SELECT CAST(sum(s) AS DOUBLE) / sum(n) AS g FROM per)
         SELECT category, n,
           round((CAST(s AS DOUBLE) + 10.0 * g.g) / (n + 10.0), 6) AS encoding
         FROM per, g ORDER BY category""",

    // presence-distinct items, basket self-join pairs, lift vs
    // independence
    "q170_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem),
         nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM items),
         ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY i),
         pairs AS (SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
                   FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
                   GROUP BY 1, 2 HAVING count(*) >= 25)
         SELECT p.item_a, p.item_b, p.n_ab, ia.n AS n_a, ib.n AS n_b,
           round(CAST(p.n_ab AS DOUBLE) * nb.nb / (ia.n * ib.n), 6) AS lift
         FROM pairs p JOIN ic ia ON ia.i = p.item_a
           JOIN ic ib ON ib.i = p.item_b, nb
         ORDER BY p.item_a, p.item_b""",

    // per-column profile blocks, mode via ordered LIMIT 1
    "q167_profile" ->
      """(
           WITH p AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders),
           m AS (SELECT v AS mode_value, CAST(count(*) AS BIGINT) AS mode_n
                 FROM p WHERE v IS NOT NULL GROUP BY v
                 ORDER BY count(*) DESC, v ASC LIMIT 1)
           SELECT 'o_custkey' AS "column",
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_rows,
             (SELECT CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) FROM p) AS n_null,
             (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM p) AS n_distinct,
             m.mode_value, m.mode_n
           FROM m)
         UNION ALL (
           WITH p AS (SELECT CAST(o_orderstatus AS VARCHAR) AS v FROM orders),
           m AS (SELECT v AS mode_value, CAST(count(*) AS BIGINT) AS mode_n
                 FROM p WHERE v IS NOT NULL GROUP BY v
                 ORDER BY count(*) DESC, v ASC LIMIT 1)
           SELECT 'o_orderstatus' AS "column",
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_rows,
             (SELECT CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) FROM p) AS n_null,
             (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM p) AS n_distinct,
             m.mode_value, m.mode_n
           FROM m)
         UNION ALL (
           WITH p AS (SELECT CAST(o_orderpriority AS VARCHAR) AS v FROM orders),
           m AS (SELECT v AS mode_value, CAST(count(*) AS BIGINT) AS mode_n
                 FROM p WHERE v IS NOT NULL GROUP BY v
                 ORDER BY count(*) DESC, v ASC LIMIT 1)
           SELECT 'o_orderpriority' AS "column",
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_rows,
             (SELECT CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) FROM p) AS n_null,
             (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM p) AS n_distinct,
             m.mode_value, m.mode_n
           FROM m)
         ORDER BY "column"""",

    // quantile_cont ≡ Spark's exact percentile (the q49 convention);
    // clipped values round to the 4-grid BEFORE the decimal sum so both
    // engines aggregate identical inputs
    "q166_winsorize" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.05) AS lo,
                           quantile_cont(o_totalprice, 0.95) AS hi
                    FROM orders),
         w AS (SELECT o_orderstatus,
                 round(least(greatest(o_totalprice, b.lo), b.hi), 4) AS w
               FROM orders, b)
         SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(w, 4) AS DECIMAL(28,4))) AS DOUBLE), 2) AS sum_w,
           round(min(w), 4) AS min_w, round(max(w), 4) AS max_w
         FROM w GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // full-outer key join + null-safe compare = the same classification
    "q176_snapshot_diff" ->
      """WITH snapa AS (
           SELECT l_orderkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS rev,
             CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
           GROUP BY 1),
         snapb AS (
           SELECT l_orderkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS rev,
             CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1999-01-01'
           GROUP BY 1),
         diff AS (
           SELECT CASE WHEN a.l_orderkey IS NULL THEN 'added'
                  WHEN b.l_orderkey IS NULL THEN 'removed'
                  WHEN a.rev IS DISTINCT FROM b.rev
                    OR a.n_items IS DISTINCT FROM b.n_items THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
                  a.rev AS rev_old, b.rev AS rev_new
           FROM snapa a FULL JOIN snapb b ON a.l_orderkey = b.l_orderkey)
         SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CASE WHEN change_type = 'changed'
             THEN CAST(round(abs(rev_new - rev_old), 4) AS DECIMAL(28,4))
             ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE), 4) AS changed_delta
         FROM diff GROUP BY 1 ORDER BY change_type""",

    // identical sufficient-statistics closed form, DECIMAL sums
    "q177_ols_fit" ->
      """WITH g AS (
           SELECT l_returnflag,
             CAST(round(CAST(l_quantity AS DECIMAL(18,4)), 4) AS DECIMAL(19,4)) AS x,
             CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)), 4) AS DECIMAL(19,4)) AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy
           FROM g GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(CASE WHEN n*sxx - sx*sx <> 0.0
             THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END, 4) AS slope,
           round(CASE WHEN n*sxx - sx*sx <> 0.0
             THEN (sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx)) * sx)/n END, 4) AS intercept,
           round(CASE WHEN n*sxx - sx*sx <> 0.0 AND n*syy - sy*sy <> 0.0
             THEN ((n*sxy - sx*sy)*(n*sxy - sx*sy))/((n*sxx - sx*sx)*(n*syy - sy*sy)) END, 4) AS r2
         FROM s ORDER BY l_returnflag""",

    // strict-dominance NOT EXISTS over the same rounded points
    "q180_skyline" ->
      """WITH m AS (
           SELECT l_suppkey AS suppkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS rev
           FROM lineitem GROUP BY 1),
         pts AS (
           SELECT round(s.s_acctbal, 4) AS bal, m.rev
           FROM supplier s JOIN m ON s.s_suppkey = m.suppkey),
         grp AS (SELECT bal, rev, CAST(count(*) AS BIGINT) AS n_rows
                 FROM pts GROUP BY 1, 2),
         sky AS (
           SELECT g.* FROM grp g WHERE NOT EXISTS (
             SELECT 1 FROM pts p WHERE p.bal >= g.bal AND p.rev >= g.rev
               AND (p.bal > g.bal OR p.rev > g.rev)))
         SELECT bal, rev, n_rows FROM sky ORDER BY bal DESC""",

    // each rule's violation count, rule names matching the engine's
    "q181_expectations" ->
      """SELECT 'in_range(l_quantity,1.0,30.0)' AS rule,
           CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
             OR l_quantity > 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
         UNION ALL
         SELECT 'not_null(l_orderkey)',
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM lineitem
         UNION ALL
         SELECT 'ref_integrity(l_orderkey)',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
           CAST(count(*) AS BIGINT) FROM lineitem
         UNION ALL
         SELECT 'satisfies(discount_cap)',
           CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, false)
             THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM lineitem
         UNION ALL
         SELECT 'unique(l_orderkey,l_linenumber)',
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM lineitem
         ORDER BY rule""",

    // quantile_cont boundaries ≡ Spark's exact percentile (the q49
    // convention); bin = 1 + |{b : v > b}|
    "q189_quantile_bins" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS b1,
                           quantile_cont(o_totalprice, 0.50) AS b2,
                           quantile_cont(o_totalprice, 0.75) AS b3 FROM orders),
         x AS (SELECT o_totalprice AS v,
                 1 + CASE WHEN o_totalprice > b.b1 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b.b2 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b.b3 THEN 1 ELSE 0 END AS bin
               FROM orders, b)
         SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
           round(min(v), 4) AS lo, round(max(v), 4) AS hi
         FROM x GROUP BY bin ORDER BY bin""",

    // rank() ties-averaged = (2*rank + ties - 1)/2, exact halves in
    // DECIMAL(19,1); Pearson on ranks from identical decimal sums
    "q190_spearman" ->
      """WITH r AS (
           SELECT l_returnflag AS g,
             (2.0*rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
             (2.0*rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
           FROM lineitem),
         c AS (SELECT g, CAST(rx AS DECIMAL(19,1)) AS x,
                 CAST(ry AS DECIMAL(19,1)) AS y FROM r),
         s AS (
           SELECT g, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,2))) AS DOUBLE) AS syy
           FROM c GROUP BY g)
         SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           round(CASE WHEN (n*sxx - sx*sx) > 0.0 AND (n*syy - sy*sy) > 0.0
             THEN (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)) END, 4) AS spearman
         FROM s ORDER BY l_returnflag""",

    // DuckDB's jaro_winkler_similarity is the same classic definition
    // (0.7 boost threshold, prefix <= 4, p = 0.1, empty -> 0) — verified
    // bit-exact over all 150k name pairs; both engines rank on the
    // rounded grid with the name tie-break
    "q191_jaro_linkage" ->
      """WITH p AS (SELECT c_name, s_name,
           round(jaro_winkler_similarity(c_name, s_name), 4) AS jw
         FROM customer, supplier),
         r AS (SELECT *, row_number() OVER (PARTITION BY c_name
            ORDER BY jw DESC, s_name ASC) AS rk FROM p)
         SELECT c_name, s_name, jw FROM r WHERE rk = 1 ORDER BY c_name""",

    // same exact-integer margins; pe sums count products in DECIMAL(38,0)
    "q192_kappa" ->
      """WITH r AS (SELECT
           CASE WHEN n_chars <= 250 THEN 'short' WHEN n_chars <= 400 THEN 'medium'
             ELSE 'long' END AS a,
           CASE WHEN len(string_split(text, ' ')) <= 45 THEN 'short'
             WHEN len(string_split(text, ' ')) <= 70 THEN 'medium'
             ELSE 'long' END AS b
         FROM documents),
         base AS (SELECT CAST(count(*) AS BIGINT) AS n,
            count(*) FILTER (a = b) AS agree FROM r),
         ma AS (SELECT a AS l, count(*) AS ca FROM r GROUP BY 1),
         mb AS (SELECT b AS l, count(*) AS cb FROM r GROUP BY 1),
         pe AS (SELECT CAST(sum(CAST(coalesce(ca, 0) * coalesce(cb, 0)
              AS DECIMAL(38,0))) AS DOUBLE) AS pn
           FROM ma FULL JOIN mb USING (l))
         SELECT n, round(agree / CAST(n AS DOUBLE), 4) AS po,
           round(pn / (CAST(n AS DOUBLE) * n), 4) AS pe,
           round(CASE WHEN pn / (CAST(n AS DOUBLE) * n) < 1.0
             THEN (agree / CAST(n AS DOUBLE) - pn / (CAST(n AS DOUBLE) * n))
               / (1.0 - pn / (CAST(n AS DOUBLE) * n)) END, 4) AS kappa
         FROM base, pe""",

    // identical per-cell information terms on the 9-grid decimal sum
    "q193_mutual_info" ->
      """WITH cell AS (SELECT lang AS a, source AS b, count(*) AS c
            FROM documents GROUP BY 1, 2),
         ma AS (SELECT a, sum(c) AS ca FROM cell GROUP BY 1),
         mb AS (SELECT b, sum(c) AS cb FROM cell GROUP BY 1),
         nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
         mi AS (SELECT CAST(sum(CAST(round(
              (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS mi
           FROM cell JOIN ma USING (a) JOIN mb USING (b), nn),
         ha AS (SELECT CAST(sum(CAST(round(
              -(CAST(ca AS DOUBLE) / n) * ln(CAST(ca AS DOUBLE) / n), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS h FROM ma, nn),
         hb AS (SELECT CAST(sum(CAST(round(
              -(CAST(cb AS DOUBLE) / n) * ln(CAST(cb AS DOUBLE) / n), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS h FROM mb, nn)
         SELECT n, round(mi, 4) AS mi, round(ha.h, 4) AS h_a,
           round(hb.h, 4) AS h_b,
           round(CASE WHEN ha.h > 0.0 AND hb.h > 0.0
             THEN mi / sqrt(ha.h * hb.h) END, 4) AS nmi
         FROM nn, mi, ha, hb""",

    // identical (rt*ct)/n arithmetic from exact integer counts
    "q183_chi_square" ->
      """WITH j AS (
           SELECT c.c_mktsegment, o.o_orderpriority
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         cell AS (SELECT c_mktsegment, o_orderpriority,
                    CAST(count(*) AS DOUBLE) AS obs FROM j GROUP BY 1, 2),
         rt AS (SELECT c_mktsegment, sum(obs) AS rt FROM cell GROUP BY 1),
         ct AS (SELECT o_orderpriority, sum(obs) AS ct FROM cell GROUP BY 1),
         n AS (SELECT sum(obs) AS n FROM cell)
         SELECT cell.c_mktsegment, cell.o_orderpriority,
           CAST(obs AS BIGINT) AS obs,
           round(rt.rt * ct.ct / n.n, 4) AS expected,
           round((obs - rt.rt * ct.ct / n.n)*(obs - rt.rt * ct.ct / n.n)
             / (rt.rt * ct.ct / n.n), 4) AS contrib
         FROM cell JOIN rt USING (c_mktsegment)
           JOIN ct USING (o_orderpriority), n
         ORDER BY c_mktsegment, o_orderpriority""",

    // identical score-level integer rank arithmetic in DECIMAL(38,0);
    // the only float op is the single final division
    "q194_roc_auc" ->
      """WITH r AS (SELECT event_type AS g,
             CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS y, value AS s
           FROM events WHERE value IS NOT NULL),
         lvl AS (SELECT g, s, sum(y) AS p, sum(1 - y) AS q, count(*) AS t
           FROM r GROUP BY 1, 2),
         walked AS (SELECT g, p, q,
             CAST(p * (2 * (sum(t) OVER (PARTITION BY g ORDER BY s) - t)
               + t + 1) AS DECIMAL(38,0)) AS u2
           FROM lvl),
         agg AS (SELECT g, sum(p) AS np, sum(q) AS nq, sum(u2) AS s2
           FROM walked GROUP BY 1)
         SELECT g AS event_type, CAST(np AS BIGINT) AS n_pos,
           CAST(nq AS BIGINT) AS n_neg,
           round(CASE WHEN np > 0 AND nq > 0 THEN
             CAST(s2 - CAST(np AS DECIMAL(38,0)) * (np + 1) AS DOUBLE)
               / (2.0 * np * nq) END, 6) AS auc
         FROM agg ORDER BY event_type""",

    // sup over the distinct-value grid; exact cross-multiplied integer
    // numerator |cumA*nb - cumB*na| in DECIMAL(38,0)
    "q195_ks_drift" ->
      """WITH r AS (SELECT (event_type = 'click') AS a, value AS v
           FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
         lvl AS (SELECT v,
             sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
           FROM r GROUP BY 1),
         tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM lvl),
         walked AS (SELECT sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb
           FROM lvl)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CASE WHEN na > 0 AND nb > 0 THEN
             CAST(max(abs(CAST(cuma AS DECIMAL(38,0)) * nb
               - CAST(cumb AS DECIMAL(38,0)) * na)) AS DOUBLE)
               / (CAST(na AS DOUBLE) * nb) END, 6) AS ks_d
         FROM walked, tot GROUP BY na, nb""",

    // the isotonic minimax identity: the unique weighted-L2 isotonic
    // fit at level i is max_{j<=i} min_{k>=i} of the [j,k] prefix-sum
    // positive rate — an exact replay of PAVA without the stack walk
    // (correctly-rounded IEEE division is MONOTONE in the rational it
    // rounds, so the double max/min lands on the bit-identical block
    // rate the engine's merge computes). O(levels²) pairs per group:
    // oracle-scale arithmetic, not the engine's plan
    "q239_isotonic" ->
      """WITH rows_ AS (SELECT event_type AS g,
             floor(value) / 100.0 AS s,
             CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
         lvl AS (SELECT g, s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p
           FROM rows_ GROUP BY 1, 2),
         idx AS (SELECT g, s, n, p,
             row_number() OVER (PARTITION BY g ORDER BY s) AS i,
             sum(n) OVER (PARTITION BY g ORDER BY s) AS cn,
             sum(p) OVER (PARTITION BY g ORDER BY s) AS cp
           FROM lvl),
         pairs AS (SELECT a.g, a.i AS j, b.i AS k,
             CAST(b.cp - a.cp + a.p AS DOUBLE)
               / CAST(b.cn - a.cn + a.n AS DOUBLE) AS rate
           FROM idx a JOIN idx b ON a.g = b.g AND a.i <= b.i),
         suf AS (SELECT g, j, k,
             min(rate) OVER (PARTITION BY g, j ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t
           FROM pairs),
         fit AS (SELECT g, k AS i, max(t) AS cal FROM suf GROUP BY 1, 2)
         SELECT idx.g AS event_type, idx.s AS score, idx.n,
           idx.p AS n_pos, round(fit.cal, 6) AS calibrated
         FROM idx JOIN fit ON idx.g = fit.g AND idx.i = fit.i
         ORDER BY event_type, score""",

    // piecewise-constant CDFs on the merged value grid: per segment
    // the exact DECIMAL(38,0) cross-difference × the gap, 9-grid terms,
    // one final division
    "q238_wasserstein" ->
      """WITH r AS (SELECT (event_type = 'click') AS a, value AS v
           FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
         lvl AS (SELECT v,
             sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
           FROM r GROUP BY 1),
         tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM lvl),
         w AS (SELECT v,
             sum(ca) OVER (ORDER BY v) AS fa,
             sum(cb) OVER (ORDER BY v) AS fb,
             lead(v) OVER (ORDER BY v) AS vn
           FROM lvl),
         seg AS (SELECT coalesce(sum(CAST(round(
             CAST(abs(CAST(fa AS DECIMAL(38,0)) * nb
               - CAST(fb AS DECIMAL(38,0)) * na) AS DOUBLE)
             * (vn - v), 9) AS DECIMAL(38,9))),
             CAST(0 AS DECIMAL(38,9))) AS s
           FROM w, tot WHERE vn IS NOT NULL)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CASE WHEN na > 0 AND nb > 0 THEN
             CAST(s AS DOUBLE) / (CAST(na AS DOUBLE) * nb) END, 6) AS w1
         FROM tot, seg""",

    // reference-quantile binning (the q189 quantile_cont convention),
    // 1e-6 fraction floor, per-term 9-grid ln
    "q196_psi" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders
           WHERE o_orderdate < DATE '1996-01-01' AND o_totalprice IS NOT NULL),
         cur AS (SELECT o_totalprice AS v FROM orders
           WHERE o_orderdate >= DATE '1996-01-01' AND o_totalprice IS NOT NULL),
         b AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
             0.6, 0.7, 0.8, 0.9]) AS bounds FROM ref),
         rb AS (SELECT 1 + len(list_filter(bounds, x -> v > x)) AS bin,
             count(*) AS ref_n FROM ref, b GROUP BY 1),
         cb AS (SELECT 1 + len(list_filter(bounds, x -> v > x)) AS bin,
             count(*) AS cur_n FROM cur, b GROUP BY 1),
         j AS (SELECT coalesce(rb.bin, cb.bin) AS bin,
             coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
           FROM rb FULL JOIN cb ON rb.bin = cb.bin),
         t AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM j),
         f AS (SELECT bin, ref_n, cur_n,
             greatest(ref_n / CAST(rt AS DOUBLE), 1e-6) AS p,
             greatest(cur_n / CAST(ct AS DOUBLE), 1e-6) AS q
           FROM j, t)
         SELECT CAST(bin AS INT) AS bin, CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           round(p, 6) AS ref_frac, round(q, 6) AS cur_frac,
           round((q - p) * ln(q / p), 9) AS psi_term
         FROM f ORDER BY bin""",

    // level term v*c*(2s+c-n): one IEEE double product per distinct
    // value, 9-grid rounded, DECIMAL(38,9) sum — identical here
    "q197_gini" ->
      """WITH r AS (SELECT o_orderpriority AS g, round(o_totalprice, 9) AS v
           FROM orders WHERE o_totalprice IS NOT NULL),
         lvl AS (SELECT g, v, count(*) AS c FROM r GROUP BY 1, 2),
         tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(round(v * c, 9) AS DECIMAL(38,9))) AS sx
           FROM lvl GROUP BY 1),
         walked AS (SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM lvl),
         agg AS (SELECT w.g, sum(CAST(round(
               v * CAST(c * (2 * (cum - c) + c - n) AS DOUBLE), 9)
             AS DECIMAL(38,9))) AS num
           FROM walked w JOIN tot USING (g) GROUP BY 1)
         SELECT g AS o_orderpriority, n,
           round(CASE WHEN n > 0 AND sx <> 0 THEN CAST(num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS gini
         FROM agg JOIN tot USING (g) ORDER BY o_orderpriority""",

    // string-based first-digit extraction at DECIMAL(18,4) rendering —
    // no float log10 in the digit path; expected law on the 9-grid
    "q198_benford" ->
      """WITH d AS (SELECT CAST(regexp_extract(CAST(CAST(abs(l_extendedprice)
             AS DECIMAL(18,4)) AS VARCHAR), '[1-9]', 0) AS INT) AS digit
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND regexp_extract(CAST(CAST(abs(l_extendedprice)
               AS DECIMAL(18,4)) AS VARCHAR), '[1-9]', 0) <> ''),
         c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         t AS (SELECT sum(n) AS tt FROM c),
         f AS (SELECT digit, n, n / CAST(tt AS DOUBLE) AS obs,
             round(log10(1.0 + 1.0 / digit), 9) AS e, tt FROM c, t)
         SELECT digit, n, round(obs, 6) AS obs_frac, e AS exp_frac,
           round(tt * (obs - e) * (obs - e) / e, 4) AS chi2_term
         FROM f ORDER BY digit""",

    // identical Laplace arithmetic: every ln on the 9-grid, tf-weighted
    // terms in DECIMAL(38,9), OOV drop, prior fallback, lexicographic
    // tie-break
    "q199_naive_bayes" ->
      """WITH tr AS (SELECT lang, text FROM documents
           WHERE doc_id % 5 <> 0 AND lang IS NOT NULL AND text IS NOT NULL),
         sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         ttok AS (SELECT lang AS l,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '')) AS t
           FROM tr),
         cnt AS (SELECT l, t, count(*) AS c FROM ttok GROUP BY 1, 2),
         labtot AS (SELECT l, sum(c) AS tot FROM cnt GROUP BY 1),
         vsz AS (SELECT count(DISTINCT t) AS v FROM cnt),
         pri AS (SELECT lang AS l, count(*) AS nl FROM tr GROUP BY 1),
         prilog AS (SELECT l, round(ln(nl / CAST(
             (SELECT sum(nl) FROM pri) AS DOUBLE)), 9) AS logprior FROM pri),
         stok AS (SELECT id, t, count(*) AS tf FROM (
             SELECT doc_id AS id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> x <> '')) AS t
             FROM sc) GROUP BY 1, 2),
         stok2 AS (SELECT * FROM stok
           WHERE t IN (SELECT DISTINCT t FROM cnt)),
         terms AS (SELECT s.id, lt.l,
             CAST(round(s.tf * round(ln((coalesce(c.c, 0) + 1.0)
               / (lt.tot + 1.0 * vsz.v)), 9), 9) AS DECIMAL(38,9)) AS term
           FROM stok2 s CROSS JOIN labtot lt CROSS JOIN vsz
           LEFT JOIN cnt c ON c.l = lt.l AND c.t = s.t),
         sums AS (SELECT id, l, sum(term) AS s FROM terms GROUP BY 1, 2),
         scored AS (SELECT d.doc_id AS id, p.l,
             coalesce(CAST(s.s AS DOUBLE), 0.0) + p.logprior AS score
           FROM sc d CROSS JOIN prilog p
           LEFT JOIN sums s ON s.id = d.doc_id AND s.l = p.l),
         best AS (SELECT id, l, score, row_number() OVER (
             PARTITION BY id ORDER BY score DESC, l ASC) AS rk
           FROM scored)
         SELECT id AS doc_id, l AS label, round(score, 4) AS nb_score
         FROM best WHERE rk = 1 ORDER BY doc_id""",

    // same densified (value x class) grid, n-ln-n entropy identity on the
    // 9-grid, max gain then smallest threshold
    "q200_info_gain" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS v, l_returnflag AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
         cell AS (SELECT v, y, count(*) AS c FROM r GROUP BY 1, 2),
         dense AS (SELECT vv.v, yy.y, coalesce(c.c, 0) AS c
           FROM (SELECT DISTINCT v FROM cell) vv
           CROSS JOIN (SELECT DISTINCT y FROM cell) yy
           LEFT JOIN cell c ON c.v = vv.v AND c.y = yy.y),
         cum AS (SELECT v, y, c,
             sum(c) OVER (PARTITION BY y ORDER BY v) AS cum FROM dense),
         ctot AS (SELECT y, sum(c) AS cy FROM cell GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cell),
         lvl AS (SELECT v, sum(cum) AS nle,
             sum(CAST(CASE WHEN cum > 0
               THEN round(cum * ln(CAST(cum AS DOUBLE)), 9) ELSE 0 END
               AS DECIMAL(38,9))) AS sle,
             sum(CAST(CASE WHEN cy - cum > 0
               THEN round((cy - cum) * ln(CAST(cy - cum AS DOUBLE)), 9)
               ELSE 0 END AS DECIMAL(38,9))) AS sgt
           FROM cum JOIN ctot USING (y) GROUP BY v),
         sy AS (SELECT sum(CAST(round(cy * ln(CAST(cy AS DOUBLE)), 9)
             AS DECIMAL(38,9))) AS sy FROM ctot),
         ig AS (SELECT v AS threshold, nle,
             round(-((CAST(sy.sy AS DOUBLE) - CAST(sle AS DOUBLE)
                 - CAST(sgt AS DOUBLE)) / n.n
               - (ln(CAST(n.n AS DOUBLE))
                 - (nle / CAST(n.n AS DOUBLE)) * ln(CAST(nle AS DOUBLE))
                 - ((n.n - nle) / CAST(n.n AS DOUBLE))
                   * ln(CAST(n.n - nle AS DOUBLE)))), 6) AS info_gain,
             n.n AS n
           FROM lvl, n, sy WHERE nle < n.n),
         best AS (SELECT *, row_number() OVER (
             ORDER BY info_gain DESC, threshold ASC) AS rk FROM ig)
         SELECT threshold, CAST(nle AS BIGINT) AS n_le,
           CAST(n - nle AS BIGINT) AS n_gt, info_gain
         FROM best WHERE rk = 1""",

    // same equal-width [0,1] binning (floor(s*k)+1 clamped), score sums
    // and Brier terms on the 9-grid in DECIMAL
    "q201_calibration" ->
      """WITH r AS (SELECT CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS y,
             least(value / 500.0, 1.0) AS s
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT least(greatest(CAST(floor(s * 10) AS INT) + 1, 1),
             10) AS bin, y, s FROM r)
         SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mean_score,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6) AS frac_pos,
           round(CAST(sum(CAST(round((s - y) * (s - y), 9)
             AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS bin_mse
         FROM b GROUP BY bin ORDER BY bin""",

    // band 1 = top scores via the same descending quantile boundaries;
    // ties never split a band; the walk is over 10 rows
    "q202_lift" ->
      """WITH r AS (SELECT CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS y,
             value AS s
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT quantile_cont(s, [0.1, 0.2, 0.3, 0.4, 0.5,
             0.6, 0.7, 0.8, 0.9]) AS bounds FROM r),
         banded AS (SELECT 10 - len(list_filter(bounds, x -> s > x)) AS band,
             y FROM r, b),
         agg AS (SELECT band, CAST(count(*) AS BIGINT) AS n, sum(y) AS np
           FROM banded GROUP BY 1),
         t AS (SELECT sum(n) AS nt, sum(np) AS pt FROM agg),
         w AS (SELECT band, n, np,
             sum(np) OVER (ORDER BY band) AS cump FROM agg)
         SELECT CAST(band AS INT) AS band, n, CAST(np AS BIGINT) AS n_pos,
           round(np / CAST(n AS DOUBLE), 6) AS pos_rate,
           round(CASE WHEN pt > 0 THEN cump / CAST(pt AS DOUBLE) END, 6)
             AS capture,
           round(CASE WHEN pt > 0 THEN (np / CAST(n AS DOUBLE))
             / (pt / CAST(nt AS DOUBLE)) END, 6) AS lift
         FROM w, t ORDER BY band""",

    // identical sufficient-stats pass (n, Σx, Σx² on the 9-grid in
    // DECIMAL) and the same double expression tree for t and df
    "q203_welch_t" ->
      """WITH r AS (SELECT (event_type = 'purchase') AS a, value AS v
           FROM events WHERE value IS NOT NULL
             AND event_type IN ('purchase', 'click')),
         s AS (SELECT
             sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
             sum(CASE WHEN a THEN CAST(round(v, 9) AS DECIMAL(38,9)) END) AS sa,
             sum(CASE WHEN NOT a THEN CAST(round(v, 9) AS DECIMAL(38,9)) END) AS sb,
             sum(CASE WHEN a THEN CAST(round(v * v, 9) AS DECIMAL(38,9)) END) AS qa,
             sum(CASE WHEN NOT a THEN CAST(round(v * v, 9) AS DECIMAL(38,9)) END) AS qb
           FROM r),
         m AS (SELECT na, nb,
             CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
             ((CAST(qa AS DOUBLE) - CAST(na AS DOUBLE)
                 * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                 * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)))
               / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE) AS sea,
             ((CAST(qb AS DOUBLE) - CAST(nb AS DOUBLE)
                 * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                 * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
               / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE) AS seb
           FROM s)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CASE WHEN na > 0 THEN ma END, 6) AS mean_a,
           round(CASE WHEN nb > 0 THEN mb END, 6) AS mean_b,
           round(CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
             THEN (ma - mb) / sqrt(sea + seb) END, 6) AS t_stat,
           round(CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
             THEN (sea + seb) * (sea + seb)
               / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
                 + seb * seb / (CAST(nb AS DOUBLE) - 1.0)) END, 6) AS df
         FROM m""",

    // TextRank replayed move-for-move: same tokenization (whitespace
    // split of trim, gated tokens still occupy positions), undirected
    // adjacent co-occurrence edges, and the 5 PageRank iterations
    // UNROLLED as CTEs (the q133/q145/q229 fixed-iteration pattern).
    // Numeric parity is exact by construction: every per-edge
    // contribution rounds onto the 1e-9 grid via CAST(x·1e9 AS BIGINT)
    // — DuckDB's double→int cast is rint/half-even, verified — and
    // accumulates as a BIGINT sum (the engine's Long grid units), so
    // both sides walk identical IEEE doubles; damping constants are
    // spelled (1.0 − 0.85) in DOUBLE to reproduce the engine's exact
    // 0.15000000000000002
    "q208_textrank" -> {
      def it(prev: String, out: String) =
        s"""$out AS (SELECT e.id, e.b AS n,
             CAST((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)
               + CAST(0.85 AS DOUBLE)
                 * (CAST(sum(CAST(e.w / d.dg * p.s * 1e9 AS BIGINT))
                      AS DOUBLE) / 1e9)) * 1e9 AS BIGINT) / 1e9 AS s
           FROM edges e
           JOIN deg d ON e.id = d.id AND e.a = d.a
           JOIN $prev p ON e.id = p.id AND e.a = p.n
           GROUP BY e.id, e.b)"""
      s"""WITH raw AS (SELECT CAST(doc_id AS BIGINT) AS id,
             list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '') AS toks
           FROM documents),
         tok0 AS (SELECT id, unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS t
           FROM raw),
         tok AS (SELECT id, pos, t FROM tok0 WHERE length(t) >= 2),
         adj AS (SELECT a.id, a.t AS x, b.t AS y
           FROM tok a JOIN tok b ON a.id = b.id AND b.pos = a.pos + 1
           WHERE a.t <> b.t),
         edges AS (SELECT id, a, b, CAST(count(*) AS DOUBLE) AS w
           FROM (SELECT id, x AS a, y AS b FROM adj
                 UNION ALL SELECT id, y AS a, x AS b FROM adj)
           GROUP BY id, a, b),
         deg AS (SELECT id, a, sum(w) AS dg FROM edges GROUP BY id, a),
         it0 AS (SELECT id, a AS n, CAST(1.0 AS DOUBLE) AS s FROM deg),
         ${it("it0", "it1")},
         ${it("it1", "it2")},
         ${it("it2", "it3")},
         ${it("it3", "it4")},
         ${it("it4", "it5")},
         ranked AS (SELECT id, n, s, row_number() OVER (
             PARTITION BY id ORDER BY s DESC, n ASC) AS rn
           FROM it5)
         SELECT id AS doc_id, CAST(rn AS INT) AS rank, n AS token,
           CAST(s * 1e6 AS BIGINT) / 1e6 AS score
         FROM ranked WHERE rn <= 3
         ORDER BY doc_id, rank"""
    },

    // same double rankings (score desc / rel desc, id tie-break), gain
    // terms (2^rel − 1)/log2(rank+1) on the 9-grid in DECIMAL(38,9)
    "q209_ranking_metrics" ->
      """WITH r AS (SELECT event_type AS g, event_id AS id, value AS s,
             CASE WHEN hour(ts) >= 18 THEN 2.0
               WHEN hour(ts) >= 12 THEN 1.0 ELSE 0.0 END AS rel
           FROM events WHERE value IS NOT NULL),
         rk AS (SELECT g, id, rel,
             row_number() OVER (PARTITION BY g ORDER BY s DESC, id ASC) AS rnk,
             row_number() OVER (PARTITION BY g ORDER BY rel DESC, id ASC) AS irnk
           FROM r),
         agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             sum(CASE WHEN rnk <= 10 AND rel > 0 THEN 1 ELSE 0 END) AS hits,
             min(CASE WHEN rnk <= 10 AND rel > 0 THEN rnk END) AS first_rel,
             sum(CASE WHEN rnk <= 10 THEN CAST(round(
               (pow(2.0, rel) - 1.0) / log2(rnk + 1), 9)
               AS DECIMAL(38,9)) END) AS dcg,
             sum(CASE WHEN irnk <= 10 THEN CAST(round(
               (pow(2.0, rel) - 1.0) / log2(irnk + 1), 9)
               AS DECIMAL(38,9)) END) AS idcg
           FROM rk GROUP BY 1)
         SELECT g AS event_type, n, n_rel,
           round(CAST(hits AS DOUBLE) / 10, 6) AS p_at_k,
           round(CASE WHEN n_rel > 0
             THEN CAST(hits AS DOUBLE) / n_rel END, 6) AS r_at_k,
           round(coalesce(1.0 / first_rel, 0.0), 6) AS rr,
           round(CASE WHEN CAST(idcg AS DOUBLE) > 0
             THEN CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END, 6) AS ndcg
         FROM agg ORDER BY event_type""",

    // identical pooled-rate arithmetic; z null when pooled p is 0 or 1
    "q210_prop_z" ->
      """WITH r AS (SELECT (event_type = 'purchase') AS a,
             CASE WHEN value > 100 THEN 1 ELSE 0 END AS s
           FROM events WHERE value IS NOT NULL
             AND event_type IN ('purchase', 'click')),
         st AS (SELECT
             sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN a AND s = 1 THEN 1 ELSE 0 END) AS xa,
             sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN NOT a AND s = 1 THEN 1 ELSE 0 END) AS xb
           FROM r),
         m AS (SELECT na, xa, nb, xb,
             xa / CAST(na AS DOUBLE) AS pa, xb / CAST(nb AS DOUBLE) AS pb,
             (xa + xb) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS pp
           FROM st)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
           CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
           round(CASE WHEN na > 0 THEN pa END, 6) AS p_a,
           round(CASE WHEN nb > 0 THEN pb END, 6) AS p_b,
           round(CASE WHEN na > 0 AND nb > 0 AND pp > 0.0 AND pp < 1.0
             THEN (pa - pb) / sqrt(pp * (1.0 - pp)
               * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
             END, 6) AS z
         FROM m""",

    // same Wilson expression tree; z² written as 1.96*1.96 so both
    // engines compute the identical IEEE product
    "q211_wilson" ->
      """WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         m AS (SELECT event_type, n, x,
             x / CAST(n AS DOUBLE) AS p, CAST(n AS DOUBLE) AS nd,
             1.96 * 1.96 AS zz
           FROM per)
         SELECT event_type, n, x,
           round(p, 6) AS p_hat,
           round((p + zz / (2.0 * nd)) / (1.0 + zz / nd)
             - 1.96 * sqrt(p * (1.0 - p) / nd + zz / (4.0 * nd * nd))
               / (1.0 + zz / nd), 6) AS ci_lo,
           round((p + zz / (2.0 * nd)) / (1.0 + zz / nd)
             + 1.96 * sqrt(p * (1.0 - p) / nd + zz / (4.0 * nd * nd))
               / (1.0 + zz / nd), 6) AS ci_hi
         FROM m ORDER BY event_type""",

    // same 9-grid DECIMAL cusum over the date grid; argmax by
    // (|cusum| desc, earliest day)
    "q212_changepoint" ->
      """WITH srs AS (SELECT o_orderdate AS k, CAST(count(*) AS DOUBLE) AS v
           FROM orders GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9))) AS DOUBLE)
               / count(*) AS mean
           FROM srs),
         c AS (SELECT k, m.n, m.mean,
             sum(CAST(round(v - m.mean, 9) AS DECIMAL(38,9)))
               OVER (ORDER BY k) AS cusum
           FROM srs, m),
         b AS (SELECT *, row_number() OVER (
             ORDER BY abs(CAST(cusum AS DOUBLE)) DESC, k ASC) AS rk
           FROM c)
         SELECT k AS change_at,
           round(abs(CAST(cusum AS DOUBLE)), 6) AS max_abs_cusum,
           round(mean, 6) AS mean, n
         FROM b WHERE rk = 1""",

    // same centered 7-row MA trend (null at incomplete edges), detrended
    // phase means re-centered to zero, residual where trend exists
    "q213_seasonal" ->
      """WITH srs AS (SELECT o_orderdate AS k, CAST(count(*) AS DOUBLE) AS v
           FROM orders GROUP BY 1),
         t AS (SELECT k, v, row_number() OVER (ORDER BY k) AS pos,
             CASE WHEN count(*) OVER (ORDER BY k
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
               THEN CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
                 OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                 AS DOUBLE) / 7 END AS trend
           FROM srs),
         ph AS (SELECT *, (pos - 1) % 7 AS phase FROM t),
         pm AS (SELECT phase,
             CAST(sum(CAST(round(v - trend, 9) AS DECIMAL(38,9)))
               AS DOUBLE) / count(*) AS raw
           FROM ph WHERE trend IS NOT NULL GROUP BY 1),
         off AS (SELECT CAST(sum(CAST(round(raw, 9) AS DECIMAL(38,9)))
             AS DOUBLE) / count(*) AS soff FROM pm),
         ce AS (SELECT phase, round(raw - soff, 9) AS seas FROM pm, off)
         SELECT ph.k AS day, round(ph.v, 6) AS value,
           round(trend, 6) AS trend, round(seas, 6) AS seasonal,
           round(CASE WHEN trend IS NOT NULL
             THEN ph.v - trend - seas END, 6) AS residual
         FROM ph LEFT JOIN ce USING (phase) ORDER BY day""",

    // the same fold with per-step 9-grid rounding; 1−α and 1−β stay
    // written as subtractions (the IEEE value of 1.0-0.3 is not the
    // literal 0.7); the init b₁ = x₂−x₁ inlines as a CASE on the step
    // counter; state rides a LIST [l, b, n] — DuckDB 1.0.0 miscompiles
    // STRUCT-state list_reduce lambdas (fields cross-contaminate),
    // list state folds correctly
    "q215_holt" ->
      """WITH srs AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         s AS (SELECT g, list(round(CAST(v AS DECIMAL(28,9)), 9)::DOUBLE
             ORDER BY day) AS vs FROM srs GROUP BY 1),
         st AS (SELECT g, list_reduce(
             list_transform(vs, x -> [x, 0.0, 1.0]),
             (acc, x) -> [
               round(0.5*x[1] + (1.0 - 0.5)*(acc[1] +
                 (CASE WHEN acc[3] = 1.0 THEN x[1] - acc[1]
                   ELSE acc[2] END)), 9),
               round(0.3*(0.5*(x[1] - acc[1]) + (1.0 - 0.5)
                   *(CASE WHEN acc[3] = 1.0 THEN x[1] - acc[1]
                     ELSE acc[2] END))
                 + (1.0 - 0.3)*(CASE WHEN acc[3] = 1.0
                   THEN x[1] - acc[1] ELSE acc[2] END), 9),
               acc[3] + 1.0]) AS fold
           FROM s)
         SELECT g AS event_type, CAST(h AS INT) AS h,
           round(fold[1] + h * fold[2], 6) AS forecast
         FROM st, unnest([1, 2, 3]) AS u(h)
         ORDER BY event_type, h""",

    // the q215 list-state fold extended to [l, b, s1..s7]: classical
    // two-period init (left-folded 0.0-seeded means), every update
    // re-rounded to the 9-grid; 1−β / 1−γ written as subtractions
    // (IEEE 1.0-0.3 ≠ literal 0.7 — the q215 convention)
    "q236_holt_winters" ->
      """WITH srs AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         s AS (SELECT g, list(round(CAST(v AS DECIMAL(28,9)), 9)::DOUBLE
             ORDER BY day) AS vs FROM srs GROUP BY 1),
         ok AS (SELECT * FROM s WHERE len(vs) >= 14),
         init AS (SELECT g, vs,
             round((((((((0.0+vs[1])+vs[2])+vs[3])+vs[4])+vs[5])+vs[6])+vs[7])/7, 9) AS l0,
             round((((((((0.0+vs[8])+vs[9])+vs[10])+vs[11])+vs[12])+vs[13])+vs[14])/7, 9) AS m2
           FROM ok),
         init2 AS (SELECT g, vs, l0,
             round((m2 - l0)/7, 9) AS b0,
             list_transform(list_slice(vs, 1, 7),
               x -> round(x - l0, 9)) AS s0
           FROM init),
         st AS (SELECT g, list_reduce(
             list_concat([list_concat([l0, b0], s0)],
               list_transform(list_slice(vs, 8, len(vs)), x -> [x])),
             (acc, x) -> list_concat([
                 round(0.5*(x[1] - acc[3]) + (1.0 - 0.5)*(acc[1] + acc[2]), 9),
                 round(0.3*(round(0.5*(x[1] - acc[3]) + (1.0 - 0.5)*(acc[1] + acc[2]), 9) - acc[1])
                   + (1.0 - 0.3)*acc[2], 9)],
               list_concat(list_slice(acc, 4, 9),
                 [round(0.4*(x[1] - round(0.5*(x[1] - acc[3]) + (1.0 - 0.5)*(acc[1] + acc[2]), 9))
                   + (1.0 - 0.4)*acc[3], 9)]))) AS fold
           FROM init2)
         SELECT g AS event_type, CAST(h AS INT) AS h,
           round(fold[1] + h * fold[2] + fold[((h - 1) % 7) + 3], 6) AS forecast
         FROM st, unnest([1, 2, 3]) AS u(h)
         ORDER BY event_type, h""",

    // same cell-table pair counting in DECIMAL(38,0); tie pairs via the
    // exact even division t(t-1)/2
    "q216_kendall" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_linenumber AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
         cell AS (SELECT x, y, count(*) AS c FROM r GROUP BY 1, 2),
         p AS (SELECT
             sum(CASE WHEN a.y < b.y
               THEN CAST(a.c * b.c AS DECIMAL(38,0)) END) AS cc,
             sum(CASE WHEN a.y > b.y
               THEN CAST(a.c * b.c AS DECIMAL(38,0)) END) AS dd
           FROM cell a JOIN cell b ON a.x < b.x),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
         t1 AS (SELECT sum(CAST((t * (t - 1)) // 2 AS DECIMAL(38,0))) AS n1
           FROM (SELECT sum(c) AS t FROM cell GROUP BY x)),
         t2 AS (SELECT sum(CAST((t * (t - 1)) // 2 AS DECIMAL(38,0))) AS n2
           FROM (SELECT sum(c) AS t FROM cell GROUP BY y)),
         f AS (SELECT n.n, coalesce(p.cc, 0) AS cc, coalesce(p.dd, 0) AS dd,
             CAST((n.n * (n.n - 1)) // 2 AS DECIMAL(38,0)) AS n0, n1, n2
           FROM p, n, t1, t2)
         SELECT n, CAST(cc AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           round(CASE WHEN CAST(n0 - n1 AS DOUBLE) > 0
               AND CAST(n0 - n2 AS DOUBLE) > 0
             THEN (CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
               / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
             END, 6) AS tau_b
         FROM f""",

    // same DENSIFIED r x c grid (zero cells contribute e), 9-grid terms
    "q217_cramers_v" ->
      """WITH j AS (SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         cell AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS o
           FROM j GROUP BY 1, 2),
         rt AS (SELECT a, sum(o) AS rt FROM cell GROUP BY 1),
         ct AS (SELECT b, sum(o) AS ct FROM cell GROUP BY 1),
         dims AS (SELECT sum(o) AS n, count(DISTINCT a) AS r,
             count(DISTINCT b) AS c FROM cell),
         g AS (SELECT rt.rt, ct.ct, coalesce(cell.o, 0.0) AS o
           FROM rt CROSS JOIN ct
           LEFT JOIN cell ON cell.a = rt.a AND cell.b = ct.b),
         chi AS (SELECT dims.n, dims.r, dims.c,
             sum(CAST(round((o - rt * ct / dims.n) * (o - rt * ct / dims.n)
               / (rt * ct / dims.n), 9) AS DECIMAL(38,9))) AS chi2
           FROM g, dims GROUP BY 1, 2, 3)
         SELECT CAST(n AS BIGINT) AS n, r, c,
           round(CAST(chi2 AS DOUBLE), 4) AS chi2,
           round(CASE WHEN least(r - 1, c - 1) > 0
             THEN sqrt(CAST(chi2 AS DOUBLE)
               / (n * CAST(least(r - 1, c - 1) AS DOUBLE))) END, 6) AS v
         FROM chi""",

    // the q193 cell/margin/entropy grids verbatim, plus the two
    // directional divisions
    "q218_theil_u" ->
      """WITH cell AS (SELECT lang AS a, source AS b, count(*) AS c
            FROM documents GROUP BY 1, 2),
         ma AS (SELECT a, sum(c) AS ca FROM cell GROUP BY 1),
         mb AS (SELECT b, sum(c) AS cb FROM cell GROUP BY 1),
         nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
         mi AS (SELECT CAST(sum(CAST(round(
              (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE)
                * CAST(n AS DOUBLE)
                / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS mi
           FROM cell JOIN ma USING (a) JOIN mb USING (b), nn),
         ha AS (SELECT CAST(sum(CAST(round(
              -(CAST(ca AS DOUBLE) / n) * ln(CAST(ca AS DOUBLE) / n), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS h FROM ma, nn),
         hb AS (SELECT CAST(sum(CAST(round(
              -(CAST(cb AS DOUBLE) / n) * ln(CAST(cb AS DOUBLE) / n), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS h FROM mb, nn)
         SELECT n, round(mi, 4) AS mi,
           round(CASE WHEN ha.h > 0.0 THEN mi / ha.h END, 4)
             AS u_a_given_b,
           round(CASE WHEN hb.h > 0.0 THEN mi / hb.h END, 4)
             AS u_b_given_a
         FROM nn, mi, ha, hb""",

    // the suffix-weight table W(m) is generated by the SAME Scala
    // computation the engine uses, serialized round-trip-exact
    "q214_rbo" -> {
      val ws = graft.operators.Eval.rboWeights(50, 0.9)
        .map(_.toString).mkString(", ")
      s"""WITH sp AS (SELECT o_custkey AS i,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
           FROM orders GROUP BY 1),
         ct AS (SELECT o_custkey AS i, CAST(count(*) AS DOUBLE) AS s
           FROM orders GROUP BY 1),
         ra AS (SELECT i, row_number() OVER (ORDER BY s DESC, i ASC) AS r
           FROM sp ORDER BY s DESC, i ASC LIMIT 50),
         rb AS (SELECT i, row_number() OVER (ORDER BY s DESC, i ASC) AS r
           FROM ct ORDER BY s DESC, i ASC LIMIT 50),
         j AS (SELECT CAST(round(list_extract([$ws],
             CAST(greatest(ra.r, rb.r) AS INT)), 9) AS DECIMAL(38,9)) AS w
           FROM ra JOIN rb USING (i))
         SELECT CAST(count(*) AS BIGINT) AS n_common,
           round((1.0 - 0.9) * coalesce(CAST(sum(w) AS DOUBLE), 0.0), 6)
             AS rbo
         FROM j"""
    },

    // identical min-max 255-grid ranks and explicit 16-term interleave
    // (disjoint bit positions, so + ≡ |)
    "q204_zorder" -> {
      val zterms = (for (j <- 0 to 1; i <- 0 until 8)
        yield s"(((r$j >> $i) & 1) << ${i * 2 + j})").mkString(" + ")
      s"""WITH b AS (SELECT min(value) AS lov, max(value) AS hiv,
             CAST(min(user_id) AS DOUBLE) AS lou,
             CAST(max(user_id) AS DOUBLE) AS hiu FROM events),
         r AS (SELECT event_id,
             CASE WHEN hiv > lov THEN CAST(floor((value - lov)
               / (hiv - lov) * 255) AS BIGINT) ELSE 0 END AS r0,
             CASE WHEN hiu > lou THEN CAST(floor((CAST(user_id AS DOUBLE)
               - lou) / (hiu - lou) * 255) AS BIGINT) ELSE 0 END AS r1
           FROM events, b)
         SELECT event_id, CAST($zterms AS BIGINT) AS z
         FROM r ORDER BY z DESC, event_id LIMIT 100"""
    },

    // same descending-threshold step integral on the score grid; each
    // level term (Δrecall · precision) 9-grid rounded, DECIMAL-summed
    "q205_avg_precision" ->
      """WITH r AS (SELECT event_type AS g,
             CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS y, value AS s
           FROM events WHERE value IS NOT NULL),
         lvl AS (SELECT g, s, sum(y) AS p, sum(1 - y) AS q
           FROM r GROUP BY 1, 2),
         wk AS (SELECT g, s, p, q,
             sum(p) OVER (PARTITION BY g ORDER BY s DESC) AS cp,
             sum(p + q) OVER (PARTITION BY g ORDER BY s DESC) AS ct
           FROM lvl),
         tot AS (SELECT g, sum(p) AS np, sum(q) AS nq FROM lvl GROUP BY 1),
         terms AS (SELECT w.g, np, nq,
             CASE WHEN np > 0 THEN CAST(round(
               (CAST(p AS DOUBLE) / np) * (CAST(cp AS DOUBLE) / ct), 9)
               AS DECIMAL(38,9)) END AS term
           FROM wk w JOIN tot USING (g))
         SELECT g AS event_type, CAST(np AS BIGINT) AS n_pos,
           CAST(nq AS BIGINT) AS n_neg,
           round(CASE WHEN np > 0 THEN CAST(sum(term) AS DOUBLE) END, 6)
             AS avg_precision
         FROM terms GROUP BY g, np, nq ORDER BY event_type""",

    // same full-outer item join, per-item ½·KL terms to the midpoint on
    // the 9-grid (absent side → finite ln 2 limit, the JSD point)
    "q206_jsd" ->
      """WITH ta AS (SELECT unnest(list_filter(
             string_split_regex(trim(text), '\s+'), x -> x <> '')) AS i
           FROM documents WHERE doc_id % 2 = 0),
         tb AS (SELECT unnest(list_filter(
             string_split_regex(trim(text), '\s+'), x -> x <> '')) AS i
           FROM documents WHERE doc_id % 2 = 1),
         ca AS (SELECT i, count(*) AS ca FROM ta GROUP BY 1),
         cb AS (SELECT i, count(*) AS cb FROM tb GROUP BY 1),
         j AS (SELECT coalesce(ca.i, cb.i) AS i, coalesce(ca, 0) AS ca,
             coalesce(cb, 0) AS cb
           FROM ca FULL JOIN cb ON ca.i = cb.i),
         t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j),
         f AS (SELECT na, nb, ca / CAST(na AS DOUBLE) AS p,
             cb / CAST(nb AS DOUBLE) AS q FROM j, t),
         terms AS (SELECT na, nb, CAST(round(
             (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) * 0.5
               ELSE 0.0 END) +
             (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) * 0.5
               ELSE 0.0 END), 9) AS DECIMAL(38,9)) AS term FROM f)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(count(*) AS BIGINT) AS items,
           round(CAST(sum(term) AS DOUBLE), 6) AS jsd
         FROM terms GROUP BY na, nb""",

    // same per-group sufficient stats in DECIMAL, per-group s²/n ratios
    // 9-grid rounded before the k-row fold
    "q207_anova_f" ->
      """WITH r AS (SELECT event_type AS g, value AS v FROM events
           WHERE value IS NOT NULL),
         per AS (SELECT g, count(*) AS n,
             sum(CAST(round(v, 9) AS DECIMAL(38,9))) AS s,
             sum(CAST(round(v * v, 9) AS DECIMAL(38,9))) AS q
           FROM r GROUP BY 1),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n, sum(s) AS ts, sum(q) AS tq,
             sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 9)
               AS DECIMAL(38,9))) AS tb
           FROM per)
         SELECT k, n,
           round(CASE WHEN k >= 2 AND n > k
               AND CAST(tq AS DOUBLE) - CAST(tb AS DOUBLE) > 0
             THEN ((CAST(tb AS DOUBLE) - CAST(ts AS DOUBLE)
                 * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(k AS DOUBLE) - 1.0))
               / ((CAST(tq AS DOUBLE) - CAST(tb AS DOUBLE))
               / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) END, 6) AS f_stat,
           round(CASE WHEN CAST(tq AS DOUBLE) - CAST(ts AS DOUBLE)
               * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) > 0
             THEN (CAST(tb AS DOUBLE) - CAST(ts AS DOUBLE)
                 * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(tq AS DOUBLE) - CAST(ts AS DOUBLE)
                 * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) AS eta_sq
         FROM f""",

    // ceil-rank order statistic off the residual grid's cumulative
    // walk; q-hat broadcasts onto the scoring rows
    "q237_conformal" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             l_extendedprice AS y,
             CAST(l_quantity AS DOUBLE) * 1000.0 AS yhat,
             l_orderkey || '_' || l_linenumber AS rid
           FROM lineitem),
         cal AS (SELECT abs(CAST(y AS DOUBLE) - yhat) AS r FROM li
           WHERE l_orderkey % 5 = 0
             AND y IS NOT NULL AND yhat IS NOT NULL),
         lvl AS (SELECT r, count(*) AS c FROM cal GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM lvl),
         w AS (SELECT r, sum(c) OVER (ORDER BY r) AS cum FROM lvl),
         q AS (SELECT min(r) AS q FROM w, n
           WHERE cum >= CAST(ceil((n + 1) * (1.0 - 0.1)) AS BIGINT))
         SELECT rid, yhat, round(yhat - q, 6) AS lo,
           round(yhat + q, 6) AS hi
         FROM li, q WHERE l_orderkey % 5 = 1 AND l_linenumber = 1
         ORDER BY rid, yhat""",

    // best-per-side via rank windows (oracle side); reciprocity = join
    // of the two one-sided winners
    "q234_reciprocal_match" ->
      """WITH scored AS (SELECT c_name, s_name,
             round(jaro_winkler_similarity(c_name, s_name), 4) AS jw
           FROM customer, supplier),
         bc AS (SELECT c_name, s_name, jw FROM (
             SELECT *, row_number() OVER (PARTITION BY c_name
               ORDER BY jw DESC, s_name) AS rk FROM scored)
           WHERE rk = 1),
         bs AS (SELECT c_name, s_name FROM (
             SELECT *, row_number() OVER (PARTITION BY s_name
               ORDER BY jw DESC, c_name) AS rk FROM scored)
           WHERE rk = 1)
         SELECT bc.c_name, bc.s_name, bc.jw
         FROM bc JOIN bs ON bc.c_name = bs.c_name AND bc.s_name = bs.s_name
         ORDER BY bc.c_name""",

    // q183's cell arithmetic → p surrogate → ascending rank window +
    // reverse suffix min, clamped at 1
    "q235_bh_adjust" ->
      """WITH j AS (
           SELECT c.c_mktsegment, o.o_orderpriority
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         cell AS (SELECT c_mktsegment, o_orderpriority,
                    CAST(count(*) AS DOUBLE) AS obs FROM j GROUP BY 1, 2),
         rt AS (SELECT c_mktsegment, sum(obs) AS rt FROM cell GROUP BY 1),
         ct AS (SELECT o_orderpriority, sum(obs) AS ct FROM cell GROUP BY 1),
         n AS (SELECT sum(obs) AS n FROM cell),
         tests AS (SELECT
             cell.c_mktsegment || '_' || cell.o_orderpriority AS test_id,
             round(1.0 / (1.0 + round(
               (obs - rt.rt * ct.ct / n.n)*(obs - rt.rt * ct.ct / n.n)
                 / (rt.rt * ct.ct / n.n), 4)), 6) AS p
           FROM cell JOIN rt USING (c_mktsegment)
             JOIN ct USING (o_orderpriority), n),
         ranked AS (SELECT test_id, p,
             row_number() OVER (ORDER BY p, test_id) AS rank,
             count(*) OVER () AS m
           FROM tests WHERE p IS NOT NULL),
         cand AS (SELECT *, p * m / rank AS c FROM ranked),
         adj AS (SELECT *, min(c) OVER (ORDER BY rank DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm
           FROM cand)
         SELECT test_id, p, CAST(rank AS BIGINT) AS rank,
           round(least(sm, 1.0), 6) AS p_adj
         FROM adj ORDER BY rank""",

    // one stats block per pair (values-only oracle; the engine fuses
    // all pairs into one aggregation pass), identical 9-grid DECIMAL
    // sums and pinned closed-form association
    "q231_corr_matrix" ->
      """WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
             CAST(l_extendedprice AS DOUBLE) AS e,
             CAST(l_discount AS DOUBLE) AS di,
             CAST(l_tax AS DOUBLE) AS tx FROM lineitem),
         pqe AS (SELECT count(*) AS n,
             sum(CAST(round(q,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(e,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(q*e,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(q*q,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(e*e,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE q IS NOT NULL AND e IS NOT NULL),
         pqd AS (SELECT count(*) AS n,
             sum(CAST(round(q,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(di,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(q*di,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(q*q,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(di*di,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE q IS NOT NULL AND di IS NOT NULL),
         pqt AS (SELECT count(*) AS n,
             sum(CAST(round(q,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(tx,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(q*tx,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(q*q,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(tx*tx,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE q IS NOT NULL AND tx IS NOT NULL),
         ped AS (SELECT count(*) AS n,
             sum(CAST(round(e,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(di,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(e*di,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(e*e,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(di*di,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE e IS NOT NULL AND di IS NOT NULL),
         pet AS (SELECT count(*) AS n,
             sum(CAST(round(e,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(tx,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(e*tx,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(e*e,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(tx*tx,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE e IS NOT NULL AND tx IS NOT NULL),
         pdt AS (SELECT count(*) AS n,
             sum(CAST(round(di,9) AS DECIMAL(38,9))) AS sx, sum(CAST(round(tx,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(di*tx,9) AS DECIMAL(38,9))) AS sxy,
             sum(CAST(round(di*di,9) AS DECIMAL(38,9))) AS sxx, sum(CAST(round(tx*tx,9) AS DECIMAL(38,9))) AS syy
           FROM l WHERE di IS NOT NULL AND tx IS NOT NULL),
         allp AS (
           SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, * FROM pqe
           UNION ALL SELECT 'l_quantity', 'l_discount', * FROM pqd
           UNION ALL SELECT 'l_quantity', 'l_tax', * FROM pqt
           UNION ALL SELECT 'l_extendedprice', 'l_discount', * FROM ped
           UNION ALL SELECT 'l_extendedprice', 'l_tax', * FROM pet
           UNION ALL SELECT 'l_discount', 'l_tax', * FROM pdt),
         v AS (SELECT *,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
           FROM allp)
         SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
           round(CASE WHEN n >= 2 AND vx > 0 AND vy > 0 THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(vx) * sqrt(vy)) END, 6) AS corr
         FROM v ORDER BY col_a, col_b""",

    // pooled theta from one sufficient-stats pass, per-variant means,
    // pinned double association throughout
    "q232_cuped" ->
      """WITH units AS (SELECT
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CAST(coalesce(sum(CASE WHEN day(ts) > 15
               THEN CAST(value AS DECIMAL(18,2)) END), 0.0) AS DOUBLE) AS y,
             CAST(coalesce(sum(CASE WHEN day(ts) <= 15
               THEN CAST(value AS DECIMAL(18,2)) END), 0.0) AS DOUBLE) AS x
           FROM events GROUP BY user_id),
         pooled AS (SELECT count(*) AS pn,
             sum(CAST(round(x,9) AS DECIMAL(38,9))) AS psx,
             sum(CAST(round(y,9) AS DECIMAL(38,9))) AS psy,
             sum(CAST(round(x*x,9) AS DECIMAL(38,9))) AS psxx,
             sum(CAST(round(x*y,9) AS DECIMAL(38,9))) AS psxy
           FROM units),
         per AS (SELECT variant, count(*) AS n,
             sum(CAST(round(y,9) AS DECIMAL(38,9))) AS sy,
             sum(CAST(round(x,9) AS DECIMAL(38,9))) AS sx
           FROM units GROUP BY 1),
         fin AS (SELECT per.*, pn, psx, psy, psxx, psxy,
             CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE)
               - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) AS varx
           FROM per, pooled),
         fin2 AS (SELECT *, CASE WHEN varx > 0 THEN
             (CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE)
               - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE)) / varx END AS theta
           FROM fin)
         SELECT variant, CAST(n AS BIGINT) AS n,
           round(CAST(sy AS DOUBLE) / n, 6) AS mean_metric,
           round(CAST(sy AS DOUBLE) / n - theta
             * (CAST(sx AS DOUBLE) / n - CAST(psx AS DOUBLE) / pn), 6) AS adjusted_mean,
           round(theta, 6) AS theta
         FROM fin2 ORDER BY variant""",

    // the 3 GD steps unrolled (the q133 pattern): per step one
    // aggregation of 9-grid (y − σ)·x terms in DECIMAL(38,9), weight
    // update re-rounded to the 9-grid — bit-identical recursion replay
    "q227_logistic_gd" ->
      """WITH data AS (SELECT
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
             CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
             CAST(l_discount AS DOUBLE) * 10.0 AS x2
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
             AND l_discount IS NOT NULL),
         g1 AS (SELECT
             sum(CAST(round(y - round(1.0/(1.0+exp(-(0.0 + x1*0.0 + x2*0.0))),9),9) AS DECIMAL(38,9))) AS g0,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(0.0 + x1*0.0 + x2*0.0))),9))*x1,9) AS DECIMAL(38,9))) AS gx1,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(0.0 + x1*0.0 + x2*0.0))),9))*x2,9) AS DECIMAL(38,9))) AS gx2,
             count(*) AS n
           FROM data),
         w1 AS (SELECT round(0.0 + 0.5*(CAST(g0 AS DOUBLE)/n),9) AS a,
             round(0.0 + 0.5*(CAST(gx1 AS DOUBLE)/n),9) AS b,
             round(0.0 + 0.5*(CAST(gx2 AS DOUBLE)/n),9) AS c FROM g1),
         g2 AS (SELECT
             sum(CAST(round(y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9),9) AS DECIMAL(38,9))) AS g0,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9))*x1,9) AS DECIMAL(38,9))) AS gx1,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9))*x2,9) AS DECIMAL(38,9))) AS gx2,
             count(*) AS n
           FROM data, w1),
         w2 AS (SELECT round(a + 0.5*(CAST(g0 AS DOUBLE)/n),9) AS a,
             round(b + 0.5*(CAST(gx1 AS DOUBLE)/n),9) AS b,
             round(c + 0.5*(CAST(gx2 AS DOUBLE)/n),9) AS c
           FROM g2, w1),
         g3 AS (SELECT
             sum(CAST(round(y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9),9) AS DECIMAL(38,9))) AS g0,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9))*x1,9) AS DECIMAL(38,9))) AS gx1,
             sum(CAST(round((y - round(1.0/(1.0+exp(-(a + x1*b + x2*c))),9))*x2,9) AS DECIMAL(38,9))) AS gx2,
             count(*) AS n
           FROM data, w2),
         w3 AS (SELECT round(a + 0.5*(CAST(g0 AS DOUBLE)/n),9) AS a,
             round(b + 0.5*(CAST(gx1 AS DOUBLE)/n),9) AS b,
             round(c + 0.5*(CAST(gx2 AS DOUBLE)/n),9) AS c
           FROM g3, w2)
         SELECT term, weight FROM (
           SELECT 'intercept' AS term, a AS weight FROM w3
           UNION ALL SELECT 'x1', b FROM w3
           UNION ALL SELECT 'x2', c FROM w3)
         ORDER BY term""",

    // the q194 score-level integer rank arithmetic plus the exact tie
    // term Σ t(t−1)(t+1); one final double division + sqrt
    "q223_mann_whitney" ->
      """WITH r AS (SELECT (event_type = 'purchase') AS a, value AS v
           FROM events
           WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
         lvl AS (SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS p,
             sum(CASE WHEN a THEN 0 ELSE 1 END) AS q
           FROM r GROUP BY 1),
         w AS (SELECT p, q, p + q AS t,
             sum(p + q) OVER (ORDER BY v) AS cum FROM lvl),
         terms AS (SELECT p, q, t,
             CAST(p AS DECIMAL(38,0))
               * CAST(2 * (cum - t) + t + 1 AS DECIMAL(38,0)) AS u2,
             CAST(t AS DECIMAL(38,0)) * CAST(t - 1 AS DECIMAL(38,0))
               * CAST(t + 1 AS DECIMAL(38,0)) AS tie
           FROM w),
         agg AS (SELECT sum(p) AS na, sum(q) AS nb,
             sum(u2) AS s2, sum(tie) AS tt FROM terms),
         fin AS (SELECT na, nb, tt, na + nb AS nn,
             s2 - CAST(na AS DECIMAL(38,0))
               * CAST(na + 1 AS DECIMAL(38,0)) AS twou
           FROM agg),
         vr AS (SELECT *, CAST(na AS DOUBLE) * nb / 12.0
             * (CAST(nn + 1 AS DOUBLE) - CAST(tt AS DOUBLE)
               / (CAST(nn AS DOUBLE) * (nn - 1))) AS var FROM fin)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(CAST(twou AS DOUBLE) / 2.0, 1) AS u,
           round(CASE WHEN na > 0 AND nb > 0 AND var > 0 THEN
             (CAST(twou AS DOUBLE) - CAST(na AS DOUBLE) * nb)
               / (2.0 * sqrt(var)) END, 6) AS z
         FROM vr""",

    // distinct-duration-grid walk: at-risk from cumulative level sizes,
    // survival = exp of the DECIMAL(38,9) sum of 9-grid ln(1 - d/n)
    // terms; the d = n final level pins to exactly 0
    "q224_kaplan_meier" ->
      """WITH per AS (SELECT user_id, min(ts) AS first_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts,
             max(ts) AS last_ts
           FROM events GROUP BY 1),
         r AS (SELECT CAST(user_id % 2 AS INT) AS g,
             CAST(date_diff('day', CAST(first_ts AS DATE),
               CAST(coalesce(conv_ts, last_ts) AS DATE)) AS INT) AS dur,
             CASE WHEN conv_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
           FROM per),
         lvl AS (SELECT g, dur, sum(ev) AS d, sum(1 - ev) AS c,
             count(*) AS t FROM r GROUP BY 1, 2),
         tot AS (SELECT g, sum(t) AS n FROM lvl GROUP BY 1),
         w1 AS (SELECT l.*, n,
             sum(t) OVER (PARTITION BY g ORDER BY dur) AS cumt
           FROM lvl l JOIN tot USING (g)),
         w2 AS (SELECT *, n - cumt + t AS nr,
             CASE WHEN d > 0 AND d < n - cumt + t
               THEN CAST(round(ln(1 - CAST(d AS DOUBLE)
                 / (n - cumt + t)), 9) AS DECIMAL(38,9))
               ELSE CAST(0 AS DECIMAL(38,9)) END AS term
           FROM w1),
         w3 AS (SELECT *,
             sum(term) OVER (PARTITION BY g ORDER BY dur) AS cumln
           FROM w2)
         SELECT g AS cohort, CAST(dur AS DOUBLE) AS duration,
           CAST(nr AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_event,
           CAST(c AS BIGINT) AS n_censored,
           round(CASE WHEN d = nr THEN 0.0
             ELSE exp(CAST(cumln AS DOUBLE)) END, 6) AS survival
         FROM w3 ORDER BY cohort, duration""",

    // latest log row per key decides (window rank), 'D' deletes,
    // untouched base keys pass through
    "q225_cdc_apply" ->
      """WITH base AS (SELECT c_custkey AS id, c_acctbal AS bal
           FROM customer),
         log AS (SELECT o_custkey AS id, o_orderdate, o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS bal
           FROM orders),
         latest AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
           FROM log)
         SELECT id, bal FROM (
           SELECT id, bal FROM base
            WHERE NOT EXISTS (SELECT 1 FROM log WHERE log.id = base.id)
           UNION ALL
           SELECT id, bal FROM latest WHERE rk = 1 AND op <> 'D')
         ORDER BY id""")
}
