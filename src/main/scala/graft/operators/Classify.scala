package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Trainable classifiers that stay inside the engine — the models a
  * curation pipeline trains ON its own corpus and applies AT corpus
  * scale (language ID, quality filtering, topic routing), built entirely
  * from joins and aggregations so training data never leaves the
  * cluster and scoring is a plan, not a service call.
  *
  * Everything here follows the engine's exactness discipline: model
  * parameters are ratios of exact integer counts, every logarithm
  * rounds to the 9-grid before it enters a sum, and sums accumulate in
  * DECIMAL(38,9) — so a trained model and its predictions are
  * bit-reproducible across partitionings and engines (these are
  * SQL-oracle-able classifiers, unusual and deliberate).
  */
object Classify {

  /** Multinomial Naive Bayes with Laplace smoothing, train + predict in
    * one composed plan — the classic high-throughput text classifier
    * (fastText-without-embeddings): P(c|d) ∝ P(c)·Π P(t|c)^tf, scored
    * in log space; P(t|c) = (count(t,c) + α) / (tokens(c) + α·V).
    *
    * Decisions a user must know:
    *  - Out-of-vocabulary score tokens DROP (the standard convention —
    *    a token no class has seen shifts every class equally under
    *    shared smoothing, so dropping changes no argmax);
    *  - a score document with NO in-vocab tokens falls back to the
    *    prior argmax (it still gets a prediction — silently losing rows
    *    in a curation filter would bias the corpus);
    *  - ties break toward the lexicographically smallest label,
    *    deterministically.
    *
    * Scale shape: training is one (label, token)-keyed count of the
    * train corpus; label totals, vocabulary size, and priors are
    * label-cardinality/1-row tables that BROADCAST. Scoring explodes
    * score docs to (doc, token, tf), multiplies by |labels| via a
    * broadcast join (labels are few; the fact-sized shuffle is the
    * (label, token) join against the model), and argmax is a map-side
    * combinable min(struct(−score, label)) — no windows anywhere.
    * Output: (idCol, label, nb_score) — the winning label and its joint
    * log-likelihood rounded to 4.
    */
  def naiveBayes(train: DataFrame, score: DataFrame, idCol: String,
                 textCol: String, labelCol: String,
                 smoothing: Double = 1.0): DataFrame = {
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val trainTok = train
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .select(col(labelCol).as("__l"),
        explode(TF.tokens(col(textCol))).as("__t"))
    val cnt = trainTok.groupBy(col("__l"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val labTot = cnt.groupBy(col("__l")).agg(sum(col("__c")).as("__tot"))
    val vocabSize = cnt.agg(countDistinct(col("__t")).as("__V"))
    val priors = train
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(labelCol).as("__l")).agg(count(lit(1)).as("__nl"))
    val priorsLog = priors
      .crossJoin(broadcast(priors.agg(sum(col("__nl")).as("__N"))))
      .select(col("__l"),
        round(log(col("__nl").cast("double") / col("__N")), 9)
          .as("__logprior"))
    // one broadcastable model-constants table: (label, tot, V, logprior)
    val labelStats = labTot
      .join(priorsLog, Seq("__l"))
      .crossJoin(broadcast(vocabSize))
    val vocab = cnt.select(col("__t")).distinct()

    val scoreTok = score
      .select(col(idCol).as("__id"),
        explode(TF.tokens(col(textCol))).as("__t"))
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
      .join(vocab, Seq("__t"), "left_semi") // OOV drops (see doc)
    val terms = scoreTok
      .crossJoin(broadcast(labelStats.select(col("__l"), col("__tot"), col("__V"))))
      .join(cnt, Seq("__l", "__t"), "left")
      .select(col("__id"), col("__l"),
        round(col("__tf") *
          round(log((coalesce(col("__c"), lit(0L)) + lit(smoothing)) /
            (col("__tot") + lit(smoothing) * col("__V"))), 9), 9)
          .cast("decimal(38,9)").as("__term"))
    val sums = terms.groupBy(col("__id"), col("__l"))
      .agg(sum(col("__term")).as("__s"))
    // every score doc × every label, so no-in-vocab-token docs still
    // get the prior argmax instead of vanishing
    val scored = score.select(col(idCol).as("__id")).distinct()
      .crossJoin(broadcast(labelStats.select(col("__l"), col("__logprior"))))
      .join(sums, Seq("__id", "__l"), "left")
      .select(col("__id"), col("__l"),
        (coalesce(col("__s").cast("double"), lit(0.0)) + col("__logprior"))
          .as("__score"))
    scored.groupBy(col("__id"))
      .agg(min(struct(negate(col("__score")).as("__neg"), col("__l"),
        col("__score"))).as("__best"))
      .select(col("__id").as(idCol),
        col("__best.__l").as("label"),
        round(col("__best.__score"), 4).as("nb_score"))
  }

  /** Best binary split of a numeric feature against a categorical
    * target by information gain — the decision-stump / split-finder
    * primitive (feature ranking, supervised discretization, the inner
    * loop of tree induction): over every candidate threshold v (the
    * distinct feature values), IG(v) = H(target) − [p_≤·H(target | x ≤ v)
    * + p_>·H(target | x > v)], maximized.
    *
    * Scale shape: one (value, class)-keyed count of the fact, then ALL
    * candidate thresholds evaluate together from cumulative class
    * counts over the distinct-VALUE grid (the [[Eval.rocAuc]] walk —
    * |values|·|classes| rows, never the corpus); entropies are Σ n·ln n
    * forms so every term is integer-count-derived, 9-grid rounded,
    * DECIMAL-summed. The top split (max gain, then smallest threshold)
    * returns as ONE row: (threshold, n_le, n_gt, info_gain rounded 6).
    * The maximal v (everything ≤ v) is excluded — it is not a split.
    * Null features/targets drop. */
  def infoGainSplit(df: DataFrame, featureCol: String,
                    targetCol: String): DataFrame = {
    val rows = df
      .filter(col(featureCol).isNotNull && col(targetCol).isNotNull)
      .select(col(featureCol).cast("double").as("__v"),
        col(targetCol).as("__y"))
    // the grid is |values|×|classes| — tiny by contract — and every
    // downstream branch (densify ×3, class totals, N) references it:
    // as a plain plan node each reference re-embeds the corpus
    // aggregation SUBTREE (plans are trees, not DAGs), which blew the
    // composed q246 plan to ~400 Exchange nodes and made these
    // queries' wall-time driver-bound (planning + AQE stage
    // orchestration: same seconds at sf0.001 as at sf0.1). A LAZY
    // local checkpoint shares one materialized grid across references
    // and truncates the lineage — values unchanged, one corpus agg.
    val cell = Materialize(rows.groupBy(col("__v"), col("__y"))
      .agg(count(lit(1)).as("__c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__y")).orderBy(col("__v"))
    // DENSIFY first: a class with no row at value v must still carry its
    // cumulative count into v's split evaluation — the sparse cell table
    // would silently drop it from the ≤-side totals
    val dense = cell.select(col("__v")).distinct()
      .crossJoin(broadcast(cell.select(col("__y")).distinct()))
      .join(cell, Seq("__v", "__y"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    // per (value, class): class count at or below this value
    val cum = dense.withColumn("__cum", sum(col("__c")).over(w))
    val classTot = cell.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
    val n = cell.agg(sum(col("__c")).as("__n"))
    // value-level: Σ over classes of x·ln(x) terms for the ≤ and > sides
    val xlnx = (c: Column) =>
      when(c > 0, round(c.cast("double") * log(c.cast("double")), 9))
        .otherwise(lit(0.0))
    val lvl = cum
      .join(broadcast(classTot), Seq("__y"))
      .groupBy(col("__v"))
      .agg(sum(col("__cum")).as("__nle"),
        sum(xlnx(col("__cum")).cast("decimal(38,9)")).as("__sle"),
        sum(xlnx(col("__cy") - col("__cum")).cast("decimal(38,9)"))
          .as("__sgt"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(classTot
        .agg(sum(xlnx(col("__cy")).cast("decimal(38,9)")).as("__sy"))))
      .filter(col("__nle") < col("__n")) // the all-≤ point is not a split
    // H(S) − Σ side (n_side/n)·H(side), with H from the n·ln n identity:
    // H = ln n_side − (1/n_side)·Σ_c x ln x ⇒ weighted form below
    val nle = col("__nle").cast("double")
    val ngt = (col("__n") - col("__nle")).cast("double")
    val nn = col("__n").cast("double")
    val gain =
      (col("__sy").cast("double") -
        col("__sle").cast("double") - col("__sgt").cast("double")) / nn -
      (log(nn) - (nle / nn) * log(nle) - (ngt / nn) * log(ngt))
    lvl
      .select(col("__v").as("threshold"),
        col("__nle").as("n_le"),
        (col("__n") - col("__nle")).as("n_gt"),
        round(-gain, 6).as("info_gain"))
      .groupBy()
      .agg(min(struct(negate(col("info_gain")).as("__ng"),
        col("threshold"), col("n_le"), col("n_gt"), col("info_gain")))
        .as("__best"))
      // no valid split (empty/constant input) ⇒ zero rows, matching the
      // oracle's `WHERE rk = 1` over an empty candidate set — NOT one
      // all-null row (groupBy().agg(min) over nothing yields null)
      .filter(col("__best").isNotNull)
      .select(col("__best.threshold").as("threshold"),
        col("__best.n_le").as("n_le"),
        col("__best.n_gt").as("n_gt"),
        col("__best.info_gain").as("info_gain"))
  }

  /** Quantile (pinball-loss) regression by full-batch subgradient
    * descent — [[logisticGD]]'s loss swapped for ρ_τ: the fit targets
    * the τ-QUANTILE of y given x instead of a probability, which is
    * what latency SLOs ("the p95 under load x"), cost envelopes and
    * robust trend bands actually ask for; τ = 0.5 is median (LAD)
    * regression, the outlier-immune alternative to [[Features]]' OLS.
    * The subgradient of ρ_τ(y − ŷ) in ŷ is (1[y ≤ ŷ] − τ), so the
    * ascent step is w ← w + η·Σ x·(τ − 1[y ≤ ŷ])/n — no sigmoid, the
    * indicator IS the per-row error term.
    *
    * Same execution and determinism discipline as [[logisticGD]]
    * (fixed iteration budget; weights ride a 1-row broadcast, never a
    * driver collect; one map-side-combinable aggregation per
    * iteration; per-iteration localCheckpoint kills the exponential
    * lineage): the margin folds left in double, rounds to the 9-grid
    * BEFORE the y ≤ ŷ comparison (so the indicator — a discontinuous
    * function of the margin — resolves identically on every engine),
    * per-row terms round to the 9-grid into DECIMAL(38,9) sums, and
    * each update re-rounds. Features pre-scaled to O(1) as usual.
    * Output: ("intercept", w0) then each feature by name, ordered. */
  def quantileGD(df: DataFrame, targetCol: String,
                 featureCols: Seq[String], tau: Double, lr: Double,
                 iters: Int): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0,1), got $tau")
    require(lr > 0, s"learning rate must be positive, got $lr")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = featureCols.size
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    val data = Materialize(df
      .filter(col(targetCol).isNotNull &&
        featureCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(targetCol).cast("double").as("__y") +:
        featureCols.zipWithIndex.map { case (f, i) =>
          col(f).cast("double").as(s"__x$i")
        }: _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism),
      eager = true)
    val w0 = data.sparkSession.range(1)
      .select((0 to d).map(j => lit(0.0).as(s"__w$j")): _*)
    val wFinal = (1 to iters).foldLeft(w0) { (w, _) =>
      val joined = data.crossJoin(broadcast(w))
      val z = (0 until d).foldLeft(col("__w0")) { (acc, i) =>
        acc + col(s"__x$i") * col(s"__w${i + 1}")
      }
      val e = lit(tau) -
        when(col("__y") <= round(z, 9), 1.0).otherwise(0.0)
      val grads = joined.agg(
        sum(dec9(e)).as("__g0"),
        (1 to d).map(j =>
          sum(dec9(e * col(s"__x${j - 1}"))).as(s"__g$j")) :+
          count(lit(1)).as("__n"): _*)
      Materialize(w.crossJoin(grads).select((0 to d).map(j =>
        round(col(s"__w$j") + lit(lr) *
          (col(s"__g$j").cast("double") / col("__n")), 9)
          .as(s"__w$j")): _*), eager = true)
    }
    val terms = "intercept" +: featureCols
    val stackArgs = terms.zipWithIndex
      .map { case (t, j) => s"'${t.replace("'", "''")}', __w$j" }
      .mkString(", ")
    wFinal
      .selectExpr(s"stack(${d + 1}, $stackArgs) AS (term, weight)")
      .orderBy(col("term"))
  }

  /** Depth-2 decision tree over one numeric feature — [[infoGainSplit]]
    * applied recursively: the root split partitions the rows, then each
    * side gets its own best split, yielding the 3-node model table a
    * supervised discretizer or shallow-tree baseline needs (4 leaf
    * intervals from 3 thresholds). Deeper trees iterate the same move —
    * each LEVEL costs two corpus aggregations regardless of node count,
    * because sibling nodes partition the rows and evaluate in the same
    * pass here (left and right evaluate separately only because their
    * filters are complementary scans of the same cached projection).
    *
    * The root threshold never touches the driver: it rides a 1-row
    * broadcast cross join into the child filters (the logisticGD
    * no-collect discipline). A node with no valid split (pure target,
    * single distinct value, or empty side) simply emits no row — the
    * [[infoGainSplit]] empty-contract — so output is 1–3 rows:
    * (node ∈ root/le/gt, threshold, n_le, n_gt, info_gain), ordered by
    * node. Null features/targets drop once, up front. */
  def decisionTreeDepth2(df: DataFrame, featureCol: String,
                         targetCol: String): DataFrame = {
    // one narrow pass over the fact, shared by the root and both child
    // evaluations (lazy local checkpoint: the root's grid agg
    // materializes it, the children read blocks instead of re-scanning
    // — the logisticGD projection-pinning move, and it keeps the root
    // split's whole plan from re-embedding under each child)
    val rows = Materialize(df
      .filter(col(featureCol).isNotNull && col(targetCol).isNotNull)
      .select(col(featureCol).cast("double").as("__v"),
        col(targetCol).as("__y")))
    val root = Materialize(infoGainSplit(rows, "__v", "__y"))
    val rt = broadcast(root.select(col("threshold").as("__rt")))
    val le = infoGainSplit(
      rows.crossJoin(rt).filter(col("__v") <= col("__rt")), "__v", "__y")
    val gt = infoGainSplit(
      rows.crossJoin(rt).filter(col("__v") > col("__rt")), "__v", "__y")
    root.withColumn("node", lit("root"))
      .unionByName(le.withColumn("node", lit("le")))
      .unionByName(gt.withColumn("node", lit("gt")))
      .select(col("node"), col("threshold"), col("n_le"), col("n_gt"),
        col("info_gain"))
  }

  /** Logistic regression by full-batch gradient descent, fixed
    * iteration budget — the calibrated-probability counterpart to
    * [[naiveBayes]] for NUMERIC features (quality scores, length
    * ratios, retrieval signals): w ← w + η·Σ(y − σ(w·x))·x / n per
    * step from w = 0, returning the weight vector as an auditable
    * (term, weight) table (the [[Features.targetEncode]] convention —
    * emit the model, not a fattened corpus; scoring is then one
    * narrow projection the caller composes).
    *
    * A fixed iteration count, not a convergence test, for the same
    * reason as [[graft.operators.Graph.pageRank]]: a data-dependent
    * stopping rule makes results irreproducible across runs and
    * engines. Each iteration is ONE map-side-combinable aggregation
    * over the data with the current weights riding a broadcast
    * (1-row cross join — never a driver collect in the loop), so the
    * whole fit is `iters` sequential corpus passes and nothing else;
    * features should be pre-scaled to O(1) (the standard GD contract)
    * or the sigmoid saturates.
    *
    * Determinism (what makes a GD fit SQL-oracle-able at all): the
    * margin folds left in double (w0 + x1·w1 + … — pinned
    * association), σ rounds to the 9-grid, per-row gradient terms
    * round to the 9-grid and accumulate in DECIMAL(38,9), and each
    * weight update re-rounds to the 9-grid — so every iteration's
    * weights are bit-identical across partitionings and engines and
    * the DuckDB oracle replays the unrolled recursion exactly.
    *
    * Contract: null labels/features drop; label casts to int, nonzero
    * = positive. Output: one row per term — ("intercept", w0) then
    * each feature column by name — ordered by term. */
  def logisticGD(df: DataFrame, labelCol: String,
                 featureCols: Seq[String], lr: Double = 0.5,
                 iters: Int = 3): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(lr > 0, s"learning rate must be positive, got $lr")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = featureCols.size
    val dec9 = (c: Column) => round(c, 9).cast("decimal(38,9)")
    // spread the per-iteration sigmoid + DECIMAL gradient accumulation
    // across the cluster (a small parquet source scans as one split and
    // would run every pass on one core — the correlationMatrix fix),
    // and pin the narrow projection so each pass rescans 3 columns, not
    // the source table
    val data = Materialize(df
      .filter(col(labelCol).isNotNull &&
        featureCols.map(col(_).isNotNull).reduce(_ && _))
      .select((col(labelCol).cast("int") =!= 0).cast("double").as("__y") +:
        featureCols.zipWithIndex.map { case (f, i) =>
          col(f).cast("double").as(s"__x$i")
        }: _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism),
      eager = true)
    val w0 = data.sparkSession.range(1)
      .select((0 to d).map(j => lit(0.0).as(s"__w$j")): _*)
    val wFinal = (1 to iters).foldLeft(w0) { (w, _) =>
      val joined = data.crossJoin(broadcast(w))
      val z = (0 until d).foldLeft(col("__w0")) { (acc, i) =>
        acc + col(s"__x$i") * col(s"__w${i + 1}")
      }
      val e = col("__y") - round(lit(1.0) / (lit(1.0) + exp(-z)), 9)
      val grads = joined.agg(
        sum(dec9(e)).as("__g0"),
        (1 to d).map(j =>
          sum(dec9(e * col(s"__x${j - 1}"))).as(s"__g$j")) :+
          count(lit(1)).as("__n"): _*)
      // materialize the 1-row weight table per iteration (the pageRank
      // lineage-truncation discipline): w_k is referenced twice (the
      // next gradient's broadcast AND the next update's projection), so
      // an unmaterialized lineage recomputes every earlier iteration's
      // corpus pass ~2^k times (measured 6.5 s → ~2 s at sf0.1, 3 iters)
      Materialize(w.crossJoin(grads).select((0 to d).map(j =>
        round(col(s"__w$j") + lit(lr) *
          (col(s"__g$j").cast("double") / col("__n")), 9)
          .as(s"__w$j")): _*), eager = true)
    }
    val terms = "intercept" +: featureCols
    val stackArgs = terms.zipWithIndex
      .map { case (t, j) => s"'${t.replace("'", "''")}', __w$j" }
      .mkString(", ")
    wFinal
      .selectExpr(s"stack(${d + 1}, $stackArgs) AS (term, weight)")
      .orderBy(col("term"))
  }
}
