package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining — which items appear together in
  * the same basket (order, session, document) more often than chance:
  * the association signal behind related-item recommendation,
  * co-purchase analysis, and token co-occurrence features.
  */
object Baskets {

  /** Item-pair co-occurrence with lift: for every unordered item pair
    * appearing in >= `minCount` common baskets, the pair count, each
    * item's basket count, and `lift = P(a,b) / (P(a)·P(b)) =
    * n_ab·N / (n_a·n_b)` — lift > 1 is positive association, < 1
    * avoidance. PRESENCE semantics: an item counts once per basket
    * however many rows repeat it. Output: (item_a, item_b, n_ab, n_a,
    * n_b, lift), item_a < item_b.
    *
    * Scale shape: ONE basket-keyed aggregation folds each basket to its
    * sorted distinct item array (presence semantics = the set), then
    * the pair explosion is a NARROW per-basket fan-out (posexplode +
    * suffix slice — every i < j pair, ascending order built in): no
    * second corpus shuffle, no basket-keyed self-join, and the basket
    * table is materialized once (lazily) for its three readers (pairs,
    * item totals, basket total) instead of re-executing the
    * aggregation per reference. Work is still Σ s_b² over basket
    * sizes — the inherent pair count, NEVER an item-item cross
    * product; item totals are an items-sized broadcast, the basket
    * total one broadcast row. A pathological mega-basket (one basket
    * holding half the catalog) makes s² explode — `maxBasketSize` is
    * the valve (the [[SetSimJoin]] maxBlockSize discipline): baskets
    * past the cap FAIL FAST with the remedy (split or drop them
    * upstream) instead of detonating one task with catalog²/4 pairs.
    * Ordinary baskets (orders, sessions) are bounded by construction;
    * the default cap (100k → ≤ 5·10⁹ pairs from one basket) only trips
    * on degenerate keys. `minCount` prunes AFTER exact counting (it is
    * an output filter, not an apriori bound). Null items are not
    * items (they never form pairs — unchanged from the self-join
    * form, where `null < x` is never true). */
  def cooccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   minCount: Long = 1L,
                   maxBasketSize: Int = 100000): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(maxBasketSize >= 2,
      s"maxBasketSize must be >= 2, got $maxBasketSize")
    val baskets = Materialize(df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__arr"))
      // assert_true inside the Filter is load-bearing — a pruned
      // projection column would be optimized away and never fire
      .filter(assert_true(size(col("__arr")) <= maxBasketSize,
        concat(lit("cooccurrence: basket "), col("__b").cast("string"),
          lit(s" holds more than $maxBasketSize distinct items — its" +
            " pair explosion is quadratic; split or drop mega-baskets" +
            " upstream, or raise maxBasketSize"))).isNull)
      .select(col("__arr")))
    val nBaskets = baskets.agg(count(lit(1)).as("__nb"))
    val itemCounts = baskets.select(explode(col("__arr")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    // i < j pairs off the ascending array: pair order == value order
    val pairs = baskets
      .select(posexplode(col("__arr")).as(Seq("__pos", "__ia")),
        col("__arr"))
      .select(col("__ia"),
        explode(slice(col("__arr"), col("__pos") + lit(2),
          greatest(size(col("__arr")) - col("__pos") - lit(1), lit(0))))
          .as("__ib"))
      .groupBy(col("__ia").as("item_a"), col("__ib").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(broadcast(itemCounts.select(col("__i").as("item_a"),
        col("__n").as("n_a"))), "item_a")
      .join(broadcast(itemCounts.select(col("__i").as("item_b"),
        col("__n").as("n_b"))), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        // n_a·n_b stays in doubles: a raw long product overflows past
        // ~3·10⁹ baskets per item (the rocAuc/kendall multiply-before-
        // cast hazard, r10 audit); exact for counts < 2^53, and lift
        // renders rounded-6 anyway
        round(col("n_ab").cast("double") * col("__nb") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
  }

  /** Directional association rules a → b from the [[cooccurrence]]
    * pair table — the actionable form of co-occurrence (a recommender
    * needs "customers holding a also hold b", not the symmetric
    * lift): every ordered pair with support = n_ab/N ≥ `minSupport`
    * and confidence = n_ab/n_a ≥ `minConfidence`, with lift carried
    * through (lift is direction-free). Each unordered pair fans to its
    * two directions BEFORE the thresholds, so an asymmetric pair (a
    * rare item inside a popular one's baskets) can pass a → b while
    * failing b → a.
    *
    * Scale shape: one narrow fan-out over the already-bounded pair
    * table + the one broadcast basket total; all the heavy work
    * happened in [[cooccurrence]] (same valve applies). Ratios are
    * integer-over-integer doubles rounded 6. Output: (antecedent,
    * consequent, n_both, n_antecedent, support, confidence, lift). */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Double = 0.0,
                       minConfidence: Double = 0.0,
                       minCount: Long = 1L,
                       maxBasketSize: Int = 100000): DataFrame = {
    require(minSupport >= 0.0 && minSupport <= 1.0,
      s"minSupport must be in [0, 1], got $minSupport")
    require(minConfidence >= 0.0 && minConfidence <= 1.0,
      s"minConfidence must be in [0, 1], got $minConfidence")
    val pairs = cooccurrence(df, basketCol, itemCol, minCount,
      maxBasketSize)
    val nBaskets = df.select(col(basketCol)).distinct()
      .agg(count(lit(1)).as("__nb"))
    val directed = pairs.select(
      explode(array(
        struct(col("item_a").as("antecedent"),
          col("item_b").as("consequent"),
          col("n_ab"), col("n_a").as("n_antecedent"), col("lift")),
        struct(col("item_b").as("antecedent"),
          col("item_a").as("consequent"),
          col("n_ab"), col("n_b").as("n_antecedent"), col("lift"))))
        .as("__r"))
      .select(col("__r.*"))
    directed.crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"),
        col("n_ab").as("n_both"), col("n_antecedent"),
        round(col("n_ab").cast("double") / col("__nb"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_antecedent"), 6)
          .as("confidence"),
        col("lift"))
      .filter(col("support") >= minSupport &&
        col("confidence") >= minConfidence)
  }
}
