package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level (bucketed) replacements for the unpartitioned
  * `Window.orderBy` funnel: a global rank or running sum computed as
  * per-range-bucket local work plus a broadcast of bucket-prefix
  * offsets. The classic scalable zip-with-index shape, expressed in
  * the DataFrame API so Catalyst still prunes/pushes around it.
  *
  * Why: `row_number().over(Window.orderBy(k))` routes EVERY row
  * through one task. Range-repartitioning on the order key makes
  * partition ids ascend with the key, so a per-partition
  * `row_number` (bounded by n/buckets rows per task) plus the count
  * of rows in earlier partitions (a buckets-sized aggregate, cheap to
  * broadcast) IS the exact global rank. Same composition for running
  * sums. The only unpartitioned windows left walk the buckets-sized
  * offset table — O(buckets), never O(rows).
  *
  * Determinism: ranks/cumulative sums are exact regardless of where
  * the sampled range bounds fall; callers must pass an `orderCol`
  * that is unique (per group, for the grouped form) — ties would get
  * arbitrary relative ranks, the same contract a raw
  * `row_number().over(orderBy)` has.
  */
object Ranks {

  /** Equi-join on `keys` with NULL-SAFE equality (`<=>`): ANSI window
    * semantics treat a NULL partition key as its own partition, so the
    * per-group machinery must let null group keys match their own
    * stats rows — a plain `join(right, keys)` silently drops them.
    * Output keeps the LEFT side's key columns; the right side must
    * share no non-key column names with the left. */
  private def nullSafeJoin(left: DataFrame, right: DataFrame,
                           keys: Seq[String], joinType: String,
                           broadcastRight: Boolean = false): DataFrame = {
    val renamed = keys.foldLeft(right) { (d, k) =>
      d.withColumnRenamed(k, s"__nsj_$k")
    }
    val rhs = if (broadcastRight) broadcast(renamed) else renamed
    val cond = keys.map(k => left(k) <=> rhs(s"__nsj_$k")).reduce(_ && _)
    left.join(rhs, cond, joinType).drop(keys.map(k => s"__nsj_$k"): _*)
  }

  /** Exact global 1-based `row_number` by `orderCol` (must be unique)
    * without a corpus-sized single-partition exchange. Appends
    * `outCol` (LongType); row order of the output is not defined
    * (sort downstream if needed). */
  def globalRowNumber(df: DataFrame, orderCol: String, outCol: String,
                      buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val local = df.repartitionByRange(buckets, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr",
        row_number().over(
          Window.partitionBy(col("__pid")).orderBy(col(orderCol)))
          .cast("long"))
    // bucket prefix counts: buckets rows — the ONLY global window
    val offs = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offs), "__pid")
      .withColumn(outCol, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
  }

  /** Exact per-group running sums of `valCols` ordered by `orderCol`
    * (unique within each group), inclusive of the current row, without
    * a group-sized single-partition exchange even when ONE group holds
    * every row. Appends `cum_<valCol>` per input value column.
    *
    * Shape: range-repartition on (group, order) so each (group,
    * bucket) slice is contiguous; per-slice running sums are local
    * windows; slice-prefix totals (groups × buckets rows, aggregated)
    * compose via a per-group prefix walk over bucket ids. */
  def groupedCumSum(df: DataFrame, groupCols: Seq[String], orderCol: String,
                    valCols: Seq[String], buckets: Int = 64,
                    truncate: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val gcols: Seq[Column] = groupCols.map(col)
    val parted = df.repartitionByRange(buckets, (gcols :+ col(orderCol)): _*)
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy((col("__pid") +: gcols): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `local` feeds BOTH the offsets aggregation and the final join, so
    // each branch re-embeds the upstream subtree (plans are trees).
    // `truncate = true` shares one lazy materialization — a measured
    // win only when the input tree is DEEP (e.g. the output of another
    // walk: kaplanMeier); on shallow level-grid inputs the
    // materialization costs more than the re-execution it saves, so it
    // stays opt-in. Blocks are level-grid-sized; Bench sweeps
    // localCheckpoint blocks after each timed query.
    val localRaw = valCols.foldLeft(parted) { (d, v) =>
      d.withColumn(s"__lc_$v", sum(col(v)).over(localW))
    }
    val local =
      if (truncate) Materialize(localRaw) else localRaw
    // per-(group, bucket) totals → per-group prefix over bucket ids:
    // groups × buckets rows max, aggregated before the walk
    val prefW = Window.partitionBy(gcols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy((col("__pid") +: gcols): _*)
      .agg(valCols.head -> "sum", valCols.tail.map(_ -> "sum"): _*)
      .toDF((("__pid" +: groupCols) ++ valCols.map(v => s"__t_$v")): _*)
    val offs2 = valCols.foldLeft(offs) { (d, v) =>
      d.withColumn(s"__off_$v", sum(col(s"__t_$v")).over(prefW))
    }.select((col("__pid") +: gcols) ++
        valCols.map(v => col(s"__off_$v")): _*)
    val joined = nullSafeJoin(local, offs2,
      ("__pid" +: groupCols).toSeq, "left", broadcastRight = true)
    valCols.foldLeft(joined) { (d, v) =>
      d.withColumn(s"cum_$v",
        coalesce(col(s"__off_$v"), lit(0)) + col(s"__lc_$v"))
        .drop(s"__lc_$v", s"__off_$v")
    }.drop("__pid")
  }

  /** Exact global running MIN of `valCol` walking `orderCol`
    * DESCENDING, inclusive of the current row — the suffix-min step of
    * Benjamini-Hochberg-style monotonization (p_adj(r) = min over
    * ranks ≥ r) — without a corpus-sized single-partition exchange.
    * Same two-level shape as [[globalRowNumber]]: range-repartition
    * descending on `orderCol` (must be unique; `valCol` must be
    * non-null), per-bucket local suffix mins, bucket-prefix mins
    * (buckets rows — the ONLY global window) broadcast back. Appends
    * `outCol`; row order of the output is not defined. */
  def globalSuffixMin(df: DataFrame, orderCol: String, valCol: String,
                      outCol: String, buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val local = df.repartitionByRange(buckets, col(orderCol).desc)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lm",
        min(col(valCol)).over(
          Window.partitionBy(col("__pid")).orderBy(col(orderCol).desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offs = local.groupBy(col("__pid"))
      .agg(min(col(valCol)).as("__bm"))
      .withColumn("__om",
        min(col("__bm")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__pid"), col("__om"))
    local.join(broadcast(offs), "__pid")
      // least skips the null __om of the first (highest-rank) bucket
      .withColumn(outCol, least(col("__lm"), col("__om")))
      .drop("__pid", "__lm", "__om")
  }

  /** Exact ANSI `ntile(tiles)` by `orderCol` (must be unique) without
    * the single-partition funnel `ntile().over(Window.orderBy(k))`
    * routes every row through: rank rides [[globalRowNumber]], the
    * total is a 1-row broadcast, and the ANSI tile arithmetic — the
    * first `n mod tiles` tiles get `n div tiles + 1` rows, the rest
    * `n div tiles` — is a pure integer projection (no doubles, no
    * rounding seam; identical to every SQL engine's `ntile` by
    * construction). Appends `outCol` (LongType); row order of the
    * output is not defined. */
  def globalNtile(df: DataFrame, orderCol: String, tiles: Int,
                  outCol: String, buckets: Int = 64): DataFrame = {
    require(tiles > 0, s"tiles must be positive, got $tiles")
    val ranked = globalRowNumber(df, orderCol, "__gnr", buckets)
    val total = ranked.agg(count(lit(1)).as("__gn"))
    // `div` is integral long division (never the double `/` — tile
    // boundaries must be exact at any corpus size)
    ranked.crossJoin(broadcast(total))
      .withColumn("__q", expr(s"__gn div $tiles"))
      .withColumn("__r", col("__gn") % tiles)
      .withColumn(outCol,
        when(col("__gnr") <= (col("__q") + 1L) * col("__r"),
          expr("(__gnr - 1) div (__q + 1) + 1"))
          .otherwise(col("__r") +
            expr("(__gnr - 1 - (__q + 1) * __r) div __q") + 1L))
      .drop("__gnr", "__gn", "__q", "__r")
  }

  /** Exact global ANSI `percent_rank` + `cume_dist` of `valueCol`
    * WITH ties — the corpus-sized forms
    * `percent_rank()/cume_dist().over(Window.orderBy(v))` funnel
    * every row through one task to compute; here the corpus reduces
    * to its value LEVEL grid (distinct values × counts), the
    * cumulative count walks the grid through [[groupedCumSum]]'s
    * bucketed machinery, and rows get their stats back by ONE
    * value-keyed join (ties share a level row, so the join is also
    * what makes tie-handling exact by construction):
    * `percent_rank = (cum − cnt)/(n − 1)` (the tie-shared MIN rank,
    * ANSI), `cume_dist = cum/n` — exact BIGINTs into one double
    * division each, bit-identical to any SQL engine's window form.
    * n = 1 → percent_rank 0 (the engines' 0/0 convention). Null
    * values keep null stats (they are not a level). Appends
    * `percent_rank` and `cume_dist`; row order undefined. */
  def globalRankStats(df: DataFrame, valueCol: String,
                      buckets: Int = 64): DataFrame = {
    val levels = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt"))
    val walked = groupedCumSum(
        levels.withColumn("__g", lit(1)), Seq("__g"), valueCol,
        Seq("__cnt"), buckets)
      .withColumnRenamed("cum___cnt", "__cum")
    val n = levels.agg(sum(col("__cnt")).cast("long").as("__n"))
    val stats = walked.crossJoin(broadcast(n))
      .select(col(valueCol),
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__cum") - col("__cnt")).cast("double") /
            (col("__n") - 1L).cast("double")).as("percent_rank"),
        (col("__cum").cast("double") / col("__n").cast("double"))
          .as("cume_dist"))
    df.join(stats, Seq(valueCol), "left")
  }

  /** Per-group [[globalRankStats]] — exact ANSI `percent_rank` +
    * `cume_dist` of `valueCol` within each group, tie-correct, safe
    * when ONE group holds the corpus (the plain keyed window is fine
    * for bounded groups; a giant group is the same one-task funnel
    * the global form has): (group, value) LEVEL grid → per-group
    * cumulative counts through [[groupedCumSum]]'s bucketed walk →
    * per-group totals (one keyed agg) → stats back onto rows by ONE
    * (group, value)-keyed join. Same arithmetic and edge conventions
    * as the global form. NULL group keys are their own partition
    * (ANSI): every join here is null-safe (`<=>`). */
  def groupedRankStats(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, buckets: Int = 64): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val gcols: Seq[Column] = groupCols.map(col)
    val levels = df.filter(col(valueCol).isNotNull)
      .groupBy((gcols :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val walked = groupedCumSum(levels, groupCols, valueCol,
        Seq("__cnt"), buckets)
      .withColumnRenamed("cum___cnt", "__cum")
    val totals = levels.groupBy(gcols: _*)
      .agg(sum(col("__cnt")).cast("long").as("__n"))
    val stats = nullSafeJoin(walked, totals, groupCols, "inner")
      .select((gcols :+ col(valueCol) :+
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__cum") - col("__cnt")).cast("double") /
            (col("__n") - 1L).cast("double")).as("percent_rank") :+
        (col("__cum").cast("double") / col("__n").cast("double"))
          .as("cume_dist")): _*)
    nullSafeJoin(df, stats, groupCols :+ valueCol, "left")
  }

  /** Per-group [[globalNtile]] — exact ANSI `ntile(tiles)` within each
    * group by `orderCol` (unique per group), safe when one group holds
    * the corpus: the per-group row number IS [[groupedCumSum]] of a
    * constant 1, per-group totals join back (one keyed agg), and the
    * tile arithmetic is the same pure integer projection. NULL group
    * keys are their own partition (ANSI): the joins are null-safe
    * (`<=>`). Appends `outCol` (LongType). */
  def groupedNtile(df: DataFrame, groupCols: Seq[String],
                   orderCol: String, tiles: Int, outCol: String,
                   buckets: Int = 64): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(tiles > 0, s"tiles must be positive, got $tiles")
    val gcols: Seq[Column] = groupCols.map(col)
    val ranked = groupedCumSum(df.withColumn("__one", lit(1L)),
        groupCols, orderCol, Seq("__one"), buckets)
      .withColumnRenamed("cum___one", "__gnr")
      .drop("__one")
    val totals = df.groupBy(gcols: _*).agg(count(lit(1)).as("__gn"))
    nullSafeJoin(ranked, totals, groupCols, "inner")
      .withColumn("__q", expr(s"__gn div $tiles"))
      .withColumn("__r", col("__gn") % tiles)
      .withColumn(outCol,
        when(col("__gnr") <= (col("__q") + 1L) * col("__r"),
          expr("(__gnr - 1) div (__q + 1) + 1"))
          .otherwise(col("__r") +
            expr("(__gnr - 1 - (__q + 1) * __r) div __q") + 1L))
      .drop("__gnr", "__gn", "__q", "__r")
  }
}
