package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.KllSketch

/** Mergeable-sketch QUANTILE store — incremental order statistics for a
  * growing corpus: the [[Sketches]] (HLL distinct-count) discipline
  * applied to distributions. A 100 TB pipeline watches p50/p95/p99 of
  * document lengths, quality scores, latencies per group over ALL data
  * so far; exact recomputation is O(corpus) per question and raw values
  * ARE the corpus. KLL sketches ([[graft.plans.KllSketchAgg]] — native
  * TypedImperativeAggregates, kilobytes per group, ~1.65/k normalized
  * rank error) are mergeable, so per-batch per-group sketches persisted
  * once answer every later quantile question at O(groups × batches)
  * cost — and `n`/`min`/`max` ride in the image EXACTLY, whatever the
  * compaction did to the retained items.
  *
  * Layout (the [[graft.sources.PartialsStore]] skeleton it shares with
  * [[Sketches]], [[HeavyHitters]] and [[AggStore]]):
  * `<store>/sketches/ab=<batchId>/…` parquet rows (group keys…, kll
  * binary); `<store>/_graft_kll_meta.<n>` versioned manifest pinning
  * `k` (mixed-k merges silently adopt the weaker guarantee, so the
  * store refuses them) and the batch ledger. Manifest written LAST;
  * replay by batchId idempotent; orphans of a crashed append
  * invisible; dynamic partition overwrite convergent.
  */
object Quantiles {

  private val Store = new graft.sources.PartialsStore("quantile store",
    "_graft_kll_meta", "sketches", "k",
    "mixed-k merges adopt the weaker error bound, refuse instead",
    pinFirst = true,
    k => Seq(KllSketch.merge(col("kll"), k.toInt).as("kll")))

  def storeExists(spark: SparkSession, store: String): Boolean =
    Store.exists(spark, store)

  /** Per-group KLL sketch of `valueCol` — the one-pass batch form
    * (map-side combined; serialization only at shuffle boundaries). */
  def kllSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Int = KllSketch.DefaultK): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(KllSketch.sketch(col(valueCol).cast("double"), k).as("kll"))

  /** Append one ingest batch's per-group sketches. First call creates
    * the store; later calls must agree on `keys` and the pinned `k`.
    * `batchId` is the idempotency key (manifested id = completed
    * replay, no-op). Single writer per store. */
  def appendSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                     store: String, batchId: Long,
                     k: Int = KllSketch.DefaultK): Unit =
    Store.append(df, keys, k.toString, store, batchId)(
      kllSketches(df, keys, valueCol, k))

  /** Per-group merged sketches over the manifested batches:
    * (keys…, kll). */
  def mergedSketches(spark: SparkSession, store: String): DataFrame =
    Store.merged(spark, store)

  /** Quantiles at `ranks` per group over EVERYTHING ingested so far,
    * plus the exact stream facts the image carries: (keys…, n, min_v,
    * max_v, quantiles array). O(groups × batches) sketch rows read,
    * zero raw data touched. */
  def groupQuantiles(spark: SparkSession, store: String,
                     ranks: Seq[Double]): DataFrame = {
    val meta = Store.readMeta(spark, store)
    mergedSketches(spark, store)
      .withColumn("__st", graft.plans.KllSketch.stats(col("kll")))
      .select(meta.keys.map(col) ++ Seq(
        col("__st.n").as("n"), col("__st.min_v").as("min_v"),
        col("__st.max_v").as("max_v"),
        graft.plans.KllSketch.quantiles(col("kll"), ranks).as("quantiles")): _*)
  }

  /** Fold all manifested batches into ONE negative compaction
    * generation (the [[graft.sources.Manifest]] ledger: appends
    * non-negative, generations negative; manifest swap LAST;
    * superseded dirs swept after). In exact mode (every group's total
    * n <= k) the fold is lossless and [[groupQuantiles]] answers are
    * bit-identical before and after; over capacity, KLL compaction is
    * RANDOMIZED (an unbiased coin per compaction — the library's
    * variance-control design), so the folded image is a fresh unbiased
    * draw within the same rank-error bound, not a byte-identical one.
    * n/min/max are exact either way. */
  def compactStore(spark: SparkSession, store: String): Unit =
    Store.compact(spark, store)
}
