package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.FreqSketch

/** Mergeable-sketch HEAVY-HITTERS store — "which items dominate each
  * group, over everything ingested so far": the third member of the
  * incremental sketch-store family ([[Sketches]] = how many distinct,
  * [[Quantiles]] = how distributed, this = which ones). A 100 TB
  * pipeline watches top domains per crawl, top tokens per language,
  * top templates per source — re-counting per question is O(corpus),
  * and exact counts per group ARE the group. Misra-Gries sketches
  * (kilobytes per group) bound estimate error by n/maxMapSize — ZERO
  * while a group's distinct-item count stays under the map capacity
  * (the exact regime the oracle exercises) — and merge without losing
  * those bounds.
  *
  * Layout + crash contract: the [[graft.sources.PartialsStore]]
  * skeleton it shares with [[Quantiles]]/[[Sketches]] (`ab=` batch
  * partitions, versioned `_graft_freq_meta.<n>` manifest pinning
  * maxMapSize + keys written LAST, replay-idempotent appends,
  * invisible orphans, negative compaction generations).
  */
object HeavyHitters {

  private val Store = new graft.sources.PartialsStore("heavy-hitters store",
    "_graft_freq_meta", "sketches", "maxMapSize",
    "mixed map sizes shift the error bound, refuse instead",
    pinFirst = true,
    size => Seq(FreqSketch.merge(col("freq"), size.toInt).as("freq")))

  private[graft] def readMeta(spark: SparkSession, store: String) =
    Store.readMeta(spark, store)

  def storeExists(spark: SparkSession, store: String): Boolean =
    Store.exists(spark, store)

  /** Per-group frequent-items sketch of `itemCol` — one-pass batch
    * form (map-side combined). */
  def freqSketches(df: DataFrame, keys: Seq[String], itemCol: String,
                   maxMapSize: Int = FreqSketch.DefaultMaxMapSize): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(FreqSketch.sketch(col(itemCol).cast("string"), maxMapSize).as("freq"))

  /** Append one ingest batch's per-group sketches (the shared store
    * contract: first call creates + pins, manifested batchId = replay
    * no-op, single writer). */
  def appendSketches(df: DataFrame, keys: Seq[String], itemCol: String,
                     store: String, batchId: Long,
                     maxMapSize: Int = FreqSketch.DefaultMaxMapSize): Unit =
    Store.append(df, keys, maxMapSize.toString, store, batchId)(
      freqSketches(df, keys, itemCol, maxMapSize))

  /** Per-group merged sketches over the manifested batches. */
  def mergedSketches(spark: SparkSession, store: String): DataFrame =
    Store.merged(spark, store)

  /** Top-k heavy hitters per group over EVERYTHING ingested so far,
    * one output row per (group, rank): (keys…, rank 1-based, item,
    * estimate, lower_bound, upper_bound), ordered inside each group by
    * (estimate DESC, item ASC). O(groups × batches) sketch rows read. */
  def topItems(spark: SparkSession, store: String, k: Int): DataFrame = {
    val meta = readMeta(spark, store)
    mergedSketches(spark, store)
      .select(meta.keys.map(col) :+
        posexplode(FreqSketch.topK(col("freq"), k)).as(Seq("__pos", "__hh")): _*)
      .select(meta.keys.map(col) ++ Seq(
        (col("__pos") + 1).cast("int").as("rank"),
        col("__hh.item").as("item"),
        col("__hh.estimate").as("estimate"),
        col("__hh.lower_bound").as("lower_bound"),
        col("__hh.upper_bound").as("upper_bound")): _*)
  }

  /** Fold manifested batches into one negative generation (shared
    * protocol). Misra-Gries merge is deterministic, so answers are
    * identical before and after whenever the merged sketch is — and in
    * the exact regime (no purges) they are exact either way. */
  def compactStore(spark: SparkSession, store: String): Unit =
    Store.compact(spark, store)
}
