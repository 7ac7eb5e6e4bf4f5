package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental EXACT aggregate store — materialized group-by
  * maintenance: per-batch partial aggregates persisted once, merged at
  * read time, so "totals over everything ingested so far" costs
  * O(groups × batches) partial rows instead of a corpus rescan.
  *
  * This is the exact-arithmetic sibling of the sketch stores
  * ([[Sketches]] HLL, [[Quantiles]] KLL, [[HeavyHitters]]): count /
  * sum / min / max are algebraic — partials merge losslessly
  * (counts add, DECIMAL sums add, mins min, maxes max), so the merged
  * result is bit-identical to a single-pass aggregation of the union
  * (spec-asserted). Sums accumulate in DECIMAL(28,9) over 9-grid
  * inputs — the associativity discipline every oracle query in this
  * repo uses, which is precisely what makes partial merging exact.
  *
  * Layout and crash contract are the [[graft.sources.PartialsStore]]
  * skeleton over the [[graft.sources.Manifest]] ledger:
  * `<store>/partials/ab=<batchId>/…`, versioned manifest pinning keys +
  * value column + the batch ledger, manifest written LAST, batchId as
  * the idempotency key (manifested id ⇒ completed replay ⇒ no-op),
  * dynamic partition overwrite makes crashed-append orphans invisible
  * and replay convergent. Single writer per store.
  *
  * Reference analog: the reference recomputes yearly aggregates by
  * re-querying the whole table after each load (load.py:71 upserts,
  * then readers re-aggregate); here each load appends its partial and
  * readers merge.
  */
object AggStore {

  private val Store = new graft.sources.PartialsStore("aggregate store",
    "_graft_agg_meta", "partials", "value",
    "partials of different measures must not merge", pinFirst = false,
    _ => Seq(sum(col("n")).as("n"),
      sum(col("s")).cast("decimal(28,9)").as("s"),
      min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax")))

  def storeExists(spark: SparkSession, store: String): Boolean =
    Store.exists(spark, store)

  /** One batch's per-group partials: (keys…, n, s DECIMAL(28,9),
    * vmin, vmax) — map-side combined, one keyed shuffle. */
  def partials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val v = round(col(valueCol).cast("decimal(28,9)"), 9)
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        sum(v).cast("decimal(28,9)").as("s"),
        min(v).as("vmin"), max(v).as("vmax"))
  }

  /** Append one ingest batch's partials; the [[Sketches.appendSketches]]
    * contract (idempotent replay, manifest-last, keys/value pinned). */
  def append(df: DataFrame, keys: Seq[String], valueCol: String,
             store: String, batchId: Long): Unit =
    Store.append(df, keys, valueCol, store, batchId)(
      partials(df, keys, valueCol))

  /** Exact per-group (n, total, mean, vmin, vmax) over EVERYTHING
    * ingested so far — O(groups × batches) partial rows read, zero raw
    * data touched. Identical to a one-pass aggregation of all batches'
    * rows (merging algebraic partials loses nothing). */
  def serve(spark: SparkSession, store: String): DataFrame = {
    val meta = Store.readMeta(spark, store)
    Store.merged(spark, store)
      .select(meta.keys.map(col) :+ col("n") :+
        round(col("s").cast("double"), 4).as("total") :+
        // mean divides as DOUBLE from the exact decimal total — decimal
        // division scale rules differ across engines, double's don't
        round(col("s").cast("double") / col("n").cast("double"), 4).as("mean") :+
        round(col("vmin").cast("double"), 4).as("vmin") :+
        round(col("vmax").cast("double"), 4).as("vmax"): _*)
  }

  /** Fold all visible batches into ONE negative compaction generation
    * ([[graft.sources.Manifest]] ledger: manifest swap last,
    * superseded `ab=` dirs swept after). Merging is exact, so
    * [[serve]] is identical before and after; this bounds batch-dir
    * growth under streaming ingest. */
  def compactStore(spark: SparkSession, store: String): Unit =
    Store.compact(spark, store)
}
