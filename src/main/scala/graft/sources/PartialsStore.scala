package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The append / merge / compact skeleton of the four keyed partials
  * stores: [[graft.operators.Sketches]] (HLL),
  * [[graft.operators.Quantiles]] (KLL), [[graft.operators.HeavyHitters]]
  * (Misra-Gries) and [[graft.operators.AggStore]] (exact count / sum /
  * min / max). Each keeps one row of mergeable state per group and batch
  * under `<store>/<dir>/ab=<batchId>/`, and a versioned [[Manifest]]
  * `<store>/<metaPrefix>.<n>` of three lines: the pinned parameter and
  * the group keys (in the store's order), then the [[Manifest.Batches]]
  * line. Reads and compactions merge the visible batches with one keyed
  * aggregate. The four stores differ only in this class's arguments and
  * in the aggregate that builds a batch's partials.
  *
  * Crash contract: the manifest is written LAST, so a crashed append's
  * partitions are invisible orphans, and dynamic partition overwrite
  * makes its replay convergent; an id already in the ledger (visible or
  * retired) is a completed replay and a no-op. Single writer per store.
  *
  * @param kind      the store's name in the missing-store error
  * @param pinName   the pinned parameter's name in the mismatch error
  * @param why       why a mismatched parameter must not merge
  * @param pinFirst  manifest order: the pin line before the keys line
  * @param merge     the merge aggregates, given the pinned parameter
  */
private[graft] final class PartialsStore(
    kind: String, metaPrefix: String, dir: String,
    pinName: String, why: String, pinFirst: Boolean,
    merge: String => Seq[Column]) {

  import PartialsStore.Meta

  private def dataPath(store: String) = store + "/" + dir

  def exists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, metaPrefix)

  def readMeta(spark: SparkSession, store: String): Meta = {
    require(exists(spark, store), s"no $kind at $store")
    val lines = Manifest.read(spark, store, metaPrefix).trim.split("\n")
    val (pin, keys) =
      if (pinFirst) (lines(0), lines(1)) else (lines(1), lines(0))
    Meta(pin.trim, keys.trim.split("\\s+").toSeq,
      Manifest.Batches.parse(if (lines.length > 2) lines(2) else ""))
  }

  private def writeMeta(spark: SparkSession, store: String, m: Meta): Unit = {
    val keys = m.keys.mkString(" ")
    Manifest.write(spark, store, metaPrefix,
      (if (pinFirst) s"${m.pin}\n$keys" else s"$keys\n${m.pin}") + "\n" +
        m.ledger.line)
  }

  /** Append one batch's `partials` (a keyed aggregate of `df`). The
    * first call creates the store; later calls must agree on `keys` and
    * `pin`. A negative `batchId` is refused before anything is written. */
  def append(df: DataFrame, keys: Seq[String], pin: String, store: String,
             batchId: Long)(partials: => DataFrame): Unit = {
    require(keys.nonEmpty, "keys must be non-empty")
    val spark = df.sparkSession
    val meta =
      if (exists(spark, store)) {
        val m = readMeta(spark, store)
        require(m.keys == keys, s"store $store is keyed by " +
          s"${m.keys.mkString(", ")}, got ${keys.mkString(", ")}")
        require(m.pin == pin,
          s"store $store pins $pinName=${m.pin}, got $pin — $why")
        m
      } else Meta(pin, keys, Manifest.Batches.empty)
    // add first: a negative id names a generation, and must fail rather
    // than pass as a completed replay of it
    val ledger = meta.ledger.add(batchId)
    if (meta.ledger.isReplay(batchId)) return // completed replay
    // an empty batch writes nothing: on store creation a rows-less
    // append would manifest an unreadable (schema-less) store, and
    // later it only adds a skeleton dir (the SignatureStore guard)
    if (df.isEmpty) return
    Sinks.overwritePartitions(partials.withColumn("ab", lit(batchId)),
      dataPath(store), Seq("ab"))
    writeMeta(spark, store, meta.copy(ledger = ledger))
  }

  /** Per-group merge of the visible batches: (keys…, merged state…). */
  def merged(spark: SparkSession, store: String): DataFrame = {
    val m = readMeta(spark, store)
    val aggs = merge(m.pin)
    spark.read.parquet(dataPath(store))
      .filter(col("ab").isin(m.ledger.visible: _*))
      .groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold every visible batch into ONE negative compaction generation:
    * the merge lands under `ab=<gen>`, the manifest swaps, and the
    * superseded dirs are swept last — readable at every crash point. */
  def compact(spark: SparkSession, store: String): Unit = {
    val m = readMeta(spark, store)
    if (m.ledger.visible.isEmpty) return
    val next = m.ledger.compacted
    val gen = next.visible.head
    Sinks.overwritePartitions(merged(spark, store).withColumn("ab", lit(gen)),
      dataPath(store), Seq("ab"))
    writeMeta(spark, store, m.copy(ledger = next))
    Manifest.sweep(spark, Seq(dataPath(store)), gen)
  }
}

private[graft] object PartialsStore {

  /** A partials store's manifest: pinned parameter, keys, ledger. */
  final case class Meta(pin: String, keys: Seq[String],
                        ledger: Manifest.Batches) {
    def batches: Seq[Long] = ledger.visible
  }
}
