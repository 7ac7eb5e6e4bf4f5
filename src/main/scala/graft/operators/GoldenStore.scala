package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** Incremental golden-record store — [[Merge.goldenRecord]]'s streaming
  * twin, closing the last batch-only step in the ER serving path
  * ([[ErStore]] labels entities incrementally; survivorship should not
  * need a corpus rescan per batch either).
  *
  * Every survivorship strategy is algebraic once its tie-break is
  * folded into the aggregated value, so per-batch partials merge
  * losslessly ([[AggStore]]'s argument, applied to structs):
  *
  *  - `longest` (ties smallest): min of (−length, value) structs —
  *    mins min;
  *  - `minOf` / `maxOf`: plain extremes — mins min, maxes max;
  *  - `latestBy` (ties greatest): max of (order, value) structs —
  *    maxes max;
  *  - `mostFrequent` (ties smallest): NOT algebraic on values, but its
  *    (entity, value) COUNTS are — count deltas add, and the modal
  *    pick re-derives from merged counts at read (the count-delta
  *    merge; value-grain tables, never row collections).
  *
  * An append therefore costs one keyed agg over the BATCH (touched
  * entities only — untouched entities' stored partial rows are never
  * rewritten), and [[serve]] folds O(entities × batches) partial rows,
  * bounded by [[compactStore]] under streaming ingest. [[serve]] is
  * spec-pinned identical to [[Merge.goldenRecord]] over the union of
  * all appended batches.
  *
  * Layout and crash contract are the [[graft.sources.Manifest]]
  * ledger's, as in [[AggStore]]: `<store>/partials/ab=<id>` +
  * `<store>/modal_<col>/ab=<id>`, versioned manifest pinning entity
  * column + strategy spec + the batch ledger, manifest written LAST,
  * batchId as the idempotency key (manifested id ⇒ completed replay ⇒
  * no-op), dynamic partition overwrite makes crashed-append orphans
  * invisible and replay convergent. Single writer per store. */
object GoldenStore {

  private def partialsPath(store: String) = store + "/partials"
  private def modalPath(store: String, c: String) = store + s"/modal_$c"
  private val MetaPrefix = "_graft_golden_meta"

  private[graft] case class GoldenMeta(entity: String,
                                       mostFrequent: Seq[String],
                                       longest: Seq[String],
                                       minOf: Seq[String],
                                       maxOf: Seq[String],
                                       latestOrd: Option[String],
                                       latestCols: Seq[String],
                                       // DataType.json per mostFrequent
                                       // column — lets serve type an
                                       // all-null modal column whose
                                       // delta dir was never created
                                       modalTypes: Seq[String],
                                       ledger: Manifest.Batches) {
    def batches: Seq[Long] = ledger.visible
  }

  private def fmt(xs: Seq[String]) = xs.mkString(" ")
  private def parse(s: String): Seq[String] =
    if (s.trim.isEmpty) Seq.empty else s.trim.split("\\s+").toSeq

  private[graft] def readMeta(spark: SparkSession,
                              store: String): GoldenMeta = {
    require(storeExists(spark, store), s"no golden store at $store")
    val ls = Manifest.read(spark, store, MetaPrefix)
      .split("\n", -1).map(_.trim)
    GoldenMeta(ls(0), parse(ls(1)), parse(ls(2)), parse(ls(3)),
      parse(ls(4)), parse(ls(5)).headOption, parse(ls(6)),
      if (ls.length > 8 && ls(8).nonEmpty) ls(8).split("\t").toSeq
      else Nil,
      Manifest.Batches.parse(ls(7)))
  }

  private def writeMeta(spark: SparkSession, store: String,
                        m: GoldenMeta): Unit =
    Manifest.write(spark, store, MetaPrefix,
      Seq(m.entity, fmt(m.mostFrequent), fmt(m.longest), fmt(m.minOf),
        fmt(m.maxOf), m.latestOrd.getOrElse(""), fmt(m.latestCols),
        m.ledger.line, m.modalTypes.mkString("\t")).mkString("\n"))

  def storeExists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, MetaPrefix)

  /** One batch's per-entity algebraic partials (`__n` presence count +
    * one tie-folded struct/extreme per strategy column) — map-side
    * combined, one keyed shuffle over the BATCH only. */
  private def partials(df: DataFrame, m: GoldenMeta): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
      m.longest.map(c => min(when(col(c).isNotNull,
          struct(negate(length(col(c))).as("__l"), col(c).as("__v"))))
        .as(s"__ln_$c")) ++
      m.minOf.map(c => min(col(c)).as(s"__mn_$c")) ++
      m.maxOf.map(c => max(col(c)).as(s"__mx_$c")) ++
      m.latestCols.map(c => max(when(col(c).isNotNull,
          struct(col(m.latestOrd.get).as("__o"), col(c).as("__v"))))
        .as(s"__lt_$c"))
    df.groupBy(col(m.entity)).agg(aggs.head, aggs.tail: _*)
  }

  /** Append one ingest batch. First call fixes the strategy spec;
    * later calls must match it (partials of different survivorship
    * specs must not merge). Idempotent per batchId. */
  def append(df: DataFrame, entityCol: String, store: String,
             batchId: Long,
             mostFrequent: Seq[String] = Nil,
             longest: Seq[String] = Nil,
             minOf: Seq[String] = Nil,
             maxOf: Seq[String] = Nil,
             latestBy: Option[(String, Seq[String])] = None): Unit = {
    val picked = mostFrequent ++ longest ++ minOf ++ maxOf ++
      latestBy.map(_._2).getOrElse(Nil)
    require(picked.nonEmpty,
      "GoldenStore needs at least one strategy column")
    require(picked.distinct.size == picked.size,
      "each column may appear under ONE strategy; duplicates: " +
        picked.diff(picked.distinct).distinct.mkString(", "))
    val spark = df.sparkSession
    val modalTypes =
      mostFrequent.map(c => df.schema(c).dataType.json)
    val asked = GoldenMeta(entityCol, mostFrequent, longest, minOf,
      maxOf, latestBy.map(_._1), latestBy.map(_._2).getOrElse(Nil),
      modalTypes, Manifest.Batches.empty)
    val meta =
      if (storeExists(spark, store)) {
        val m = readMeta(spark, store)
        require(m.copy(ledger = Manifest.Batches.empty) == asked,
          s"store $store survivorship spec differs from this append's — " +
            "partials of different specs (or drifted modal column " +
            "types) must not merge")
        m
      } else asked
    val ledger = meta.ledger.add(batchId)
    if (meta.ledger.isReplay(batchId)) return // completed replay
    // an empty batch writes nothing: on store creation a rows-less
    // append would manifest an unreadable (schema-less) store, and
    // later it only adds a skeleton dir (the SignatureStore guard)
    if (df.isEmpty) return
    graft.sources.Sinks.overwritePartitions(
      partials(df, meta).withColumn("ab", lit(batchId)),
      partialsPath(store), Seq("ab"))
    meta.mostFrequent.foreach { c =>
      val counts = df.filter(col(c).isNotNull)
        .groupBy(col(meta.entity), col(c))
        .agg(count(lit(1)).as("__cnt"))
      graft.sources.Sinks.overwritePartitions(
        counts.withColumn("ab", lit(batchId)),
        modalPath(store, c), Seq("ab"))
    }
    writeMeta(spark, store, meta.copy(ledger = ledger))
  }

  private def mergedPartials(spark: SparkSession, store: String,
                             m: GoldenMeta): DataFrame = {
    val aggs: Seq[Column] =
      Seq(sum(col("__n")).as("__n")) ++
      m.longest.map(c => min(col(s"__ln_$c")).as(s"__ln_$c")) ++
      m.minOf.map(c => min(col(s"__mn_$c")).as(s"__mn_$c")) ++
      m.maxOf.map(c => max(col(s"__mx_$c")).as(s"__mx_$c")) ++
      m.latestCols.map(c => max(col(s"__lt_$c")).as(s"__lt_$c"))
    spark.read.parquet(partialsPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .groupBy(col(m.entity))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** One golden row per entity over EVERYTHING appended so far —
    * identical to [[Merge.goldenRecord]] on the union of all batches
    * (merging algebraic partials and modal count deltas loses
    * nothing; spec-asserted). Column order matches goldenRecord:
    * entity, longest…, min…, max…, latest…, then modal columns. */
  def serve(spark: SparkSession, store: String): DataFrame = {
    val m = readMeta(spark, store)
    val folded = mergedPartials(spark, store, m)
    val base = folded.select(
      (col(m.entity) +:
        (m.longest.map(c => col(s"__ln_$c").getField("__v").as(c)) ++
         m.minOf.map(c => col(s"__mn_$c").as(c)) ++
         m.maxOf.map(c => col(s"__mx_$c").as(c)) ++
         m.latestCols.map(c => col(s"__lt_$c").getField("__v").as(c)))): _*)
    m.mostFrequent.zipWithIndex.foldLeft(base) { case (acc, (c, i)) =>
      // a column null in EVERY batch never wrote a delta dir — the
      // golden value is null everywhere, typed from the manifest
      if (!Manifest.hasBatchDirs(spark, modalPath(store, c)))
        acc.withColumn(c, lit(null).cast(
          org.apache.spark.sql.types.DataType.fromJson(m.modalTypes(i))))
      else {
        val modal = spark.read.parquet(modalPath(store, c))
          .filter(col("ab").isin(m.batches: _*))
          .groupBy(col(m.entity), col(c))
          .agg(sum(col("__cnt")).as("__cnt"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col(m.entity))
              .orderBy(col("__cnt").desc, col(c).asc)))
          .filter(col("__rn") === 1)
          .select(col(m.entity), col(c))
        acc.join(modal, Seq(m.entity), "left")
      }
    }
  }

  /** Fold all visible batches into ONE negative compaction generation
    * ([[graft.sources.Manifest]] ledger: manifest swap last,
    * superseded `ab=` dirs swept after). Merging is exact, so
    * [[serve]] is identical before and after; this bounds batch-dir
    * growth under streaming ingest. */
  def compactStore(spark: SparkSession, store: String): Unit = {
    val m = readMeta(spark, store)
    if (m.batches.isEmpty) return
    val next = m.ledger.compacted
    val gen = next.visible.head
    graft.sources.Sinks.overwritePartitions(
      mergedPartials(spark, store, m).withColumn("ab", lit(gen)),
      partialsPath(store), Seq("ab"))
    m.mostFrequent
      .filter(c => Manifest.hasBatchDirs(spark, modalPath(store, c)))
      .foreach { c =>
        graft.sources.Sinks.overwritePartitions(
          spark.read.parquet(modalPath(store, c))
            .filter(col("ab").isin(m.batches: _*))
            .groupBy(col(m.entity), col(c))
            .agg(sum(col("__cnt")).as("__cnt"))
            .withColumn("ab", lit(gen)),
          modalPath(store, c), Seq("ab"))
      }
    writeMeta(spark, store, m.copy(ledger = next))
    Manifest.sweep(spark,
      partialsPath(store) +: m.mostFrequent.map(modalPath(store, _)), gen)
  }
}
