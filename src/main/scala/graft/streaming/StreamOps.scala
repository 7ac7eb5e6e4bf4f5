package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{IvfPqStore, IvfStore}
import graft.operators.{AggStore, CentroidStore, ErStore, GoldenStore,
  HeavyHitters, Quantiles, SignatureStore, Sketches, TextIndex}

/** Structured-Streaming surface of the engine.
  *
  * Batch/stream unification: these transforms take any events-shaped
  * DataFrame — batch (`spark.read`) or streaming (`spark.readStream`) —
  * and return the same logical plan. The batch forms are oracle-checked in
  * [[graft.catalog.TimeQueries]]; the streaming behaviors (watermarking,
  * late-data drop, stateful dedup) are exercised with MemoryStream in
  * src/test (they have no SQL oracle — runtime behavior, SURVEY.md §5).
  *
  * At scale: watermarks bound state; tumbling/sliding aggregations use
  * partial aggregation before the shuffle; session windows and
  * dropDuplicates keep per-key state in the state store — key cardinality,
  * not event volume, sizes executor memory.
  */
object StreamOps {

  /** Tumbling event-time window aggregation (+ optional watermark for
    * streaming use). */
  def tumblingCounts(events: DataFrame, width: String,
                     watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))
  }

  /** Sliding event-time window aggregation. */
  def slidingCounts(events: DataFrame, width: String, slide: String,
                    watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
  }

  /** Session windows per key with an inactivity gap. */
  def sessionCounts(events: DataFrame, gap: String, key: Column,
                    watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(key, session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(key, col("session_window.start").as("session_start"),
        col("n_events"))
  }

  /** Stateful exact dedup on a key set; with a watermark this is
    * `dropDuplicatesWithinWatermark` (bounded state), without it plain
    * `dropDuplicates` (unbounded state — batch or tests only). */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: Option[String] = None): DataFrame =
    watermark match {
      case Some(w) => events.withWatermark("ts", w).dropDuplicatesWithinWatermark(keys)
      case None    => events.dropDuplicates(keys)
    }

  /** Stream-stream inner join within a time bound: left events join right
    * events of the same key with `right.ts in [left.ts, left.ts + within]`.
    * Both sides carry watermarks so the join state is bounded — Spark
    * drops buffered rows once they can no longer match. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       within: String, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
  }

  /** Watermarked stream-stream LEFT OUTER join: left events that find
    * no right match inside the `within` bound still emit — with null
    * right columns — once the watermark proves no match can arrive
    * (Spark holds the left row in state until `l_ts + within` passes
    * the watermark, then emits the null-extended row; an inner join
    * would silently drop it). The time-bound predicate is what makes
    * outer stream-stream joins legal: it bounds how long state lives. */
  def streamStreamLeftJoin(left: DataFrame, right: DataFrame, key: String,
                           within: String, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      "left_outer")
  }

  /** The engine's one streaming-sink runner: run `each` on every
    * micro-batch of `stream` (its id is Spark's batchId), with the
    * source offsets checkpointed under `checkpoint`. A micro-batch whose
    * commit did not reach the checkpoint before a crash runs again under
    * the same id, so every sink here makes its batch idempotent. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(each)
      .start()

  /** The ledger id a store sink files micro-batch `batchId` under: the
    * stream's ids start at 1, because id 0 is reserved for a store's
    * pre-built base. */
  private def ledgerId(batchId: Long): Long = batchId + 1

  /** Compact the store after every `compactEvery`-th ledger id
    * (`compactEvery > 0`), if it exists. Each append adds a batch
    * directory tree, so a long stream otherwise grows an unbounded file
    * count: listing cost, not data volume, becomes the bottleneck.
    * Compaction runs after the batch's writes and is keyed on the id, so
    * a replayed batch compacts at the same points. */
  private def compactOnSchedule(spark: SparkSession, storePath: String,
                                id: Long, compactEvery: Int,
                                exists: (SparkSession, String) => Boolean,
                                compact: (SparkSession, String) => Unit): Unit =
    if (compactEvery > 0 && id % compactEvery == 0 && exists(spark, storePath))
      compact(spark, storePath)

  /** The store-sink form of [[eachBatch]], which the ten sinks that file
    * micro-batches in an incremental store's batch ledger (index, sketch,
    * aggregate, vector, entity, golden and centroid stores) call. It owns
    * three rules:
    *
    *  - Ledger id: micro-batch `batchId` lands under [[ledgerId]]. A
    *    store no-ops on an id its manifest already lists (visible or
    *    retired), and a crashed append stays invisible until its
    *    manifest is written, so a replayed micro-batch converges:
    *    effectively-once on top of the checkpointed source offsets.
    *  - Create or append: without `create`, `append` creates the store
    *    on first use (the centroid store is pinned before the stream
    *    starts) and writes nothing for an empty batch. With
    *    `create` (stores whose build cannot take an empty batch: it
    *    fails, or manifests a store with no files), the first
    *    non-empty micro-batch to find no store builds it under its own
    *    ledger id, so a replay of that batch is recognized as ingested;
    *    an empty one is skipped.
    *  - Compaction: [[compactOnSchedule]] after the batch lands.
    */
  private def storeSink(stream: DataFrame, checkpoint: String,
                        storePath: String, compactEvery: Int)(
      exists: (SparkSession, String) => Boolean,
      compact: (SparkSession, String) => Unit,
      append: (DataFrame, Long) => Unit,
      create: Option[(DataFrame, Long) => Unit] = None): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val id = ledgerId(batchId)
      create match {
        case Some(build) if !exists(spark, storePath) =>
          if (!batch.isEmpty) build(batch, id)
        case _ => append(batch, id)
      }
      compactOnSchedule(spark, storePath, id, compactEvery, exists, compact)
    }

  /** Continuous upsert sink: each micro-batch merges into the parquet
    * target through [[graft.sources.Sinks.upsertParquet]] — the streaming
    * form of the reference's ON CONFLICT upsert loading (load.py:18-22).
    * The merge is last-write-wins per key under `tiebreak`, so a replayed
    * micro-batch (failure recovery) converges to the same state:
    * effectively-once per key on top of the checkpointed source offsets. */
  def upsertSink(updates: DataFrame, path: String, keys: Seq[String],
                 tiebreak: Seq[Column], checkpoint: String): StreamingQuery =
    eachBatch(updates, checkpoint) { (batch, _) =>
      graft.sources.Sinks.upsertParquet(batch, path, keys, tiebreak)
    }

  /** Continuous upsert into a LIVE DATABASE — the streaming form of the
    * reference's actual sink (Postgres INSERT .. ON CONFLICT, load.py:
    * 18-22): each micro-batch merges through [[graft.sources.Sinks
    * .upsertJdbc]]'s executor-side two-phase batches. Per-key upsert is
    * idempotent, so a replayed micro-batch (failure recovery) converges:
    * effectively-once per key on top of checkpointed source offsets.
    * The batch is key-deduped first (last row per key under `tiebreak`)
    * — upsertJdbc's single-writer-per-key contract.
    *
    * `writePartitions` is the number of concurrent JDBC connections the
    * sink opens per micro-batch (one per partition): size it to the
    * database's connection budget and the batch volume, not to the Spark
    * cluster — a 1000-executor job must not open 1000 connections to one
    * Postgres. Key-hash repartitioning also keeps the per-key
    * single-writer contract regardless of the count. */
  def upsertJdbcSink(updates: DataFrame, url: String, table: String,
                     keys: Seq[String], tiebreak: Seq[Column],
                     checkpoint: String,
                     properties: java.util.Properties = new java.util.Properties(),
                     writePartitions: Int = 4): StreamingQuery =
    eachBatch(updates, checkpoint) { (batch, _) =>
      val lastPerKey = graft.operators.Dedup.keepFirst(
        batch, keys, tiebreak.map(_.desc))
      graft.sources.Sinks.upsertJdbc(
        lastPerKey.repartition(writePartitions, keys.map(col): _*),
        url, table, keys, properties = properties)
    }

  /** Streaming near-duplicate filter: each micro-batch is deduped against
    * the growing signature store ([[graft.operators.Dedup
    * .dedupAgainstStore]] — pruned id replay guard, batch-vs-store
    * banding, transitive within-batch drop) and only survivors land in
    * `outPath`. The store grows by exactly the survivors, so a document
    * admitted once blocks every later near-duplicate across the stream's
    * lifetime.
    *
    * Effectively-once for BOTH the output and the store (round 3 was
    * at-most-once for the output): survivors land FIRST, idempotently —
    * dynamic overwrite of the micro-batch's own `ingest_batch=<id>`
    * partition — and the store append runs second. A crash between the two
    * replays the batch against an unchanged store, which deterministically
    * recomputes the same survivors and overwrites the same partition with
    * the same rows; a crash after the store append replays into an empty
    * survivor set, and an empty dynamic overwrite touches no partitions —
    * the landed output stays. Output rows carry the extra `ingest_batch`
    * column (also a useful lineage/backfill handle).
    *
    * `compactEvery` compacts the signature store
    * ([[graft.operators.SignatureStore.compact]]) on the
    * [[compactOnSchedule]] rule. */
  def nearDupFilterSink(docs: DataFrame, idCol: String, textCol: String,
                        storePath: String, outPath: String, checkpoint: String,
                        bands: Int = 8, rowsPerBand: Int = 4,
                        compactEvery: Int = 0): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      graft.operators.Dedup.dedupAgainstStore(
        batch, idCol, textCol, storePath, bands, rowsPerBand,
        land = kept => graft.sources.Sinks.overwritePartitions(
          kept.withColumn("ingest_batch", lit(batchId)),
          outPath, Seq("ingest_batch")))
      compactOnSchedule(batch.sparkSession, storePath, ledgerId(batchId),
        compactEvery, SignatureStore.exists, SignatureStore.compact)
    }

  /** Streaming ingest into a persisted inverted index — the retrieval
    * twin of [[nearDupFilterSink]]: each micro-batch lands through
    * [[graft.operators.TextIndex.appendToIndex]], so a live corpus is
    * searchable ([[graft.operators.TextIndex.bm25FromIndex]]) as it
    * arrives, with work per batch O(batch), never a rebuild. The first
    * non-empty micro-batch creates the index with
    * [[graft.operators.TextIndex.persistPostings]]; `compactEvery` folds
    * the per-batch trees with [[graft.operators.TextIndex.compactIndex]]. */
  def indexAppendSink(docs: DataFrame, idCol: String, textCol: String,
                      storePath: String, checkpoint: String,
                      numBuckets: Int = TextIndex.DefaultIndexBuckets,
                      compactEvery: Int = 0): StreamingQuery =
    storeSink(docs, checkpoint, storePath, compactEvery)(
      TextIndex.indexExists, TextIndex.compactIndex,
      (batch, id) => TextIndex.appendToIndex(batch, idCol, textCol, storePath, id),
      create = Some((batch, id) => TextIndex.persistPostings(batch, idCol,
        textCol, storePath, numBuckets, baseBatchId = id)))

  /** Streaming ingest into the mergeable HLL cardinality store — the
    * sketch twin of [[indexAppendSink]]: each micro-batch's per-group
    * sketches land through [[graft.operators.Sketches.appendSketches]]
    * (the first batch creates the store, pinning lgK and keys), so
    * running distinct counts over the whole stream history cost
    * O(groups) at any time ([[graft.operators.Sketches.distinctCounts]])
    * with zero raw data retained. Sketch union is exact, so estimates
    * never change across compaction. */
  def hllSink(rows: DataFrame, keys: Seq[String], valueCol: String,
              storePath: String, checkpoint: String, lgK: Int = 12,
              compactEvery: Int = 0): StreamingQuery =
    storeSink(rows, checkpoint, storePath, compactEvery)(
      Sketches.storeExists, Sketches.compactStore,
      (batch, id) => Sketches.appendSketches(batch, keys, valueCol,
        storePath, id, lgK))

  /** Streaming ingest into the mergeable KLL QUANTILE store — order
    * statistics over the whole stream history at O(groups × batches)
    * query cost ([[graft.operators.Quantiles.groupQuantiles]]): the
    * [[hllSink]] recipe with sketches that answer p50/p95/p99 instead
    * of distinct counts. The first batch pins `k` and the group keys;
    * exact-mode folds are lossless and over-capacity folds stay within
    * the pinned rank-error bound
    * ([[graft.operators.Quantiles.compactStore]]). */
  def kllSink(rows: DataFrame, keys: Seq[String], valueCol: String,
              storePath: String, checkpoint: String,
              k: Int = graft.plans.KllSketch.DefaultK,
              compactEvery: Int = 0): StreamingQuery =
    storeSink(rows, checkpoint, storePath, compactEvery)(
      Quantiles.storeExists, Quantiles.compactStore,
      (batch, id) => Quantiles.appendSketches(batch, keys, valueCol,
        storePath, id, k))

  /** Streaming ingest into the mergeable heavy-hitters store — the
    * third sketch sink ([[hllSink]] = distinct counts, [[kllSink]] =
    * quantiles, this = top items): running "which items dominate each
    * group" over a stream's whole history. */
  def freqSink(rows: DataFrame, keys: Seq[String], itemCol: String,
               storePath: String, checkpoint: String,
               maxMapSize: Int = graft.plans.FreqSketch.DefaultMaxMapSize,
               compactEvery: Int = 0): StreamingQuery =
    storeSink(rows, checkpoint, storePath, compactEvery)(
      HeavyHitters.storeExists, HeavyHitters.compactStore,
      (batch, id) => HeavyHitters.appendSketches(batch, keys, itemCol,
        storePath, id, maxMapSize))

  /** Streaming ingest into the EXACT aggregate store — incremental
    * materialized group-by maintenance over the stream's whole history
    * ([[graft.operators.AggStore]]: counts/DECIMAL sums/min/max merge
    * losslessly, so [[graft.operators.AggStore.serve]] equals a batch
    * aggregation of everything streamed). */
  def aggSink(rows: DataFrame, keys: Seq[String], valueCol: String,
              storePath: String, checkpoint: String,
              compactEvery: Int = 0): StreamingQuery =
    storeSink(rows, checkpoint, storePath, compactEvery)(
      AggStore.storeExists, AggStore.compactStore,
      (batch, id) => AggStore.append(batch, keys, valueCol, storePath, id))

  /** Streaming embedding ingest into the PERSISTED IVF vector index —
    * the vector twin of [[indexAppendSink]]: the first non-empty
    * micro-batch TRAINS and creates the store
    * ([[graft.functions.IvfStore.build]]), every later batch assigns its
    * vectors against the FROZEN centroids and appends in O(batch)
    * ([[graft.functions.IvfStore.append]]). Probes
    * ([[graft.functions.IvfStore.topK]]) stay partition-pruned
    * throughout. Centroid drift is the caller's policy knob: rebuild
    * periodically from a maintenance job if the embedding distribution
    * moves (the store is rebuild-in-place safe).
    *
    * `k` stays a FIXED explicit default here — deliberately NOT the
    * `k = 0` auto-√n rule the batch builds ship (SCALE.md r16): the
    * training set is whatever the FIRST micro-batch happens to hold,
    * so auto-sizing would freeze √(first-batch) centroids — an
    * arbitrarily under-sized geometry for the stream's eventual corpus.
    * Size k for the EXPECTED corpus (√n of the steady state), and use
    * [[graft.functions.IvfStore.retrain]] as the documented drift path
    * once the stream outgrows it. */
  def ivfAppendSink(vectors: DataFrame, vecCol: String, idCol: String,
                    storePath: String, checkpoint: String,
                    k: Int = 16, iterations: Int = 2,
                    compactEvery: Int = 0): StreamingQuery =
    storeSink(vectors, checkpoint, storePath, compactEvery)(
      IvfStore.storeExists, IvfStore.compactStore,
      (batch, id) => IvfStore.append(batch, storePath, id),
      create = Some((batch, id) => IvfStore.build(batch, vecCol, idCol,
        storePath, k, iterations, baseBatchId = id)))

  /** Streaming drift monitor — per-micro-batch PSI of `valCol` against
    * a reference distribution FROZEN at sink creation (decile bounds
    * and bin fractions collected once — numBins+9 numbers, never the
    * reference rows again), appended to a parquet monitor table as
    * (batch_id, n, psi). The serving-side tripwire that says WHICH
    * micro-batch started looking unlike training data, while the
    * batch-side [[graft.operators.Eval.psiOverTime]] says when in
    * event time. Same ε-floor and bin arithmetic as [[graft.operators
    * .Eval.psi]] (spec asserts per-batch equality); batches with no
    * non-null values log n = 0 with null psi. */
  def driftMonitorSink(stream: DataFrame, valCol: String,
                       ref: DataFrame, monitorPath: String,
                       checkpoint: String, numBins: Int = 10): StreamingQuery = {
    require(numBins >= 2, s"numBins must be >= 2, got $numBins")
    val ps = (1 until numBins).map(i => i.toDouble / numBins).mkString(", ")
    // freeze the reference ONCE: bounds + per-bin fractions
    val refVals = ref.filter(col(valCol).isNotNull)
    val bounds: Seq[Double] = refVals
      .agg(expr(s"percentile($valCol, array($ps))").as("b"))
      .collect()(0).getSeq[Double](0)
    val bArr = array(bounds.map(lit): _*)
    val refCounts: Map[Int, Long] = refVals
      .select((lit(1) + size(filter(bArr,
        b => col(valCol).cast("double") > b))).as("bin"))
      .groupBy("bin").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val refTotal = refCounts.values.sum.toDouble
    val refFrac = (1 to numBins).map(b =>
      math.max(refCounts.getOrElse(b, 0L) / refTotal, 1e-6))
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val binned = batch.filter(col(valCol).isNotNull)
        .select((lit(1) + size(filter(bArr,
          b => col(valCol).cast("double") > b))).as("bin"))
        .groupBy("bin").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = binned.values.sum
      val psi: java.lang.Double =
        if (n == 0L) null
        else {
          val terms = (1 to numBins).map { b =>
            val q = math.max(binned.getOrElse(b, 0L).toDouble / n, 1e-6)
            val p = refFrac(b - 1)
            BigDecimal(math.rint((q - p) * math.log(q / p) * 1e9) / 1e9)
          }
          math.rint(terms.sum.toDouble * 1e6) / 1e6
        }
      val spark = batch.sparkSession
      import spark.implicits._
      // partition-overwrite keyed on batch_id: a micro-batch replayed
      // after a crash (the batch ran, its checkpoint commit didn't)
      // converges instead of appending a duplicate monitor row — the
      // effectively-once contract every other sink here maintains
      graft.sources.Sinks.overwritePartitions(
        Seq((batchId, n, Option(psi).map(_.doubleValue)))
          .toDF("batch_id", "n", "psi"),
        monitorPath, Seq("batch_id"))
    }
  }

  /** Streaming ingest into the persisted IVF×PQ store — the
    * [[ivfAppendSink]] twin with the codes layer kept in lockstep:
    * the first non-empty micro-batch trains BOTH layers
    * ([[graft.functions.IvfPqStore.build]] — centroids, codebooks,
    * cluster-partitioned codes); every later batch assigns and
    * encodes against the FROZEN layers in O(batch). The codebook
    * manifest is the PQ layer's visibility gate, so the store exists
    * once that layer does; compaction folds both layers' `ab=` trees.
    *
    * `k` stays FIXED here for the [[ivfAppendSink]] reason: auto-√n
    * sizing would train on the arbitrary FIRST micro-batch and freeze
    * an under-sized geometry — size `k` (and the codebook's `m`/`ksub`)
    * for the stream's expected steady-state corpus, with
    * [[graft.functions.IvfPqStore.retrain]] as the drift path. */
  def ivfPqAppendSink(vectors: DataFrame, vecCol: String, idCol: String,
                      storePath: String, checkpoint: String,
                      k: Int = 16, iterations: Int = 2,
                      m: Int = 8, ksub: Int = 16,
                      compactEvery: Int = 0): StreamingQuery =
    storeSink(vectors, checkpoint, storePath, compactEvery)(
      IvfPqStore.pqLayerExists, IvfPqStore.compactStore,
      (batch, id) => IvfPqStore.append(batch, storePath, id),
      create = Some((batch, id) => IvfPqStore.build(batch, vecCol, idCol,
        storePath, k, iterations, m, ksub, baseBatchId = id)))

  /** Streaming ingest into the persisted entity registry — the
    * [[ivfAppendSink]] twin for [[graft.operators.ErStore]]: the first
    * non-empty micro-batch builds the registry (bounded self-link +
    * initial clustering); every later batch bounded-links against the
    * stored corpus (bucket-pruned key probe) and folds into the
    * clustering via incremental CC — per-batch work is O(batch +
    * touched buckets + touched components), never O(corpus). */
  def erAppendSink(records: DataFrame, idCol: String, nameCol: String,
                   storePath: String, checkpoint: String,
                   threshold: Double, blockCols: Seq[String] = Nil,
                   maxLen: Int = 18, numBuckets: Int = 64,
                   compactEvery: Int = 0): StreamingQuery =
    storeSink(records, checkpoint, storePath, compactEvery)(
      ErStore.storeExists, ErStore.compact,
      (batch, id) => ErStore.append(batch, storePath, id),
      create = Some((batch, id) => ErStore.build(batch, idCol, nameCol,
        storePath, threshold, blockCols, maxLen, numBuckets,
        baseBatchId = id)))

  /** Streaming ingest into the incremental golden-record store — the
    * [[erAppendSink]] twin for [[graft.operators.GoldenStore]],
    * closing the ER serving path end to end (erAppendSink labels
    * entities as records arrive; this keeps their survivorship
    * current): every micro-batch folds its per-entity algebraic
    * partials and modal count deltas — touched entities only, never a
    * corpus rescan — and `GoldenStore.serve` stays identical to a
    * batch [[graft.operators.Merge.goldenRecord]] over everything
    * ingested (the store's spec-pinned contract). The first non-empty
    * micro-batch fixes the survivorship spec in the store manifest;
    * every micro-batch, empty ones included, must match it. */
  def goldenAppendSink(records: DataFrame, entityCol: String,
                       storePath: String, checkpoint: String,
                       mostFrequent: Seq[String] = Nil,
                       longest: Seq[String] = Nil,
                       minOf: Seq[String] = Nil,
                       maxOf: Seq[String] = Nil,
                       latestBy: Option[(String, Seq[String])] = None,
                       compactEvery: Int = 0): StreamingQuery =
    storeSink(records, checkpoint, storePath, compactEvery)(
      GoldenStore.storeExists, GoldenStore.compactStore,
      (batch, id) => GoldenStore.append(batch, entityCol, storePath, id,
        mostFrequent, longest, minOf, maxOf, latestBy))

  /** Streaming ingest into the incremental centroid store — the
    * [[goldenAppendSink]] twin for
    * [[graft.operators.CentroidStore]]: anchors must be pinned with
    * `CentroidStore.create` BEFORE the stream starts (assignment
    * against frozen anchors is what makes per-batch partials exact,
    * so the store cannot self-anchor from an arbitrary first
    * micro-batch), then every micro-batch assigns its vectors and
    * appends per-cluster partial sums — `CentroidStore.serve` stays
    * identical to a one-shot assignment+mean of everything ingested
    * (the store's spec-pinned contract). */
  def centroidAppendSink(records: DataFrame, vecCol: String,
                         storePath: String, checkpoint: String,
                         compactEvery: Int = 0): StreamingQuery = {
    require(CentroidStore.storeExists(records.sparkSession, storePath),
      s"no centroid store at $storePath — pin anchors with " +
        "CentroidStore.create before starting the stream")
    storeSink(records, checkpoint, storePath, compactEvery)(
      CentroidStore.storeExists, CentroidStore.compactStore,
      (batch, id) => CentroidStore.append(batch, vecCol, storePath, id))
  }

  /** Same running totals on the `transformWithState` API (Spark 4's
    * successor to flatMapGroupsWithState: typed ValueState handles,
    * timer support, state-store-backed). */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, s) = Option(totals.get()).getOrElse((0L, 0.0))
      val out = rows.map { case (_, v) =>
        n += 1; s += v
        (key, n, s)
      }.toList
      totals.update((n, s))
      out.iterator
    }
  }

  /** [[RunningTotalsProcessor]] wired through `transformWithState`. */
  def runningTotalsTws(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Arbitrary per-key state (`flatMapGroupsWithState`): emits a running
    * (user_id, cumulative count, cumulative value sum) record per input
    * event. State is one counter pair per key — executor memory scales
    * with key cardinality, not stream volume. */
  def runningTotalsPerUser(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          val out = rows.map { case (_, v) =>
            n += 1; s += v
            (user, n, s)
          }.toList
          state.update((n, s))
          out.iterator
      }
  }
}
