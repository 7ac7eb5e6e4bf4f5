package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch cardinality store — incremental distinct counting
  * for a growing corpus, the sketch-world sibling of the MinHash
  * [[SignatureStore]] and the postings store ([[TextIndex]]).
  *
  * A 100 TB ingest pipeline constantly needs per-group distinct counts
  * ("unique users per day", "vocabulary size per source") over ALL data
  * so far. Exact recount per batch is O(corpus); storing raw ids is the
  * corpus itself. HLL sketches (Spark's built-in Apache DataSketches
  * `hll_sketch_agg` family — codegen'd aggregates, kilobytes per group)
  * are MERGEABLE: union(sketch(A), sketch(B)) carries the identical
  * register state as sketch(A ∪ B), so per-batch sketches persisted
  * once can answer distinct-count queries over any subset of batches
  * forever at O(groups) cost — and the batch-union estimate EQUALS the
  * single-pass estimate exactly (spec-asserted), not just
  * approximately.
  *
  * Layout: `<store>/sketches/ab=<batchId>/…` parquet rows
  * (group keys…, hll binary), one partition dir per ingest batch;
  * `<store>/_graft_hll_meta.<n>` versioned manifest pinning `lgK`
  * (sketches of different lgK must not merge blind) and the batch
  * ledger — the [[graft.sources.PartialsStore]] skeleton and crash
  * contract: manifest written LAST, orphans of a crashed append
  * invisible, replay by batchId idempotent, dynamic partition overwrite
  * convergent.
  */
object Sketches {

  private val Store = new graft.sources.PartialsStore("sketch store",
    "_graft_hll_meta", "sketches", "lgK",
    "sketches of different precision must not merge", pinFirst = true,
    _ => Seq(hll_union_agg(col("hll")).as("hll")))

  private[graft] def readMeta(spark: SparkSession, store: String) =
    Store.readMeta(spark, store)

  def storeExists(spark: SparkSession, store: String): Boolean =
    Store.exists(spark, store)

  /** Per-group HLL sketch of `valueCol` — the one-pass batch form
    * (map-side combined, bytes per group). */
  def hllSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Append one ingest batch's per-group sketches. First call creates
    * the store (manifest LAST — the creation is invisible until
    * complete); later calls must agree on `keys` and use the pinned
    * lgK (mixed-lgK unions would silently degrade precision, so the
    * call fails fast instead). `batchId` is the idempotency key: a
    * manifested id is a completed replay and the call no-ops; a crash
    * before the manifest swap leaves orphan partitions that are
    * invisible and get dynamically overwritten on replay. Single
    * writer per store. */
  def appendSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                     store: String, batchId: Long, lgK: Int = 12): Unit =
    Store.append(df, keys, lgK.toString, store, batchId)(
      hllSketches(df, keys, valueCol, lgK))

  /** Per-group sketches of the manifested batches, merged:
    * (keys…, hll). */
  def mergedSketches(spark: SparkSession, store: String): DataFrame =
    Store.merged(spark, store)

  /** Distinct-count estimates per group over EVERYTHING ingested so
    * far: O(groups × batches) sketch rows read, zero raw data
    * touched. */
  def distinctCounts(spark: SparkSession, store: String): DataFrame = {
    val meta = readMeta(spark, store)
    mergedSketches(spark, store)
      .select(meta.keys.map(col) :+
        hll_sketch_estimate(col("hll")).as("distinct_estimate"): _*)
  }

  /** Fold all manifested batches into ONE negative compaction
    * generation (the [[graft.sources.Manifest]] ledger: appends are
    * non-negative, generations negative; manifest swap LAST,
    * superseded `ab=` dirs swept after). Sketch union is exact, so
    * [[distinctCounts]] is identical before and after — this bounds
    * batch-dir/file growth under streaming ingest, shrinking the
    * query-time merge from O(batches) rows per group to one. */
  def compactStore(spark: SparkSession, store: String): Unit =
    Store.compact(spark, store)

  /** Count-min bucket for hash row `j` — the 52-bit md5 uniform's
    * integer form mod `width` (the one hash every engine here shares),
    * salted per row so the `depth` rows are independent. */
  private def cmsBucket(item: org.apache.spark.sql.Column,
                        j: org.apache.spark.sql.Column,
                        width: Int, salt: String): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(lit(salt), j.cast("string"),
      lit("|"), item)), 1, 13), 16, 10).cast("long"), lit(width.toLong))

  /** Count-min sketch as a FIRST-CLASS bucket-count table — point
    * frequency estimates for EVERY key in fixed memory, the gap
    * between [[HeavyHitters]] (only the heavy tail survives a
    * Misra-Gries purge) and the exact [[AggStore]] (O(distinct keys)
    * state). Each row of `df` increments `depth` counters
    * (row j, bucket = md5(salt‖j‖item) mod width); a point estimate is
    * the MIN over its `depth` counters — always ≥ the true count, and
    * over by more than 2n/width with probability ≤ 2⁻ᵈᵉᵖᵗʰ
    * (Cormode & Muthukrishnan 2005).
    *
    * Spark-native by construction, no custom aggregate: the sketch IS
    * a (keys…, j, bucket, n) DataFrame of ≤ depth·width rows per
    * group, built by one explode(depth) + map-side-combined count —
    * and it is sum-MERGEABLE cell-wise, so persistence and batch
    * append ride the [[AggStore]] discipline (sum cells per batch,
    * re-sum on read) rather than needing a binary blob format. All
    * hashing is the engine's cross-engine md5 arithmetic — a SQL
    * oracle replays the identical sketch, cell for cell. */
  def cmsCounts(df: DataFrame, keys: Seq[String], itemCol: String,
                depth: Int = 4, width: Int = 256,
                salt: String = "cms"): DataFrame =
    cmsCells(df, keys, itemCol, depth, width, salt)
      .groupBy(keys.map(col) :+ col("j") :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))

  /** The pre-aggregation cell projection behind [[cmsCounts]] — one
    * (keys…, j, bucket) row per input row per hash row. Public so
    * persistence can ride [[AggStore]] unchanged: append these cells
    * with a constant value column and the store's per-cell `n` IS the
    * merged CMS (spec-proven); [[cmsEstimate]] then serves from the
    * store's cell table directly. */
  def cmsCells(df: DataFrame, keys: Seq[String], itemCol: String,
               depth: Int = 4, width: Int = 256,
               salt: String = "cms"): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.filter(col(itemCol).isNotNull)
      .select(keys.map(col) :+ col(itemCol).cast("string").as("__it"): _*)
      .withColumn("__j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("__b", cmsBucket(col("__it"), col("__j"), width, salt))
      .select(keys.map(col) :+ col("__j").cast("int").as("j") :+
        col("__b").as("bucket"): _*)
  }

  /** Point-frequency estimates for the rows of `items` (same key
    * columns + `itemCol`) against a [[cmsCounts]] sketch built with
    * the SAME (depth, width, salt): explode each probe to its `depth`
    * (j, bucket) cells, left-join the sketch (an absent cell is a
    * true 0), min per probe. Work = probes × depth joined rows —
    * never touches the original corpus. Output: (keys…, itemCol,
    * estimate). */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, keys: Seq[String],
                  itemCol: String, depth: Int = 4, width: Int = 256,
                  salt: String = "cms"): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val probes = items.filter(col(itemCol).isNotNull)
      .select(keys.map(col) :+ col(itemCol).as(itemCol): _*)
      .distinct()
      .withColumn("__it", col(itemCol).cast("string"))
      .withColumn("__j", explode(sequence(lit(0), lit(depth - 1))))
      .select(keys.map(col) ++ Seq(col(itemCol), col("__it"),
        col("__j").cast("int").as("j"),
        cmsBucket(col("__it"), col("__j"), width, salt).as("bucket")): _*)
    probes
      .join(sketch.withColumnRenamed("n", "__n"),
        keys :+ "j" :+ "bucket", "left")
      .groupBy(keys.map(col) :+ col(itemCol): _*)
      .agg(min(coalesce(col("__n"), lit(0L))).as("estimate"))
  }
}
