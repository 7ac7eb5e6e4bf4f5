package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.SquaredL2
import graft.sources.Manifest

/** Incremental centroid store — streaming serving for cluster
  * centroids: anchors (the assignment centroids) are FROZEN at
  * creation, every appended batch assigns its vectors to the nearest
  * anchor and persists per-cluster element-wise partial sums, and
  * [[serve]] answers "the updated centroid of everything ingested so
  * far" by folding partials — exactly the one-step Lloyd update
  * ([[KMeans.fit]]'s inner move) over the union of all batches,
  * without ever rescanning raw vectors.
  *
  * Freezing the anchors is what makes the increment EXACT: assignment
  * depends only on the pinned anchors, so per-batch partials are
  * independent and their merge is bit-identical to a single-pass
  * assignment+mean of the union (the [[GoldenStore]] streamed ≡ batch
  * contract, spec-asserted). The drifting-assignment variant
  * (mini-batch k-means) trades that reproducibility away; callers who
  * want it re-anchor by feeding [[serve]]'s output to a new store.
  *
  * Exact-merge arithmetic: vector components round to the 9-grid and
  * accumulate element-wise in DECIMAL(38,9) (sums compose
  * associatively across batches — the [[AggStore]] argument applied
  * per dimension); assignment distance rounds to the 4-grid before
  * the argmin with a lowest-cluster tie-break (the q255/q228 ranking
  * convention, which is what lets a SQL oracle reproduce the
  * assignment bit-for-bit). Anchor components round to the 4-grid at
  * creation for the same reason.
  *
  * Layout and crash contract are the [[graft.sources.Manifest]]
  * ledger's, as in [[AggStore]]: `<store>/anchors` parquet +
  * `<store>/partials/ab=<batchId>/…`, versioned manifest pinning dim +
  * the batch ledger, manifest written LAST, batchId idempotency
  * (manifested ⇒ replay no-op), dynamic partition overwrite makes
  * crashed-append orphans invisible.
  * Partials are stored EXPLODED — (cluster_id, i, s, bn) — so k
  * clusters × dim dimensions × batches rows, never vector-typed
  * aggregation state. Single writer per store.
  */
object CentroidStore {

  private def anchorsPath(store: String)  = store + "/anchors"
  private def partialsPath(store: String) = store + "/partials"
  private val MetaPrefix                  = "_graft_centroid_meta"

  private[graft] case class CentroidMeta(dim: Int,
                                         ledger: Manifest.Batches) {
    def batches: Seq[Long] = ledger.visible
  }

  private[graft] def readMeta(spark: SparkSession,
                              store: String): CentroidMeta = {
    require(storeExists(spark, store), s"no centroid store at $store")
    val lines = Manifest.read(spark, store, MetaPrefix).trim.split("\n")
    CentroidMeta(lines(0).trim.toInt,
      Manifest.Batches.parse(if (lines.length > 1) lines(1) else ""))
  }

  private def writeMeta(spark: SparkSession, store: String,
                        m: CentroidMeta): Unit =
    Manifest.write(spark, store, MetaPrefix, s"${m.dim}\n" + m.ledger.line)

  def storeExists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, MetaPrefix)

  /** Create the store: pin the assignment anchors (k small rows
    * (cluster_id, centroid)) on the 4-grid. Anchors are immutable for
    * the store's lifetime — that immutability IS the exactness
    * contract. Fails on an existing store, ragged/empty anchors, or
    * duplicate cluster ids (all k-bounded driver checks). */
  def create(centroids: DataFrame, store: String): Unit = {
    val spark = centroids.sparkSession
    require(!storeExists(spark, store),
      s"centroid store already exists at $store")
    val anchors = centroids.select(col("cluster_id").cast("long")
        .as("cluster_id"),
      transform(col("centroid"),
        x => round(x.cast("double"), 4)).as("centroid"))
    val dims = anchors.select(size(col("centroid")).as("d"))
      .distinct().limit(3).collect()
    require(dims.length == 1 && dims(0).getInt(0) > 0,
      s"anchors must be non-empty with one consistent dimension, got " +
        s"dims ${dims.map(_.getInt(0)).sorted.mkString(", ")}")
    val dup = anchors.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
      .limit(1).collect()
    require(dup.isEmpty,
      s"duplicate cluster_id ${dup.headOption.map(_.getLong(0))
        .getOrElse(-1L)} in anchors")
    anchors.write.mode("errorifexists").parquet(anchorsPath(store))
    writeMeta(spark, store,
      CentroidMeta(dims(0).getInt(0), Manifest.Batches.empty))
  }

  /** The pinned 4-grid anchors: (cluster_id, centroid). */
  def anchors(spark: SparkSession, store: String): DataFrame = {
    require(storeExists(spark, store), s"no centroid store at $store")
    spark.read.parquet(anchorsPath(store))
  }

  /** Append one batch: assign every vector to its nearest anchor
    * (4-grid squared L2, lowest-cluster tie-break), persist the
    * batch's per-(cluster, dimension) partial sums. Null vectors
    * drop; a wrong-dimension vector FAILS the job (corrupt input,
    * not a skippable row). Idempotent on batchId. */
  def append(df: DataFrame, vecCol: String, store: String,
             batchId: Long): Unit = {
    val spark = df.sparkSession
    val meta = readMeta(spark, store)
    val ledger = meta.ledger.add(batchId)
    if (meta.ledger.isReplay(batchId)) return // completed replay
    if (df.isEmpty) return                    // the AggStore guard
    val vecs = df.filter(col(vecCol).isNotNull)
      .select(transform(col(vecCol), x => x.cast("double")).as("__v"))
      // assert_true inside the Filter is load-bearing — a pruned
      // projection column would be optimized away and never fire
      // (the Baskets mega-basket valve pattern)
      .filter(assert_true(size(col("__v")) === meta.dim,
        concat(lit(s"centroid store $store expects dim ${meta.dim}, " +
          "got "), size(col("__v")).cast("string"))).isNull)
      .withColumn("__rid", monotonically_increasing_id())
    val scored = vecs
      .crossJoin(broadcast(anchors(spark, store)))
      .withColumn("__d", round(SquaredL2(col("__v"), col("centroid")), 4))
      .drop("centroid")
    val assigned = Dedup.keepFirst(scored, Seq("__rid"),
      Seq(col("__d").asc_nulls_last, col("cluster_id").asc))
    val partials = assigned
      .select(col("cluster_id"), posexplode(col("__v")))
      .select(col("cluster_id"), (col("pos") + 1).as("i"),
        round(col("col"), 9).cast("decimal(38,9)").as("__x"))
      .groupBy(col("cluster_id"), col("i"))
      .agg(sum(col("__x")).cast("decimal(38,9)").as("s"),
        count(lit(1)).as("bn"))
    graft.sources.Sinks.overwritePartitions(
      partials.withColumn("ab", lit(batchId)),
      partialsPath(store), Seq("ab"))
    writeMeta(spark, store, meta.copy(ledger = ledger))
  }

  private def grid(spark: SparkSession, store: String): DataFrame = {
    val meta = readMeta(spark, store)
    spark.read.parquet(partialsPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .groupBy(col("cluster_id"), col("i"))
      .agg(sum(col("s")).cast("decimal(38,9)").as("s"),
        sum(col("bn")).as("n"))
  }

  /** Updated centroids over everything ingested so far, exploded:
    * (cluster_id, i, n, mean rounded 4) — the one-step Lloyd update
    * of the union. Clusters no batch touched keep their ANCHOR
    * components with n = 0 (the [[KMeans.fit]] no-respawn
    * discipline). O(k × dim × batches) partial rows read. */
  def serveGrid(spark: SparkSession, store: String): DataFrame = {
    val anchorGrid = anchors(spark, store)
      .select(col("cluster_id"), posexplode(col("centroid")))
      .select(col("cluster_id"), (col("pos") + 1).as("i"),
        col("col").as("__a"))
    val g =
      if (readMeta(spark, store).batches.isEmpty)
        anchorGrid.withColumn("s", lit(null).cast("decimal(38,9)"))
          .withColumn("n", lit(null).cast("long"))
      else anchorGrid.join(grid(spark, store), Seq("cluster_id", "i"),
        "left")
    g.select(col("cluster_id"), col("i"),
      coalesce(col("n"), lit(0L)).as("n"),
      when(col("n").isNotNull,
        round(col("s").cast("double") / col("n").cast("double"), 4))
        .otherwise(col("__a")).as("mean"))
  }

  /** Per-cluster summary over the served grid: (cluster_id, n,
    * first_el, centroid_norm) — the q62 reporting shape; the norm
    * folds the ROUNDED means (engine-stable). */
  def serve(spark: SparkSession, store: String): DataFrame =
    serveGrid(spark, store)
      .groupBy(col("cluster_id"))
      .agg(max(col("n")).as("n"),
        max(when(col("i") === 1, col("mean"))).as("first_el"),
        round(sqrt(sum(col("mean") * col("mean"))), 4)
          .as("centroid_norm"))

  /** Fold visible batches into one negative compaction generation
    * (the [[graft.sources.Manifest]] ledger: manifest swap last,
    * superseded dirs swept). Merging is exact, so [[serve]] never
    * moves. */
  def compactStore(spark: SparkSession, store: String): Unit = {
    val meta = readMeta(spark, store)
    if (meta.batches.isEmpty) return
    val next = meta.ledger.compacted
    val gen = next.visible.head
    graft.sources.Sinks.overwritePartitions(
      grid(spark, store).withColumnRenamed("n", "bn")
        .withColumn("ab", lit(gen)),
      partialsPath(store), Seq("ab"))
    writeMeta(spark, store, meta.copy(ledger = next))
    Manifest.sweep(spark, Seq(partialsPath(store)), gen)
  }
}
