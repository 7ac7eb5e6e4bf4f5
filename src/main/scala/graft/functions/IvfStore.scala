package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** PERSISTED incremental IVF vector index — the serving half
  * [[IvfIndex]] lacks: `IvfIndex.build` returns in-session frames, so
  * a 100 TB embedding corpus would have to re-cluster every session.
  * This store freezes the trained centroids in a versioned manifest
  * (the [[PqIndex.saveCodebooks]] discipline) and lands the assigned
  * vectors CLUSTER-PARTITIONED on disk, so a probe is a
  * partition-pruned scan of `nprobe` directories — never a corpus
  * scan — and new vectors append in O(batch) with the centroids
  * frozen (the reference's build-once probe-many dim-cache shape,
  * load.py:56-57,66, re-expressed for vectors).
  *
  * Layout (the [[graft.operators.TextIndex]] conventions):
  *  - `<store>/vectors/ab=<batch>/cluster=<id>/…` — (id, vector) rows
  *    partitioned by ingest batch and assigned cluster;
  *  - `<store>/_graft_ivf_meta.<n>` — `k dim idCol vecCol batches…`
  *    plus one line of raw double bits per centroid, written LAST in
  *    every write path: data without a manifest entry is invisible
  *    and replay-convergent, and the double-bits roundtrip is
  *    BIT-exact, so a served probe ranks with exactly the centroids
  *    the build trained.
  *
  * Crash safety / idempotency (the TextIndex protocol): `batchId` is
  * the manifest idempotency key — an id already in the manifest is a
  * completed replay (no-op); a crash before the final manifest swap
  * leaves the batch invisible and the retried call dynamically
  * overwrites its own `ab=<batchId>` partitions with the same
  * deterministic rows. Single writer per store path. [[compactStore]]
  * folds visible batches into one NEGATIVE generation to bound
  * file/directory growth under streaming ingest
  * ([[graft.streaming.StreamOps.ivfAppendSink]]).
  */
object IvfStore {

  private[graft] def vectorsPath(store: String) = store + "/vectors"
  private val MetaPrefix                 = "_graft_ivf_meta"

  /** Manifest: pinned geometry + column names + the batch ledger
    * ([[graft.sources.Manifest.Batches]]) + frozen centroids (cluster
    * ids 1..k, the [[IvfIndex.build]] seeding convention). */
  private[graft] final case class Meta(k: Int, dim: Int, idCol: String,
                                       vecCol: String,
                                       ledger: Manifest.Batches,
                                       cents: Array[Array[Double]]) {
    def batches: Seq[Long] = ledger.visible
    def retired: Seq[Long] = ledger.retired
  }

  def storeExists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, MetaPrefix)

  private[graft] def readMeta(spark: SparkSession, store: String): Meta = {
    require(storeExists(spark, store), s"no persisted IVF index at $store")
    val lines = Manifest.read(spark, store, MetaPrefix).trim.split("\n")
    val head = lines(0).trim.split("\\s+")
    val (k, dim) = (head(0).toInt, head(1).toInt)
    require(lines.length == 1 + k,
      s"corrupt IVF manifest at $store: ${lines.length - 1} centroids, want $k")
    val cents = Array.tabulate(k) { c =>
      val row = lines(1 + c).trim.split("\\s+")
      require(row.length == dim,
        s"corrupt IVF manifest at $store: centroid width ${row.length}, want $dim")
      row.map(b => java.lang.Double.longBitsToDouble(b.toLong))
    }
    Meta(k, dim, head(2), head(3),
      Manifest.Batches.parse(head.drop(4).mkString(" ")), cents)
  }

  private def writeMeta(spark: SparkSession, store: String, m: Meta): Unit = {
    val sb = new StringBuilder
    sb.append(s"${m.k} ${m.dim} ${m.idCol} ${m.vecCol} " + m.ledger.line)
      .append("\n")
    m.cents.foreach { c =>
      sb.append(c.map(d => java.lang.Double.doubleToLongBits(d).toString)
        .mkString(" ")).append("\n")
    }
    Manifest.write(spark, store, MetaPrefix, sb.toString)
  }

  /** The frozen centroids as the (cluster_id, centroid) frame every
    * assignment/probe joins against — recreated from manifest double
    * bits, so values are BIT-identical to the build session's. */
  def centroidsDf(spark: SparkSession, store: String): DataFrame = {
    val m = readMeta(spark, store)
    centroidsDfOf(spark, m)
  }

  private[functions] def centroidsDfOf(spark: SparkSession, m: Meta): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = m.cents.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row((i + 1).toLong, c.toSeq)
    }.toSeq.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    spark.createDataFrame(rows, schema)
  }

  /** One batch of assigned vectors lands under `ab=<batchId>` via
    * dynamic partition overwrite (replays converge). */
  private def writeBatch(vectors: DataFrame, m: Meta, store: String,
                         batchId: Long): Unit =
    graft.sources.Sinks.overwritePartitions(
      IvfIndex.assign(vectors.filter(col(m.vecCol).isNotNull),
          broadcast(centroidsDfOf(vectors.sparkSession, m)),
          m.vecCol, m.idCol)
        .select(col(m.idCol), col(m.vecCol), lit(batchId).as("ab"),
          col("cluster_id").cast("long").as("cluster")),
      vectorsPath(store), Seq("ab", "cluster"))

  /** Train on `vectors` (the [[IvfIndex.build]] deterministic Lloyd
    * rounds) and persist the result at `store`: frozen centroids in the
    * manifest, assigned vectors cluster-partitioned on disk. Rebuild-
    * in-place is safe (markers clear first — readers racing a rebuild
    * see "absent", never half-written data).
    *
    * `baseBatchId` (default 0, reserved for base builds) is the
    * manifest id the build registers under; the streaming sink passes
    * its first micro-batch's id so a post-crash replay is recognized
    * as already ingested. Column names must be whitespace-free (they
    * ride the manifest). `k = 0` (default) auto-sizes to
    * max(8, round(√n)) — [[IvfIndex.build]]'s measured scale rule. */
  def build(vectors: DataFrame, vecCol: String, idCol: String, store: String,
            k: Int = 0, iterations: Int = 2, baseBatchId: Long = 0L): Unit = {
    require(baseBatchId >= 0, s"baseBatchId must be >= 0, got $baseBatchId" +
      " (negative ids are compaction generations)")
    Seq(idCol, vecCol).foreach(c => require(!c.exists(_.isWhitespace),
      s"column name '$c' must be whitespace-free (it rides the manifest)"))
    val spark = vectors.sparkSession
    Manifest.clear(spark, store, MetaPrefix)
    Manifest.deleteDirs(spark, Seq(vectorsPath(store)))
    val idx = IvfIndex.build(vectors, vecCol, idCol, k, iterations)
    try {
      val cents = idx.centroids
        .orderBy(col("cluster_id").asc)
        .select(col("cluster_id"), col("centroid").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      require(cents.nonEmpty, "IvfStore.build: clustering produced no centroids")
      val dim = cents.head._2.length
      // clusters can be fewer than k on tiny inputs; pin what exists.
      // ids are 1..k by construction — store positionally
      val byId = cents.toMap
      val kEff = cents.map(_._1).max.toInt
      val m = Meta(kEff, dim, idCol, vecCol,
        Manifest.Batches.empty.add(baseBatchId), Array.tabulate(kEff)(i => byId.getOrElse(i + 1L, Array.fill(dim)(0.0))))
      writeBatch(vectors, m, store, baseBatchId)
      writeMeta(spark, store, m) // manifest LAST: now the store is visible
    } finally idx.close()
  }

  /** Append a batch with the centroids FROZEN — O(batch) assignment +
    * one manifest swap, never a re-cluster. `batchId` must be positive
    * (0 is the base build, negatives are compaction generations); an id
    * already in the manifest is a completed replay (no-op). Caller owns
    * id disjointness across batches (the dedup-store contract). */
  def append(vectors: DataFrame, store: String, batchId: Long): Unit = {
    val spark = vectors.sparkSession
    requireAppendId(batchId)
    val m = readMeta(spark, store)
    if (m.ledger.isReplay(batchId))
      return // completed replay (possibly folded away by a compaction)
    writeBatch(vectors, m, store, batchId)
    writeMeta(spark, store, m.copy(ledger = m.ledger.add(batchId)))
  }

  private[functions] def requireAppendId(batchId: Long): Unit =
    require(batchId > 0, s"batchId must be > 0, got $batchId (0 is the base" +
      " build's manifest id, negative ids are compaction generations)")

  /** Every visible vector row: (cluster, <idCol>, <vecCol>). Manifested
    * batches only — orphans of a crashed append do not exist here. */
  def readVectors(spark: SparkSession, store: String): DataFrame = {
    val m = readMeta(spark, store)
    spark.read.parquet(vectorsPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .select(col("cluster"), col(m.idCol), col(m.vecCol))
  }

  /** Approximate top-k by cosine over the persisted index: rank the
    * frozen centroids against the query (k rows, the same
    * [[graft.plans.CosineSimilarity]] expression the in-session probe
    * uses — identical sims, identical tie-breaks), then brute-force
    * ONLY the `nprobe` winning clusters. `cluster` is a partition
    * column, so the isin-filter is PARTITION PRUNING — the scan lists
    * nprobe directories per visible batch, ~nprobe/k of the corpus.
    * Equals [[IvfIndex.topK]] on the same corpus by construction
    * (IvfStoreSpec asserts it). */
  def topK(spark: SparkSession, store: String, queryVec: Seq[Float],
           k: Int, nprobe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val m = readMeta(spark, store)
    val q = array(queryVec.map(v => lit(v)): _*)
    // k-bounded collect: the centroid table IS tiny by contract
    val probeIds = centroidsDfOf(spark, m)
      .withColumn("__sim", graft.plans.CosineSimilarity(col("centroid"), q))
      .orderBy(col("__sim").desc_nulls_last, col("cluster_id").asc)
      .limit(nprobe)
      .select(col("cluster_id"))
      .collect().map(_.getLong(0)).toSeq
    spark.read.parquet(vectorsPath(store))
      .filter(col("ab").isin(m.batches: _*) &&
        col("cluster").isin(probeIds: _*))
      .withColumn("cosine_sim",
        graft.plans.CosineSimilarity(col(m.vecCol), q))
      .select(col(m.idCol), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc_nulls_last, col(m.idCol).asc)
      .limit(k)
  }

  /** Re-anchor the index on `newCentroids` (a (cluster_id, centroid)
    * frame, ids 1..k — e.g. the served means of a
    * [[graft.operators.CentroidStore]] fed by the same stream, once
    * q250-style drift says the frozen anchors have staled): every
    * visible vector is RE-ASSIGNED against the new anchors and lands
    * under the next negative generation, which stays INVISIBLE until
    * the one manifest swap that also installs the new centroids — so
    * probes serve the old index at every crash point and flip
    * atomically at the swap (the [[graft.operators.TextIndex
    * .compactIndex]] protocol). Without this, recall decays as the
    * corpus drifts and the only remedy is a full [[build]] rebuild
    * (which clears the manifest and leaves readers a window with NO
    * index). The result is bit-identical to a fresh assignment of the
    * same vectors against the same anchors (frozen-anchor assignment
    * is deterministic); client batch ids fold into `retired`
    * tombstones, so a replayed streaming append stays a no-op.
    * O(corpus) assignment — the price of re-anchoring — but one keyed
    * write, no Lloyd iterations, no driver-side vector traffic. */
  def retrain(spark: SparkSession, store: String,
              newCentroids: DataFrame): Unit = {
    // a PQ codes layer is partitioned by THIS store's (ab, cluster) —
    // re-anchoring only the vectors would strand it on dead partitions
    // (empty probes, silently); the composed path moves both layers
    // under the one swap
    require(!PqIndex.codebooksExist(spark, store),
      s"$store carries a PQ codes layer — use IvfPqStore.retrain, " +
        "which moves both layers under one manifest swap")
    val m2 = retrainWrite(spark, store, newCentroids)
    retrainCommit(spark, store, m2)
  }

  /** Phase 1 of [[retrain]]: validate + pin the new anchors, re-assign
    * every visible vector, land the result under the next negative
    * generation — INVISIBLE until [[retrainCommit]] swaps the
    * manifest. Returns the new meta (its sole batch is the new
    * generation). Idempotent: a crashed attempt recomputes the same
    * generation and overwrites convergently. */
  private[functions] def retrainWrite(spark: SparkSession, store: String,
                                      newCentroids: DataFrame): Meta = {
    val m = readMeta(spark, store)
    // k-bounded collect: the centroid frame is tiny by contract
    val cents = newCentroids
      .orderBy(col("cluster_id").asc)
      .select(col("cluster_id").cast("long"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(cents.nonEmpty, "retrain: no centroids")
    require(cents.forall(_._2.length == m.dim),
      s"retrain: centroid dim must be ${m.dim}, got " +
        cents.map(_._2.length).distinct.mkString(", "))
    // ids must be EXACTLY 1..k (the build seeding convention): a gap
    // would otherwise be silently filled with a zero centroid that
    // participates in assignment (small-norm vectors can win the zero
    // anchor) and in probes, distorting the layout with no error
    val kEff = cents.length
    require(cents.map(_._1).sorted.sameElements((1 to kEff).map(_.toLong)),
      s"retrain: cluster ids must be exactly 1..$kEff (contiguous, " +
        s"no gaps/dups), got ${cents.map(_._1).sorted.mkString(", ")}")
    val byId = cents.toMap
    val m2 = m.copy(k = kEff, ledger = m.ledger.compacted,
      cents = Array.tabulate(kEff)(i => byId(i + 1L)))
    val gen = m2.batches.head
    // re-assignment reads through the OLD manifest's visible batches
    // and writes under the new generation — invisible until the swap
    writeBatch(readVectors(spark, store).drop("cluster"), m2, store, gen)
    m2
  }

  /** Phase 2 of [[retrain]]: the ONE manifest swap (probes flip here,
    * atomically), then the best-effort sweep of superseded `ab=`
    * dirs. */
  private[functions] def retrainCommit(spark: SparkSession, store: String,
                                       m2: Meta): Unit = {
    writeMeta(spark, store, m2)
    Manifest.sweep(spark, Seq(vectorsPath(store)), m2.batches.head)
  }

  /** Fold every visible batch into ONE negative compaction generation —
    * bounds file/directory growth under streaming ingest (the
    * [[graft.operators.TextIndex.compactIndex]] protocol: rewrite under
    * `ab=<gen>`, swap the manifest, sweep superseded trees LAST;
    * readable at every crash point). Probe results are identical before
    * and after — compaction moves bytes, not content. */
  def compactStore(spark: SparkSession, store: String): Unit = {
    val m = readMeta(spark, store)
    val next = m.ledger.compacted
    val gen = next.visible.head
    val folded = spark.read.parquet(vectorsPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .select(col(m.idCol), col(m.vecCol), lit(gen).as("ab"), col("cluster"))
      .repartition(col("cluster"))
    graft.sources.Sinks.overwritePartitions(folded, vectorsPath(store),
      Seq("ab", "cluster"))
    writeMeta(spark, store, m.copy(ledger = next))
    Manifest.sweep(spark, Seq(vectorsPath(store)), gen)
  }
}
