package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF×PQ serving layout — the full 100 TB ANN story in one
  * store: IVF prunes WHICH partitions a probe scans ([[IvfStore]]'s
  * `cluster=<id>` layout → partition pruning), PQ shrinks WHAT each
  * scanned row costs (m one-byte codes instead of dim floats — the
  * shuffle/scan payload drops ~16×). A store carries BOTH layers over
  * the same batches:
  *
  *  - `<store>/vectors/ab=<b>/cluster=<c>/` — the raw vectors
  *    ([[IvfStore]] owns this layer: frozen centroids in its
  *    manifest, batch append, compaction);
  *  - `<store>/codes/ab=<b>/cluster=<c>/` — the PQ codes, partitioned
  *    IDENTICALLY so an ADC probe and its exact refine prune the same
  *    directories;
  *  - `<store>/_graft_pq_meta.<n>` — the codebooks
  *    ([[PqIndex.saveCodebooks]] bit-exact manifest swap);
  *  - `<store>/_graft_pq_counts.<n>` — per-(batch, cluster) code
  *    counts ([[Counts]], metadata-only auto-shortlist resolution);
  *  - `<store>/_graft_pq_residual.<n>` — present iff the codes are
  *    RESIDUAL-encoded ([[isResidual]]; absent = legacy raw-vector
  *    codes, served with the legacy arithmetic).
  *
  * Crash contract: [[build]] writes codes BEFORE the codebook
  * manifest, and [[append]] writes codes before [[IvfStore.append]]'s
  * vectors-manifest swap — so the codes layer is visible only when
  * both its bytes and the batch registration exist. A crash mid-build
  * leaves a plain working [[IvfStore]] with the PQ layer simply
  * absent ([[pqLayerExists]] false, [[topK]] refuses friendly); a
  * crash mid-append leaves orphan `ab=` dirs no manifest references
  * (invisible, overwritten by the replay).
  *
  * Serving ([[topK]]): probe the frozen centroids (k rows,
  * driver-side), partition-pruned scan of the probed clusters' CODES
  * for the ADC shortlist, then the exact re-rank touches only the
  * shortlist's raw vectors via a broadcast semi-join against the
  * equally-pruned vectors layer — the corpus's floats are never
  * scanned.
  *
  * Since round 18 new stores encode RESIDUALS vs the coarse
  * centroids (the IVFADC construction — see [[isResidual]] for the
  * measured rationale) and serve with one lookup table per probed
  * cell; stores built with `residual = false` (and pre-r18 stores)
  * keep the legacy raw-vector arithmetic end-to-end, which is the
  * same ADC-then-L2 as the in-session [[PqIndex.adcRefineTopK]] ∘
  * [[IvfIndex]] composition, so the spec can assert legacy served ≡
  * in-session on identical inputs. */
object IvfPqStore {

  private def codesPath(store: String) = store + "/codes"
  private val CodesCol = "pq_codes"
  private val CountsPrefix = "_graft_pq_counts"
  private val ResidualPrefix = "_graft_pq_residual"

  /** Both layers present: the IVF store AND the codebook manifest. */
  def pqLayerExists(spark: SparkSession, store: String): Boolean =
    IvfStore.storeExists(spark, store) &&
      PqIndex.codebooksExist(spark, store)

  /** RESIDUAL format marker (round-18, the IVFADC construction of
    * Jégou et al. 2011 §IV): the codes layer holds PQ codes of
    * r = x − centroid(cluster(x)), not of x itself. Residuals
    * re-center every cell's mass on the codebook's dynamic range —
    * the quantizer spends its 256^m cells on the coarse cell's
    * EXTENT instead of the whole corpus's, so ADC resolution per
    * byte improves by the corpus-to-cell extent ratio; and since
    * ||q − x||² = ||(q − c) − (x − c)||² exactly, per-probed-cell
    * LUTs (computed from q − c, one per nprobe cell, driver-side)
    * keep ADC distances comparable ACROSS cells. Shipped as the
    * default on construction grounds plus a measured no-regression
    * bar (SCALE.md r18): recall at-ceiling on the rotational family
    * (0.940/0.985 at 2k/200k) and equal-to-raw on the clustered
    * family at both decades — the clustered corpus's apparent 0.720
    * IVF×PQ recall was adjudicated an L2-vs-cosine TRUTH-METRIC
    * artifact of the probe (the served L2 answer was exact; the
    * offline exact-L2 vs exact-cosine top-10 overlap there is 0.720
    * exactly), not an ADC defect — at 100 TB coarse cells hold far
    * more structure per cell than any 200k probe corpus, which is
    * the published regime where residual coding's resolution margin
    * pays. The marker is written before the codebook swap (same
    * visibility gate); stores without it serve with the legacy
    * raw-vector arithmetic end-to-end. */
  def isResidual(spark: SparkSession, store: String): Boolean =
    graft.sources.Manifest.exists(spark, store, ResidualPrefix)

  /** Replace `vecCol` with the residual vs each row's assigned
    * cluster centroid (broadcast join on the tiny frozen-centroid
    * frame; by the assignment contract every `cluster` id resolves).
    * Double-precision subtraction, stored back at the vector dtype. */
  private def residualized(df: DataFrame, cents: DataFrame,
                           vecCol: String): DataFrame =
    df.join(broadcast(cents.select(col("cluster_id").as("__rcid"),
        col("centroid").as("__rcent"))),
        col("cluster") === col("__rcid"), "left")
      .withColumn(vecCol, zip_with(col(vecCol), col("__rcent"),
        (v, c) => (v.cast("double") - c).cast("float")))
      .drop("__rcid", "__rcent")

  /** Per-(batch, cluster) visible-code counts, persisted in the store
    * manifest (`_graft_pq_counts.<n>`) so [[topK]]'s auto-shortlist
    * resolution is METADATA-ONLY — no count job per query (VERDICT r17
    * #3: at serving rates the count belongs at append/compact time).
    * `covered` names the batch ids the rows are complete for: every
    * write path records counts BEFORE its visibility swap, so the file
    * may cover a batch that never became visible (harmless — [[topK]]
    * sums only visible batches) but a visible batch missing from
    * `covered` means a legacy/partial store and [[topK]] falls back to
    * the one count job. Missing (ab, cluster) rows are true zeros —
    * coverage is per BATCH, rows exist only where codes do. */
  private[functions] final case class Counts(
      covered: Set[Long], rows: Map[(Long, Long), Long])

  private[functions] def readCounts(spark: SparkSession,
                                    store: String): Option[Counts] =
    if (!graft.sources.Manifest.exists(spark, store, CountsPrefix)) None
    else {
      val lines = graft.sources.Manifest.read(spark, store, CountsPrefix)
        .split("\n", -1)
      val covered = lines(0).trim.split("\\s+")
        .filter(_.nonEmpty).map(_.toLong).toSet
      val rows = lines.iterator.drop(1).map(_.trim).filter(_.nonEmpty)
        .map { l =>
          val t = l.split("\\s+")
          ((t(0).toLong, t(1).toLong), t(2).toLong)
        }.toMap
      Some(Counts(covered, rows))
    }

  private def writeCountsFile(spark: SparkSession, store: String,
                              c: Counts): Unit = {
    val sb = new StringBuilder
    sb.append(c.covered.toSeq.sorted.mkString(" ")).append("\n")
    c.rows.toSeq.sortBy(_._1).foreach { case ((ab, cl), n) =>
      sb.append(ab).append(' ').append(cl).append(' ').append(n)
        .append('\n')
    }
    graft.sources.Manifest.write(spark, store, CountsPrefix, sb.toString)
  }

  /** Exact on-disk code counts of `batches`, read back from the codes
    * layer — a footer-light agg over partition columns only, run once
    * per INGEST (never per query). Partition-column types are
    * inference-dependent, hence the explicit casts. */
  private def diskCounts(spark: SparkSession, store: String,
                         batches: Seq[Long]): Map[(Long, Long), Long] =
    spark.read.parquet(codesPath(store))
      .filter(col("ab").isin(batches: _*))
      .groupBy(col("ab").cast("long").as("ab"),
        col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

  /** Record counts for `freshBatches` (just-written codes) merged with
    * the prior file's rows for `visible` batches; a legacy store with
    * no counts file regenerates in full — appends UPGRADE old stores.
    * Called BEFORE each path's visibility swap (see [[Counts]]). */
  private def recordCounts(spark: SparkSession, store: String,
                           visible: Seq[Long],
                           freshBatches: Seq[Long]): Unit = {
    val keep = visible.toSet -- freshBatches
    val merged = readCounts(spark, store) match {
      case Some(c) if keep.subsetOf(c.covered) =>
        c.rows.view.filterKeys(k => keep.contains(k._1)).toMap ++
          diskCounts(spark, store, freshBatches)
      case _ => // absent or partial: regenerate everything in one agg
        diskCounts(spark, store, (keep ++ freshBatches).toSeq)
    }
    writeCountsFile(spark, store,
      Counts(keep ++ freshBatches, merged))
  }

  private def writeCodes(assigned: DataFrame, cb: PqIndex.Codebooks,
                         idCol: String, vecCol: String,
                         store: String): Unit =
    graft.sources.Sinks.overwritePartitions(
      PqIndex.encode(assigned.filter(col(vecCol).isNotNull), vecCol, cb,
          CodesCol)
        .select(col(idCol), col(CodesCol), col("ab"), col("cluster")),
      codesPath(store), Seq("ab", "cluster"))

  /** Train both layers and persist: [[IvfStore.build]] (centroids +
    * cluster-partitioned vectors + its manifest), then PQ codebooks
    * trained on the stored vectors, the codes layer written for every
    * visible batch, and the codebook manifest swapped LAST — the PQ
    * layer's visibility gate. `k = 0` (default) auto-sizes the coarse
    * layer to max(8, round(√n)) — [[IvfIndex.build]]'s measured scale
    * rule; `ksub = 0` (default) auto-sizes the codebooks to min(256,
    * training vectors) — [[PqIndex.train]]'s measured rule (the code
    * byte is paid either way; finer is strictly better). Explicit
    * values pin geometry (the oracle-certified catalog queries do).
    *
    * `residual = true` (default) trains and encodes RESIDUALS vs the
    * frozen coarse centroids — the IVFADC construction; see
    * [[isResidual]] for the rationale and the r18 no-regression
    * measurements. `residual = false` writes the legacy raw-vector
    * format (kept as the read-path coverage writer and for callers
    * pinning pre-r18 codes bytes; measured equal-to-residual at the
    * 200k probe scales — residual's resolution margin is the
    * published large-cell regime, SCALE.md r18). */
  def build(vectors: DataFrame, vecCol: String, idCol: String,
            store: String, k: Int = 0, iterations: Int = 2,
            m: Int = 8, ksub: Int = 0, pqIterations: Int = 3,
            baseBatchId: Long = 0L, residual: Boolean = true): Unit = {
    val spark = vectors.sparkSession
    graft.sources.Manifest.clear(spark, store, "_graft_pq_meta")
    graft.sources.Manifest.clear(spark, store, CountsPrefix)
    graft.sources.Manifest.clear(spark, store, ResidualPrefix)
    graft.sources.Manifest.deleteDirs(spark, Seq(codesPath(store)))
    IvfStore.build(vectors, vecCol, idCol, store, k, iterations,
      baseBatchId)
    val meta = IvfStore.readMeta(spark, store)
    val raw = spark.read.parquet(IvfStore.vectorsPath(store))
      .filter(col("ab").isin(meta.batches: _*))
    val codeSrc =
      if (residual)
        residualized(raw, IvfStore.centroidsDf(spark, store), meta.vecCol)
      else raw
    val cb = PqIndex.train(codeSrc, meta.vecCol, meta.idCol, m, ksub,
      pqIterations)
    writeCodes(codeSrc, cb, meta.idCol, meta.vecCol, store)
    recordCounts(spark, store, meta.batches, meta.batches)
    if (residual) // before the codebook swap: one visibility gate
      graft.sources.Manifest.write(spark, store, ResidualPrefix,
        "residual-v1")
    PqIndex.saveCodebooks(spark, store, cb) // LAST: PQ layer visible
  }

  /** Append a batch with BOTH layers frozen: assign against the stored
    * centroids, encode against the stored codebooks, codes first, then
    * the vectors layer + manifest swap via [[IvfStore.append]] (which
    * also makes the codes batch visible). Replay of a registered
    * batchId is a no-op. */
  def append(vectors: DataFrame, store: String, batchId: Long): Unit = {
    val spark = vectors.sparkSession
    require(pqLayerExists(spark, store), s"no IVF×PQ store at $store")
    IvfStore.requireAppendId(batchId) // before any codes are written
    val meta = IvfStore.readMeta(spark, store)
    if (meta.ledger.isReplay(batchId))
      return // completed replay (possibly folded away by a compaction)
    val cb = PqIndex.loadCodebooks(spark, store)
    val cents = IvfStore.centroidsDf(spark, store)
    val assigned = IvfIndex.assign(
        vectors.filter(col(meta.vecCol).isNotNull),
        broadcast(cents), meta.vecCol, meta.idCol)
      .select(col(meta.idCol), col(meta.vecCol),
        lit(batchId).as("ab"), col("cluster_id").cast("long").as("cluster"))
    val codeSrc =
      if (isResidual(spark, store))
        residualized(assigned, cents, meta.vecCol)
      else assigned
    writeCodes(codeSrc, cb, meta.idCol, meta.vecCol, store)
    recordCounts(spark, store, meta.batches, Seq(batchId))
    IvfStore.append(vectors, store, batchId)
  }

  /** ADC-shortlist + exact-refine top-k over the persisted layout:
    * centroid probe (k rows, driver-side) → partition-pruned CODES
    * scan of the `nprobe` winning clusters scored by the broadcast
    * lookup table → top-`shortlist` by (adc ascending, id) → exact
    * squared-L2 re-rank of just those ids against the equally-pruned
    * vectors layer. Output: (idCol, l2_dist) ascending, id tie-break —
    * the [[PqIndex.adcRefineTopK]] contract served from disk.
    *
    * `shortlist = 0` (default) AUTO-SIZES to
    * max(4·k, ceil(0.7 · scanned)) where `scanned` is the probed
    * clusters' visible code count, resolved METADATA-ONLY from the
    * per-cluster counts every ingest path persists in the store
    * manifest ([[Counts]]; legacy stores without the file fall back
    * to one footer-cheap count over the same pruned partitions, and
    * their next append upgrades them) — the measured
    * scale rule (SCALE.md round-17): recall tracks shortlist/scanned,
    * and 0.7·scanned reached the IVF exact-refine ceiling (0.940) at
    * BOTH measured scales where every fixed shortlist decays (60:
    * 0.825 → 0.635 across the 2k → 20k decade). Under the auto-k
    * coarse layer, scanned ≈ nprobe·√n, so the auto shortlist is
    * O(√n) per query — quality flat, cost sublinear. Explicit
    * shortlist pins geometry (the oracle-certified catalog queries
    * do). */
  def topK(spark: SparkSession, store: String, queryVec: Seq[Float],
           k: Int, nprobe: Int = 2, shortlist: Int = 0): DataFrame = {
    require(k >= 1 && (shortlist == 0 || shortlist >= k),
      s"need shortlist >= k >= 1 (or 0 = auto-size), got k=$k shortlist=$shortlist")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(pqLayerExists(spark, store), s"no IVF×PQ store at $store")
    val meta = IvfStore.readMeta(spark, store)
    val cb = PqIndex.loadCodebooks(spark, store)
    val q = array(queryVec.map(v => lit(v)): _*)
    // k-bounded collect: the centroid table IS tiny by contract
    val probeIds = IvfStore.centroidsDf(spark, store)
      .withColumn("__sim", graft.plans.CosineSimilarity(col("centroid"), q))
      .orderBy(col("__sim").desc_nulls_last, col("cluster_id").asc)
      .limit(nprobe)
      .select(col("cluster_id"))
      .collect().map(_.getLong(0)).toSeq
    def prunedCodes = spark.read.parquet(codesPath(store))
      .filter(col("ab").isin(meta.batches: _*) &&
        col("cluster").isin(probeIds: _*))
    val sl =
      if (shortlist > 0) shortlist
      else {
        // METADATA-ONLY resolution (VERDICT r17 #3): the manifested
        // per-cluster counts give `scanned` with zero Spark jobs —
        // every ingest path records them before its visibility swap,
        // so a store written by this version always hits the fast
        // path. Legacy stores (no counts file, or a visible batch it
        // doesn't cover) fall back to the one footer-cheap count job
        // over the same pruned partitions; their next append upgrades
        // them.
        val scanned = readCounts(spark, store) match {
          case Some(c) if meta.batches.forall(c.covered.contains) =>
            meta.batches.iterator.flatMap(b =>
              probeIds.iterator.map(cl => c.rows.getOrElse((b, cl), 0L)))
              .sum
          case _ => prunedCodes.count()
        }
        math.max(4L * k, math.ceil(0.7 * scanned).toLong)
          .min(Int.MaxValue.toLong).toInt
      }
    // Residual stores score each probed cell against ITS OWN lookup
    // table (LUT of q − centroid_cell — ||q−x||² = ||(q−c)−(x−c)||²
    // exactly, so distances stay comparable across cells): a union of
    // nprobe single-cluster scans, each partition-pruned to one
    // `cluster=` dir, one TakeOrderedAndProject across the union.
    // Legacy raw-vector stores keep the single-LUT scan.
    val scored =
      if (isResidual(spark, store)) {
        require(queryVec.length == meta.dim,
          s"query dim ${queryVec.length} != store dim ${meta.dim}")
        probeIds.map { cid =>
          val cent = meta.cents(cid.toInt - 1)
          val qres = Array.tabulate(queryVec.length)(i =>
            (queryVec(i).toDouble - cent(i)).toFloat).toSeq
          spark.read.parquet(codesPath(store))
            .filter(col("ab").isin(meta.batches: _*) &&
              col("cluster") === cid)
            .withColumn("adc_dist",
              graft.plans.PqCodes.adc(col(CodesCol), PqIndex.lut(qres, cb)))
        }.reduce(_ unionByName _)
      } else prunedCodes
        .withColumn("adc_dist",
          graft.plans.PqCodes.adc(col(CodesCol), PqIndex.lut(queryVec, cb)))
    val shortIds = scored
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist").asc, col(meta.idCol).asc)
      .limit(sl)
      .select(meta.idCol)
    spark.read.parquet(IvfStore.vectorsPath(store))
      .filter(col("ab").isin(meta.batches: _*) &&
        col("cluster").isin(probeIds: _*))
      .join(broadcast(shortIds), Seq(meta.idCol), "left_semi")
      .withColumn("l2_dist", graft.plans.SquaredL2(col(meta.vecCol), q))
      .select(col(meta.idCol), col("l2_dist"))
      .orderBy(col("l2_dist").asc, col(meta.idCol).asc)
      .limit(k)
  }

  /** Re-anchor the COARSE layer on `newCentroids` with the PQ layer
    * kept consistent — [[IvfStore.retrain]]'s composed sibling (the
    * plain path refuses on a PQ store: codes are partitioned by this
    * store's (ab, cluster), so moving only the vectors would strand
    * them on dead partitions).
    *
    * LEGACY raw-vector stores: codes BYTES never change — a coarse
    * re-anchor only MOVES them (one id-equi join against the
    * re-assigned vectors re-keys each code to its NEW cluster, no
    * re-encode). RESIDUAL stores ([[isResidual]]): codes encode
    * x − centroid, so a re-anchor RE-ENCODES every visible vector
    * against its new centroid — one pass over the just-written
    * (invisible) generation's vectors, which already carry the new
    * assignment. The existing codebooks are reused: residual
    * distributions are near-zero-centered under any reasonable
    * anchor, so the old codebooks stay serviceable — after a LARGE
    * drift, rebuild to re-train them on the new residuals. Either
    * way the new codes land under the new generation, codes BEFORE
    * the one vectors-manifest swap that flips both layers atomically
    * (the [[append]] ordering); the old index is served at every
    * crash point. */
  def retrain(spark: SparkSession, store: String,
              newCentroids: DataFrame): Unit = {
    require(pqLayerExists(spark, store), s"no IVF×PQ store at $store")
    val meta = IvfStore.readMeta(spark, store)
    val m2 = IvfStore.retrainWrite(spark, store, newCentroids)
    val gen = m2.batches.head
    // the just-written generation (invisible until the swap below)
    // carries each id's NEW cluster — and, for residual stores, the
    // raw vectors the re-encode needs
    val newGenVecs = spark.read.parquet(IvfStore.vectorsPath(store))
      .filter(col("ab") === gen)
    val recoded =
      if (isResidual(spark, store)) {
        val cb = PqIndex.loadCodebooks(spark, store)
        val cents = IvfStore.centroidsDfOf(spark, m2)
        PqIndex.encode(
            residualized(newGenVecs, cents, meta.vecCol)
              .filter(col(meta.vecCol).isNotNull),
            meta.vecCol, cb, CodesCol)
          .select(col(meta.idCol), col(CodesCol), col("ab"),
            col("cluster"))
      } else
        spark.read.parquet(codesPath(store))
          .filter(col("ab").isin(meta.batches: _*))
          .select(col(meta.idCol), col(CodesCol))
          .join(newGenVecs.select(col(meta.idCol), col("cluster")),
            Seq(meta.idCol))
          .select(col(meta.idCol), col(CodesCol), lit(gen).as("ab"),
            col("cluster"))
    graft.sources.Sinks.overwritePartitions(
      recoded.repartition(col("cluster")), codesPath(store),
      Seq("ab", "cluster"))
    // counts BEFORE the swap: covers the old visible batches (crash →
    // still-served index keeps metadata resolution) AND the new gen
    recordCounts(spark, store, meta.batches, Seq(gen))
    IvfStore.retrainCommit(spark, store, m2) // both layers flip here
    graft.sources.Manifest.sweep(spark, Seq(codesPath(store)), gen)
  }

  /** Compact BOTH layers into one negative generation: codes fold
    * first (under the new gen dir), then [[IvfStore.compactStore]]
    * swaps the manifest (the visibility pivot for both layers), then
    * superseded codes dirs sweep LAST — readable at every crash
    * point, probe results identical before and after. */
  def compactStore(spark: SparkSession, store: String): Unit = {
    require(pqLayerExists(spark, store), s"no IVF×PQ store at $store")
    val meta = IvfStore.readMeta(spark, store)
    val gen = meta.ledger.compacted.visible.head
    val folded = spark.read.parquet(codesPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .select(col(meta.idCol), col(CodesCol), lit(gen).as("ab"),
        col("cluster"))
      .repartition(col("cluster"))
    graft.sources.Sinks.overwritePartitions(folded, codesPath(store),
      Seq("ab", "cluster"))
    recordCounts(spark, store, meta.batches, Seq(gen))
    IvfStore.compactStore(spark, store)
    graft.sources.Manifest.sweep(spark, Seq(codesPath(store)), gen)
  }
}
