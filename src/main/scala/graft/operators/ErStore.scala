package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** Persisted incremental ENTITY REGISTRY — the store twin of the
  * end-to-end ER pipeline (q273): new record batches fuzzy-link
  * against the persisted corpus through [[JwJoin]]'s bounded
  * candidate generation, fold into the persisted clustering through
  * [[Graph.incrementalComponents]], and the registry serves stable
  * entity ids — without ever re-linking or re-clustering the corpus.
  * Composes the two halves the repo already owns: the
  * manifest-last store discipline ([[SignatureStore]]/
  * [[graft.functions.IvfStore]]) and star-edge incremental CC.
  *
  * Layout (`<store>/`):
  *  - `records/ab=<b>/`          — the prepped record shape
  *    (__id, __s, __bk struct, __n, __bh): the linkable records,
  *    append-only, batch-partitioned;
  *  - `keys/ab=<b>/bucket=<k>/`  — (__id, __n, __dd, __del, __eh):
  *    PRE-COMPUTED [[JwJoin.multisetKeys]] deletion-variant keys,
  *    partitioned by `bucket = pmod(__eh, numBuckets)` — a batch's
  *    probe reads only its own buckets (the SignatureStore banded
  *    access path: work per batch is O(batch + touched buckets),
  *    never O(corpus));
  *  - `entities/ab=<b>/`         — (__id, entity) label DELTAS:
  *    each append rewrites only the components it touched; serving
  *    folds latest-ab-wins per id;
  *  - `_graft_er_meta.<n>`       — pinned geometry (threshold,
  *    maxLen, deletion depth, buckets, column names) + visible
  *    batches + retired tombstones (the IvfStore compaction-replay
  *    discipline).
  *
  * Incremental exactness: an append links batch↔batch and
  * batch↔stored pairs; any two EARLIER batches' cross pairs were
  * linked when the later of them arrived, so the edge set equals the
  * full corpus self-join's. Only components containing a stored
  * endpoint of a new edge can change, so CC re-runs on exactly
  * (touched components' star edges + new edges + batch nodes);
  * labels are member-minimum ids — stable for untouched components,
  * and equal to a full recompute's labels for touched ones
  * (ErStoreSpec proves registry ≡ full-corpus
  * [[JwJoin.jaroWinklerSelfJoin]] + [[Graph.connectedComponents]]
  * after every append).
  *
  * Envelope: the persisted key layout is the corpus-independent
  * sorted-multiset deletion channel, so `deletionDepth(threshold,
  * maxLen) <= 2` is REQUIRED at build (high-threshold short-string
  * linkage — the registry's domain; the prefix channel's
  * corpus-frequency order does not persist). Record names longer
  * than the pinned maxLen fail fast at build/append. Ids must be
  * unique, non-null and long-castable (the CC engine's id space;
  * caller owns cross-batch disjointness — the dedup-store contract).
  *
  * Crash-safety: data writes land under their `ab=` partition via
  * dynamic partition overwrite (replays converge), and the manifest
  * append is LAST — a crashed append leaves orphan partitions
  * invisible; a replayed batch id (live or retired) is a no-op.
  * Single-writer per store path.
  *
  * BLOCKING-KEY SIZING (measured, SCALE.md r17): per-batch append
  * cost is O(batch + touched buckets) PLUS a per-block density term —
  * inside each block the batch's deletion-variant keys join posting
  * lists that grow with block density, and the batch's true match
  * set grows with it. A key set whose cardinality is FIXED (e.g.
  * nation: 25 blocks at any corpus size) therefore grows ~1.4x per
  * corpus decade (measured 9.6 -> 13.7 s for the same 1,500-name
  * batch, 1x -> 10x store); a key whose cardinality grows ∝ corpus
  * (e.g. nation × a name band, ~100 rows/block at any scale)
  * measures FLAT (9.4 -> 9.1 s). Rule: choose `blockCols` so expected
  * rows/block stays ~constant as the registry grows — the recall
  * tradeoff is the standard ER one (pairs crossing a block boundary
  * are never candidates), and incremental ≡ full recompute holds for
  * ANY key shape (ErStoreSpec pins a composite key).
  */
object ErStore {

  private val MetaPrefix = "_graft_er_meta"

  private def recordsPath(store: String)  = store + "/records"
  private def keysPath(store: String)     = store + "/keys"
  private def entitiesPath(store: String) = store + "/entities"

  private[graft] final case class Meta(threshold: Double, maxLen: Int,
                                       d: Int, numBuckets: Int,
                                       idCol: String, nameCol: String,
                                       blockCols: Seq[String],
                                       ledger: Manifest.Batches) {
    def batches: Seq[Long] = ledger.visible
  }

  def storeExists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, MetaPrefix)

  private[graft] def readMeta(spark: SparkSession, store: String): Meta = {
    require(storeExists(spark, store), s"no entity registry at $store")
    val lines = Manifest.read(spark, store, MetaPrefix).trim.split("\n")
    val h = lines(0).trim.split("\\s+")
    val nBlock = h(6).toInt
    Meta(java.lang.Double.longBitsToDouble(h(0).toLong), h(1).toInt,
      h(2).toInt, h(3).toInt, h(4), h(5),
      h.slice(7, 7 + nBlock).toSeq, Manifest.Batches.parse(lines(1)))
  }

  private def writeMeta(spark: SparkSession, store: String, m: Meta): Unit = {
    val sb = new StringBuilder
    sb.append(s"${java.lang.Double.doubleToLongBits(m.threshold)} " +
      s"${m.maxLen} ${m.d} ${m.numBuckets} ${m.idCol} ${m.nameCol} " +
      s"${m.blockCols.length} ${m.blockCols.mkString(" ")}").append("\n")
    sb.append(m.ledger.line).append("\n")
    Manifest.write(spark, store, MetaPrefix, sb.toString)
  }

  /** Prep a record frame against the pinned geometry: JwJoin's
    * (__id, __s, __n, __bh, __bk) with the id cast long, plus a
    * fail-fast on names past the pinned maxLen (the deletion depth
    * was sized for maxLen — a longer name would silently lose
    * recall, so it is an error instead). */
  private def prepped(df: DataFrame, m: Meta): DataFrame = {
    val p = JwJoin.prep(
      df.select((col(m.idCol).cast("long").as(m.idCol) +:
        col(m.nameCol).as(m.nameCol) +:
        m.blockCols.map(col)): _*),
      m.idCol, m.nameCol, m.blockCols)
    val over = p.filter(col("__n") > m.maxLen).limit(1)
      .select(col("__id"), col("__n")).collect()
    if (over.nonEmpty)
      throw new IllegalArgumentException(
        s"record id ${over.head.get(0)} has a ${over.head.get(1)}-char " +
          s"name, over the registry's pinned maxLen=${m.maxLen} — the " +
          "deletion depth was sized for maxLen, so longer names would " +
          "silently lose recall. Rebuild with a larger maxLen.")
    p
  }

  private def keyed(p: DataFrame, m: Meta): DataFrame =
    JwJoin.multisetKeys(p, m.d)
      .withColumn("bucket", pmod(col("__eh"), lit(m.numBuckets.toLong)))

  private def writeLayer(df: DataFrame, path: String, batchId: Long,
                         extraPartition: Seq[String] = Nil): Unit = {
    val out = df.withColumn("ab", lit(batchId))
    val parts = "ab" +: extraPartition
    // bucketed layers cluster by their partition dirs first, or every
    // write task emits a file per bucket (task-count × buckets files)
    val shaped = if (extraPartition.isEmpty) out
      else out.repartition(parts.map(col): _*)
    graft.sources.Sinks.overwritePartitions(shaped, path, parts)
  }

  /** Visible stored keys, optionally partition-pruned to the probe's
    * buckets (private[graft] so the spec can assert the pruned scan). */
  private[graft] def storedKeys(spark: SparkSession, store: String,
                                buckets: Option[Seq[Long]]): DataFrame = {
    val m = readMeta(spark, store)
    val base = spark.read.parquet(keysPath(store))
      .filter(col("ab").isin(m.batches: _*))
    buckets.fold(base)(bs => base.filter(col("bucket").isin(bs: _*)))
      .select(col("__id"), col("__n"), col("__dd"), col("__del"),
        col("__eh"))
  }

  private def storedRecords(spark: SparkSession, store: String,
                            m: Meta): DataFrame =
    spark.read.parquet(recordsPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .drop("ab")

  /** Create the registry from an initial corpus: link it
    * (bounded self-join), cluster it, persist records + keys +
    * labels + manifest (manifest LAST). `baseBatchId` registers the
    * build under a streaming sink's own id so a post-crash replay of
    * that micro-batch is a recognized no-op. */
  def build(df: DataFrame, idCol: String, nameCol: String, store: String,
            threshold: Double, blockCols: Seq[String] = Nil,
            maxLen: Int = 18, numBuckets: Int = 64,
            baseBatchId: Long = 0L): Unit = {
    JwJoin.requireThreshold(threshold)
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val spark = df.sparkSession
    require(!storeExists(spark, store),
      s"entity registry already exists at $store — use append")
    val d = JwJoin.deletionDepth(threshold, maxLen)
    require(d <= 2,
      s"deletionDepth($threshold, maxLen=$maxLen) = $d > 2: the " +
        "persisted key layout is the sorted-multiset deletion channel, " +
        "which needs at most 2 out-of-overlap chars per record. Raise " +
        "the threshold or lower maxLen (high-threshold short-string " +
        "linkage is the registry's domain).")
    val m = Meta(threshold, maxLen, d, numBuckets, idCol, nameCol,
      blockCols, Manifest.Batches.empty.add(baseBatchId))
    val p = Materialize(prepped(df, m))
    val keys = keyed(p, m)
    val edges = JwJoin.gateJw(
        JwJoin.deletionCandidates(keys, keys, threshold, d,
          selfPairs = true, maxBlockSize = Int.MaxValue),
        JwJoin.namesOf(p, "a"), JwJoin.namesOf(p, "b"), threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = Graph.connectedComponents(edges, "src", "dst",
      nodes = Some((p.select(col("__id")), "__id")))
    writeLayer(p, recordsPath(store), baseBatchId)
    writeLayer(keys, keysPath(store), baseBatchId, Seq("bucket"))
    writeLayer(labels.select(col("id").as("__id"), col("component")
      .as("entity")), entitiesPath(store), baseBatchId)
    writeMeta(spark, store, m)
  }

  /** Fold one record batch into the registry: bounded-link the batch
    * against itself and against the stored corpus (bucket-pruned key
    * probe), re-cluster ONLY the touched components, persist the
    * batch's records/keys and the label delta, manifest last.
    * Replayed batch ids (live or retired) no-op. */
  def append(df: DataFrame, store: String, batchId: Long): Unit = {
    val spark = df.sparkSession
    require(batchId > 0, s"batchId must be > 0, got $batchId (0 is the " +
      "base build's manifest id, negative ids are compaction generations)")
    val m = readMeta(spark, store)
    if (m.ledger.isReplay(batchId))
      return // completed replay (possibly folded away by a compaction)
    // entities() folds label deltas latest-ab-wins, so append order must
    // match id order: a fresh batch with an id BELOW an applied one would
    // write labels that lose the fold to stale higher-ab rows. The
    // streaming sink's batchId+1 keys satisfy this by construction.
    val applied = m.batches ++ m.ledger.retired
    require(applied.forall(_ < batchId),
      s"batchId must exceed every applied batch id (max ${applied.max}), " +
        s"got $batchId — label deltas fold latest-id-wins, so appends " +
        "must carry monotonically increasing ids")
    val p = Materialize(prepped(df, m))
    val keys = Materialize(keyed(p, m))
    val probeBuckets = keys.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val stored = storedKeys(spark, store, Some(probeBuckets))
    val sRecords = storedRecords(spark, store, m)
    val candBS = JwJoin.deletionCandidates(stored, keys.drop("bucket"),
      m.threshold, m.d, selfPairs = false, maxBlockSize = Int.MaxValue)
    val edgesBS = Materialize(JwJoin.gateJw(candBS,
        JwJoin.namesOf(sRecords, "a"), JwJoin.namesOf(p, "b"), m.threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst")))
    val candBB = JwJoin.deletionCandidates(keys.drop("bucket"),
      keys.drop("bucket"), m.threshold, m.d, selfPairs = true,
      maxBlockSize = Int.MaxValue)
    val edgesBB = JwJoin.gateJw(candBB,
        JwJoin.namesOf(p, "a"), JwJoin.namesOf(p, "b"), m.threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    // only components holding a stored endpoint of a new cross edge
    // can change — their star edges re-enter CC, nothing else does
    val prior = entities(spark, store)
      .select(col(m.idCol).as("id"), col("entity").as("component"))
    val touched = prior
      .join(edgesBS.select(col("src").as("id")).distinct(), "id")
      .select(col("component")).distinct()
    val touchedMembers = prior.join(touched, Seq("component"))
      .select(col("id"), col("component"))
    val newLabels = Graph.incrementalComponents(touchedMembers,
      edgesBS.unionByName(edgesBB), "src", "dst",
      newNodes = Some((p.select(col("__id")), "__id")))
    writeLayer(p, recordsPath(store), batchId)
    writeLayer(keys, keysPath(store), batchId, Seq("bucket"))
    writeLayer(newLabels.select(col("id").as("__id"),
      col("component").as("entity")), entitiesPath(store), batchId)
    writeMeta(spark, store, m.copy(ledger = m.ledger.add(batchId)))
  }

  /** The registry: (idCol, entity) — latest-ab-wins fold over the
    * label deltas (each append rewrote only touched components, so a
    * record's current label is its newest row). */
  def entities(spark: SparkSession, store: String): DataFrame = {
    val m = readMeta(spark, store)
    spark.read.parquet(entitiesPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .groupBy(col("__id"))
      .agg(max(struct(col("ab"), col("entity"))).as("__w"))
      .select(col("__id").as(m.idCol), col("__w.entity").as("entity"))
  }

  /** Fold every layer into one negative generation and sweep the
    * superseded `ab=` trees; folded-away positive ids retire as
    * tombstones so replayed appends stay no-ops (the IvfStore
    * compaction discipline — readable at every crash point). */
  def compact(spark: SparkSession, store: String): Unit = {
    val m = readMeta(spark, store)
    val next = m.ledger.compacted
    val gen = next.visible.head
    val recs = storedRecords(spark, store, m)
    graft.sources.Sinks.overwritePartitions(
      recs.withColumn("ab", lit(gen)), recordsPath(store), Seq("ab"))
    val ks = spark.read.parquet(keysPath(store))
      .filter(col("ab").isin(m.batches: _*))
      .select(col("__id"), col("__n"), col("__dd"), col("__del"),
        col("__eh"), col("bucket"), lit(gen).as("ab"))
    graft.sources.Sinks.overwritePartitions(ks, keysPath(store),
      Seq("ab", "bucket"))
    val ents = entities(spark, store)
      .select(col(m.idCol).as("__id"), col("entity"), lit(gen).as("ab"))
    graft.sources.Sinks.overwritePartitions(ents, entitiesPath(store),
      Seq("ab"))
    writeMeta(spark, store, m.copy(ledger = next))
    Manifest.sweep(spark,
      Seq(recordsPath(store), keysPath(store), entitiesPath(store)), gen)
  }
}
