package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * The reference deduplicates with pandas `drop_duplicates` in two forms:
  * on a key subset keeping the FIRST row in file order (load.py:13), and
  * full-row distinct (load.py:33,59). Spark's `dropDuplicates` picks an
  * arbitrary row per key across partitions, so the engine's spec is the
  * deterministic window form: `row_number() over (partition by key order by
  * tiebreak) = 1`. This is a single hash shuffle on the key — at 100 TB the
  * shuffle is unavoidable for exact dedup; partial aggregation doesn't
  * apply to row_number, so for very hot keys prefer [[exactByContent]]
  * (hash first, dedup on the fixed-width hash).
  */
object Dedup {

  /** Deterministic keep-first: of all rows sharing `keys`, keep the row
    * that sorts first under `tiebreak`. (Reference load.py:13 semantics
    * with file order replaced by an explicit total order.) */
  def keepFirst(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Full-row distinct (reference load.py:33,59). Plain `distinct` is
    * already deterministic — every surviving row is identical. */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Hash-aggregate formulation of keep-first: `min(struct(ord, *))` per
    * key. Same result and schema order as [[keepFirst]] with an
    * `ord asc_nulls_first` tiebreak (struct ordering puts a null leading
    * field first, matching the window form's default), but executes as
    * HashAggregate partial→final (map-side combine, no per-partition
    * sort) — at 100 TB this halves the shuffle and skips the sort
    * entirely. `ord` should be unique per key for a total order.
    * Keys must name existing columns exactly (fail-fast — no silent
    * case-insensitive duplication). */
  def keepFirstAgg(df: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val missing = keys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"keepFirstAgg: keys not found exactly in schema: $missing")
    val payload = df.columns.filterNot(c => keys.contains(c))
    val grouped = df.groupBy(keys.map(col): _*)
      .agg(min(struct((col(ord).as("__ord0") +: payload.map(c => col(c).as(c)))
        .toIndexedSeq: _*)).as("__row"))
    // restore the input's column order; getField is dot/space-safe
    grouped.select(df.columns.toIndexedSeq.map { c =>
      if (keys.contains(c)) col(c) else grouped("__row").getField(c).as(c)
    }: _*)
  }

  /** Exact content dedup for document-scale data: hash the content column
    * (sha2-256 — collision-safe at any realistic corpus size), keep the row
    * with the smallest `idCol` per hash. Shuffles fixed-width hashes, not
    * documents, once the optimizer prunes columns.
    * Adds `content_hash`; drops duplicate rows. */
  def exactByContent(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    // null content is NOT equal content (SQL semantics): give each
    // null-content row its own hash group so none are dropped
    val hashed = df.withColumn("content_hash",
      coalesce(sha2(col(contentCol), 256),
        concat(lit("null:"), col(idCol).cast("string"))))
    keepFirst(hashed, Seq("content_hash"), Seq(col(idCol)))
  }

  /** k-token shingles of a text column (lowercased, whitespace-split,
    * empty tokens dropped — the [[graft.plans.Tokens]] contract, so agg
    * and native forms tokenize identically on edge whitespace). */
  private def shingleExpr(textCol: String, shingleSize: Int) = {
    val toks = graft.plans.Tokens.whitespaceSql(textCol)
    expr(
      s"transform(sequence(1, greatest(size($toks) - ${shingleSize - 1}, 1)), " +
      s"i -> concat_ws(' ', slice($toks, i, $shingleSize)))")
  }

  /** MinHash signature over token shingles via the native codegen'd
    * expression [[graft.plans.MinHashSignature]]: per-row compute, zero
    * shuffle — the signature is the first thing that ever needs to move
    * between executors, and it is numHashes longs per document.
    *
    * Adds `minhash: array<bigint>` of length numHashes.
    *
    * `nfc = true` applies Unicode NFC normalization before tokenizing
    * ([[graft.plans.Tokens.whitespaceNfc]]) so canonically-equal texts
    * (composed vs decomposed accents) produce identical signatures —
    * the multilingual-corpus mode. Signatures from different modes do NOT
    * band together; pick one mode per corpus/store.
    */
  def minHashSignature(df: DataFrame, textCol: String, shingleSize: Int = 3,
                       numHashes: Int = 32, nfc: Boolean = false): DataFrame =
    df.withColumn("minhash",
      graft.plans.MinHashSignature(col(textCol), shingleSize, numHashes, nfc))

  /** Explode + hash-aggregate formulation of the signature (codegen'd
    * builtins only, but shuffles one row per shingle). Bit-identical to
    * [[minHashSignature]] (same hash family: xxhash64(shingle), then
    * xxhash64(j.toLong, h) — asserted by DedupSpec), so signatures from
    * the two paths band together; prefer [[minHashSignature]] (no
    * shuffle).
    */
  def minHashSignatureAgg(df: DataFrame, textCol: String, shingleSize: Int = 3,
                          numHashes: Int = 32, idCol: String = "doc_id"): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(shingleExpr(textCol, shingleSize)).as("__sh"))
      .select(col(idCol), xxhash64(col("__sh")).as("__h"))
    // lit(j.toLong): an Int literal would hash via hashInt, a different
    // value than the native path's hashLong-composed seed
    val minCols = (0 until numHashes)
      .map(j => min(xxhash64(lit(j.toLong), col("__h"))).as(s"__m$j"))
    exploded
      .groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(j => col(s"__m$j")): _*).as("minhash"))
  }

  /** LSH banding over MinHash signatures → candidate near-duplicate pairs.
    *
    * Signature of length b*r is split into `bands` bands of `rowsPerBand`;
    * rows sharing any band hash become a candidate pair. The band explode is
    * narrow; the only shuffle is the groupBy on (band, bandHash) — the
    * classic LSH join, linear in corpus size instead of O(n^2) pairwise.
    *
    * `maxBucketSize` caps the quadratic pair fan-out of a single bucket:
    * a degenerate bucket (boilerplate-heavy corpora put millions of docs
    * behind one band hash) would otherwise emit size² pairs and dominate
    * the job. Oversized buckets are dropped — their members almost always
    * co-occur in other, smaller buckets; raise the cap (or add bands) if
    * recall on template-heavy data matters more than the blowup guard.
    *
    * Returns distinct candidate pairs (id_a < id_b).
    */
  def minHashCandidatePairs(withSig: DataFrame, idCol: String,
                            bands: Int, rowsPerBand: Int,
                            numHashes: Int = 32,
                            maxBucketSize: Int = 10000): DataFrame = {
    // an oversized layout would slice past the signature: empty bands hash
    // to one constant -> every doc in a single bucket -> O(n^2) blowup
    require(bands * rowsPerBand == numHashes,
      s"band layout ${bands}x$rowsPerBand must cover the signature length $numHashes exactly")
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    pairsFromBands(bandedSignatures(withSig, idCol, bands, rowsPerBand),
      maxBucketSize)
  }

  /** Within-bucket candidate pairs from already-banded rows
    * (`(__id, band_id, band_hash)`) — the pairing half of
    * [[minHashCandidatePairs]], callable on a banded table that is
    * already shared with another consumer. */
  private[operators] def pairsFromBands(banded: DataFrame,
                                        maxBucketSize: Int): DataFrame = {
    // size-gate BEFORE collect_list: the window count is sort-based and
    // spillable, so a degenerate bucket never has to fit in one
    // aggregation buffer; only surviving (capped) buckets are collected.
    // Same partitioning key both steps -> Catalyst plans ONE shuffle.
    val wBucket = Window.partitionBy(col("band_id"), col("band_hash"))
    val grouped = banded
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") > 1 && col("__n") <= maxBucketSize)
      .groupBy("band_id", "band_hash")
      .agg(collect_list("__id").as("ids"))
    // pairs within a bucket; sort_array makes (a,b) canonical with a < b
    grouped
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids) - 1), " +
        "i -> transform(slice(ids, i + 1, size(ids) - i), " +
        "j -> named_struct('id_a', least(ids[i-1], j), 'id_b', greatest(ids[i-1], j)))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** (__id, band_id, band_hash) rows: one per band per signature.
    * Band hashing is the native codegen [[graft.plans.BandHashes]] (one
    * JIT'd fold per row, no per-band string materialization); posexplode
    * supplies the band ordinal. */
  private[operators] def bandedSignatures(withSig: DataFrame, idCol: String,
                               bands: Int, rowsPerBand: Int): DataFrame =
    withSig
      .select(col(idCol).as("__id"),
        posexplode(graft.plans.BandHashes(col("minhash"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")

  /** Incremental near-dup candidates: pair a NEW batch against an
    * already-signed corpus without ever re-pairing the corpus with
    * itself — the production shape for a growing 100 TB corpus, where
    * re-running full-corpus banding per ingest batch is the thing that
    * does not scale.
    *
    * The corpus side is touched only where the batch's band hashes land:
    * its banded form is semi-joined down to matched buckets BEFORE any
    * pairing (store the banded corpus as a table bucketed by band_hash
    * and this semi-join is a pruned scan, not a full pass). Work ∝
    * batch size + matched-bucket membership, never corpus².
    *
    * Both inputs carry `minhash` (from [[minHashSignature]], same band
    * layout). Returns distinct (id_a < id_b) pairs where at least one
    * side is from the batch: batch-internal pairs via
    * [[minHashCandidatePairs]] on the batch alone, batch-vs-corpus pairs
    * via the bucket join. Verify + cluster downstream exactly as in the
    * batch path. */
  def incrementalCandidatePairs(newSigs: DataFrame, corpusSigs: DataFrame,
                                idCol: String, bands: Int, rowsPerBand: Int,
                                numHashes: Int = 32,
                                maxBucketSize: Int = 10000): DataFrame = {
    require(bands * rowsPerBand == numHashes,
      s"band layout ${bands}x$rowsPerBand must cover the signature length $numHashes exactly")
    // the batch is banded ONCE and shared by its three readers (the
    // cross semi-join probe, the cross pairing join, the batch-internal
    // pairing) — previously the batch's shingle→minhash→band pipeline
    // re-executed per reader. Batch-bands-sized blocks; lazy (guide
    // §3.3), swept by Bench per query.
    val newBands = Materialize(
      bandedSignatures(newSigs, idCol, bands, rowsPerBand))
    val crossPairs = crossPairsFromBands(newBands,
      bandedSignatures(corpusSigs, idCol, bands, rowsPerBand), maxBucketSize)
    val newNew = pairsFromBands(newBands, maxBucketSize)
    crossPairs.union(newNew).distinct()
  }

  /** Batch-vs-corpus candidate pairs from already-banded rows (both sides
    * `(__id, band_id, band_hash)`). The corpus side is semi-joined down to
    * the batch's exact band hashes BEFORE any pairing; when the corpus
    * bands come from a [[SignatureStore]] the input is additionally a
    * partition-pruned scan of just the touched buckets. */
  private[operators] def crossPairsFromBands(newBands: DataFrame,
                                             corpusBands: DataFrame,
                                             maxBucketSize: Int): DataFrame = {
    val matched = corpusBands
      .join(newBands.select(col("band_id"), col("band_hash")).distinct(),
        Seq("band_id", "band_hash"), "left_semi")
    // blowup guard on the corpus side of each touched bucket (the batch
    // side is bounded by the batch itself)
    val wBucket = Window.partitionBy(col("band_id"), col("band_hash"))
    val gated = matched
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
    newBands
      .join(gated.withColumnRenamed("__id", "__cid"), Seq("band_id", "band_hash"))
      .filter(col("__id") =!= col("__cid"))
      .select(least(col("__id"), col("__cid")).as("id_a"),
        greatest(col("__id"), col("__cid")).as("id_b"))
  }

  /** Ingest-time dedup against a persistent [[SignatureStore]]: drop batch
    * docs that (a) re-ingest an id already in the store, (b) band-match a
    * stored document, or (c) band-match another doc in the same batch —
    * then land the survivors via `land` and append their signatures to the
    * store. Returns the surviving rows of `batch`. The unit of growth for
    * a continuously-ingested corpus; [[graft.streaming.StreamOps
    * .nearDupFilterSink]] wraps it per micro-batch.
    *
    * Scale shape: the store is banded and bucketed ([[SignatureStore]]),
    * so both store reads are PARTITION-PRUNED scans — the id replay guard
    * reads only the id-buckets the batch occupies, and candidate
    * generation reads only the band-buckets the batch's band hashes land
    * in. Work per batch is O(batch + touched-bucket membership), never
    * O(corpus) — round 3 re-banded the full store every batch. The two
    * touched-bucket collects are bounded by the store's bucket count
    * (small driver scalars, not data).
    *
    * Semantics: candidate-level (banding) dedup — no Jaccard verify,
    * because the store keeps banded hashes, not text (at 100 TB the store
    * must stay narrow). Choose the band layout for the precision you need;
    * run [[jaccardVerify]]+[[Graph.connectedComponents]] offline for exact
    * cluster resolution. Batch-internal resolution drops EVERY larger-id
    * endpoint of every batch-internal candidate pair — transitive at
    * candidate level: in a chain A~B, B~C with no A~C pair, both B and C
    * drop, which is STRICTER than one-at-a-time sequential ingestion
    * (sequential would keep C, since its only similar doc B was itself
    * dropped). This is a deliberate policy — the conservative choice for
    * training-data dedup (never admits a doc that band-matched anything
    * seen in the same batch) and it keeps the batch path join-only; use
    * [[Graph.connectedComponents]] + keep-min over the batch pairs when
    * per-cluster exactly-one-survivor semantics matter.
    *
    * Write ordering (crash safety): `land` runs BEFORE the store append.
    * On a crash between the two, replay recomputes the SAME survivors
    * (the store did not advance, and the computation is deterministic), so
    * an idempotent `land` (e.g. dynamic overwrite of a batch-id partition)
    * converges; once the store append lands, replay's id anti-join empties
    * the batch and both writes become no-ops. Round 3 appended the store
    * first, which silently LOST the batch's output on replay — the id
    * guard saw the ids as already stored. The id anti-join makes batch
    * replay effectively once end-to-end. Single-writer per store path. */
  def dedupAgainstStore(batch: DataFrame, idCol: String, textCol: String,
                        storePath: String, bands: Int = 8, rowsPerBand: Int = 4,
                        numHashes: Int = 32,
                        maxBucketSize: Int = 10000,
                        storeBuckets: Int = SignatureStore.DefaultBuckets,
                        land: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val hasStore = SignatureStore.exists(spark, storePath)
    val nb = SignatureStore.resolveBuckets(spark, storePath, storeBuckets)
    // (a) exact id replay guard, pruned to the batch's id-buckets
    val fresh =
      if (hasStore) {
        val touchedIdb = batch
          .select(SignatureStore.idBucket(col(idCol), nb).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        batch.join(SignatureStore.readIds(spark, storePath, touchedIdb)
            .select(col("id").as(idCol)), Seq(idCol), "left_anti")
      } else batch
    // materialize the batch signatures ONCE: minhash is the CPU-heavy step
    // and three downstream actions read it (the touched-bucket collect,
    // candidate-pair generation, and the survivor anti-join's pair plan) —
    // without the checkpoint each action recomputes every signature. The
    // checkpointed rows are narrow (id + numHashes longs).
    val sigB = Materialize(
      minHashSignature(fresh, textCol, shingleSize = 3, numHashes = numHashes)
        .select(col(idCol), col("minhash")),
      eager = true)
    val newBands = bandedSignatures(sigB, idCol, bands, rowsPerBand)
    val pairs =
      if (hasStore) {
        val touched = newBands
          .select(SignatureStore.bandBucket(col("band_hash"), nb).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // pruned scan of the already-banded store: no re-banding, and only
        // the touched bucket directories are listed/read
        val corpusBands = SignatureStore.readBands(spark, storePath, touched)
          .select(col("id").as("__id"), col("band_id"), col("band_hash"))
        crossPairsFromBands(newBands, corpusBands, maxBucketSize)
          .union(pairsFromBands(newBands, maxBucketSize))
          .distinct()
      } else pairsFromBands(newBands, maxBucketSize)
    val batchIds = fresh.select(col(idCol).as("__bid"))
    // (b) batch endpoint of a cross pair: ids are disjoint after (a), so
    // exactly one endpoint of a cross pair is in the batch; (c) transitive
    // batch-internal drop: id_b (the larger) of a batch-internal pair drops
    val dropB = pairs.join(batchIds, col("id_b") === col("__bid"), "left_semi")
      .select(col("id_b").as(idCol))
    val dropA = pairs
      .join(batchIds, col("id_a") === col("__bid"), "left_semi")     // a is new
      .join(batchIds.withColumnRenamed("__bid", "__bid2"),
        col("id_b") === col("__bid2"), "left_anti")                  // b is stored
      .select(col("id_a").as(idCol))
    // materialize BEFORE any write: the survivor plan reads the store
    // (anti-join + pairing), and both `land` and the store append must see
    // one frozen result (no re-list hazards over paths this call grows)
    val survivors = Materialize(
      fresh.join(dropB.union(dropA).distinct(), Seq(idCol), "left_anti"),
      eager = true)
    // 1) caller's idempotent output landing FIRST (crash here -> replay
    //    recomputes the same survivors and re-lands convergently)
    land(survivors)
    // 2) store append SECOND — survivors' signatures are the checkpointed
    //    sigB semi-joined down (no recompute from text, and no read
    //    dependency on the store path this call grows)
    SignatureStore.append(
      sigB.join(survivors.select(col(idCol)), Seq(idCol), "left_semi"),
      idCol, bands, rowsPerBand, storePath, nb)
    survivors
  }

  /** Exact n-gram Jaccard similarity for a candidate-pair frame — the
    * verification step after LSH. `pairs` has (id_a, id_b); `docs` has
    * (idCol, textCol). Two broadcast-able joins against shingle-hash sets
    * (native codegen'd [[graft.plans.ShingleHashSet]] — no shingle
    * strings materialized). Jaccard = |A ∩ B| / |A ∪ B| over distinct
    * k-shingle hashes (equal to string Jaccard up to 64-bit collisions). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, nfc: Boolean = false): DataFrame = {
    // only docs that appear in a candidate pair need their shingle set —
    // semi-join BEFORE set construction so the work is proportional to
    // candidates, not corpus size
    val pairIds = pairs.select(col("id_a").as("__pid"))
      .union(pairs.select(col("id_b").as("__pid"))).distinct()
    val candidates = docs.join(pairIds, col(idCol) === col("__pid"), "left_semi")
    val sets = candidates.select(
      col(idCol).as("__jid"),
      graft.plans.ShingleHashSet(col(textCol), shingleSize, nfc).as("__jset"))
    pairs
      .join(sets.withColumnRenamed("__jid", "id_a").withColumnRenamed("__jset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("__jid", "id_b").withColumnRenamed("__jset", "set_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
        size(array_union(col("set_a"), col("set_b"))).cast("double"))
      .drop("set_a", "set_b")
  }

  /** Asymmetric containment verify — C(A,B) = |S(A)∩S(B)| / |S(A)| over
    * the same shingle-hash sets as [[jaccardVerify]]. The VERIFY stage
    * for candidate pairs someone else produced (LSH bands, simhash
    * buckets); [[SetSimJoin.containmentJoin]] is the DISCOVERY form
    * that finds the pairs in the first place. The measure
    * QUOTE detection needs and Jaccard structurally cannot give: a
    * 50-token passage fully copied into a 5000-token document has
    * near-zero Jaccard (union is huge) but containment ≈ 1 from the
    * short side — exactly how training-data pipelines find snippets of
    * benchmark sets, licenses, or memorized sources embedded in larger
    * documents.
    *
    * Same candidate discipline as [[jaccardVerify]]: only docs named in
    * `pairs` build shingle sets (semi-join first — work is
    * candidate-proportional, the corpus never shuffles), sets are
    * 8-byte xxhash64 values, one narrow intersect per pair. Emits both
    * directions plus the set sizes so the caller picks its policy
    * (containment_a = fraction of A's shingles found in B). Docs below
    * `shingleSize` tokens produce ONE truncated shingle (the
    * [[graft.plans.ShingleHashSet]] convention), so containment stays
    * defined; the null guard covers only a hypothetical empty set. */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, shingleSize: Int = 3,
                        nfc: Boolean = false): DataFrame = {
    val pairIds = pairs.select(col("id_a").as("__pid"))
      .union(pairs.select(col("id_b").as("__pid"))).distinct()
    val candidates = docs.join(pairIds, col(idCol) === col("__pid"), "left_semi")
    val sets = candidates.select(
      col(idCol).as("__cid"),
      graft.plans.ShingleHashSet(col(textCol), shingleSize, nfc).as("__cset"))
    pairs
      .join(sets.withColumnRenamed("__cid", "id_a")
        .withColumnRenamed("__cset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("__cid", "id_b")
        .withColumnRenamed("__cset", "set_b"), "id_b")
      .withColumn("__inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double"))
      .withColumn("n_shingles_a", size(col("set_a")).cast("long"))
      .withColumn("n_shingles_b", size(col("set_b")).cast("long"))
      .withColumn("containment_a",
        when(col("n_shingles_a") > 0, col("__inter") / col("n_shingles_a")))
      .withColumn("containment_b",
        when(col("n_shingles_b") > 0, col("__inter") / col("n_shingles_b")))
      .drop("set_a", "set_b", "__inter")
  }

  /** Chunk-level exact dedup — fine-grained repetition removal: documents
    * are split into fixed `chunkTokens`-token chunks and each DISTINCT
    * chunk is owned by its first occurrence (ordered by id, then chunk
    * position). Training pipelines use this between document-level dedup
    * (too coarse: a half-copied doc survives) and suffix-array substring
    * dedup (too expensive at 100 TB): boilerplate headers, license blocks
    * and template paragraphs repeat across otherwise-distinct documents.
    *
    * Returns one row per chunk: (idCol, chunk_id, chunk_hash, is_first).
    * `is_first = false` marks a chunk whose text already occurred earlier
    * in the corpus order — drop those rows (or re-join and excise) for
    * the dedup, or aggregate per document for repetition stats.
    *
    * Scale shape: chunks reduce to sha2 hashes before the one shuffle
    * (window over chunk_hash); chunk text never moves. A token-less
    * document contributes one empty chunk (all empty docs share one hash
    * group), so every input row is represented. */
  def chunkFirstOccurrence(df: DataFrame, idCol: String, textCol: String,
                           chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val tk = s"filter(split(trim($textCol), '\\\\s+'), x -> x <> '')"
    val nChunks = s"greatest(cast(ceil(size($tk) / ${chunkTokens}.0) as int), 1)"
    val chunks = df.select(col(idCol),
        posexplode(expr(
          s"transform(sequence(1, $nChunks), " +
          s"i -> concat_ws(' ', slice($tk, (i - 1) * $chunkTokens + 1, $chunkTokens)))")))
      .select(col(idCol), col("pos").as("chunk_id"),
        sha2(col("col"), 256).as("chunk_hash"))
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col(idCol), col("chunk_id"))
    chunks.withColumn("is_first", row_number().over(w) === 1)
  }

  /** Cross-document duplicate SPAN detection — substring-level dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: exact duplicated substrings inflate memorization
    * even when whole documents are distinct). Where
    * [[chunkFirstOccurrence]] tests FIXED non-overlapping chunks, this
    * slides a k-token window one token at a time, so a duplicated run
    * is found at ANY alignment, and adjacent/overlapping duplicated
    * windows merge into one maximal span.
    *
    * A window counts as duplicated when its exact k-gram occurs in at
    * least `minDocs` DISTINCT documents — within-doc repetition is
    * [[graft.operators.Quality]]'s business, not flagged here.
    *
    * Returns (idCol, span_start, span_end, n_windows): token positions
    * with 0-based inclusive start, exclusive end; every token in the
    * span is covered by at least one duplicated window (windows merge
    * only when starts differ by ≤ k). Callers excise with
    * `slice(tokens, …)` or route spans to a review set.
    *
    * Scale shape: one narrow pass builds (id, start, xxhash64(k-gram))
    * — 8-byte hashes, never window text; the ≥ minDocs filter is one
    * hash-keyed partial-agg shuffle; flagged starts come back via a
    * semi-join on the same key; the island merge is a doc-partitioned
    * window. Work ∝ total tokens, shuffle bytes ∝ tokens × 12B. The
    * k-gram equality is by 64-bit hash (the hashed-join-key discipline):
    * a collision would need two different k-grams at the same hash —
    * negligible against corpus sizes, and no false NEGATIVES ever. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-doc), got $minDocs")
    import graft.functions.{TextFunctions => TF}
    val toks = docs.select(col(idCol), TF.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= k)
    val wins = toks.select(col(idCol),
      posexplode(transform(sequence(lit(0), size(col("__tk")) - lit(k)),
        i => xxhash64(concat_ws("\u0000", slice(col("__tk"), i + 1, lit(k))))))
        .as(Seq("start", "__h")))
    // "in >= 2 distinct docs" needs no countDistinct (a two-shuffle
    // expand): min(id) != max(id) is the same predicate with ONE
    // map-side-combinable shuffle (within-doc window repeats collapse
    // in the partial agg); general minDocs keeps the exact count
    val dups = (if (minDocs == 2)
      wins.groupBy("__h")
        .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
        .filter(col("__lo") =!= col("__hi"))
    else
      wins.groupBy("__h")
        .agg(countDistinct(col(idCol)).as("__nd"))
        .filter(col("__nd") >= minDocs))
      .select("__h")
    val hits = wins.join(dups, "__h").select(col(idCol), col("start"))
    val w = Window.partitionBy(idCol).orderBy("start")
    hits
      .withColumn("__brk",
        when(col("start") - lag("start", 1).over(w) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("__gid",
        sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__gid"))
      .agg(min("start").cast("long").as("span_start"),
        (max("start") + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Token-range excision — the transform side of [[duplicateSpans]]:
    * rebuild each document's text with the tokens inside any listed
    * span removed. `spans` is (idCol, span_start, span_end) with
    * 0-based inclusive/exclusive token positions (exactly what
    * [[duplicateSpans]] emits); the CALLER chooses policy by filtering
    * the span table first (excise everywhere for aggressive substring
    * dedup, exempt a canonical doc per cluster, route to review, …).
    *
    * Every input row survives: docs with no spans pass through with
    * text re-normalized to single-space joints, fully-excised docs come
    * back with empty text. Output: (idCol, clean_text, n_kept,
    * n_dropped) in token counts.
    *
    * Scale shape: spans roll up per doc (a doc-keyed partial-agg
    * shuffle of two longs per span), then ONE id-keyed join against the
    * corpus and a codegen'd index-aware `filter` HOF — per-row work
    * O(tokens × spans-of-that-doc), no explode, document text never
    * shuffles (the join moves the tiny span side to the text, not the
    * reverse, under AQE/broadcast). */
  def exciseSpans(docs: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(
        col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e"))).as("__spans"))
    docs
      .select(col(idCol), TF.tokens(col(textCol)).as("__tk"))
      .join(sp, Seq(idCol), "left")
      .select(col(idCol), col("__tk"),
        coalesce(col("__spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("__spans"))
      .select(col(idCol),
        filter(col("__tk"), (_, i) =>
          !exists(col("__spans"),
            sp => i.cast("long") >= sp.getField("s") &&
              i.cast("long") < sp.getField("e"))).as("__kept"),
        size(col("__tk")).as("__n"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /** SimHash: 64-bit fingerprint where bit i is the sign of the sum over
    * tokens of (token-hash bit i ? +1 : -1). Near-duplicates differ in few
    * bits (small Hamming distance). Native codegen'd per-row compute
    * ([[graft.plans.SimHash64]]) — zero shuffle; the fingerprint is one
    * long per document. */
  def simHash(df: DataFrame, textCol: String, idCol: String = "doc_id",
              nfc: Boolean = false): DataFrame =
    df.withColumn("simhash", graft.plans.SimHash64(col(textCol), nfc))

  /** Explode + 64-sum-aggregate formulation of the fingerprint (codegen'd
    * builtins only, but shuffles one row per corpus token). Bit-identical
    * to [[simHash]] (same token-hash family: xxhash64, seed 42 — asserted
    * by DedupSpec); kept as the pure-builtin cross-check. */
  def simHashAgg(df: DataFrame, textCol: String, idCol: String = "doc_id"): DataFrame = {
    val exploded = df
      .select(col(idCol),
        explode(expr(graft.plans.Tokens.whitespaceSql(textCol))).as("__t"))
      .select(col(idCol), xxhash64(col("__t")).as("__h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__b$j")
    }
    val assembled = (0 until 64)
      .map(j => when(col(s"__b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val sigs = exploded
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
    // a token-less text (empty / all-whitespace) explodes to zero rows and
    // misses the join; the native expression gives it fingerprint 0 (all
    // bit-sums zero), so patch the miss to 0 — null text stays null
    df.join(sigs, Seq(idCol), "left")
      .withColumn("simhash",
        when(col(textCol).isNotNull, coalesce(col("simhash"), lit(0L))))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** EXACT near-duplicate pairs under a Hamming radius, at corpus scale —
    * the pigeonhole block-bucketing of Manku et al. (WWW'07, Google's
    * simhash dedup): split the 64-bit fingerprint into `maxHamming + 1`
    * disjoint blocks; two fingerprints within Hamming distance
    * `maxHamming` MUST agree exactly on at least one block (k bit flips
    * cannot touch all k+1 blocks), so bucketing on (block_id, block
    * value) has ZERO false negatives, and the exact `hamming <=
    * maxHamming` gate after the bucket join leaves exactly the true
    * pair set — unlike MinHash banding, this is an exact algorithm, not
    * a probabilistic one.
    *
    * Scale shape mirrors [[minHashCandidatePairs]]: the block explode is
    * narrow (k+1 longs per doc), the only shuffle is the bucket groupBy,
    * and `maxBucketSize` caps the quadratic fan-out of degenerate
    * buckets (dropping an oversized bucket is the one way recall is
    * traded — same documented guard as MinHash).
    *
    * Radius/width trade-off: with the default single-block tables, block
    * width is `64 / (k+1)`, so candidate selectivity degrades as k grows
    * — k=3 gives 16-bit blocks (65k bucket values: collisions ≈ true
    * near-dups), while k=6 gives 9-bit blocks (512 values: every bucket
    * is corpus/512 and the pair fan-out dominates — measured 6.5 s vs
    * ~1 s at sf0.1). For larger radii pass `blocks > k+1` to switch to
    * Manku's COMBINATION tables: with m blocks, a pair within radius k
    * agrees on at least m-k of them, so bucketing on every (m-k)-subset
    * of blocks — C(m, k) tables keyed by the subset's combined value —
    * keeps zero false negatives while the key carries `(m-k) * 64/m`
    * bits of selectivity (k=6, m=8: 28 tables of 16-bit keys). The
    * explode factor is the table count; keys are xxhash64-combined
    * (hash collisions only ADD candidates, which the exact gate
    * removes — exactness is preserved).
    *
    * Input needs (idCol, simhash) — from [[simHash]]. Returns distinct
    * (id_a < id_b, hamming). */
  def simHashCandidatePairs(withSig: DataFrame, idCol: String,
                            maxHamming: Int = 3,
                            maxBucketSize: Int = 10000,
                            blocks: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (64 bits / >= 4-bit blocks), got $maxHamming")
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    val m = if (blocks == 0) maxHamming + 1 else blocks
    require(m > maxHamming && m <= 64,
      s"blocks must be in (maxHamming, 64], got $m for maxHamming=$maxHamming")
    val width = 64 / m // last block also takes the 64 % m remainder
    val blockVal = (b: Int) => {
      val shifted = shiftrightunsigned(col("simhash"), b * width)
      if (b == m - 1) shifted // top block: all remaining bits
      else shifted.bitwiseAND(lit((1L << width) - 1))
    }
    // one bucket key per (m - maxHamming)-subset of blocks; subset values
    // combined through xxhash64 with the table ordinal as the seed input
    val combos = (0 until m).combinations(m - maxHamming).toVector
    require(combos.size <= 512,
      s"C($m, ${m - maxHamming}) = ${combos.size} combination tables — " +
        "reduce blocks (explode factor = table count)")
    val keyCols = combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci.toLong) +: combo.map(blockVal)): _*)
    }
    val blocked = withSig.select(col(idCol).as("__id"), col("simhash"),
      explode(array(keyCols: _*)).as("block_val"))
    val wBucket = Window.partitionBy(col("block_val"))
    val grouped = blocked
      .withColumn("__n", count(lit(1)).over(wBucket))
      .filter(col("__n") > 1 && col("__n") <= maxBucketSize)
      .groupBy("block_val")
      .agg(collect_list(struct(col("__id"), col("simhash"))).as("members"))
    grouped
      .select(explode(expr(
        "flatten(transform(sequence(1, size(members) - 1), " +
        "i -> transform(slice(members, i + 1, size(members) - i), " +
        "j -> named_struct(" +
        "'id_a', least(members[i-1].__id, j.__id), " +
        "'id_b', greatest(members[i-1].__id, j.__id), " +
        "'h_a', members[i-1].simhash, 'h_b', j.simhash))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        hamming(col("p.h_a"), col("p.h_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-corpus contamination (benchmark decontamination): for each
    * candidate document, the fraction of its distinct k-shingles that
    * appear anywhere in the reference corpus. Training pipelines drop
    * candidates above a threshold so evaluation data never leaks into
    * training data.
    *
    * Shape for 100 TB: both sides reduce to 8-byte shingle hashes
    * (native [[graft.plans.ShingleHashSet]], no shingle strings), the
    * reference side collapses to a distinct-hash set, and the overlap is
    * one shuffle join on the hash — candidate text never moves.
    * Returns (idCol, n_shingles, n_matched, overlap_frac). */
  def crossCorpusOverlap(candidates: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 8, nfc: Boolean = false): DataFrame = {
    val candHashes = candidates
      .select(col(idCol),
        explode(graft.plans.ShingleHashSet(col(textCol), shingleSize, nfc)).as("__h"))
    val refHashes = reference
      .select(explode(graft.plans.ShingleHashSet(col(textCol), shingleSize, nfc)).as("__h"))
      .distinct()
    candHashes
      .join(refHashes.withColumn("__hit", lit(1L)), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_matched"))
      .withColumn("overlap_frac",
        round(col("n_matched").cast("double") / col("n_shingles"), 4))
  }

  /** Embedding-cosine near-duplicate clusters: random-hyperplane LSH
    * buckets (numTables independent plane families for recall), pairwise
    * cosine within each bucket gated at `threshold`, then transitive
    * cluster resolution via [[Graph.connectedComponents]]. Returns
    * (id, component) for every input vector (non-duplicates are
    * singletons of themselves).
    *
    * The within-bucket self-join is quadratic per bucket — the same
    * blowup risk as MinHash banding, gated the same way
    * (`maxBucketSize`, spillable window count before the join). */
  def embeddingNearDupClusters(vectors: DataFrame, vecCol: String, idCol: String,
                               threshold: Double, numPlanes: Int = 8,
                               numTables: Int = 2,
                               maxBucketSize: Int = 10000): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val pairs = (0 until numTables).map { t =>
      val bucketed = VF.lshBuckets(vectors, vecCol, numPlanes,
          planeOffset = t * numPlanes)
        .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
          col("lsh_bucket"))
      val wBucket = Window.partitionBy(col("lsh_bucket"))
      val gated = bucketed.withColumn("__n", count(lit(1)).over(wBucket))
        .filter(col("__n") > 1 && col("__n") <= maxBucketSize)
        .drop("__n")
      gated.select(col("lsh_bucket"), col("__id").as("id_a"), col("__v").as("__va"))
        .join(gated.select(col("lsh_bucket"), col("__id").as("id_b"),
          col("__v").as("__vb")), Seq("lsh_bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(VF.cosine(col("__va"), col("__vb")) >= threshold)
        .select(col("id_a"), col("id_b"))
    }.reduce(_ union _).distinct()
    Graph.connectedComponents(pairs, "id_a", "id_b",
      nodes = Some((vectors.select(col(idCol)), idCol)))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    * MOSS algorithm): k-token shingle hashes slide under a w-wide
    * window, each full window selects its MINIMUM hash (ties to the
    * RIGHTMOST position — the classic convention that minimizes the
    * fingerprint count), selections dedup. The guarantee: any shared
    * token run of length >= w + k − 1 between two documents produces
    * at least one IDENTICAL (hash) fingerprint in both — substring-
    * granular matching at ~2/(w+1) of the shingle count, the standard
    * plagiarism / near-dup fingerprint beside [[duplicateSpans]]' (which
    * flags corpus-frequent spans; winnowing SUMMARIZES each doc for
    * later pairwise probing, e.g. through a [[SignatureStore]]).
    * Docs too short for one full window (fewer than window + k − 1
    * tokens) emit nothing, as do null texts.
    *
    * Hashes are the engine's cross-engine md5 form (13 hex digits →
    * long), so a SQL oracle rebuilds them verbatim; tokens are the
    * lowercase-whitespace contract. One narrow shingle projection +
    * one doc-keyed window — text shuffles once, work O(tokens) per
    * doc.
    * Output: (idCol, fp_pos, fp_hash) — fp_pos the 0-based token
    * position of the selected shingle. */
  def winnowingFingerprints(docs: DataFrame, idCol: String,
                            textCol: String, k: Int = 3,
                            window: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos").asc)
      .rowsBetween(-(window - 1), 0)
    docs
      .select(col(idCol),
        expr(graft.plans.Tokens.whitespaceSql(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__toks) - $k), p -> " +
          s"struct(p AS pos, array_join(slice(__toks, p + 1, $k), ' ') " +
          "AS g))")).as("__e"))
      .select(col(idCol), col("__e.pos").as("__pos"),
        expr("CAST(conv(substring(md5(__e.g), 1, 13), 16, 10) AS BIGINT)")
          .as("__h"))
      .withColumn("__sel",
        min(struct(col("__h"), negate(col("__pos")).as("__np"))).over(w))
      .filter(col("__pos") >= window - 1)
      .select(col(idCol),
        negate(col("__sel.__np")).cast("long").as("fp_pos"),
        col("__sel.__h").as("fp_hash"))
      .distinct()
  }
}
