package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.Manifest

/** Lexical retrieval over a document corpus: postings, BM25 scoring, and
  * reciprocal-rank fusion with a dense ranking — the sparse half of a
  * hybrid search stack (the dense half is [[graft.plans.CosineSimilarity]]
  * / the ANN paths).
  *
  * Everything here is a DataFrame plan over the (token, doc) pair table —
  * the distributed form of an inverted index. At 100 TB the pair table is
  * the index: it shuffles once on token, partial-aggregates map-side, and
  * never materializes a posting array longer than one token's list on one
  * executor only when a caller explicitly asks for the export form.
  */
object TextIndex {

  /** Postings table: one row per (token, doc) with term frequency and
    * 1-based occurrence positions — the distributed inverted index
    * ([[persistPostings]] writes it bucketed by token hash; a query term
    * then prunes to its bucket). Positions ride along for
    * phrase/proximity scoring ([[phraseMatch]]). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos0", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos0") + 1)).as("positions"))

  /** Document frequency per token (the tiny side of BM25 — broadcast). */
  def docFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postings(docs, idCol, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** BM25 (Robertson/Lucene form) of every document against
    * `queryTokens`: idf = ln(1 + (N - df + 0.5)/(df + 0.5)), per-term
    * contribution idf · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). Docs
    * sharing no term score 0 (kept — callers rank the full corpus or
    * filter, their choice). Output: (doc_id, score).
    *
    * Scale shape: tokenizing projection → one groupBy(doc) for lengths,
    * one (token, doc) aggregation filtered to the query's terms FIRST
    * (the pair table never exists for non-query tokens), corpus-size and
    * avgdl as one broadcast scalar row, df per term as a broadcast join.
    * No windows, no driver loops; every join side beyond the corpus scan
    * is O(|query|). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTokens: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTokens.nonEmpty, "queryTokens must be non-empty")
    val terms = queryTokens.distinct
    val base = docs.select(col(idCol).as("doc_id"),
      TF.tokens(col(textCol)).as("__tk"))
    val lens = base.select(col("doc_id"), size(col("__tk")).as("__dl"))
    // one row: corpus size + average doc length (exact: integer sum)
    val stats = lens.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val pairs = base
      .select(col("doc_id"), explode(col("__tk")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfs = pairs.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val contrib = pairs
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .join(lens, "doc_id")
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
    val scored = contrib.groupBy(col("doc_id")).agg(sum(col("__c")).as("score"))
    // docs with no query term score 0 — rank the whole corpus
    lens.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Reciprocal-rank fusion of two TOP-M candidate lists:
    * rrf = Σ 1/(k + rank). Each input is (doc_id, <scoreCol>); ranks are
    * dense over (round(score, 4) DESC, doc_id ASC) — the rounded grid
    * keeps rank boundaries off 1-ulp float disagreements (the q99
    * discipline), the id tie-break makes ranks total. k = 60 is the
    * published default. Ranks are exact integers, so the fused score is
    * bit-identical in any engine.
    *
    * Scale shape: each ranking is pruned to its top `topM` rows FIRST via
    * orderBy + limit — Spark compiles that to TakeOrderedAndProject, a
    * distributed partial top-k (each partition keeps its best M, one
    * bounded merge) — so the rank window that follows sorts at most M
    * rows, never the corpus. Without the prune, an unpartitioned
    * row_number window funnels the ENTIRE input through one task — the
    * global-sort anti-pattern the q99 design note forbids. A doc outside
    * a list's top M simply contributes 0 from that list, the standard
    * candidate-list RRF semantics. */
  def rrfFuse(a: DataFrame, scoreColA: String, bdf: DataFrame,
              scoreColB: String, k: Int = 60, topM: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topM > 0, s"topM must be positive, got $topM")
    def ranked(df: DataFrame, scoreCol: String, rankName: String) = {
      val key = round(col(scoreCol), 4)
      // TakeOrderedAndProject: the only corpus-sized op, fully distributed
      val pruned = df.orderBy(key.desc, col("doc_id").asc).limit(topM)
      pruned.select(col("doc_id"),
        row_number().over(Window.orderBy(
          round(col(scoreCol), 4).desc, col("doc_id").asc)).as(rankName))
    }
    ranked(a, scoreColA, "rank_a")
      .join(ranked(bdf, scoreColB, "rank_b"), Seq("doc_id"), "full")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(k) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("rank_b")), lit(0.0))).as("rrf"))
  }

  // --------------------------------------------------------------------
  // Persistent index (the SignatureStore layout pattern): postings land
  // BUCKETED BY TOKEN HASH, so a query term's lookup is a partition-
  // pruned scan of one bucket directory — never a full-index scan.
  // --------------------------------------------------------------------

  val DefaultIndexBuckets = 64

  private def postingsPath(store: String) = store + "/postings"
  private def lensPath(store: String)     = store + "/lens"
  private val MetaPrefix                  = "_graft_index_meta"

  /** xxhash64 (Spark's builtin, seed 42) of a term, evaluated driver-side
    * so the read path computes the SAME bucket the write path's
    * `pmod(xxhash64(token), n)` column produced. */
  private def tokenHash(term: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    XxHash64(Seq(Literal(UTF8String.fromString(term), StringType)), 42L)
      .eval(null).asInstanceOf[Long]
  }

  /** The bucket a term's postings live in (pmod of the 64-bit hash). */
  def tokenBucket(term: String, numBuckets: Int): Int =
    (((tokenHash(term) % numBuckets) + numBuckets) % numBuckets).toInt

  private[graft] case class IndexMeta(numBuckets: Int, nDocs: Long,
                                      sumDl: Long, ledger: Manifest.Batches) {
    def batches: Seq[Long] = ledger.visible
  }

  /** The HIGHEST-version manifest (the [[graft.sources.Manifest]]
    * versioned-swap protocol — more than one version can momentarily
    * exist after a crash; highest wins). */
  private[graft] def readMeta(spark: SparkSession, store: String): IndexMeta = {
    require(indexExists(spark, store), s"no persisted index at $store")
    val parts = Manifest.read(spark, store, MetaPrefix).trim.split("\\s+")
    IndexMeta(parts(0).toInt, parts(1).toLong, parts(2).toLong,
      Manifest.Batches.parse(parts.drop(3).mkString(" ")))
  }

  /** The marker is the index MANIFEST: bucket modulus, exact corpus
    * stats, and the list of visible ingest batches. It is written LAST in
    * every write path — data a crash leaves behind without a manifest
    * entry is invisible to readers and gets overwritten convergently on
    * replay. The swap is [[graft.sources.Manifest.write]]'s
    * write-new-version-then-delete-old, so readers always see at least
    * one manifest (the r7 delete-then-rename zero-manifest window is
    * closed by construction). */
  private def writeMeta(spark: SparkSession, store: String, m: IndexMeta): Unit =
    Manifest.write(spark, store, MetaPrefix,
      s"${m.numBuckets} ${m.nDocs} ${m.sumDl} " + m.ledger.line)

  /** True once a meta marker is durable. The marker is written LAST on
    * [[persistPostings]]: a crash mid-write leaves the index invisible
    * (the SignatureStore crash-safety contract). */
  def indexExists(spark: SparkSession, store: String): Boolean =
    Manifest.exists(spark, store, MetaPrefix)

  /** Build and persist the inverted index of `docs` at `store`:
    *
    *  - `<store>/postings/ab=<batch>/tb=<b>/…` — (token, doc_id, tf,
    *    positions) partitioned by ingest batch and by
    *    `tb = pmod(xxhash64(token), numBuckets)`, so a query term's read
    *    is a PARTITION-PRUNED scan of its one bucket per visible batch;
    *  - `<store>/lens/ab=<batch>/…` — (doc_id, dl) token counts, the
    *    narrow side table BM25 needs for length normalization;
    *  - `<store>/_graft_index_meta` — `numBuckets nDocs sumDl batches…`,
    *    written LAST: it pins the bucket modulus for every later read (a
    *    mismatched modulus would silently prune the wrong directories),
    *    carries the exact corpus stats (docs, total tokens) so
    *    query-time scoring touches no corpus-wide aggregation, and
    *    MANIFESTS the visible batches — grow the index with
    *    [[appendToIndex]], never by writing files.
    *
    * Rebuild-in-place is safe: the markers are deleted first, so readers
    * racing a rebuild see "absent", never half-written data. Single
    * writer per store path (the SignatureStore contract).
    *
    * `baseBatchId` is the manifest id the base build registers under
    * (default 0 — RESERVED for base builds; [[appendToIndex]] ids must be
    * positive). [[graft.streaming.StreamOps.indexAppendSink]] passes the
    * ledger id of its first non-empty micro-batch here (`StreamOps
    * .ledgerId`, the stream's batchId + 1), so a post-crash replay of
    * that batch is recognized as already ingested. */
  def persistPostings(docs: DataFrame, idCol: String, textCol: String,
                      store: String,
                      numBuckets: Int = DefaultIndexBuckets,
                      baseBatchId: Long = 0L): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(baseBatchId >= 0, s"baseBatchId must be >= 0, got $baseBatchId" +
      " (negative ids are compaction generations)")
    val spark = docs.sparkSession
    Manifest.clear(spark, store, MetaPrefix)
    Manifest.deleteDirs(spark, Seq(postingsPath(store), lensPath(store)))
    val (nDocs, sumDl) = writeBatch(docs, idCol, textCol, store, numBuckets, baseBatchId)
    writeMeta(spark, store, IndexMeta(numBuckets, nDocs, sumDl,
      Manifest.Batches.empty.add(baseBatchId)))
  }

  /** One batch's postings + lens land under `ab=<batchId>` via DYNAMIC
    * partition overwrite — a replayed crashed write recomputes the same
    * rows and overwrites its own partitions, converging. Returns the
    * batch's (docs, tokens) counts. */
  private def writeBatch(docs: DataFrame, idCol: String, textCol: String,
                         store: String, numBuckets: Int,
                         batchId: Long): (Long, Long) = {
    graft.sources.Sinks.overwritePartitions(
      postings(docs, idCol, textCol)
        .withColumn("ab", lit(batchId))
        .withColumn("tb",
          pmod(xxhash64(col("token")), lit(numBuckets.toLong)).cast("int")),
      postingsPath(store), Seq("ab", "tb"))
    val lens = docs.select(col(idCol).as("doc_id"),
      size(TF.tokens(col(textCol))).as("dl"))
    graft.sources.Sinks.overwritePartitions(
      lens.withColumn("ab", lit(batchId)), lensPath(store), Seq("ab"))
    // exact batch stats ride into the manifest (one tiny agg per batch)
    val row = lens
      .agg(count(lit(1)), coalesce(sum(col("dl").cast("long")), lit(0L)))
      .collect().head
    (row.getLong(0), row.getLong(1))
  }

  /** Append a new document batch to a persisted index — the incremental
    * ingest path (the [[graft.operators.Dedup.dedupAgainstStore]] shape
    * for retrieval): work is O(batch), never a rebuild. `batchId` is the
    * idempotency key — an id already in the manifest is a completed
    * replay and the call is a no-op; a crash anywhere before the final
    * manifest swap leaves the batch invisible, and the retried call
    * dynamically overwrites its own `ab=<batchId>` partitions with the
    * same deterministic rows. Caller owns id disjointness across batches
    * (same contract as the dedup store). Single writer per store path.
    *
    * `batchId` must be POSITIVE: 0 is the default [[persistPostings]]
    * base-build id (an append with 0 would silently read as an
    * already-completed replay — ADVICE r7) and negative ids are
    * [[compactIndex]] generations. */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
                    store: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    require(batchId > 0, s"batchId must be > 0, got $batchId (0 is the base" +
      " build's manifest id, negative ids are compaction generations)")
    require(indexExists(spark, store),
      s"no persisted index at $store — build one with persistPostings first")
    val meta = readMeta(spark, store)
    if (meta.ledger.isReplay(batchId)) return // completed replay
    val (nDocs, sumDl) =
      writeBatch(docs, idCol, textCol, store, meta.numBuckets, batchId)
    writeMeta(spark, store, meta.copy(nDocs = meta.nDocs + nDocs,
      sumDl = meta.sumDl + sumDl, ledger = meta.ledger.add(batchId)))
  }

  /** Fold every visible batch into ONE compaction generation — the
    * maintenance pass bounding file/partition-dir growth under streaming
    * ingest: [[appendToIndex]] adds an `ab=<id>` directory tree per
    * batch, so a long-lived stream otherwise accumulates unbounded small
    * files and listing cost (the small-files problem
    * [[graft.sources.Sinks.compactParquet]] solves for plain tables).
    * Reads stay partition-pruned either way; this bounds FILE counts.
    *
    * Protocol (single writer; readable at every crash point):
    *  1. all manifested postings/lens rows are rewritten under a fresh
    *     NEGATIVE generation id (`ab=<gen>` — reserved: appends are
    *     positive, base builds 0), hash-repartitioned on the bucket key
    *     so each partition directory compacts to few files;
    *  2. the manifest swaps to `batches = [gen]` — the versioned-marker
    *     swap never leaves a zero-manifest window, and a crash BEFORE the
    *     swap leaves the old manifest pointing at the old directories,
    *     fully readable (the new generation is an invisible orphan that a
    *     rerun overwrites convergently: the manifest only grows between
    *     compactions, so the rerun's partition set is a superset);
    *  3. superseded `ab=` directories are swept LAST (best-effort — a
    *     crash here leaves unreachable orphans for the next compaction).
    * Corpus stats are untouched — compaction moves bytes, not content:
    * [[bm25FromIndex]] scores are identical before and after. */
  def compactIndex(spark: SparkSession, store: String): Unit = {
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    val next = meta.ledger.compacted
    val gen = next.visible.head
    val post = spark.read.parquet(postingsPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .select(col("token"), col("doc_id"), col("tf"), col("positions"),
        lit(gen).as("ab"), col("tb"))
      .repartition(col("tb"))
    graft.sources.Sinks.overwritePartitions(post, postingsPath(store), Seq("ab", "tb"))
    val lens = spark.read.parquet(lensPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .select(col("doc_id"), col("dl"), lit(gen).as("ab"))
      .repartition(8)
    graft.sources.Sinks.overwritePartitions(lens, lensPath(store), Seq("ab"))
    writeMeta(spark, store, meta.copy(ledger = next))
    Manifest.sweep(spark, Seq(postingsPath(store), lensPath(store)), gen)
  }

  /** Postings rows of `terms` only — `tb` is a partition column, so the
    * IN-filter is partition pruning (only the terms' bucket directories
    * are listed into the scan, per visible batch); the exact token
    * filter then drops the buckets' other tokens at the scan (parquet
    * pushdown). Only manifested batches are read: orphans of a crashed
    * append do not exist to queries. */
  def readPostings(spark: SparkSession, store: String,
                   terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    val buckets = terms.map(tokenBucket(_, meta.numBuckets)).distinct
    spark.read.parquet(postingsPath(store))
      .filter(col("ab").isin(meta.batches: _*) &&
        col("tb").isin(buckets: _*) && col("token").isin(terms.distinct: _*))
      .select("token", "doc_id", "tf", "positions")
  }

  /** Per-document token counts of the persisted corpus (manifested
    * batches only). */
  def readLens(spark: SparkSession, store: String): DataFrame = {
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    spark.read.parquet(lensPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .select("doc_id", "dl")
  }

  /** BM25 over a PERSISTED index — same scores as [[bm25]] on the
    * indexed corpus, but query-time work is: one partition-pruned
    * postings read (the query terms' buckets only), the narrow lens
    * table, and corpus stats straight from the marker. Nothing
    * corpus-wide is tokenized or aggregated at query time. */
  def bm25FromIndex(spark: SparkSession, store: String,
                    queryTokens: Seq[String], k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(queryTokens.nonEmpty, "queryTokens must be non-empty")
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    val lens = readLens(spark, store)
      .select(col("doc_id"), col("dl").as("__dl"))
    val pairs = readPostings(spark, store, queryTokens)
      .select(col("doc_id"), col("token"), col("tf").cast("double").as("__tf"))
    val dfs = pairs.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("__df"))
    // same formula, same type promotions as bm25() — long n, double df
    val contrib = pairs
      .join(broadcast(dfs), "token")
      .withColumn("__idf",
        log(lit(1.0) + (lit(meta.nDocs) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .join(lens, "doc_id")
      .withColumn("__avgdl", lit(meta.sumDl).cast("double") / lit(meta.nDocs))
      .withColumn("__c", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
    val scored = contrib.groupBy(col("doc_id")).agg(sum(col("__c")).as("score"))
    lens.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Shared scoring tail of the BATCHED BM25 forms: `pairs` is the
    * corpus-side (doc_id, token, __tf) table already filtered to the
    * union of query terms, `lens` is (doc_id, __dl), `stats` one row
    * (__n, __avgdl), `qt` the deduped (query_id, token) query table.
    * Per-term work (df, idf, the per-(doc, token) contribution) happens
    * ONCE regardless of how many queries share the term; the broadcast
    * join against `qt` then fans each contribution out to its queries
    * and one (query_id, doc_id) aggregation sums scores. */
  private def bm25BatchScore(pairs: DataFrame, lens: DataFrame,
                             stats: DataFrame, qt: DataFrame, k1: Double,
                             b: Double, topK: Int): DataFrame = {
    val dfs = pairs.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val contrib = pairs
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .join(lens, "doc_id")
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .join(broadcast(qt), "token")
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("score"))
    if (topK <= 0) scored
    else {
      import org.apache.spark.sql.expressions.Window
      // rank on the rounded grid (q99 discipline), id tie-break; the
      // window partitions by query_id — per-query bounded sorts, never a
      // global single-partition funnel
      scored.withColumn("__rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(round(col("score"), 4).desc, col("doc_id").asc)))
        .filter(col("__rk") <= topK).drop("__rk")
    }
  }

  /** BM25 of ALL queries in ONE job — the batched form of [[bm25]] for
    * eval sweeps and relevance labeling, where N per-query calls mean N
    * driver-side job submissions (the driver becomes the bottleneck at
    * exactly the scale the index is built for; the dim-cache
    * build-once-probe-many pattern, reference load.py:56-57,66, applied
    * to retrieval). `queries` is a (query_id, token) pair table
    * (duplicate rows collapse). Output: (query_id, doc_id, score) for
    * every doc sharing >= 1 token with the query. Docs sharing NO term
    * score exactly 0 in [[bm25]] and are OMITTED here — emitting them
    * would be a |queries| × |corpus| cross product, not a 100 TB-viable
    * output; so `bm25Batch` with one query equals `bm25` filtered to
    * score > 0 (shared-term contributions are strictly positive).
    * `topK > 0` keeps each query's top k by (round(score, 4) DESC,
    * doc_id ASC).
    *
    * Scale shape: the query table broadcasts (it is O(queries × terms) —
    * thousands of rows, never corpus-sized); corpus-side work is
    * identical to a single [[bm25]] over the UNION of all query terms —
    * the (doc, token) pair table is filtered to that union BEFORE
    * aggregation, and per-term df is corpus document frequency, shared
    * across queries, computed once. */
  def bm25Batch(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                topK: Int = 0): DataFrame = {
    val qt = queries.select(col("query_id"), col("token")).distinct()
    val termSet = qt.select("token").distinct()
    val base = docs.select(col(idCol).as("doc_id"),
      TF.tokens(col(textCol)).as("__tk"))
    val lens = base.select(col("doc_id"), size(col("__tk")).as("__dl"))
    val stats = lens.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val pairs = base
      .select(col("doc_id"), explode(col("__tk")).as("token"))
      .join(broadcast(termSet), "token")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    bm25BatchScore(pairs, lens, stats, qt, k1, b, topK)
  }

  /** [[bm25Batch]] over a PERSISTED index — same scores, but the corpus
    * side is one partition-pruned postings read of the queries' buckets
    * plus the narrow lens table, with corpus stats straight from the
    * manifest. The distinct term list is collected driver-side to drive
    * the pruning — bounded by the query set's vocabulary, never the
    * corpus. */
  def bm25BatchFromIndex(spark: SparkSession, store: String,
                         queries: DataFrame, k1: Double = 1.2,
                         b: Double = 0.75, topK: Int = 0): DataFrame = {
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    val qt = queries.select(col("query_id"), col("token")).distinct()
    val terms = qt.select("token").distinct().collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "queries must contain at least one token")
    val pairs = readPostings(spark, store, terms)
      .select(col("doc_id"), col("token"), col("tf").cast("double").as("__tf"))
    val lens = readLens(spark, store)
      .select(col("doc_id"), col("dl").as("__dl"))
    val stats = spark.range(1).select(lit(meta.nDocs).as("__n"),
      (lit(meta.sumDl).cast("double") / lit(meta.nDocs)).as("__avgdl"))
    bm25BatchScore(pairs, lens, stats, qt, k1, b, topK)
  }

  /** Documents containing the exact consecutive-token phrase, with the
    * occurrence count — the consumer of the postings' `positions`: an
    * occurrence starts at position p iff term_i sits at p + i for every
    * i. Input is any postings frame ([[postings]] output or a
    * [[readPostings]] pruned read — pass `phrase` as the terms and the
    * whole computation touches only the phrase's buckets).
    *
    * Scale shape: the start-position explode is bounded by the FIRST
    * term's postings; each subsequent term joins by doc_id (candidate
    * docs only, never the corpus) and gates with a codegen'd
    * array_contains on that doc's positions array. Output:
    * (doc_id, n_occurrences). */
  def phraseMatch(post: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val starts = post.filter(col("token") === phrase.head)
      .select(col("doc_id"), explode(col("positions")).as("__p"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(starts) {
      case (acc, (term, i)) =>
        acc.join(post.filter(col("token") === term)
            .select(col("doc_id"), col("positions").as(s"__pos$i")), "doc_id")
          .filter(array_contains(col(s"__pos$i"), col("__p") + i))
          .drop(s"__pos$i")
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** Documents containing the phrase terms IN ORDER within a bounded
    * window — slop-k "sloppy phrase", the standard retrieval middle
    * ground between exact [[phraseMatch]] and unordered
    * [[proximityMatch]]. A match is a position tuple p_1 < p_2 < … < p_n
    * with term_i at p_i and total slack (p_n - p_1) - (n - 1) <= slop:
    * slop = 0 admits only consecutive positions (≡ [[phraseMatch]]),
    * slop = k admits up to k extra tokens interleaved anywhere in the
    * span. Output: (doc_id, n_occurrences) counting matching tuples.
    *
    * Scale shape: same postings-only discipline as [[phraseMatch]] — the
    * start explode is bounded by the first term's postings; each later
    * term joins candidate docs only, and slack is monotone in the prefix
    * (p_i - p_1 - i never shrinks), so each step explodes JUST the
    * positions passing the partial-slack gate (filter-then-explode, a
    * codegen'd HOF) — intermediate width is bounded by viable partial
    * matches, not tf products. */
  def slopPhraseMatch(post: DataFrame, phrase: Seq[String],
                      slop: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val starts = post.filter(col("token") === phrase.head)
      .select(col("doc_id"), explode(col("positions")).as("__p1"))
      .withColumn("__prev", col("__p1"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(starts) {
      case (acc, (term, i)) =>
        acc.join(post.filter(col("token") === term)
            .select(col("doc_id"), col("positions").as(s"__pos$i")), "doc_id")
          .select(col("doc_id"), col("__p1"),
            explode(filter(col(s"__pos$i"),
              p => p > col("__prev") && p - col("__p1") - lit(i) <= lit(slop)))
              .as("__prev"))
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** BATCHED [[phraseMatch]] — N phrases in ONE job (the [[bm25Batch]]
    * join-instead-of-isin shape): an eval sweep over thousands of
    * phrases through the single-needle form re-pays driver dispatch and
    * a full postings pass per phrase; here the phrase table broadcasts
    * (O(phrases × terms) rows, never corpus-sized) and the corpus-side
    * work is one postings pass over the UNION of all phrase terms.
    *
    * `phrases`: (query_id, terms array<string>). A start position p in
    * doc d matches query q iff term_i sits at p + i for EVERY i — each
    * candidate start (bounded by the first terms' postings) joins its
    * query's per-term position lists by (query_id, doc_id) and the
    * codegen'd array_contains gate must pass `size(terms)` times
    * (i = 0 rides the same uniform gate, so one-term phrases need no
    * special case). Output: (query_id, doc_id, n_occurrences) —
    * per query exactly [[phraseMatch]]'s rows (spec-pinned). */
  def phraseMatchBatch(post: DataFrame, phrases: DataFrame): DataFrame = {
    val qt = phrases
      .select(col("query_id"), posexplode(col("terms")).as(Seq("__i", "token")))
    val qlen = phrases.select(col("query_id"), size(col("terms")).as("__len"))
    val rows = post.join(broadcast(qt), "token")
      .select(col("query_id"), col("__i"), col("doc_id"), col("positions"))
    val starts = rows.filter(col("__i") === 0)
      .select(col("query_id"), col("doc_id"), explode(col("positions")).as("__p"))
    starts.join(rows, Seq("query_id", "doc_id"))
      .filter(array_contains(col("positions"), col("__p") + col("__i")))
      .groupBy(col("query_id"), col("doc_id"), col("__p"))
      .agg(count(lit(1)).as("__hits"))
      .join(broadcast(qlen), "query_id")
      .filter(col("__hits") === col("__len"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** [[phraseMatch]] over a PERSISTED index: reads only the phrase
    * terms' buckets (partition-pruned), so query-time work is
    * O(the phrase's postings), never a corpus scan or re-tokenization. */
  def phraseMatchFromIndex(spark: SparkSession, store: String,
                           phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    phraseMatch(readPostings(spark, store, phrase), phrase)
  }

  /** [[slopPhraseMatch]] over a PERSISTED index (pruned read, same
    * contract). */
  def slopPhraseMatchFromIndex(spark: SparkSession, store: String,
                               phrase: Seq[String], slop: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    slopPhraseMatch(readPostings(spark, store, phrase), phrase, slop)
  }

  /** [[proximityMatch]] over a PERSISTED index (pruned read of the two
    * terms' buckets). */
  def proximityMatchFromIndex(spark: SparkSession, store: String,
                              termA: String, termB: String,
                              window: Int): DataFrame =
    proximityMatch(readPostings(spark, store, Seq(termA, termB)),
      termA, termB, window)

  /** TF-IDF weights as a PAIR TABLE — (doc_id, token, w) with
    * w = tf · ln(N / df): the distributed form of sparse document
    * vectors (a 100 TB corpus's vocabulary-dimensional vectors never
    * materialize as arrays; the pair table IS the matrix, shuffled once
    * on (doc, token) and once on token for df). */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val dfs = pairs.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    pairs.join(dfs, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("__tf").cast("double") *
          log(col("__n").cast("double") / col("__df"))).as("w"))
  }

  /** Cosine similarity of every document against one query document,
    * over [[tfidf]] pair-table vectors: (doc_id, cosine), query doc
    * excluded. Candidates are docs SHARING a token with the query (all
    * others have cosine 0 and are omitted) — the query's pair rows
    * broadcast, the dot product is one semi-bounded join, and norms are
    * computed for candidate docs only (one narrow agg after a semi-join,
    * never the corpus). Dot/norm terms round to the 9-decimal grid and
    * accumulate in DECIMAL (the q73 discipline) so results are
    * partition-order independent and oracle-exact. */
  def tfidfCosineToDoc(weightsIn: DataFrame, queryDocId: Long): DataFrame = {
    // the weight table is read three times (query slice, dot join,
    // norm semi-join) — one lazy materialization instead of three
    // re-executions of the upstream tfidf pipeline (guide §3.3; Bench
    // sweeps localCheckpoint blocks per query)
    val weights = Materialize(weightsIn)
    val q = weights.filter(col("doc_id") === queryDocId)
      .select(col("token"), col("w").as("__wq"))
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val qNorm = q.agg(sum(dec(col("__wq") * col("__wq"))).as("__qn2"))
    val dots = weights.filter(col("doc_id") =!= queryDocId)
      .join(broadcast(q), "token")
      .groupBy(col("doc_id"))
      .agg(sum(dec(col("w") * col("__wq"))).as("__dot"))
    val norms = weights
      .join(dots.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sum(dec(col("w") * col("w"))).as("__n2"))
    dots.join(norms, "doc_id").crossJoin(broadcast(qNorm))
      .select(col("doc_id"),
        (col("__dot").cast("double") /
          (sqrt(col("__n2").cast("double")) * sqrt(col("__qn2").cast("double"))))
          .as("cosine"))
  }

  /** [[tfidfCosineToDoc]] for a SET of query documents in ONE job — the
    * batched form (the [[bm25Batch]] discipline applied to dense-ish
    * retrieval): N per-query calls are N driver submissions over the
    * same weights table. Output: (query_id, doc_id, cosine) for every
    * (query doc, candidate) pair sharing >= 1 token, self-pairs
    * excluded; `topK > 0` keeps each query's best k by
    * (round(cosine, 4) DESC, doc_id ASC) via a query-partitioned window.
    *
    * Scale shape: the query docs' weight rows broadcast (O(queries ×
    * their tokens)); the dot product is ONE shared-token join + one
    * (query, doc) aggregation; norms are computed once per CANDIDATE doc
    * (semi-join before the agg — norm is query-independent, so the
    * union of candidates pays it once, not once per query). Same 9-grid
    * DECIMAL accumulation as the single-query form — bit-equal results
    * (spec-asserted). */
  def tfidfCosineBatch(weightsIn: DataFrame, queryDocIds: Seq[Long],
                       topK: Int = 0): DataFrame = {
    require(queryDocIds.nonEmpty, "queryDocIds must be non-empty")
    // three readers of the weight table (the tfidfCosineToDoc note)
    val weights = Materialize(weightsIn)
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val q = weights.filter(col("doc_id").isin(queryDocIds: _*))
      .select(col("doc_id").as("query_id"), col("token"), col("w").as("__wq"))
    val qNorms = q.groupBy(col("query_id"))
      .agg(sum(dec(col("__wq") * col("__wq"))).as("__qn2"))
    val dots = weights
      .join(broadcast(q), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(dec(col("w") * col("__wq"))).as("__dot"))
    val norms = weights
      .join(dots.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sum(dec(col("w") * col("w"))).as("__n2"))
    val scored = dots.join(norms, "doc_id").join(broadcast(qNorms), "query_id")
      .select(col("query_id"), col("doc_id"),
        (col("__dot").cast("double") /
          (sqrt(col("__n2").cast("double")) * sqrt(col("__qn2").cast("double"))))
          .as("cosine"))
    if (topK <= 0) scored
    else {
      import org.apache.spark.sql.expressions.Window
      scored.withColumn("__rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(round(col("cosine"), 4).desc, col("doc_id").asc)))
        .filter(col("__rk") <= topK).drop("__rk")
    }
  }

  /** Snippet (keyword-in-context) extraction — the retrieval stack's
    * display stage: for every document containing `term`, the `width`
    * tokens on each side of the FIRST occurrence, joined back into a
    * string. Postings supply the position (their whole job); only
    * matching docs re-tokenize, and only to slice — no scoring, no
    * corpus-wide work. Output: (doc_id, first_pos, snippet). */
  def snippet(docs: DataFrame, idCol: String, textCol: String,
              term: String, width: Int): DataFrame = {
    require(width >= 0, s"width must be >= 0, got $width")
    val pos = postings(docs, idCol, textCol)
      .filter(col("token") === term)
      .select(col("doc_id"), element_at(col("positions"), 1).as("first_pos"))
    docs.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("__tk"))
      .join(pos, "doc_id")
      .select(col("doc_id"), col("first_pos"),
        concat_ws(" ", slice(col("__tk"),
          greatest(col("first_pos") - width, lit(1)),
          least(col("first_pos") + width, size(col("__tk"))) -
            greatest(col("first_pos") - width, lit(1)) + 1)).as("snippet"))
  }

  /** BATCHED [[snippet]] — N terms in ONE job: the corpus tokenizes
    * ONCE (the expensive pass a per-needle sweep would re-pay N times)
    * and the term table broadcasts into the postings filter. `queries`:
    * (query_id, token). Output: (query_id, doc_id, first_pos, snippet) —
    * per query exactly [[snippet]]'s rows (spec-pinned). */
  def snippetBatch(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, width: Int): DataFrame = {
    require(width >= 0, s"width must be >= 0, got $width")
    val qt = queries.select(col("query_id"), col("token")).distinct()
    val pos = postings(docs, idCol, textCol)
      .join(broadcast(qt), "token")
      .select(col("query_id"), col("doc_id"),
        element_at(col("positions"), 1).as("first_pos"))
    docs.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("__tk"))
      .join(pos, "doc_id")
      .select(col("query_id"), col("doc_id"), col("first_pos"),
        concat_ws(" ", slice(col("__tk"),
          greatest(col("first_pos") - width, lit(1)),
          least(col("first_pos") + width, size(col("__tk"))) -
            greatest(col("first_pos") - width, lit(1)) + 1)).as("snippet"))
  }

  /** Documents where two distinct terms co-occur within `window` tokens
    * (unordered), with the count of close position pairs — the proximity
    * relaxation of [[phraseMatch]]. Postings-only like phraseMatch: both
    * terms' position lists join by doc_id (candidate docs only — docs
    * holding both terms), then the pair explode is bounded by the
    * per-doc tf product. Output: (doc_id, n_close_pairs). */
  def proximityMatch(post: DataFrame, termA: String, termB: String,
                     window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(termA != termB, "terms must be distinct (a term is trivially near itself)")
    val pa = post.filter(col("token") === termA)
      .select(col("doc_id"), explode(col("positions")).as("__pa"))
    val pb = post.filter(col("token") === termB)
      .select(col("doc_id"), col("positions").as("__pbs"))
    pa.join(pb, "doc_id")
      .select(col("doc_id"), col("__pa"), explode(col("__pbs")).as("__pb"))
      .filter(abs(col("__pb") - col("__pa")) <= window)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_close_pairs"))
  }

  /** Boolean retrieval (the Lucene `BooleanQuery` semantics): a document
    * qualifies when it contains EVERY `must` term, at least `minShould`
    * of the `should` terms, and NO `mustNot` term; `n_should` (how many
    * optional terms matched) returns as the natural coordination score.
    * With `must` non-empty, `minShould = 0` makes `should` purely
    * scoring — the Lucene default.
    *
    * One pass over the postings rows of the query's own terms (postings
    * are (token, doc)-unique, so counts are distinct-term counts) and
    * one doc-keyed aggregation with map-side combine — work is
    * O(postings of query terms), never corpus-wide; through
    * [[booleanQueryFromIndex]] the read is also bucket-pruned. */
  def booleanQuery(post: DataFrame, must: Seq[String],
                   should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
                   minShould: Int = 0): DataFrame = {
    require(must.nonEmpty || minShould >= 1,
      "a query with no required term and minShould = 0 matches every " +
      "document — give it at least one must term or a should threshold")
    require(minShould >= 0 && minShould <= should.size,
      s"minShould must be in [0, ${should.size}], got $minShould")
    val overlap = (must ++ should).toSet.intersect(mustNot.toSet)
    require(overlap.isEmpty,
      s"terms both required/optional and forbidden match nothing: $overlap")
    val all = (must ++ should ++ mustNot).distinct
    post.filter(col("token").isin(all: _*))
      .groupBy(col("doc_id"))
      .agg(
        count(when(col("token").isin(must: _*), lit(1))).as("__n_must"),
        count(when(col("token").isin(should: _*), lit(1))).as("__n_should"),
        count(when(col("token").isin(mustNot: _*), lit(1))).as("__n_not"))
      .filter(col("__n_must") === must.size && col("__n_not") === 0 &&
        col("__n_should") >= minShould)
      .select(col("doc_id"), col("__n_should").cast("long").as("n_should"))
  }

  /** Fuzzy term retrieval — typo-tolerant lookup: every posting whose
    * token is within Levenshtein `maxDist` of `term`, with the matched
    * token and its distance (callers rank closer matches first).
    *
    * The distance gate runs over the DISTINCT vocabulary, length-pruned
    * to `|len − |term|| ≤ maxDist` first and then through the banded
    * 3-arg `levenshtein` (O(len · maxDist) with early exit, the q119
    * discipline); the surviving variant set is tiny and joins the
    * postings narrow (AQE broadcasts it from stats). Work is O(vocab)
    * for the gate + O(matched postings) — never corpus text. A fuzzy
    * query cannot bucket-prune a persisted index (the matching terms
    * are unknown until the vocab scan); for repeated fuzzy workloads
    * build the [[EditDistance]] deletion-variant index instead. */
  def fuzzyTermQuery(post: DataFrame, term: String,
                     maxDist: Int = 1): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    require(maxDist >= 1 && maxDist <= 3,
      s"maxDist must be in [1, 3], got $maxDist")
    val variants = post.select(col("token")).distinct()
      .filter(length(col("token"))
        .between(term.length - maxDist, term.length + maxDist))
      .select(col("token"),
        levenshtein(col("token"), lit(term), maxDist).as("distance"))
      .filter(col("distance") >= 0)
    post.join(variants, "token")
      .select(col("doc_id"), col("token").as("matched_token"),
        col("distance").cast("long").as("distance"), col("tf"))
  }

  /** BATCHED [[fuzzyTermQuery]] — N needles against ONE vocabulary
    * pass: the distance gate is the cost (O(vocab) per needle through
    * the single form), so the needle table broadcasts into a
    * length-banded theta join against the distinct vocab and the banded
    * 3-arg levenshtein gates each (token, term) pair once; surviving
    * variants join the postings narrow. `terms`: (query_id, term).
    * Output: (query_id, doc_id, matched_token, distance, tf) — per
    * query exactly [[fuzzyTermQuery]]'s rows (spec-pinned). Same
    * caveat: fuzzy queries cannot bucket-prune a persisted index; for
    * repeated fuzzy workloads build the [[EditDistance]]
    * deletion-variant index. */
  def fuzzyTermQueryBatch(post: DataFrame, terms: DataFrame,
                          maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"maxDist must be in [1, 3], got $maxDist")
    val q = terms.select(col("query_id"), col("term")).distinct()
    val variants = post.select(col("token")).distinct()
      .join(broadcast(q), length(col("token")).between(
        length(col("term")) - maxDist, length(col("term")) + maxDist))
      .select(col("query_id"), col("token"),
        levenshtein(col("token"), col("term"), maxDist).as("distance"))
      .filter(col("distance") >= 0)
    post.join(variants, "token")
      .select(col("query_id"), col("doc_id"),
        col("token").as("matched_token"),
        col("distance").cast("long").as("distance"), col("tf"))
  }

  /** Prefix completion ("autocomplete"): the top-`k` vocabulary terms
    * starting with `prefix`, ranked by corpus frequency (total tf) with
    * document frequency alongside and the token as tie-break. Output:
    * (token, freq, df).
    *
    * Scale shape: one vocab-sized aggregation of the prefix-filtered
    * postings, then orderBy+limit — Spark's TakeOrderedAndProject, a
    * distributed partial top-k (each partition keeps k, one bounded
    * merge), never a global sort. NOTE the persisted index buckets by
    * token HASH, so a prefix cannot partition-prune it ([[readPostings]]
    * helps exact terms only) — a dedicated prefix-serving layout would
    * bucket by token range instead; at query volume, materialize the
    * vocab table (tiny next to postings) and serve prefixes from it. */
  def prefixComplete(post: DataFrame, prefix: String, k: Int = 10): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    post.filter(col("token").startsWith(prefix))
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("df"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  private def vocabPath(store: String) = store + "/vocab"
  private val VocabMetaPrefix          = "_graft_vocab_meta"

  /** Materialize the vocabulary table (token, freq, df) of a persisted
    * index, RANGE-CLUSTERED by token ([[graft.sources.Sinks.clusteredParquet]])
    * — the prefix-serving layout the hash-bucketed postings cannot
    * provide ([[prefixComplete]]'s scaladoc): each vocab file covers a
    * disjoint token range, so a prefix read prunes to the files whose
    * [min, max] straddle the prefix (parquet stats skipping). The vocab
    * is tiny next to the postings (one row per DISTINCT token), so the
    * rebuild is one aggregation.
    *
    * The vocab marker records WHICH manifest batches it summarizes;
    * [[prefixCompleteFromVocab]] fails loud when the index has grown
    * past it (stale reads silently missing fresh terms are the bug this
    * protocol exists to prevent) — re-run after [[appendToIndex]] /
    * [[compactIndex]]. Marker written LAST (the index crash contract). */
  def persistVocab(spark: SparkSession, store: String,
                   files: Int = 16): Unit = {
    require(files > 0, s"files must be positive, got $files")
    require(indexExists(spark, store), s"no persisted index at $store")
    val meta = readMeta(spark, store)
    val vocab = spark.read.parquet(postingsPath(store))
      .filter(col("ab").isin(meta.batches: _*))
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("df"))
    graft.sources.Manifest.clear(spark, store, VocabMetaPrefix)
    graft.sources.Sinks.clusteredParquet(vocab, vocabPath(store),
      Seq("token"), files)
    graft.sources.Manifest.write(spark, store, VocabMetaPrefix,
      meta.batches.mkString(" "))
  }

  /** [[prefixComplete]] served from the persisted vocab: one
    * stats-pruned scan of the token-range files covering the prefix —
    * no postings touched, no corpus-wide aggregation at query time. */
  def prefixCompleteFromVocab(spark: SparkSession, store: String,
                              prefix: String, k: Int = 10): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    require(graft.sources.Manifest.exists(spark, store, VocabMetaPrefix),
      s"no persisted vocab at $store — build one with persistVocab")
    val vocabBatches = graft.sources.Manifest
      .read(spark, store, VocabMetaPrefix).trim
    val indexBatches = readMeta(spark, store).batches.mkString(" ")
    require(vocabBatches == indexBatches,
      s"vocab at $store is STALE (summarizes batches [$vocabBatches], " +
      s"index has [$indexBatches]) — re-run persistVocab")
    spark.read.parquet(vocabPath(store))
      .filter(col("token").startsWith(prefix))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  /** [[booleanQuery]] over the persisted index: reads only the query
    * terms' buckets. */
  def booleanQueryFromIndex(spark: SparkSession, store: String,
                            must: Seq[String], should: Seq[String] = Nil,
                            mustNot: Seq[String] = Nil,
                            minShould: Int = 0): DataFrame =
    booleanQuery(
      readPostings(spark, store, (must ++ should ++ mustNot).distinct),
      must, should, mustNot, minShould)
}
