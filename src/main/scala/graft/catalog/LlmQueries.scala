package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Materialize}

/** LLM-data-pipeline operators over `documents` and `embeddings`
  * (north-star extensions, BASELINE.json): text analysis, exact and
  * near-duplicate dedup, similarity search.
  *
  * Engine-specific operators whose outputs depend on internal hash seeds
  * (MinHash/SimHash/LSH) have no SQL oracle — they are covered by
  * invariant specs in src/test (identical docs pair up, planted near-dups
  * are found) and register here as rows-only checks.
  */
object LlmQueries {

  import Catalog._

  /** Values that live as long as their session. The first insert for a
    * session registers an application-end listener that evicts every
    * entry of that session (ADVICE r2 — an unbounded map otherwise held
    * stopped sessions and their values for the JVM lifetime); `evict`
    * says what eviction does to a value, and its failures are swallowed
    * because the context may already be down. */
  private[graft] final class SessionCache[K, V](evict: V => Unit) {
    val entries = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()
    private val listening =
      java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

    /** Evict every entry belonging to `s`. */
    def evictSession(s: SparkSession): Unit = {
      listening.remove(s)
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq s) {
          try evict(e.getValue) catch { case _: Throwable => () }
          it.remove()
        }
      }
    }

    def getOrBuild(s: SparkSession, key: K)(build: => V): V = {
      if (listening.add(s))
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            evictSession(s)
        })
      entries.computeIfAbsent((s, key), _ => build)
    }
  }

  /** IVF indexes for q76 (see there), closed on eviction: entries pin
    * persisted centroid blocks.
    *
    * INVARIANT (Bench sweep contract): a cached index's plans must
    * never depend on [[graft.operators.Materialize]] blocks, which are
    * every local checkpoint the engine takes — graft.Bench calls
    * `Materialize.release` after every timed query, which drops
    * exactly the RDDs `Materialize` created, so a cross-query cached
    * object built over one would hit missing-block failures mid-board. The cached Index persists its own centroid/
    * assignment Datasets via cache()/persist() (swept only at
    * application end), which `release` never touches. */
  private val ivfIndexes =
    new SessionCache[String, graft.functions.IvfIndex.Index](_.close())

  private[graft] def ivfCache = ivfIndexes.entries

  private[graft] def evictIvfForSession(s: SparkSession): Unit =
    ivfIndexes.evictSession(s)

  private[graft] def cachedIvfIndex(s: SparkSession, d: String)(
      build: => graft.functions.IvfIndex.Index): graft.functions.IvfIndex.Index =
    ivfIndexes.getOrBuild(s, d)(build)

  /** On-disk store demos (IVF/PQ/sketch/agg/index lifecycle queries):
    * one temp store per (session, dataset, tag), built once by `build`,
    * its temp dir deleted recursively on eviction.
    * Same Bench-sweep INVARIANT as [[cachedIvfIndex]]: these are paths
    * to on-DISK stores (no in-session plan state), so they are immune
    * to Bench's per-query `Materialize.release` by construction (it
    * drops only `Materialize`'s own blocks) — keep it that way if a
    * store handle ever grows cached Datasets.
    * Builds are deterministic per dataset, so serving a cached store is
    * result-identical to a rebuild — without leaking one store tree per
    * bench/verify invocation (ADVICE r9 on q260, generalized to every
    * createTempDirectory query). */
  private val stores = new SessionCache[(String, String), String]({ p =>
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(p).getParentFile)
  })

  private[graft] def cachedStore(s: SparkSession, d: String, tag: String)(
      build: String => Unit): String =
    stores.getOrBuild(s, (d, tag)) {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-$tag").toString + "/s"
      build(p)
      p
    }

  /** Stopword list shared by query and oracle (subset of the testdata
    * vocabulary so ratios are non-trivial). */
  private val stopwords = Seq("the", "a", "and", "of")
  private def stopwordSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Deterministic near-dup corpus: every doc with doc_id < 20 gets a
    * perturbed twin (two tokens appended, id + 1000000) — gives the
    * near-dup operators planted positives derived purely from the data. */
  def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val twins = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz zz")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(twins)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- per-document stats ----------------------------------------------
    "q35_doc_stats" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
        TF.charCount(col("text")).cast("long").as("n_chars_text"),
        round(TF.avgTokenLength(col("text")), 4).as("avg_token_len"),
        round(TF.typeTokenRatio(col("text")), 4).as("ttr"))
        .orderBy(col("doc_id"))
    }),

    // --- corpus word frequency (tokenize + explode + count) --------------
    "q36_word_freq" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(50)
    }),

    // --- exact dedup: canonical id per content hash ----------------------
    "q37_exact_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("content_hash"))
      t(s, d, "documents")
        .withColumn("content_hash", sha2(col("text"), 256))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("content_hash"), col("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    // --- vocab fingerprint (order-insensitive near-dup bucket key) -------
    "q38_vocab_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TF.vocabFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // --- quality scoring --------------------------------------------------
    "q39_quality" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        round(TF.stopwordRatio(col("text"), stopwords), 4).as("stopword_ratio"),
        round(TF.typeTokenRatio(col("text")), 4).as("ttr"),
        round(TF.avgTokenLength(col("text")), 4).as("avg_token_len"))
        .orderBy(col("doc_id"))
    }),

    // --- language ID heuristic (engine-defined; rows-only) ---------------
    "q40_lang_id" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TF.langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),

    // --- cosine similarity scores vs query vector ------------------------
    "q41_cosine_scores" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VF.cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
        .orderBy(col("vec_id"))
    }),

    // --- brute-force top-k nearest neighbors -----------------------------
    "q42_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VF.cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
        .filter(col("vec_id") =!= 0)
        .orderBy(col("cosine_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // --- MinHash LSH near-dup pairs (rows-only; seeds are engine-internal)
    "q43_minhash_pairs" -> ((s, d) => {
      val corpus = withPlantedNearDups(t(s, d, "documents"))
      val sig = Dedup.minHashSignature(corpus, "text", shingleSize = 3, numHashes = 32)
      val pairs = Dedup.minHashCandidatePairs(sig, "doc_id", bands = 8, rowsPerBand = 4)
      Dedup.jaccardVerify(pairs, corpus, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- SimHash near-dup (rows-only) ------------------------------------
    // Why q44 stays rows-only (VERDICT r3 #8 investigated): the Hamming
    // gate's pair list is NOT a pure function of the text in any SQL-
    // expressible form — it depends on the xxhash64 token-hash family
    // (DuckDB's hash() is a different function), and empirically at both
    // sf0.001 and sf0.01 no threshold separates structurally: hamming<=6
    // admits 12-16 non-twin template near-dups AND misses 3-4 planted
    // twins whose short texts flip >6 bits from the appended tokens. A
    // "planted-pair" oracle would therefore be wrong, not just weaker.
    // Engine-side invariants (twin hamming << unrelated hamming, agg
    // bit-equality) are pinned in DedupSpec.
    "q44_simhash_nn" -> ((s, d) => {
      val corpus = withPlantedNearDups(t(s, d, "documents"))
      val hashed = Dedup.simHash(corpus, "text").select(col("doc_id"), col("simhash"))
      val a = hashed.select(col("doc_id").as("id_a"), col("simhash").as("h_a"))
      val b = hashed.select(col("doc_id").as("id_b"), col("simhash").as("h_b"))
      // planted twins differ by few bits; join original ids against twin ids
      a.filter(col("id_a") < 1000000)
        .join(b.filter(col("id_b") >= 1000000), Dedup.hamming(col("h_a"), col("h_b")) <= 6)
        .select(col("id_a"), col("id_b"),
          Dedup.hamming(col("h_a"), col("h_b")).as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- LSH-bucketed approximate top-k (rows-only) ----------------------
    // MULTI-TABLE since r8: the union of 8 independent 4-plane families.
    // Single-table recall at these settings measured 0.08@10 on this
    // corpus (AnnRecallSpec — weak neighbors agree on all 4 sign bits
    // ~13% of the time); 8 tables lift it to ~0.5 at a probed fraction
    // that stays sublinear. One narrow pass computes all 8 signatures.
    "q45_lsh_topk" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getList[Float](0).asScala.toSeq
      VF.lshTopKMulti(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id",
        qv, k = 10, numPlanes = 4, tables = 8)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
    }),

    // --- IVF coarse-quantized ANN top-k (rows-only: approximate) ---------
    "q76_ivf_topk" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      import graft.functions.IvfIndex
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getList[Float](0).asScala.toSeq
      val rest = emb.filter(col("vec_id") =!= 0)
      // one index per (session, sfDir): repeated catalog invocations reuse
      // the persisted centroids instead of leaking a new cached copy each
      // time; evicted + closed on application end (Index.close() is the
      // owning-lifecycle API for library users)
      val idx = LlmQueries.cachedIvfIndex(s, d)(
        IvfIndex.build(rest, "embedding", "vec_id", k = 8))
      IvfIndex.topK(idx.indexed, idx.centroids, "embedding", "vec_id", qv, k = 10, nprobe = 4)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
    }),

    // --- multimodal: metadata analytics over binary media table ----------
    "q60_media_meta" -> ((s, d) => {
      import graft.operators.Multimodal
      Multimodal.metaStats(Multimodal.syntheticMedia(t(s, d, "documents")))
        .select(col("kind"), col("n"), round(col("avg_width"), 4).as("avg_width"),
          col("max_duration_ms"))
        .orderBy(col("kind"))
    }),

    // --- multimodal: stub decode -> frame features -> pooled embeddings
    //     (rows-only: decode is engine-internal) -------------------------
    "q61_media_embeddings" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.syntheticMedia(t(s, d, "documents").filter(col("doc_id") < 50))
      val emb = Multimodal.frameEmbeddings(Multimodal.decodeFrames(media, frames = 2, dim = 64))
      emb.select(col("media_id"),
        round(graft.plans.CosineSimilarity(col("embedding"), col("embedding")), 4).as("self_sim"),
        size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("media_id"))
    }),

    // --- typed Aggregator UDAF: per-label embedding centroids ------------
    "q62_label_centroids" -> ((s, d) => {
      import graft.functions.TypedAggregators
      val mean = udaf(new TypedAggregators.VectorMean(64))
      t(s, d, "embeddings")
        .select(col("label").cast("long").as("label"),
          col("embedding").cast("array<float>").as("vec"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), mean(col("vec")).as("centroid"))
        .select(col("label"), col("n"),
          round(element_at(col("centroid"), 1), 4).as("first_el"),
          round(sqrt(aggregate(col("centroid"), lit(0.0), (a, x) => a + x * x)), 4)
            .as("centroid_norm"))
        .orderBy(col("label"))
    }),

    // --- array/higher-order functions over embeddings --------------------
    "q46_array_funcs" -> ((s, d) => {
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_el"),
        round(VF.norm(col("embedding")), 4).as("l2_norm"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")), 4).as("sum_el"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => greatest(acc, abs(x.cast("double")))), 4).as("max_abs"))
        .orderBy(col("vec_id"))
    }),

    // --- duplicate-cluster resolution: connected components --------------
    // Candidate pairs alone under-deduplicate (A~B, B~C must collapse
    // A,B,C): resolve pairs into clusters with the O(log n)-round
    // alternating-star algorithm (operators.Graph). The demo graph is
    // deterministic and SQL-expressible (consecutive-by-length chains per
    // lang) so DuckDB's recursive CTE can oracle the transitive closure;
    // production input is the LSH pair frame (GraphSpec pipeline test).
    "q77_dup_clusters" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Graph
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      val edges = docs
        .select(col("doc_id"), col("n_chars"),
          lag(col("doc_id"), 1).over(w).as("prev_id"),
          lag(col("n_chars"), 1).over(w).as("prev_chars"))
        .filter(col("prev_id").isNotNull &&
          col("n_chars") - col("prev_chars") <= 2)
        .select(col("prev_id").as("src"), col("doc_id").as("dst"))
      Graph.connectedComponents(edges,
          nodes = Some((docs.select("doc_id"), "doc_id")))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // --- TF-IDF: the classic corpus-relevance score -----------------------
    // tf per (doc, term) and df per term are both partial-aggregatable;
    // the corpus size N broadcasts as a scalar subquery. Top-5 terms per
    // doc via ranked window (per-doc partitions scale).
    "q78_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      // corpus size N as a broadcast 1-row aggregate, not a driver action:
      // keeps plan construction lazy (no mid-plan job), same q73 pattern
      val nDf = broadcast(docs.agg(count(lit(1)).as("__n")))
      val scored = tf.join(df, "term").crossJoin(nDf)
        .withColumn("raw",
          col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)))
      val rk = Window.partitionBy(col("doc_id"))
        .orderBy(col("raw").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 5 && col("doc_id") < 50)
        .select(col("doc_id"), col("term"), round(col("raw"), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // --- n-gram (bigram) frequency ----------------------------------------
    // lag window over posexploded tokens: one shuffle keyed by doc_id,
    // per-doc partitions — no driver-side n-gram construction.
    "q81_bigram_freq" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p").asc)
      toks.withColumn("prev", lag(col("tok"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(concat_ws(" ", col("prev"), col("tok")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(40)
    }),

    // --- regexp pattern stats (safety/quality scan surface) ---------------
    // The per-doc regexp_count surface used for PII/charset scans; the
    // testdata vocabulary is clean ASCII so the patterns here count
    // ordinary token shapes, but the plan shape (narrow regexp scan, no
    // shuffle until the final sort) is the production PII filter's.
    "q86_pattern_stats" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\bs[a-z]*")).cast("long").as("s_tokens"),
        regexp_count(col("text"), lit("ss")).cast("long").as("double_s"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("digits"))
        .orderBy(col("doc_id"))
    }),

    // --- cross-corpus contamination (rows-only: shingle-hash internals) ---
    "q87_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossCorpusOverlap(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", "text", shingleSize = 3)
        .orderBy(col("doc_id"))
    }),

    // --- embedding-cosine near-dup clusters (rows-only: LSH internals) ----
    "q85_embedding_dedup" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .transform(e => Dedup.embeddingNearDupClusters(
          e, "embedding", "vec_id", threshold = 0.95, numPlanes = 8, numTables = 2))
        .select(col("id").as("vec_id"), col("component"))
        .orderBy(col("vec_id"))
    }),

    // --- repetition scoring (Gopher-style quality filter) -----------------
    // Per-doc fraction of mass taken by the most frequent token and the
    // most frequent bigram: high values flag boilerplate/templated docs
    // for removal before training. All partial-aggregatable per-doc work.
    "q82_repetition" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), posexplode(TF.tokens(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      val tokTop = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_tok"), sum(col("c")).as("n_tok"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p").asc)
      val biTop = toks.withColumn("prev", lag(col("tok"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("prev"), col("tok")).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
      docs.select(col("doc_id"))
        .join(tokTop, Seq("doc_id"), "left")
        .join(biTop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(col("max_tok").cast("double") / col("n_tok"), 4).as("top_token_frac"),
          round(col("max_bg").cast("double") / col("n_bg"), 4).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // --- exact Jaccard over the planted pairs (VALUE-checked) -------------
    // The planted-twin pair list is deterministic from the data alone
    // (doc_id < 20 -> twin at id + 1000000 with ' zz zz' appended), so the
    // LSH verify stage gets a true DuckDB oracle: exact 3-shingle string
    // Jaccard, independent of every engine-internal hash seed. Covers the
    // scoring math that q43's rows-only entry exercises end-to-end.
    "q88_planted_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = withPlantedNearDups(docs)
      val pairs = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1000000L).as("id_b"))
      Dedup.jaccardVerify(pairs, corpus, "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"))
    }),

    // --- asymmetric containment over planted snippets (VALUE-checked) -----
    // Quote detection: a 10-token slice of each doc (+ 2 novel tokens)
    // is planted as its own "document"; containment from the snippet
    // side is high while Jaccard would be near zero — the q88 planted
    // construction, deterministic from the data alone.
    "q233_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val snips = docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(TF.tokens(col("text")), 3, 10)),
          lit("qq qq")).as("text"))
      val pairs = docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 2000000L).as("id_a"), col("doc_id").as("id_b"))
      Dedup.containmentVerify(pairs, docs.unionByName(snips),
          "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          col("n_shingles_a"), col("n_shingles_b"),
          round(col("containment_a"), 4).as("containment_a"),
          round(col("containment_b"), 4).as("containment_b"))
        .orderBy(col("id_a"))
    }),

    // --- sequence packing for training (concat-stream chunking) -----------
    // Docs laid on 8 parallel token streams, chunked into 2048-token
    // windows: per-doc (shard, seq_id, pos_in_seq). One shuffle on shard;
    // the within-shard running offset is a spillable sort window.
    "q89_sequence_pack" -> ((s, d) => {
      import graft.operators.Pack
      val docs = t(s, d, "documents")
        .withColumn("n_tok", TF.tokenCount(col("text")).cast("long"))
      Pack.sequencePack(docs, "doc_id", "n_tok", capacity = 2048, numShards = 8)
        .select(col("doc_id"), col("shard"), col("seq_id"),
          col("pos_in_seq"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // --- deterministic train/val/test split -------------------------------
    // Hash-of-id membership (never positional/random): leak-free and
    // stable under re-runs and corpus growth. Narrow projection — the
    // split column costs one md5 per row, no shuffle.
    "q90_hash_split" -> ((s, d) => {
      import graft.operators.Splits
      Splits.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // --- incremental dedup: new batch vs existing corpus (rows-only) ------
    // The growing-corpus ingest shape: the planted twins arrive as a
    // "batch" and are deduped against the original documents without
    // re-pairing the corpus with itself. Rows-only (banding internals);
    // DedupSpec pins the batch/corpus pair semantics.
    "q91_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val batch = withPlantedNearDups(docs).filter(col("doc_id") >= 1000000L)
      val sigC = Dedup.minHashSignature(docs, "text", shingleSize = 3, numHashes = 32)
      val sigB = Dedup.minHashSignature(batch, "text", shingleSize = 3, numHashes = 32)
      val pairs = Dedup.incrementalCandidatePairs(sigB, sigC, "doc_id",
        bands = 8, rowsPerBand = 4)
      Dedup.jaccardVerify(pairs, withPlantedNearDups(docs), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- PII redaction (pre-training scrub) ------------------------------
    // The synthetic corpus carries no PII, so the query INJECTS it
    // deterministically from the data (email/phone/IP derived from doc_id
    // and source — the withPlantedNearDups pattern), then redacts. The
    // oracle rebuilds the same augmented text and applies the same
    // RE2-safe patterns, value-checking the masking end to end.
    "q95_pii_redact" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@"), col("source"),
          lit(".example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)),
          lit("."), pmod(col("doc_id"), lit(100))).as("text"))
      aug.select(col("doc_id"), TF.redactPii(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // --- source-weighted deterministic downsample (data mixing) ----------
    "q96_source_mix" -> ((s, d) => {
      graft.operators.Splits.weightedKeep(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultWeight = 0.1)
        .orderBy(col("doc_id"))
    }),

    // --- chunk-level exact dedup (fine-grained repetition removal) -------
    "q97_chunk_dedup" -> ((s, d) => {
      Dedup.chunkFirstOccurrence(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 16)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(!col("is_first"), 1L).otherwise(0L)).as("n_dup_chunks"))
        .orderBy(col("doc_id"))
    }),

    // --- NFC-canonical exact dedup (VERDICT r3 #4, oracled) --------------
    // The corpus is ASCII, so the query plants the multilingual hazard
    // deterministically: each doc < 50 gets a twin whose appended accent
    // marker is the DECOMPOSED form (e + U+0301) of the original's
    // COMPOSED suffix (U+00E9) — byte-different, canonically equal. Exact
    // dedup on sha2(nfc_normalize(text)) collapses exactly the pairs; the
    // oracle groups by DuckDB's own nfc_normalize. Escapes/chr() on both
    // sides so no source file carries normalization-fragile literals.
    "q98_nfc_dedup" -> ((s, d) => {
      val base = t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"))
      val composed = base.select(col("doc_id"),
        concat(col("text"), lit(" caf\u00e9 entr\u00e9e")).as("text"))
      val decomposed = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301 entre\u0301e")).as("text"))
      composed.unionByName(decomposed)
        .groupBy(sha2(graft.plans.NfcNormalize(col("text")), 256).as("__h"))
        .agg(min(col("doc_id")).as("kept_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
        .select(col("kept_id"), col("n_dups"))
        .orderBy(col("kept_id"))
    }),

    // --- scalable SimHash dedup (rows-only) ------------------------------
    // The linear-time form of q44: pigeonhole block bucketing (Manku
    // WWW'07) instead of the all-pairs theta join — EXACT pair set under
    // the Hamming radius (DedupSpec proves equality with brute force);
    // rows-only because simhash values are engine-hash-seeded. Radius 6
    // (q44's gate) at linear cost via Manku combination tables: 8 blocks,
    // C(8,6) = 28 tables of 16-bit keys (see the operator doc).
    "q102_simhash_dedup" -> ((s, d) => {
      val corpus = withPlantedNearDups(t(s, d, "documents"))
      val sig = Dedup.simHash(corpus, "text").select(col("doc_id"), col("simhash"))
      Dedup.simHashCandidatePairs(sig, "doc_id", maxHamming = 6, blocks = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- BPE vocabulary induction (rows-only) ----------------------------
    // Deterministic merge table (count desc, pair asc tie-break — no RNG)
    // but the loop is data-dependent-iterative, which SQL can't replay;
    // BpeSpec value-checks rank-for-rank against an independent reference
    // implementation instead.
    "q101_bpe_vocab" -> ((s, d) => {
      graft.operators.Bpe.learnMerges(t(s, d, "documents"), "text", numMerges = 20)
        .orderBy(col("rank"))
    }),

    // --- quality-gated curation (drop the bottom decile) -----------------
    // Corpus curation's standard move: score every document, drop the
    // worst tail. The cutoff is an EXACT percentile computed as one
    // distributed aggregate broadcast back as a scalar — never a global
    // row_number (a single-partition window is the anti-pattern at
    // 100 TB). Scores sit on a 1e-4 grid (round 4), so the >= gate has no
    // float-boundary ambiguity between engines; ties at the cutoff are
    // all kept, deterministically.
    "q99_quality_gate" -> ((s, d) => {
      val scored = t(s, d, "documents").select(col("doc_id"),
        round(TF.typeTokenRatio(col("text")), 4).as("score"))
      val cut = scored.agg(expr("percentile(score, 0.1)").as("__cut"))
      scored.crossJoin(broadcast(cut))
        .filter(col("score") >= col("__cut"))
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // --- k-means cluster assignment (corpus clustering for curation) -----
    // Fixed centroids (the 8 lowest-id vectors) so the assignment step is
    // SQL-replayable; the full Lloyd's loop (data-dependent-iterative) is
    // value-checked against an independent reference in KMeansSpec.
    // Assignment scores corpus × k through the native codegen SquaredL2;
    // argmin on raw distances (centroid separations dwarf float noise),
    // 4-dp rounding only for display parity.
    "q103_kmeans_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val centroids = emb.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1L).as("cluster_id"),
          col("embedding").cast("array<double>").as("centroid"))
      graft.operators.KMeans.assign(emb, "embedding", "vec_id", centroids)
        .select(col("vec_id"), col("cluster_id"),
          round(col("dist2"), 4).as("dist2"))
        .orderBy(col("vec_id"))
    }),

    // --- int8-quantized similarity search --------------------------------
    // Search runs entirely over int8 codes (4x smaller at rest/in
    // shuffle); scale cancels out of cosine. Value-checked exactly: the
    // quantization formula is all correctly-rounded IEEE ops and the
    // dot/norms are integer-exact, so both engines produce bit-identical
    // similarities — a stronger check than the float ANN paths allow.
    // --- exact set-similarity self-join (prefix filtering) ----------------
    // The zero-false-negative dedup path: every pair with shingle-set
    // Jaccard >= 0.8 over the planted corpus, found via PPJoin-style
    // prefix blocking (operators.SetSimJoin) — no LSH approximation, no
    // banding probability. Work is one explode + one equi-join shuffle +
    // an exact gate over candidates; never all-pairs. Value-checked
    // against DuckDB's brute-force O(n²) string-shingle Jaccard (equality
    // up to 64-bit shingle-hash collisions, the q87/q88 contract).
    "q107_setsim_join" -> ((s, d) => {
      val corpus = withPlantedNearDups(t(s, d, "documents"))
      val sets = corpus.select(col("doc_id"),
        graft.plans.ShingleHashSet(col("text")).as("shingles"))
      // frequencyOrder: the synthetic vocab is tiny (~31 words), so
      // shingles repeat corpus-wide — rarest-first prefixes keep the
      // candidate blocks small (value order is for ~unique elements)
      graft.operators.SetSimJoin.jaccardSelfJoin(sets, "doc_id", "shingles", 0.8,
          frequencyOrder = true)
        .select(col("id_a"), col("id_b"), col("intersection"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- deterministic global shuffle → training shards -------------------
    // Hash order, never input order: (shard, pos) is a pure function of
    // (salt, doc_id), so shard manifests are reproducible across re-runs
    // and stable as the corpus grows. One shuffle on shard; the per-shard
    // window sort is distributed and spillable.
    "q109_shard_shuffle" -> ((s, d) => {
      graft.operators.Splits.shardShuffle(
          t(s, d, "documents").select(col("doc_id")), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // --- markup stripping (web-text extraction) ---------------------------
    // The corpus is plain text, so the query INJECTS deterministic markup
    // around it (the q95 pattern), then strips: tags → space, entities
    // decoded (&amp; last), whitespace collapsed. The oracle rebuilds the
    // same wrapped text and applies the same RE2-safe patterns.
    "q110_markup_strip" -> ((s, d) => {
      val wrapped = t(s, d, "documents").select(col("doc_id"),
        concat(lit("<html><body class=\"c"), pmod(col("doc_id"), lit(7)),
          lit("\"><h1>T&amp;C "), col("doc_id"),
          lit("</h1>\n<p>"), col("text"),
          lit("</p><br/>&nbsp;</body></html>")).as("text"))
      wrapped.select(col("doc_id"), TF.stripMarkup(col("text")).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // --- temperature-scaled source mixing ---------------------------------
    // α = 0.5: each source keeps sqrt(c_min/c) of its docs — upsample-the-
    // small / downsample-the-big with cross-engine-exact cut points (sqrt
    // and division are correctly rounded IEEE ops; see Splits doc). One
    // tiny count agg broadcast back, then the q96 md5-bucket filter.
    "q111_temperature_mix" -> ((s, d) => {
      graft.operators.Splits.temperatureKeep(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // --- inverted-index postings (distributed form) -----------------------
    // One row per (token, doc): tf + 1-based occurrence positions — the
    // pair-table form that IS the index at scale (bucket by token on
    // persist; a query term prunes to its buckets). Bounded here to
    // doc_id < 50 to keep the dump small; the plan is corpus-shaped.
    // The positions ARRAY is serialized to a comma-joined string in this
    // COMPARED output only (the verify harness's row canonicalizer cannot
    // hash array cells); TextIndex.postings itself keeps the array form.
    "q112_postings" -> ((s, d) => {
      graft.operators.TextIndex.postings(
          t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        .select(col("token"), col("doc_id"), col("tf").cast("long").as("tf"),
          concat_ws(",", transform(col("positions"), p => p.cast("string")))
            .as("positions"))
        .orderBy(col("token"), col("doc_id"))
    }),

    // --- BM25 lexical retrieval -------------------------------------------
    // Robertson/Lucene BM25 for a 3-term query over the whole corpus
    // (no-match docs score 0). The (token, doc) table is filtered to the
    // query's terms BEFORE aggregation; corpus stats ride as one
    // broadcast row. Ranking key is the ROUNDED score (q99 discipline) so
    // rank boundaries sit on a grid, id tie-break.
    "q113_bm25" -> ((s, d) => {
      graft.operators.TextIndex.bm25(t(s, d, "documents"), "doc_id", "text",
          queryTokens = Seq("spark", "window", "merge"))
        .select(col("doc_id"), round(col("score"), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    }),

    // --- hybrid retrieval: BM25 ⊕ dense cosine via RRF --------------------
    // The sparse and dense rankings fuse by reciprocal rank (k = 60):
    // ranks are exact integers over rounded score grids, so the fused
    // score is bit-identical cross-engine. vec_id aligns with doc_id in
    // the testdata, giving both rankings one universe. Each ranking is
    // pruned to its top 100 FIRST (TakeOrderedAndProject — distributed
    // partial top-k), so the rank windows sort 100 rows, never the
    // corpus; a doc outside a list's top 100 contributes 0 from it.
    "q114_hybrid_rrf" -> ((s, d) => {
      val lexical = graft.operators.TextIndex.bm25(
        t(s, d, "documents"), "doc_id", "text",
        queryTokens = Seq("spark", "window", "merge"))
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      val dense = emb.crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          VF.cosine(col("embedding"), col("query_vec")).as("cos"))
      graft.operators.TextIndex.rrfFuse(lexical, "score", dense, "cos",
          topM = 100)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    }),

    // --- deterministic contrastive negative sampling ----------------------
    // k pseudo-random negatives per anchor from the dense id space,
    // hash-derived (reproducible, engine-portable), self-pair shifted
    // away. Narrow map + one broadcast count: no shuffle.
    "q115_negative_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Splits.negativeSample(
          docs.filter(col("doc_id") < 100), "doc_id", docs, "doc_id", k = 5)
        .orderBy(col("anchor_id"), col("j"))
    }),

    // --- bigram LM cross-entropy (statistical quality filter) -------------
    // Per-doc mean -ln p(cur|prev) under the corpus's own add-one-smoothed
    // bigram model — the KenLM-shaped signal: low = templated, high =
    // noise. Fixed-grid rounding + decimal accumulation (q73 discipline)
    // keeps the mean partition-order independent and oracle-exact.
    "q116_bigram_xent" -> ((s, d) => {
      graft.operators.LanguageModel.bigramCrossEntropy(
          t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // --- containment join (doc-in-doc detection) --------------------------
    // Overlap coefficient |A ∩ B| / |A| >= 0.9 from the 20 originals into
    // the planted corpus: each original is ⊂ its twin (containment 1.0).
    // Prefix filter on the probe side only — containment bounds none of
    // B, so B indexes every element (operators.SetSimJoin doc).
    "q117_containment" -> ((s, d) => {
      val corpus = withPlantedNearDups(t(s, d, "documents"))
      val sets = corpus.select(col("doc_id"),
        graft.plans.ShingleHashSet(col("text")).as("sh"))
      val probes = sets.filter(col("doc_id") < 20)
      graft.operators.SetSimJoin.containmentJoin(
          probes, "doc_id", sets, "doc_id", "sh", 0.9)
        .select(col("id_a"), col("id_b"), col("intersection"),
          round(col("containment"), 4).as("containment"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- phrase match over postings positions -----------------------------
    // The consumer of q112's positions: exact consecutive-token phrase
    // occurrences, computed entirely on the (token, doc) pair table —
    // the first term's postings bound the start-explode, later terms
    // join by doc and gate with codegen'd array_contains. Against a
    // persisted index this touches only the phrase's buckets.
    "q118_phrase_match" -> ((s, d) => {
      val post = graft.operators.TextIndex.postings(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.TextIndex.phraseMatch(post, Seq("table", "window"))
        .select(col("doc_id"),
          col("n_occurrences").cast("long").as("n_occurrences"))
        .orderBy(col("doc_id"))
    }),

    // --- edit-distance entity join (SymSpell deletion neighborhoods) ------
    // Short-string near-match: customer names pair when levenshtein <= 1
    // (TPC-H names differ in digit positions, so real typo-shaped pairs
    // exist at every SF). Deletion-neighborhood equi-join generates the
    // zero-false-negative candidate superset; the codegen'd levenshtein
    // builtin gates exactly. Never all-pairs.
    "q119_editdist_join" -> ((s, d) => {
      graft.operators.EditDistance.levenshteinSelfJoin(
          t(s, d, "customer").select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- proximity search (terms within a window) --------------------------
    // The relaxation of q118's phrase match: spark and merge within 5
    // tokens, either order, counting close position pairs. Same
    // postings-only shape — candidate docs are those holding BOTH terms.
    "q120_proximity" -> ((s, d) => {
      val post = graft.operators.TextIndex.postings(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.TextIndex.proximityMatch(post, "spark", "merge",
          window = 5)
        .select(col("doc_id"),
          col("n_close_pairs").cast("long").as("n_close_pairs"))
        .orderBy(col("doc_id"))
    }),

    // --- context-window chunking (RAG/embedding prep) ----------------------
    // 32-token windows every 24 tokens (8-token overlap) — the
    // embedding-ingest shape. Pure narrow expansion: no shuffle at all;
    // bounded to doc_id < 100 to keep the compared dump small.
    "q121_chunk" -> ((s, d) => {
      graft.operators.Pack.chunkTokens(
          t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text",
          size = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // --- within-doc repetition signals (Gopher-family quality filter) -----
    // dup-bigram fraction + top-bigram token share per doc; ratios of
    // small integers, so the doubles are engine-exact on the 4-decimal
    // grid.
    "q122_repetition" -> ((s, d) => {
      graft.operators.Quality.repetitionSignals(
          t(s, d, "documents"), "doc_id", "text", n = 2)
        .select(col("doc_id"),
          round(col("dup_ngram_frac"), 4).as("dup_ngram_frac"),
          round(col("top_ngram_frac"), 4).as("top_ngram_frac"))
        .orderBy(col("doc_id"))
    }),

    // --- TF-IDF sparse cosine retrieval ------------------------------------
    // Pair-table sparse vectors (the 100 TB form — vocabulary-dimensional
    // arrays never materialize); query doc 0's rows broadcast, dot =
    // shared-token join, norms computed for candidate docs only.
    // Dot/norm terms on the 9-grid in DECIMAL (q73 discipline).
    "q123_tfidf_cosine" -> ((s, d) => {
      val w = graft.operators.TextIndex.tfidf(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.TextIndex.tfidfCosineToDoc(w, queryDocId = 0L)
        .select(col("doc_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
        .limit(20)
    }),

    // --- interpolated trigram LM cross-entropy -----------------------------
    // Jelinek–Mercer λ = (0.6, 0.3, 0.1) over the corpus's own
    // trigram/bigram/unigram MLE tables — the higher-order sibling of
    // q116. Every context is observed by construction; the unigram
    // floor keeps p > 0 with no additive smoothing.
    "q124_trigram_xent" -> ((s, d) => {
      graft.operators.LanguageModel.trigramCrossEntropy(
          t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("xent3"), col("n_trigrams"))
        .orderBy(col("doc_id"))
    }),

    // --- per-group mean embedding (centroids, exploded form) ---------------
    // Source-profile centroids over the embedding corpus, 4 pseudo-groups
    // by id. dimMeans is the ORACLE-EXACT pooling path (9-grid DECIMAL
    // per-dim sums), unlike the throughput UDAF inside k-means.
    "q125_group_centroid" -> ((s, d) => {
      graft.functions.VectorFunctions.dimMeans(
          t(s, d, "embeddings")
            .select(pmod(col("vec_id"), lit(4L)).as("grp"), col("embedding")),
          "grp", "embedding")
        .select(col("grp"), col("dim").cast("long").as("dim"),
          round(col("mean"), 6).as("mean"))
        .orderBy(col("grp"), col("dim"))
    }),

    // --- per-dimension z-score standardization -----------------------------
    // The scale-normalization step in front of LSH/PQ/k-means; stats
    // from 9-grid DECIMAL moment sums (partition-order independent),
    // output on the round-6 grid. First 10 vectors keep the compared
    // output small; the transform itself is corpus-wide.
    "q151_standardize" -> ((s, d) =>
      graft.functions.VectorFunctions.standardizeDims(
          t(s, d, "embeddings"), "vec_id", "embedding")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          round(col("z"), 6).as("z"))
        .orderBy(col("vec_id"), col("dim"))),

    // --- char-level Shannon entropy (quality signal) -----------------------
    // Zero-shuffle per-row HOF chain; 9-grid DECIMAL term accumulation
    // makes the per-doc sum order-independent, so the count-table
    // oracle agrees bit-for-bit on the round-6 grid.
    "q152_char_entropy" -> ((s, d) =>
      graft.operators.Quality.charEntropies(
          t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("char_entropy"), 6).as("char_entropy"))
        .orderBy(col("doc_id"))),

    // --- token-length histogram per source ---------------------------------
    "q126_length_histogram" -> ((s, d) => {
      graft.operators.Quality.lengthHistogram(
          t(s, d, "documents"), "text", Seq("source"), binWidth = 8)
        .orderBy(col("source"), col("bin"))
    }),

    // --- collocation mining (bigram PMI) ------------------------------------
    // pmi = ln(C(ab)·N / (C(a·)·C(·b))), min-count 5 against the hapax
    // bias; factors widened to double BEFORE multiplying (C·N overflows
    // int64 at corpus scale).
    "q127_collocations" -> ((s, d) => {
      graft.operators.LanguageModel.bigramPmi(
          t(s, d, "documents"), "doc_id", "text", minCount = 5)
        .select(col("prev"), col("cur"), col("n"),
          round(col("pmi"), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("prev"), col("cur"))
        .limit(30)
    }),

    // --- batched multi-query BM25 (one job for the whole query set) --------
    // The build-once-probe-many pattern applied to retrieval: 5 queries
    // (11 terms) score in ONE job — query table broadcast, per-term df
    // computed once, per-query top-5 via a query-partitioned window
    // (bounded sorts, never a global funnel). N per-query bm25() calls
    // would mean N driver submissions — the eval-sweep bottleneck.
    "q128_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark"), (1L, "window"), (2L, "merge"), (2L, "table"),
        (3L, "join"), (3L, "hash"), (4L, "customer"), (4L, "vector"),
        (5L, "stream"), (5L, "batch"), (5L, "query"))
        .toDF("query_id", "token")
      graft.operators.TextIndex.bm25Batch(t(s, d, "documents"), "doc_id",
          "text", queries, topK = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("bm25"))
        .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))
    }),

    // --- batched phrase match: N phrases, one job --------------------------
    // The q128 shape for positions: three phrases (incl. a one-term
    // degenerate) share one postings pass; per query the rows equal
    // q118's single-needle form (spec-pinned).
    "q220_phrase_batch" -> ((s, d) => {
      import s.implicits._
      val phrases = Seq(
        (1L, Seq("table", "window")), (2L, Seq("spark", "merge")),
        (3L, Seq("row")))
        .toDF("query_id", "terms")
      graft.operators.TextIndex.phraseMatchBatch(
          graft.operators.TextIndex.postings(
            t(s, d, "documents"), "doc_id", "text"), phrases)
        .select(col("query_id"), col("doc_id"),
          col("n_occurrences").cast("long").as("n_occurrences"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // --- batched snippets: N terms, one tokenization -----------------------
    "q221_snippet_batch" -> ((s, d) => {
      import s.implicits._
      val queries = Seq((1L, "vector"), (2L, "table"), (3L, "stream"))
        .toDF("query_id", "token")
      graft.operators.TextIndex.snippetBatch(
          t(s, d, "documents"), "doc_id", "text", queries, width = 2)
        .select(col("query_id"), col("doc_id"),
          col("first_pos").cast("int").as("first_pos"), col("snippet"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // --- batched fuzzy retrieval: N needles, one vocab gate ----------------
    "q222_fuzzy_batch" -> ((s, d) => {
      import s.implicits._
      val needles = Seq((1L, "vektor"), (2L, "tabel"), (3L, "streem"))
        .toDF("query_id", "term")
      graft.operators.TextIndex.fuzzyTermQueryBatch(
          graft.operators.TextIndex.postings(
            t(s, d, "documents"), "doc_id", "text"), needles, maxDist = 1)
        .select(col("query_id"), col("doc_id"), col("matched_token"),
          col("distance"), col("tf").cast("long").as("tf"))
        .orderBy(col("query_id"), col("doc_id"), col("matched_token"))
    }),

    // --- PMI collocations: phrase mining over bigram counts ----------------
    // The q81 surface re-ranked by evidence: how much more often does a
    // bigram occur than its parts predict?
    "q226_collocations" -> ((s, d) =>
      graft.operators.Keywords.collocations(
        t(s, d, "documents"), "doc_id", "text", minCount = 5, topK = 40)),

    // --- sloppy phrase: terms in order within a bounded window -------------
    // The middle ground between q118 (exact adjacency) and q120
    // (unordered proximity): value…table…part in order with at most 4
    // interleaved tokens across the span. Postings-only; each step
    // explodes just the positions passing the monotone partial-slack
    // gate (filter-then-explode HOF).
    "q129_slop_phrase" -> ((s, d) => {
      val post = graft.operators.TextIndex.postings(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.TextIndex.slopPhraseMatch(post,
          Seq("value", "table", "part"), slop = 4)
        .select(col("doc_id"),
          col("n_occurrences").cast("long").as("n_occurrences"))
        .orderBy(col("doc_id"))
    }),

    // --- end-to-end curation pipeline (ONE lazy plan) ----------------------
    // The whole training-data recipe composed: markup strip → length +
    // repetition gates → exact dedup → temperature mix, every stage an
    // existing operator, fused by Catalyst into one job chain
    // (CurationSpec asserts zero jobs at construction). Markup is
    // injected (q110 pattern) and exact dups planted (100 re-wrapped
    // copies, dropped by content hash after stripping), so every stage
    // does real work. The hash-seeded near-dup stage is off here (no SQL
    // oracle); CurationSpec value-checks it.
    "q130_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("lang"),
          concat(lit("<p>"), col("text"), lit("</p>&nbsp;")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
            concat(lit("<div>"), col("text"), lit("</div>")).as("text")))
      graft.pipelines.Curation.curate(src, "doc_id", "text", "lang",
          graft.pipelines.Curation.Config(minTokens = 30, maxTokens = 10000,
            maxDupBigramFrac = 0.05, nearDup = false, mixAlpha = 0.5))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // --- batched TF-IDF cosine retrieval (one job for N query docs) --------
    // The q128 discipline applied to the sparse-vector path: 3 query
    // docs × top-10 in ONE job. Query rows broadcast; candidate norms
    // computed ONCE per doc across the union of candidates (norm is
    // query-independent); q73 9-grid DECIMAL determinism throughout.
    "q131_tfidf_batch" -> ((s, d) => {
      val w = graft.operators.TextIndex.tfidf(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.TextIndex.tfidfCosineBatch(w, Seq(0L, 1L, 2L), topK = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("doc_id"))
    }),

    // --- temperature mixing by REPLICATION (upsampling epochs) -------------
    // The complement of q111: small languages replicate toward balance
    // ((c_max/c)^0.5 copies, largest group stays at one), copy counts a
    // pure function of (id, counts), with a 0-based epoch ordinal per
    // copy. One broadcast rate join + a narrow sequence explode.
    "q132_temperature_epochs" -> ((s, d) => {
      graft.operators.Splits.temperatureEpochs(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // --- PageRank (link-analysis importance) -------------------------------
    // Damped power iteration over a deterministic synthetic link graph
    // (two affine hash maps with collisions → real in-degree skew; rank
    // spread ~100× at sf0.01). 3 iterations; per-edge contributions on
    // the 9-grid in DECIMAL (q73 discipline) so ranks are bit-identical
    // cross-engine. One contribution join + one dst-keyed sum per round.
    "q133_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.pageRank(edges, iterations = 3)
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
        .orderBy(col("id"))
    }),

    // --- HITS hubs & authorities ------------------------------------------
    // The q133 link graph scored by ROLE: pointed-at-by-good-hubs vs
    // points-at-good-authorities (PageRank conflates the two).
    "q229_hits" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.hits(edges, iterations = 2)
        .orderBy(col("id"))
    }),

    // --- incremental HLL cardinality store ---------------------------------
    // Per-lang distinct-token counts via the mergeable-sketch store: two
    // ingest batches (odd/even docs) append per-group sketches, the
    // query merges the persisted batches and estimates — zero raw data
    // re-read. Below the sketch's dense threshold the DataSketches
    // estimate is EXACT (coupon list), so tiny vocabularies get a real
    // count(DISTINCT) oracle; SketchesSpec proves union-exactness and
    // the 5% band at 4k+ cardinalities where estimation kicks in.
    "q134_hll_store" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(col("lang"), explode(TF.tokens(col("text"))).as("token"))
      val store = cachedStore(s, d, "hll-q134") { p =>
        graft.operators.Sketches.appendSketches(
          toks(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
          Seq("lang"), "token", p, batchId = 1L)
        graft.operators.Sketches.appendSketches(
          toks(docs.filter(pmod(col("doc_id"), lit(2)) === 1)),
          Seq("lang"), "token", p, batchId = 2L)
      }
      graft.operators.Sketches.distinctCounts(s, store)
        .select(col("lang"), col("distinct_estimate"))
        .orderBy(col("lang"))
    }),

    // --- incremental KLL quantile store ------------------------------------
    // Per-lang doc-length distribution via the mergeable-sketch store
    // (the q134 discipline for ORDER STATISTICS): two ingest batches
    // (odd/even docs) append per-group KLL sketches, the query merges
    // the persisted images and reads p50/p90 + the exactly-carried
    // (n, min, max). k = 800 > the largest sf0.01 group, so every
    // sketch stays in exact mode and the INCLUSIVE quantile IS
    // percentile_disc — a real DuckDB oracle; QuantilesSpec covers the
    // estimation band where compaction kicks in.
    "q139_quantile_store" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = cachedStore(s, d, "kll-q139") { p =>
        graft.operators.Quantiles.appendSketches(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          Seq("lang"), "n_chars", p, batchId = 1L, k = 800)
        graft.operators.Quantiles.appendSketches(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          Seq("lang"), "n_chars", p, batchId = 2L, k = 800)
      }
      graft.operators.Quantiles.groupQuantiles(s, store, Seq(0.5, 0.9))
        .select(col("lang"), col("n"), col("min_v"), col("max_v"),
          element_at(col("quantiles"), 1).as("p50"),
          element_at(col("quantiles"), 2).as("p90"))
        .orderBy(col("lang"))
    }),

    // --- incremental heavy-hitters store -----------------------------------
    // Per-lang top tokens via the third sketch store (HLL = how many
    // distinct, KLL = how distributed, Misra-Gries = WHICH dominate):
    // two ingest batches append per-group frequent-items sketches, the
    // query merges the persisted images and ranks top-5. 31 distinct
    // tokens per lang sits far under maxMapSize=128's purge threshold,
    // so counts are EXACT (error bound 0) — a real count/row_number
    // oracle; HeavyHittersSpec covers the purge regime's bounds.
    "q141_heavy_hitters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(col("lang"), explode(TF.tokens(col("text"))).as("token"))
      val store = cachedStore(s, d, "freq-q141") { p =>
        graft.operators.HeavyHitters.appendSketches(
          toks(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
          Seq("lang"), "token", p, batchId = 1L, maxMapSize = 128)
        graft.operators.HeavyHitters.appendSketches(
          toks(docs.filter(pmod(col("doc_id"), lit(2)) === 1)),
          Seq("lang"), "token", p, batchId = 2L, maxMapSize = 128)
      }
      graft.operators.HeavyHitters.topItems(s, store, 5)
        .select(col("lang"), col("rank"), col("item"), col("estimate"))
        .orderBy(col("lang"), col("rank"))
    }),

    // --- theta sketch set algebra -------------------------------------------
    // Distinct-count SET OPERATIONS — the capability HLL lacks: theta
    // images intersect and difference, so audience-overlap questions
    // ("high-value users who click AND purchase") cost sketch bytes,
    // not a distinct join. 75/67 live entries sit far under the
    // nominal 4096 — exact regime, real count(DISTINCT) oracle;
    // ThetaSketchSpec covers the estimation band.
    "q142_theta_setops" -> ((s, d) => {
      val th = graft.plans.ThetaSketch
      val hot = t(s, d, "events").filter(col("value") > 150)
      val sk = hot.filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(th.sketch(col("user_id")).as("sk"))
      val c = sk.filter(col("event_type") === "click").select(col("sk").as("sk_c"))
      val p = sk.filter(col("event_type") === "purchase").select(col("sk").as("sk_p"))
      c.crossJoin(p).select(
        round(th.estimate(col("sk_c"))).cast("long").as("n_click"),
        round(th.estimate(col("sk_p"))).cast("long").as("n_purchase"),
        round(th.estimate(th.intersect(col("sk_c"), col("sk_p"))))
          .cast("long").as("n_both"),
        round(th.estimate(th.difference(col("sk_c"), col("sk_p"))))
          .cast("long").as("n_click_only"))
    }),

    // --- quantile-store-driven quality gate --------------------------------
    // The composition the quantile store exists for: per-lang p10
    // length thresholds come from the PERSISTED sketches (one tiny
    // read, broadcast), then gate the corpus — no per-query corpus
    // re-aggregation. Exact mode (k=800) -> a real quantile_disc
    // oracle.
    "q144_quantile_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = cachedStore(s, d, "kll-q144") { p =>
        graft.operators.Quantiles.appendSketches(docs, Seq("lang"),
          "n_chars", p, batchId = 1L, k = 800)
      }
      val thr = graft.operators.Quantiles.groupQuantiles(s, store, Seq(0.1))
        .select(col("lang"), element_at(col("quantiles"), 1).as("p10"))
      docs.join(broadcast(thr), "lang")
        .groupBy(col("lang"), col("p10"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("n_chars") >= col("p10"), lit(1L)).otherwise(lit(0L)))
            .as("n_kept"))
        .select(col("lang"), col("p10"), col("n_total"), col("n_kept"))
        .orderBy(col("lang"))
    }),

    // --- weighted PageRank --------------------------------------------------
    // q133's graph with per-edge walk weights (doc_id % 3 + 1): a
    // walker leaves u along (u,v) with probability w/Σw — link
    // strength steers the flow.
    "q154_weighted_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val wcol = (pmod(col("doc_id"), lit(3L)) + 1).cast("double").as("w")
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"), wcol)
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst"), wcol))
      graft.operators.Graph.pageRank(edges, iterations = 3,
          weightCol = Some("w"))
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
        .orderBy(col("id"))
    }),

    // --- personalized PageRank (random walk with restart) ------------------
    // Related-document retrieval: teleport mass restricted to the seed
    // set (doc_id % 25 == 0), so rank measures proximity TO the seeds
    // along the link graph. Same no-dangling edge construction as q133
    // (every dst is a src), so the unrolled oracle skips the dangling
    // term the engine carries for general graphs.
    "q145_ppr" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      val seeds = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 3)
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
        .orderBy(col("id"))
    }),

    // --- cross-doc duplicate span detection (substring-level dedup) --------
    // Lee et al. exact-substring dedup: sliding 8-token windows hashed,
    // windows occurring in >= 2 distinct docs flagged, overlapping /
    // adjacent flagged windows merged into maximal spans. The oracle
    // groups by the k-gram STRING where the engine groups by xxhash64 —
    // identical modulo a 64-bit collision (the hashed-key discipline).
    "q146_dup_spans" -> ((s, d) =>
      graft.operators.Dedup.duplicateSpans(
          t(s, d, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))),

    // --- full text-cleanup curation: boilerplate + substring stages on -----
    // q130's oracled pipeline shape plus the round's two text-rewrite
    // stages: boilerplate line removal (raw text, ' line ' delimiter)
    // BEFORE the strip, substring excision after; rep gate neutral
    // (threshold 1.0), nearDup off, alpha-0.5 mix on the post-dedup
    // distribution.
    "q149_curation_clean" -> ((s, d) =>
      graft.pipelines.Curation.curate(
          t(s, d, "documents"), "doc_id", "text", "lang",
          graft.pipelines.Curation.Config(
            minTokens = 10, maxDupBigramFrac = 1.0, nearDup = false,
            mixAlpha = 0.5, boilerplateMinCount = 3,
            boilerplateDelimiter = " line ", dupSpanK = 8))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))),

    // --- substring dedup end-to-end: detect + excise -----------------------
    // The aggressive policy: every cross-doc duplicated span (q146's
    // output, unfiltered) is cut from every doc; docs survive, possibly
    // empty. detect → transform as one lazy plan.
    "q148_excise_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spans = graft.operators.Dedup.duplicateSpans(
        docs, "doc_id", "text", k = 8)
      graft.operators.Dedup.exciseSpans(docs, "doc_id", "text", spans)
        .orderBy(col("doc_id"))
    }),

    // --- boilerplate line removal (C4 corpus-frequency cut) ----------------
    // The synthetic corpus has no newlines, so the literal token
    // " line " serves as the line delimiter — segments repeating >= 3
    // times corpus-wide are excised and docs reassembled in order.
    "q147_boilerplate" -> ((s, d) =>
      graft.operators.Quality.removeBoilerplateLines(
          t(s, d, "documents"), "doc_id", "text",
          minCount = 3, delimiter = " line ")
        .orderBy(col("doc_id"))),

    // --- triangle counting / clustering coefficient ------------------------
    // q133's synthetic link graph treated as UNDIRECTED; per-node
    // triangle membership + local clustering coefficient. The engine
    // enumerates via degree-ordered orientation; the oracle via the
    // plain id-ordered triple join — same triangles either way.
    "q150_triangles" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.triangleCounts(edges).orderBy(col("id"))
    }),

    // --- Adamic-Adar link prediction ---------------------------------------
    // Top predicted new edges on the q133 synthetic graph; degree cap
    // exercised at 50.
    "q178_link_predict" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.adamicAdar(edges, maxDegree = 50)
        .orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),

    // --- weighted single-source shortest paths -----------------------------
    // Bellman-Ford supersteps over a deterministic weighted digraph on
    // the 25 nations.
    "q186_shortest_paths" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("nk"))
      val edges = n.select(col("nk").as("src"),
          pmod(col("nk") * 3 + 1, lit(25L)).as("dst"),
          (col("nk") % 5 + 1).as("w"))
        .unionByName(n.select(col("nk").as("src"),
          pmod(col("nk") + 7, lit(25L)).as("dst"),
          (col("nk") % 3 + 2).as("w")))
      graft.operators.Graph.shortestPaths(edges, source = 0L)
        .orderBy(col("id"))
    }),

    // --- incremental exact aggregate store ----------------------------------
    // Two ingest batches of lineitem partials; serving merges partials
    // and must equal a one-pass aggregation of the whole table.
    "q187_agg_store" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val cut = lit("1997-01-01")
      val keys = Seq("l_returnflag", "l_linestatus")
      val store = cachedStore(s, d, "q187-aggs") { p =>
        graft.operators.AggStore.append(
          li.filter(col("l_shipdate") < cut), keys, "l_quantity", p, 1L)
        graft.operators.AggStore.append(
          li.filter(col("l_shipdate") >= cut), keys, "l_quantity", p, 2L)
      }
      graft.operators.AggStore.serve(s, store)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- literal occurrence offsets (span locate) ---------------------------
    // Every 0-based char offset of "data" across the corpus, one row per
    // occurrence — the contamination-audit span primitive.
    "q188_occurrences" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions
            .occurrenceOffsets(col("text"), "data")).as(Seq("__i", "off")))
        .select(col("doc_id"), (col("__i") + 1).cast("long").as("occ"),
          col("off"))
        .orderBy(col("doc_id"), col("occ"))),

    // --- boolean retrieval (Lucene BooleanQuery semantics) -----------------
    // must contain 'vector', must not contain 'slow'; 'table'/'query'
    // are optional coordination score.
    "q155_boolean_query" -> ((s, d) =>
      graft.operators.TextIndex.booleanQuery(
          graft.operators.TextIndex.postings(
            t(s, d, "documents"), "doc_id", "text"),
          must = Seq("vector"), should = Seq("table", "query"),
          mustNot = Seq("slow"))
        .orderBy(col("doc_id"))),

    // --- fuzzy term retrieval ----------------------------------------------
    // 'vektor' (a typo) finds every 'vector' posting at distance 1;
    // the gate runs over the 31-token distinct vocabulary, not the
    // corpus.
    "q156_fuzzy_query" -> ((s, d) =>
      graft.operators.TextIndex.fuzzyTermQuery(
          graft.operators.TextIndex.postings(
            t(s, d, "documents"), "doc_id", "text"),
          term = "vektor", maxDist = 1)
        .select(col("doc_id"), col("matched_token"), col("distance"),
          col("tf").cast("long").as("tf"))
        .orderBy(col("doc_id"), col("matched_token"))),

    // --- character-class profile -------------------------------------------
    // Exact letter/digit/whitespace counts per doc — the script/markup
    // composition signal.
    "q172_charclass" -> ((s, d) =>
      graft.operators.Quality.charClassProfile(
          t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // --- prefix completion (autocomplete) ----------------------------------
    // Top-4 of the six s-prefixed vocabulary terms by corpus frequency.
    "q162_autocomplete" -> ((s, d) =>
      graft.operators.TextIndex.prefixComplete(
        graft.operators.TextIndex.postings(
          t(s, d, "documents"), "doc_id", "text"), "s", k = 4)),

    // --- index-served autocomplete -----------------------------------------
    // Same results as q162, but through the persisted range-clustered
    // vocab: build index -> persistVocab -> stats-pruned prefix read.
    "q173_vocab_complete" -> ((s, d) => {
      val store = cachedStore(s, d, "q173-idx") { p =>
        graft.operators.TextIndex.persistPostings(
          t(s, d, "documents"), "doc_id", "text", p, numBuckets = 16)
        graft.operators.TextIndex.persistVocab(s, p, files = 4)
      }
      graft.operators.TextIndex.prefixCompleteFromVocab(s, store, "s", k = 4)
    }),

    // --- covariance matrix over embeddings ---------------------------------
    // The feature-correlation profile: population cov for every dim
    // pair (upper triangle), 9-grid DECIMAL sums.
    "q159_covariance" -> ((s, d) =>
      graft.functions.VectorFunctions.covarianceMatrix(
          t(s, d, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))),

    // --- first principal component (distributed power iteration) ----------
    // Dominant eigenvector of the embedding covariance; the matrix
    // stays a pair table end-to-end.
    "q164_power_iteration" -> ((s, d) =>
      graft.functions.VectorFunctions.powerIteration(
          graft.functions.VectorFunctions.covarianceMatrix(
            t(s, d, "embeddings"), "embedding"),
          iterations = 3)
        .orderBy(col("dim"))),

    // --- BFS shortest hop distances ----------------------------------------
    // Link-neighborhood extraction on the synthetic citation graph:
    // every doc reachable from doc 0 with its minimum hop count.
    "q157_bfs_hops" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.hopDistances(edges,
          docs.filter(col("doc_id") === 0).select(col("doc_id").as("id")),
          maxHops = 20)
        .orderBy(col("id"))
    }),

    // --- k-core decomposition ----------------------------------------------
    // The density gate: the maximal subgraph where every doc keeps >= 3
    // in-subgraph neighbors (link-farm / dense-community detection).
    "q158_kcore" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.kCore(edges, k = 3).orderBy(col("id"))
    }),

    // --- snippet / keyword-in-context extraction ---------------------------
    // The retrieval display stage: ±2 tokens around each matching
    // doc's FIRST occurrence of the term. Postings supply the
    // position; only matching docs re-tokenize, only to slice.
    "q143_snippet" -> ((s, d) =>
      graft.operators.TextIndex.snippet(
          t(s, d, "documents"), "doc_id", "text", "vector", width = 2)
        .select(col("doc_id"), col("first_pos").cast("int").as("first_pos"),
          col("snippet"))
        .orderBy(col("doc_id"))),

    // --- bloom-prefiltered decontamination ---------------------------------
    // Exact anti-join semantics with a narrow fast path: the benchmark
    // reference set (5% of docs, by content hash) builds a bloom filter
    // once; candidates the codegen'd probe rejects are definitely clean
    // and NEVER shuffle — only flagged rows (true hits + ~1% fpp) reach
    // the exact verification join. Output ≡ plain anti-join, hence the
    // real oracle.
    "q135_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val ref = hashed.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("h").as("rh"))
      graft.operators.Bloom.decontaminate(hashed, "h", ref, "rh")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // --- VARIANT semi-structured extraction (Spark 4 type) -----------------
    // Nested JSON (injected, the q110 pattern) parses ONCE into the
    // binary VARIANT encoding; typed path extraction (object fields,
    // array indexing, numeric casts) then runs on the encoded form —
    // the lakehouse answer to schema-on-read without per-path string
    // re-parsing (q20's get_json_object re-scans the text per path).
    "q136_variant" -> ((s, d) => {
      val j = t(s, d, "documents").select(col("doc_id"),
        concat(lit("{\"meta\": {\"lang\": \""), col("lang"),
          lit("\", \"n\": "), col("n_chars"),
          lit("}, \"tags\": [\""), col("source"), lit("\", \"x\"], \"score\": "),
          pmod(col("doc_id"), lit(7)), lit("}")).as("js"))
      j.select(col("doc_id"), parse_json(col("js")).as("v"))
        .select(col("doc_id"),
          variant_get(col("v"), "$.meta.lang", "string").as("vlang"),
          variant_get(col("v"), "$.meta.n", "long").as("vn"),
          variant_get(col("v"), "$.tags[0]", "string").as("tag0"),
          variant_get(col("v"), "$.score", "long").as("score"))
        .filter(col("score") >= 3)
        .orderBy(col("doc_id"))
    }),

    // --- label propagation communities (q133's graph, denser semantics) ----
    // Deterministic synchronous LPA: every node adopts its neighbors'
    // most frequent label, ties to the smallest — 3 fixed rounds over
    // the q133 edge set. Finds densely-linked groups INSIDE components
    // (CC answers reachability, q77); the per-round vote is two chained
    // map-side-combinable aggregations, oracle unrolled per round (the
    // q133 pattern).
    "q138_label_propagation" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(500L)).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 37, lit(100L)).as("dst")))
      graft.operators.Graph.labelPropagation(edges, iterations = 3)
        .orderBy(col("id"))
    }),

    // --- MMR diversity rerank (bounded candidate list) ---------------------
    // The last stage of the retrieval stack: dense top-20 (cosine to
    // vec 0, the q42 recall stage) hands a BOUNDED candidate list to
    // MMR, which greedily picks 5 results trading relevance against
    // redundancy (λ = 0.5 — exactly representable, so both engines
    // compute identical doubles on the rounded-4 grid). Every argmax
    // compares round(score, 4) with id ASC tie-break — the selection
    // sequence is bit-reproducible, so the DuckDB oracle unrolls the 5
    // greedy stages (the q133 fixed-iteration pattern).
    "q137_mmr_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      val cands = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(VF.cosine(col("embedding"), col("query_vec")), 4).as("rel"),
          col("embedding"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
      graft.operators.Mmr.mmrRerank(cands, "vec_id", "rel", "embedding",
        k = 5, lambda = 0.5)
    }),

    // --- product-quantization ANN (ADC + exact refine) ---------------------
    // The memory-bound ANN path: 64-float vectors compress to 16 code
    // bytes (16x); the scan reads CODES + a driver-side lookup table
    // (codegen'd pq_adc), shortlists 50, and re-ranks just those rows
    // exactly. Deterministic end-to-end (lowest-id seeding, tie-broken
    // argmins) but k-means-in-SQL has no practical oracle -> rows-only
    // (the q45/q76 discipline); PqIndexSpec measures recall@10 = 0.9
    // against exact cosine and pins the floor.
    "q140_pq_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val normed = VF.l2Normalized(emb, "embedding", "vec")
        .select(col("vec_id"), col("vec"))
      val q = normed.filter(col("vec_id") === 0)
        .select("vec").collect()(0).getSeq[Float](0)
      val corpus = normed.filter(col("vec_id") =!= 0)
      val cb = graft.functions.PqIndex.train(corpus, "vec", "vec_id",
        m = 16, ksub = 32, iterations = 3)
      // materialize the coded table once — in a real deployment the
      // codes column IS the persisted index the ADC scan reads
      val coded = Materialize(graft.functions.PqIndex.encode(corpus, "vec", cb),
        eager = true)
      graft.functions.PqIndex.adcRefineTopK(coded, "vec", "vec_id", cb, q,
          k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("l2_dist"), 4).as("l2_dist"))
        .orderBy(col("l2_dist"), col("vec_id"))
    }),

    // --- persisted incremental IVF index: build + frozen append + serve ---
    // The full store lifecycle in one query: train/persist on 90% of the
    // corpus, append the last 10% against the FROZEN centroids (O(batch),
    // no re-cluster), then serve a partition-pruned probe from disk.
    // Rows-only (approximate probe, clustering-dependent — the q76
    // adjudication); served ≡ in-session is IvfStoreSpec's equality.
    "q219_ivf_store" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getList[Float](0).asScala.toSeq
      val rest = emb.filter(col("vec_id") =!= 0)
      val store = cachedStore(s, d, "ivfstore-q219") { p =>
        graft.functions.IvfStore.build(rest.filter(col("vec_id") % 10 =!= 9),
          "embedding", "vec_id", p, k = 8, iterations = 2)
        graft.functions.IvfStore.append(rest.filter(col("vec_id") % 10 === 9),
          p, batchId = 1L)
      }
      graft.functions.IvfStore.topK(s, store, qv, k = 10, nprobe = 4)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
    }),

    "q106_quantized_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
        .select(col("vec_id"), VF.quantizeInt8(col("embedding")).as("codes"))
        .filter(col("codes").isNotNull)
      val q = emb.filter(col("vec_id") === 0).select(col("codes").as("qcodes"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VF.int8Cosine(col("codes"), col("qcodes")), 4).as("q_cosine"))
        .orderBy(col("q_cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // --- batch kNN join: every query's top-k neighbors in one job ----------
    // Full probe (nprobe = #clusters) makes the IVF path EXACT brute
    // force, so a SQL oracle pins it; the pruned-probe regime is
    // AnnRecallSpec's measured territory.
    "q228_knn_join" -> ((s, d) => {
      import graft.functions.IvfIndex
      val emb = t(s, d, "embeddings")
      // distinct cache key: q76's index excludes vec_id 0, this one
      // covers the whole table
      val idx = LlmQueries.cachedIvfIndex(s, d + "#all")(
        IvfIndex.build(emb, "embedding", "vec_id", k = 8))
      val qs = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      IvfIndex.knnJoin(idx, qs, "query_id", "qvec",
          "embedding", "vec_id", k = 5, nprobe = 8, grid = 4)
        .orderBy(col("query_id"), col("cosine_sim").desc, col("vec_id"))
    }))

  def oracleSql: Map[String, String] = Map(
    // Lang-id value-checked: the heuristic is pure marker counting +
    // argmax with earlier-profile tie preference — fully re-expressible
    // in SQL (score desc, profile priority desc, first row).
    "q40_lang_id" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tk
           FROM documents
         ),
         profiles AS (
           SELECT * FROM (VALUES
             ('en', 5, ['the','and','of','to','in','is','that','it']),
             ('es', 4, ['el','la','de','que','y','en','los','del']),
             ('fr', 3, ['le','la','de','et','les','des','un','une']),
             ('de', 2, ['der','die','und','das','von','zu','mit','den']),
             ('zh', 1, ['的','是','了','在','和','有','我','不'])) AS p(lang, prio, markers)
         ),
         scored AS (
           SELECT doc_id, lang, prio,
             len(list_filter(tk, t -> list_contains(markers, t))) AS score
           FROM tok CROSS JOIN profiles
         ),
         best AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, prio DESC) AS rn
           FROM scored
         )
         SELECT lang AS lang_pred, CAST(count(*) AS BIGINT) AS n
         FROM best WHERE rn = 1 GROUP BY 1 ORDER BY lang_pred""",

    // Multimodal embedding contract: the decode is an engine-defined
    // deterministic stub (no codecs in env), but the OUTPUT contract is
    // oracle-able — one row per media id < 50, unit self-similarity
    // (pooled embedding is nonzero), dim 64. Shape + invariant check;
    // embedding values themselves are engine-internal.
    "q61_media_embeddings" ->
      """SELECT doc_id AS media_id, CAST(1.0 AS DOUBLE) AS self_sim, CAST(64 AS BIGINT) AS dim
         FROM documents WHERE doc_id < 50 ORDER BY media_id""",

    // Decontamination value-checked: DuckDB recomputes distinct 3-shingle
    // sets from text (hash-free) — equality with the engine's shingle-hash
    // overlap holds up to 64-bit collisions, i.e. exactly.
    "q87_decontaminate" ->
      """WITH tok AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM documents
         ),
         sh AS (
           SELECT doc_id, source,
             list_distinct([array_to_string(list_slice(tk, i, i+2), ' ')
                            for i in range(1, greatest(len(tk)-2,1)+1)]) AS s
           FROM tok
         ),
         ref AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source <> 'src0'),
         cand AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source = 'src0')
         SELECT cand.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(coalesce(sum(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matched,
           round(CAST(sum(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS overlap_frac
         FROM cand LEFT JOIN ref ON cand.g = ref.g
         GROUP BY cand.doc_id ORDER BY cand.doc_id""",

    // thresholds: floor(0.8 * 65536) = 0xcccc, floor(0.9 * 65536) = 0xe666
    "q90_hash_split" ->
      """SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",

    "q89_sequence_pack" ->
      """WITH tk AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents
         ),
         placed AS (
           SELECT doc_id, n_tok, doc_id % 8 AS shard,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_off
           FROM tk
         )
         SELECT doc_id, shard, CAST(floor(tok_off / 2048.0) AS BIGINT) AS seq_id,
           tok_off % 2048 AS pos_in_seq, n_tok
         FROM placed ORDER BY doc_id""",

    // the q88 recipe, asymmetric: snippet = tokens 3..12 + 'qq qq';
    // intersect over distinct 3-shingles divided by EACH side's size
    "q233_containment" ->
      """WITH base AS (SELECT doc_id, lower(text) AS lt
           FROM documents WHERE doc_id < 20),
         tk AS (SELECT doc_id,
             list_filter(string_split_regex(lt, '\s+'), x -> x <> '') AS td,
             list_concat(list_slice(
               list_filter(string_split_regex(lt, '\s+'), x -> x <> ''),
               3, 12), ['qq', 'qq']) AS ts
           FROM base),
         sh AS (SELECT doc_id,
             list_distinct([array_to_string(list_slice(td, i, i+2), ' ')
                            for i in range(1, greatest(len(td)-2,1)+1)]) AS sd,
             list_distinct([array_to_string(list_slice(ts, i, i+2), ' ')
                            for i in range(1, greatest(len(ts)-2,1)+1)]) AS ss
           FROM tk)
         SELECT doc_id + 2000000 AS id_a, doc_id AS id_b,
           CAST(len(ss) AS BIGINT) AS n_shingles_a,
           CAST(len(sd) AS BIGINT) AS n_shingles_b,
           round(CAST(len(list_intersect(ss, sd)) AS DOUBLE) / len(ss), 4)
             AS containment_a,
           round(CAST(len(list_intersect(ss, sd)) AS DOUBLE) / len(sd), 4)
             AS containment_b
         FROM sh ORDER BY id_a""",

    // Exact string-Jaccard over the deterministic planted pairs: the
    // DuckDB side recomputes 3-shingle sets from the text itself (no
    // engine hash involved), value-checking the Spark verify stage.
    "q88_planted_jaccard" ->
      """WITH tk AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ta,
             list_filter(string_split_regex(lower(text || ' zz zz'), '\s+'), x -> x <> '') AS tb
           FROM documents WHERE doc_id < 20
         ),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(list_slice(ta, i, i+2), ' ')
                            for i in range(1, greatest(len(ta)-2,1)+1)]) AS sa,
             list_distinct([array_to_string(list_slice(tb, i, i+2), ' ')
                            for i in range(1, greatest(len(tb)-2,1)+1)]) AS sb
           FROM tk
         )
         SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
           round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
                 len(list_distinct(list_concat(sa, sb))), 4) AS jaccard
         FROM sh ORDER BY id_a""",
    "q60_media_meta" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
           count(*) AS n,
           round(avg(CAST(n_chars % 640 + 16 AS DOUBLE)), 4) AS avg_width,
           max(n_chars * 10) AS max_duration_ms
         FROM documents GROUP BY 1 ORDER BY kind""",

    "q35_doc_stats" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 4) AS avg_token_len,
           round(CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 4) AS ttr
         FROM documents ORDER BY doc_id""",

    "q36_word_freq" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50""",

    "q37_exact_dedup" ->
      """SELECT doc_id, sha256(text) AS content_hash,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id
         FROM documents ORDER BY doc_id""",

    "q38_vocab_fingerprint" ->
      """SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))), ' ')) AS fingerprint
         FROM documents ORDER BY doc_id""",

    "q39_quality" ->
      s"""SELECT doc_id,
           round(CAST(len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''),
             w -> w IN ($stopwordSqlList))) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 4) AS stopword_ratio,
           round(CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 4) AS ttr,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 4) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "q62_label_centroids" ->
      """WITH per AS (
           SELECT label, i, avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS m
           FROM embeddings, generate_series(1, 64) AS g(i)
           GROUP BY label, i),
         agg AS (
           SELECT label,
             round(max(CASE WHEN i = 1 THEN m END), 4) AS first_el,
             round(sqrt(sum(m * m)), 4) AS centroid_norm
           FROM per GROUP BY label),
         c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
         SELECT CAST(a.label AS BIGINT) AS label, c.n, a.first_el, a.centroid_norm
         FROM agg a JOIN c ON a.label = c.label ORDER BY label""",

    "q41_cosine_scores" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE))
             / (sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))
                * sqrt(sum(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))), 4) AS cosine_sim
         FROM embeddings e, q, generate_series(1, 64) AS g(i)
         GROUP BY e.vec_id ORDER BY e.vec_id""",

    "q42_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         sims AS (
           SELECT e.vec_id,
             round(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))
                  * sqrt(sum(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))), 4) AS cosine_sim
           FROM embeddings e, q, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id)
         SELECT vec_id, cosine_sim FROM sims
         ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10""",

    "q46_array_funcs" ->
      """SELECT e.vec_id,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           round(CAST(e.embedding[1] AS DOUBLE), 4) AS first_el,
           round(sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))), 4) AS l2_norm,
           round(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)), 4) AS sum_el,
           round(max(abs(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))), 4) AS max_abs
         FROM embeddings e, generate_series(1, 64) AS g(i)
         GROUP BY e.vec_id, e.embedding ORDER BY e.vec_id""",

    // transitive closure via recursive CTE = the independent formulation
    // of the engine's alternating-star connected components
    "q77_dup_clusters" ->
      """WITH RECURSIVE ordered AS (
           SELECT doc_id, lang, n_chars,
                  lag(doc_id)  OVER w AS prev_id,
                  lag(n_chars) OVER w AS prev_chars
           FROM documents
           WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)),
         edges AS (
           SELECT prev_id AS src, doc_id AS dst FROM ordered
           WHERE prev_id IS NOT NULL AND n_chars - prev_chars <= 2),
         undirected AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         cc(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT u.dst, cc.comp FROM undirected u JOIN cc ON u.src = cc.id)
         SELECT id AS doc_id, min(comp) AS component FROM cc
         GROUP BY id ORDER BY doc_id""",

    "q78_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS raw,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) DESC, tf.term ASC) AS rk
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, round(raw, 6) AS tfidf FROM scored
         WHERE rk <= 5 AND doc_id < 50
         ORDER BY doc_id, tfidf DESC, term""",

    "q81_bigram_freq" ->
      """WITH toks AS (
           SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t FROM documents),
         grams AS (
           SELECT t[i] || ' ' || t[i+1] AS bigram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g)
         SELECT bigram, count(*) AS cnt FROM grams GROUP BY 1
         ORDER BY cnt DESC, bigram LIMIT 40""",

    "q86_pattern_stats" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\bs[a-z]*')) AS BIGINT) AS s_tokens,
           CAST(len(regexp_extract_all(text, 'ss')) AS BIGINT) AS double_s,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digits
         FROM documents ORDER BY doc_id""",

    "q82_repetition" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
           FROM documents),
         tok_counts AS (
           SELECT doc_id, unnest(t) AS tok FROM toks),
         tok_top AS (
           SELECT doc_id, max(c) AS max_tok, sum(c) AS n_tok
           FROM (SELECT doc_id, tok, count(*) AS c FROM tok_counts GROUP BY 1, 2)
           GROUP BY doc_id),
         grams AS (
           SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g),
         bg_top AS (
           SELECT doc_id, max(c) AS max_bg, sum(c) AS n_bg
           FROM (SELECT doc_id, bg, count(*) AS c FROM grams GROUP BY 1, 2)
           GROUP BY doc_id)
         SELECT d.doc_id,
           round(CAST(tok_top.max_tok AS DOUBLE) / tok_top.n_tok, 4) AS top_token_frac,
           round(CAST(bg_top.max_bg AS DOUBLE) / bg_top.n_bg, 4) AS top_bigram_frac
         FROM documents d
         LEFT JOIN tok_top ON d.doc_id = tok_top.doc_id
         LEFT JOIN bg_top ON d.doc_id = bg_top.doc_id
         ORDER BY d.doc_id""",

    // Same injected PII, same RE2-safe patterns, same order (emails before
    // phones before IPs); 'g' = replace every occurrence (Spark's default)
    "q95_pii_redact" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || doc_id || '@' || source || '.example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    // cuts: 1.0 -> 0x10000, 0.5 -> 0x08000, 0.25 -> 0x04000, 0.1 -> 0x01999
    "q96_source_mix" ->
      """SELECT doc_id, source FROM documents
         WHERE '0' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           CASE source WHEN 'src0' THEN '10000' WHEN 'src1' THEN '08000'
                       WHEN 'src2' THEN '04000' ELSE '01999' END
         ORDER BY doc_id""",

    // chunk ownership recomputed from TEXT (hash-free): row_number over the
    // chunk string equals the engine's sha2-keyed window exactly (collisions
    // aside); list_slice is inclusive-end, hence (i-1)*16+1 .. i*16
    "q97_chunk_dedup" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         ch AS (
           SELECT doc_id,
             unnest([{'cid': i - 1,
                      'chunk': array_to_string(list_slice(tk, (i-1)*16+1, i*16), ' ')}
                     for i in range(1, greatest(CAST(ceil(len(tk) / 16.0) AS INT), 1) + 1)]) AS c
           FROM tok),
         rk AS (
           SELECT doc_id, c.cid AS cid,
             row_number() OVER (PARTITION BY c.chunk ORDER BY doc_id, c.cid) AS rn
           FROM ch)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
         FROM rk GROUP BY doc_id ORDER BY doc_id""",

    // DuckDB's own nfc_normalize; suffixes rebuilt via chr() codepoints
    // (233 = U+00E9 composed, 769 = U+0301 combining acute) so neither
    // engine's source carries normalization-fragile literals
    "q98_nfc_dedup" ->
      """WITH corpus AS (
           SELECT doc_id,
             text || ' caf' || chr(233) || ' entr' || chr(233) || 'e' AS text
           FROM documents WHERE doc_id < 50
           UNION ALL
           SELECT doc_id + 1000000,
             text || ' cafe' || chr(769) || ' entre' || chr(769) || 'e' AS text
           FROM documents WHERE doc_id < 50
         )
         SELECT min(doc_id) AS kept_id, CAST(count(*) AS BIGINT) AS n_dups
         FROM corpus GROUP BY nfc_normalize(text)
         HAVING count(*) > 1 ORDER BY kept_id""",

    // quantile_cont = Spark's exact percentile (both R-7 linear
    // interpolation over the same rounded score grid)
    "q99_quality_gate" ->
      """WITH scored AS (
           SELECT doc_id,
             round(CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS DOUBLE)
               / len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 4) AS score
           FROM documents
         ),
         cut AS (SELECT quantile_cont(score, 0.1) AS c FROM scored)
         SELECT doc_id, score FROM scored, cut
         WHERE score >= c ORDER BY doc_id""",

    // squared L2 as a positional double sum (the q42 pattern); argmin via
    // row_number with the same (dist, cluster_id) tie order as the engine
    "q103_kmeans_assign" ->
      """WITH c AS (
           SELECT CAST(vec_id + 1 AS BIGINT) AS cluster_id, embedding AS centroid
           FROM embeddings WHERE vec_id < 8),
         d AS (
           SELECT e.vec_id, c.cluster_id,
             sum((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.centroid[CAST(i AS INT)] AS DOUBLE))
               * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.centroid[CAST(i AS INT)] AS DOUBLE))) AS d2
           FROM embeddings e, c, generate_series(1, 64) AS g(i)
           GROUP BY e.vec_id, c.cluster_id),
         best AS (
           SELECT vec_id, cluster_id, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster_id ASC) AS rn
           FROM d)
         SELECT vec_id, cluster_id, round(d2, 4) AS dist2
         FROM best WHERE rn = 1 ORDER BY vec_id""",

    // brute-force O(n²) reference over recomputed STRING shingles — the
    // engine's prefix-filtered join must find exactly these pairs; the
    // intersection/jaccard integers match up to 64-bit hash collisions
    "q107_setsim_join" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' zz zz' FROM documents WHERE doc_id < 20
         ),
         tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM corpus
         ),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(list_slice(tk, i, i+2), ' ')
                            for i in range(1, greatest(len(tk)-2,1)+1)]) AS s
           FROM tok
         ),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS intersection,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT id_a, id_b, intersection, round(j, 4) AS jaccard
         FROM pairs WHERE j >= 0.8 ORDER BY id_a, id_b""",

    "q109_shard_shuffle" ->
      """WITH k AS (
           SELECT doc_id,
             ('0x' || substr(md5('shuf' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS key
           FROM documents)
         SELECT doc_id, key % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos
         FROM k ORDER BY doc_id""",

    // same wrapper, same strip pipeline: tags → space, entities decoded in
    // the same order (&amp; LAST), whitespace collapsed, trimmed
    "q110_markup_strip" ->
      """WITH wrapped AS (
           SELECT doc_id,
             '<html><body class="c' || (doc_id % 7) || '"><h1>T&amp;C ' || doc_id
               || '</h1>' || chr(10) || '<p>' || text
               || '</p><br/>&nbsp;</body></html>' AS text
           FROM documents),
         stripped AS (
           SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean
           FROM wrapped)
         SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars_clean
         FROM stripped ORDER BY doc_id""",

    // sqrt/division are correctly-rounded IEEE ops → bit-identical rates
    // and cut points in both engines
    "q111_temperature_mix" ->
      """WITH c AS (
           SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
           FROM documents GROUP BY lang),
         r AS (
           SELECT lang, sqrt((SELECT min(cnt) FROM c) / cnt) AS rate FROM c)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN r USING (lang)
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(rate * 65536.0)
         ORDER BY d.doc_id""",

    "q112_postings" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 50),
         pos AS (
           SELECT doc_id,
             unnest([{'token': tk[i], 'p': CAST(i AS BIGINT)}
                     for i in range(1, len(tk) + 1)]) AS u
           FROM tok)
         SELECT u.token AS token, doc_id, CAST(count(*) AS BIGINT) AS tf,
           array_to_string(list_sort(list(u.p)), ',') AS positions
         FROM pos GROUP BY u.token, doc_id ORDER BY token, doc_id""",

    // same Robertson/Lucene form; (1.2 + 1.0) written as the same IEEE
    // addition the engine performs; ln + round(4) per the q73 precedent
    "q113_bm25" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         lens AS (SELECT doc_id, len(tk) AS dl FROM tok),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         pairs AS (SELECT doc_id, unnest(tk) AS token FROM tok),
         tfs AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM pairs WHERE token IN ('spark', 'window', 'merge')
                 GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tfs GROUP BY token),
         contrib AS (
           SELECT t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
           FROM tfs t JOIN dfs d USING (token) CROSS JOIN stats s
           JOIN lens l ON t.doc_id = l.doc_id),
         scored AS (SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id)
         SELECT l.doc_id, round(coalesce(s.score, 0.0), 4) AS bm25
         FROM lens l LEFT JOIN scored s USING (doc_id)
         ORDER BY bm25 DESC, doc_id ASC LIMIT 20""",

    // both rankings ordered by round(score, 4) DESC, id ASC — integer
    // ranks, so the fused 1/(60+rank) sums are bit-identical; each list
    // is pruned to its top 100 before fusion (rank <= 100 ≡ the engine's
    // orderBy().limit(100) candidate-list prune)
    "q114_hybrid_rrf" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         lens AS (SELECT doc_id, len(tk) AS dl FROM tok),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         pairs AS (SELECT doc_id, unnest(tk) AS token FROM tok),
         tfs AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM pairs WHERE token IN ('spark', 'window', 'merge')
                 GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tfs GROUP BY token),
         contrib AS (
           SELECT t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
           FROM tfs t JOIN dfs d USING (token) CROSS JOIN stats s
           JOIN lens l ON t.doc_id = l.doc_id),
         scored AS (SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id),
         lex AS (SELECT l.doc_id, coalesce(s.score, 0.0) AS score
                 FROM lens l LEFT JOIN scored s USING (doc_id)),
         lrank AS (SELECT * FROM (
                     SELECT doc_id,
                       row_number() OVER (ORDER BY round(score, 4) DESC, doc_id ASC) AS ra
                     FROM lex) WHERE ra <= 100),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         dense AS (
           SELECT e.vec_id AS doc_id,
             sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))
                  * sqrt(sum(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))) AS cos
           FROM embeddings e, q, generate_series(1, 64) AS g(i)
           GROUP BY e.vec_id),
         drank AS (SELECT * FROM (
                     SELECT doc_id,
                       row_number() OVER (ORDER BY round(cos, 4) DESC, doc_id ASC) AS rb
                     FROM dense) WHERE rb <= 100),
         fused AS (
           SELECT doc_id,
             coalesce(1.0 / (60 + l.ra), 0.0) + coalesce(1.0 / (60 + d.rb), 0.0) AS rrf
           FROM lrank l FULL JOIN drank d USING (doc_id))
         SELECT doc_id, round(rrf, 6) AS rrf FROM fused
         ORDER BY rrf DESC, doc_id ASC LIMIT 10""",

    // same add-one-smoothed model, same 9-decimal grid + DECIMAL sum
    "q116_bigram_xent" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, tk[i] AS prev, tk[i+1] AS cur
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
         cbg AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
         ctx AS (SELECT prev, sum(c) AS cp FROM cbg GROUP BY prev),
         v AS (SELECT count(DISTINCT u.t) AS v
               FROM (SELECT unnest(tk) AS t FROM toks) u)
         SELECT b.doc_id,
           round(CAST(sum(CAST(round(-ln(CAST(cbg.c + 1 AS DOUBLE) / (ctx.cp + (SELECT v FROM v))), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 4) AS xent,
           count(*) AS n_bigrams
         FROM bg b
         JOIN cbg ON b.prev = cbg.prev AND b.cur = cbg.cur
         JOIN ctx ON b.prev = ctx.prev
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    // brute-force containment over recomputed string shingles
    "q117_containment" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' zz zz' FROM documents WHERE doc_id < 20
         ),
         tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM corpus
         ),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(list_slice(tk, i, i+2), ' ')
                            for i in range(1, greatest(len(tk)-2,1)+1)]) AS s
           FROM tok
         ),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS intersection,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS cont
           FROM sh a JOIN sh b ON a.doc_id < 20 AND a.doc_id <> b.doc_id
         )
         SELECT id_a, id_b, intersection, round(cont, 4) AS containment
         FROM pairs WHERE cont >= 0.9 ORDER BY id_a, id_b""",

    // phrase occurrences straight off the token sequence: a start index i
    // matches iff tk[i]='table' and tk[i+1]='window' — definitionally the
    // same occurrences the engine derives from postings positions
    "q118_phrase_match" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
         WHERE tk[i] = 'table' AND tk[i+1] = 'window'
         GROUP BY doc_id ORDER BY doc_id""",

    // brute-force reference: every pair, exact levenshtein
    "q119_editdist_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""",

    // every (spark-position, merge-position) pair within the window
    "q120_proximity" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         pos AS (
           SELECT doc_id, tk[i] AS tkn, CAST(i AS BIGINT) AS p
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g)
         SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_close_pairs
         FROM pos a JOIN pos b
           ON a.doc_id = b.doc_id AND b.tkn = 'merge' AND abs(a.p - b.p) <= 5
         WHERE a.tkn = 'spark'
         GROUP BY a.doc_id ORDER BY a.doc_id""",

    // starts 0, 24, 48, … while < len; windows clamp at the doc end
    "q121_chunk" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 100),
         chunks AS (
           SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
             list_slice(tk, 1 + g.i * 24, g.i * 24 + 32) AS c
           FROM tok, LATERAL (SELECT unnest(generate_series(0, (len(tk) - 1) // 24)) AS i) g
           WHERE len(tk) > 0)
         SELECT doc_id, chunk_id, CAST(len(c) AS BIGINT) AS n_tokens,
           array_to_string(c, ' ') AS chunk_text
         FROM chunks ORDER BY doc_id, chunk_id""",

    // bigram multiset per doc; both signals are integer ratios
    "q122_repetition" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, len(tk) AS l,
             array_to_string(list_slice(tk, i, i + 1), ' ') AS gram
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) s
           WHERE len(tk) >= 2),
         c AS (SELECT doc_id, l, gram, count(*) AS cnt FROM g GROUP BY doc_id, l, gram)
         SELECT doc_id,
           round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 4) AS dup_ngram_frac,
           round(CAST(max(cnt) * 2 AS DOUBLE) / l, 4) AS top_ngram_frac
         FROM c GROUP BY doc_id, l ORDER BY doc_id""",

    // same tf·ln(N/df) weights; dot/norm terms on the 9-grid in DECIMAL
    "q123_tfidf_cosine" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         pairs AS (SELECT doc_id, unnest(tk) AS token FROM tok),
         tfs AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM pairs GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfs GROUP BY token),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
         w AS (SELECT doc_id, token, tf * ln(n.n / df) AS w
               FROM tfs JOIN dfs USING (token) CROSS JOIN n),
         q AS (SELECT token, w AS wq FROM w WHERE doc_id = 0),
         dots AS (
           SELECT w.doc_id, sum(CAST(round(w.w * q.wq, 9) AS DECIMAL(28,9))) AS dot
           FROM w JOIN q USING (token) WHERE w.doc_id <> 0 GROUP BY w.doc_id),
         norms AS (
           SELECT doc_id, sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS n2
           FROM w WHERE doc_id IN (SELECT doc_id FROM dots) GROUP BY doc_id),
         qn AS (SELECT sum(CAST(round(wq * wq, 9) AS DECIMAL(28,9))) AS qn2 FROM q)
         SELECT d.doc_id AS doc_id,
           round(CAST(d.dot AS DOUBLE) /
             (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))), 4) AS cosine
         FROM dots d JOIN norms m USING (doc_id) CROSS JOIN qn
         ORDER BY cosine DESC, doc_id ASC LIMIT 20""",

    // same λ-interpolated MLE mixture, same 9-grid DECIMAL accumulation
    "q124_trigram_xent" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         tg AS (
           SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g),
         c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY w1, w2, w3),
         c3x AS (SELECT w1, w2, sum(c3) AS c3x FROM c3 GROUP BY w1, w2),
         bg AS (
           SELECT tk[i] AS w2, tk[i+1] AS w3
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
         c2 AS (SELECT w2, w3, count(*) AS c2 FROM bg GROUP BY w2, w3),
         c2x AS (SELECT w2, sum(c2) AS c2x FROM c2 GROUP BY w2),
         c1 AS (SELECT u.t AS w3, count(*) AS c1
                FROM (SELECT unnest(tk) AS t FROM tok) u GROUP BY u.t),
         tt AS (SELECT count(*) AS t FROM (SELECT unnest(tk) AS t FROM tok) u),
         scored AS (
           SELECT g.doc_id AS doc_id,
             0.6 * (CAST(c3.c3 AS DOUBLE) / c3x.c3x) +
             0.3 * (CAST(c2.c2 AS DOUBLE) / c2x.c2x) +
             0.1 * (CAST(c1.c1 AS DOUBLE) / tt.t) AS p
           FROM tg g
           JOIN c3 USING (w1, w2, w3) JOIN c3x USING (w1, w2)
           JOIN c2 USING (w2, w3) JOIN c2x USING (w2)
           JOIN c1 USING (w3) CROSS JOIN tt)
         SELECT doc_id,
           round(CAST(sum(CAST(round(-ln(p), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 4) AS xent3,
           count(*) AS n_trigrams
         FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // float32 → double widening is exact in both engines; 9-grid DECIMAL
    // per-dim sums as in the engine's dimMeans
    "q125_group_centroid" ->
      """WITH e AS (
           SELECT vec_id % 4 AS grp, embedding FROM embeddings
           WHERE embedding IS NOT NULL)
         SELECT grp, CAST(i AS BIGINT) AS dim,
           round(CAST(sum(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS mean
         FROM e, generate_series(1, 64) AS g(i)
         GROUP BY grp, i ORDER BY grp, dim""",

    "q126_length_histogram" ->
      """WITH tok AS (
           SELECT source, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS l
           FROM documents)
         SELECT source, l // 8 AS bin, (l // 8) * 8 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM tok GROUP BY source, l // 8 ORDER BY source, bin""",

    // same double-widened factor order: (c·N) / (ca·cb)
    "q127_collocations" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         bg AS (
           SELECT tk[i] AS prev, tk[i+1] AS cur
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
         cbg AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
         ca AS (SELECT prev, sum(c) AS ca FROM cbg GROUP BY prev),
         cb AS (SELECT cur, sum(c) AS cb FROM cbg GROUP BY cur),
         tot AS (SELECT count(*) AS t FROM bg)
         SELECT b.prev AS prev, b.cur AS cur, CAST(b.c AS BIGINT) AS n,
           round(ln((CAST(b.c AS DOUBLE) * CAST(tot.t AS DOUBLE)) /
             (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE))), 4) AS pmi
         FROM cbg b JOIN ca USING (prev) JOIN cb USING (cur) CROSS JOIN tot
         WHERE b.c >= 5
         ORDER BY pmi DESC, prev, cur LIMIT 30""",

    "q115_negative_sample" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         a AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id < 100),
         js AS (SELECT unnest(range(0, 5)) AS j),
         draws AS (
           SELECT anchor_id, CAST(j AS BIGINT) AS j, n.n AS n,
             ('0x' || substr(md5('neg' || CAST(anchor_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 13))::BIGINT % n.n AS draw
           FROM a CROSS JOIN n CROSS JOIN js)
         SELECT anchor_id, j,
           CASE WHEN draw = anchor_id THEN (draw + 1) % n ELSE draw END AS neg_id
         FROM draws ORDER BY anchor_id, j""",

    // identical quantization formula (floor(x * 127/maxabs + 0.5) — all
    // correctly-rounded IEEE ops), integer-exact dot/norms, double only in
    // the final divide: bit-identical similarities by construction
    "q106_quantized_cosine" ->
      """WITH m AS (
           SELECT vec_id, max(abs(CAST(embedding[CAST(i AS INT)] AS DOUBLE))) AS mx
           FROM embeddings, generate_series(1, 64) AS g(i)
           GROUP BY vec_id),
         codes AS (
           SELECT e.vec_id, i,
             CAST(floor(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * (127.0 / m.mx) + 0.5) AS BIGINT) AS c
           FROM embeddings e JOIN m USING (vec_id), generate_series(1, 64) AS g(i)
           WHERE m.mx > 0),
         q AS (SELECT i, c AS qc FROM codes WHERE vec_id = 0),
         sims AS (
           SELECT codes.vec_id,
             CAST(sum(c * qc) AS DOUBLE)
               / nullif(sqrt(CAST(sum(c * c) AS DOUBLE)) * sqrt(CAST(sum(qc * qc) AS DOUBLE)), 0) AS s
           FROM codes JOIN q USING (i) WHERE codes.vec_id <> 0
           GROUP BY codes.vec_id)
         SELECT vec_id, round(s, 4) AS q_cosine FROM sims
         ORDER BY q_cosine DESC, vec_id ASC LIMIT 10""",

    // same Robertson/Lucene form per query; df is corpus document
    // frequency (query-independent); per-query rank on the rounded grid
    // per-position slice equality over a VALUES phrase table — the q118
    // walk for N phrases at once (incl. a one-term degenerate)
    "q220_phrase_batch" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         q AS (SELECT CAST(query_id AS BIGINT) AS query_id, terms, len(terms) AS nt
               FROM (VALUES (1, ['table', 'window']), (2, ['spark', 'merge']),
                            (3, ['row'])) t(query_id, terms)),
         pos AS (SELECT doc_id, tk, CAST(i AS BIGINT) AS i
                 FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g)
         SELECT q.query_id, pos.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM pos, q
         WHERE pos.i + q.nt - 1 <= len(pos.tk)
           AND pos.tk[pos.i : pos.i + q.nt - 1] = q.terms
         GROUP BY q.query_id, pos.doc_id ORDER BY q.query_id, pos.doc_id""",

    // the q143 recipe per (query, doc): list_position = first occurrence
    "q221_snippet_batch" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         q AS (SELECT CAST(query_id AS BIGINT) AS query_id, token
               FROM (VALUES (1, 'vector'), (2, 'table'), (3, 'stream')) t(query_id, token))
         SELECT q.query_id, tok.doc_id,
           CAST(list_position(tk, q.token) AS INT) AS first_pos,
           array_to_string(list_slice(tk,
             greatest(list_position(tk, q.token) - 2, 1),
             least(list_position(tk, q.token) + 2, len(tk))), ' ') AS snippet
         FROM tok, q WHERE list_contains(tk, q.token)
         ORDER BY q.query_id, tok.doc_id""",

    // the q156 banded vocab gate per needle, one postings join
    "q222_fuzzy_batch" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
           FROM documents),
         post AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM tok GROUP BY doc_id, token),
         q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
               FROM (VALUES (1, 'vektor'), (2, 'tabel'), (3, 'streem')) t(query_id, term)),
         v AS (SELECT q.query_id, p.token,
                 CAST(levenshtein(p.token, q.term) AS BIGINT) AS distance
               FROM (SELECT DISTINCT token FROM post) p, q
               WHERE abs(len(p.token) - len(q.term)) <= 1
                 AND levenshtein(p.token, q.term) <= 1)
         SELECT v.query_id, p.doc_id, p.token AS matched_token, v.distance, p.tf
         FROM post p JOIN v USING (token)
         ORDER BY v.query_id, p.doc_id, p.token""",

    // q81's tokenization; PMI ratio with pinned double association
    // (c12·Nu·Nu)/(Nb·c1·c2), one ln, rounded 6
    "q226_collocations" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
           FROM documents),
         flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM flat GROUP BY 1),
         tot AS (SELECT count(*) AS nu,
             count(*) - count(DISTINCT doc_id) AS nb FROM flat),
         grams AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g),
         pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM grams GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT w1 || ' ' || w2 AS bigram, c12 AS n_pair,
           u1.c AS n_left, u2.c AS n_right,
           round(ln(CAST(c12 AS DOUBLE) * nu * nu
             / (CAST(nb AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
         FROM pairs JOIN uni u1 ON u1.tok = w1
           JOIN uni u2 ON u2.tok = w2, tot
         ORDER BY pmi DESC, bigram LIMIT 40""",

    // the q41 element-wise dot arithmetic per (query, corpus) pair;
    // rank on the ROUNDED sim with id tie-break (both engines)
    "q228_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id % 20 = 0),
         sims AS (
           SELECT q.query_id, e.vec_id,
             round(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))
                  * sqrt(sum(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))), 4) AS cosine_sim
           FROM embeddings e, q, generate_series(1, 64) AS g(i)
           GROUP BY q.query_id, e.vec_id),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine_sim DESC, vec_id) AS rk FROM sims)
         SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rk <= 5
         ORDER BY query_id, cosine_sim DESC, vec_id""",

    "q128_bm25_batch" ->
      """WITH queries AS (
           SELECT CAST(query_id AS BIGINT) AS query_id, token
           FROM (VALUES (1, 'spark'), (1, 'window'), (2, 'merge'), (2, 'table'),
                        (3, 'join'), (3, 'hash'), (4, 'customer'), (4, 'vector'),
                        (5, 'stream'), (5, 'batch'), (5, 'query')) t(query_id, token)),
         tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         lens AS (SELECT doc_id, len(tk) AS dl FROM tok),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         pairs AS (SELECT doc_id, unnest(tk) AS token FROM tok),
         tfs AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM pairs WHERE token IN (SELECT DISTINCT token FROM queries)
                 GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tfs GROUP BY token),
         contrib AS (
           SELECT q.query_id, t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
           FROM tfs t JOIN dfs d USING (token) CROSS JOIN stats s
           JOIN lens l ON t.doc_id = l.doc_id
           JOIN queries q ON q.token = t.token),
         scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2),
         ranked AS (SELECT query_id, doc_id, score,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY round(score, 4) DESC, doc_id ASC) AS rk
                    FROM scored)
         SELECT query_id, doc_id, round(score, 4) AS bm25 FROM ranked WHERE rk <= 5
         ORDER BY query_id, bm25 DESC, doc_id""",

    // in-order position tuples a < b < c with total slack <= 4; the
    // partial-slack prefix gate is implied (slack is monotone)
    "q129_slop_phrase" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         pos AS (
           SELECT doc_id, tk[i] AS tkn, CAST(i AS BIGINT) AS p
           FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g)
         SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM pos a
         JOIN pos b ON a.doc_id = b.doc_id AND b.tkn = 'table'
           AND b.p > a.p AND b.p - a.p - 1 <= 4
         JOIN pos c ON b.doc_id = c.doc_id AND c.tkn = 'part'
           AND c.p > b.p AND c.p - a.p - 2 <= 4
         WHERE a.tkn = 'value'
         GROUP BY a.doc_id ORDER BY doc_id""",

    // the composed pipeline, stage for stage: q110's strip chain, q122's
    // bigram dup fraction, keep-lowest-id per content hash, q111's
    // sqrt-rate md5-bucket mix over the POST-dedup distribution
    "q130_curation" ->
      """WITH src AS (
           SELECT doc_id, lang, '<p>' || text || '</p>&nbsp;' AS text FROM documents
           UNION ALL
           SELECT doc_id + 2000000, lang, '<div>' || text || '</div>' AS text
           FROM documents WHERE doc_id < 100),
         clean AS (
           SELECT doc_id, lang,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean_text
           FROM src),
         tok AS (SELECT doc_id, lang, clean_text,
                   list_filter(string_split_regex(trim(clean_text), '\s+'), x -> x <> '') AS tk
                 FROM clean),
         lengated AS (SELECT * FROM tok WHERE len(tk) BETWEEN 30 AND 10000),
         g AS (SELECT doc_id, len(tk) AS l, array_to_string(list_slice(tk, i, i+1), ' ') AS gram
               FROM lengated, LATERAL (SELECT unnest(generate_series(1, len(tk)-1)) AS i) s),
         c AS (SELECT doc_id, l, gram, count(*) AS cnt FROM g GROUP BY doc_id, l, gram),
         rep AS (SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)/sum(cnt) AS dupfrac
                 FROM c GROUP BY doc_id, l),
         gated AS (SELECT t.* FROM lengated t JOIN rep USING (doc_id)
                   WHERE rep.dupfrac <= 0.05),
         hashed AS (SELECT *, sha256(clean_text) AS h FROM gated),
         exact AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                     FROM hashed) WHERE rn = 1),
         cc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM exact GROUP BY lang),
         r AS (SELECT lang, sqrt((SELECT min(cnt) FROM cc) / cnt) AS rate FROM cc)
         SELECT e.doc_id, e.lang, CAST(len(e.tk) AS BIGINT) AS n_tokens
         FROM exact e JOIN r USING (lang)
         WHERE ('0x' || substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(rate * 65536.0)
         ORDER BY e.doc_id""",

    // q123's weights and grid, batched: per-query dots, shared norms,
    // per-query rank on the rounded grid
    "q131_tfidf_batch" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         pairs AS (SELECT doc_id, unnest(tk) AS token FROM tok),
         tfs AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM pairs GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfs GROUP BY token),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
         w AS (SELECT doc_id, token, tf * ln(n.n / df) AS w
               FROM tfs JOIN dfs USING (token) CROSS JOIN n),
         q AS (SELECT doc_id AS query_id, token, w AS wq FROM w WHERE doc_id IN (0, 1, 2)),
         dots AS (
           SELECT q.query_id, w.doc_id, sum(CAST(round(w.w * q.wq, 9) AS DECIMAL(28,9))) AS dot
           FROM w JOIN q USING (token) WHERE w.doc_id <> q.query_id
           GROUP BY q.query_id, w.doc_id),
         norms AS (
           SELECT doc_id, sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS n2
           FROM w WHERE doc_id IN (SELECT DISTINCT doc_id FROM dots) GROUP BY doc_id),
         qn AS (SELECT query_id, sum(CAST(round(wq * wq, 9) AS DECIMAL(28,9))) AS qn2
                FROM q GROUP BY query_id),
         scored AS (
           SELECT d.query_id, d.doc_id,
             CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))) AS cosine
           FROM dots d JOIN norms m USING (doc_id) JOIN qn USING (query_id)),
         ranked AS (SELECT query_id, doc_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY round(cosine, 4) DESC, doc_id ASC) AS rk
                    FROM scored)
         SELECT query_id, doc_id, round(cosine, 4) AS cosine FROM ranked WHERE rk <= 10
         ORDER BY query_id, cosine DESC, doc_id""",

    // sqrt rates (IEEE-exact), floor + fractional md5-bucket cut, 0-based
    // epoch ordinals via generate_series — same copy counts, same order
    "q132_temperature_epochs" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY lang),
         r AS (SELECT lang, sqrt((SELECT max(cnt) FROM c) / cnt) AS rate FROM c),
         n AS (SELECT d.doc_id, d.lang, CAST(floor(r.rate) AS BIGINT) +
                 CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                      < floor((r.rate - floor(r.rate)) * 65536.0) THEN 1 ELSE 0 END AS n
               FROM documents d JOIN r USING (lang))
         SELECT doc_id, lang, CAST(g.i AS BIGINT) AS epoch
         FROM n, LATERAL (SELECT unnest(generate_series(0, CAST(n.n AS INT) - 1)) AS i) g
         WHERE n.n > 0
         ORDER BY doc_id, epoch""",

    // 3 unrolled power iterations, same 9-grid DECIMAL contribution sums;
    // this graph has no dangling nodes, so the engine's dangling term is
    // exactly 0 and the formulas coincide
    "q133_pagerank" ->
      """WITH e AS (
           SELECT doc_id AS src, (doc_id * doc_id + 1) % 500 AS dst FROM documents
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37) % 100 AS dst FROM documents),
         nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, round(1.0 / n.n, 9) AS r FROM nodes, n),
         c1 AS (SELECT e.dst, sum(CAST(round(r0.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r1 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c1.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c1 ON nodes.id = c1.dst, n),
         c2 AS (SELECT e.dst, sum(CAST(round(r1.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r2 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c2.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c2 ON nodes.id = c2.dst, n),
         c3 AS (SELECT e.dst, sum(CAST(round(r2.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r3 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c3.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c3 ON nodes.id = c3.dst, n)
         SELECT id, round(r, 6) AS pagerank FROM r3 ORDER BY id""",

    // 2 unrolled mutual-recursion rounds: authority from in-edge hub
    // sums, hub from out-edge authority sums, each L1-normalized on an
    // exact DECIMAL sum of 9-grid scores
    "q229_hits" ->
      """WITH e AS (
           SELECT doc_id AS src, (doc_id * doc_id + 1) % 500 AS dst FROM documents
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37) % 100 AS dst FROM documents),
         nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         h0 AS (SELECT id, 1.0 AS h FROM nodes),
         ar1 AS (SELECT e.dst AS id, sum(CAST(round(h0.h, 9) AS DECIMAL(28,9))) AS ar
                 FROM e JOIN h0 ON e.src = h0.id GROUP BY 1),
         an1 AS (SELECT sum(ar) AS an FROM ar1),
         a1 AS (SELECT nodes.id, round(coalesce(CAST(ar1.ar AS DOUBLE), 0.0) / CAST(an1.an AS DOUBLE), 9) AS a
                FROM nodes LEFT JOIN ar1 ON nodes.id = ar1.id, an1),
         hr1 AS (SELECT e.src AS id, sum(CAST(round(a1.a, 9) AS DECIMAL(28,9))) AS hr
                 FROM e JOIN a1 ON e.dst = a1.id GROUP BY 1),
         hn1 AS (SELECT sum(hr) AS hn FROM hr1),
         h1 AS (SELECT nodes.id, round(coalesce(CAST(hr1.hr AS DOUBLE), 0.0) / CAST(hn1.hn AS DOUBLE), 9) AS h
                FROM nodes LEFT JOIN hr1 ON nodes.id = hr1.id, hn1),
         ar2 AS (SELECT e.dst AS id, sum(CAST(round(h1.h, 9) AS DECIMAL(28,9))) AS ar
                 FROM e JOIN h1 ON e.src = h1.id GROUP BY 1),
         an2 AS (SELECT sum(ar) AS an FROM ar2),
         a2 AS (SELECT nodes.id, round(coalesce(CAST(ar2.ar AS DOUBLE), 0.0) / CAST(an2.an AS DOUBLE), 9) AS a
                FROM nodes LEFT JOIN ar2 ON nodes.id = ar2.id, an2),
         hr2 AS (SELECT e.src AS id, sum(CAST(round(a2.a, 9) AS DECIMAL(28,9))) AS hr
                 FROM e JOIN a2 ON e.dst = a2.id GROUP BY 1),
         hn2 AS (SELECT sum(hr) AS hn FROM hr2),
         h2 AS (SELECT nodes.id, round(coalesce(CAST(hr2.hr AS DOUBLE), 0.0) / CAST(hn2.hn AS DOUBLE), 9) AS h
                FROM nodes LEFT JOIN hr2 ON nodes.id = hr2.id, hn2)
         SELECT h2.id, round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
         FROM h2 JOIN a2 ON h2.id = a2.id ORDER BY h2.id""",

    // z-keyed self-join minus existing edges, 9-grid 1/ln(deg) sums
    "q178_link_predict" ->
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id*doc_id + 1) % 500 AS dst FROM documents
           UNION ALL
           SELECT doc_id, (doc_id*37) % 100 FROM documents),
         canon AS (
           SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
           FROM raw WHERE src <> dst),
         und AS (SELECT a AS z, b AS nbr FROM canon UNION ALL SELECT b, a FROM canon),
         deg AS (SELECT z AS id, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         nb AS (SELECT u.z, u.nbr FROM und u JOIN deg ON deg.id = u.z WHERE deg.deg <= 50),
         cand AS (
           SELECT x.nbr AS a, y.nbr AS b, x.z
           FROM nb x JOIN nb y ON x.z = y.z AND x.nbr < y.nbr),
         newp AS (
           SELECT c.a, c.b, c.z FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM canon e WHERE e.a = c.a AND e.b = c.b)),
         scored AS (
           SELECT a, b,
             round(CAST(sum(CAST(round(1.0/ln(CAST(deg.deg AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS aa_score,
             CAST(count(*) AS BIGINT) AS n_common
           FROM newp JOIN deg ON deg.id = newp.z GROUP BY a, b)
         SELECT a, b, aa_score, n_common FROM scored
         ORDER BY aa_score DESC, a ASC, b ASC LIMIT 20""",

    // bounded recursive walk (UNION dedups states); 60 > the true
    // 18-max shortest distance, so min(d) is exact
    "q186_shortest_paths" ->
      """WITH RECURSIVE e AS (
           SELECT n_nationkey AS src, (n_nationkey * 3 + 1) % 25 AS dst,
                  (n_nationkey % 5) + 1 AS w FROM nation
           UNION ALL
           SELECT n_nationkey, (n_nationkey + 7) % 25, (n_nationkey % 3) + 2 FROM nation),
         walk(node, d) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           UNION
           SELECT e.dst, w.d + e.w FROM walk w JOIN e ON e.src = w.node
           WHERE w.d + e.w < 60)
         SELECT node AS id, min(d) AS dist FROM walk GROUP BY node ORDER BY id""",

    // the one-pass aggregation the merged partials must equal
    "q187_agg_store" ->
      """WITH v AS (SELECT l_returnflag, l_linestatus,
                      round(CAST(l_quantity AS DECIMAL(28,9)), 9) AS v,
                      l_quantity
                    FROM lineitem)
         SELECT l_returnflag, l_linestatus,
           CAST(count(l_quantity) AS BIGINT) AS n,
           round(CAST(CAST(sum(v) AS DECIMAL(28,9)) AS DOUBLE), 4) AS total,
           round(CAST(CAST(sum(v) AS DECIMAL(28,9)) AS DOUBLE)
             / CAST(count(l_quantity) AS DOUBLE), 4) AS mean,
           round(CAST(min(v) AS DOUBLE), 4) AS vmin,
           round(CAST(max(v) AS DOUBLE), 4) AS vmax
         FROM v GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",

    // same split-and-prefix-sum construction: string_split parts carry
    // the inter-needle gaps; cumulative part lengths + (i-1)*|needle|
    // recover each occurrence's 0-based offset
    "q188_occurrences" ->
      """WITH sp AS (SELECT doc_id, string_split(text, 'data') AS parts
                     FROM documents),
         p AS (SELECT doc_id, unnest(parts) AS part,
                 unnest(range(1, len(parts) + 1)) AS i FROM sp),
         o AS (
           SELECT doc_id, CAST(i AS BIGINT) AS occ,
             CAST(sum(length(part)) OVER (PARTITION BY doc_id ORDER BY i)
               + (i - 1) * 4 AS BIGINT) AS off,
             count(*) OVER (PARTITION BY doc_id) AS total
           FROM p)
         SELECT doc_id, occ, off FROM o WHERE occ < total
         ORDER BY doc_id, occ""",

    // below the coupon-list threshold the HLL estimate is exact, so the
    // sketch-store answer equals a plain distinct count
    "q134_hll_store" ->
      """WITH tok AS (
           SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
           FROM documents)
         SELECT lang, CAST(count(DISTINCT token) AS BIGINT) AS distinct_estimate
         FROM tok GROUP BY lang ORDER BY lang""",

    // exact mode (k > group n): KLL INCLUSIVE ≡ percentile_disc, and
    // n/min/max ride the image exactly — count/min/max/quantile_disc
    "q139_quantile_store" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(min(n_chars) AS DOUBLE) AS min_v,
           CAST(max(n_chars) AS DOUBLE) AS max_v,
           CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) AS p90
         FROM documents GROUP BY lang ORDER BY lang""",

    // exact regime (vocab < purge threshold): estimates are counts
    "q141_heavy_hitters" ->
      """WITH tok AS (
           SELECT lang,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS item
           FROM documents
         ),
         cnt AS (SELECT lang, item, count(*) AS estimate FROM tok GROUP BY 1, 2),
         rk AS (SELECT lang, item, estimate,
                  row_number() OVER (PARTITION BY lang ORDER BY estimate DESC, item ASC) AS rank
                FROM cnt)
         SELECT lang, CAST(rank AS INT) AS rank, item, CAST(estimate AS BIGINT) AS estimate
         FROM rk WHERE rank <= 5 ORDER BY lang, rank""",

    // exact regime (entries < nominal k): estimates are counts
    "q142_theta_setops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'click' AND value > 150),
              p AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase' AND value > 150)
         SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
                CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
                CAST((SELECT count(*) FROM c WHERE user_id IN (SELECT user_id FROM p)) AS BIGINT) AS n_both,
                CAST((SELECT count(*) FROM c WHERE user_id NOT IN (SELECT user_id FROM p)) AS BIGINT) AS n_click_only""",

    // exact-mode store threshold == quantile_disc
    "q144_quantile_gate" ->
      """WITH thr AS (
           SELECT lang, CAST(quantile_disc(n_chars, 0.1) AS DOUBLE) AS p10
           FROM documents GROUP BY lang)
         SELECT d.lang, thr.p10, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.n_chars >= thr.p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM documents d JOIN thr USING (lang)
         GROUP BY d.lang, thr.p10 ORDER BY d.lang""",

    // char counts per doc, identical per-term double arithmetic on the
    // 9-grid DECIMAL accumulator
    "q152_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, substring(text, i, 1) AS c
           FROM documents, unnest(range(1, len(text) + 1)) AS t(i)),
         cnt AS (SELECT doc_id, c, count(*) AS nc FROM ch GROUP BY doc_id, c),
         tot AS (SELECT doc_id, CAST(sum(nc) AS DOUBLE) AS n FROM cnt GROUP BY doc_id),
         ent AS (
           SELECT c.doc_id,
             sum(CAST(round((c.nc / t.n) * ln(c.nc / t.n), 9) AS DECIMAL(28,9))) AS s
           FROM cnt c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
         SELECT d.doc_id, round(coalesce(-CAST(e.s AS DOUBLE), 0.0), 6) AS char_entropy
         FROM documents d LEFT JOIN ent e USING (doc_id) ORDER BY d.doc_id""",

    // same 9-grid DECIMAL moments and double arithmetic as the engine
    "q151_standardize" ->
      """WITH pairs AS (
           SELECT vec_id, i + 1 AS dim, CAST(embedding[i+1] AS DOUBLE) AS x
           FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
           WHERE embedding IS NOT NULL),
         stats AS (
           SELECT dim, count(*) AS n,
             sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS s,
             sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS ss
           FROM pairs GROUP BY dim),
         ms AS (
           SELECT dim, CAST(s AS DOUBLE) / n AS mean,
             sqrt(greatest(CAST(ss AS DOUBLE) / n
               - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std
           FROM stats)
         SELECT p.vec_id, CAST(p.dim AS BIGINT) AS dim,
           round(CASE WHEN m.std > 0 THEN (p.x - m.mean) / m.std ELSE 0.0 END, 6) AS z
         FROM pairs p JOIN ms m USING (dim)
         WHERE p.vec_id < 10
         ORDER BY p.vec_id, p.dim""",

    // q133's unrolled form with deg = sum(w) and contributions r·w/deg
    "q154_weighted_pagerank" ->
      """WITH e AS (
           SELECT doc_id AS src, (doc_id * doc_id + 1) % 500 AS dst,
             CAST(doc_id % 3 + 1 AS DOUBLE) AS w FROM documents
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37) % 100 AS dst,
             CAST(doc_id % 3 + 1 AS DOUBLE) AS w FROM documents),
         nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, round(1.0 / n.n, 9) AS r FROM nodes, n),
         c1 AS (SELECT e.dst, sum(CAST(round(r0.r * e.w / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r1 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c1.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c1 ON nodes.id = c1.dst, n),
         c2 AS (SELECT e.dst, sum(CAST(round(r1.r * e.w / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r2 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c2.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c2 ON nodes.id = c2.dst, n),
         c3 AS (SELECT e.dst, sum(CAST(round(r2.r * e.w / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r3 AS (SELECT nodes.id, round((1.0 - 0.85) / n.n + 0.85 * coalesce(CAST(c3.s AS DOUBLE), 0.0), 9) AS r
                FROM nodes LEFT JOIN c3 ON nodes.id = c3.dst, n)
         SELECT id, round(r, 6) AS pagerank FROM r3 ORDER BY id""",

    // 3 RWR iterations unrolled (the q133 pattern) with the teleport
    // vector t = 1/20 on seeds, 0 elsewhere; no dangling by construction
    "q145_ppr" ->
      """WITH e AS (
           SELECT doc_id AS src, (doc_id * doc_id + 1) % 500 AS dst FROM documents
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37) % 100 AS dst FROM documents),
         nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
         tele AS (SELECT id, CASE WHEN id % 25 = 0 THEN round(1.0/20.0, 9) ELSE 0.0 END AS t FROM nodes),
         r0 AS (SELECT id, t AS r FROM tele),
         c1 AS (SELECT e.dst, sum(CAST(round(r0.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r1 AS (SELECT tele.id, tele.t, round((1.0 - 0.85) * tele.t + 0.85 * coalesce(CAST(c1.s AS DOUBLE), 0.0), 9) AS r
                FROM tele LEFT JOIN c1 ON tele.id = c1.dst),
         c2 AS (SELECT e.dst, sum(CAST(round(r1.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r2 AS (SELECT tele.id, tele.t, round((1.0 - 0.85) * tele.t + 0.85 * coalesce(CAST(c2.s AS DOUBLE), 0.0), 9) AS r
                FROM tele LEFT JOIN c2 ON tele.id = c2.dst),
         c3 AS (SELECT e.dst, sum(CAST(round(r2.r / deg.deg, 9) AS DECIMAL(28,9))) AS s
                FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r3 AS (SELECT tele.id, round((1.0 - 0.85) * tele.t + 0.85 * coalesce(CAST(c3.s AS DOUBLE), 0.0), 9) AS r
                FROM tele LEFT JOIN c3 ON tele.id = c3.dst)
         SELECT id, round(r, 6) AS pagerank FROM r3 ORDER BY id""",

    // q130's oracle shape with the boilerplate stage prepended (raw
    // text, ' line ' delimiter, BEFORE the strip) and the q148 span
    // CTEs applied to the stripped text; rep gate neutral at 1.0 so
    // its CTEs drop out; mix = q130's sqrt-rate md5 cut
    "q149_curation_clean" ->
      """WITH bseg AS (
           SELECT doc_id, i AS line_no, trim(s[i+1]) AS norm
           FROM (SELECT doc_id, string_split(text, ' line ') AS s FROM documents),
                unnest(range(0, len(s))) AS t(i)),
         ne AS (SELECT * FROM bseg WHERE norm <> ''),
         boiler AS (SELECT norm FROM ne GROUP BY norm HAVING count(*) >= 3),
         breb AS (
           SELECT doc_id, string_agg(CASE WHEN norm NOT IN (SELECT norm FROM boiler) THEN norm END,
             chr(10) ORDER BY line_no) AS raw2
           FROM ne GROUP BY doc_id),
         raw3 AS (SELECT d.doc_id, d.lang, coalesce(r.raw2, '') AS raw2
                  FROM documents d LEFT JOIN breb r USING (doc_id)),
         clean AS (
           SELECT doc_id, lang,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(raw2, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
               '\s+', ' ', 'g')) AS ct
           FROM raw3),
         tok AS (SELECT doc_id, lang,
                   list_filter(string_split_regex(trim(ct), '\s+'), x -> x <> '') AS tk
                 FROM clean),
         win AS (
           SELECT doc_id, i AS start, array_to_string(list_slice(tk, i+1, i+8), ' ') AS g
           FROM tok, unnest(range(0, len(tk) - 8 + 1)) AS t(i) WHERE len(tk) >= 8),
         dup AS (SELECT g FROM win GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, start FROM win WHERE g IN (SELECT g FROM dup)),
         isl AS (
           SELECT doc_id, start,
             CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 8
                  THEN 0 ELSE 1 END AS brk
           FROM hits),
         grp AS (
           SELECT doc_id, start,
             sum(CASE WHEN brk IS NULL THEN 1 ELSE brk END)
               OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS gid
           FROM isl),
         spans AS (SELECT doc_id, min(start) AS s, max(start) + 8 AS e FROM grp GROUP BY doc_id, gid),
         tokpos AS (SELECT doc_id, i AS pos, tk[i+1] AS token FROM tok, unnest(range(0, len(tk))) AS t(i)),
         kept AS (
           SELECT p.* FROM tokpos p WHERE NOT EXISTS (
             SELECT 1 FROM spans s WHERE s.doc_id = p.doc_id AND p.pos >= s.s AND p.pos < s.e)),
         reb2 AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS ct2,
                    CAST(count(*) AS BIGINT) AS n
                  FROM kept GROUP BY doc_id),
         fin AS (SELECT t.doc_id, t.lang, coalesce(r.ct2, '') AS ct2, coalesce(r.n, 0) AS n
                 FROM tok t LEFT JOIN reb2 r USING (doc_id)),
         lengated AS (SELECT * FROM fin WHERE n BETWEEN 10 AND 10000),
         hashed AS (SELECT *, sha256(ct2) AS h FROM lengated),
         exact AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                     FROM hashed) WHERE rn = 1),
         cc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM exact GROUP BY lang),
         r AS (SELECT lang, sqrt((SELECT min(cnt) FROM cc) / cnt) AS rate FROM cc)
         SELECT e.doc_id, e.lang, e.n AS n_tokens
         FROM exact e JOIN r USING (lang)
         WHERE ('0x' || substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(rate * 65536.0)
         ORDER BY e.doc_id""",

    // q146's span CTEs + NOT EXISTS position reconstruction
    "q148_excise_spans" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         win AS (
           SELECT doc_id, i AS start, array_to_string(list_slice(tk, i+1, i+8), ' ') AS g
           FROM tok, unnest(range(0, len(tk) - 8 + 1)) AS t(i) WHERE len(tk) >= 8),
         dup AS (SELECT g FROM win GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, start FROM win WHERE g IN (SELECT g FROM dup)),
         isl AS (
           SELECT doc_id, start,
             CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 8
                  THEN 0 ELSE 1 END AS brk
           FROM hits),
         grp AS (
           SELECT doc_id, start,
             sum(CASE WHEN brk IS NULL THEN 1 ELSE brk END)
               OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS gid
           FROM isl),
         spans AS (
           SELECT doc_id, min(start) AS s, max(start) + 8 AS e
           FROM grp GROUP BY doc_id, gid),
         tokpos AS (
           SELECT doc_id, i AS pos, tk[i+1] AS token, len(tk) AS n
           FROM tok, unnest(range(0, len(tk))) AS t(i)),
         kept AS (
           SELECT p.* FROM tokpos p WHERE NOT EXISTS (
             SELECT 1 FROM spans s
             WHERE s.doc_id = p.doc_id AND p.pos >= s.s AND p.pos < s.e)),
         reb AS (
           SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM tok)
         SELECT l.doc_id, coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept,
           l.n - coalesce(r.n_kept, 0) AS n_dropped
         FROM lens l LEFT JOIN reb r ON l.doc_id = r.doc_id
         ORDER BY l.doc_id""",

    // literal split, trim, corpus count >= 3, ordered reassembly;
    // string_agg skips the NULLed (dropped) segments
    "q147_boilerplate" ->
      """WITH seg AS (
           SELECT doc_id, i AS line_no, trim(s[i+1]) AS norm
           FROM (SELECT doc_id, string_split(text, ' line ') AS s FROM documents),
                unnest(range(0, len(s))) AS t(i)),
         ne AS (SELECT * FROM seg WHERE norm <> ''),
         boiler AS (SELECT norm FROM ne GROUP BY norm HAVING count(*) >= 3),
         flagged AS (SELECT doc_id, line_no, norm,
                       norm IN (SELECT norm FROM boiler) AS dropd FROM ne),
         rebuilt AS (
           SELECT doc_id,
             string_agg(CASE WHEN NOT dropd THEN norm END, chr(10) ORDER BY line_no) AS clean_text,
             CAST(sum(CASE WHEN dropd THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
           FROM flagged GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept, coalesce(r.n_dropped, 0) AS n_dropped
         FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    // same tokenizer + windows; dup test on the k-gram string, islands
    // via lag + running sum (break when start gap > k)
    "q146_dup_spans" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         win AS (
           SELECT doc_id, i AS start, array_to_string(list_slice(tk, i+1, i+8), ' ') AS g
           FROM tok, unnest(range(0, len(tk) - 8 + 1)) AS t(i) WHERE len(tk) >= 8),
         dup AS (SELECT g FROM win GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, start FROM win WHERE g IN (SELECT g FROM dup)),
         isl AS (
           SELECT doc_id, start,
             CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) <= 8
                  THEN 0 ELSE 1 END AS brk
           FROM hits),
         grp AS (
           SELECT doc_id, start,
             sum(CASE WHEN brk IS NULL THEN 1 ELSE brk END)
               OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS gid
           FROM isl)
         SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(start) + 8 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_windows
         FROM grp GROUP BY doc_id, gid ORDER BY doc_id, span_start""",

    // canonical undirected edges, a<b<c triple join counts each
    // triangle once, 3-way corner explode for per-node counts
    "q150_triangles" ->
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id * doc_id + 1) % 500 AS dst FROM documents
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37) % 100 AS dst FROM documents),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
               FROM raw WHERE src <> dst),
         nbr AS (SELECT a AS id, b AS nb FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM nbr GROUP BY id),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pern AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
           SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
           GROUP BY id)
         SELECT d.id, coalesce(p.triangles, 0) AS triangles, d.degree,
           CASE WHEN d.degree >= 2
                THEN round(2.0 * coalesce(p.triangles, 0) / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering_coeff
         FROM deg d LEFT JOIN pern p USING (id) ORDER BY d.id""",

    // the q162 aggregation — the vocab table must serve identical rows
    "q173_vocab_complete" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
           FROM documents),
         post AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM tok GROUP BY doc_id, token)
         SELECT token, CAST(sum(tf) AS BIGINT) AS freq, CAST(count(*) AS BIGINT) AS df
         FROM post WHERE token LIKE 's%' GROUP BY token
         ORDER BY freq DESC, token ASC LIMIT 4""",

    // strip-and-diff lengths, exact integers
    "q172_charclass" ->
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_letters,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
           CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS BIGINT) AS n_space
         FROM documents ORDER BY doc_id""",

    // vocab-sized agg over the prefix-filtered postings, top-k
    "q162_autocomplete" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
           FROM documents),
         post AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM tok GROUP BY doc_id, token)
         SELECT token, CAST(sum(tf) AS BIGINT) AS freq, CAST(count(*) AS BIGINT) AS df
         FROM post WHERE token LIKE 's%' GROUP BY token
         ORDER BY freq DESC, token ASC LIMIT 4""",

    // identical moment arithmetic: 9-grid DECIMAL sums of x and x*y,
    // double divides, 6-grid output
    "q159_covariance" ->
      """WITH x AS (
           SELECT vec_id, CAST(i AS BIGINT) AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
           FROM embeddings, generate_series(1, 64) AS g(i)),
         s AS (SELECT dim, sum(CAST(round(v, 9) AS DECIMAL(28,9))) AS s, CAST(count(*) AS BIGINT) AS n
               FROM x GROUP BY dim),
         p AS (SELECT a.dim AS i, b.dim AS j, sum(CAST(round(a.v * b.v, 9) AS DECIMAL(28,9))) AS sp,
                      CAST(count(*) AS BIGINT) AS n
               FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.dim >= a.dim
               GROUP BY a.dim, b.dim)
         SELECT p.i, p.j,
           round(CAST(p.sp AS DOUBLE) / p.n
             - (CAST(si.s AS DOUBLE) / si.n) * (CAST(sj.s AS DOUBLE) / sj.n), 6) + 0.0 AS cov
         FROM p JOIN s si ON si.dim = p.i JOIN s sj ON sj.dim = p.j
         ORDER BY p.i, p.j""",

    // the q159 covariance CTEs + 3 unrolled normalize(C·v) steps, all
    // sums on the 9-grid in DECIMAL; MATERIALIZED pins each step to one
    // evaluation
    "q164_power_iteration" ->
      """WITH x AS MATERIALIZED (
           SELECT vec_id, CAST(i AS BIGINT) AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
           FROM embeddings, generate_series(1, 64) AS g(i)),
         s AS MATERIALIZED (SELECT dim, sum(CAST(round(v, 9) AS DECIMAL(28,9))) AS s, CAST(count(*) AS BIGINT) AS n
               FROM x GROUP BY dim),
         p AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j, sum(CAST(round(a.v * b.v, 9) AS DECIMAL(28,9))) AS sp,
                      CAST(count(*) AS BIGINT) AS n
               FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.dim >= a.dim
               GROUP BY a.dim, b.dim),
         cv AS MATERIALIZED (
           SELECT p.i, p.j,
             round(CAST(p.sp AS DOUBLE) / p.n
               - (CAST(si.s AS DOUBLE) / si.n) * (CAST(sj.s AS DOUBLE) / sj.n), 6) AS c
           FROM p JOIN s si ON si.dim = p.i JOIN s sj ON sj.dim = p.j),
         m AS MATERIALIZED (
           SELECT i, j, c FROM cv
           UNION ALL SELECT j, i, c FROM cv WHERE i <> j),
         v0 AS MATERIALIZED (
           SELECT DISTINCT i AS dim, round(1.0 / sqrt(64.0), 9) AS v FROM m),
         y1 AS MATERIALIZED (
           SELECT m.i AS dim, sum(CAST(round(m.c * v0.v, 9) AS DECIMAL(28,9))) AS y
           FROM m JOIN v0 ON m.j = v0.dim GROUP BY m.i),
         n1 AS MATERIALIZED (
           SELECT sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(28,9))) AS n2 FROM y1),
         v1 AS MATERIALIZED (
           SELECT y1.dim,
             CASE WHEN CAST(n1.n2 AS DOUBLE) > 0
                  THEN round(CAST(y1.y AS DOUBLE) / sqrt(CAST(n1.n2 AS DOUBLE)), 9)
                  ELSE 0.0 END AS v
           FROM y1, n1),
         y2 AS MATERIALIZED (
           SELECT m.i AS dim, sum(CAST(round(m.c * v1.v, 9) AS DECIMAL(28,9))) AS y
           FROM m JOIN v1 ON m.j = v1.dim GROUP BY m.i),
         n2_ AS MATERIALIZED (
           SELECT sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(28,9))) AS n2 FROM y2),
         v2 AS MATERIALIZED (
           SELECT y2.dim,
             CASE WHEN CAST(n2_.n2 AS DOUBLE) > 0
                  THEN round(CAST(y2.y AS DOUBLE) / sqrt(CAST(n2_.n2 AS DOUBLE)), 9)
                  ELSE 0.0 END AS v
           FROM y2, n2_),
         y3 AS MATERIALIZED (
           SELECT m.i AS dim, sum(CAST(round(m.c * v2.v, 9) AS DECIMAL(28,9))) AS y
           FROM m JOIN v2 ON m.j = v2.dim GROUP BY m.i),
         n3 AS MATERIALIZED (
           SELECT sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(28,9))) AS n2 FROM y3),
         v3 AS MATERIALIZED (
           SELECT y3.dim,
             CASE WHEN CAST(n3.n2 AS DOUBLE) > 0
                  THEN round(CAST(y3.y AS DOUBLE) / sqrt(CAST(n3.n2 AS DOUBLE)), 9)
                  ELSE 0.0 END AS v
           FROM y3, n3)
         SELECT dim, round(v, 6) AS loading FROM v3 ORDER BY dim""",

    // recursive-CTE BFS: min dist per reached node (UNION-dedup bounds
    // the (id, dist) pair space; min collapses path multiplicity)
    "q157_bfs_hops" ->
      """WITH RECURSIVE raw AS (
           SELECT doc_id AS src, (doc_id*doc_id+1)%500 AS dst FROM documents
           UNION ALL SELECT doc_id, (doc_id*37)%100 FROM documents),
         reach(id, dist) AS (
           SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
           UNION
           SELECT r.dst, reach.dist + 1 FROM reach JOIN raw r ON r.src = reach.id
           WHERE reach.dist < 20)
         SELECT id, min(dist) AS dist FROM reach GROUP BY id ORDER BY id""",

    // unrolled peel (6 rounds >= the graph's 4-round cascade; extra
    // peels are no-ops at fixpoint). MATERIALIZED pins each round to
    // one evaluation — the un-hinted CTE chain inlines 3 references
    // per level and goes exponential.
    "q158_kcore" ->
      """WITH raw AS MATERIALIZED (
           SELECT doc_id AS src, (doc_id*doc_id+1)%500 AS dst FROM documents
           UNION ALL SELECT doc_id, (doc_id*37)%100 FROM documents),
         e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw WHERE src <> dst),
         k1 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY id HAVING count(*) >= 3),
         e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT id FROM k1) AND b IN (SELECT id FROM k1)),
         k2 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id HAVING count(*) >= 3),
         e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT id FROM k2) AND b IN (SELECT id FROM k2)),
         k3 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id HAVING count(*) >= 3),
         e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT id FROM k3) AND b IN (SELECT id FROM k3)),
         k4 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id HAVING count(*) >= 3),
         e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT id FROM k4) AND b IN (SELECT id FROM k4)),
         k5 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4) GROUP BY id HAVING count(*) >= 3),
         e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT id FROM k5) AND b IN (SELECT id FROM k5)),
         k6 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e5 UNION ALL SELECT b FROM e5) GROUP BY id HAVING count(*) >= 3),
         e6 AS MATERIALIZED (SELECT a, b FROM e5 WHERE a IN (SELECT id FROM k6) AND b IN (SELECT id FROM k6))
         SELECT id, CAST(count(*) AS BIGINT) AS degree
         FROM (SELECT a AS id FROM e6 UNION ALL SELECT b FROM e6)
         GROUP BY id ORDER BY id""",

    // same banded-distance gate over the distinct vocab, then a
    // postings join
    "q156_fuzzy_query" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
           FROM documents),
         post AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM tok GROUP BY doc_id, token),
         v AS (SELECT DISTINCT token,
                 CAST(levenshtein(token, 'vektor') AS BIGINT) AS distance
               FROM post
               WHERE abs(len(token) - 6) <= 1 AND levenshtein(token, 'vektor') <= 1)
         SELECT p.doc_id, p.token AS matched_token, v.distance, p.tf
         FROM post p JOIN v USING (token)
         ORDER BY p.doc_id, p.token""",

    // list_contains conjunctions; n_should = matched optional terms
    "q155_boolean_query" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents)
         SELECT doc_id,
           CAST((CASE WHEN list_contains(tk, 'table') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(tk, 'query') THEN 1 ELSE 0 END) AS BIGINT) AS n_should
         FROM tok
         WHERE list_contains(tk, 'vector') AND NOT list_contains(tk, 'slow')
         ORDER BY doc_id""",

    // same tokenizer recipe; list_position = first occurrence (1-based)
    "q143_snippet" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
           FROM documents)
         SELECT doc_id,
           CAST(list_position(tk, 'vector') AS INT) AS first_pos,
           array_to_string(list_slice(tk,
             greatest(list_position(tk, 'vector') - 2, 1),
             least(list_position(tk, 'vector') + 2, len(tk))), ' ') AS snippet
         FROM tok WHERE list_contains(tk, 'vector') ORDER BY doc_id""",

    // the bloom path is exact end-to-end: plain anti-join reference
    "q135_bloom_decontaminate" ->
      """WITH ref AS (
           SELECT sha256(text) AS h FROM documents WHERE doc_id % 20 = 0)
         SELECT d.doc_id FROM documents d
         WHERE sha256(d.text) NOT IN (SELECT h FROM ref)
         ORDER BY d.doc_id""",

    // 3 synchronous LPA rounds unrolled (the q133 pattern): per round,
    // neighbor-label counts then argmax via (cnt DESC, label ASC)
    "q138_label_propagation" ->
      """WITH d AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT doc_id AS src, ((doc_id * doc_id + 1) % 500 + 500) % 500 AS dst FROM d
           UNION ALL
           SELECT doc_id AS src, (doc_id * 37 % 100 + 100) % 100 AS dst FROM d),
         canon AS (
           SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS t
           FROM raw WHERE src <> dst),
         e AS (SELECT s AS src, t AS dst FROM canon
               UNION ALL SELECT t AS src, s AS dst FROM canon),
         n AS (SELECT DISTINCT src AS id FROM e),
         l0 AS (SELECT id, id AS label FROM n),
         v1 AS (SELECT e.src AS v, l.label AS lbl, count(*) AS cnt
                FROM e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         b1 AS (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rk
                  FROM v1) WHERE rk = 1),
         l1 AS (SELECT l0.id, coalesce(b1.lbl, l0.label) AS label
                FROM l0 LEFT JOIN b1 ON l0.id = b1.v),
         v2 AS (SELECT e.src AS v, l.label AS lbl, count(*) AS cnt
                FROM e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         b2 AS (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rk
                  FROM v2) WHERE rk = 1),
         l2 AS (SELECT l1.id, coalesce(b2.lbl, l1.label) AS label
                FROM l1 LEFT JOIN b2 ON l1.id = b2.v),
         v3 AS (SELECT e.src AS v, l.label AS lbl, count(*) AS cnt
                FROM e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         b3 AS (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rk
                  FROM v3) WHERE rk = 1),
         l3 AS (SELECT l2.id, coalesce(b3.lbl, l2.label) AS label
                FROM l2 LEFT JOIN b3 ON l2.id = b3.v)
         SELECT id, label FROM l3 ORDER BY id""",

    // the 5 greedy MMR stages unrolled (the q133 fixed-iteration
    // pattern): each stage argmaxes round(0.5*rel - 0.5*maxsim, 4) with
    // vec_id ASC tie-break over the not-yet-selected top-20 candidates
    "q137_mmr_rerank" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         rels AS (
           SELECT e.vec_id,
             round(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE))
               / (sqrt(sum(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))
                  * sqrt(sum(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))), 4) AS rel
           FROM embeddings e, q, generate_series(1, 64) AS g(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id),
         cand AS (SELECT vec_id, rel FROM rels ORDER BY rel DESC, vec_id ASC LIMIT 20),
         ce AS (SELECT c.vec_id, e.embedding FROM cand c JOIN embeddings e USING (vec_id)),
         ps AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(sum(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
               / (sqrt(sum(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)))
                  * sqrt(sum(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))), 4) AS s
           FROM ce a, ce b, generate_series(1, 64) AS g(i)
           WHERE a.vec_id <> b.vec_id
           GROUP BY a.vec_id, b.vec_id),
         st1 AS (SELECT vec_id, round(0.5 * rel, 4) AS score FROM cand
                 ORDER BY round(0.5 * rel, 4) DESC, vec_id ASC LIMIT 1),
         sel1 AS (SELECT vec_id, 1 AS rank, score FROM st1),
         st2 AS (
           SELECT c.vec_id, round(0.5 * c.rel - (1 - 0.5) * coalesce(p.m, 0), 4) AS score
           FROM cand c LEFT JOIN (SELECT ia AS vec_id, max(s) AS m FROM ps
                                  JOIN sel1 ON ps.ib = sel1.vec_id GROUP BY ia) p USING (vec_id)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
           ORDER BY score DESC, c.vec_id ASC LIMIT 1),
         sel2 AS (SELECT * FROM sel1 UNION ALL SELECT vec_id, 2 AS rank, score FROM st2),
         st3 AS (
           SELECT c.vec_id, round(0.5 * c.rel - (1 - 0.5) * coalesce(p.m, 0), 4) AS score
           FROM cand c LEFT JOIN (SELECT ia AS vec_id, max(s) AS m FROM ps
                                  JOIN sel2 ON ps.ib = sel2.vec_id GROUP BY ia) p USING (vec_id)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
           ORDER BY score DESC, c.vec_id ASC LIMIT 1),
         sel3 AS (SELECT * FROM sel2 UNION ALL SELECT vec_id, 3 AS rank, score FROM st3),
         st4 AS (
           SELECT c.vec_id, round(0.5 * c.rel - (1 - 0.5) * coalesce(p.m, 0), 4) AS score
           FROM cand c LEFT JOIN (SELECT ia AS vec_id, max(s) AS m FROM ps
                                  JOIN sel3 ON ps.ib = sel3.vec_id GROUP BY ia) p USING (vec_id)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
           ORDER BY score DESC, c.vec_id ASC LIMIT 1),
         sel4 AS (SELECT * FROM sel3 UNION ALL SELECT vec_id, 4 AS rank, score FROM st4),
         st5 AS (
           SELECT c.vec_id, round(0.5 * c.rel - (1 - 0.5) * coalesce(p.m, 0), 4) AS score
           FROM cand c LEFT JOIN (SELECT ia AS vec_id, max(s) AS m FROM ps
                                  JOIN sel4 ON ps.ib = sel4.vec_id GROUP BY ia) p USING (vec_id)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
           ORDER BY score DESC, c.vec_id ASC LIMIT 1),
         sel5 AS (SELECT * FROM sel4 UNION ALL SELECT vec_id, 5 AS rank, score FROM st5)
         SELECT CAST(rank AS INT) AS rank, vec_id, score AS mmr_score
         FROM sel5 ORDER BY rank""",

    // same constructed JSON, DuckDB's json path extraction
    "q136_variant" ->
      """WITH j AS (
           SELECT doc_id,
             '{"meta": {"lang": "' || lang || '", "n": ' || n_chars ||
             '}, "tags": ["' || source || '", "x"], "score": ' || (doc_id % 7) || '}' AS js
           FROM documents)
         SELECT doc_id,
           json_extract_string(js, '$.meta.lang') AS vlang,
           CAST(json_extract(js, '$.meta.n') AS BIGINT) AS vn,
           json_extract_string(js, '$.tags[0]') AS tag0,
           CAST(json_extract(js, '$.score') AS BIGINT) AS score
         FROM j WHERE CAST(json_extract(js, '$.score') AS BIGINT) >= 3
         ORDER BY doc_id""")
}
