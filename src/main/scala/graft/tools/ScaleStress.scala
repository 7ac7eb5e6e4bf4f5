package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Scale-stress harness: synthesize an N× corpus from a base testdata dir
  * by deterministic replication + id remapping, then measure catalog
  * queries at 1× and N× to expose superlinear scaling constants that plan
  * inspection can't show (candidate-pair volume in similarity joins,
  * per-round scheduling in iterative graph ops, groups×B explosion in
  * resampling).
  *
  * {{{
  * runMain graft.tools.ScaleStress gen /root/testdata/sf0.1 /tmp/scale10x 10
  * runMain graft.tools.ScaleStress run q243_bootstrap_ci,q274_jw_join \
  *   /root/testdata/sf0.1 /tmp/scale10x 10 2
  * }}}
  *
  * Replication contract (keeps each table realistic at N×, the way a
  * larger TPC-H scale factor would look, rather than N exact copies):
  *   - every key column is remapped `key' = rep * (max(key)+1) + key`, so
  *     the N× corpus has N× distinct entities and foreign keys stay
  *     aligned — each FK remaps with its PARENT's stride (l_orderkey/
  *     o_orderkey with the orders stride, o_custkey with the customer
  *     stride, l_suppkey with the supplier stride; l_partkey is verbatim
  *     because part is a verbatim dim), so every replica's children
  *     reference that replica's parents;
  *   - TPC-H-style names are regenerated from the remapped key
  *     (`Customer#%09d`), so name-similarity joins see N× distinct
  *     name-like strings, not N-way exact duplicates;
  *   - document text gets a per-replica marker token prefix — replicas are
  *     near-duplicates (realistic for dedup workloads) but not identical;
  *   - embeddings rotate by `rep` positions (norm-preserving, distinct);
  *   - dimension tables (region, nation, part) copy verbatim: at any real
  *     scale factor the dims stay broadcast-sized.
  */
object ScaleStress {

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: base :: out :: factor :: Nil =>
      val spark = session()
      gen(spark, base, out, factor.toInt)
      spark.stop()
    case "run" :: names :: dir1 :: dirN :: factor :: rest =>
      val reps = rest.headOption.map(_.toInt).getOrElse(2)
      val spark = session()
      run(spark, names.split(",").toSeq, dir1, dirN, factor.toInt, reps)
      spark.stop()
    // Output-volume check: a join whose TRUE result grows superlinearly
    // (sequential zero-padded names make single-digit-substitution pairs
    // grow ~ n·log10 n) sets the honest lower bound for its wall-clock
    // exponent — count result rows at each scale to separate
    // output-bound growth from candidate-fan-out waste.
    case "count" :: names :: dirs =>
      val spark = session()
      for (n <- names.split(",").toSeq; d <- dirs)
        println(s"[count] $n @$d: " +
          graft.SparkEntry.queries(n)(spark, d).count())
      spark.stop()
    // q191-shaped retrieval probe: time bestMatchCandidates at a given
    // gramLen — the posting-list sizing knob. gramLen=2 on digit-heavy
    // names saturates the gram vocabulary (~100 digit bigrams), so df
    // grows linearly with the corpus and the probe fan-out quadratically;
    // longer grams grow the vocabulary and restore near-linear df.
    case "jw191" :: dir :: gramLen :: rest =>
      val reps = rest.headOption.map(_.toInt).getOrElse(2)
      val spark = session()
      import org.apache.spark.sql.functions.col
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        val cnt = graft.operators.JwJoin.bestMatchCandidates(
          spark.read.parquet(s"$dir/customer.parquet").select(col("c_name")),
          "c_name", "c_name",
          spark.read.parquet(s"$dir/supplier.parquet").select(col("s_name")),
          "s_name", "s_name", gramLen = gramLen.toInt).count()
        println(f"[jw191] gramLen=$gramLen @$dir rep $r: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt pairs)")
      }
      spark.stop()
    // Does the gramLen knob cost recall? Compare the per-customer argmax
    // (the q191 result shape) between two gramLens. LEFT-join from the
    // full customer set: a customer with zero retrieved candidates at
    // either gramLen counts as a disagreement (those are exactly the
    // likeliest recall losses — silently inner-joining them away
    // overstated the r15 figures, ADVICE r15 #2).
    case "jw191cmp" :: dir :: g1 :: g2 :: Nil =>
      val spark = session()
      import org.apache.spark.sql.functions._
      def best(g: Int) = graft.operators.JwJoin.bestMatchCandidates(
          spark.read.parquet(s"$dir/customer.parquet").select(col("c_name")),
          "c_name", "c_name",
          spark.read.parquet(s"$dir/supplier.parquet").select(col("s_name")),
          "s_name", "s_name", gramLen = g)
        .groupBy(col("id_a"))
        .agg(max(struct(col("jw"), col("id_b"))).as("b"))
        .select(col("id_a"), col("b.jw").as("jw"))
      val base = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_name").as("id_a")).distinct()
      val j = base
        .join(best(g1.toInt).withColumnRenamed("jw", "jw1"), Seq("id_a"), "left")
        .join(best(g2.toInt).withColumnRenamed("jw", "jw2"), Seq("id_a"), "left")
      val n = j.count()
      val agree = j.filter(col("jw1") === col("jw2")).count()
      println(s"[jw191cmp] $dir gramLen $g1 vs $g2: $agree / $n same-score argmax")
      spark.stop()
    // Stage diagnosis for a measured best-match exponent: at each dir,
    // count the rep-grain proxy-score table (retrieval fan-out), then
    // time the asymmetric and symmetric candidate cuts over the SAME
    // retrieval — separates "the fan-out grew superlinearly" from "the
    // symmetric cut/checkpoint machinery is the cost". `topM` is the
    // cut width the two cut probes measure (0 = unbounded, the shipped
    // default, where both probes take the no-cut path and time the
    // same pipeline — pass a finite topM to isolate cut/checkpoint
    // machinery cost).
    // both numeric args guarded: a legacy `jwdiag <gramLen> <dir1> <dir2>`
    // invocation would otherwise bind topM to a dir path and throw a raw
    // NumberFormatException (silently dropping dir1) instead of printing
    // usage (ADVICE r17)
    case "jwdiag" :: gramLen :: topM :: dirs
        if dirs.nonEmpty && gramLen.toIntOption.isDefined &&
          topM.toIntOption.isDefined =>
      val tm = if (topM.toInt == 0) Int.MaxValue else topM.toInt
      val spark = session()
      import org.apache.spark.sql.functions.col
      for (d <- dirs) {
        def cust = spark.read.parquet(s"$d/customer.parquet")
          .select(col("c_name"))
        def supp = spark.read.parquet(s"$d/supplier.parquet")
          .select(col("s_name"))
        def timed(label: String)(body: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = body
          println(f"[jwdiag] $d gramLen=$gramLen topM=$topM $label: $n rows, " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        timed("scores volume")(graft.operators.JwJoin.scoredRepsProbe(
          cust, "c_name", "c_name", supp, "s_name", "s_name",
          gramLen = gramLen.toInt).count())
        timed("asymmetric cut")(graft.operators.JwJoin.bestMatchCandidates(
          cust, "c_name", "c_name", supp, "s_name", "s_name",
          topM = tm, gramLen = gramLen.toInt).count())
        timed("symmetric cut")(graft.operators.JwJoin.bestMatchCandidates(
          cust, "c_name", "c_name", supp, "s_name", "s_name",
          topM = tm, gramLen = gramLen.toInt, symmetric = true).count())
      }
      spark.stop()
    // Recall vs TRUTH: the bestMatch argmax at a given gramLen (0 =
    // auto) / topM / probeGrams against the brute-force all-pairs
    // argmax (the q191 oracle shape, customer×supplier names).
    // Missing left rows count as misses. Reports exact-tuple agreement
    // (partner AND score under the (−jw, name, id) tie-break) and
    // score-level recall (emitted jw == true max jw).
    // [sampleMod] > 1 computes truth AND bestMatch over a deterministic
    // 1/sampleMod hash-sample of the LEFT side only (the right corpus,
    // the df statistics, the auto-gramLen probe and the per-left-row
    // valves are all unchanged — recall is a per-left-row property, so
    // the sampled estimate is unbiased). This is what makes the truth
    // side affordable at 100x, where the full |L|x|R| brute-force
    // argmax is ~150B JW pairs.
    case "jwrecall" :: dir :: g :: rest =>
      val topM = rest.headOption.map(_.toInt).getOrElse(Int.MaxValue)
      val probe = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
      // 0 = the shipped auto-budget (max(512, 8·√|right reps|))
      val budget = rest.drop(2).headOption.map(_.toLong).getOrElse(0L)
      val sampleMod = rest.drop(3).headOption.map(_.toLong).getOrElse(1L)
      val spark = session()
      import org.apache.spark.sql.functions._
      val custAll = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val cust = Materialize(if (sampleMod > 1L)
          custAll.filter(pmod(xxhash64(col("id")), lit(sampleMod)) === 0)
        else custAll, eager = true)
      val supp = spark.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val truth = cust.crossJoin(broadcast(
          supp.select(col("id").as("rid"), col("name").as("rname"))))
        .select(col("id"),
          graft.plans.JaroWinkler.jaroWinkler(col("name"), col("rname"))
            .as("jw"), col("rname"), col("rid"))
        .groupBy(col("id"))
        .agg(min(struct(negate(col("jw")), col("rname"), col("rid"),
          col("jw"))).as("m"))
        .select(col("id"), col("m.rid").as("true_id"),
          col("m.jw").as("true_jw"))
      val t0 = System.nanoTime()
      val got = graft.operators.JwJoin.bestMatch(cust, "id", "name",
          supp, "id", "name", topM = topM, gramLen = g.toInt,
          probeGrams = probe, probeDfBudget = budget)
        .select(col("id_a").as("id"), col("id_b").as("got_id"),
          col("jw").as("got_jw"))
      val j = Materialize(truth.join(got, Seq("id"), "left"), eager = true)
      val wall = (System.nanoTime() - t0) / 1e9
      // chosen gramLen AND resolved budget are auditable from the
      // lineage alias (round-18: the alias carries both)
      val planStr = got.queryExecution.analyzed.toString
      val chosen = "__jw_gramlen_(\\d+)".r
        .findFirstMatchIn(planStr).map(_.group(1)).getOrElse("?")
      val resolved = "__budget_(\\d+)".r
        .findFirstMatchIn(planStr).map(_.group(1)).getOrElse("?")
      val n = j.count()
      val exact = j.filter(col("got_id") === col("true_id") &&
        col("got_jw") === col("true_jw")).count()
      val score = j.filter(col("got_jw") === col("true_jw")).count()
      println(f"[jwrecall] $dir gramLen=$g(chosen $chosen%s) topM=$topM " +
        f"probeGrams=$probe budget=$budget(resolved $resolved%s) " +
        f"sampleMod=$sampleMod: " +
        f"exact $exact/$n (${exact.toDouble / n}%.4f)  " +
        f"score $score/$n (${score.toDouble / n}%.4f)  wall $wall%.1f s")
      spark.stop()
    // The full-auto resolution a default bestMatch would compute on the
    // dir's supplier reps: per-length live vocab, saturation ratio
    // rho = |right reps| / vocab(chosen), and the resolved budget —
    // the inputs of the round-18 transition-aware boost rule.
    case "jwvocab" :: dirs if dirs.nonEmpty =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      for (d <- dirs) {
        val (n, vocab, g, budget) = graft.operators.JwJoin.vocabDiag(
          spark.read.parquet(s"$d/supplier.parquet").select(col("s_name")),
          "s_name", "s_name")
        val rho = n.toDouble / math.max(1L, vocab.getOrElse(g, 0L))
        println(f"[jwvocab] $d reps=$n vocab=${
          vocab.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(" ")
        } chosen=$g rho=$rho%.2f budget=$budget")
      }
      spark.stop()
    // ANN recall vs corpus size (VERDICT r15 #2): mean recall@10 over
    // 20 query vectors against exact brute-force cosine, for the
    // shipped IVF geometry (k=8, nprobe=4), the k ∝ √n scale path,
    // IVF×PQ, and multi-table LSH — the AnnRecallSpec harness run at
    // arbitrary corpus scale. Run at 1x and Nx dirs and compare rows.
    case "annrecall" :: dir :: Nil =>
      val spark = session()
      annRecall(spark, dir)
      spark.stop()
    // IVF×PQ sizing sweep (VERDICT r16 #1): recall@10 of the persisted
    // IVF×PQ serving path vs the exact brute-force truth, for one
    // (k, nprobe, m, ksub) geometry across a SHORTLIST sweep — plus the
    // IVF ceiling at the same probe geometry (exact refine over
    // everything scanned; shortlist can never beat it). Run at 1x and
    // Nx dirs to derive the shortlist/codebook scaling rule.
    case "pqrecall" :: dir :: k :: nprobe :: m :: ksub :: lists :: rest
        if rest.isEmpty || rest == List("raw") =>
      val spark = session()
      pqRecall(spark, dir, k.toInt, nprobe.toInt, m.toInt, ksub.toInt,
        lists.split(",").map(_.trim.toInt).toSeq,
        residual = rest.isEmpty)
      spark.stop()
    // ErStore blocking-density probe (VERDICT r16 #2): the storeingest
    // ER line alone, at the coarse shipped key (nation, 25 blocks —
    // density grows with the corpus) vs a finer composite key
    // (nation × name-band, cardinality ∝ corpus — density constant).
    case "eringest" :: dir :: root :: mode :: Nil =>
      require(mode == "coarse" || mode == "fine",
        s"mode must be coarse|fine, got $mode")
      val spark = session()
      erIngest(spark, dir, root, fine = mode == "fine")
      spark.stop()
    // Ingest-path wall vs store size (VERDICT r15 #3): seed each
    // persisted store from the dir's corpus (untimed), then time TWO
    // fixed-size batch appends (identical rows at every scale: rep-0
    // base rows, ids offset to fresh). O(batch + touched buckets)
    // predicts ~flat lines between a 1x and an Nx store.
    case "storeingest" :: dir :: root :: Nil =>
      val spark = session()
      storeIngest(spark, dir, root)
      spark.stop()
    case _ =>
      System.err.println(
        "usage: ScaleStress gen <baseDir> <outDir> <factor>\n" +
        "       ScaleStress run <q1,q2,...> <dir1x> <dirNx> <factor> [reps]\n" +
        "       ScaleStress count <q1,q2,...> <dir> [dir2...]\n" +
        "       ScaleStress jw191 <dir> <gramLen> [reps]\n" +
        "       ScaleStress jw191cmp <dir> <gramLen1> <gramLen2>\n" +
        "       ScaleStress jwdiag <gramLen|0=auto> <topM|0=unbounded> <dir> [dir2...]\n" +
        "       ScaleStress jwrecall <dir> <gramLen|0=auto> [topM] [probeGrams] [dfBudget] [sampleMod]\n" +
        "       ScaleStress jwvocab <dir> [dir2...]\n" +
        "       ScaleStress annrecall <dir>\n" +
        "       ScaleStress pqrecall <dir> <k|0=auto> <nprobe> <m> <ksub> <shortlist1,shortlist2,...> [raw]\n" +
        "       ScaleStress eringest <dir> <storeRoot> <coarse|fine>\n" +
        "       ScaleStress storeingest <dir> <storeRoot>")
      sys.exit(2)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // At 100x the full-left JW stages push ~3B rows through the
    // shuffle: 32 partitions = ~90M-row spill sets per task, which is
    // a heap-history measurement, not a code one. The override maps to
    // what a real cluster does anyway (spark.sql.shuffle.partitions
    // sized to data volume, AQE coalescing the small stages back down).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // shuffle codec override (guide §2.3): the 100x full-left JW probe
    // writes ~3B-row shuffles — lz4 map output alone overran this
    // box's free disk; zstd fits it. Same knob a real cluster tunes;
    // default stays Spark's lz4.
    val codec = sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.io.compression.codec", codec)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Replicate `df` `factor` times with a `rep` column (0 = base rows
    * verbatim) for per-replica remapping. */
  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      df.sparkSession.range(factor.toLong).select(col("id").as("rep")))

  /** Key stride: max(key)+1 so remapped keys are dense and disjoint.
    * Cast-first so int32 key columns work; empty tables fail fast. */
  private def stride(df: DataFrame, key: String): Long = {
    val r = df.agg(max(col(key).cast("long"))).head()
    require(!r.isNullAt(0), s"stride($key): table is empty")
    r.getLong(0) + 1L
  }

  private def remap(key: String, strideV: Long) =
    (col("rep") * strideV + col(key)).as(key)

  def gen(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    def rd(name: String): DataFrame =
      spark.read.parquet(s"$base/$name.parquet")
    def wr(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[gen] $name x$factor -> $out/$name.parquet")
    }

    // Dims verbatim: broadcast-sized at any scale factor.
    Seq("region", "nation", "part").foreach(n => wr(rd(n), n, 1))

    val cust = rd("customer")
    val cStride = stride(cust, "c_custkey")
    wr(replicate(cust, factor).select(
        remap("c_custkey", cStride),
        format_string("Customer#%09d", col("rep") * cStride + col("c_custkey"))
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 4)

    val supp = rd("supplier")
    val sStride = stride(supp, "s_suppkey")
    wr(replicate(supp, factor).select(
        remap("s_suppkey", sStride),
        format_string("Supplier#%09d", col("rep") * sStride + col("s_suppkey"))
          .as("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    // Cross-table FKs remap with their OWN parent's stride so every
    // replica's orders reference that replica's customers (and
    // lineitems that replica's suppliers) — without this, rep>0
    // parents are orphans and parent↔child joins measure N× fan-in
    // skew instead of N× growth. l_partkey stays verbatim: part is a
    // verbatim dim.
    val ord = rd("orders")
    val oStride = stride(ord, "o_orderkey")
    wr(replicate(ord, factor).select(ord.columns.toSeq.map {
        case "o_orderkey" => remap("o_orderkey", oStride)
        case "o_custkey"  => remap("o_custkey", cStride)
        case c            => col(c)
      }: _*),
      "orders", 8)

    val li = rd("lineitem")
    wr(replicate(li, factor).select(li.columns.toSeq.map {
        case "l_orderkey" => remap("l_orderkey", oStride)
        case "l_suppkey"  => remap("l_suppkey", sStride)
        case c            => col(c)
      }: _*),
      "lineitem", 16)

    val ev = rd("events")
    val eStride = stride(ev, "event_id")
    val uStride = stride(ev, "user_id")
    wr(replicate(ev, factor).select(
        remap("event_id", eStride), col("ts"),
        remap("user_id", uStride),
        col("event_type"), col("value"), col("props")),
      "events", 8)

    val docs = rd("documents")
    val dStride = stride(docs, "doc_id")
    // rep 0 keeps base text verbatim; rep>0 prefixes a marker token so
    // replicas are near-dups, not exact dups (n_chars stays = added len).
    val marked = when(col("rep") === 0, col("text"))
      .otherwise(concat(lit("rep"), col("rep"), lit(" "), col("text")))
    val markedLen = when(col("rep") === 0, col("n_chars"))
      .otherwise(col("n_chars") + length(concat(lit("rep"), col("rep"))) + 1)
    wr(replicate(docs, factor).select(
        remap("doc_id", dStride), marked.as("text"),
        col("lang"), col("source"), markedLen.as("n_chars")),
      "documents", 4)

    val emb = rd("embeddings")
    val vStride = stride(emb, "vec_id")
    // rep>0 rotates the vector by rep MOD dim positions: norm-preserving,
    // distinct up to dim replicas (rep >= dim wraps — slice length must
    // stay non-negative; factor=100 over 64-dim vectors crashed on -1).
    val dim = size(col("embedding"))
    val rot = pmod(col("rep"), dim).cast("int")
    val rotated = when(rot === 0, col("embedding"))
      .otherwise(concat(
        slice(col("embedding"), rot + 1, dim - rot),
        slice(col("embedding"), lit(1), rot)))
    wr(replicate(emb, factor).select(
        remap("vec_id", vStride), rotated.as("embedding"), col("label")),
      "embeddings", 4)
  }

  /** Mean recall@10 over 20 query vectors vs exact brute-force cosine,
    * one row per ANN route — the AnnRecallSpec protocol at arbitrary
    * corpus size. The √n IVF variant is the scale path: with k ∝ √n
    * and a FIXED nprobe, the probed corpus fraction is nprobe/√n and
    * per-query work stays O(√n) while k=8's fixed-fraction probe grows
    * linearly. */
  private val AnnK = 10

  /** Shared ANN truth: the cached non-null embeddings, their count, 20
    * query vectors, and each query's exact brute-force cosine top-10
    * (self excluded) — the denominator every recall probe scores
    * against. */
  /** Corpus + queries + the brute-force COSINE top-10 truth. The
    * corpus is L2-NORMALIZED first (round-18): every cosine-ranked
    * route (IVF probe, LSH, the truth itself) is scale-invariant, so
    * normalization changes nothing for them — but the IVF×PQ serve
    * contract is exact L2 refine, and on a corpus with non-uniform
    * norms the L2 and cosine top-10 genuinely disagree. The clustered
    * out-of-family corpus measured that artifact at full strength:
    * shipped IVF×PQ read 0.720 against the cosine truth at 200k in
    * BOTH code formats while its L2 answer was EXACT — and the
    * offline exact-cosine-top10 vs exact-L2-top10 overlap on that
    * corpus is 0.720 exactly (norms span 0.925–1.092; 100 near-tie
    * replicas per clump make the two metrics' top-10 diverge).
    * Normalizing here measures every route against the metric it
    * actually serves, which is also the engine's documented cosine
    * usage ("for cosine ranking, L2-normalize vectors first",
    * PqIndex). */
  private def annTruth(spark: SparkSession, dir: String)
      : (DataFrame, Long, Seq[(Long, Seq[Float])], Map[Long, Set[Long]]) = {
    import scala.jdk.CollectionConverters._
    import graft.functions.VectorFunctions
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
    val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val emb = raw
      .filter(norm > 0.0d)
      .withColumn("embedding",
        transform(col("embedding"), x => (x.cast("double") / norm)
          .cast("float")))
      .cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 20).orderBy(col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getList[Float](1).asScala.toSeq)).toSeq
    val exact: Map[Long, Set[Long]] = queries.map { case (qid, qv) =>
      qid -> VectorFunctions.bruteForceTopK(
          emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, AnnK)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    (emb, n, queries, exact)
  }

  private def annRecall(spark: SparkSession, dir: String): Unit = {
    import graft.functions.{IvfIndex, IvfPqStore, VectorFunctions}
    val K = AnnK
    val (emb, n, queries, exact) = annTruth(spark, dir)
    def recall(name: String)(route: (Long, Seq[Float]) => Set[Long]): Unit = {
      val r = queries.map { case (qid, qv) =>
        exact(qid).intersect(route(qid, qv)).size.toDouble / exact(qid).size
      }
      println(f"[annrecall] $dir n=$n $name: ${r.sum / r.size}%.3f")
    }
    val kRoot = math.max(8, math.round(math.sqrt(n.toDouble)).toInt)
    for ((label, k, nprobe) <- Seq(("ivf k=8 nprobe=4", 8, 4),
        (s"ivf k=√n=$kRoot nprobe=4", kRoot, 4),
        (s"ivf k=√n=$kRoot nprobe=8", kRoot, 8))) {
      val idx = IvfIndex.build(emb, "embedding", "vec_id", k = k,
        iterations = 2)
      try recall(label)((qid, qv) => IvfIndex.topK(
          idx.indexed.filter(col("vec_id") =!= qid), idx.centroids,
          "embedding", "vec_id", qv, K, nprobe = nprobe)
        .select("vec_id").collect().map(_.getLong(0)).toSet)
      finally idx.close()
    }
    val pqStore = java.nio.file.Files
      .createTempDirectory("annrecall-ivfpq").toString + "/s"
    // raw codes: the r16/r17 series' format — kept raw for line-to-line
    // comparability across rounds
    IvfPqStore.build(emb, "embedding", "vec_id", pqStore,
      k = 8, iterations = 2, m = 8, ksub = 16, pqIterations = 3,
      residual = false)
    recall("ivfpq k=8 nprobe=4 shortlist=60 (pinned legacy geometry, raw)")(
      (qid, qv) =>
        IvfPqStore.topK(spark, pqStore, qv, K + 1, nprobe = 4,
            shortlist = 60)
          .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet)
    // the r17 shipped defaults: k ∝ √n, ksub = min(256, train), and
    // shortlist auto-sized to 0.7× the probed code count — the rule
    // whose recall must hold ~flat across corpus decades
    val pqAuto = java.nio.file.Files
      .createTempDirectory("annrecall-ivfpq-auto").toString + "/s"
    IvfPqStore.build(emb, "embedding", "vec_id", pqAuto)
    recall("ivfpq SHIPPED defaults (auto k/ksub/shortlist) nprobe=4")(
      (qid, qv) =>
        IvfPqStore.topK(spark, pqAuto, qv, K + 1, nprobe = 4)
          .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet)
    recall("lsh tables=8 planes=4")((qid, qv) =>
      VectorFunctions.lshTopKMulti(
          emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K,
          numPlanes = 4, tables = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet)
  }

  /** One IVF×PQ geometry, a shortlist sweep: build the persisted store
    * at (k, m, ksub), print the IVF ceiling at the probe geometry
    * (exact refine over EVERYTHING the probe scans — the best any
    * shortlist can do), then recall@10 per shortlist. The scanned-rows
    * estimate n·nprobe/k is what a shortlist rule must be sized
    * against. */
  private def pqRecall(spark: SparkSession, dir: String, k: Int,
                       nprobe: Int, m: Int, ksub: Int,
                       shortlists: Seq[Int], residual: Boolean): Unit = {
    import graft.functions.{IvfPqStore, IvfStore}
    val K = AnnK
    val (emb, n, queries, exact) = annTruth(spark, dir)
    val store = java.nio.file.Files
      .createTempDirectory("pqrecall").toString + "/s"
    val t0 = System.nanoTime()
    IvfPqStore.build(emb, "embedding", "vec_id", store, k = k,
      iterations = 2, m = m, ksub = ksub, pqIterations = 3,
      residual = residual)
    val kEff = IvfStore.readMeta(spark, store).k
    val fmt = if (residual) "residual" else "RAW"
    println(f"[pqrecall] $dir n=$n k=$k(eff $kEff) nprobe=$nprobe " +
      f"m=$m ksub=$ksub fmt=$fmt: " +
      f"build ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      f"expected scanned ~${n.toDouble * nprobe / kEff}%.0f rows/query")
    def recall(route: (Long, Seq[Float]) => Set[Long]): Double = {
      val r = queries.map { case (qid, qv) =>
        exact(qid).intersect(route(qid, qv)).size.toDouble / exact(qid).size
      }
      r.sum / r.size
    }
    val ceil = recall((qid, qv) =>
      IvfStore.topK(spark, store, qv, K + 1, nprobe = nprobe)
        .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet)
    println(f"[pqrecall] $dir k=$kEff nprobe=$nprobe IVF ceiling " +
      f"(exact over scanned): $ceil%.3f")
    for (sl <- shortlists) {
      val r = recall((qid, qv) =>
        IvfPqStore.topK(spark, store, qv, K + 1, nprobe = nprobe,
            shortlist = sl)
          .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet)
      println(f"[pqrecall] $dir k=$kEff nprobe=$nprobe m=$m ksub=$ksub " +
        f"fmt=$fmt shortlist=$sl: recall $r%.3f")
    }
  }

  /** The storeingest ER line alone, with the blocking key as the
    * variable: coarse = the shipped nation key (25 blocks — per-block
    * density grows linearly with the corpus), fine = nation × the
    * name's first-7-of-9 digits (≡ key/100 — block cardinality grows
    * ∝ corpus, per-block density ~constant at ~100 names). Fixed
    * batches (1,500 rep-0 names, fresh ids), so a 1x-store and an
    * Nx-store line differ only in store size. */
  private def erIngest(spark: SparkSession, dir: String, root: String,
                       fine: Boolean): Unit = {
    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[eringest] $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val mode = if (fine) "fine" else "coarse"
    val blocks =
      if (fine) Seq("c_nationkey", "c_nameband") else Seq("c_nationkey")
    def banded(df: DataFrame): DataFrame =
      if (fine) df.withColumn("c_nameband", substring(col("c_name"), 10, 7))
      else df
    val cust = banded(spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    def custBatch(lo: Long, hi: Long, off: Long) =
      cust.filter(col("c_custkey") >= lo && col("c_custkey") < hi)
        .withColumn("c_custkey", col("c_custkey") + off)
    val er = s"$root/erstore-$mode"
    graft.operators.ErStore.build(cust, "c_custkey", "c_name", er,
      threshold = 0.97, blockCols = blocks)
    timed(s"ErStore.append $mode batch1 (1500 names)") {
      graft.operators.ErStore.append(custBatch(0, 1500, 1000000000000L),
        er, batchId = 1L)
    }
    timed(s"ErStore.append $mode batch2 (1500 names)") {
      graft.operators.ErStore.append(custBatch(1500, 3000, 2000000000000L),
        er, batchId = 2L)
    }
  }

  /** Seed the three incremental stores from the dir's corpus (untimed),
    * then time two FIXED batch appends each. Batches are rep-0 base
    * rows (identical at every gen scale) with ids offset fresh, so a
    * 1x-store and an Nx-store line differ only in store size. */
  private def storeIngest(spark: SparkSession, dir: String,
                          root: String): Unit = {
    val Off1 = 1000000000000L
    val Off2 = 2000000000000L
    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[storeingest] $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def docBatch(lo: Long, hi: Long, off: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select((col("doc_id") + off).as("doc_id"),
          concat(lit("probe "), col("text")).as("text"))
    // 1. near-dup dedup store (banded signatures, bucket-pruned)
    val dd = s"$root/dedupstore"
    graft.operators.Dedup.dedupAgainstStore(docs, "doc_id", "text", dd)
    timed("dedupAgainstStore batch1 (1000 docs)") {
      graft.operators.Dedup.dedupAgainstStore(
        docBatch(0, 1000, Off1), "doc_id", "text", dd)
        .write.format("noop").mode("overwrite").save()
    }
    timed("dedupAgainstStore batch2 (1000 docs)") {
      graft.operators.Dedup.dedupAgainstStore(
        docBatch(1000, 2000, Off2), "doc_id", "text", dd)
        .write.format("noop").mode("overwrite").save()
    }
    // 2. text index (bucket-pruned postings + manifest)
    val ti = s"$root/textindex"
    graft.operators.TextIndex.persistPostings(docs, "doc_id", "text", ti)
    timed("appendToIndex batch1 (1000 docs)") {
      graft.operators.TextIndex.appendToIndex(
        docBatch(0, 1000, Off1), "doc_id", "text", ti, batchId = 1L)
    }
    timed("appendToIndex batch2 (1000 docs)") {
      graft.operators.TextIndex.appendToIndex(
        docBatch(1000, 2000, Off2), "doc_id", "text", ti, batchId = 2L)
    }
    // 3. entity registry (bounded JW link + incremental CC, q275 shape)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    def custBatch(lo: Long, hi: Long, off: Long) =
      cust.filter(col("c_custkey") >= lo && col("c_custkey") < hi)
        .select((col("c_custkey") + off).as("c_custkey"), col("c_name"),
          col("c_nationkey"))
    val er = s"$root/erstore"
    graft.operators.ErStore.build(cust, "c_custkey", "c_name", er,
      threshold = 0.97, blockCols = Seq("c_nationkey"))
    timed("ErStore.append batch1 (1500 names)") {
      graft.operators.ErStore.append(custBatch(0, 1500, Off1), er,
        batchId = 1L)
    }
    timed("ErStore.append batch2 (1500 names)") {
      graft.operators.ErStore.append(custBatch(1500, 3000, Off2), er,
        batchId = 2L)
    }
  }

  def run(spark: SparkSession, names: Seq[String], dir1: String,
          dirN: String, factor: Int, reps: Int): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    def time(name: String, dir: String): Double = {
      val ts = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name @$dir rep $r: $t%.2f s")
        t
      }
      ts.min
    }

    println("| query | 1x s | " + factor + "x s | ratio | exponent |")
    println("|---|---|---|---|---|")
    names.foreach { n =>
      val t1 = time(n, dir1)
      val tN = time(n, dirN)
      val ratio = tN / t1
      val expo = math.log(ratio) / math.log(factor.toDouble)
      println(f"| $n | $t1%.2f | $tN%.2f | $ratio%.2fx | $expo%.2f |")
    }
  }
}
