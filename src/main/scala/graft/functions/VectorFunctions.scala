package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns.
  *
  * Implemented with higher-order functions (`zip_with` + `aggregate`) —
  * these stay inside Catalyst (no UDF serialization) and evaluate
  * per-row with zero shuffle. Element order is the array order, so the
  * fold is deterministic. A codegen'd Catalyst `Expression` variant is the
  * planned fast path if profiling demands (SURVEY.md §4).
  */
object VectorFunctions {

  /** Dot product; elements cast to double before multiply/accumulate.
    * Higher-order-function form — interpreted (HOFs are CodegenFallback);
    * fine off the hot path and as the reference semantics. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Add an L2-normalized `array<float>` copy of `vecCol` as `outCol`
    * (zero vectors pass through unscaled). The norm lands in its own
    * column FIRST so it is computed once per row — inlining
    * `norm(vecCol)` inside a `transform` lambda re-evaluates the whole
    * O(dim) reduction per ELEMENT (O(dim²) interpreted HOF evals per
    * row: measured ~1.3 s per job over 5k×64 floats — the q140
    * profiling lesson). */
  def l2Normalized(df: org.apache.spark.sql.DataFrame, vecCol: String,
                   outCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(outCol, graft.plans.L2Normalize.of(col(vecCol)))

  /** Cosine similarity in [-1, 1] — native kernel
    * ([[graft.plans.CosineSimilarity]]): one fused primitive loop inside
    * whole-stage codegen. Null on length mismatch or zero vector. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity(a, b)

  /** Brute-force top-k nearest neighbors of a single query vector.
    *
    * `queryVec` is a literal array (driver-side small); the scan is a
    * single narrow pass computing cosine, then `orderBy().limit(k)` which
    * Spark executes as TakeOrderedAndProject — per-partition partial top-k,
    * only k rows per partition reach the driver. This is the correct
    * baseline at any scale; see [[lshTopK]] for the bucketed variant.
    */
  def bruteForceTopK(vectors: DataFrame, vecCol: String, idCol: String,
                     queryVec: Seq[Float], k: Int): DataFrame = {
    val q = array(queryVec.map(v => lit(v)): _*)
    vectors
      .withColumn("cosine_sim", cosine(col(vecCol), q))
      .select(col(idCol), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Random-hyperplane LSH bucketing: sign-bit signature of `numPlanes`
    * dot products against deterministic pseudo-random hyperplanes (seeded
    * from element index — no RNG at plan time, reproducible across runs).
    * Vectors sharing a bucket are near in angle with high probability.
    * Returns df + `lsh_bucket: bigint`. At scale, an ANN query probes only
    * matching buckets instead of the full corpus.
    *
    * Native codegen ([[graft.plans.HyperplaneLsh]]): this is the
    * full-corpus pass feeding LSH ANN and embedding near-dup clustering —
    * the widest scan in the dedup pipeline — so it must stay inside
    * whole-stage codegen. Bit-identical to the interpreted HOF reference
    * form (asserted in VectorFunctionsSpec); the `coalesce` reproduces
    * the HOF's bucket-0 for a null vector. planeOffset shifts into a
    * disjoint plane family — multi-table LSH (union of tables raises
    * recall; see Dedup.embeddingNearDupClusters). */
  def lshBuckets(vectors: DataFrame, vecCol: String, numPlanes: Int = 16,
                 planeOffset: Int = 0): DataFrame =
    vectors.withColumn("lsh_bucket",
      coalesce(graft.plans.HyperplaneLsh(col(vecCol), numPlanes, planeOffset), lit(0L)))

  /** ANN top-k via LSH: probe only the query's bucket (fallback to brute
    * force when the bucket has fewer than k members is the caller's
    * policy). Approximate — recall depends on numPlanes. */
  def lshTopK(vectors: DataFrame, vecCol: String, idCol: String,
              queryVec: Seq[Float], k: Int, numPlanes: Int = 8): DataFrame = {
    val bucketed = lshBuckets(vectors, vecCol, numPlanes)
    // compute query bucket with the same formula, driver-side via a 1-row df
    val qdf = bucketed.sparkSession.range(1)
      .select(array(queryVec.map(v => lit(v)): _*).as("qv"))
    val qBucket = lshBuckets(qdf, "qv", numPlanes).select("lsh_bucket")
    val q = array(queryVec.map(v => lit(v)): _*)
    bucketed
      .join(broadcast(qBucket), Seq("lsh_bucket"), "left_semi")
      .withColumn("cosine_sim", cosine(col(vecCol), q))
      .select(col(idCol), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** ANN top-k via MULTI-TABLE LSH: probe the query's bucket in each of
    * `tables` independent hyperplane families (disjoint `planeOffset`
    * ranges) and brute-force the UNION of candidates. Single-table LSH at
    * few planes is the cheapest probe, but on a weak-neighbor corpus its
    * recall collapses — measured 0.08@10 on the sf0.01 embeddings
    * (AnnRecallSpec) where a top-10 neighbor at cosine ~0.3 agrees with
    * the query on all 4 sign bits only ~13% of the time. Unioning L
    * tables lifts per-neighbor recall to 1 - (1 - p)^L at ~L× the probe
    * cost — the standard E2LSH recall/cost dial.
    *
    * Scale shape: ONE narrow corpus pass computes all L signatures
    * (L · numPlanes codegen'd [[graft.plans.HyperplaneLsh]] evaluations
    * per row); the candidate gate is an OR over per-table bucket
    * equalities against driver-computed query buckets (same expression,
    * one 1-row job), then exact cosine + TakeOrderedAndProject on
    * candidates only. At 100 TB, persist the L bucket columns and
    * partition by one of them — each probe then prunes to L bucket
    * scans instead of a full pass. */
  def lshTopKMulti(vectors: DataFrame, vecCol: String, idCol: String,
                   queryVec: Seq[Float], k: Int, numPlanes: Int = 4,
                   tables: Int = 8): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val session = vectors.sparkSession
    def bucketExpr(c: Column, t: Int): Column =
      coalesce(graft.plans.HyperplaneLsh(c, numPlanes, t * numPlanes), lit(0L))
    val qdf = session.range(1)
      .select(array(queryVec.map(v => lit(v)): _*).as("qv"))
    val qRow = qdf.select((0 until tables).map(t =>
      bucketExpr(col("qv"), t).as(s"b$t")): _*).collect().head
    val q = array(queryVec.map(v => lit(v)): _*)
    val isCandidate = (0 until tables)
      .map(t => bucketExpr(col(vecCol), t) === lit(qRow.getLong(t)))
      .reduce(_ || _)
    vectors.filter(isCandidate)
      .withColumn("cosine_sim", cosine(col(vecCol), q))
      .select(col(idCol), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** All-pairs top-k per vector within LSH buckets (k-NN graph building
    * block): self-join within buckets only. */
  def bucketedKnn(vectors: DataFrame, vecCol: String, idCol: String,
                  k: Int, numPlanes: Int = 8): DataFrame = {
    val b = lshBuckets(vectors, vecCol, numPlanes)
      .select(col(idCol), col(vecCol), col("lsh_bucket"))
    val l = b.select(col("lsh_bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val r = b.select(col("lsh_bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine_sim").desc, col("id_b").asc)
    l.join(r, Seq("lsh_bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine_sim", cosine(col("vec_a"), col("vec_b")))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Scalar int8 quantization of a float/double vector: symmetric
    * per-vector max-abs scaling, codes in [-127, 127] as `array<int>`.
    * 4× smaller than float32 at rest and in shuffle — the memory/IO lever
    * for billion-vector ANN corpora; [[int8Cosine]] searches the codes
    * directly (the per-vector scale cancels out of cosine, so it is not
    * even stored for cosine-only use).
    *
    * `floor(x · 127/maxabs + 0.5)`: every step (float→double cast, one
    * multiply, one add, floor) is a correctly-rounded IEEE op, so the
    * codes are BIT-IDENTICAL in any engine that evaluates the same
    * formula — which makes quantized search value-checkable against a
    * SQL oracle, unlike anything built on `round()` (half-even vs
    * half-up varies by engine). Null for null vectors; a zero vector
    * quantizes to null (no scale exists), so filter or coalesce first. */
  def quantizeInt8(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = lit(127.0) / m
    when(m > lit(0.0),
      transform(vec, x => floor(x.cast("double") * scale + lit(0.5)).cast("int")))
  }

  /** Cosine similarity over int8 code arrays from [[quantizeInt8]]. Dot
    * and norms accumulate in long — EXACT integer arithmetic (64 dims ×
    * 127² ≈ 2²⁰ per term, no overflow anywhere near 2⁶³), reassociation-
    * proof — doubles appear only in the final divide/sqrt, which are
    * correctly rounded. Null on length mismatch / zero code vector. */
  def int8Cosine(a: Column, b: Column): Column = {
    def fold(f: (Column, Column) => Column) =
      aggregate(zip_with(a, b, f), lit(0L), (acc, v) => acc + v)
    val dotI = fold((x, y) => x.cast("long") * y.cast("long"))
    val na   = fold((x, _) => x.cast("long") * x.cast("long"))
    val nb   = fold((_, y) => y.cast("long") * y.cast("long"))
    dotI.cast("double") /
      nullif(sqrt(na.cast("double")) * sqrt(nb.cast("double")), lit(0.0))
  }

  /** Per-group mean embedding (centroid) in EXPLODED pair-table form:
    * (groupCol, dim, mean) — group centroids for source profiling,
    * class prototypes, or seeding [[graft.operators.KMeans]]. Unlike the
    * k-means UDAF path (throughput-oriented double accumulation), this
    * form is ORACLE-EXACT: each element rounds to the 9-decimal grid and
    * accumulates in DECIMAL, so the mean is partition-order independent
    * (the q73 discipline). Null vectors drop; `dim` is 1-based.
    *
    * Scale shape: posexplode is a narrow expansion; one shuffle on
    * (group, dim) with map-side partial aggregation. The output is
    * groups × dims rows — collect back to arrays with
    * `sort_array(collect_list(struct(dim, mean)))` only when a consumer
    * genuinely needs array form. */
  def dimMeans(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("__d0", "__x")))
      .groupBy(col(groupCol), (col("__d0") + 1).as("dim"))
      .agg((sum(round(col("__x").cast("double"), 9).cast("decimal(28,9)"))
        .cast("double") / count(lit(1))).as("mean"))

  /** Per-cluster embedding drift between two epochs — the
    * representation-shift monitor an embedding corpus needs the way a
    * numeric column needs [[graft.operators.Eval.psi]]: assign both
    * epochs to the SAME frozen centroids (the build-once probe-many
    * discipline), then per cluster compare the epoch-A and epoch-B
    * member centroids. Output per cluster: member counts and the L2
    * displacement ‖mean_A − mean_B‖ of its mean vector — a cluster
    * whose population drifts semantically moves its centroid even when
    * its SIZE holds steady, and vice versa.
    *
    * `epochCol` contract: 0 = epoch A, anything else = epoch B. A
    * cluster missing an epoch entirely reports its counts with a null
    * drift (unmeasurable, not 0 — the rocAuc convention). Per-dim
    * means come from the [[dimMeans]] 9-grid DECIMAL discipline and
    * round to the 9-grid before differencing; squared gaps re-round
    * into a DECIMAL(38,9) sum; ONE sqrt at the end, rounded 6.
    *
    * Scale shape: one narrow posexplode + one (cluster, epoch, dim)-
    * keyed partial-agg shuffle; everything after is clusters × dims
    * rows. */
  def centroidDrift(df: DataFrame, clusterCol: String, epochCol: String,
                    vecCol: String): DataFrame = {
    val rows = df.filter(col(vecCol).isNotNull)
      .select(col(clusterCol).as("__c"),
        (col(epochCol).cast("long") =!= 0L).as("__b"), col(vecCol).as("__v"))
    val counts = rows.groupBy(col("__c"))
      .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"))
    val dims = rows
      .select(col("__c"), col("__b"),
        posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy(col("__c"), col("__b"), col("__i"))
      .agg(round(sum(round(col("__x").cast("double"), 9)
          .cast("decimal(28,9)")).cast("double") / count(lit(1)), 9)
        .as("__m"))
    val a = dims.filter(!col("__b"))
      .select(col("__c"), col("__i"), col("__m").as("__ma"))
    val b = dims.filter(col("__b"))
      .select(col("__c"), col("__i"), col("__m").as("__mb"))
    val drift = a.join(b, Seq("__c", "__i"))
      .groupBy(col("__c"))
      .agg(sum(round((col("__ma") - col("__mb")) *
          (col("__ma") - col("__mb")), 9).cast("decimal(38,9)"))
        .as("__s2"))
      .select(col("__c"),
        round(sqrt(col("__s2").cast("double")), 6).as("drift"))
    counts.join(drift, Seq("__c"), "left")
      .select(col("__c").as(clusterCol), col("n_a"), col("n_b"),
        col("drift"))
  }

  /** Per-dimension corpus statistics: (dim, mean, std) with population
    * std from 9-grid DECIMAL sums of x and x² — partition-order
    * independent (the [[dimMeans]] discipline), so both moments are
    * bit-stable across runs and engines. `dim` is 1-based; null vectors
    * drop. One narrow posexplode + one dim-keyed partial-agg shuffle of
    * (dims) groups. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val dec9 = (c: Column) => round(c, 9).cast("decimal(28,9)")
    df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("__d0", "__x")))
      .select((col("__d0") + 1).as("dim"), col("__x").cast("double").as("__v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(dec9(col("__v"))).as("__s"),
        sum(dec9(col("__v") * col("__v"))).as("__ss"))
      .select(col("dim"),
        (col("__s").cast("double") / col("__n")).as("mean"),
        sqrt(greatest(
          col("__ss").cast("double") / col("__n") -
            (col("__s").cast("double") / col("__n")) *
            (col("__s").cast("double") / col("__n")),
          lit(0.0))).as("std"))
  }

  /** Z-score standardization in pair-table form: (idCol, dim, z) with
    * z = (x − mean_d)/std_d, 0 where a dimension is constant (std 0) —
    * the preprocessing step in front of LSH/PQ/k-means when dimensions
    * are on different scales (unstandardized, a high-variance dimension
    * dominates every distance). Stats come from [[dimStats]] over the
    * same frame and BROADCAST back onto the narrow exploded pairs — the
    * corpus shuffles only for the dims-sized stats aggregation, never
    * for the transform itself. Collect back to array form with
    * `sort_array(collect_list(struct(dim, z)))` when a consumer needs
    * vectors. */
  def standardizeDims(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("__d0", "__x")))
      .select(col(idCol), (col("__d0") + 1).as("dim"),
        col("__x").cast("double").as("__v"))
      .join(broadcast(dimStats(df, vecCol)), "dim")
      .select(col(idCol), col("dim"),
        when(col("std") > 0, (col("__v") - col("mean")) / col("std"))
          .otherwise(lit(0.0)).as("z"))

  /** Population covariance matrix of the embedding columns, in pair-table
    * form: (i, j, cov) for 1-based dimension pairs i <= j (the matrix is
    * symmetric — mirror downstream if a consumer wants the full grid).
    * cov = E[x_i·x_j] − E[x_i]·E[x_j], every sum on the 9-grid in
    * DECIMAL(28,9) (the [[dimStats]] discipline) so the matrix is
    * bit-stable across partitionings and engines; output rounds to the
    * 6-grid. The feature-correlation profile in front of PCA/whitening
    * decisions — pairs with |cov| ≈ 0 carry independent signal.
    *
    * Scale shape: the upper-triangle expansion is a NARROW per-row
    * slice-explode (d(d+1)/2 rows per vector, no join, no shuffle),
    * then ONE (i, j)-keyed aggregation of d²/2 groups with map-side
    * combine, plus the d-sized per-dim sums broadcast back. O(rows·d²)
    * flops — inherent to exact covariance; for d in the thousands,
    * sample rows upstream or go through [[standardizeDims]] + a sketch.
    * Assumes fixed dimensionality (vectors of differing lengths would
    * skew per-pair counts); null vectors drop. */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val dec9 = (c: Column) => round(c, 9).cast("decimal(28,9)")
    // the d²/2 expansion below is CPU-bound at ~d²/2 decimal terms per
    // input row — spread rows across the cluster FIRST: a small corpus
    // arrives in one or two scan partitions and would otherwise burn
    // one core (measured 6.8 -> 1.2 s at sf0.1). The repartition moves
    // only rows × d floats, nothing next to the work it parallelizes.
    val spread = df.filter(col(vecCol).isNotNull).select(col(vecCol).as("__v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val x = spread
      .select(posexplode(col("__v")).as(Seq("__i0", "__xi")), col("__v"))
    val upper = x.select((col("__i0") + 1).as("i"),
        col("__xi").cast("double").as("__vi"),
        posexplode(slice(col("__v"), col("__i0") + 1,
          size(col("__v")) - col("__i0"))).as(Seq("__k0", "__xj")))
      .select(col("i"), (col("i") + col("__k0")).as("j"), col("__vi"),
        col("__xj").cast("double").as("__vj"))
    val prods = upper.groupBy("i", "j")
      .agg(sum(dec9(col("__vi") * col("__vj"))).as("__sp"),
        count(lit(1)).as("__n"))
    val sums = x.select((col("__i0") + 1).as("dim"),
        col("__xi").cast("double").as("__x"))
      .groupBy("dim")
      .agg(sum(dec9(col("__x"))).as("__s"), count(lit(1)).as("__sn"))
    prods
      .join(broadcast(sums.select(col("dim").as("i"),
        col("__s").as("__si"), col("__sn").as("__ni"))), "i")
      .join(broadcast(sums.select(col("dim").as("j"),
        col("__s").as("__sj"), col("__sn").as("__nj"))), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        // + 0.0 pins IEEE -0.0 to +0.0 (round of a tiny negative can
        // render -0.0 on some engines; the oracle applies the same)
        (round(col("__sp").cast("double") / col("__n") -
          (col("__si").cast("double") / col("__ni")) *
          (col("__sj").cast("double") / col("__nj")), 6) + lit(0.0))
          .as("cov"))
  }

  /** Dominant eigenvector (first principal component) of a symmetric
    * matrix given as the [[covarianceMatrix]] upper-triangle pair table
    * (i, j, cov) — power iteration: v ← normalize(C·v) from the uniform
    * unit start, a FIXED `iterations` budget (the [[graft.operators.Graph.pageRank]]
    * convergence policy; the rate is governed by the spectral gap
    * λ₁/λ₂ — near-isotropic data converges slowly, real embedding
    * spectra decay fast). Output: (dim, loading) on the 6-grid, unit
    * norm. Deterministic/oracle-exact: every matrix-vector term and
    * every squared-norm term rounds to the 9-grid and accumulates in
    * DECIMAL(28,9), and the vector re-rounds to the grid per iteration.
    *
    * Scale shape: the matrix stays DISTRIBUTED as the pair table (d²
    * rows — the whole point for d where a driver-side d×d dense matrix
    * dies, e.g. token-token co-occurrence with d = vocab); each
    * iteration is one j-keyed join against the d-row vector, one i-keyed
    * sum, one 1-row norm broadcast. Per-iteration lineage truncation as
    * the Graph loops (`reliable` = durable checkpoints). A zero matrix
    * fixes at the zero vector rather than dividing by zero. */
  def powerIteration(cov: DataFrame, iterations: Int = 10,
                     reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    if (reliable && cov.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "powerIteration(reliable = true) needs a reliable checkpoint " +
        "location: call sparkContext.setCheckpointDir(<durable path>) first")
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val dec9 = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val m = materialize(cov.select(col("i"), col("j"), col("cov")).union(
      cov.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov"))))
    val dims = m.select(col("i").as("dim")).distinct()
    val d = dims.count()
    require(d > 0, "powerIteration needs a non-empty matrix")
    var v = materialize(dims.select(col("dim"),
      round(lit(1.0) / sqrt(lit(d.toDouble)), 9).as("__v")))
    for (_ <- 1 to iterations) {
      val y = m.join(v, m("j") === v("dim"))
        .groupBy(m("i").as("ydim"))
        .agg(sum(dec9(col("cov") * col("__v"))).as("__y"))
      val n2 = y.agg(sum(dec9(col("__y").cast("double") *
        col("__y").cast("double"))).as("__n2"))
      v = materialize(y.crossJoin(broadcast(n2))
        .select(col("ydim").as("dim"),
          when(col("__n2").cast("double") > 0,
            round(col("__y").cast("double") /
              sqrt(col("__n2").cast("double")), 9))
            .otherwise(lit(0.0)).as("__v")))
    }
    v.select(col("dim"), round(col("__v"), 6).as("loading"))
  }
}
