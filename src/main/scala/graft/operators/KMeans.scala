package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TypedAggregators
import graft.plans.SquaredL2

/** DataFrame-native Lloyd's k-means over an embedding column — the
  * clustering stage of corpus curation (semantic dedup à la SemDeDup,
  * topic balancing, per-cluster sampling) and the trainer behind
  * coarse-quantizer indexes.
  *
  * Scale shape: the centroid set is k × dim doubles — always broadcast.
  * One Lloyd round is (a) assignment: a broadcast cross join scoring
  * every vector against every centroid with the native codegen
  * [[graft.plans.SquaredL2]] (the corpus × k hot loop stays inside
  * whole-stage codegen), keep-min per vector; (b) update: one shuffled
  * aggregation with map-side combine ([[TypedAggregators.VectorMean]]).
  * So a round costs one corpus scan + one shuffle of (cluster_id, vec) —
  * no iteration state on the driver beyond the k centroids, and the loop
  * `localCheckpoint`s the (tiny) centroid frame each round so lineage
  * never grows (the [[Graph]] discipline).
  *
  * Determinism: no RNG anywhere. Init is the k lowest-id vectors;
  * assignment ties break to the lowest cluster_id; the mean is
  * order-insensitive per element. Same inputs → same model, any cluster
  * size, any partitioning.
  */
object KMeans {

  /** A fitted model: `centroids` is (cluster_id: long, centroid:
    * array<double>), k rows; `iterations` is the number of Lloyd rounds
    * actually run; `shift` is the max squared centroid movement of the
    * final round (<= tol unless maxIterations hit); `inertia` is the sum
    * of squared distances to assigned centroids — THE scalar to monitor
    * when choosing k. */
  final case class Model(centroids: DataFrame, iterations: Int,
                         shift: Double, inertia: Double)

  /** Assign every vector its nearest centroid (min squared L2, ties to
    * the lowest cluster_id). `centroids` must be k small rows
    * (cluster_id, centroid) — it is broadcast. Returns `vectors` +
    * (cluster_id, dist2). Null/ragged vectors get null dist2 and lose
    * keep-min to any real distance; callers filter beforehand if they
    * need them excluded entirely. */
  def assign(vectors: DataFrame, vecCol: String, idCol: String,
             centroids: DataFrame): DataFrame = {
    val scored = vectors
      .crossJoin(broadcast(centroids.select(col("cluster_id"), col("centroid"))))
      .withColumn("dist2", SquaredL2(col(vecCol), col("centroid")))
      .drop("centroid")
    Dedup.keepFirst(scored, Seq(idCol),
      Seq(col("dist2").asc_nulls_last, col("cluster_id").asc))
  }

  /** Fit k-means. Stops after `maxIterations` Lloyd rounds or when the
    * largest squared centroid movement drops to `tol` or below. A cluster
    * that loses all members keeps its previous centroid (no respawn —
    * deterministic, and the empty cluster can win vectors back later). */
  def fit(vectors: DataFrame, vecCol: String, idCol: String, k: Int,
          maxIterations: Int = 10, tol: Double = 1e-6): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    val clean = vectors.filter(col(vecCol).isNotNull)
    val dimRow = clean.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(dimRow.nonEmpty, "KMeans.fit: no non-null vectors")
    val dim = dimRow(0).getInt(0)
    val mean = udaf(new TypedAggregators.VectorMean(dim))

    var centroids = Materialize(clean.orderBy(col(idCol).asc).limit(k)
      .select(row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col(idCol)))
          .cast("long").as("cluster_id"),
        col(vecCol).cast("array<double>").as("centroid")), eager = true)
    var iter = 0
    var shift = Double.MaxValue
    while (iter < maxIterations && shift > tol) {
      val updated = assign(clean, vecCol, idCol, centroids)
        .groupBy(col("cluster_id"))
        .agg(mean(col(vecCol).cast("array<float>")).as("centroid"))
      // empty clusters keep their previous centroid: right-join the old
      // set and coalesce — k rows out, every round
      val next = Materialize(updated
        .join(centroids.select(col("cluster_id"),
          col("centroid").as("__prev")), Seq("cluster_id"), "right")
        .select(col("cluster_id"),
          coalesce(col("centroid"), col("__prev")).as("centroid"),
          SquaredL2(coalesce(col("centroid"), col("__prev")), col("__prev"))
            .as("__shift")), eager = true)
      shift = next.agg(max(col("__shift"))).collect()(0).getDouble(0)
      centroids = next.drop("__shift")
      iter += 1
    }
    val inertia = assign(clean, vecCol, idCol, centroids)
      .agg(sum(col("dist2"))).collect()(0).getDouble(0)
    Model(centroids, iter, shift, inertia)
  }

  /** Simplified (centroid-based) silhouette per cluster — the
    * clustering-quality readout for an [[assign]]ment: per point,
    * a = distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1] (≈1 = well
    * separated, ≈0 = on a boundary, <0 = closer to another centroid).
    * The centroid form scores corpus × k — the classic all-pairs
    * silhouette is O(n²) and belongs nowhere near a corpus; the
    * simplified form is the standard large-data substitute
    * (spark.ml's own choice).
    *
    * Distances are L2 (not squared — sqrt of the [[graft.plans
    * .SquaredL2]] codegen hot loop), per-point s rounds to the
    * 9-grid before the per-cluster DECIMAL mean (the q103 argmin-on-
    * raw / round-for-display discipline). A point equidistant at 0
    * from two centroids (max(a,b) = 0) scores 0. Ties in the own-
    * centroid argmin break to the smallest cluster_id ([[assign]]'s
    * contract). Output per cluster: (cluster_id, n, mean_silhouette
    * rounded 6). */
  def silhouette(vectors: DataFrame, vecCol: String, idCol: String,
                 centroids: DataFrame): DataFrame = {
    // k = 1 has no nearest-other centroid: the inner join below would
    // silently drop every point and read as "no data" — fail fast.
    require(centroids.limit(2).count() >= 2,
      "silhouette needs >= 2 centroids (with k = 1 there is no " +
        "nearest-other cluster to compare against)")
    val scored = vectors.filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(centroids.select(col("cluster_id"), col("centroid"))))
      .withColumn("__d", sqrt(SquaredL2(col(vecCol), col("centroid"))))
      .select(col(idCol).as("__id"), col("cluster_id"), col("__d"))
    val own = Dedup.keepFirst(scored, Seq("__id"),
        Seq(col("__d").asc_nulls_last, col("cluster_id").asc))
      .select(col("__id"), col("cluster_id"), col("__d").as("__a"))
    val other = scored.join(
        own.select(col("__id"), col("cluster_id").as("__own")), "__id")
      .filter(col("cluster_id") =!= col("__own"))
      .groupBy(col("__id")).agg(min(col("__d")).as("__b"))
    own.join(other, "__id")
      .select(col("__id"), col("cluster_id"),
        round(when(greatest(col("__a"), col("__b")) > 0,
            (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)), 9).as("__s"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s").cast("decimal(38,9)")).as("__sum"))
      .select(col("cluster_id"), col("n"),
        round(col("__sum").cast("double") / col("n"), 6)
          .as("mean_silhouette"))
  }
}
