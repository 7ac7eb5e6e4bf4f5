package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.0f)),
    (2L, Seq(2.0f, 0.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f)),
    (4L, Seq(1.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("cosine: identity 1, orthogonal 0, opposite -1, scale-invariant") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f))
    val out = vecs.select($"vec_id",
      VectorFunctions.cosine($"embedding", q).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(0L) - 1.0) < 1e-12)
    assert(math.abs(out(1L)) < 1e-12)
    assert(math.abs(out(2L) - 1.0) < 1e-12, "scale invariance")
    assert(math.abs(out(3L) + 1.0) < 1e-12)
    assert(math.abs(out(4L) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK returns k best by cosine with deterministic tiebreak") {
    val out = VectorFunctions.bruteForceTopK(vecs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), k = 3)
      .select("vec_id").as[Long].collect().toSeq
    // 0 and 2 both cosine=1 (tie -> lower id first), then 4
    assert(out == Seq(0L, 2L, 4L))
  }

  test("lshTopK finds the exact top-1 for an easy margin") {
    val out = VectorFunctions.lshTopK(vecs.filter($"vec_id" =!= 0L),
      "embedding", "vec_id", Seq(1.0f, 0.0f, 0.0f), k = 1, numPlanes = 2)
      .select("vec_id").as[Long].collect()
    assert(out.headOption.contains(2L))
  }

  test("lshBuckets native codegen is bit-identical to the HOF reference") {
    // real embeddings (array<float>) across plane counts and offsets,
    // incl. the 64-plane boundary
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    for ((planes, off) <- Seq((16, 0), (8, 0), (8, 8), (64, 0), (1, 3))) {
      val native = VectorFunctions.lshBuckets(emb, "embedding", planes, off)
        .select($"vec_id", $"lsh_bucket".as("b_native"))
      val hof = graft.HofReference.lshBucketsHof(emb, "embedding", planes, off)
        .select($"vec_id", $"lsh_bucket".as("b_hof"))
      val diff = native.join(hof, "vec_id")
        .filter($"b_native" =!= $"b_hof" || $"b_native".isNull =!= $"b_hof".isNull)
      assert(diff.count() == 0, s"planes=$planes offset=$off diverged")
    }
  }

  test("lshBuckets native matches HOF on edge cases: empty, null element, null vec, doubles") {
    val edge = Seq(
      (0L, Some(Seq[Option[Double]]())),                       // empty array
      (1L, Some(Seq(Some(1.0), None, Some(2.0)))),             // null element
      (2L, None),                                              // null vector
      (3L, Some(Seq(Some(0.5), Some(-0.25), Some(3.75)))))     // plain doubles
      .toDF("id", "v")
    val native = VectorFunctions.lshBuckets(edge, "v", 16).select($"id", $"lsh_bucket".as("n"))
    val hof = graft.HofReference.lshBucketsHof(edge, "v", 16).select($"id", $"lsh_bucket".as("h"))
    val rows = native.join(hof, "id").orderBy("id").as[(Long, Long, Long)].collect()
    rows.foreach { case (id, n, h) => assert(n == h, s"id=$id native=$n hof=$h") }
    // empty / null-element / null-vec all land in bucket 0 on both paths
    assert(rows.take(3).forall(_._2 == 0L))
  }

  test("l2Normalized native codegen is bit-identical to the HOF reference, " +
    "incl. zero vector, null element, null vector") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val native = VectorFunctions.l2Normalized(emb, "embedding", "v")
      .select($"vec_id", $"v".as("v_native"))
    val hof = graft.HofReference.l2NormalizedHof(emb, "embedding", "v")
      .select($"vec_id", $"v".as("v_hof"))
    val diff = native.join(hof, "vec_id")
      .filter($"v_native" =!= $"v_hof" ||
        $"v_native".isNull =!= $"v_hof".isNull)
    assert(diff.count() == 0, "real-embedding normalize diverged")
    val edge = Seq(
      (0L, Some(Seq[Option[Float]]())),                   // empty
      (1L, Some(Seq(Some(0.0f), Some(0.0f)))),            // zero norm
      (2L, Some(Seq(Some(1.0f), None))),                  // null element
      (3L, None),                                         // null vector
      (4L, Some(Seq(Some(3.0f), Some(-4.0f)))),           // exact 3-4-5
      (5L, Some(Seq(Some(Float.NaN), Some(1.0f)))))       // NaN norm
      .toDF("id", "v")
    val n2 = VectorFunctions.l2Normalized(edge, "v", "o")
      .select($"id", $"o").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val h2 = graft.HofReference.l2NormalizedHof(edge, "v", "o")
      .select($"id", $"o").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    (0L to 5L).foreach { id =>
      assert(n2(id) == h2(id) ||
        (n2(id) != null && n2(id).toString == h2(id).toString),
        s"id=$id native=${n2(id)} hof=${h2(id)}")
    }
    assert(n2(4L) == Seq(0.6f, -0.8f), "3-4-5 normalizes exactly")
  }

  test("bucketedKnn only pairs within buckets and ranks by cosine") {
    val out = VectorFunctions.bucketedKnn(vecs, "embedding", "vec_id",
      k = 2, numPlanes = 1)
    // with 1 plane there are at most 2 buckets; every returned pair must
    // have a defined cosine and id_a != id_b
    val rows = out.as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, _) => a != b })
  }

  test("dimMeans: per-group per-dimension means, exact; null vectors drop") {
    val df = Seq(
      ("a", Some(Seq(1.0, 2.0, 3.0))),
      ("a", Some(Seq(3.0, 2.0, 1.0))),
      ("b", Some(Seq(10.0, 0.0, -4.0))),
      ("b", None)).toDF("grp", "v")
    val out = VectorFunctions.dimMeans(df, "grp", "v")
      .as[(String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(
      ("a", 1) -> 2.0, ("a", 2) -> 2.0, ("a", 3) -> 2.0,
      ("b", 1) -> 10.0, ("b", 2) -> 0.0, ("b", 3) -> -4.0))
  }

  test("dimStats + standardizeDims: hand-computed moments, constant dim yields z = 0") {
    // dim 1: values 1,3,5 → mean 3, popvar 8/3; dim 2 constant → std 0
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 2.0f)), (3L, Array(5.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val stats = VectorFunctions.dimStats(vecs, "embedding")
      .as[(Int, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats(1)._1 == 3.0 && math.abs(stats(1)._2 - math.sqrt(8.0 / 3)) < 1e-12)
    assert(stats(2) == ((2.0, 0.0)))

    val z = VectorFunctions.standardizeDims(vecs, "vec_id", "embedding")
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val s1 = math.sqrt(8.0 / 3)
    assert(math.abs(z((1L, 1)) - (-2.0 / s1)) < 1e-12 &&
      math.abs(z((3L, 1)) - 2.0 / s1) < 1e-12 && z((2L, 1)) == 0.0)
    assert(Seq(1L, 2L, 3L).forall(i => z((i, 2)) == 0.0),
      "constant dimension standardizes to 0, not NaN")

    // standardized dims have mean 0 / std 1 (up to the 9-grid): re-run
    // dimStats over the z pair-table rebuilt into arrays
    val zArr = VectorFunctions.standardizeDims(vecs, "vec_id", "embedding")
      .groupBy($"vec_id")
      .agg(transform(array_sort(collect_list(struct($"dim", $"z"))),
        s => s.getField("z")).as("zv"))
    val zs = VectorFunctions.dimStats(zArr, "zv")
      .as[(Int, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(zs(1)._1) < 1e-9 && math.abs(zs(1)._2 - 1.0) < 1e-9)

    // null vectors drop from stats and transform
    val withNull = vecs.unionByName(
      Seq((4L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    assert(VectorFunctions.standardizeDims(withNull, "vec_id", "embedding")
      .count() == 6)
  }

  test("covarianceMatrix: hand-computed population covariances, upper triangle, null drop") {
    // dims over vecs: d1 = [1,0,2,-1,1] (mean .6), d2 = [0,1,0,0,1]
    // (mean .4), d3 = zeros
    val out = VectorFunctions.covarianceMatrix(vecs, "embedding")
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(out.size == 6, s"3 dims -> 6 upper-triangle pairs: $out")
    assert(out((1L, 1L)) == 1.04 && out((2L, 2L)) == 0.24)
    assert(out((1L, 2L)) == -0.04, "E[xy] - mx*my = 0.2 - 0.24")
    assert(out((1L, 3L)) == 0.0 && out((2L, 3L)) == 0.0 &&
      out((3L, 3L)) == 0.0)
    assert(!out.contains((2L, 1L)), "lower triangle omitted")

    // a null vector must not skew any count
    val withNull = vecs.unionByName(
      Seq((9L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val out2 = VectorFunctions.covarianceMatrix(withNull, "embedding")
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(out2 == out, s"$out2")
  }

  test("powerIteration: rank-1 covariance recovers the dominant direction exactly") {
    // vectors along ±(3,4,0): C = 62.5·uuᵀ with u = (0.6, 0.8, 0) —
    // power iteration lands on u after ONE multiply (Cv ∝ u for any v
    // with u·v ≠ 0); run a few to exercise the loop
    val rank1 = Seq(
      (0L, Seq(3.0f, 4.0f, 0.0f)),
      (1L, Seq(-3.0f, -4.0f, 0.0f)),
      (2L, Seq(6.0f, 8.0f, 0.0f)),
      (3L, Seq(-6.0f, -8.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cov = VectorFunctions.covarianceMatrix(rank1, "embedding")
    val v = VectorFunctions.powerIteration(cov, iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(v(1L) - 0.6) < 1e-5 && math.abs(v(2L) - 0.8) < 1e-5 &&
      math.abs(v(3L)) < 1e-9, s"$v")
    // unit norm on the 6-grid
    val norm = math.sqrt(v.values.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")

    // deterministic: rerun bit-equal
    val v2 = VectorFunctions.powerIteration(cov, iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(v == v2)

    // a zero matrix fixes at zero, never divides by zero
    val zeros = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val vz = VectorFunctions.powerIteration(
        VectorFunctions.covarianceMatrix(zeros, "embedding"), iterations = 2)
      .as[(Long, Double)].collect().toMap
    assert(vz == Map(1L -> 0.0, 2L -> 0.0), s"$vz")
    intercept[IllegalArgumentException](
      VectorFunctions.powerIteration(cov, iterations = 0))
  }

  // --- centroidDrift -------------------------------------------------------

  test("centroidDrift: identical epochs → 0; a planted per-dim shift " +
    "reads back exactly") {
    val same = Seq(
      (1L, 0L, Seq(1.0, 2.0)), (1L, 1L, Seq(1.0, 2.0)),
      (2L, 0L, Seq(5.0, 5.0)), (2L, 1L, Seq(5.0, 5.0)))
      .toDF("cluster_id", "epoch", "v")
    val r0 = VectorFunctions.centroidDrift(same, "cluster_id", "epoch", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(r0 == Map(1L -> 0.0, 2L -> 0.0))
    // epoch B mean shifted +0.3 on dim 1, −0.4 on dim 2 → drift 0.5
    val shifted = Seq(
      (1L, 0L, Seq(1.0, 2.0)), (1L, 0L, Seq(3.0, 4.0)),
      (1L, 1L, Seq(1.3, 1.6)), (1L, 1L, Seq(3.3, 3.6)))
      .toDF("cluster_id", "epoch", "v")
    val r1 = VectorFunctions.centroidDrift(shifted, "cluster_id",
      "epoch", "v").collect().head
    assert(r1.getLong(1) == 2L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.5)
  }

  test("centroidDrift: a cluster missing an epoch → counts + null drift; " +
    "partitioning-invariant") {
    val df = Seq(
      (1L, 0L, Seq(1.0, 1.0)), (1L, 1L, Seq(2.0, 1.0)),
      (7L, 0L, Seq(9.0, 9.0)), (7L, 0L, Seq(8.0, 8.0)))
      .toDF("cluster_id", "epoch", "v")
    val out = VectorFunctions.centroidDrift(df, "cluster_id", "epoch", "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 1.0)
    assert(out(7L).getLong(1) == 2L && out(7L).getLong(2) == 0L &&
      out(7L).isNullAt(3))
    val out2 = VectorFunctions.centroidDrift(df.repartition(9),
        "cluster_id", "epoch", "v")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(out2 == out.map { case (k, r) => k -> r.toSeq })
  }
}
