package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Recall harness for the approximate-nearest-neighbor paths (VERDICT r7
  * item 6): the LSH/IVF operators are oracle-less by construction (their
  * outputs depend on engine hash seeds / clustering), so "bucketed probes
  * are good enough" must rest on MEASUREMENT against exact brute-force
  * cosine, not just planted-positive specs.
  *
  * Runs on the real sf0.01 embeddings (500 × 64, weak-but-real neighbor
  * structure: top sims ~0.3-0.5 over a ~0 mean — the hard case for ANN;
  * clustered corpora only do better). Measures mean recall@10 over 20
  * query vectors at the shipped settings and asserts floors set under the
  * measured values (to pin regressions, not luck), plus the exactness
  * limit: probing every IVF cluster IS brute force (recall 1.0) — the
  * knob a user turns when recall matters more than probe cost. The
  * single-table LSH measurement is what motivated [[VectorFunctions
  * .lshTopKMulti]]. Measured numbers land in BENCH_NOTES.md §r8.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val K = 10
  private val NQueries = 20

  private lazy val emb = spark.read
    .parquet(sf("sf0.01") + "/embeddings.parquet")
    .filter(col("embedding").isNotNull)
    .cache()

  private lazy val queryVecs: Seq[(Long, Seq[Float])] = {
    import scala.jdk.CollectionConverters._
    emb.filter(col("vec_id") < NQueries).orderBy(col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getList[Float](1).asScala.toSeq)).toSeq
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").as[Long].collect().toSet

  private def exactTopK(qid: Long, qv: Seq[Float]): Set[Long] =
    ids(VectorFunctions.bruteForceTopK(
      emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K))

  private def meanRecall(approx: (Long, Seq[Float]) => Set[Long]): Double = {
    val recalls = queryVecs.map { case (qid, qv) =>
      val exact = exactTopK(qid, qv)
      exact.intersect(approx(qid, qv)).size.toDouble / exact.size
    }
    recalls.sum / recalls.size
  }

  test("IVF recall@10 at shipped settings (k=8, nprobe=4) clears the floor; full probe is exact") {
    val idx = IvfIndex.build(emb, "embedding", "vec_id", k = 8, iterations = 2)
    try {
      val r = meanRecall((qid, qv) => ids(IvfIndex.topK(
        idx.indexed.filter(col("vec_id") =!= qid), idx.centroids,
        "embedding", "vec_id", qv, K, nprobe = 4)))
      info(f"IVF recall@10 (k=8, nprobe=4, half the clusters): $r%.3f")
      assert(r >= 0.75, f"IVF recall regressed: $r%.3f")

      // nprobe = k probes every cluster: the approximate path degenerates
      // to brute force and recall must be exactly 1 — the correctness
      // anchor that the bucketing itself loses nothing
      val full = meanRecall((qid, qv) => ids(IvfIndex.topK(
        idx.indexed.filter(col("vec_id") =!= qid), idx.centroids,
        "embedding", "vec_id", qv, K, nprobe = 8)))
      assert(full == 1.0, f"full probe must equal brute force, got $full%.3f")
    } finally idx.close()
  }

  test("persisted IVF store recall@10 matches the in-session floors " +
      "(served probes lose nothing to the roundtrip)") {
    val store = java.nio.file.Files
      .createTempDirectory("ann-ivfstore").toString + "/ivf"
    IvfStore.build(emb, "embedding", "vec_id", store, k = 8, iterations = 2)
    // the store indexes the full corpus (qid included), so serve K+1 and
    // drop the query's self-hit driver-side — order survives collect
    def served(nprobe: Int)(qid: Long, qv: Seq[Float]): Set[Long] =
      IvfStore.topK(spark, store, qv, K + 1, nprobe = nprobe)
        .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet
    val r = meanRecall(served(4))
    info(f"IVF-store recall@10 (k=8, nprobe=4): $r%.3f")
    assert(r >= 0.75, f"IVF-store recall regressed: $r%.3f")
    // full probe over the persisted layout is exact, same as in-session
    val full = meanRecall(served(8))
    assert(full == 1.0, f"full probe must equal brute force, got $full%.3f")
  }

  test("retrain restores the recall floor after anchor drift: stale " +
      "half-corpus anchors re-anchored on full-corpus centroids") {
    val store = java.nio.file.Files
      .createTempDirectory("ann-retrain").toString + "/ivf"
    // the drift scenario IvfStore.retrain exists for: anchors trained
    // on an early half of the corpus, the other half streamed in later
    IvfStore.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", store, k = 8, iterations = 2)
    IvfStore.append(emb.filter(col("vec_id") % 2 === 1), store, 1L)
    val fresh = IvfIndex.build(emb, "embedding", "vec_id", k = 8,
      iterations = 2)
    try IvfStore.retrain(spark, store, fresh.centroids)
    finally fresh.close()
    def served(nprobe: Int)(qid: Long, qv: Seq[Float]): Set[Long] =
      IvfStore.topK(spark, store, qv, K + 1, nprobe = nprobe)
        .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet
    val r = meanRecall(served(4))
    info(f"IVF-store recall@10 after retrain (k=8, nprobe=4): $r%.3f")
    assert(r >= 0.75, f"retrained recall floor regressed: $r%.3f")
    val full = meanRecall(served(8))
    assert(full == 1.0, f"full probe after retrain must be exact: $full%.3f")
  }

  test("persisted IVF×PQ store recall@10 clears the composed floor " +
      "(codes scan + exact refine served from disk)") {
    val store = java.nio.file.Files
      .createTempDirectory("ann-ivfpq").toString + "/s"
    IvfPqStore.build(emb, "embedding", "vec_id", store,
      k = 8, iterations = 2, m = 8, ksub = 16, pqIterations = 3)
    def served(qid: Long, qv: Seq[Float]): Set[Long] =
      IvfPqStore.topK(spark, store, qv, K + 1, nprobe = 4,
          shortlist = 60)
        .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet
    val r = meanRecall(served)
    info(f"IVF×PQ store recall@10 (k=8, nprobe=4, shortlist=60): $r%.3f")
    // bounded by the IVF probe recall (0.82 measured above) times the
    // refine stage's shortlist recall — floor pinned under both (the
    // in-session combo measured 0.7 in PqIndexSpec). This PINNED
    // geometry is corpus-size-specific by design (SCALE.md r16
    // measured it decaying 0.485 → 0.370 across a 2k → 20k decade);
    // the scale path is the shipped-defaults test below.
    assert(r >= 0.6, f"IVF×PQ store recall regressed: $r%.3f")
  }

  test("IVF×PQ store at the SHIPPED defaults (auto k ∝ √n, auto " +
      "ksub = min(256, train), auto shortlist = 0.7·scanned) clears " +
      "the scale-rule floor") {
    // the r17 rule (SCALE.md r17): recall tracks shortlist/scanned, so
    // the auto shortlist keeps the fraction FIXED while auto-k keeps
    // scanned ≈ nprobe·√n — measured 0.940/0.940 across the 2k → 20k
    // decade where every fixed geometry decays. This pins the same
    // composition at sf0.01 (n=500: k=22, ksub=256, shortlist≈64).
    val store = java.nio.file.Files
      .createTempDirectory("ann-ivfpq-auto").toString + "/s"
    IvfPqStore.build(emb, "embedding", "vec_id", store)
    def served(qid: Long, qv: Seq[Float]): Set[Long] =
      IvfPqStore.topK(spark, store, qv, K + 1, nprobe = 4)
        .collect().map(_.getLong(0)).filter(_ != qid).take(K).toSet
    val r = meanRecall(served)
    info(f"IVF×PQ store recall@10 (shipped auto defaults, nprobe=4): $r%.3f")
    assert(r >= 0.8, f"IVF×PQ shipped-default recall regressed: $r%.3f")
  }

  test("LSH recall@10: single-table collapses on weak neighbors; multi-table recovers it") {
    // single table, one bucket of 16 ≈ 6% of the corpus probed: a top-10
    // neighbor at cosine ~0.3 agrees on all 4 sign bits only ~13% of the
    // time, so recall COLLAPSES — the measurement that motivated
    // lshTopKMulti (this corpus's weak neighbors are the hard case;
    // clustered corpora only do better)
    val r1 = meanRecall((qid, qv) => ids(VectorFunctions.lshTopK(
      emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K,
      numPlanes = 4)))
    info(f"LSH recall@10 (single table, numPlanes=4, ~1/16 corpus): $r1%.3f")

    // multi-table: union of 8 independent families, 1-(1-p)^8 per
    // neighbor — the E2LSH recall dial the shipped q45 uses.
    // FINAL ADJUDICATION of this floor (r17, closes VERDICT r16 #8):
    // 0.45 is a REGRESSION PIN at sf0.01's weak-neighbor corpus, not
    // a target — measured across scales (SCALE.md r17 route table)
    // the route sits in a stable 0.73-0.82 band (0.755/0.730/0.815 at
    // 2k/20k/200k) with zero training, while IVF k=√n holds
    // 0.94-0.985 at the same probe-cost shape. The r15 routing note
    // stands as the permanent answer: IVF is the production route;
    // LSH is the zero-training streaming option, with recall sized on
    // the caller's own corpus by this spec's recall protocol.
    val r8 = meanRecall((qid, qv) => ids(VectorFunctions.lshTopKMulti(
      emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K,
      numPlanes = 4, tables = 8)))
    info(f"LSH recall@10 (8 tables, numPlanes=4): $r8%.3f")
    assert(r8 >= 0.45, f"multi-table LSH recall regressed: $r8%.3f")
    assert(r8 > r1 + 0.2,
      f"unioning tables must lift recall materially: $r8%.3f vs $r1%.3f")

    // single query sanity: one table is a strict subset of the union's
    // candidates, so the union's top-k cosine floor dominates
    val (qid, qv) = queryVecs.head
    val single = VectorFunctions.lshTopK(
      emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K,
      numPlanes = 4).as[(Long, Double)].collect()
    val multi = VectorFunctions.lshTopKMulti(
      emb.filter(col("vec_id") =!= qid), "embedding", "vec_id", qv, K,
      numPlanes = 4, tables = 8).as[(Long, Double)].collect()
    if (single.length == K && multi.length == K)
      assert(multi.map(_._2).min >= single.map(_._2).min - 1e-12)
  }
}
