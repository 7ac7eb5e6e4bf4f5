package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The replay-after-compaction contract, pinned across every
  * incremental store: a micro-batch whose partials were FOLDED AWAY by
  * compactStore must still be recognized as a completed replay — in
  * the foreachBatch sinks a crash after append+compact but before the
  * streaming checkpoint commits replays the batch, and without the
  * `retired` tombstone list its deltas would land a SECOND time on top
  * of the compacted generation that already contains them
  * (double-counting; the ADVICE r12 window). Each case: append two
  * batches, compact, replay a folded id with data that WOULD move the
  * answer, assert the served result never moves. */
class StoreReplaySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/s"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("AggStore: replay of a compacted-away batch is a no-op; " +
    "tombstones survive a second compaction") {
    val store = tmp("aggreplay")
    AggStore.append(Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v"),
      Seq("g"), "v", store, 1L)
    AggStore.append(Seq(("a", 3.0)).toDF("g", "v"), Seq("g"), "v", store, 2L)
    val before = rows(AggStore.serve(spark, store))
    AggStore.compactStore(spark, store)
    // the crash-replay: same ids, hot data — must not double-count
    AggStore.append(Seq(("a", 99.0)).toDF("g", "v"), Seq("g"), "v", store, 1L)
    AggStore.append(Seq(("a", 99.0)).toDF("g", "v"), Seq("g"), "v", store, 2L)
    assert(rows(AggStore.serve(spark, store)) == before)
    // a real new batch still lands, and its id is retired by the NEXT
    // compaction while batch 1's tombstone survives it
    AggStore.append(Seq(("c", 5.0)).toDF("g", "v"), Seq("g"), "v", store, 3L)
    val withC = rows(AggStore.serve(spark, store))
    AggStore.compactStore(spark, store)
    AggStore.append(Seq(("c", 99.0)).toDF("g", "v"), Seq("g"), "v", store, 3L)
    AggStore.append(Seq(("a", 99.0)).toDF("g", "v"), Seq("g"), "v", store, 1L)
    assert(rows(AggStore.serve(spark, store)) == withC)
  }

  test("GoldenStore: replay of a compacted-away batch is a no-op " +
    "(modal counts not double-counted)") {
    val store = tmp("goldenreplay")
    // two 'x' votes across two batches; a replayed batch adding more
    // 'y' votes would flip the modal pick if tombstones were lost
    GoldenStore.append(Seq((1L, "x"), (1L, "y")).toDF("id", "status"),
      "id", store, 1L, mostFrequent = Seq("status"))
    GoldenStore.append(Seq((1L, "x")).toDF("id", "status"),
      "id", store, 2L, mostFrequent = Seq("status"))
    val before = rows(GoldenStore.serve(spark, store))
    assert(before == Set("[1,x]"))
    GoldenStore.compactStore(spark, store)
    GoldenStore.append(Seq((1L, "y"), (1L, "y")).toDF("id", "status"),
      "id", store, 2L, mostFrequent = Seq("status"))
    assert(rows(GoldenStore.serve(spark, store)) == before)
    // compacting an already-compacted store (single negative gen) no-ops
    GoldenStore.compactStore(spark, store)
    assert(rows(GoldenStore.serve(spark, store)) == before)
  }

  test("CentroidStore: replay of a compacted-away batch is a no-op") {
    val store = tmp("centroidreplay")
    CentroidStore.create(
      Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0)))
        .toDF("cluster_id", "centroid"), store)
    CentroidStore.append(Seq(Tuple1(Seq(1.0, 1.0))).toDF("vec"),
      "vec", store, 1L)
    CentroidStore.append(Seq(Tuple1(Seq(9.0, 1.0))).toDF("vec"),
      "vec", store, 2L)
    val before = rows(CentroidStore.serveGrid(spark, store))
    CentroidStore.compactStore(spark, store)
    CentroidStore.append(Seq(Tuple1(Seq(3.0, 3.0))).toDF("vec"),
      "vec", store, 1L)
    assert(rows(CentroidStore.serveGrid(spark, store)) == before)
  }

  test("HLL / KLL / Misra-Gries stores: replay of a compacted-away " +
    "batch is a no-op") {
    val hll = tmp("hllreplay")
    Sketches.appendSketches(Seq(("a", 1), ("a", 2)).toDF("g", "v"),
      Seq("g"), "v", hll, 1L)
    val hBefore = rows(Sketches.distinctCounts(spark, hll))
    Sketches.compactStore(spark, hll)
    Sketches.appendSketches(Seq(("a", 7), ("a", 8)).toDF("g", "v"),
      Seq("g"), "v", hll, 1L)
    assert(rows(Sketches.distinctCounts(spark, hll)) == hBefore)

    val kll = tmp("kllreplay")
    Quantiles.appendSketches(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0))
      .toDF("g", "v"), Seq("g"), "v", kll, 1L)
    val qBefore = rows(Quantiles.groupQuantiles(spark, kll, Seq(0.5)))
    Quantiles.compactStore(spark, kll)
    Quantiles.appendSketches(Seq(("a", 100.0)).toDF("g", "v"),
      Seq("g"), "v", kll, 1L)
    assert(rows(Quantiles.groupQuantiles(spark, kll, Seq(0.5))) == qBefore)

    val freq = tmp("freqreplay")
    HeavyHitters.appendSketches(Seq(("g", "x"), ("g", "x"), ("g", "y"))
      .toDF("g", "item"), Seq("g"), "item", freq, 1L)
    val fBefore = rows(HeavyHitters.topItems(spark, freq, 2))
    HeavyHitters.compactStore(spark, freq)
    HeavyHitters.appendSketches(Seq(("g", "y"), ("g", "y"))
      .toDF("g", "item"), Seq("g"), "item", freq, 1L)
    assert(rows(HeavyHitters.topItems(spark, freq, 2)) == fBefore)
  }

  test("TextIndex: replay of a compacted-away batch is a no-op " +
    "(corpus stats not double-counted)") {
    val store = tmp("indexreplay")
    val base = Seq((1L, "spark shuffles data"), (2L, "spark joins tables"))
      .toDF("doc_id", "text")
    TextIndex.persistPostings(base, "doc_id", "text", store, numBuckets = 8)
    TextIndex.appendToIndex(Seq((3L, "catalyst optimizes plans"))
      .toDF("doc_id", "text"), "doc_id", "text", store, batchId = 1L)
    val before = rows(TextIndex.bm25FromIndex(spark, store, Seq("spark")))
    val statsBefore = {
      val m = TextIndex.readMeta(spark, store)
      (m.nDocs, m.sumDl)
    }
    TextIndex.compactIndex(spark, store)
    TextIndex.appendToIndex(Seq((3L, "catalyst optimizes plans"))
      .toDF("doc_id", "text"), "doc_id", "text", store, batchId = 1L)
    val m = TextIndex.readMeta(spark, store)
    assert((m.nDocs, m.sumDl) == statsBefore,
      "replayed batch must not double nDocs/sumDl")
    assert(rows(TextIndex.bm25FromIndex(spark, store, Seq("spark"))) == before)
  }

  test("AggStore: a negative batch id is rejected before anything is " +
    "written, on a fresh store and on a compacted one") {
    val store = tmp("aggnegative")
    val hot = Seq(("a", 99.0)).toDF("g", "v")
    // a fresh store: -1 would later fold into generation -2 untombstoned
    intercept[IllegalArgumentException] {
      AggStore.append(hot, Seq("g"), "v", store, -1L)
    }
    assert(!AggStore.storeExists(spark, store))
    // Spark's first micro-batch id, 0, stays a valid client id
    AggStore.append(Seq(("a", 1.0)).toDF("g", "v"), Seq("g"), "v", store, 0L)
    AggStore.append(Seq(("b", 2.0)).toDF("g", "v"), Seq("g"), "v", store, 1L)
    AggStore.compactStore(spark, store)
    val compacted = rows(AggStore.serve(spark, store))
    // the live generation is -1: a client -1 is neither a replay nor data
    intercept[IllegalArgumentException] {
      AggStore.append(hot, Seq("g"), "v", store, -1L)
    }
    assert(rows(AggStore.serve(spark, store)) == compacted)
    assert(new java.io.File(store + "/partials").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq == Seq("ab=-1"))
  }

  test("HLL / KLL / Misra-Gries / golden / centroid stores reject a " +
    "negative batch id on a compacted store instead of skipping it") {
    val g = Seq(("a", 1), ("a", 2)).toDF("g", "v")
    val hll = tmp("hllnegative")
    Sketches.appendSketches(g, Seq("g"), "v", hll, 0L)
    Sketches.compactStore(spark, hll)
    intercept[IllegalArgumentException] {
      Sketches.appendSketches(Seq(("a", 7)).toDF("g", "v"),
        Seq("g"), "v", hll, -1L)
    }
    val kll = tmp("kllnegative")
    Quantiles.appendSketches(g, Seq("g"), "v", kll, 0L)
    Quantiles.compactStore(spark, kll)
    intercept[IllegalArgumentException] {
      Quantiles.appendSketches(g, Seq("g"), "v", kll, -1L)
    }
    val freq = tmp("freqnegative")
    HeavyHitters.appendSketches(g, Seq("g"), "v", freq, 0L)
    HeavyHitters.compactStore(spark, freq)
    intercept[IllegalArgumentException] {
      HeavyHitters.appendSketches(g, Seq("g"), "v", freq, -1L)
    }
    val golden = tmp("goldennegative")
    val votes = Seq((1L, "x")).toDF("id", "status")
    GoldenStore.append(votes, "id", golden, 0L, mostFrequent = Seq("status"))
    GoldenStore.compactStore(spark, golden)
    intercept[IllegalArgumentException] {
      GoldenStore.append(votes, "id", golden, -1L,
        mostFrequent = Seq("status"))
    }
    val cent = tmp("centroidnegative")
    CentroidStore.create(Seq((0L, Seq(0.0, 0.0))).toDF("cluster_id",
      "centroid"), cent)
    intercept[IllegalArgumentException] {
      CentroidStore.append(Seq(Tuple1(Seq(1.0, 1.0))).toDF("vec"),
        "vec", cent, -1L)
    }
    assert(CentroidStore.readMeta(spark, cent).batches.isEmpty)
    // the folded id 0 stays a completed replay everywhere
    Sketches.appendSketches(Seq(("a", 7)).toDF("g", "v"),
      Seq("g"), "v", hll, 0L)
    assert(rows(Sketches.distinctCounts(spark, hll)) == Set("[a,2]"))
  }

  test("IvfPqStore: a negative batch id is refused before any codes " +
    "are written, on a fresh store and on a compacted one") {
    import graft.functions.IvfPqStore
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val store = tmp("ivfpqnegative")
    IvfPqStore.build(emb.filter($"vec_id" < 300), "embedding", "vec_id",
      store, k = 4, m = 8, ksub = 16)
    def codeDirs = new java.io.File(store + "/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 320)
    intercept[IllegalArgumentException](IvfPqStore.append(batch, store, -1L))
    assert(codeDirs == Set("ab=0"))
    IvfPqStore.compactStore(spark, store)
    // the live generation is -1 now: not a replay, not a client id
    intercept[IllegalArgumentException](IvfPqStore.append(batch, store, -1L))
    assert(codeDirs == Set("ab=-1"))
  }
}
