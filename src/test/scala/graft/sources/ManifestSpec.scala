package graft.sources

import graft.SparkSpec
import graft.functions.IvfStore
import graft.operators._

/** The batch ledger every incremental store keeps in its manifest
  * ([[Manifest.Batches]], [[Manifest.sweep]]), and the manifest bytes
  * each store kind writes. The literals pin the on-disk format: a store
  * written by an older build must read back, and a newer build must
  * write what an older one reads. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._
  import Manifest.Batches

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/s"

  test("batch line round trip; old manifests without '|' have no tombstones") {
    val ledger = Batches(Seq(-1L, 3L), Seq(0L, 1L, 2L))
    assert(ledger.line == "-1 3 | 0 1 2")
    assert(Batches.parse(ledger.line) == ledger)
    assert(Batches(Seq(0L, 1L)).line == "0 1")
    assert(Batches.parse("0 1") == Batches(Seq(0L, 1L), Nil))
    assert(Batches.parse("  4   7 ") == Batches(Seq(4L, 7L), Nil))
    assert(Batches.empty.line == "" && Batches.parse("") == Batches.empty)
  }

  test("add refuses negative ids; isReplay sees visible and retired ids") {
    val ledger = Batches(Seq(-1L, 3L), Seq(0L, 1L))
    Seq(0L, 1L, 3L, -1L).foreach(id => assert(ledger.isReplay(id), id))
    assert(!ledger.isReplay(2L))
    assert(ledger.add(2L) == Batches(Seq(-1L, 3L, 2L), Seq(0L, 1L)))
    assert(Batches.empty.add(0L) == Batches(Seq(0L)))
    val e = intercept[IllegalArgumentException](ledger.add(-2L))
    assert(e.getMessage.contains("batchId must be >= 0"))
  }

  test("compacted folds into the next generation and keeps tombstones") {
    assert(Batches(Seq(0L, 1L, 2L)).compacted == Batches(Seq(-1L), Seq(0L, 1L, 2L)))
    // an already-compacted ledger: -1 -> -2, tombstones kept, not repeated
    assert(Batches(Seq(-1L), Seq(0L, 1L)).compacted == Batches(Seq(-2L), Seq(0L, 1L)))
    assert(Batches(Seq(-1L, 1L, 4L), Seq(0L, 1L)).compacted ==
      Batches(Seq(-2L), Seq(0L, 1L, 4L)))
  }

  test("sweep deletes superseded numeric ab= dirs only") {
    val root = java.nio.file.Files.createTempDirectory("sweep").toFile
    def dir(n: String) = new java.io.File(root, n).mkdir()
    def file(n: String) = new java.io.File(root, n).createNewFile()
    Seq("ab=-2", "ab=-1", "ab=0", "ab=3", "ab=x", "tb=1").foreach(dir)
    Seq("_SUCCESS", "ab=7", "part-0.parquet").foreach(file)
    Manifest.sweep(spark, Seq(root.toString, root.toString + "/absent"), -2L)
    assert(root.list().toSet ==
      Set("ab=-2", "ab=x", "tb=1", "_SUCCESS", "ab=7", "part-0.parquet"))
  }

  // One fixed sequence per store kind: create, append, compact, append.

  private def read(store: String, prefix: String) =
    Manifest.read(spark, store, prefix)

  test("partials stores: manifest bytes") {
    val gv = (rows: Seq[(String, Int)]) => rows.toDF("g", "v")
    val hll = tmp("pin")
    Sketches.appendSketches(gv(Seq(("a", 1))), Seq("g"), "v", hll, 1L)
    Sketches.appendSketches(gv(Seq(("b", 2))), Seq("g"), "v", hll, 2L)
    Sketches.compactStore(spark, hll)
    Sketches.appendSketches(gv(Seq(("c", 3))), Seq("g"), "v", hll, 3L)
    assert(read(hll, "_graft_hll_meta") == "12\ng\n-1 3 | 1 2")
    val kll = tmp("pin")
    Quantiles.appendSketches(gv(Seq(("a", 1))), Seq("g"), "v", kll, 1L)
    Quantiles.appendSketches(gv(Seq(("b", 2))), Seq("g"), "v", kll, 2L)
    Quantiles.compactStore(spark, kll)
    Quantiles.appendSketches(gv(Seq(("c", 3))), Seq("g"), "v", kll, 3L)
    assert(read(kll, "_graft_kll_meta") == "200\ng\n-1 3 | 1 2")
    val freq = tmp("pin")
    HeavyHitters.appendSketches(gv(Seq(("a", 1))), Seq("g"), "v", freq, 1L)
    HeavyHitters.appendSketches(gv(Seq(("b", 2))), Seq("g"), "v", freq, 2L)
    HeavyHitters.compactStore(spark, freq)
    HeavyHitters.appendSketches(gv(Seq(("c", 3))), Seq("g"), "v", freq, 3L)
    assert(read(freq, "_graft_freq_meta") == "1024\ng\n-1 3 | 1 2")
    val agg = tmp("pin")
    AggStore.append(gv(Seq(("a", 1))), Seq("g"), "v", agg, 1L)
    AggStore.append(gv(Seq(("b", 2))), Seq("g"), "v", agg, 2L)
    AggStore.compactStore(spark, agg)
    AggStore.append(gv(Seq(("c", 3))), Seq("g"), "v", agg, 3L)
    // keys before the pinned value column: AggStore's own line order
    assert(read(agg, "_graft_agg_meta") == "g\nv\n-1 3 | 1 2")
  }

  test("CentroidStore and GoldenStore: manifest bytes") {
    val cen = tmp("pin")
    CentroidStore.create(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0)))
      .toDF("cluster_id", "centroid"), cen)
    CentroidStore.append(Seq(Tuple1(Seq(1.0, 1.0))).toDF("vec"), "vec", cen, 1L)
    CentroidStore.compactStore(spark, cen)
    CentroidStore.append(Seq(Tuple1(Seq(9.0, 1.0))).toDF("vec"), "vec", cen, 2L)
    assert(read(cen, "_graft_centroid_meta") == "2\n-1 2 | 1")

    val gold = tmp("pin")
    def golden(rows: Seq[(Long, String, String, Int, Int, Long, String)],
               id: Long): Unit =
      GoldenStore.append(
        rows.toDF("id", "status", "name", "lo", "hi", "ts", "city"),
        "id", gold, id, mostFrequent = Seq("status"), longest = Seq("name"),
        minOf = Seq("lo"), maxOf = Seq("hi"),
        latestBy = Some(("ts", Seq("city"))))
    golden(Seq((1L, "x", "ann", 1, 2, 10L, "rio")), 1L)
    golden(Seq((1L, "y", "anna", 0, 3, 11L, "sp")), 2L)
    GoldenStore.compactStore(spark, gold)
    golden(Seq((2L, "x", "bo", 5, 5, 12L, "bh")), 3L)
    // the batch line is line 8 of 9: the modal column types come last
    assert(read(gold, "_graft_golden_meta") ==
      "id\nstatus\nname\nlo\nhi\nts\ncity\n-1 3 | 1 2\n\"string\"")
  }

  test("TextIndex, IvfStore and ErStore: manifest bytes") {
    val idx = tmp("pin")
    val docs = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    TextIndex.persistPostings(docs(Seq((1L, "spark shuffles data"))),
      "doc_id", "text", idx, numBuckets = 8)
    TextIndex.appendToIndex(docs(Seq((2L, "catalyst plans"))),
      "doc_id", "text", idx, 1L)
    TextIndex.compactIndex(spark, idx)
    TextIndex.appendToIndex(docs(Seq((3L, "spark joins"))),
      "doc_id", "text", idx, 2L)
    assert(read(idx, "_graft_index_meta") == "8 3 7 -1 2 | 0 1")

    val ivf = tmp("pin")
    val vecs = (rows: Seq[(Long, Seq[Float])]) => rows.toDF("id", "vec")
    IvfStore.build(vecs(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(1f, 0.1f)), (4L, Seq(0.1f, 1f)))), "vec", "id", ivf, k = 2)
    IvfStore.append(vecs(Seq((5L, Seq(0.9f, 0f)))), ivf, 1L)
    // retrain pins known centroids: their double bits are the lines below
    IvfStore.retrain(spark, ivf, Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cluster_id", "centroid"))
    IvfStore.append(vecs(Seq((6L, Seq(0f, 0.9f)))), ivf, 2L)
    assert(read(ivf, "_graft_ivf_meta") == "2 2 id vec -1 2 | 0 1\n" +
      "4607182418800017408 0\n0 4607182418800017408\n")

    val er = tmp("pin")
    val people = (rows: Seq[(Long, String)]) => rows.toDF("id", "name")
    ErStore.build(people(Seq((1L, "john smith"), (2L, "jon smith"))),
      "id", "name", er, 0.97)
    ErStore.append(people(Seq((3L, "mary jones"))), er, 1L)
    ErStore.compact(spark, er)
    ErStore.append(people(Seq((4L, "mary jone"))), er, 2L)
    assert(read(er, "_graft_er_meta") ==
      s"${java.lang.Double.doubleToLongBits(0.97)} 18 2 64 id name 0 \n" +
        "-1 2 | 0 1\n")
  }
}
