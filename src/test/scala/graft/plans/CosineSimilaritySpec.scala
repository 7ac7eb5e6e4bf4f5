package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the HOF reference bit-for-bit on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = emb.crossJoin(broadcast(q)).select(
      $"vec_id",
      VectorFunctions.cosine($"embedding", $"qv").as("native"),
      graft.HofReference.cosineHof($"embedding", $"qv").as("hof"))
    val diffs = both.filter($"native" =!= $"hof" ||
      ($"native".isNull =!= $"hof".isNull)).count()
    assert(diffs == 0, "native and HOF cosine must agree exactly")
  }

  test("null contract: length mismatch and zero vector -> null") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)), // length mismatch
      (2L, Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)))       // zero vector
      .toDF("id", "a", "b")
    val out = df.select($"id", VectorFunctions.cosine($"a", $"b").as("c"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty)
    assert(out(2L).isEmpty)
  }
}
