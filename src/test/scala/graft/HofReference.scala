package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Interpreted higher-order-function reference forms of native kernels.
  * The differential specs pin each kernel to its form here: same fold
  * order, same null semantics, bit-identical results. */
object HofReference {

  /** [[VectorFunctions.cosine]] as `zip_with` + `aggregate`. */
  def cosineHof(a: Column, b: Column): Column =
    VectorFunctions.dot(a, b) / nullif(VectorFunctions.norm(a) * VectorFunctions.norm(b), lit(0.0))

  /** [[VectorFunctions.l2Normalized]]: ~2·dim interpreted lambda evals
    * per row. */
  def l2NormalizedHof(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("__graft_norm", VectorFunctions.norm(col(vecCol)))
      .withColumn(outCol,
        when(col("__graft_norm") > 0,
          transform(col(vecCol), x => x / col("__graft_norm")))
          .otherwise(col(vecCol).cast("array<double>"))
          .cast("array<float>"))
      .drop("__graft_norm")

  /** [[VectorFunctions.lshBuckets]]: plane p component i = a
    * deterministic hash mapped to [-0.5, 0.5); planeOffset shifts into a
    * disjoint plane family. */
  def lshBucketsHof(vectors: DataFrame, vecCol: String, numPlanes: Int = 16,
                    planeOffset: Int = 0): DataFrame = {
    val bucket = expr(
      s"""aggregate(
            sequence($planeOffset, ${planeOffset + numPlanes - 1}),
            0L,
            (acc, p) -> acc + shiftleft(
              CASE WHEN aggregate(
                zip_with($vecCol, sequence(0, size($vecCol) - 1),
                         (v, i) -> cast(v as double) *
                                   ((cast(pmod(xxhash64(p, i), 1000000) as double) / 1000000.0) - 0.5)),
                0.0D, (s, x) -> s + x) > 0.0D THEN 1L ELSE 0L END, p - $planeOffset))""")
    vectors.withColumn("lsh_bucket", bucket)
  }

  /** The per-token merge replay of [[graft.operators.Bpe.encode]]: outer
    * `aggregate` over the merge array (rank order), inner `aggregate`
    * over the token's symbols. */
  def encodeFoldHof(syms: Column, ordered: Seq[(String, String, String)]): Column = {
    if (ordered.isEmpty) return syms
    val mergeTab = typedlit(ordered) // array<struct<_1,_2,_3>> — ONE literal node
    aggregate(mergeTab, syms, (acc, mrg) =>
      aggregate(acc,
        lit(Array.empty[String]).cast("array<string>"),
        (out, x) =>
          when(size(out) > 0 &&
               element_at(out, -1) === mrg.getField("_1") &&
               x === mrg.getField("_2"),
            concat(slice(out, lit(1), size(out) - 1),
              array(mrg.getField("_3"))))
            .otherwise(concat(out, array(x)))))
  }
}
