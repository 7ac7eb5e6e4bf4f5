package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.{VectorFunctions => VF}

/** Maximal Marginal Relevance — diversity-aware reranking of a BOUNDED
  * retrieval candidate list (Carbonell & Goldstein 1998): greedily pick
  * the document maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, so
  * each pick is relevant AND far from everything already picked. The
  * standard last stage of a retrieval stack: recall (ANN / BM25 /
  * [[graft.operators.TextIndex.rrfFuse]]) hands a top-M list to MMR,
  * which returns the k results a user (or a training-data sampler
  * wanting non-redundant exemplars) actually sees.
  *
  * Determinism (the q99/q73 discipline): relevance and every pairwise
  * similarity round to the 4-decimal grid BEFORE scoring; each greedy
  * argmax compares `round(score, 4)` with `id` ASC as the total
  * tie-break — the selection sequence is bit-reproducible across
  * engines and partitionings.
  *
  * Scale shape: MMR is O(k·M) by nature and M is bounded BY CONSTRUCTION
  * (the caller's top-M prune — the [[TextIndex.rrfFuse]] `topM`
  * contract), so this is query-time work over a candidate list, never a
  * corpus pass. The candidate plan is `localCheckpoint`ed once (M rows —
  * the upstream retrieval plan must not re-execute per round); each of
  * the k rounds is one distributed job: remaining × selected (≤ k rows,
  * broadcast) cosine via the codegen'd [[graft.plans.CosineSimilarity]],
  * a max-penalty aggregation, and a 1-row argmax collect (the
  * [[KMeans]] per-iteration discipline). Nothing corpus-sized ever
  * reaches the driver.
  */
object Mmr {

  /** Rerank `candidates` — (idCol: integral id, relCol: relevance score,
    * vecCol: Array[Float] embedding) — to the top `k` by MMR with
    * trade-off `lambda` (1.0 = pure relevance, 0.0 = pure diversity).
    * Output: (rank 1-based, <idCol>, mmr_score), `rank` in selection
    * order. Fewer than k candidates → all of them, ranked. */
  def mmrRerank(candidates: DataFrame, idCol: String, relCol: String,
                vecCol: String, k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val spark = candidates.sparkSession
    // materialize the bounded candidate list ONCE — the retrieval plan
    // feeding it must not re-run per greedy round
    val base = Materialize(candidates.select(
      col(idCol).cast("long").as("__id"),
      round(col(relCol).cast("double"), 4).as("__rel"),
      col(vecCol).as("__vec")), eager = true)

    var selected = Vector.empty[(Long, Double)] // (id, rounded score)
    var continue = true
    while (continue && selected.size < k) {
      val selIds = selected.map(_._1)
      val rem =
        if (selIds.isEmpty) base else base.filter(!col("__id").isin(selIds: _*))
      val scored =
        if (selIds.isEmpty)
          rem.select(col("__id"), round(lit(lambda) * col("__rel"), 4).as("__score"))
        else {
          val selVecs = base.filter(col("__id").isin(selIds: _*))
            .select(col("__vec").as("__svec"))
          val pen = rem.join(broadcast(selVecs))
            .select(col("__id"),
              round(VF.cosine(col("__vec"), col("__svec")), 4).as("__s"))
            .groupBy("__id").agg(max(col("__s")).as("__pen"))
          rem.join(pen, Seq("__id"), "left")
            .select(col("__id"),
              round(lit(lambda) * col("__rel") -
                lit(1.0 - lambda) * coalesce(col("__pen"), lit(0.0)), 4)
                .as("__score"))
        }
      val top = scored.orderBy(col("__score").desc, col("__id").asc)
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else selected :+= ((top(0).getLong(0), top(0).getDouble(1)))
    }

    val rows = selected.zipWithIndex.map { case ((id, s), i) =>
      Row(i + 1, id, s)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField(idCol, LongType, nullable = false),
        StructField("mmr_score", DoubleType, nullable = false))))
  }
}
