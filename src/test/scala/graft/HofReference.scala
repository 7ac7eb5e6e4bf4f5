package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Dedup
import graft.plans.JaroWinkler

/** Interpreted higher-order-function reference forms of native kernels,
  * brute-force all-pairs references of the similarity joins, and the
  * anti-join forms of the merges. The differential specs pin each kernel,
  * join or merge to its form here: same fold order, same null semantics,
  * bit-identical results. */
object HofReference {

  /** [[graft.operators.Merge.upsert]] as keep-last plus anti-join: the
    * target rows whose key no update holds, then the last update row per
    * key under `tiebreak`. */
  def upsertAntiJoin(target: DataFrame, updates: DataFrame, keys: Seq[String],
                     tiebreak: Seq[Column]): DataFrame = {
    val lastPerKey = Dedup.keepFirst(updates, keys, tiebreak.map(_.desc))
    target.join(lastPerKey, keys, "left_anti").unionByName(lastPerKey)
  }

  /** [[graft.operators.Merge.insertIfAbsent]] as keep-first plus
    * anti-join: every target row, then the first insert row per key under
    * `tiebreak` whose key no target row holds. */
  def insertIfAbsentAntiJoin(target: DataFrame, inserts: DataFrame, keys: Seq[String],
                             tiebreak: Seq[Column]): DataFrame = {
    val firstPerKey = Dedup.keepFirst(inserts, keys, tiebreak)
    target.unionByName(firstPerKey.join(target, keys, "left_anti"))
  }

  /** [[graft.operators.Merge.updateMisses]] as an anti-join: the update
    * rows whose key no target row holds, duplicates included. */
  def updateMissesAntiJoin(target: DataFrame, updates: DataFrame,
                           keys: Seq[String]): DataFrame =
    updates.join(target, keys, "left_anti")

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

  /** All single-character deletions of `s` (empty array for empty/1-char
    * handled naturally: "a" → [""], "" → []). */
  private def deletions(s: Column): Column =
    when(length(s) <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s), lit(1)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))

  /** [[graft.plans.OrderedDeletionVariants]]: the deletion neighborhood
    * of `s` up to depth `d`, original included, duplicates collapsed
    * keep-first. The Catalyst tree doubles per depth. */
  def deletionVariants(s: Column, d: Int): Column = {
    var v = array(s)
    for (_ <- 1 to d) v = array_distinct(concat(v, flatten(transform(v, deletions(_)))))
    v
  }

  /** All-pairs reference of [[graft.operators.EditDistance.levenshteinSelfJoin]]
    * (O(n²) — tiny frames only); same output contract. */
  def editDistanceBruteForce(df: DataFrame, idCol: String, strCol: String,
                             maxDist: Int): DataFrame = {
    val s = df.select(col(idCol).as("__eid"), col(strCol).as("__str"))
      .filter(col("__str").isNotNull)
    val a = s.select(col("__eid").as("id_a"), col("__str").as("__sa"))
    val b = s.select(col("__eid").as("id_b"), col("__str").as("__sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** All-pairs reference of [[graft.operators.JwJoin.jaroWinklerSelfJoin]]
    * (O(n²) — tiny frames only); same output contract. */
  def jwBruteForce(df: DataFrame, idCol: String, strCol: String,
                   threshold: Double,
                   blockCols: Seq[String] = Nil): DataFrame = {
    val bk = if (blockCols.isEmpty) struct(lit(0).as("__z"))
      else struct(blockCols.map(col): _*)
    val s = df.select(col(idCol).as("__id"), col(strCol).as("__s"),
        bk.as("__bk"))
      .filter(col("__s").isNotNull && length(col("__s")) > 0)
    val a = s.select(col("__id").as("id_a"), col("__s").as("__sa"),
      col("__bk").as("__bka"))
    val b = s.select(col("__id").as("id_b"), col("__s").as("__sb"),
      col("__bk").as("__bkb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b") && (col("__bka") <=> col("__bkb")))
      .select(col("id_a"), col("id_b"),
        JaroWinkler.jaroWinkler(col("__sa"), col("__sb")).as("jw"))
      .filter(col("jw") >= threshold)
  }

  /** All-pairs reference of [[graft.operators.SetSimJoin.jaccardSelfJoin]]
    * (O(n²) — tiny frames only); same output contract. */
  def setSimBruteForce(df: DataFrame, idCol: String, setCol: String,
                       threshold: Double): DataFrame = {
    val s = df.select(col(idCol).as("__sid"),
        array_sort(array_distinct(col(setCol))).as("__els"))
      .filter(size(col("__els")) > 0)
    val a = s.select(col("__sid").as("id_a"), col("__els").as("__ea"),
      size(col("__els")).as("size_a"))
    val b = s.select(col("__sid").as("id_b"), col("__els").as("__eb"),
      size(col("__els")).as("size_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("intersection",
        size(array_intersect(col("__ea"), col("__eb"))).cast("long"))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("size_a").cast("long").as("size_a"),
        col("size_b").cast("long").as("size_b"), col("intersection"),
        col("jaccard"))
  }
}
