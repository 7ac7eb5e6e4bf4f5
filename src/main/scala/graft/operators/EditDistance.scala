package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact edit-distance (Levenshtein) similarity self-join via symmetric
  * deletion neighborhoods (the SymSpell family) — the short-string
  * counterpart of [[SetSimJoin]]: entity/name/title near-match without
  * an all-pairs comparison.
  *
  * Principle: if lev(a, b) <= d then deleting at most d characters from
  * each side reaches a COMMON string (delete a's surplus/substituted
  * characters and b's counterparts under any optimal alignment). So an
  * equi-join on "all strings reachable by <= d deletions" (the deletion
  * neighborhood, original included) yields a candidate superset with
  * zero false negatives, and one exact `levenshtein` gate — a
  * codegen'd builtin — decides membership. No pair outside a shared
  * neighborhood is ever materialized.
  *
  * Scale shape: one narrow projection expands each string into its
  * <= 1 + n + n·(n-1)/2 + … neighborhood variants (n = length), one
  * equi-join shuffle keyed by variant, a distinct collapses
  * multi-variant agreements, then the gate touches candidates only.
  * Designed for SHORT strings (names, titles, codes: n up to ~50 and
  * d <= 2) — neighborhood size grows as n^d, which is the documented
  * trade of the whole SymSpell family; for long-text near-dup use the
  * shingle/MinHash path instead. Variant blocks behave like
  * [[SetSimJoin]] prefix blocks: a block of b strings sharing a variant
  * contributes at most b² candidates — short-string universes keep b
  * small because a variant pins all but d characters.
  */
object EditDistance {

  /** All pairs (id_a < id_b) with levenshtein(strCol_a, strCol_b) <=
    * `maxDist`. Null strings never pair. Output: (id_a, id_b, dist).
    *
    * Plan shape (4× the r7 version at sf0.1 — profiled piecewise):
    *  - the variant equi-join carries only (id, xxhash64(variant)) — the
    *    strings never ride through the blocked join's fan-out, and the
    *    join/distinct keys are fixed-width longs, not variant strings. A
    *    64-bit hash collision merges two blocks, which only ADDS
    *    candidates for the exact gate to reject — zero false negatives
    *    are preserved (equal variants always hash equal);
    *  - `distinct` runs on bare (id_a, id_b) pairs;
    *  - the strings re-attach via two narrow id-keyed joins against the
    *    input (the planner broadcasts a small entity table from stats;
    *    at corpus scale they are two 8-byte-key shuffles — either way
    *    cheaper than strings × candidate fan-out);
    *  - the exact gate is the THRESHOLD levenshtein (banded O(n·d) DP
    *    with early exit, Spark 3.5+) instead of the full O(n·m) matrix —
    *    it returns -1 past the threshold, and the in-bound values it
    *    does return are exact. */
  def levenshteinSelfJoin(df: DataFrame, idCol: String, strCol: String,
                          maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // the deletion neighborhood grows n^d — the documented short-string
    // design envelope (d <= 2 typical); fail fast instead of a
    // pathological variant explosion.
    require(maxDist <= 3, s"maxDist must be <= 3, got $maxDist — the " +
      "deletion-neighborhood design is for short strings and small d; " +
      "for long-text near-dup use the shingle/MinHash path")
    val base = df.select(col(idCol).as("__eid"), col(strCol).as("__str"))
      .filter(col("__str").isNotNull)
    // codegen neighborhood ([[graft.plans.OrderedDeletionVariants]] —
    // the interpreted HOF chain stays the reference form in
    // graft.HofReference; same strings, same order, one static call)
    val vars = base.select(col("__eid"),
        explode(graft.plans.OrderedDeletionVariants.of(col("__str"),
          maxDist)).as("__v"))
      .select(col("__eid"), xxhash64(col("__v")).as("__vh"))
    val a = vars.select(col("__eid").as("id_a"), col("__vh"))
    val b = vars.select(col("__eid").as("id_b"), col("__vh").as("__vhb"))
    // rename-keyed self-join: same-lineage column refs would lean on
    // dataset-id disambiguation
    val candidates = a.join(b,
        col("__vh") === col("__vhb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val namesA = base.select(col("__eid").as("id_a"), col("__str").as("__sa"))
    val namesB = base.select(col("__eid").as("id_b"), col("__str").as("__sb"))
    candidates
      .join(namesA, "id_a").join(namesB, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }
}
