package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge/upsert semantics as pure relational plans.
  *
  * The reference loads with three Postgres conflict idioms, all batched
  * row-at-a-time SQL:
  *  - `INSERT .. ON CONFLICT (key) DO UPDATE SET ..` (upsert, load.py:18-22)
  *  - `INSERT .. ON CONFLICT DO NOTHING` (insert-if-absent, load.py:38-42,
  *    63-65, 84-92)
  *  - `UPDATE target SET cols WHERE key = :k` (keyed update, load.py:113-125)
  *
  * Without a mutable store these become recompute-and-overwrite plans.
  * [[upsert]] and [[insertIfAbsent]] are one window over `target ∪ delta`
  * partitioned by the key, so each is one shuffle and plans the delta's
  * lineage once; [[updateMisses]] is one aggregate over the union of both
  * key sets. (An anti-join against a key-pruned copy of the delta would
  * plan the delta twice: exchange reuse cannot share two differently
  * pruned branches.) The price is that the target is shuffled with the
  * delta, where an anti-join could broadcast a small delta and stream the
  * target; a whole-table rewrite reads the target in full either way. At
  * 100 TB, partition the target by the merge key on disk so the rewrite
  * touches only affected partitions.
  *
  * Determinism: Postgres resolves intra-batch conflicts by statement order.
  * We require an explicit `tiebreak` ordering instead (SURVEY.md §2.A
  * hazards) — callers pass the column order that reproduces "file order".
  * Tiebreaks must be BARE columns (`col("ts")`), not pre-sorted
  * (`col("ts").asc`) — the merge applies its own sort direction.
  */
object Merge {

  /** Upsert (ON CONFLICT DO UPDATE): rows of `updates` replace target rows
    * sharing `keys`; unmatched update rows are inserted. Within `updates`,
    * the LAST row per key under `tiebreak` wins (statement-order analog).
    * Schemas must match. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String],
             tiebreak: Seq[Column]): DataFrame = {
    val merged = mergeOnKeys(target, updates, keys, tiebreak.map(_.desc), deltaWins = true)
    // key columns first: the layout of tables Sinks.upsertParquet stored
    merged.select((keys ++ target.columns.filterNot(keys.contains)).map(col): _*)
  }

  /** Insert-if-absent (ON CONFLICT DO NOTHING): rows of `inserts` whose key
    * is absent from `target` are appended; the FIRST row per key under
    * `tiebreak` wins among intra-batch duplicates. */
  def insertIfAbsent(target: DataFrame, inserts: DataFrame, keys: Seq[String],
                     tiebreak: Seq[Column]): DataFrame =
    mergeOnKeys(target, inserts, keys, tiebreak, deltaWins = false)

  /** The one window behind [[upsert]] and [[insertIfAbsent]]. Rows of
    * `target ∪ delta` are tagged with their side and partitioned by
    * `keys`; delta rows sort first, then by `deltaOrder`, so row 1 of a
    * key is its winning delta row. A key clashes when both sides hold it
    * and none of its columns is null (a null never matches, as in an
    * equi-join). Every target row and the winning delta row survive,
    * except that a clash drops the target rows if `deltaWins` and the
    * delta row otherwise. Columns in target order. */
  private def mergeOnKeys(target: DataFrame, delta: DataFrame, keys: Seq[String],
                          deltaOrder: Seq[Column], deltaWins: Boolean): DataFrame = {
    val side = col("__graft_side")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(side.desc +: deltaOrder: _*)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDelta = side === 1
    val winner = col("__graft_rn") === 1
    val clash = col("__graft_clash")
    target.withColumn("__graft_side", lit(0))
      .unionByName(delta.withColumn("__graft_side", lit(1)))
      .withColumns(Map(
        "__graft_rn" -> row_number().over(w),
        "__graft_clash" -> (keys.map(k => col(k).isNotNull).reduce(_ && _) &&
          min(side).over(whole) =!= max(side).over(whole))))
      .filter(
        if (deltaWins) when(isDelta, winner).otherwise(!clash)
        else !isDelta || (winner && !clash))
      .drop("__graft_side", "__graft_rn", "__graft_clash")
  }

  /** Keyed update (UPDATE .. WHERE key): overwrite `setCols` of target rows
    * whose key appears in `updates`; other rows and columns pass through.
    * `updates` must be unique per key (pre-aggregate first, as the
    * reference does — load.py:104-107). */
  def updateColumns(target: DataFrame, updates: DataFrame, keys: Seq[String],
                    setCols: Seq[String]): DataFrame = {
    // matched-ness is decided by a join marker, not value nullness — an
    // update row carrying NULL must still set the column to NULL
    // (Postgres UPDATE ... SET col = NULL semantics)
    val renamed = setCols.foldLeft(updates.select((keys ++ setCols).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"__graft_new_$c")
    }.withColumn("__graft_matched", lit(true))
    val joined = target.join(renamed, keys, "left")
    val projected = target.columns.map { c =>
      if (setCols.contains(c))
        when(col("__graft_matched"), col(s"__graft_new_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    joined.select(projected.toIndexedSeq: _*)
  }

  /** The reference's miss-warning (load.py:123-124): the distinct update
    * keys that hit no target row, as the `keys` columns. One aggregate over
    * the union of both key sets, so one shuffle and no broadcast: a key is
    * a miss when an update holds it and either no target row does or one
    * of its columns is null (a null never matches). */
  def updateMisses(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val side = col("__graft_side")
    target.select(keys.map(col) :+ lit(0).as("__graft_side"): _*)
      .unionByName(updates.select(keys.map(col) :+ lit(1).as("__graft_side"): _*))
      .groupBy(keys.map(col): _*)
      .agg(min(side).as("__graft_lo"), max(side).as("__graft_hi"))
      .filter(col("__graft_hi") === 1 &&
        (col("__graft_lo") === 1 || keys.map(k => col(k).isNull).reduce(_ || _)))
      .select(keys.map(col): _*)
  }

  /** Point-in-time (as-of) lookup against an SCD2 dimension: each fact
    * row picks the dimension version whose validity interval covers its
    * timestamp — key match, `valid_from <= ts < valid_to`, open
    * `valid_to` (NULL) = current. On a well-formed dimension (contiguous
    * intervals per key, as [[scd2FromChanges]] builds) the match is
    * unique; degenerate empty intervals `[t, t)` from same-timestamp
    * change bursts never match, exactly as intended. Facts earlier than
    * the key's first version (or with an unknown key) keep NULL attrs —
    * left join.
    *
    * Scale shape: an equi-join on the keys with the interval test as a
    * residual — sort-merge/shuffled-hash on the key columns, never a
    * cross product; versions-per-key is small by construction so the
    * residual scan is bounded. Broadcast the dimension when it fits. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                 factTsCol: String,
                 validFrom: String = "valid_from",
                 validTo: String = "valid_to"): DataFrame = {
    val cond = keys.map(k => facts(k) === dim(k)).reduce(_ && _) &&
      facts(factTsCol) >= dim(validFrom) &&
      (dim(validTo).isNull || facts(factTsCol) < dim(validTo))
    keys.foldLeft(facts.join(dim, cond, "left"))((df, k) => df.drop(dim(k)))
  }

  /** Apply a CDC changelog (op column: 'D' deletes, anything else
    * upserts — Debezium-style I/U collapse) onto a base snapshot: the
    * LATEST log row per key under `seqCols` decides the key's fate,
    * base rows with no log entry pass through. The generalization of
    * [[upsert]] that a replicated-table sync needs once deletes exist.
    *
    * Determinism: `seqCols` must totally order a key's log rows
    * (source LSN / (ts, change id)); with ties the winner is
    * undefined, the standard CDC contract. Base and log payloads must
    * share the base schema; log-only columns (`seqCols`, `opCol`) are
    * dropped from the result.
    *
    * Scale shape: one key shuffle for the latest-per-key window over
    * the LOG (delta-sized, not table-sized), one anti-join against the
    * base — AQE broadcasts the usual small delta, and a key-partitioned
    * base on disk turns the rewrite into touched-partitions-only (the
    * [[upsert]] deployment note). The base is never window-sorted. */
  def applyCdc(base: DataFrame, log: DataFrame, keys: Seq[String],
               seqCols: Seq[Column], opCol: String): DataFrame = {
    val latest = Dedup.keepFirst(log, keys, seqCols.map(_.desc))
    val survivors = latest.filter(col(opCol) =!= "D")
      .select(base.columns.map(col).toIndexedSeq: _*)
    base.join(latest, keys, "left_anti").unionByName(survivors)
  }

  /** Point-in-time snapshot (time travel) from a CDC changelog: the
    * table state as of sequence position `asOf` (inclusive), rebuilt
    * from the log alone — [[applyCdc]] answers "apply this delta";
    * this answers "what did the table look like at T" for audits,
    * backtests and reproducible training snapshots.
    *
    * Semantics: rows at `seqCol` ≤ `asOf` are visible; the latest
    * visible row per key under `seqCols` tie-broken decides; 'D' keys
    * are absent. `seqCol` is the visibility clock (an event timestamp
    * or LSN column name); `seqCols` defaults to that column alone and
    * must totally order a key's log rows (the [[applyCdc]] contract).
    * Log-only columns (`opCol`) stay — callers project.
    *
    * Scale shape: one narrow visibility filter (partition-pruned when
    * the log lands time-partitioned) + one key-keyed keep-first; no
    * base table, no window over anything bigger than the visible log. */
  def snapshotAsOf(log: DataFrame, keys: Seq[String], seqCol: String,
                   asOf: Column, opCol: String,
                   seqCols: Seq[Column] = Nil): DataFrame = {
    val ord = if (seqCols.nonEmpty) seqCols else Seq(col(seqCol))
    val visible = log.filter(col(seqCol) <= asOf)
    Dedup.keepFirst(visible, keys, ord.map(_.desc))
      .filter(col(opCol) =!= "D")
  }

  /** SCD Type 2: build a versioned dimension (validity intervals) from a
    * change log. Consecutive rows per key with unchanged `attrCols` are
    * collapsed (no-op updates create no version); each surviving version
    * is valid from its own timestamp until the next version's
    * (`valid_to` NULL = current). One shuffle on the key; at 100 TB this
    * recompute runs per affected key-partition and lands via
    * [[graft.sources.Sinks.overwritePartitions]].
    *
    * `orderCols` must totally order changes within a key (e.g. ts +
    * change id) or version boundaries are nondeterministic. */
  def scd2FromChanges(changes: DataFrame, keys: Seq[String], tsCol: String,
                      attrCols: Seq[String],
                      orderCols: Seq[Column] = Nil): DataFrame = {
    val ord = if (orderCols.nonEmpty) orderCols else Seq(col(tsCol).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val attrs = struct(attrCols.map(col): _*)
    changes
      .withColumn("__prev", lag(attrs, 1).over(w))
      // null-safe change test: first row (null prev) and genuine changes
      // survive; no-op updates collapse
      .filter(!(col("__prev") <=> attrs))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select((keys.map(col) ++ attrCols.map(col) ++
        Seq(col("valid_from"), col("valid_to"))): _*)
  }

  /** Survivorship / golden-record merge — after entity resolution
    * ([[ErStore]], [[graft.operators.Graph.connectedComponents]])
    * labels duplicate records, pick ONE canonical value per attribute
    * per entity. Strategies, each with a pinned deterministic
    * tie-break (unpinned survivorship makes golden records flap
    * between runs):
    *
    *  - `mostFrequent`: the modal non-null value, ties to the
    *    SMALLEST value;
    *  - `longest`: the longest string, ties to the smallest value;
    *  - `minOf` / `maxOf`: plain extremes;
    *  - `latestBy = (orderCol, cols)`: each col's value from the row
    *    with the greatest orderCol, ties to the greatest value (one
    *    max(struct) per col — value-level, not row-level, so each
    *    column independently takes its newest non-null).
    *
    * Nulls never win (an entity all-null in a column yields null).
    * Scale shape: min/max/longest/latest are ONE map-side-combinable
    * agg over the entity key; each mostFrequent column adds one
    * (entity, value)-grain count + keep-first — value-level tables,
    * never row collections. Output: one row per entity, columns named
    * as their sources. */
  def goldenRecord(df: DataFrame, entityCol: String,
                   mostFrequent: Seq[String] = Nil,
                   longest: Seq[String] = Nil,
                   minOf: Seq[String] = Nil,
                   maxOf: Seq[String] = Nil,
                   latestBy: Option[(String, Seq[String])] = None): DataFrame = {
    val picked = mostFrequent ++ longest ++ minOf ++ maxOf ++
      latestBy.map(_._2).getOrElse(Nil)
    require(picked.nonEmpty, "goldenRecord needs at least one strategy column")
    require(picked.distinct.size == picked.size,
      s"each column may appear under ONE strategy; duplicates: " +
        picked.diff(picked.distinct).distinct.mkString(", "))
    val aggs =
      longest.map(c => min(when(col(c).isNotNull,
          struct(negate(length(col(c))).as("__l"), col(c).as("__v"))))
        .getField("__v").as(c)) ++
      minOf.map(c => min(col(c)).as(c)) ++
      maxOf.map(c => max(col(c)).as(c)) ++
      latestBy.toSeq.flatMap { case (ord, cols) =>
        cols.map(c => max(when(col(c).isNotNull,
            struct(col(ord).as("__o"), col(c).as("__v"))))
          .getField("__v").as(c))
      }
    val base =
      if (aggs.isEmpty)
        df.select(col(entityCol)).distinct()
      else
        df.groupBy(col(entityCol)).agg(aggs.head, aggs.tail: _*)
    mostFrequent.foldLeft(base) { (acc, c) =>
      val modal = df.filter(col(c).isNotNull)
        .groupBy(col(entityCol), col(c))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(entityCol))
            .orderBy(col("__cnt").desc, col(c).asc)))
        .filter(col("__rn") === 1)
        .select(col(entityCol), col(c))
      acc.join(modal, Seq(entityCol), "left")
    }
  }
}
