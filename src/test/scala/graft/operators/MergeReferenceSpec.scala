package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{HofReference, SparkSpec}

/** Differential pins of the one-window merges and the one-aggregate miss
  * count against their anti-join forms in [[HofReference]]: same columns
  * in the same order, same schema, same multiset of rows, at 1 and 7
  * shuffle partitions. Every `ord` is unique, so each winner is decided. */
class MergeReferenceSpec extends SparkSpec {
  import spark.implicits._

  /** Single-column key: null keys on both sides, a duplicate target key
    * (1) and duplicate update keys (1, 3, null). */
  private def single: (DataFrame, DataFrame) = (
    Seq[(Option[Long], String, Int)](
      (Some(1L), "t1a", 1), (Some(1L), "t1b", 2), (Some(2L), "t2", 3),
      (None, "tn1", 4), (None, "tn2", 5), (Some(5L), "t5", 6))
      .toDF("k", "v", "ord"),
    Seq[(Option[Long], String, Int)](
      (Some(1L), "u1a", 11), (Some(1L), "u1b", 10), (Some(3L), "u3a", 12),
      (Some(3L), "u3b", 13), (None, "un1", 15), (None, "un2", 14), (Some(5L), "u5", 16),
      (Some(0L), "u0", 17))
      .toDF("k", "v", "ord"))

  /** Two-column key, partly null on both sides, duplicated on both. */
  private def pair: (DataFrame, DataFrame) = (
    Seq[(Option[Int], Option[String], String, Int)](
      (Some(1), Some("x"), "t1x", 1), (Some(1), None, "t1n", 2), (None, Some("x"), "tnx", 3),
      (None, None, "tnn", 4), (Some(2), Some("y"), "t2y", 5), (Some(2), Some("y"), "t2y'", 6))
      .toDF("a", "b", "v", "ord"),
    Seq[(Option[Int], Option[String], String, Int)](
      (Some(1), Some("x"), "u1x", 11), (Some(1), None, "u1n", 12), (None, Some("x"), "unx", 13),
      (None, None, "unn", 14), (Some(2), Some("y"), "u2y", 16), (Some(2), Some("y"), "u2y'", 15),
      (Some(3), None, "u3n", 17), (Some(3), None, "u3n'", 18), (Some(4), Some("z"), "u4z", 19))
      .toDF("a", "b", "v", "ord"))

  /** Seeded random cases: keys drawn from {null, 0..2} × {null, p, q},
    * so clashes, null parts and duplicates are all frequent. */
  private def random(seed: Int): (DataFrame, DataFrame) = {
    val r = new scala.util.Random(seed)
    val ords = r.shuffle((1 to 24).toList)
    def rows(os: Seq[Int]) = os.map { o =>
      (if (r.nextInt(4) == 0) None else Some(r.nextInt(3)),
        if (r.nextInt(3) == 0) None else Some(if (r.nextBoolean()) "p" else "q"),
        s"v$o", o)
    }
    val (t, u) = ords.splitAt(r.nextInt(13))
    (rows(t).toDF("a", "b", "v", "ord"), rows(u).toDF("a", "b", "v", "ord"))
  }

  private val cases: Seq[(String, Seq[String], () => (DataFrame, DataFrame))] =
    Seq(("single key", Seq("k"), () => single), ("two-column key", Seq("a", "b"), () => pair)) ++
      (1 to 12).map(s => (s"random seed $s", Seq("a", "b"), () => random(s)))

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g == w, s"$what\n got: $g\nwant: $w")
  }

  /** `body` at 1 and 7 shuffle partitions, with coalescing off so the
    * count holds, over inputs spread across the same number of partitions. */
  private def atPartitions(body: Int => Unit): Unit = {
    val shuffle = "spark.sql.shuffle.partitions"
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = Seq(shuffle, coalesce).map(k => k -> spark.conf.get(k))
    try {
      for (n <- Seq(1, 7)) {
        spark.conf.set(shuffle, n.toString)
        spark.conf.set(coalesce, "false")
        body(n)
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("upsert equals its anti-join form") {
    atPartitions { n =>
      for ((name, keys, data) <- cases) {
        val (t, u) = data()
        val (target, updates) = (t.repartition(n), u.repartition(n))
        assertSame(s"$name, $n partitions",
          Merge.upsert(target, updates, keys, Seq(col("ord"))),
          HofReference.upsertAntiJoin(target, updates, keys, Seq(col("ord"))))
      }
    }
  }

  test("insertIfAbsent equals its anti-join form") {
    atPartitions { n =>
      for ((name, keys, data) <- cases) {
        val (t, u) = data()
        val (target, inserts) = (t.repartition(n), u.repartition(n))
        assertSame(s"$name, $n partitions",
          Merge.insertIfAbsent(target, inserts, keys, Seq(col("ord"))),
          HofReference.insertIfAbsentAntiJoin(target, inserts, keys, Seq(col("ord"))))
      }
    }
  }

  test("updateMisses equals the anti-join of the distinct update keys") {
    atPartitions { n =>
      for ((name, keys, data) <- cases) {
        val (t, u) = data()
        val (target, updates) = (t.repartition(n), u.repartition(n))
        assertSame(s"$name, $n partitions",
          Merge.updateMisses(target, updates, keys),
          HofReference.updateMissesAntiJoin(
            target, updates.select(keys.map(col): _*).distinct(), keys))
      }
    }
  }

  test("the fixed cases hit every rule: null keys kept, duplicates resolved") {
    val (t, u) = single
    val up = Merge.upsert(t, u, Seq("k"), Seq(col("ord")))
      .select("k", "v").as[(Option[Long], String)].collect().sorted.toSeq
    // key 1: both target rows replaced by the last update (ord 11);
    // null: both target rows kept, plus the last null update (ord 15)
    assert(up == Seq((None, "tn1"), (None, "tn2"), (None, "un1"), (Some(0L), "u0"),
      (Some(1L), "u1a"), (Some(2L), "t2"), (Some(3L), "u3b"), (Some(5L), "u5")))
    val ins = Merge.insertIfAbsent(t, u, Seq("k"), Seq(col("ord")))
      .select("k", "v").as[(Option[Long], String)].collect().sorted.toSeq
    // duplicate target key 1 kept twice; null never matches, so the first
    // null insert (ord 14) lands
    assert(ins == Seq((None, "tn1"), (None, "tn2"), (None, "un2"), (Some(0L), "u0"),
      (Some(1L), "t1a"), (Some(1L), "t1b"), (Some(2L), "t2"), (Some(3L), "u3a"),
      (Some(5L), "t5")))
    val misses = Merge.updateMisses(t, u, Seq("k")).as[Option[Long]].collect().sorted.toSeq
    assert(misses == Seq(None, Some(0L), Some(3L)))
  }
}
