package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** `ScaleStress.gen`'s replication contract at factor 2 over sf0.01:
  * the 2× corpus the scale points are timed on. */
class ScaleStressSpec extends SparkSpec with BeforeAndAfterAll {

  private val base = sf("sf0.01")
  private val root = Files.createTempDirectory("scale-stress").toFile
  private lazy val out = {
    val dir = s"$root/x2"
    ScaleStress.gen(spark, base, dir, 2)
    dir
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root)
    finally super.afterAll()

  private def baseT(name: String): DataFrame = spark.read.parquet(s"$base/$name.parquet")
  private def genT(name: String): DataFrame = spark.read.parquet(s"$out/$name.parquet")

  private def distinctKeys(df: DataFrame, keys: Seq[String]): Long =
    df.select(keys.map(col): _*).distinct().count()

  test("every replicated table has exactly 2x its rows and 2x its distinct keys") {
    val keyed = Seq(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "orders" -> Seq("o_orderkey"),
      // (l_orderkey, l_linenumber) repeats in the base data itself, so
      // the check is that replicas add disjoint keys, not uniqueness
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    keyed.foreach { case (t, keys) =>
      val (b, g) = (baseT(t), genT(t))
      assert(g.count() == 2 * b.count(), s"$t rows")
      assert(distinctKeys(g, keys) == 2 * distinctKeys(b, keys), s"$t keys")
      if (keys.size == 1)
        assert(distinctKeys(g, keys) == g.count(), s"$t keys distinct")
    }
    assert(distinctKeys(genT("customer"), Seq("c_name")) == 2 * baseT("customer").count())
    assert(distinctKeys(genT("supplier"), Seq("s_name")) == 2 * baseT("supplier").count())
  }

  test("foreign keys stay aligned with their replicated parents") {
    def orphans(child: String, fk: String, parent: String, pk: String): Long =
      genT(child).join(genT(parent), col(fk) === col(pk), "left_anti").count()
    assert(orphans("orders", "o_custkey", "customer", "c_custkey") == 0L)
    assert(orphans("lineitem", "l_orderkey", "orders", "o_orderkey") == 0L)
    assert(orphans("lineitem", "l_suppkey", "supplier", "s_suppkey") == 0L)
    assert(orphans("lineitem", "l_partkey", "part", "p_partkey") == 0L)
    // each replica's children reference that replica's parents: a FK
    // left verbatim would point every replica at the base parents
    Seq("orders" -> "o_custkey", "lineitem" -> "l_orderkey",
        "lineitem" -> "l_suppkey").foreach { case (t, fk) =>
      assert(distinctKeys(genT(t), Seq(fk)) == 2 * distinctKeys(baseT(t), Seq(fk)),
        s"$t.$fk")
    }
  }

  test("region, nation and part are copied verbatim") {
    Seq("region", "nation", "part").foreach { t =>
      val (b, g) = (baseT(t), genT(t))
      assert(g.columns.toSeq == b.columns.toSeq, t)
      assert(g.count() == b.count(), t)
      assert(g.exceptAll(b).isEmpty && b.exceptAll(g).isEmpty, t)
    }
  }

  test("documents gain distinct words only through the marker tokens") {
    def vocab(df: DataFrame): Set[String] =
      df.select(explode(split(col("text"), " ")).as("w")).distinct()
        .collect().map(_.getString(0)).toSet
    val (b, g) = (vocab(baseT("documents")), vocab(genT("documents")))
    assert(b.subsetOf(g))
    assert(g -- b == Set("rep1"), (g -- b).take(10))
  }
}
