package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The extensions route needs its own session (spark.sql.extensions is
  * fixed at session build), so this spec builds one instead of using the
  * shared harness session. */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    // getOrCreate ignores withExtensions when a session already exists
    // (suites share one JVM) — stop it; later suites re-create their own.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  // leave a clean slate so the next suite's getOrCreate builds fresh
  override protected def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  test("injected functions are available to pure SQL") {
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-15)

    val sig = spark.sql("SELECT minhash('a b c d e f') AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 32)

    val sig16 = spark.sql("SELECT minhash('a b c d e f', 3, 16) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig16.length == 16)

    val sh = spark.sql("SELECT shingle_hash_set('a b c d') AS s")
      .collect().head.getSeq[Long](0)
    assert(sh.length == 2) // 2 distinct 3-shingles in 4 tokens
    assert(sh == sh.sorted)

    // nfc_normalize: decomposed e + U+0301 composes to U+00E9 (DuckDB-
    // compatible name and semantics — used by the q98 oracle pair).
    // Scala \u escapes, not Spark chr(): Spark's chr is mod-256 ASCII.
    val nfc = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n")
      .collect().head.getString(0)
    assert(nfc == "caf\u00e9", s"got ${nfc.toList.map(_.toInt)}")

    // linkage + eval scalars reach pure SQL too (round 11): classic
    // textbook values — MARTHA/MARHTA jaro 0.944444, jw 0.961111
    val jw = spark.sql(
      "SELECT round(jaro_winkler('MARTHA', 'MARHTA'), 6) AS jw, " +
        "round(jaro_similarity('MARTHA', 'MARHTA'), 6) AS j")
      .collect().head
    assert(jw.getDouble(0) == 0.961111 && jw.getDouble(1) == 0.944444, jw)
    val lcs = spark.sql(
      "SELECT token_lcs('a b c d', 'a x c d') AS n").collect().head.getLong(0)
    assert(lcs == 3L, s"token_lcs $lcs")
    val l2 = spark.sql(
      "SELECT squared_l2(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(4.0 AS FLOAT), CAST(6.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(l2 == 25.0, s"squared_l2 $l2")

    // size parameters must be literals: a column-valued argument raises a
    // clear AnalysisException naming the parameter, not an NPE (ADVICE r1)
    spark.range(3).toDF("n").createOrReplaceTempView("ext_n")
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT minhash('a b c', n, 16) FROM ext_n").collect()
    }
    assert(e1.getMessage.contains("shingleSize"), e1.getMessage)
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT shingle_hash_set('a b c', n) FROM ext_n").collect()
    }
    assert(e2.getMessage.contains("shingleSize"), e2.getMessage)
    val e3 = intercept[AnalysisException] {
      spark.sql("SELECT minhash('a b c', 3, CAST(NULL AS INT))").collect()
    }
    assert(e3.getMessage.contains("numHashes"), e3.getMessage)
  }

  test("SQL registration works") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Double].collect().head
    assert(math.abs(r - 1.0) < 1e-15)
  }

  test("minhash and shingle_hash_set SQL forms with literal-parameter checks") {
    val sig = spark.sql("SELECT minhash('a b c d e f') AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 32)
    val sig8 = spark.sql("SELECT minhash('a b c d e f', 2, 8) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig8.length == 8)
    val sh = spark.sql("SELECT shingle_hash_set('a b c d e', 2) AS s")
      .collect().head.getSeq[Long](0)
    assert(sh.length == 4) // 4 distinct 2-shingles from 5 tokens
    // a column-valued size parameter raises the analysis error, not an NPE
    val e = intercept[AnalysisException] {
      spark.sql("SELECT minhash('a b', 2, CAST(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("numHashes"))
  }

  test("a wrong argument count raises WRONG_NUM_ARGS naming the function") {
    Seq(
      "cosine_similarity" -> "SELECT cosine_similarity(array(1.0D, 2.0D))",
      "jaro_winkler" -> "SELECT jaro_winkler('a')",
      "simhash64" -> "SELECT simhash64('a b c', 'zzz')",
      "minhash" -> "SELECT minhash('a b c', 3)").foreach { case (fn, sql) =>
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
      assert(e.getMessage.contains(s"`$fn`"), e.getMessage)
    }
  }
}
