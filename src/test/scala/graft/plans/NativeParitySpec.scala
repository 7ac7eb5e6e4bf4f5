package graft.plans

import java.nio.file.Files

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.theta.UpdateSketch
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Every row of [[NativeFunctions.table]] gives the same rows through
  * codegen (whole-stage on, expression factory CODEGEN_ONLY) and through
  * the interpreter (whole-stage off, NO_CODEGEN), on one fixture of edge
  * cases plus 50 real embeddings; and a wrong-type argument fails
  * analysis instead of being implicitly cast. */
class NativeParitySpec extends SparkSpec {

  private val codebooks = Array(
    Array(Array(0.0f), Array(1.0f), Array(-2.0f)),
    Array(Array(0.5f), Array(2.0f), Array(3.0f)))
  private val lut = Array.tabulate(2, 256)((s, c) => s * 0.5f + c * 0.25f)
  private val merges = Seq(("t", "h", "th"), ("th", "e", "the"), ("a", "a", "aa"))

  /** One call per table row over the fixture columns, and one call whose
    * argument types are wrong but castable to the right ones. */
  private val calls: Map[String, (Column, Column)] = {
    def c(n: String) = col(n)
    Map(
      "cosine_similarity" -> (CosineSimilarity(c("fa"), c("fb")), CosineSimilarity(c("ia"), c("fb"))),
      "squared_l2" -> (SquaredL2(c("da"), c("fb")), SquaredL2(c("ia"), c("fb"))),
      "l2_normalize" -> (L2Normalize.of(c("fa")), L2Normalize.of(c("ia"))),
      "hyperplane_lsh" -> (HyperplaneLsh(c("da"), 8, 3), HyperplaneLsh(c("ia"), 8)),
      "pq_encode" -> (PqCodes.encode(c("fa"), codebooks), PqCodes.encode(c("ia"), codebooks)),
      "pq_adc" -> (PqCodes.adc(c("codes"), lut), PqCodes.adc(c("s1"), lut)),
      "nfc_normalize" -> (NfcNormalize(c("s1")), NfcNormalize(c("n"))),
      "minhash" -> (MinHashSignature(c("s1"), 2, 8, nfc = true), MinHashSignature(c("n"))),
      "simhash64" -> (SimHash64(c("s1")), SimHash64(c("n"))),
      "shingle_hash_set" -> (ShingleHashSet(c("s1"), 2), ShingleHashSet(c("n"))),
      "jaro_winkler" -> (JaroWinkler.jaroWinkler(c("s1"), c("s2")), JaroWinkler.jaroWinkler(c("n"), c("s2"))),
      "jaro_similarity" -> (JaroWinkler.jaro(c("s1"), c("s2")), JaroWinkler.jaro(c("s1"), c("n"))),
      "token_lcs" -> (TokenLcs.tokenLcs(c("s1"), c("s2")), TokenLcs.tokenLcs(c("n"), c("s2"))),
      "band_hashes" -> (BandHashes(c("la"), 2, 2), BandHashes(c("ia"), 2, 2)),
      "bpe_merge_fold" -> (BpeMergeFold.of(c("sa"), merges), BpeMergeFold.of(c("ia"), merges)),
      "clipped_ngram_overlap" -> (ClippedNgramOverlap.of(c("sa"), c("sb"), 2),
        ClippedNgramOverlap.of(c("ia"), c("sb"), 2)),
      "distinct_ngram_count" -> (DistinctNgramCount.of(c("sa"), 2), DistinctNgramCount.of(c("ia"), 2)),
      "md5_uniform_seq" -> (Md5UniformSeq.of(c("s1"), 4), Md5UniformSeq.of(c("n"), 4)),
      "multiset_variant_keys" -> (MultisetVariantKeys.of(c("s1"), 2), MultisetVariantKeys.of(c("n"), 2)),
      "ordered_deletion_variants" -> (OrderedDeletionVariants.of(c("s1"), 2),
        OrderedDeletionVariants.of(c("n"), 2)),
      "freq_top_k" -> (FreqSketch.topK(c("freq"), 2), FreqSketch.topK(c("s1"), 2)),
      "kll_quantiles" -> (KllSketch.quantiles(c("kll"), Seq(0.5, 0.9)),
        KllSketch.quantiles(c("s1"), Seq(0.5))),
      "kll_stats" -> (KllSketch.stats(c("kll")), KllSketch.stats(c("s1"))),
      "theta_estimate" -> (ThetaSketch.estimate(c("th1")), ThetaSketch.estimate(c("s1"))),
      "theta_intersect" -> (ThetaSketch.intersect(c("th1"), c("th2")),
        ThetaSketch.intersect(c("s1"), c("th2"))),
      "theta_difference" -> (ThetaSketch.difference(c("th1"), c("th2")),
        ThetaSketch.difference(c("th1"), c("s1"))))
  }

  private def kll(xs: Double*): Array[Byte] = {
    val sk = KllDoublesSketch.newHeapInstance(200)
    xs.foreach(sk.update)
    sk.toByteArray
  }
  private def freq(items: String*): Array[Byte] = {
    val sk = new ItemsSketch[String](8)
    items.foreach(sk.update)
    sk.toByteArray(new ArrayOfStringsSerDe)
  }
  private def theta(ids: Range): Array[Byte] = {
    val sk = UpdateSketch.builder().build()
    ids.foreach(i => sk.update(i.toLong))
    sk.compact().toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s1", StringType), StructField("s2", StringType),
    StructField("fa", ArrayType(FloatType)), StructField("fb", ArrayType(FloatType)),
    StructField("da", ArrayType(DoubleType)),
    StructField("sa", ArrayType(StringType)), StructField("sb", ArrayType(StringType)),
    StructField("la", ArrayType(LongType)),
    StructField("codes", BinaryType),
    StructField("kll", BinaryType), StructField("freq", BinaryType),
    StructField("th1", BinaryType), StructField("th2", BinaryType),
    StructField("n", IntegerType), StructField("ia", ArrayType(IntegerType))))

  // edge cases by row: 1 null input, 2 empty array/string/sketch,
  // 3 length mismatch, 4 zero vector, 5 NaN, 6 null element
  private def edgeRows: Seq[Row] = Seq(
    Row(1L, null, "abc", null, Seq(1f, 2f), null, null, Seq("a"), null,
      null, null, null, null, null, null, null),
    Row(2L, "", "", Seq(), Seq(), Seq(), Seq(), Seq(), Seq(),
      Array.emptyByteArray, kll(), freq(), theta(0 until 0), theta(0 until 0), 0, Seq()),
    Row(3L, "martha", "marhta", Seq(1f, 2f), Seq(1f, 2f, 3f), Seq(1.0, 2.0, 3.0),
      Seq("t", "h", "e"), Seq("t", "h"), Seq(1L, 2L, 3L),
      Array[Byte](1, 2, 3), kll((1 to 100).map(_.toDouble): _*), freq("a", "a", "b"),
      theta(0 until 10), theta(5 until 15), 3, Seq(1, 2)),
    Row(4L, "a b c d e f", "a x c d", Seq(0f, 0f), Seq(1f, 2f), Seq(0.0, 0.0),
      Seq("a", "a", "a", "a"), Seq("a", "a"), Seq(5L, 6L, 7L, 8L),
      Array[Byte](0, 1), kll(7.0), freq("x"), theta(0 until 3), theta(0 until 3), 4, Seq(0, 0)),
    Row(5L, "cafe\u0301 cre\u0300me bru\u0302le\u0301e", "caf\u00e9", Seq(Float.NaN, 1f), Seq(1f, 1f),
      Seq(Double.NaN, 1.0), Seq("a", "b", "a", "b"), Seq("b", "a"), Seq(-1L, Long.MaxValue),
      Array[Byte](-1, 2), kll(Double.NaN, 1.0), freq("q", "r", "q"),
      theta(0 until 4), theta(10 until 12), 5, Seq(1)),
    Row(6L, "x", "xyz", Seq(1f, null), Seq(null, 2f), Seq(1.0, null),
      Seq("a", null, "b"), Seq("a", "b"), Seq(1L, null, 3L, 4L),
      Array[Byte](7, 9), null, null, null, null, 6, Seq(1, null)))

  private lazy val fixture: DataFrame = {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val real = emb.crossJoin(q).select(
      (col("vec_id") + 100L).as("id"), lit(null).cast("string").as("s1"),
      lit(null).cast("string").as("s2"), col("embedding").as("fa"),
      col("qv").as("fb"), col("embedding").cast("array<double>").as("da"))
    val edges = spark.createDataFrame(
      java.util.Arrays.asList(edgeRows: _*), schema)
    val all = edges.unionByName(real, allowMissingColumns = true)
    val dir = Files.createTempDirectory("native-parity").resolve("fixture").toString
    all.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // Row equality is reference equality on binaries and false on NaN
  // inside arrays; compare a normalized form instead
  private def normalize(v: Any): Any = v match {
    case b: Array[Byte]                 => b.toSeq
    case d: Double if d.isNaN           => "NaN"
    case f: Float if f.isNaN            => "NaN"
    case s: scala.collection.Seq[_]     => s.map(normalize)
    case r: Row                         => r.toSeq.map(normalize)
    case o                              => o
  }

  private def run(call: Column, codegen: Boolean): (Seq[Any], SparkPlan) =
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      val df = fixture.select(col("id"), call.as("out"))
      val rows = df.collect().sortBy(_.getLong(0)).toSeq.map(normalize)
      (rows, df.queryExecution.executedPlan)
    }

  NativeFunctions.table.foreach { f =>
    test(s"${f.name}: codegen rows == interpreted rows; wrong type fails analysis") {
      val (call, wrongType) = calls.getOrElse(f.name,
        fail(s"no parity fixture for table row ${f.name}"))
      val (compiled, plan) = run(call, codegen = true)
      val (interpreted, _) = run(call, codegen = false)
      assert(compiled == interpreted)
      assert(compiled.size == 56)
      assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined, plan)
      val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e
      }))
      assert(fallbacks.isEmpty, plan)

      val e = intercept[AnalysisException] {
        fixture.select(wrongType).queryExecution.assertAnalyzed()
      }
      assert(e.getMessage.contains(f.name), e.getMessage)
    }
  }

  test("table arguments compare by value and print a readable label") {
    def select(m: Seq[(String, String, String)], cb: Array[Array[Array[Float]]],
               l: Array[Array[Float]]) =
      fixture.select(BpeMergeFold.of(col("sa"), m), PqCodes.encode(col("fa"), cb),
        PqCodes.adc(col("codes"), l))
    val df = select(merges, codebooks, lut)
    val copy = select(merges.map(identity), codebooks.map(_.map(_.clone)),
      lut.map(_.clone))
    assert(df.queryExecution.optimizedPlan.sameResult(copy.queryExecution.optimizedPlan))
    val plan = df.queryExecution.executedPlan.toString
    Seq("3 merges [t+h=th, th+e=the, a+a=aa]", "pq codebooks 2x3x1", "pq lut 2x256")
      .foreach(label => assert(plan.contains(label), plan))
    assert(!plan.contains("[[L"), plan)
  }
}
