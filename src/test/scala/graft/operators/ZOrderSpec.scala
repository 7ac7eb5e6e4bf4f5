package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Reference interleave: bit i of column j → position i·k + j. */
  private def refZ(xs: Seq[Long], bits: Int): Long = {
    val k = xs.size
    (for {
      (x, j) <- xs.zipWithIndex
      i <- 0 until bits
    } yield ((x >> i) & 1L) << (i * k + j)).sum
  }

  test("zValue matches the reference interleave on exhaustive small grids") {
    val rows = for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y)
    val out = rows.toDF("x", "y")
      .withColumn("z", ZOrder.zValue(Seq(col("x"), col("y")), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((x, y) <- rows)
      assert(out((x, y)) == refZ(Seq(x, y), 3), s"($x,$y)")
    // three columns, too
    val out3 = Seq((5L, 3L, 6L)).toDF("a", "b", "c")
      .withColumn("z", ZOrder.zValue(Seq(col("a"), col("b"), col("c")), 3))
      .collect().head.getLong(3)
    assert(out3 == refZ(Seq(5L, 3L, 6L), 3))
  }

  test("withZValue: monotone per column, ties share ranks, constant col ranks 0") {
    val df = Seq((1.0, 10.0), (2.0, 10.0), (2.0, 10.0), (9.0, 10.0))
      .toDF("a", "b")
    val out = ZOrder.withZValue(df, Seq("a", "b"), bits = 8)
      .select(col("a"), col("__zrank_a"), col("__zrank_b"))
      .collect()
    val ranks = out.map(r => r.getDouble(0) -> r.getLong(1)).distinct.sortBy(_._1)
    assert(ranks.map(_._2).toSeq == ranks.map(_._2).sorted.toSeq) // monotone
    assert(ranks.head._2 == 0L && ranks.last._2 == 255L)          // extremes
    assert(out.count(_.getLong(1) == ranks(1)._2) == 2)           // tie shared
    assert(out.forall(_.getLong(2) == 0L))                        // constant b
  }

  test("z-ordered layout: round-trips rows and tightens per-file bounding boxes vs single-column sort") {
    val n = 20000
    // two decorrelated uniform dimensions
    val df = (0 until n).map { i =>
      (i.toLong, (i * 2654435761L % 9973).toDouble,
        (i * 40503L % 9941).toDouble)
    }.toDF("id", "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    ZOrder.writeZOrdered(df, Seq("x", "y"), s"$dir/z", numFiles = 64, bits = 12)
    df.repartitionByRange(64, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$dir/linear")

    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == n)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)

    def avgBoxSpan(path: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(((max(col("x")) - min(col("x"))) / 9972.0 +
          (max(col("y")) - min(col("y"))) / 9940.0).as("span"))
        .agg(avg(col("span"))).collect().head.getDouble(0)
      spans / 2.0
    }
    val zSpan = avgBoxSpan(s"$dir/z")
    val linSpan = avgBoxSpan(s"$dir/linear")
    // linear layout: x tight (~1/16) but y spans ~everything → avg ~0.5;
    // z-order shrinks BOTH dims — demand a decisive margin, not noise
    assert(zSpan < 0.6 * linSpan,
      s"z-order avg box span $zSpan not < 0.6x linear $linSpan")
    assert(linSpan > 0.4, s"sanity: linear layout should be loose, got $linSpan")
  }

  // two independent uniform dimensions — the hard case for single-key
  // clustering (sorting by one leaves the other fully scattered)
  private def data = spark.range(0, 40000).select(
    (col("id") % 200).as("a"),
    pmod(col("id") * 2654435761L, lit(100000L)).as("b"))

  private def perFileSpread(path: String, colName: String): Seq[Double] = {
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(colName)).cast("double"), max(col(colName)).cast("double"))
        .collect()(0)
      r.getDouble(1) - r.getDouble(0)
    }
  }

  test("z-order gives BOTH keys per-file locality; range layout only the first") {
    val dir = java.nio.file.Files.createTempDirectory("zorder")
    val rangePath = dir.toString + "/range"
    val zPath = dir.toString + "/zorder"
    graft.sources.Sinks.clusteredParquet(data, rangePath, Seq("a"), files = 16)
    ZOrder.writeZOrdered(data, Seq("a", "b"), zPath, numFiles = 16)

    // identical content either way
    assert(spark.read.parquet(zPath).count() == 40000)
    assert(spark.read.parquet(zPath).agg(sum("a"), sum("b")).collect()(0) ==
      data.agg(sum("a"), sum("b")).collect()(0))

    def avg(xs: Seq[Double]) = xs.sum / xs.size
    val rangeA = avg(perFileSpread(rangePath, "a"))
    val rangeB = avg(perFileSpread(rangePath, "b"))
    val zA = avg(perFileSpread(zPath, "a"))
    val zB = avg(perFileSpread(zPath, "b"))
    info(f"per-file avg spread — range layout: a=$rangeA%.0f b=$rangeB%.0f; " +
      f"z-order: a=$zA%.0f b=$zB%.0f (global: a=199, b≈100000)")
    // range layout: first key tightly clustered, second key scattered
    assert(rangeA < 40 && rangeB > 90000, s"range: a=$rangeA b=$rangeB")
    // z-order: BOTH keys clustered well below their global span — 16
    // files ≈ 2 bits per dimension ≈ a quarter of each range per file
    assert(zA < 199 * 0.45 && zB < 100000 * 0.45, s"z: a=$zA b=$zB")
    assert(zB < rangeB * 0.5,
      "the second key must gain real file-skipping locality vs range layout")
  }

  test("zValue interleaves: ordering by z groups spatial neighbors; guards") {
    // corners of a 2x2 grid: z-values must sort as (0,0) < (1,0) < (0,1) < (1,1)
    // under bit-interleave with x at bit 0 (each ranked on its own 16-bit grid)
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0))
      .toDF("x", "y")
    val zs = ZOrder.withZValue(pts, Seq("x", "y"))
      .select(col("x"), col("y"), col("__z"))
      .orderBy(col("__z"))
      .as[(Double, Double, Long)].collect()
    assert(zs.map(r => (r._1, r._2)).toSeq ==
      Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)), zs.toSeq)
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("x")), 16)
    }
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq.fill(4)(col("x")), 16) // 64 bits overflow a long
    }
  }
}
