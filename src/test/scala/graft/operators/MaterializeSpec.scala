package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class MaterializeSpec extends SparkSpec {

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  private def grid(n: Int): DataFrame =
    spark.range(n).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))

  private def persisted(r: RDD[_]): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(r.id)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Checkpointed with no file (a local checkpoint), or with its file
    * under `dir` (a durable one). */
  private def local(r: RDD[_]): Boolean =
    r.isCheckpointed && r.getCheckpointFile.isEmpty
  private def durableUnder(dir: Path)(r: RDD[_]): Boolean =
    r.isCheckpointed && r.getCheckpointFile.exists(_.contains(dir.toString))

  test("release drops lazy, eager and never-materialized checkpoints") {
    val lazyRead = Materialize(grid(100))
    lazyRead.collect()
    val eager = Materialize(grid(200), eager = true)
    val never = Materialize(grid(300))
    val rdds = Seq(lazyRead, eager, never).map(rddOf)
    rdds.foreach(r => assert(persisted(r), s"rdd ${r.id} registered"))
    // the never-read checkpoint is registered but not checkpointed, so a
    // sweep that filters on isCheckpointed would leave it behind
    assert(!rddOf(never).isCheckpointed)
    Materialize.release(spark)
    rdds.foreach(r => assert(!persisted(r), s"rdd ${r.id} released"))
  }

  test("release leaves a persisted Dataset and its blocks alone") {
    val cached = grid(400).persist(StorageLevel.MEMORY_AND_DISK)
    cached.collect()
    def cachedBlocks = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(i => i.id -> i.numCachedPartitions).toMap
    val before = cachedBlocks
    assert(before.nonEmpty)
    Materialize(grid(500)).collect()
    Materialize.release(spark)
    assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
    before.foreach { case (id, n) =>
      assert(cachedBlocks.get(id).contains(n), s"cached rdd $id keeps its $n blocks")
    }
    cached.unpersist(blocking = true)
  }

  test("a lazy Materialize submits no Spark job; an eager one does") {
    // a narrow plan: under AQE, the shuffle map stages below a lazy
    // checkpoint still run when it is created (grid(100) submits one job)
    val narrow = spark.range(100).select((col("id") * 2).as("x"))
    assert(jobsSubmittedBy(Materialize(narrow)) == 0)
    assert(jobsSubmittedBy(Materialize(narrow, eager = true)) > 0)
    Materialize.release(spark)
  }

  test("a lazy Materialize over a groupBy runs its shuffle map stage at creation") {
    // AQE executes the map stage inside Dataset.checkpoint's action
    assert(jobsSubmittedBy(Materialize(grid(100))) == 1)
    Materialize.release(spark)
  }

  test("the RDD form submits no job, carries the tag and is released") {
    val counts = spark.sparkContext.parallelize(1 to 100, 4)
      .map(i => (i % 7, 1)).reduceByKey(_ + _)
    var m: RDD[(Int, Int)] = null
    // unlike the frame form over a groupBy: no job, shuffle included
    assert(jobsSubmittedBy { m = Materialize(counts) } == 0)
    assert(m.name == Materialize.Tag)
    assert(persisted(m) && !m.isCheckpointed)
    assert(m.values.sum() == 100)
    assert(m.isCheckpointed, "the first job stores it and truncates its lineage")
    Materialize.release(spark)
    assert(!persisted(m))
  }

  test("a lazy frame: a checkpoint dir makes it durable with the same rows; none writes nothing") {
    val narrow = spark.range(100).select((col("id") * 2).as("x"))
    val plain = Materialize(narrow)
    val want = sortedRows(plain)
    assert(local(rddOf(plain)))
    withCheckpointDir { dir =>
      var m: DataFrame = null
      assert(jobsSubmittedBy { m = Materialize(narrow) } == 0)
      assert(filesUnder(dir) == 0, "a lazy checkpoint writes at its first read")
      assert(sortedRows(m) == want)
      assert(durableUnder(dir)(rddOf(m)) && filesUnder(dir) > 0)
    }
    Materialize.release(spark)
  }

  test("an eager frame: a checkpoint dir makes it durable with the same rows; none writes nothing") {
    val plain = Materialize(grid(200), eager = true)
    assert(local(rddOf(plain)))
    val want = sortedRows(plain)
    withCheckpointDir { dir =>
      val m = Materialize(grid(200), eager = true)
      assert(durableUnder(dir)(rddOf(m)) && filesUnder(dir) > 0,
        "an eager checkpoint writes at creation")
      assert(sortedRows(m) == want)
    }
    Materialize.release(spark)
  }

  test("the RDD form: a checkpoint dir makes it durable with the same rows; none writes nothing") {
    def counts = spark.sparkContext.parallelize(1 to 100, 4)
      .map(i => (i % 7, 1)).reduceByKey(_ + _)
    val plain = Materialize(counts)
    val want = plain.collect().sorted.toSeq
    assert(local(plain))
    withCheckpointDir { dir =>
      var m: RDD[(Int, Int)] = null
      assert(jobsSubmittedBy { m = Materialize(counts) } == 0)
      assert(m.name == Materialize.Tag && filesUnder(dir) == 0)
      assert(m.collect().sorted.toSeq == want)
      assert(durableUnder(dir)(m) && filesUnder(dir) > 0)
    }
    Materialize.release(spark)
  }

  test("no file in src/main but Materialize.scala checkpoints or reads the checkpoint dir") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"${main.toAbsolutePath}: run from the project root")
    val calls = Seq("localCheckpoint(", ".checkpoint(", "getCheckpointDir", "setCheckpointDir")
    val home = main.resolve("scala/graft/operators/Materialize.scala")
    val walk = Files.walk(main)
    val files = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    val found = for {
      f <- files if f != home
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      c <- calls if line.contains(c)
    } yield s"$f:${i + 1}: $c"
    assert(found.isEmpty, found.mkString("\n"))
    val own = Files.readString(home)
    assert(calls.take(3).forall(own.contains), "Materialize.scala makes the calls itself")
  }
}
