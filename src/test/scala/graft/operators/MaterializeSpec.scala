package graft.operators

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
}
