package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one session per suite (lazy), small local
  * parallelism, UTC, nanos-compat — the confs `GraftSession` sets that
  * differ from Spark's defaults, without `GraftExtensions`. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  /** `body` with a fresh temp dir as the session's checkpoint dir, so
    * every `Materialize` inside it is durable. The dir is unset and
    * deleted afterwards, also on failure: in local mode
    * `setCheckpointDir(null)` stores `None`, so no later suite on the
    * shared context runs durable. */
  def withCheckpointDir[A](body: java.nio.file.Path => A): A = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  /** Regular files under `dir`, at any depth. */
  def filesUnder(dir: java.nio.file.Path): Long = {
    val paths = java.nio.file.Files.walk(dir)
    try paths.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally paths.close()
  }

  /** Spark jobs `body` submits on this thread, counted with a listener.
    * The listener bus is asynchronous but ordered: once a sentinel job
    * submitted after `body` is seen, every job of `body` has been. */
  def jobsSubmittedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    jobsInGroup(tag) {
      sc.setJobGroup(tag, "counted")
      try body finally sc.clearJobGroup()
    }
  }

  /** Spark jobs of job group `group` submitted while `body` runs, on any
    * thread: a streaming query runs its micro-batches on its own thread,
    * in the job group named by its `runId`. Same sentinel as
    * [[jobsSubmittedBy]]. */
  def jobsInGroup(group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    val sentinel = s"jobs-${java.util.UUID.randomUUID()}-sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
