package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one lineage-truncation primitive: every iterative loop
  * and every multi-referenced intermediate goes through here, so the
  * local-vs-durable decision and the cleanup of the blocks it leaves
  * live in one place.
  *
  * The session's checkpoint directory is the only switch, as in Spark's
  * own `PeriodicCheckpointer`: with none set (the default), a
  * truncation is a local checkpoint held in executor blocks; once
  * `sparkContext.setCheckpointDir(<durable path>)` is called (or the
  * session starts with Spark's `spark.checkpoint.dir`), every
  * truncation is written there instead (`checkpoint`): slower, but the
  * truncated lineage survives a lost executor, which a local
  * checkpoint's executor-held blocks do not. Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to reap the
  * files of superseded loop rounds.
  *
  * A lazy frame form is lazy only above its last shuffle: under AQE,
  * `Dataset.checkpoint` runs the map stages of every shuffle in the plan
  * as Spark jobs when the checkpoint is created (a `groupBy` below the
  * call costs one job then, not at the first read). Job counts of a
  * loop must include them. The RDD form `Materialize(rdd)` submits no
  * job at creation.
  *
  * Every RDD created here is tagged by name, and [[release]] unpersists
  * exactly the tagged set. Only names are held, never references, so
  * `ContextCleaner` still reaps superseded loop rounds. */
object Materialize {

  private[operators] val Tag = "graft.Materialize"

  /** `Dataset.checkpoint(eager)` or `Dataset.localCheckpoint(eager)`. */
  def apply(df: DataFrame, eager: Boolean = false): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
    out.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.setName(Tag)
      case _ =>
    }
    out
  }

  /** The RDD form, for loops that run on RDDs: a lazy `rdd.checkpoint()`
    * or `rdd.localCheckpoint()`, tagged like the frame form. The first
    * job that computes the RDD truncates its lineage. */
  def apply[T](rdd: RDD[T]): RDD[T] = {
    rdd.setName(Tag)
    if (rdd.sparkContext.getCheckpointDir.isDefined) { rdd.checkpoint(); rdd }
    else rdd.localCheckpoint()
  }

  /** Unpersist every RDD [[apply]] created in this session: lazy, eager
    * and never-materialized ones alike. Dataset caches (`persist()`)
    * and on-disk stores are not touched. Call it only once nothing will
    * read the released frames again, e.g. between independent queries. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == Tag)
      .foreach(_.unpersist(blocking = false))
}
