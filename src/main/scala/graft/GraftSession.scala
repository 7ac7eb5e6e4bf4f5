package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * The reference engine (politicamente-etl) creates a new SQLAlchemy engine
  * per pipeline call (database.py:7-10); the Spark-native analog is a single
  * shared [[SparkSession]] configured once. Settings here are chosen for the
  * 100 TB design point and scale down to local mode:
  *
  *  - AQE on (Spark's default, pinned by GraftSessionSpec with the runtime
  *    bloom filter's): runtime coalescing of shuffle partitions, skew-join
  *    splitting and dynamic join selection replace any hand-tuned
  *    partition counts.
  *  - Broadcast threshold left at default (10 MB): dimension tables
  *    (region/nation/customer-like) broadcast automatically, mirroring the
  *    reference's driver-side dimension dict caches (load.py:56-57,66).
  *  - Session timezone pinned UTC so results are reproducible against any
  *    external oracle regardless of host TZ.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is parquet TIMESTAMP(NANOS); read as long ns
      // and normalize in sources.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the engine's SQL surface (minhash, simhash64, shingle_hash_set,
      // cosine_similarity, nfc_normalize) is part of the session contract —
      // a GraftSession user gets them in spark.sql(...) without wiring
      // spark.sql.extensions themselves
      .withExtensions(new graft.plans.GraftExtensions)

  /** Local parallelism of the command-line mains: `SPARK_GRAFT_CPUS`,
    * else every core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs in (Bench, Verify, TimeQuery,
    * ScaleStress and the demos): `cores` local threads and as many
    * initial shuffle partitions. */
  def local(cores: Int = cpus): SparkSession = {
    val s = builder(s"local[$cores]", shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
