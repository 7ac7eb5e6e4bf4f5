package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("sinks").toString + "/t"

  test("appendParquet appends; partitioned layout on disk") {
    val p = tmp()
    Sinks.appendParquet(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "part"),
      p, Seq("part"))
    Sinks.appendParquet(Seq((3L, "c", "x")).toDF("k", "v", "part"), p, Seq("part"))
    assert(spark.read.parquet(p).count() == 3)
    assert(new java.io.File(p, "part=x").exists())
  }

  test("overwritePartitions rewrites only touched partitions") {
    val p = tmp()
    Sinks.appendParquet(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "part"),
      p, Seq("part"))
    Sinks.overwritePartitions(Seq((9L, "A2", "x")).toDF("k", "v", "part"), p, Seq("part"))
    val out = spark.read.parquet(p).orderBy("k").select("k", "v")
      .as[(Long, String)].collect().toSeq
    // partition x replaced, partition y untouched
    assert(out == Seq((2L, "b"), (9L, "A2")))
  }

  test("overwritePartitions sets the dynamic mode on its own write, not on the session") {
    // each streaming query writes from its own thread: a mode set on the
    // shared session reaches every concurrent writer's tasks, and its
    // restore can turn another writer's insert into a static overwrite
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    val seen = udf(() => org.apache.spark.sql.internal.SQLConf.get
      .partitionOverwriteMode.toString).asNondeterministic()
    val p = tmp()
    Sinks.appendParquet(Seq((1L, "-", "x"), (2L, "-", "y"))
      .toDF("k", "mode", "part"), p, Seq("part"))
    Sinks.overwritePartitions(Seq((9L, "x")).toDF("k", "part")
      .select(col("k"), seen().as("mode"), col("part")), p, Seq("part"))
    val out = spark.read.parquet(p).orderBy("k").select("k", "mode")
      .as[(Long, String)].collect().toSeq
    // still a dynamic overwrite, but its task saw the session's own mode
    assert(out == Seq((2L, "-"), (9L, before.toUpperCase)))
    assert(spark.conf.get(key) == before)
  }

  test("upsertParquet merges against existing state on disk") {
    val p = tmp()
    Sinks.upsertParquet(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    Sinks.upsertParquet(Seq((2L, "B2", 2), (3L, "c", 2)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    val out = spark.read.parquet(p).orderBy("k").select("k", "v")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // swap left no working dirs behind (ADVICE r1: crash-safe rename order)
    assert(!new java.io.File(p + "__graft_tmp").exists())
    assert(!new java.io.File(p + "__graft_old").exists())
  }

  test("upsertParquet stores the key columns first from the first write on") {
    val p = tmp()
    Sinks.upsertParquet(Seq(("a", 1L, 1), ("b", 2L, 1)).toDF("v", "k", "ver"),
      p, Seq("k"), Seq(col("ver")))
    assert(spark.read.parquet(p).columns.toSeq == Seq("k", "v", "ver"))
    Sinks.upsertParquet(Seq(("B2", 2L, 2)).toDF("v", "k", "ver"),
      p, Seq("k"), Seq(col("ver")))
    assert(spark.read.parquet(p).columns.toSeq == Seq("k", "v", "ver"))
    assert(spark.read.parquet(p).orderBy("k").as[(Long, String, Int)]
      .collect().toSeq == Seq((1L, "a", 1), (2L, "B2", 2)))
  }

  test("upsertJdbc round-trips with Merge.upsert conflict semantics (embedded Derby)") {
    val dbDir = java.nio.file.Files.createTempDirectory("derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val ddl = java.sql.DriverManager.getConnection(url)
    ddl.createStatement().execute(
      "CREATE TABLE tgt (k BIGINT PRIMARY KEY, v VARCHAR(32), ver INT)")
    ddl.close()
    // key-hash partitioning: concurrent partitions never share a key
    val first = Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "ver")
      .repartition(4, col("k"))
    Sinks.upsertJdbc(first, url, "tgt", Seq("k"), batchSize = 1)
    val second = Seq((2L, "B2", 2), (3L, "c", 2)).toDF("k", "v", "ver")
      .repartition(4, col("k"))
    Sinks.upsertJdbc(second, url, "tgt", Seq("k"))
    val back = spark.read.format("jdbc").option("url", url).option("dbtable", "tgt")
      .load()
      .select(col("K").cast("long"), col("V"), col("VER").cast("int"))
      .as[(Long, String, Int)].collect().toSeq.sorted
    // same outcome as the storage-side merge: k=2 updated, k=3 inserted
    assert(back == Seq((1L, "a", 1), (2L, "B2", 2), (3L, "c", 2)))
    // bad key fails fast, before any connection is opened
    intercept[IllegalArgumentException] {
      Sinks.upsertJdbc(first, url, "tgt", Seq("nope"))
    }
    // the read wrapper sees the upserted state, with filters pushed to
    // the database (Tables.jdbc is the reference's dim-read surface)
    val viaWrapper = Tables.jdbc(spark, url, "tgt")
      .filter(col("K") >= 2L).select(col("K").cast("long")).as[Long]
      .collect().toSeq.sorted
    assert(viaWrapper == Seq(2L, 3L))
  }

  test("clusteredParquet produces disjoint per-file key ranges (min/max pruning layout)") {
    val p = tmp()
    val orders = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
    Sinks.clusteredParquet(orders, p, Seq("o_orderkey"), files = 4)
    val ranges = spark.read.parquet(p)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length >= 2, "expected multiple files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file key ranges must be disjoint: ${ranges.toSeq}")
      case _ => ()
    }
    // nothing lost in the re-layout
    assert(spark.read.parquet(p).count() == orders.count())
  }

  test("upsertParquet recovers when a stale __graft_old dir survives a crash") {
    val p = tmp()
    Sinks.upsertParquet(Seq((1L, "a", 1)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    // simulate a crash that died between parking old data and cleanup
    val old = new java.io.File(p + "__graft_old")
    assert(old.mkdirs())
    new java.io.FileWriter(new java.io.File(old, "leftover")).append("x").close()
    Sinks.upsertParquet(Seq((1L, "a2", 2)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    val out = spark.read.parquet(p).select("k", "v").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a2")))
    assert(!old.exists(), "stale __graft_old must be cleared, not block the rename")
  }

  test("upsertParquet restores __graft_old when a crash left dst missing (ADVICE r2)") {
    val p = tmp()
    Sinks.upsertParquet(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    // simulate a crash mid-swap: dst was parked at __graft_old, the promote
    // of tmp never happened — __graft_old is the ONLY full copy and tmp
    // holds a partial (garbage) write
    val dst = new java.io.File(p)
    val old = new java.io.File(p + "__graft_old")
    assert(dst.renameTo(old))
    val tmpDir = new java.io.File(p + "__graft_tmp")
    assert(tmpDir.mkdirs())
    new java.io.FileWriter(new java.io.File(tmpDir, "partial")).append("junk").close()
    // the retry must restore the parked copy first, not merge against nothing
    Sinks.upsertParquet(Seq((3L, "c", 2)).toDF("k", "v", "ver"),
      p, Seq("k"), Seq(col("ver")))
    val out = spark.read.parquet(p).orderBy("k").select("k", "v")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "pre-crash rows must survive the retry")
    assert(!old.exists() && !tmpDir.exists())
  }

  test("storedTable reads one footer: the schema spark.read.parquet infers, nullability included") {
    val p = tmp()
    val df = spark.range(4).select(
      col("id"),                                   // long, not nullable in the frame
      concat(lit("s"), col("id")).as("s"),
      col("id").cast("int").as("i"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"),
      lit(null).cast("long").as("nothing"))        // every value null
      .repartition(3)                              // several data files
    Sinks.upsertParquet(df, p, Seq("id"), Seq(col("i")))
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inferred = spark.read.parquet(p).schema
    var stored: org.apache.spark.sql.DataFrame = null
    assert(jobsSubmittedBy { stored = Sinks.storedTable(spark, fs, dir) } == 0)
    assert(stored.schema == inferred)
    assert(stored.schema.fields.map(_.nullable).toSeq == inferred.fields.map(_.nullable).toSeq)
    assert(stored.schema.fieldNames.toSeq == Seq("id", "s", "i", "d", "nothing"))
    assert(stored.orderBy("id").collect().toSeq == spark.read.parquet(p).orderBy("id").collect().toSeq)
  }

  test("upsertParquet throws on a stored table with an extra or a missing column; table intact") {
    def stored(p: String) = spark.read.parquet(p).orderBy("k").collect().toSeq
    // stored (k, v, ver) vs updates (k, v): the stored table has an extra column
    val extra = tmp()
    Sinks.upsertParquet(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "ver"),
      extra, Seq("k"), Seq(col("k")))
    val before = stored(extra)
    intercept[org.apache.spark.sql.AnalysisException] {
      Sinks.upsertParquet(Seq((2L, "B")).toDF("k", "v"), extra, Seq("k"), Seq(col("k")))
    }
    assert(stored(extra) == before)
    // stored (k, v) vs updates (k, v, ver): the stored table misses a column
    val missing = tmp()
    Sinks.upsertParquet(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), missing, Seq("k"), Seq(col("k")))
    val beforeMissing = stored(missing)
    intercept[org.apache.spark.sql.AnalysisException] {
      Sinks.upsertParquet(Seq((2L, "B", 2)).toDF("k", "v", "ver"), missing, Seq("k"), Seq(col("k")))
    }
    assert(stored(missing) == beforeMissing)
    for (p <- Seq(extra, missing)) {
      assert(!new java.io.File(p + "__graft_tmp").exists())
      assert(!new java.io.File(p + "__graft_old").exists())
    }
  }

  test("upsertParquet over a directory with no data file fails with a clear message") {
    val p = tmp()
    val dir = new java.io.File(p)
    assert(dir.mkdirs())
    new java.io.FileWriter(new java.io.File(dir, "_SUCCESS")).close()
    val e = intercept[java.io.FileNotFoundException] {
      Sinks.upsertParquet(Seq((1L, "a", 1)).toDF("k", "v", "ver"), p, Seq("k"), Seq(col("ver")))
    }
    assert(e.getMessage.contains("no parquet data file in") && e.getMessage.contains(p),
      e.getMessage)
    assert(dir.list().toSeq == Seq("_SUCCESS"), "the directory is left as it was")
  }

  test("upsertParquet over a stored table: no schema-inference job, the delta computed once") {
    val p = tmp()
    Sinks.upsertParquet(Seq((1L, 10L), (2L, 20L)).toDF("k", "total"), p, Seq("k"), Seq(col("total")))
    // every source row the delta's lineage reads passes through `tap`
    val reads = spark.sparkContext.longAccumulator("delta source rows")
    val tap = udf { (k: Long) => reads.add(1); k }
    val source = Seq((2L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (4L, 5L), (5L, 6L)).toDF("k", "x")
    val delta = source.select(tap(col("k")).as("k"), col("x"))
      .groupBy("k").agg(sum("x").as("total"))
    val jobs = jobsSubmittedBy(Sinks.upsertParquet(delta, p, Seq("k"), Seq(col("total"))))
    // AQE runs each shuffle-map stage as a job: the delta's groupBy shuffle,
    // the merge window's shuffle over stored ∪ delta, then the write; no
    // job reads the stored schema
    assert(jobs == 3)
    assert(reads.value == 6L, "each source row is read once")
    val out = spark.read.parquet(p).orderBy("k").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 10L), (2L, 3L), (3L, 3L), (4L, 9L), (5L, 6L)))
  }
}
