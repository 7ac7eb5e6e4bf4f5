package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.functions.{IvfPqStore, IvfStore, PqIndex, VectorFunctions}

case class Ev(ts: Timestamp, user_id: Long, value: Double)
case class Ev2(event_id: Long, ts: Timestamp, user_id: Long)

/** Runtime streaming behavior (watermark, late data, stateful dedup) —
  * not oracle-checkable (SURVEY.md §5), exercised with MemoryStream. */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("tumbling window aggregation over a stream (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 00:01:00"), 1, 1.0),
      Ev(ts("2024-01-01 00:04:00"), 1, 2.0),
      Ev(ts("2024-01-01 00:12:00"), 2, 3.0))
    runToMemory(StreamOps.tumblingCounts(mem.toDF(), "10 minutes"),
      "tumbling_out", "update")
    val rows = spark.table("tumbling_out")
      .select($"w_start".cast("string"), $"n")
      .as[(String, Long)].collect().toMap
    assert(rows("2024-01-01 00:00:00") == 2)
    assert(rows("2024-01-01 00:10:00") == 1)
  }

  test("watermark drops events later than the threshold (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingCounts(mem.toDF(), "10 minutes",
      watermark = Some("5 minutes"))
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    // batch 1: window [00:00,00:10) gets one event; watermark advances to 00:55
    mem.addData(Ev(ts("2024-01-01 00:01:00"), 1, 1.0))
    q.processAllAvailable()
    mem.addData(Ev(ts("2024-01-01 01:00:00"), 1, 1.0))
    q.processAllAvailable()
    // late event for the closed [00:00,00:10) window — must be dropped
    mem.addData(Ev(ts("2024-01-01 00:02:00"), 1, 99.0))
    q.processAllAvailable()
    // close all windows
    mem.addData(Ev(ts("2024-01-01 02:00:00"), 1, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_out")
      .select($"w_start".cast("string"), $"n").as[(String, Long)].collect().toMap
    assert(rows("2024-01-01 00:00:00") == 1, "late event must not be counted")
  }

  test("dropDuplicatesWithinWatermark dedups stateful across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dedup = StreamOps.dedupStream(mem.toDF(), Seq("user_id"),
      watermark = Some("1 hour"))
    val q = dedup.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    mem.addData(Ev(ts("2024-01-01 00:01:00"), 1, 1.0),
      Ev(ts("2024-01-01 00:02:00"), 1, 2.0))
    q.processAllAvailable()
    mem.addData(Ev(ts("2024-01-01 00:03:00"), 1, 3.0),
      Ev(ts("2024-01-01 00:04:00"), 2, 4.0))
    q.processAllAvailable()
    q.stop()
    val n = spark.table("dd_out").groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(n(1L) == 1, "user 1 must appear once despite 3 arrivals")
    assert(n(2L) == 1)
  }

  test("flatMapGroupsWithState: running totals per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.runningTotalsPerUser(mem.toDF())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("state_out")
      .outputMode("append").start()
    mem.addData(Ev(ts("2024-01-01 00:01:00"), 1, 1.0),
      Ev(ts("2024-01-01 00:02:00"), 1, 2.0))
    q.processAllAvailable()
    mem.addData(Ev(ts("2024-01-01 00:03:00"), 1, 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("state_out").orderBy("n")
      .as[(Long, Long, Double)].collect().toSeq
    // state persists across batches: third event sees n=3, total=6
    assert(rows.last == ((1L, 3L, 6.0)))
  }

  test("transformWithState: running totals persist across batches (ValueState)") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = StreamOps.runningTotalsTws(mem.toDF())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("append").start()
    mem.addData(Ev(ts("2024-01-01 00:01:00"), 1, 1.0),
      Ev(ts("2024-01-01 00:02:00"), 1, 2.0))
    q.processAllAvailable()
    mem.addData(Ev(ts("2024-01-01 00:03:00"), 1, 3.0))
    q.processAllAvailable()
    q.stop()
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val rows = spark.table("tws_out").orderBy("n")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.last == ((1L, 3L, 6.0)))
  }

  test("stream-stream join within a time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev2]
    val buys = MemoryStream[Ev2]
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF(), buys.toDF(), "user_id",
      within = "30 MINUTES", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_out")
      .outputMode("append").start()
    clicks.addData(Ev2(1L, ts("2024-01-01 10:00:00"), 7))
    buys.addData(
      Ev2(100L, ts("2024-01-01 10:10:00"), 7),  // within 30m -> match
      Ev2(101L, ts("2024-01-01 11:00:00"), 7),  // outside -> no match
      Ev2(102L, ts("2024-01-01 10:15:00"), 8))  // other user -> no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_out")
      .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 100L)))
  }

  test("stream-stream LEFT OUTER join emits unmatched left rows after the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev2]
    val buys = MemoryStream[Ev2]
    val joined = StreamOps.streamStreamLeftJoin(
      clicks.toDF(), buys.toDF(), "user_id",
      within = "30 MINUTES", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sslo_out")
      .outputMode("append").start()
    clicks.addData(
      Ev2(1L, ts("2024-01-01 10:00:00"), 7),   // will match
      Ev2(2L, ts("2024-01-01 10:00:00"), 9))   // never matches
    buys.addData(Ev2(100L, ts("2024-01-01 10:10:00"), 7))
    q.processAllAvailable()
    // advance BOTH watermarks far past 10:30 + 10m so user 9's join
    // window is provably closed -> the null-extended row must emit
    clicks.addData(Ev2(3L, ts("2024-01-01 12:00:00"), 7))
    buys.addData(Ev2(103L, ts("2024-01-01 12:00:00"), 8))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sslo_out")
      .select("l_event_id", "r_event_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(rows.contains((1L, Some(100L))), s"matched row: $rows")
    assert(rows.contains((2L, None)),
      s"unmatched left row must emit with null right side once closed: $rows")
  }

  test("session windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts("2024-01-01 00:00:00"), 1, 1.0),
      Ev(ts("2024-01-01 00:10:00"), 1, 1.0),  // same session (gap 30m)
      Ev(ts("2024-01-01 01:00:00"), 1, 1.0))  // new session
    val agg = StreamOps.sessionCounts(mem.toDF(), "30 minutes", col("user_id"),
      watermark = Some("10 minutes"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select($"session_start".cast("string"), $"n_events")
      .as[(String, Long)].collect().toMap
    assert(rows("2024-01-01 00:00:00") == 2)
    assert(rows("2024-01-01 01:00:00") == 1)
  }

  test("foreachBatch upsert sink: micro-batches merge last-write-wins into parquet") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-upsert")
    val target = dir.toString + "/t"
    val ckpt = dir.toString + "/ckpt"
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamOps.upsertSink(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"), Seq(col("ver")), ckpt)
    mem.addData((1L, "a", 1L), (2L, "b", 1L))
    q.processAllAvailable()
    mem.addData((2L, "B2", 2L), (3L, "c", 2L))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(target).orderBy("k").select("k", "v")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("nearDupFilterSink admits each document family once across the stream") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-neardup")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir.toString + "/store", dir.toString + "/out",
      dir.toString + "/ckpt", compactEvery = 2)
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "completely different other content sharing no phrases with anything"))
    q.processAllAvailable()
    mem.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "brand new unique material resembling nothing streamed before now"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dir.toString + "/out").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L, 11L),
      "within-batch dup (2) and cross-batch dup (10) must be filtered")
    // compactEvery = 2 fired after the second micro-batch: every bucket
    // dir of both sub-stores is down to one file, content intact
    val bandDirs = new java.io.File(dir.toString + "/store/bands").listFiles()
      .filter(_.isDirectory)
    assert(bandDirs.nonEmpty)
    bandDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"bucket ${d.getName} must be compacted to one file")
    }
    assert(graft.operators.SignatureStore.allIds(spark, dir.toString + "/store")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 11L))
  }

  test("file-source ingestion: readStream over a landed dir, one file per trigger") {
    val dir = java.nio.file.Files.createTempDirectory("stream-files")
    val in = dir.toString + "/in"
    def land(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
    // two files landed BEFORE the query starts: maxFilesPerTrigger = 1
    // must still process them as separate micro-batches
    land((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    land((3L, "completely different other content sharing no phrases with anything"))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = StreamOps.nearDupFilterSink(stream, "doc_id", "text",
      dir.toString + "/store", dir.toString + "/out", dir.toString + "/ckpt")
    q.processAllAvailable()
    // a file landed while the query is live is picked up as its own batch
    land((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "brand new unique material resembling nothing streamed before now"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dir.toString + "/out")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 11L),
      "same dedup semantics as the MemoryStream path")
    // rate limiting is observable in the output layout: each surviving doc
    // landed from a DIFFERENT micro-batch (ingest_batch partition values
    // 0, 1, 2) — unthrottled, the two pre-landed files would share batch 0
    val batches = out.select("ingest_batch").distinct()
      .as[Long].collect().sorted.toSeq
    assert(batches == Seq(0L, 1L, 2L), s"got $batches")
  }

  test("file-source ingest at sf0.01 ≡ batch dedup of the same chunks (composition, store growth)") {
    // The GraphSpec composition pattern at bench scale: the full sf0.01
    // documents corpus + planted twins, landed as 4 parquet files and
    // streamed through nearDupFilterSink with maxFilesPerTrigger = 1,
    // must produce EXACTLY the survivors and store content of 4
    // sequential batch dedupAgainstStore calls over the same chunks —
    // the streaming plumbing (file source, checkpoint, rate limit,
    // land-first ordering) adds nothing and loses nothing.
    val dir = java.nio.file.Files.createTempDirectory("stream-sf001")
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val twins = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz zz")).as("text"))
    val chunks = Seq(
      docs.filter(col("doc_id") < 250),
      docs.filter(col("doc_id") >= 250),
      twins.filter(col("doc_id") < 1000250L),
      twins.filter(col("doc_id") >= 1000250L))

    // landed in order: one file per chunk = one micro-batch per chunk
    val in = dir.toString + "/in"
    chunks.foreach(_.coalesce(1).write.mode("append").parquet(in))

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = StreamOps.nearDupFilterSink(stream, "doc_id", "text",
      dir.toString + "/store", dir.toString + "/out", dir.toString + "/ckpt")
    q.processAllAvailable()
    q.stop()

    // batch reference: the same four chunks through the batch operator
    val batchSurvivors = chunks.flatMap { c =>
      graft.operators.Dedup.dedupAgainstStore(c, "doc_id", "text",
          dir.toString + "/store2")
        .select("doc_id").as[Long].collect()
    }.sorted

    val streamed = spark.read.parquet(dir.toString + "/out")
    val streamedIds = streamed.select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamedIds == batchSurvivors,
      s"streamed survivors (${streamedIds.size}) must equal batch survivors (${batchSurvivors.size})")
    // most originals admitted; the twin chunks deduped against the store
    assert(streamedIds.size >= 400 && streamedIds.count(_ >= 1000000L) < 50)
    // the store grew by exactly the survivors — same ids in both stores
    val storeIds = graft.operators.SignatureStore
      .allIds(spark, dir.toString + "/store").as[Long].collect().sorted.toSeq
    val store2Ids = graft.operators.SignatureStore
      .allIds(spark, dir.toString + "/store2").as[Long].collect().sorted.toSeq
    assert(storeIds == streamedIds && store2Ids == storeIds)
    // rate limiting held: one micro-batch per landed file
    val batches = streamed.select("ingest_batch").distinct()
      .as[Long].collect().sorted.toSeq
    assert(batches.size == chunks.count(c => streamedIds.intersect(
      c.select("doc_id").as[Long].collect()).nonEmpty))
  }

  test("indexAppendSink: streamed corpus scores identically to batch index builds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-index")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.indexAppendSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir.toString + "/idx", dir.toString + "/ckpt",
      numBuckets = 8)
    // batch 0 creates the index; batches 1-2 append
    mem.addData((1L, "spark merge spark window"), (2L, "window table row"))
    q.processAllAvailable()
    mem.addData((3L, "spark spark spark"))
    q.processAllAvailable()
    mem.addData((4L, "nothing relevant here"), (5L, "table window table"))
    q.processAllAvailable()
    q.stop()

    val all = Seq(
      (1L, "spark merge spark window"), (2L, "window table row"),
      (3L, "spark spark spark"), (4L, "nothing relevant here"),
      (5L, "table window table")).toDF("doc_id", "text")
    val meta = graft.operators.TextIndex.readMeta(spark, dir.toString + "/idx")
    assert(meta.nDocs == 5 && meta.batches == Seq(1L, 2L, 3L),
      s"micro-batch ids 0..2 manifest as keys 1..3: $meta")
    val streamed = graft.operators.TextIndex.bm25FromIndex(spark,
      dir.toString + "/idx", Seq("spark", "window")).as[(Long, Double)].collect().toMap
    val direct = graft.operators.TextIndex.bm25(all, "doc_id", "text",
      Seq("spark", "window")).as[(Long, Double)].collect().toMap
    assert(streamed.keySet == direct.keySet && streamed.size == 5)
    direct.foreach { case (id, s) =>
      assert(math.abs(streamed(id) - s) < 1e-12, s"doc $id")
    }
    // the live index also serves phrase queries off its pruned postings
    val phrase = graft.operators.TextIndex.phraseMatch(
      graft.operators.TextIndex.readPostings(spark, dir.toString + "/idx",
        Seq("table", "window")), Seq("table", "window"))
      .as[(Long, Long)].collect().toMap
    assert(phrase == Map(5L -> 1L))
  }

  test("indexAppendSink survives a restart; compactEvery bounds the batch-dir count") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-index-restart")
    val mem = MemoryStream[(Long, String)]
    def start() = StreamOps.indexAppendSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir.toString + "/idx", dir.toString + "/ckpt",
      numBuckets = 8, compactEvery = 2)
    val q1 = start()
    mem.addData((1L, "spark merge spark window"), (2L, "window table row"))
    q1.processAllAvailable()
    mem.addData((3L, "spark spark spark"))
    q1.processAllAvailable()
    q1.stop()
    // second incarnation resumes from the checkpoint: committed batches
    // are not re-ingested, new data appends to the same manifest
    val q2 = start()
    mem.addData((4L, "table window table"))
    q2.processAllAvailable()
    q2.stop()
    val meta = graft.operators.TextIndex.readMeta(spark, dir.toString + "/idx")
    assert(meta.nDocs == 4, s"no double-ingest across the restart: $meta")
    // compactEvery = 2 fired after micro-batch 1: batches 0-1 folded into
    // one negative generation, batch 2 appended after it
    assert(meta.batches.head < 0 && meta.batches.size == 2, s"$meta")
    val abDirs = new java.io.File(dir.toString + "/idx/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ab=")).map(_.getName).sorted
    assert(abDirs.length == 2, s"superseded batch dirs swept: ${abDirs.toSeq}")
    val scores = graft.operators.TextIndex.bm25FromIndex(spark,
      dir.toString + "/idx", Seq("spark", "table")).as[(Long, Double)].collect().toMap
    assert(scores.keySet == Set(1L, 2L, 3L, 4L))
    assert(scores(3L) > scores(2L), "all-spark doc outranks no-spark doc")
  }

  test("ivfAppendSink: first batch trains, later batches append against " +
      "frozen centroids; full-probe serve ≡ brute force over the stream") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("stream-ivf")
    val store = dir.toString + "/ivf"
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    def rows(lo: Long, hi: Long): Seq[(Long, Seq[Float])] =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .collect().map(r =>
          (r.getLong(0), r.getList[Float](1).asScala.toSeq)).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.ivfAppendSink(mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", store, dir.toString + "/ckpt", k = 4)
    mem.addData(rows(1, 200): _*) // batch 0 trains + creates (manifest id 1)
    q.processAllAvailable()
    val centsAfterTrain = IvfStore.centroidsDf(spark, store)
      .as[(Long, Seq[Double])].collect().toMap
    mem.addData(rows(200, 300): _*) // appends, centroids frozen
    q.processAllAvailable()
    q.stop()
    val meta = IvfStore.readMeta(spark, store)
    assert(meta.batches == Seq(1L, 2L), s"micro-batches 0,1 -> keys 1,2: $meta")
    assert(IvfStore.readVectors(spark, store).count() == 299)
    // the append did NOT retrain: centroids bit-identical to post-train
    val centsAfterAppend = IvfStore.centroidsDf(spark, store)
      .as[(Long, Seq[Double])].collect().toMap
    assert(centsAfterAppend == centsAfterTrain,
      "append must freeze the trained centroids")
    // probing every cluster = exact search over everything streamed
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getList[Float](0).asScala.toSeq
    val streamedAll = emb.filter(col("vec_id") >= 1 && col("vec_id") < 300)
    val exact = VectorFunctions.bruteForceTopK(
        streamedAll, "embedding", "vec_id", qv, 10)
      .select("vec_id").as[Long].collect().toSeq
    val served = IvfStore.topK(spark, store, qv, k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(served == exact, "nprobe=k serve must equal exact search")
  }

  test("driftMonitorSink: per-micro-batch PSI against the frozen " +
      "reference ≡ the batch psi operator; shifted batch trips higher") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("drift")
    val monitor = dir.toString + "/monitor"
    val ref = (1 to 500).map(i => (i % 37).toDouble).toDF("value")
    val mem = MemoryStream[Ev]
    val q = StreamOps.driftMonitorSink(mem.toDF(), "value", ref,
      monitor, dir.toString + "/ckpt")
    val batch0 = (1 to 300).map(i => ((i * 7) % 37).toDouble)  // ref-like
    val batch1 = (1 to 300).map(i => 30.0 + (i % 7))           // shifted
    mem.addData(batch0.map(v => Ev(ts("2024-01-01 00:00:01"), 1, v)): _*)
    q.processAllAvailable()
    mem.addData(batch1.map(v => Ev(ts("2024-01-01 00:00:02"), 1, v)): _*)
    q.processAllAvailable()
    q.stop()
    def readMonitor() = spark.read.parquet(monitor)
      // batch_id is a partition dir now; inference reads it as int
      .select(col("batch_id").cast("long"), col("n"), col("psi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val rows = readMonitor()
    assert(rows.keySet == Set(0L, 1L))
    assert(rows(0L)._1 == 300L && rows(1L)._1 == 300L)
    // the monitor table is batch_id-partitioned and a replayed batch
    // CONVERGES (dynamic partition overwrite), never duplicates
    import spark.implicits._
    graft.sources.Sinks.overwritePartitions(
      Seq((1L, rows(1L)._1, Option(rows(1L)._2)))
        .toDF("batch_id", "n", "psi"), monitor, Seq("batch_id"))
    assert(spark.read.parquet(monitor).count() == 2,
      "a replayed monitor row must overwrite its partition, not append")
    assert(readMonitor() == rows)
    // each streamed PSI equals the batch operator on the same slice
    def batchPsi(vals: Seq[Double]): Double = {
      val terms = graft.operators.Eval.psi(ref, vals.toDF("value"),
        "value").collect().map(r => BigDecimal(r.getDouble(5)))
      math.rint(terms.sum.toDouble * 1e6) / 1e6
    }
    assert(rows(0L)._2 == batchPsi(batch0))
    assert(rows(1L)._2 == batchPsi(batch1))
    assert(rows(1L)._2 > rows(0L)._2 + 0.5,
      "the shifted batch must trip far above the ref-like one")
  }

  test("erAppendSink: first batch builds the registry, later batches " +
      "fold in incrementally; entities ≡ full-corpus recompute") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-er")
    val store = dir.toString + "/s"
    val cust = spark.read.parquet(sf("sf0.01") + "/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    def rows(m: Long) = cust.filter(col("c_custkey") % 2 === m)
      .as[(Long, String, Long)].collect().toSeq
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamOps.erAppendSink(
      mem.toDF().toDF("c_custkey", "c_name", "c_nationkey"),
      "c_custkey", "c_name", store, dir.toString + "/ckpt",
      threshold = 0.97, blockCols = Seq("c_nationkey"))
    mem.addData(rows(0): _*) // batch 0 builds (manifest id 1)
    q.processAllAvailable()
    mem.addData(rows(1): _*) // batch 1 appends (manifest id 2)
    q.processAllAvailable()
    q.stop()
    val served = graft.operators.ErStore.entities(spark, store)
      .as[(Long, Long)].collect().toMap
    val edges = graft.operators.JwJoin.jaroWinklerSelfJoin(
        cust, "c_custkey", "c_name", 0.97, blockCols = Seq("c_nationkey"))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val full = graft.operators.Graph.connectedComponents(edges,
        "src", "dst", nodes = Some((cust.select("c_custkey"), "c_custkey")))
      .as[(Long, Long)].collect().toMap
    assert(served == full,
      "streamed registry must equal the full-corpus recompute")
  }

  test("goldenAppendSink: micro-batches fold into the golden store; " +
      "serve ≡ batch goldenRecord over the stream; compaction fires") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-golden")
    val store = dir.toString + "/s"
    val orders = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderkey"))
    def rows(m: Long) = orders.filter(col("o_orderkey") % 3 === m)
      .as[(Long, String, Double, Long)].collect().toSeq
    val mem = MemoryStream[(Long, String, Double, Long)]
    val q = StreamOps.goldenAppendSink(
      mem.toDF().toDF("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderkey"),
      "o_custkey", store, dir.toString + "/ckpt",
      mostFrequent = Seq("o_orderstatus"), maxOf = Seq("o_totalprice"),
      latestBy = Some(("o_orderkey", Seq("o_orderkey"))),
      compactEvery = 2)
    mem.addData(rows(0): _*) // batch 0 creates the store (manifest id 1)
    q.processAllAvailable()
    mem.addData(rows(1): _*) // batch 1 folds in + triggers compaction
    q.processAllAvailable()
    mem.addData(rows(2): _*) // post-compaction append keeps merging
    q.processAllAvailable()
    q.stop()
    val served = graft.operators.GoldenStore.serve(spark, store)
      .select("o_custkey", "o_orderstatus", "o_totalprice", "o_orderkey")
      .as[(Long, String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val batch = graft.operators.Merge.goldenRecord(orders, "o_custkey",
        mostFrequent = Seq("o_orderstatus"), maxOf = Seq("o_totalprice"),
        latestBy = Some(("o_orderkey", Seq("o_orderkey"))))
      .select("o_custkey", "o_orderstatus", "o_totalprice", "o_orderkey")
      .as[(Long, String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(served == batch,
      "streamed survivorship must equal the batch fold")
    // compaction after store id 2 folded ab dirs to the -1 generation;
    // the third micro-batch's append then added ab=3
    val dirs = new java.io.File(store + "/partials").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ab="))
      .map(_.getName).sorted
    assert(dirs.toList == List("ab=-1", "ab=3"), dirs.mkString(","))
  }

  test("centroidAppendSink: anchors pinned up front, micro-batches fold " +
      "partials; serveGrid ≡ one-shot assignment+mean; compaction fires") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("stream-centroid")
    val store = dir.toString + "/s"
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val anchors = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1L).as("cluster_id"),
        col("embedding").as("centroid"))
    graft.operators.CentroidStore.create(anchors, store)
    // the sink refuses to start without pinned anchors
    intercept[IllegalArgumentException] {
      StreamOps.centroidAppendSink(
        MemoryStream[(Long, Seq[Float])].toDF(), "embedding",
        dir.toString + "/nostore", dir.toString + "/ckpt0")
    }
    def rows(m: Long): Seq[(Long, Seq[Float])] =
      emb.filter(col("vec_id") % 3 === m).collect().map(r =>
        (r.getLong(0), r.getList[Float](1).asScala.toSeq)).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.centroidAppendSink(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", store,
      dir.toString + "/ckpt", compactEvery = 2)
    mem.addData(rows(0): _*) // batch 0 appends under manifest id 1
    q.processAllAvailable()
    mem.addData(rows(1): _*) // batch 1 folds in + triggers compaction
    q.processAllAvailable()
    mem.addData(rows(2): _*) // post-compaction append keeps merging
    q.processAllAvailable()
    q.stop()
    val oneShot = dir.toString + "/oneshot"
    graft.operators.CentroidStore.create(anchors, oneShot)
    graft.operators.CentroidStore.append(emb, "embedding", oneShot, 1L)
    def grid(s: String) = graft.operators.CentroidStore
      .serveGrid(spark, s).as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(grid(store) == grid(oneShot),
      "streamed centroids must equal the one-shot assignment+mean")
    // compaction after store id 2 folded ab dirs to -1; micro-batch 2
    // then appended ab=3
    val dirs = new java.io.File(store + "/partials").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ab="))
      .map(_.getName).sorted
    assert(dirs.toList == List("ab=-1", "ab=3"), dirs.mkString(","))
  }

  test("ivfPqAppendSink: first batch trains both layers, later batches " +
      "append frozen; exhaustive serve ≡ exact L2 over the stream") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("stream-ivfpq")
    val store = dir.toString + "/s"
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    def rows(lo: Long, hi: Long): Seq[(Long, Seq[Float])] =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .collect().map(r =>
          (r.getLong(0), r.getList[Float](1).asScala.toSeq)).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.ivfPqAppendSink(mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", store, dir.toString + "/ckpt", k = 4,
      m = 8, ksub = 16)
    mem.addData(rows(1, 200): _*) // batch 0 trains both layers (id 1)
    q.processAllAvailable()
    val cbAfterTrain = PqIndex.loadCodebooks(spark, store)
    mem.addData(rows(200, 300): _*) // appends, both layers frozen
    q.processAllAvailable()
    q.stop()
    val meta = IvfStore.readMeta(spark, store)
    assert(meta.batches == Seq(1L, 2L), s"micro-batches 0,1 -> keys 1,2: $meta")
    // the append did NOT retrain the codebooks: bit-identical floats
    val cbAfterAppend = PqIndex.loadCodebooks(spark, store)
    assert(cbAfterAppend.cents.flatten.flatten.toSeq ==
      cbAfterTrain.cents.flatten.flatten.toSeq,
      "append must freeze the trained codebooks")
    // every cluster probed + corpus-sized shortlist = exact L2 search
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getList[Float](0).asScala.toSeq
    val qArr = array(qv.map(v => lit(v)): _*)
    val exact = emb.filter(col("vec_id") >= 1 && col("vec_id") < 300)
      .withColumn("d", graft.plans.SquaredL2(col("embedding"), qArr))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val served = IvfPqStore.topK(spark, store, qv, k = 10, nprobe = 4,
        shortlist = 500)
      .select("vec_id").as[Long].collect().toSeq
    assert(served == exact,
      "full-probe corpus-shortlist serve must equal exact L2 search")
  }

  test("file-source index ingest at sf0.01 ≡ one-shot batch index build (composition)") {
    // The r7 nearDupFilterSink sf0.01 proof, for retrieval: the full
    // sf0.01 documents corpus landed as 4 parquet files and streamed
    // through indexAppendSink (maxFilesPerTrigger = 1 → 4 micro-batches:
    // creation + 3 appends) must serve bm25/phrase/proximity queries
    // IDENTICALLY to a one-shot persistPostings of the whole corpus —
    // the streaming plumbing adds nothing and loses nothing.
    val dir = java.nio.file.Files.createTempDirectory("stream-index-sf001")
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val in = dir.toString + "/in"
    Seq(docs.filter(col("doc_id") < 125),
      docs.filter(col("doc_id") >= 125 && col("doc_id") < 250),
      docs.filter(col("doc_id") >= 250 && col("doc_id") < 375),
      docs.filter(col("doc_id") >= 375))
      .foreach(_.coalesce(1).write.mode("append").parquet(in))

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = StreamOps.indexAppendSink(stream, "doc_id", "text",
      dir.toString + "/idx", dir.toString + "/ckpt", numBuckets = 16)
    q.processAllAvailable()
    q.stop()

    val ref = dir.toString + "/ref"
    graft.operators.TextIndex.persistPostings(docs, "doc_id", "text", ref,
      numBuckets = 16)

    val meta = graft.operators.TextIndex.readMeta(spark, dir.toString + "/idx")
    assert(meta.nDocs == 500 && meta.batches.size == 4,
      s"4 micro-batches (creation + 3 appends): $meta")
    val terms = Seq("spark", "window", "merge")
    val streamed = graft.operators.TextIndex.bm25FromIndex(spark,
      dir.toString + "/idx", terms).as[(Long, Double)].collect().toMap
    val batch = graft.operators.TextIndex.bm25FromIndex(spark, ref, terms)
      .as[(Long, Double)].collect().toMap
    assert(streamed.size == 500 && streamed == batch,
      "scores identical to the one-shot build")
    val phraseStreamed = graft.operators.TextIndex.phraseMatchFromIndex(
      spark, dir.toString + "/idx", Seq("table", "window"))
      .as[(Long, Long)].collect().toMap
    val phraseBatch = graft.operators.TextIndex.phraseMatchFromIndex(
      spark, ref, Seq("table", "window"))
      .as[(Long, Long)].collect().toMap
    assert(phraseStreamed == phraseBatch && phraseStreamed.nonEmpty)
  }

  test("hllSink: running distinct counts over the stream history; restart-safe; compaction exact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-hll")
    val mem = MemoryStream[(String, Long)]
    def start() = StreamOps.hllSink(mem.toDF().toDF("grp", "v"),
      Seq("grp"), "v", dir.toString + "/store", dir.toString + "/ckpt",
      compactEvery = 2)
    val q1 = start()
    mem.addData((1L to 500L).map(v => ("a", v)) ++ (1L to 100L).map(v => ("b", v)): _*)
    q1.processAllAvailable()
    mem.addData((301L to 800L).map(v => ("a", v)): _*) // 300 overlap with batch 0
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: committed batches not re-ingested
    val q2 = start()
    mem.addData((1L to 50L).map(v => ("b", v + 100)): _*)
    q2.processAllAvailable()
    q2.stop()
    val counts = graft.operators.Sketches
      .distinctCounts(spark, dir.toString + "/store")
      .as[(String, Long)].collect().toMap
    // b (150 distinct) sits in the sketch's exact range; a (800 true)
    // is past it and estimates within the lgK=12 error band (~2%)
    assert(counts("b") == 150L, s"small cardinality is exact: $counts")
    assert(math.abs(counts("a") - 800.0) / 800.0 < 0.03,
      s"distinct over the whole stream history: $counts")
    // compactEvery=2 fired after micro-batch 1: at most 2 ab dirs remain
    val abDirs = new java.io.File(dir.toString + "/store/sketches").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ab=")).map(_.getName)
    assert(abDirs.length <= 2, s"compaction bounds batch dirs: ${abDirs.toSeq}")
  }

  test("kllSink: running quantiles over the stream history; restart-safe; exact n/min/max") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-kll")
    val mem = MemoryStream[(String, Double)]
    def start() = StreamOps.kllSink(mem.toDF().toDF("grp", "v"),
      Seq("grp"), "v", dir.toString + "/store", dir.toString + "/ckpt",
      compactEvery = 2)
    val q1 = start()
    mem.addData((1L to 1000L).map(v => ("a", v.toDouble)): _*)
    q1.processAllAvailable()
    mem.addData((1001L to 2000L).map(v => ("a", v.toDouble)) ++
      Seq(("b", 5.0), ("b", 1.0), ("b", 9.0)): _*)
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: committed batches not re-ingested
    val q2 = start()
    mem.addData(Seq(("b", 7.0)): _*)
    q2.processAllAvailable()
    q2.stop()
    val q = graft.operators.Quantiles
      .groupQuantiles(spark, dir.toString + "/store", Seq(0.5))
      .select(col("grp"), col("n"), col("min_v"), col("max_v"),
        element_at(col("quantiles"), 1).as("p50"))
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // exact stream facts over the whole history, across restart + compaction
    assert(q("a")._2 == 2000L && q("a")._3 == 1.0 && q("a")._4 == 2000.0, s"$q")
    assert(q("b")._2 == 4L && q("b")._3 == 1.0 && q("b")._4 == 9.0, s"$q")
    // b is in exact mode: p50 of {1,5,7,9} (INCLUSIVE) = 5; a is over
    // capacity — rank guarantee only
    assert(q("b")._5 == 5.0, s"$q")
    assert(math.abs(q("a")._5 - 1000.0) / 2000.0 < 0.05, s"$q")
    val abDirs = new java.io.File(dir.toString + "/store/sketches").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ab=")).map(_.getName)
    assert(abDirs.length <= 2, s"compaction bounds batch dirs: ${abDirs.toSeq}")
  }

  test("freqSink: running top items over the stream history; restart-safe; exact regime") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-freq")
    val mem = MemoryStream[(String, String)]
    def start() = StreamOps.freqSink(mem.toDF().toDF("grp", "item"),
      Seq("grp"), "item", dir.toString + "/store", dir.toString + "/ckpt",
      maxMapSize = 64, compactEvery = 2)
    val q1 = start()
    mem.addData((1 to 60).map(i => ("a", s"t${i % 10}")): _*) // 6 each
    q1.processAllAvailable()
    mem.addData((1 to 30).map(_ => ("a", "t3")): _*) // t3 surges
    q1.processAllAvailable()
    q1.stop()
    val q2 = start() // restart: committed batches not re-ingested
    mem.addData(Seq(("a", "t7")): _*)
    q2.processAllAvailable()
    q2.stop()
    val got = graft.operators.HeavyHitters
      .topItems(spark, dir.toString + "/store", 2)
      .select("grp", "rank", "item", "estimate")
      .as[(String, Int, String, Long)].collect().toSeq.sorted
    // exact regime across restart + compaction: t3 = 6+30, t7 = 6+1
    assert(got == Seq(("a", 1, "t3", 36L), ("a", 2, "t7", 7L)), s"$got")
  }

  test("upsertJdbcSink merges each micro-batch into a live database (embedded Derby)") {
    implicit val sqlCtx = spark.sqlContext
    val dbDir = java.nio.file.Files.createTempDirectory("derby-stream").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val ddl = java.sql.DriverManager.getConnection(url)
    ddl.createStatement().execute(
      "CREATE TABLE tgt (k BIGINT PRIMARY KEY, v VARCHAR(32), ver BIGINT)")
    ddl.close()
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc-ckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamOps.upsertJdbcSink(mem.toDF().toDF("k", "v", "ver"),
      url, "tgt", Seq("k"), Seq(col("ver")), ckpt)
    // batch 1 includes an IN-BATCH key update: only the latest version lands
    mem.addData((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L))
    q.processAllAvailable()
    // batch 2: cross-batch update + fresh insert
    mem.addData((2L, "B3", 3L), (3L, "c", 1L))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("jdbc").option("url", url).option("dbtable", "tgt")
      .load()
      .selectExpr("CAST(K AS BIGINT)", "V", "CAST(VER AS BIGINT)")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(back == Seq((1L, "a", 1L), (2L, "B3", 3L), (3L, "c", 1L)),
      "the reference's ON CONFLICT sink semantics, streaming")
  }

  test("stream-static broadcast enrichment + Trigger.AvailableNow drain-and-stop") {
    implicit val sqlCtx = spark.sqlContext
    // stream-STATIC join: each micro-batch enriches against a static dim
    // (re-read per batch in real sources; broadcast — the dim never
    // shuffles). AvailableNow = the catch-up trigger: drain everything
    // available, then STOP — the production shape for periodic batch
    // jobs running streaming code with checkpointed offsets.
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val dir = java.nio.file.Files.createTempDirectory("stream-static")
    val mem = MemoryStream[(Long, Long, Double)]
    mem.addData((1L, 10L, 5.0), (2L, 11L, 7.0), (3L, 12L, 9.0)) // 12: no dim row
    val enriched = mem.toDF().toDF("event_id", "user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream
      .format("parquet").option("path", dir.toString + "/out")
      .option("checkpointLocation", dir.toString + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow must drain and stop on its own")
    val out = spark.read.parquet(dir.toString + "/out")
      .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None),
      "broadcast dim enrichment with left-outer miss semantics")
  }

  test("nearDupFilterSink survives a QUERY RESTART from its checkpoint (offset-log continuity)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-restart")
    val mem = MemoryStream[(Long, String)]
    def start() = StreamOps.nearDupFilterSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir.toString + "/store", dir.toString + "/out",
      dir.toString + "/ckpt")
    val q1 = start()
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different other content sharing no phrases with anything"))
    q1.processAllAvailable()
    q1.stop()
    // second incarnation resumes from the SAME checkpoint: committed
    // offsets are not re-emitted, new data dedups against the store the
    // first incarnation grew
    val q2 = start()
    mem.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of stored 1
      (11L, "brand new unique material resembling nothing streamed before now"))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(dir.toString + "/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L, 11L),
      "across a restart: no re-emission of batch 1, near-dup of stored doc filtered")
    assert(graft.operators.SignatureStore.allIds(spark, dir.toString + "/store")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L))
  }

  test("store sinks: an empty first micro-batch writes nothing, the next " +
      "lands under ledger id batchId + 1, and its replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    import graft.operators.CentroidStore
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val rows = emb.filter(col("vec_id") >= 1 && col("vec_id") < 200)
      .collect().map { r =>
        val id = r.getLong(0)
        (id, s"g${id % 3}", f"Customer#$id%09d",
          r.getList[Float](1).asScala.toSeq)
      }.toSeq
    val anchors = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1L).as("cluster_id"),
        col("embedding").as("centroid"))
    type Start = (DataFrame, String, String) => StreamingQuery
    val sinks: Seq[(String, Start)] = Seq(
      "indexAppendSink" -> ((df, s, c) =>
        StreamOps.indexAppendSink(df, "id", "text", s, c, numBuckets = 4)),
      "hllSink" -> ((df, s, c) => StreamOps.hllSink(df, Seq("grp"), "id", s, c)),
      "kllSink" -> ((df, s, c) => StreamOps.kllSink(df, Seq("grp"), "id", s, c)),
      "freqSink" -> ((df, s, c) => StreamOps.freqSink(df, Seq("grp"), "text", s, c)),
      "aggSink" -> ((df, s, c) => StreamOps.aggSink(df, Seq("grp"), "id", s, c)),
      "ivfAppendSink" -> ((df, s, c) =>
        StreamOps.ivfAppendSink(df, "vec", "id", s, c, k = 4)),
      "ivfPqAppendSink" -> ((df, s, c) =>
        StreamOps.ivfPqAppendSink(df, "vec", "id", s, c, k = 4)),
      "erAppendSink" -> ((df, s, c) =>
        StreamOps.erAppendSink(df, "id", "text", s, c, threshold = 0.97)),
      "goldenAppendSink" -> ((df, s, c) =>
        StreamOps.goldenAppendSink(df, "grp", s, c, maxOf = Seq("id"))),
      "centroidAppendSink" -> { (df, s, c) =>
        if (!CentroidStore.storeExists(spark, s)) CentroidStore.create(anchors, s)
        StreamOps.centroidAppendSink(df, "vec", s, c)
      })
    for ((name, start) <- sinks) withClue(s"$name: ") {
      val dir = java.nio.file.Files.createTempDirectory("store-sink")
      val store = dir.resolve("s")
      val ckpt = dir.resolve("ckpt")
      def files(): Set[String] =
        if (!java.nio.file.Files.exists(store)) Set.empty
        else {
          val walk = java.nio.file.Files.walk(store)
          try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(store.relativize(_).toString).toSet
          finally walk.close()
        }
      def ledgerDirs() = files().flatMap(_.split('/').filter(_.startsWith("ab=")))
      val mem = MemoryStream[(Long, String, String, Seq[Float])]
      val df = mem.toDF().toDF("id", "grp", "text", "vec")
      val q1 = start(df, store.toString, ckpt.toString)
      val pinned = files() // the centroid store's anchors; nothing elsewhere
      mem.addData() // micro-batch 0: empty
      q1.processAllAvailable()
      assert(files() == pinned, "an empty first micro-batch writes nothing")
      mem.addData(rows: _*) // micro-batch 1
      q1.processAllAvailable()
      q1.stop()
      assert(ledgerDirs() == Set("ab=2"), "micro-batch 1 lands under ledger id 2")
      val landed = files()
      // drop micro-batch 1's commit, so the restarted query runs it again
      val commit = ckpt.resolve("commits")
      Seq("1", ".1.crc").foreach(f => java.nio.file.Files.deleteIfExists(commit.resolve(f)))
      val q2 = start(df, store.toString, ckpt.toString)
      q2.processAllAvailable()
      q2.stop()
      assert(java.nio.file.Files.exists(commit.resolve("1")), "micro-batch 1 ran again")
      assert(files() == landed, "replaying ledger id 2 is a no-op")
    }
  }

  test("a non-empty hllSink micro-batch submits no empty-batch probe job") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream-hll-jobs")
    val mem = MemoryStream[(String, Long)]
    val q = StreamOps.hllSink(mem.toDF().toDF("grp", "v"), Seq("grp"), "v",
      dir.toString + "/store", dir.toString + "/ckpt")
    try {
      mem.addData(("a", 1L), ("b", 2L)) // creates the store
      q.processAllAvailable()
      val jobs = jobsInGroup(q.runId.toString) {
        mem.addData(("a", 3L), ("c", 4L))
        q.processAllAvailable()
      }
      info(s"$jobs jobs for one appending micro-batch")
      assert(jobs > 0, "the micro-batch's jobs are counted")
      // the store append's own isEmpty is the batch's only probe job
      assert(jobs <= 3, s"$jobs jobs")
    } finally q.stop()
    assert(graft.operators.Sketches.distinctCounts(spark, dir.toString + "/store")
      .as[(String, Long)].collect().toMap == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("no file in src/main but StreamOps.scala calls foreachBatch, and it calls it once") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"${main.toAbsolutePath}: run from the project root")
    val home = main.resolve("scala/graft/streaming/StreamOps.scala")
    val walk = Files.walk(main)
    val files = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    def calls(f: java.nio.file.Path) =
      "foreachBatch".r.findAllIn(Files.readString(f)).size
    val elsewhere = files.filter(f => f != home && calls(f) > 0)
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
    assert(calls(home) == 1)
  }
}
