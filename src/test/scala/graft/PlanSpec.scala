package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations the 100 TB design relies on
  * must actually appear in the executed plans (SURVEY.md §4). */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE so the adaptive plan shows real operators
    df.queryExecution.executedPlan.toString
  }

  test("filters push down to the parquet scan") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .filter(col("l_orderkey") === 42L)
      .select("l_orderkey", "l_quantity")
    val plan = executedPlan(li)
    assert(plan.contains("PushedFilters") && plan.contains("l_orderkey"),
      s"expected pushed filter in:\n$plan")
  }

  test("column pruning reaches the scan (2-col projection reads 2 cols)") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val plan = executedPlan(li)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected pruned ReadSchema in:\n$plan")
  }

  test("star join broadcasts the dimension tables (q07)") {
    val plan = executedPlan(
      SparkEntry.queries("q07_star_join")(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (q14)") {
    val plan = executedPlan(
      SparkEntry.queries("q14_top10_orders")(spark, sf("sf0.001")))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("aggregation is partial then final (map-side combine, q01)") {
    val plan = executedPlan(
      SparkEntry.queries("q01_pricing_summary")(spark, sf("sf0.001")))
    assert(plan.contains("partial"), s"expected partial aggregation in:\n$plan")
  }

  test("partition pruning on a partitioned parquet layout") {
    val dir = java.nio.file.Files.createTempDirectory("ppart").toString + "/orders"
    spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .write.partitionBy("o_orderstatus").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("o_orderstatus") === "O")
      .select("o_orderkey")
    val plan = executedPlan(q)
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"expected partition filter in:\n$plan")
    // only the O partition's files are read
    assert(q.queryExecution.executedPlan.toString.contains("o_orderstatus"))
  }

  test("native cosine participates in whole-stage codegen") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.limit(1).select(col("embedding").as("qv"))
    val df = emb.crossJoin(broadcast(q))
      .select(graft.functions.VectorFunctions.cosine(col("embedding"), col("qv")))
    val plan = executedPlan(df)
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert("\\*\\(\\d+\\) Project \\[static_invoke\\(graft\\.plans\\.CosineSimilarity\\.cosine\\("
      .r.findFirstIn(plan).isDefined,
      s"expected the cosine kernel inside a codegen'd (*-prefixed) Project in:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"must not fall back:\n$plan")
  }

  test("native hyperplane-LSH bucketing participates in whole-stage codegen") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val df = graft.functions.VectorFunctions.lshBuckets(emb, "embedding", 16)
      .select("vec_id", "lsh_bucket")
    val plan = executedPlan(df)
    assert("\\*\\(\\d+\\) Project \\[.*graft\\.plans\\.HyperplaneLsh\\.compute\\("
      .r.findFirstIn(plan).isDefined,
      s"expected the hyperplane-LSH kernel inside a codegen'd (*-prefixed) Project in:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"must not fall back:\n$plan")
  }

  test("q96 source-mix reads only (doc_id, source) — column pruning through the md5 filter") {
    val plan = executedPlan(SparkEntry.queries("q96_source_mix")(spark, sf("sf0.001")))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse("")
    assert(read.contains("doc_id") && read.contains("source") && !read.contains("text"),
      s"scan must not read the wide text column:\n$read")
    // the only exchange allowed is the output orderBy's range partitioning —
    // the mix filter itself is a narrow projection
    assert(!plan.contains("hashpartitioning"),
      s"the md5 filter must not introduce a hash shuffle:\n$plan")
  }

  test("q95 PII redaction runs the regex chain inside whole-stage codegen") {
    val plan = executedPlan(SparkEntry.queries("q95_pii_redact")(spark, sf("sf0.001")))
    assert("\\*\\(\\d+\\) Project \\[.*regexp_replace".r.findFirstIn(plan).isDefined,
      s"redaction chain must sit in a codegen'd Project:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"must not fall back:\n$plan")
  }

  test("q128/q131 batched retrieval: topK windows are query-partitioned, " +
      "query tables broadcast — no global funnel") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q128_bm25_batch", "q131_tfidf_batch").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val plan = df.queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected the per-query rank window")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name: rank window must partition by query_id, not sort globally:\n$w")
      }
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"$name: the query/df tables must broadcast:\n$plan")
      // the per-query rank never funnels the corpus through one task
      plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }.foreach { e =>
        assert(e.collect { case w: WindowExec => w }.isEmpty,
          s"$name: no window output may feed a single-partition exchange:\n$e")
      }
      assert(df.collect().nonEmpty)
    }
  }

  test("q114 hybrid RRF: rank windows sit above distributed top-k prunes, " +
      "never a corpus-sized single-partition exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q114_hybrid_rrf")(spark, sf("sf0.001"))
    val plan = df.queryExecution.sparkPlan
    // every rank window's input is already pruned to top-M rows
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected rank windows in:\n$plan")
    windows.foreach { w =>
      assert(w.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"rank window must sit above a TakeOrderedAndProject prune:\n$w")
    }
    // any single-partition exchange in the plan carries only pruned rows
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"single-partition exchange must be fed by a top-k prune:\n$e")
    }
    assert(df.collect().nonEmpty)
  }

  test("islands: all-singleton adversarial key set never funnels the " +
      "key set through a single-partition window") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    // every key odd ⇒ no consecutive pair ⇒ every distinct key is its
    // own island: starts = ends = the whole distinct-key set
    val n = 5000
    val df = (0 until n).map(i => 2L * i + 1).toDF("k")
    val out = graft.operators.TimeSeries.islands(df, "k")
    val plan = out.queryExecution.sparkPlan
    // the only windows allowed to sort globally are the buckets-sized
    // prefix walks, which sit above an aggregation (groups = buckets)
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        assert(w.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"global window must walk the bucket-prefix aggregate only:\n$w")
      }
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"single-partition exchange must carry aggregated (buckets-sized) " +
          s"rows, not the key set:\n$e")
    }
    // and the ranks still pair correctly: n singleton islands
    val rows = out.collect()
    assert(rows.length == n)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) && r.getLong(2) == 1L))
  }

  test("q235 bhAdjust: both corpus-sized walks ride the bucketed " +
      "two-level ranks — no hypothesis-table window ever funnels " +
      "through one task (the r12 reroute, pinned)") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q235_bh_adjust")(spark, sf("sf0.001"))
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the two-level rank windows in:\n$plan")
    // the only globally-sorted windows allowed are the buckets-sized
    // prefix walks above an aggregation (the islands precedent); the
    // row-level walks must be bucket-partitioned
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"global window must walk the bucket-prefix aggregate only:\n$w")
    }
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"single-partition exchange must carry aggregated (buckets-" +
          s"sized) rows, never the hypothesis table:\n$e")
    }
    assert(df.collect().nonEmpty)
  }

  test("q327/q329: global ntile and rank stats never funnel the " +
      "corpus through one task (the Ranks machinery, pinned per query)") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q327_global_ntile", "q329_global_rank_stats").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val plan = df.queryExecution.sparkPlan
      // globally-sorted windows may walk only the buckets-sized
      // prefix aggregate (the islands/q235 precedent)
      plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(w.collect { case a: BaseAggregateExec => a }.nonEmpty,
            s"$name: global window must walk the bucket-prefix " +
              s"aggregate only:\n$w")
        }
      plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }.foreach { e =>
        assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"$name: single-partition exchange must carry aggregated " +
            s"(buckets-sized) rows, never the corpus:\n$e")
      }
      assert(df.collect().nonEmpty)
    }
  }

  test("q228 knnJoin: centroids broadcast, rank windows are query-" +
      "partitioned, no cartesian candidate join") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q228_knn_join")(spark, sf("sf0.001"))
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected probe + rank windows in:\n$plan")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"knnJoin windows must partition by query id:\n$w")
    }
    // the candidate join is a cluster-keyed equi-join, never a cartesian
    assert(!plan.toString.contains("CartesianProduct"),
      s"candidate join must be cluster-keyed:\n$plan")
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case w: WindowExec => w }.isEmpty,
        s"no window output may feed a single-partition exchange:\n$e")
    }
    assert(df.collect().nonEmpty)
  }

  test("q226 collocations: top-k lands via TakeOrderedAndProject, " +
      "bigram window is doc-partitioned") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q226_collocations")(spark, sf("sf0.001"))
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"topK must compile to TakeOrderedAndProject, not a global sort:\n$plan")
    plan.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"the bigram lag window must partition by doc:\n$w")
    }
    assert(df.collect().nonEmpty)
  }

  test("q231 correlationMatrix: one aggregation pass, no joins") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("q231_corr_matrix")(spark, sf("sf0.001"))
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case a: BaseAggregateExec => a }.nonEmpty)
    assert(plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
    }.isEmpty, s"all pair stats must come from ONE agg pass:\n$plan")
    assert(df.collect().length == 6)
  }

  test("spearman on a near-unique column under few groups: no group-" +
      "grid single-partition window (the q190 de-funnel)") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    // 2 groups, every y distinct: the rank grid ≈ the corpus
    val n = 4000
    val df = (0 until n).map(i => (i % 2, (i % 7).toDouble, i * 1.0 + 0.5))
      .toDF("g", "x", "y")
    val out = graft.operators.Features.spearman(df, "g", "x", "y")
    val plan = out.queryExecution.sparkPlan
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"single-partition exchanges must carry aggregated rows only:\n$e")
    }
    assert(out.collect().length == 2)
  }

  test("bootstrapCi: replicate explosion partial-aggregates map-side; " +
      "order-stat picks never run an unaggregated global window") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val df = (1 to 2000).map(i =>
      ((i % 3).toString, i.toString, (i % 17).toDouble)).toDF("g", "id", "v")
    val out = graft.operators.Eval.bootstrapCi(df, "g", "id", "v", b = 40)
    val plan = out.queryExecution.sparkPlan
    // the ×B explosion must collapse in-task before it shuffles
    assert(plan.toString.contains("partial"),
      s"expected map-side partial aggregation in:\n$plan")
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        assert(w.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"global windows may walk bucket-prefix aggregates only:\n$w")
      }
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"single-partition exchanges must carry aggregated rows only:\n$e")
    }
    assert(out.collect().length == 3)
  }

  test("decisionTreeDepth2: the root threshold reaches the children as " +
      "a broadcast, never a shuffled or cartesian corpus join") {
    import spark.implicits._
    val df = (1 to 3000).map(i =>
      ((i % 23).toDouble, if (i % 5 == 0) "a" else "b")).toDF("x", "y")
    val out = graft.operators.Classify.decisionTreeDepth2(df, "x", "y")
    val plan = out.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row threshold to ride a broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"threshold must never cartesian-join the corpus:\n$plan")
    assert(out.collect().length == 3)
  }

  test("twap/acf/interval-merge: every window is key-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val series = (1 to 500).map(i =>
      ((i % 5).toString, ts(i.toLong * 7), (i % 11).toDouble))
      .toDF("g", "ts", "v")
    val plans = Seq(
      graft.operators.TimeSeries.timeWeightedAverage(series, "g", "ts", "v"),
      graft.operators.TimeSeries.autocorrelation(series, "g", "ts", "v", 3),
      graft.operators.TimeSeries.mergeIntervals(
        series.select(col("g"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 10 SECONDS")).as("e")), "g", "s", "e"))
    plans.foreach { q =>
      val windows = q.queryExecution.sparkPlan
        .collect { case w: WindowExec => w }
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"window must partition by key:\n$w"))
      assert(q.collect().nonEmpty)
    }
  }

  test("q273/q274 ER linkage plans are cartesian-free — candidates " +
    "come from the bounded JW join's equi-keys (r9 verdict task 2)") {
    for (name <- Seq("q273_er_clusters", "q274_jw_join")) {
      val plan = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian:\n${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name must not nested-loop:\n${plan.take(1500)}")
    }
  }

  test("q309 snapshot visibility filter pushes to the orders scan — " +
    "at 100 TB the time-partitioned log prunes before the keyed " +
    "keep-first ever sees invisible rows") {
    val df = SparkEntry.queries("q309_snapshot_as_of")(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(o_orderdate"),
      s"expected the asOf filter pushed to the scan:\n${plan.take(2000)}")
  }

  test("round-12 batch plans are cartesian-free — q308 rules ride " +
    "broadcast item counts, q309 is one keyed window over the visible " +
    "log, q311 probes cluster-keyed equi-joins, q313 folds keyed " +
    "partials (the only nested loops are 1-row/broadcast-bounded " +
    "scalar joins)") {
    for (name <- Seq("q308_association_rules", "q309_snapshot_as_of",
        "q311_radius_join", "q313_golden_store")) {
      val plan = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian:\n${plan.take(1500)}")
    }
  }

  test("q234 reciprocal best match is cartesian-free — the argmax is " +
    "served by gram-retrieved candidates, not an all-pairs score " +
    "(r10 verdict task 1); the only nested loop is the 1-row " +
    "right-count broadcast") {
    val plan = SparkEntry.queries("q234_reciprocal_match")(
      spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("__N")), bnlj.mkString("\n"))
  }
}
