package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale-stress harness: synthesize an N× corpus from a base testdata dir
  * by deterministic replication + id remapping, then measure catalog
  * queries at 1× and N× to expose superlinear scaling constants that plan
  * inspection can't show (candidate-pair volume in similarity joins,
  * per-round scheduling in iterative graph ops, groups×B explosion in
  * resampling).
  *
  * {{{
  * runMain graft.tools.ScaleStress gen /root/testdata/sf0.1 /tmp/scale10x 10
  * runMain graft.tools.ScaleStress run q243_bootstrap_ci,q274_jw_join \
  *   /root/testdata/sf0.1 /tmp/scale10x 10 2
  * }}}
  *
  * Replication contract (keeps each table realistic at N×, the way a
  * larger TPC-H scale factor would look, rather than N exact copies):
  *   - every key column is remapped `key' = rep * (max(key)+1) + key`, so
  *     the N× corpus has N× distinct entities and foreign keys stay
  *     aligned — each FK remaps with its PARENT's stride (l_orderkey/
  *     o_orderkey with the orders stride, o_custkey with the customer
  *     stride, l_suppkey with the supplier stride; l_partkey is verbatim
  *     because part is a verbatim dim), so every replica's children
  *     reference that replica's parents;
  *   - TPC-H-style names are regenerated from the remapped key
  *     (`Customer#%09d`), so name-similarity joins see N× distinct
  *     name-like strings, not N-way exact duplicates;
  *   - document text gets a per-replica marker token prefix — replicas are
  *     near-duplicates (realistic for dedup workloads) but not identical,
  *     and the word vocabulary does NOT grow (see [[gen]]);
  *   - embeddings rotate by `rep` positions (norm-preserving, distinct);
  *   - dimension tables (region, nation, part) copy verbatim: at any real
  *     scale factor the dims stay broadcast-sized.
  */
object ScaleStress {

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: base :: out :: factor :: Nil =>
      val spark = GraftSession.local()
      gen(spark, base, out, factor.toInt)
      spark.stop()
    case "run" :: names :: dir1 :: dirN :: factor :: rest =>
      val reps = rest.headOption.map(_.toInt).getOrElse(2)
      val spark = GraftSession.local()
      run(spark, names.split(",").toSeq, dir1, dirN, factor.toInt, reps)
      spark.stop()
    // Output-volume check: a join whose TRUE result grows superlinearly
    // (sequential zero-padded names make single-digit-substitution pairs
    // grow ~ n·log10 n) sets the honest lower bound for its wall-clock
    // exponent — count result rows at each scale to separate
    // output-bound growth from candidate-fan-out waste.
    case "count" :: names :: dirs =>
      val spark = GraftSession.local()
      for (n <- names.split(",").toSeq; d <- dirs)
        println(s"[count] $n @$d: " +
          graft.SparkEntry.queries(n)(spark, d).count())
      spark.stop()
    case _ =>
      System.err.println(
        "usage: ScaleStress gen <baseDir> <outDir> <factor>\n" +
        "       ScaleStress run <q1,q2,...> <dir1x> <dirNx> <factor> [reps]\n" +
        "       ScaleStress count <q1,q2,...> <dir> [dir2...]\n" +
        "gen keeps the base word vocabulary: each replica's documents only\n" +
        "gain one marker token, so an Nx documents table is N near-copies,\n" +
        "not a larger vocabulary.")
      sys.exit(2)
  }


  /** Replicate `df` `factor` times with a `rep` column (0 = base rows
    * verbatim) for per-replica remapping. */
  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      df.sparkSession.range(factor.toLong).select(col("id").as("rep")))

  /** Key stride: max(key)+1 so remapped keys are dense and disjoint.
    * Cast-first so int32 key columns work; empty tables fail fast. */
  private def stride(df: DataFrame, key: String): Long = {
    val r = df.agg(max(col(key).cast("long"))).head()
    require(!r.isNullAt(0), s"stride($key): table is empty")
    r.getLong(0) + 1L
  }

  private def remap(key: String, strideV: Long) =
    (col("rep") * strideV + col(key)).as(key)

  /** Write the `factor`× corpus of `base` to `out` under the replication
    * contract above. Row counts and distinct entities grow `factor`×;
    * the documents' distinct words grow only by the `factor`−1 marker
    * tokens `rep1 … rep<factor-1>`, so word-table operators (BPE,
    * keywords, language models) see `factor`× counts over the same
    * words: a q101 point at N× times the corpus pass, not an N×
    * vocabulary. */
  def gen(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    def rd(name: String): DataFrame =
      spark.read.parquet(s"$base/$name.parquet")
    def wr(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[gen] $name x$factor -> $out/$name.parquet")
    }

    // Dims verbatim: broadcast-sized at any scale factor.
    Seq("region", "nation", "part").foreach(n => wr(rd(n), n, 1))

    val cust = rd("customer")
    val cStride = stride(cust, "c_custkey")
    wr(replicate(cust, factor).select(
        remap("c_custkey", cStride),
        format_string("Customer#%09d", col("rep") * cStride + col("c_custkey"))
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 4)

    val supp = rd("supplier")
    val sStride = stride(supp, "s_suppkey")
    wr(replicate(supp, factor).select(
        remap("s_suppkey", sStride),
        format_string("Supplier#%09d", col("rep") * sStride + col("s_suppkey"))
          .as("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    // Cross-table FKs remap with their OWN parent's stride so every
    // replica's orders reference that replica's customers (and
    // lineitems that replica's suppliers) — without this, rep>0
    // parents are orphans and parent↔child joins measure N× fan-in
    // skew instead of N× growth. l_partkey stays verbatim: part is a
    // verbatim dim.
    val ord = rd("orders")
    val oStride = stride(ord, "o_orderkey")
    wr(replicate(ord, factor).select(ord.columns.toSeq.map {
        case "o_orderkey" => remap("o_orderkey", oStride)
        case "o_custkey"  => remap("o_custkey", cStride)
        case c            => col(c)
      }: _*),
      "orders", 8)

    val li = rd("lineitem")
    wr(replicate(li, factor).select(li.columns.toSeq.map {
        case "l_orderkey" => remap("l_orderkey", oStride)
        case "l_suppkey"  => remap("l_suppkey", sStride)
        case c            => col(c)
      }: _*),
      "lineitem", 16)

    val ev = rd("events")
    val eStride = stride(ev, "event_id")
    val uStride = stride(ev, "user_id")
    wr(replicate(ev, factor).select(
        remap("event_id", eStride), col("ts"),
        remap("user_id", uStride),
        col("event_type"), col("value"), col("props")),
      "events", 8)

    val docs = rd("documents")
    val dStride = stride(docs, "doc_id")
    // rep 0 keeps base text verbatim; rep>0 prefixes a marker token so
    // replicas are near-dups, not exact dups (n_chars stays = added len).
    val marked = when(col("rep") === 0, col("text"))
      .otherwise(concat(lit("rep"), col("rep"), lit(" "), col("text")))
    val markedLen = when(col("rep") === 0, col("n_chars"))
      .otherwise(col("n_chars") + length(concat(lit("rep"), col("rep"))) + 1)
    wr(replicate(docs, factor).select(
        remap("doc_id", dStride), marked.as("text"),
        col("lang"), col("source"), markedLen.as("n_chars")),
      "documents", 4)

    val emb = rd("embeddings")
    val vStride = stride(emb, "vec_id")
    // rep>0 rotates the vector by rep MOD dim positions: norm-preserving,
    // distinct up to dim replicas (rep >= dim wraps — slice length must
    // stay non-negative; factor=100 over 64-dim vectors crashed on -1).
    val dim = size(col("embedding"))
    val rot = pmod(col("rep"), dim).cast("int")
    val rotated = when(rot === 0, col("embedding"))
      .otherwise(concat(
        slice(col("embedding"), rot + 1, dim - rot),
        slice(col("embedding"), lit(1), rot)))
    wr(replicate(emb, factor).select(
        remap("vec_id", vStride), rotated.as("embedding"), col("label")),
      "embeddings", 4)
  }

  def run(spark: SparkSession, names: Seq[String], dir1: String,
          dirN: String, factor: Int, reps: Int): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    def time(name: String, dir: String): Double = {
      val ts = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name @$dir rep $r: $t%.2f s")
        t
      }
      ts.min
    }

    println("| query | 1x s | " + factor + "x s | ratio | exponent |")
    println("|---|---|---|---|---|")
    names.foreach { n =>
      val t1 = time(n, dir1)
      val tN = time(n, dirN)
      val ratio = tN / t1
      val expo = math.log(ratio) / math.log(factor.toDouble)
      println(f"| $n | $t1%.2f | $tN%.2f | $ratio%.2fx | $expo%.2f |")
    }
  }
}
