package perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipelines.TsePipelines
import graft.sources.{Landing, Sinks, Tables}

/** One outcome of a workload's correctness check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A named set of inputs and the calls one pass makes over them. */
trait Workload {
  def name: String

  /** Item names in the order this run's passes execute them. */
  def items: Seq[String]

  /** Untimed passes in set-up. Pass times fall for many passes while the
    * JIT compiles the engine's code, so the timed window should start on
    * the flatter part of that curve; the run budget caps how far. */
  def warmupPasses: Int

  /** Builds this run's inputs. Part of set-up, untimed. */
  def prepare(): Unit = ()

  /** Input rows one pass consumes, fixed by the inputs alone; valid once
    * [[prepare]] has run. */
  def inputRows: Long

  /** Runs one pass and returns the items that failed. */
  def pass(t: Tracer): Seq[String]

  /** The untimed correctness check that follows the timed passes. */
  def check(): Seq[Check]

  /** Runs one item inside its span; a throw fails the item, not the run. */
  protected def item(t: Tracer, name: String)(body: => Unit): Option[String] =
    try { t.span("item", name)(body); None }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(name)
    }
}

object Workloads {

  /** A driver-loop query whose wall time is mostly between jobs: BPE
    * merge learning, one round of jobs per merge over local checkpoints,
    * with the native merge fold of `plans` in its tasks. */
  val Iterative = Seq("q101_bpe_vocab")
  val TseSteps = Seq("land", "seed_parties", "seed_politicians", "seed_candidacies",
    "update_results")

  val Names = Seq("tse_etl", "iterative")

  /** Every item of every workload: the traced run reports each by name. */
  val AllItems: Seq[String] = TseSteps ++ Iterative

  def apply(name: String, spark: SparkSession, bench: Path, seed: Long): Workload = {
    val data = bench.resolve("data/sf0.01").toString
    lazy val pinned = Fingerprints.load(bench.resolve("fingerprints.tsv"))
    name match {
      case "tse_etl"   => new TseEtl(spark, bench.resolve("work/tse"), seed)
      case "iterative" => new Catalog(name, Iterative, Seq("documents"), spark, data, pinned)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }
  }
}

object Fingerprints {
  /** `name<TAB>fingerprint` lines; `#` starts a comment. */
  def load(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
}

/** Catalog queries on the fixed tables in `dir`, which the seed does not
  * change. `inputs` names the tables the queries read. */
final class Catalog(val name: String, queries: Seq[String], inputs: Seq[String],
                    spark: SparkSession, dir: String, pinned: => Map[String, String])
  extends Workload {
  val items: Seq[String] = queries
  private var rows = -1L

  def warmupPasses: Int = 4

  /** Counts the input tables' rows once: a pass's task metrics would also
    * count its re-reads of cached and checkpointed blocks. */
  override def prepare(): Unit =
    rows = inputs.map(t => Tables.table(spark, dir, t).count()).sum

  def inputRows: Long = rows

  def pass(t: Tracer): Seq[String] = items.flatMap { q =>
    val failed = item(t, q) {
      val df = t.span("build", q)(SparkEntry.queries(q)(spark, dir))
      t.span("action", "noop")(df.write.format("noop").mode("overwrite").save())
    }
    dropLocalCheckpoints()
    failed
  }

  def fingerprint(q: String): String = Fingerprint.of(SparkEntry.queries(q)(spark, dir))

  def check(): Seq[Check] = queries.map { q =>
    val want = pinned.get(q)
    val got = try fingerprint(q) catch { case NonFatal(e) => s"error: $e" }
    try Check(q, want.contains(got), s"got $got, pinned ${want.getOrElse("nothing")}")
    finally dropLocalCheckpoints()
  }

  /** Drops the blocks of local checkpoints once a query is done, as
    * `graft.Bench` does between queries: nothing reads them again, and
    * left in place they make later passes a function of heap history. */
  private def dropLocalCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
      .foreach(_.unpersist(blocking = false))
}

/** The reference's four pipelines over generated TSE inputs. Set-up
  * lands the first election year into an empty store; each pass lands
  * the second year's batch over it, every table through
  * `Sinks.upsertParquet`. Upserting the same batch again leaves the same
  * state, so every pass does the same work. */
final class TseEtl(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val name = "tse_etl"
  val items: Seq[String] = Workloads.TseSteps
  /** Fewer than a catalog workload's: loading the first year in set-up
    * already runs every step once, and a pass here is twice as long. */
  def warmupPasses: Int = 3
  private var first, second: TseGen.Batch = _
  private var misses = -1L

  private val candSchema = StructType(Seq(
    StructField("ANO_ELEICAO", IntegerType), StructField("NR_TURNO", IntegerType),
    StructField("DS_ELEICAO", StringType), StructField("SQ_CANDIDATO", LongType),
    StructField("NR_CANDIDATO", IntegerType), StructField("NM_CANDIDATO", StringType),
    StructField("NM_URNA_CANDIDATO", StringType), StructField("DS_CARGO", StringType),
    StructField("NR_PARTIDO", IntegerType), StructField("SG_PARTIDO", StringType),
    StructField("NM_PARTIDO", StringType)))
  private val votesSchema = StructType(Seq(
    StructField("SQ_CANDIDATO", LongType), StructField("QT_VOTOS", IntegerType),
    StructField("DS_SIT_TOT_TURNO", StringType)))

  private def store(table: String): String = work.resolve("store").resolve(table).toString

  override def prepare(): Unit = {
    Seq("input", "land", "store").foreach(d => deleteTree(work.resolve(d)))
    val Seq(a, b) = TseGen.write(seed, work.resolve("input"))
    first = a
    second = b
    val (failed, _) = batch(new Tracer(spark.sparkContext), first)
    if (failed.nonEmpty) throw new IllegalStateException(s"loading ${first.year} failed: $failed")
  }

  def inputRows: Long = second.truth.candRows + second.truth.voteRows

  def pass(t: Tracer): Seq[String] = {
    val (failed, m) = batch(t, second)
    misses = m
    failed
  }

  /** One batch: returns the failed steps and the miss count. A failed step
    * fails the steps after it, which need its frames. */
  private def batch(t: Tracer, b: TseGen.Batch): (Seq[String], Long) = {
    import spark.implicits._
    var cand, votes, parties, pols, candidacies: DataFrame = null
    var missCount = -1L
    val steps: Seq[(String, () => Unit)] = Seq(
      "land" -> { () =>
        val land = work.resolve("land").resolve(b.year.toString)
        t.span("scan", "Landing.expandZipCsvs") {
          Landing.expandZipCsvs(b.candZip, land.resolve("cand").toString)
          Landing.expandZipCsvs(b.votesZip, land.resolve("votes").toString)
        }
        t.span("scan", "Tables.tseCsv") {
          cand = Tables.tseCsv(spark, land.resolve("cand").toString, Some(candSchema))
            .withColumn("ord", col("SQ_CANDIDATO"))
          votes = Tables.tseCsv(spark, land.resolve("votes").toString, Some(votesSchema))
            .withColumn("ord", monotonically_increasing_id())
        }
      },
      "seed_parties" -> { () =>
        parties = t.span("build", "TsePipelines.seedParties")(TsePipelines.seedParties(cand,
          Seq.empty[(Long, String, String)].toDF("party_number", "initials", "party_name"), "ord"))
        t.span("sink", "Sinks.upsertParquet")(
          Sinks.upsertParquet(parties, store("parties"), Seq("party_number"), Seq(col("party_number"))))
      },
      "seed_politicians" -> { () =>
        pols = t.span("build", "TsePipelines.seedPoliticians")(TsePipelines.seedPoliticians(cand,
          Seq.empty[(String, String)].toDF("full_name", "nickname"), "ord"))
        t.span("sink", "Sinks.upsertParquet")(
          Sinks.upsertParquet(pols, store("politicians"), Seq("full_name", "nickname"),
            Seq(col("full_name"))))
      },
      "seed_candidacies" -> { () =>
        val elections = t.span("build", "TsePipelines.deriveElections")(
          TsePipelines.deriveElections(cand))
        candidacies = t.span("build", "TsePipelines.seedCandidacies")(
          TsePipelines.seedCandidacies(cand, parties, pols, elections))
        t.span("sink", "Sinks.upsertParquet")(
          Sinks.upsertParquet(elections, store("elections"),
            Seq("election_year", "turn", "election_type"), Seq(col("election_date"))))
      },
      "update_results" -> { () =>
        val (results, missed) = t.span("build", "TsePipelines.updateResults")(
          (TsePipelines.updateResults(votes, candidacies, "ord"),
            TsePipelines.resultMisses(votes, candidacies)))
        // the candidacies table is stored once its results are known
        t.span("sink", "Sinks.upsertParquet")(
          Sinks.upsertParquet(results, store("candidacies"), Seq("sq_candidate_tse"),
            Seq(col("sq_candidate_tse"))))
        missCount = t.span("action", "count")(missed.count())
      })
    var failed = Vector.empty[String]
    for ((n, f) <- steps)
      if (failed.nonEmpty) failed :+= n else failed ++= item(t, n)(f())
    (failed, missCount)
  }

  def check(): Seq[Check] = {
    // the stored state is the second batch upserted over the first
    val truth = Seq(first.truth, second.truth)
    val parties = truth.map(_.parties).reduce(_ ++ _)
    def read(table: String): DataFrame = spark.read.parquet(store(table))
    def attempt(name: String)(f: => (Boolean, String)): Check =
      try { val (ok, d) = f; Check(name, ok, d) }
      catch { case NonFatal(e) => Check(name, ok = false, s"error: $e") }
    Seq(
      attempt("parties") {
        val got = read("parties").collect()
          .map(r => r.getLong(r.fieldIndex("party_number")) ->
            (r.getString(r.fieldIndex("initials")), r.getString(r.fieldIndex("party_name")))).toSeq
        (got.size == parties.size && got.toMap == parties, s"${got.size} rows, want ${parties.size}")
      },
      attempt("politicians") {
        val want = truth.map(_.politicians).reduce(_ ++ _)
        val got = read("politicians").select("full_name", "nickname").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        (got.size == want.size && got.toSet == want, s"${got.size} rows, want ${want.size}")
      },
      attempt("elections") {
        val want = truth.map(_.elections).reduce(_ ++ _)
        val got = read("elections").collect().map(r => (r.getAs[Int]("election_year"),
          r.getAs[Int]("turn"), r.getAs[String]("election_type"),
          r.getAs[java.sql.Date]("election_date").toString)).toSeq
        (got.size == want.size && got.toSet == want, s"${got.size} rows, want ${want.size}")
      },
      attempt("candidacies") {
        val want = truth.map(_.candRows).sum
        val got = read("candidacies").count()
        (got == want, s"$got rows, want $want")
      },
      attempt("results") {
        val want = truth.map(_.votesMatched).sum
        val got = read("candidacies").agg(sum("total_votes_received")).head().getLong(0)
        (got == want, s"$got votes, want $want")
      },
      attempt("misses") {
        (misses == second.truth.misses, s"$misses, want ${second.truth.misses}")
      })
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
