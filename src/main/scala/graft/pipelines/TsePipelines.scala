package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Merge}

/** The reference's four pipelines (main.py:29-39) re-expressed as lazy
  * Spark plans over TSE-shaped inputs.
  *
  * Input contract: a candidacies frame shaped like `consulta_cand_{year}`
  * and a votes frame shaped like `votacao_candidato_munzona_{year}`
  * (columns in FIXTURES.md §B; reference extract.py:46 reads them from
  * CSV with sep=';' latin-1 — use [[graft.sources.Tables.tseCsv]]).
  *
  * Where the reference does per-row Postgres statements, these return the
  * post-merge table state as DataFrames (Merge.* gives the ON CONFLICT
  * semantics relationally). A `fileOrder` tiebreak column stands in for
  * the reference's statement order so keep-first/last is deterministic
  * (SURVEY.md §2.A hazards). Natural keys replace uuid4 surrogates in
  * comparisons; a `politician_id` uuid column is still attached at the
  * end (reference load.py:36) but must not be used as identity.
  */
object TsePipelines {

  /** seed_parties (load.py:10-28): project party columns, dedup on
    * NR_PARTIDO keeping first occurrence, cast/rename, upsert into
    * `existing` on party_number.
    *
    * The keep-first groups by (party_number, NR_PARTIDO), the same groups
    * as NR_PARTIDO alone since the cast is a function of it, over rows
    * hash-partitioned by party_number. That partitioning also clusters
    * the upsert's window, so the parties lineage shuffles once. */
  def seedParties(raw: DataFrame, existing: DataFrame, fileOrder: String): DataFrame = {
    val parties = Dedup.keepFirst(
      raw.select(col("NR_PARTIDO").cast("long").as("party_number"), col("NR_PARTIDO"),
          col("SG_PARTIDO"), col("NM_PARTIDO"), col(fileOrder))
        .repartition(col("party_number")),
      Seq("party_number", "NR_PARTIDO"), Seq(col(fileOrder)))
      .select(
        col("party_number"),
        col("SG_PARTIDO").as("initials"),
        col("NM_PARTIDO").as("party_name"),
        col(fileOrder).as("__ord"))
    Merge.upsert(
      existing.withColumn("__ord", lit(Long.MinValue)),
      parties, Seq("party_number"), Seq(col("__ord")))
      .drop("__ord")
  }

  /** seed_politicians (load.py:30-48): distinct (full_name, nickname)
    * pairs, insert-if-absent; uuid surrogate attached (non-identity). */
  def seedPoliticians(raw: DataFrame, existing: DataFrame, fileOrder: String): DataFrame = {
    val pols = Dedup.keepFirst(
      raw.select(col("NM_CANDIDATO"), col("NM_URNA_CANDIDATO"), col(fileOrder)),
      Seq("NM_CANDIDATO", "NM_URNA_CANDIDATO"), Seq(col(fileOrder)))
      .select(
        col("NM_CANDIDATO").as("full_name"),
        col("NM_URNA_CANDIDATO").as("nickname"),
        col(fileOrder).as("__ord"))
    Merge.insertIfAbsent(
      existing.select(col("full_name"), col("nickname"), lit(Long.MinValue).as("__ord")),
      pols, Seq("full_name", "nickname"), Seq(col("__ord")))
      .drop("__ord")
      .withColumn("politician_id", expr("uuid()"))
  }

  /** seed_candidacies elections step (load.py:59-65): distinct
    * (year, turn, type) triples with the election-date rule
    * `date(year, 10, turn == 1 ? 2 : 30)` (load.py:62). */
  def deriveElections(raw: DataFrame): DataFrame =
    raw.select(
      col("ANO_ELEICAO").cast("int").as("election_year"),
      col("NR_TURNO").cast("int").as("turn"),
      col("DS_ELEICAO").as("election_type"))
      .distinct()
      .withColumn("election_date",
        make_date(col("election_year"), lit(10),
          when(col("turn") === 1, 2).otherwise(30)))

  /** seed_candidacies (load.py:51-98): 3-way broadcast equi-join of the
    * candidacies file against the three dimensions; inner-join semantics
    * drop FK misses (reference load.py:77 — minus its id=0 truthiness
    * bug, which we do NOT replicate: id 0 joins fine here). */
  def seedCandidacies(raw: DataFrame, parties: DataFrame, politicians: DataFrame,
                      elections: DataFrame): DataFrame =
    raw
      .join(broadcast(parties),
        raw("NR_PARTIDO").cast("long") === parties("party_number"))
      .join(broadcast(politicians),
        raw("NM_CANDIDATO") === politicians("full_name") &&
          raw("NM_URNA_CANDIDATO") === politicians("nickname"))
      .join(broadcast(elections),
        raw("ANO_ELEICAO").cast("int") === elections("election_year") &&
          raw("NR_TURNO").cast("int") === elections("turn") &&
          raw("DS_ELEICAO") === elections("election_type"))
      .select(
        col("full_name"), col("nickname"), col("party_number"),
        col("election_year"), col("turn"), col("election_type"),
        col("DS_CARGO").as("office"),
        col("NR_CANDIDATO").cast("long").as("electoral_number"),
        col("SQ_CANDIDATO").cast("string").as("sq_candidate_tse"))

  /** update_results (load.py:101-132): aggregate votes per candidate
    * (sum + deterministic first via min_by on a tiebreak), then keyed
    * update of the candidacies table. */
  def updateResults(votes: DataFrame, candidacies: DataFrame, fileOrder: String): DataFrame = {
    val agg = votes
      .groupBy(col("SQ_CANDIDATO").cast("string").as("sq_candidate_tse"))
      .agg(
        sum(col("QT_VOTOS").cast("long")).as("total_votes_received"),
        min_by(col("DS_SIT_TOT_TURNO"), col(fileOrder)).as("status_resultado"))
    Merge.updateColumns(
      candidacies
        .withColumn("total_votes_received", lit(null).cast("long"))
        .withColumn("status_resultado", lit(null).cast("string")),
      agg, Seq("sq_candidate_tse"),
      Seq("total_votes_received", "status_resultado"))
  }

  /** The miss-warning count (load.py:123-124): vote keys with no
    * candidacy row, one row per key. */
  def resultMisses(votes: DataFrame, candidacies: DataFrame): DataFrame =
    Merge.updateMisses(
      candidacies.select("sq_candidate_tse"),
      votes.select(col("SQ_CANDIDATO").cast("string").as("sq_candidate_tse")),
      Seq("sq_candidate_tse"))
}
