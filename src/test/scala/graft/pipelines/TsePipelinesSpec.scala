package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end replays of the reference's four pipelines over TSE-shaped
  * fixtures (FIXTURES.md §B), asserting final table state. */
class TsePipelinesSpec extends SparkSpec {
  import spark.implicits._

  /** consulta_cand-shaped fixture. Encodes the §2.A edge cases: duplicate
    * NR_PARTIDO with conflicting names (keep-first), duplicate politician
    * pairs, party number 0, turn 2 date rule, latin-1 diacritics. */
  private def cand: DataFrame = Seq(
    // ord, year, turn, type, sq, nr_cand, name, urna, office, nr_party, sg, nm
    (1, 2024, 1, "Eleição Municipal", "1001", 11, "José da Silva", "Zé", "Prefeito", 13, "PT", "Partido dos Trabalhadores"),
    (2, 2024, 1, "Eleição Municipal", "1002", 22, "Maria Conceição", "Maria", "Prefeito", 45, "PSDB", "Partido da Social Democracia"),
    (3, 2024, 1, "Eleição Municipal", "1003", 33, "João Souza", "João", "Vereador", 13, "PT", "NOME CONFLITANTE (dup key)"),
    (4, 2024, 2, "Eleição Municipal", "1001", 11, "José da Silva", "Zé", "Prefeito", 13, "PT", "Partido dos Trabalhadores"),
    (5, 2024, 1, "Eleição Municipal", "1004", 44, "Ana Zero", "Aninha", "Vereador", 0, "P0", "Partido Zero"))
    .toDF("ord", "ANO_ELEICAO", "NR_TURNO", "DS_ELEICAO", "SQ_CANDIDATO",
      "NR_CANDIDATO", "NM_CANDIDATO", "NM_URNA_CANDIDATO", "DS_CARGO",
      "NR_PARTIDO", "SG_PARTIDO", "NM_PARTIDO")

  private def votes: DataFrame = Seq(
    ("1001", 100, "ELEITO", 1), ("1001", 250, "ELEITO", 2),
    ("1002", 80, "NÃO ELEITO", 3),
    ("9999", 5, "?", 4)) // miss: no such candidacy
    .toDF("SQ_CANDIDATO", "QT_VOTOS", "DS_SIT_TOT_TURNO", "ord")

  private val emptyParties = Seq.empty[(Long, String, String)]
    .toDF("party_number", "initials", "party_name")

  test("seedParties: keep-first on duplicate party number, upsert into empty") {
    val out = TsePipelines.seedParties(cand, emptyParties, "ord")
      .orderBy("party_number")
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (0L, "P0", "Partido Zero"),
      (13L, "PT", "Partido dos Trabalhadores"), // first occurrence wins
      (45L, "PSDB", "Partido da Social Democracia")))
  }

  test("seedParties: upsert updates an existing party row") {
    val existing = Seq((13L, "OLD", "Old Name")).toDF("party_number", "initials", "party_name")
    val out = TsePipelines.seedParties(cand, existing, "ord")
      .filter($"party_number" === 13L).as[(Long, String, String)].collect()
    assert(out.head._2 == "PT")
  }

  test("seedPoliticians: distinct natural keys, diacritics preserved") {
    val existing = Seq.empty[(String, String)].toDF("full_name", "nickname")
    val out = TsePipelines.seedPoliticians(cand, existing, "ord")
    assert(out.count() == 4) // José appears twice (turn 1+2) -> one row
    assert(out.filter($"full_name" === "José da Silva").count() == 1)
    assert(out.select("politician_id").distinct().count() == 4)
  }

  test("deriveElections: turn-1 -> Oct 2, turn-2 -> Oct 30 (load.py:62 rule)") {
    val out = TsePipelines.deriveElections(cand)
      .select($"turn", $"election_date".cast("string"))
      .as[(Int, String)].collect().toMap
    assert(out(1) == "2024-10-02")
    assert(out(2) == "2024-10-30")
  }

  test("seedCandidacies: 3-way join keeps party 0 (no truthiness bug)") {
    val parties = TsePipelines.seedParties(cand, emptyParties, "ord")
    val politicians = TsePipelines.seedPoliticians(cand,
      Seq.empty[(String, String)].toDF("full_name", "nickname"), "ord")
    val elections = TsePipelines.deriveElections(cand)
    val out = TsePipelines.seedCandidacies(cand, parties, politicians, elections)
    assert(out.count() == 5)
    assert(out.filter($"party_number" === 0L).count() == 1,
      "party 0 must survive the join (reference load.py:77 would drop it)")
  }

  test("updateResults: per-candidate vote sums + deterministic first status; misses counted") {
    val parties = TsePipelines.seedParties(cand, emptyParties, "ord")
    val politicians = TsePipelines.seedPoliticians(cand,
      Seq.empty[(String, String)].toDF("full_name", "nickname"), "ord")
    val elections = TsePipelines.deriveElections(cand)
    val candidacies = TsePipelines.seedCandidacies(cand, parties, politicians, elections)
    val out = TsePipelines.updateResults(votes, candidacies, "ord")
    val bySq = out.select($"sq_candidate_tse", $"total_votes_received", $"status_resultado")
      .as[(String, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // candidate 1001 has two candidacy rows (turns) and 100+250 votes
    assert(bySq("1001") == ((Some(350L), Some("ELEITO"))))
    assert(bySq("1002") == ((Some(80L), Some("NÃO ELEITO"))))
    assert(bySq("1003") == ((None, None)), "no votes -> untouched columns")
    val misses = TsePipelines.resultMisses(votes, candidacies)
      .as[String].collect().toSeq
    assert(misses == Seq("9999"))
  }

  test("resultMisses counts in one aggregate over both key sets") {
    val parties = TsePipelines.seedParties(cand, emptyParties, "ord")
    val politicians = TsePipelines.seedPoliticians(cand,
      Seq.empty[(String, String)].toDF("full_name", "nickname"), "ord")
    val candidacies = TsePipelines.seedCandidacies(cand, parties, politicians,
      TsePipelines.deriveElections(cand))
    var misses = -1L
    val jobs = jobsSubmittedBy {
      misses = TsePipelines.resultMisses(votes, candidacies).count()
    }
    assert(misses == 1L)
    // AQE runs each shuffle-map stage as a job: two for each broadcast
    // dimension (its shuffle, then the broadcast), the key aggregate's
    // shuffle, count()'s own shuffle and its result stage; no job shuffles
    // or broadcasts the candidacies keys
    assert(jobs == 9)
  }
}
