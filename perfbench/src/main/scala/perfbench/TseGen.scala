package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded, single-threaded generator of TSE-shaped inputs for the
  * `tse_etl` workload: latin-1 `;` CSVs with the reference's columns
  * (FIXTURES.md section B), packed as several members of one ZIP per file
  * kind and election year.
  *
  * The inputs carry the reference's hazards: party numbers repeated with
  * conflicting names (keep-first decides), politicians repeated under the
  * same name pair, party number 0, a header-only member, and vote keys
  * that match no candidacy. The generator computes, without Spark, the
  * truth that the workload's check compares the stored tables against.
  *
  * `SQ_CANDIDATO` grows in file order across members, so it doubles as
  * the file-order tiebreak for keep-first.
  */
object TseGen {

  val CandHeader = "ANO_ELEICAO;NR_TURNO;DS_ELEICAO;SQ_CANDIDATO;NR_CANDIDATO;" +
    "NM_CANDIDATO;NM_URNA_CANDIDATO;DS_CARGO;NR_PARTIDO;SG_PARTIDO;NM_PARTIDO"
  val VotesHeader = "SQ_CANDIDATO;QT_VOTOS;DS_SIT_TOT_TURNO"

  /** Candidacy rows per election-year batch. */
  val CandRows = 8000
  /** Vote rows per candidacy: uniform in 1 to 2 * VotesPerCand - 1. */
  val VotesPerCand = 4
  /** Vote keys per batch that match no candidacy. */
  val MissKeys = 50
  val Years = Seq(2020, 2024)

  private val First = Vector("José", "João", "Antônio", "Francisco", "Conceição",
    "Lúcia", "Sebastião", "Inês", "Márcia", "Raimundo", "Luíza", "Joaquim",
    "Fátima", "Zé", "André", "Glória", "Célia", "Moisés")
  private val Last = Vector("da Silva", "Gonçalves", "Araújo", "Simões", "Magalhães",
    "Brandão", "Falcão", "Câmara", "Muñoz", "Guimarães", "Conceição", "Assunção",
    "Loureiro", "Peçanha", "Ribeiro", "Gusmão")
  private val Offices = Vector("Prefeito", "Vice-Prefeito", "Vereador")
  private val Status = Vector("ELEITO", "NÃO ELEITO", "SUPLENTE", "2º TURNO")
  private val States = Vector("AC", "BA", "SP")
  private val PartyNumbers = 0L +: (10L to 90L by 3)

  /** What the four pipelines must leave behind for one batch. */
  final case class Truth(
    parties: Map[Long, (String, String)],
    politicians: Set[(String, String)],
    elections: Set[(Int, Int, String, String)],
    votesMatched: Long,
    misses: Long,
    candRows: Long,
    voteRows: Long)

  /** One batch's CSV members (name -> latin-1 bytes) and its truth. */
  final case class Csvs(year: Int, cand: Seq[(String, Array[Byte])],
                        votes: Seq[(String, Array[Byte])], truth: Truth)

  /** One batch as written to disk. */
  final case class Batch(year: Int, candZip: Path, votesZip: Path, truth: Truth)

  /** Generates batch `b` (0-based) of the run seeded with `seed`. */
  def csvs(seed: Long, b: Int): Csvs = {
    val rnd = new SplittableRandom(seed * 1000003L + b)
    val year = Years(b)
    // politician pool: sampling it with replacement repeats name pairs
    val pool = Vector.fill(CandRows / 3) {
      val f = First(rnd.nextInt(First.size))
      val full = s"$f ${Last(rnd.nextInt(Last.size))} ${Last(rnd.nextInt(Last.size))}"
      val nick = if (rnd.nextInt(3) == 0) s"$f ${Last(rnd.nextInt(Last.size))}" else f
      (full, nick)
    }
    val votes = mutable.ArrayBuffer.empty[String]
    val parties = mutable.LinkedHashMap.empty[Long, (String, String)]
    val pols = mutable.Set.empty[(String, String)]
    val elections = mutable.Set.empty[(Int, Int, String, String)]
    var matched = 0L
    val candLines = Vector.tabulate(CandRows) { i =>
      val sq = (b + 1) * 10000000L + i + 1
      val turn = if (rnd.nextInt(5) == 0) 2 else 1
      val kind = if (rnd.nextInt(50) == 0) s"Eleição Suplementar $year" else s"Eleições Municipais $year"
      val party = PartyNumbers(rnd.nextInt(PartyNumbers.size))
      // one row in eight names its party differently: keep-first decides
      val variant = rnd.nextInt(8) == 0
      val (ini, pname) =
        if (variant) (s"P${party}D", s"Partido Dissidência nº $party")
        else (s"P$party", s"Partido da Nação Unida nº $party")
      val (full, nick) = pool(rnd.nextInt(pool.size))
      if (!parties.contains(party)) parties(party) = (ini, pname)
      pols += ((full, nick))
      elections += ((year, turn, kind, f"$year-10-${if (turn == 1) 2 else 30}%02d"))
      val status = Status(rnd.nextInt(Status.size))
      val n = 1 + rnd.nextInt(2 * VotesPerCand - 1)
      for (_ <- 0 until n) {
        val q = rnd.nextInt(5000)
        matched += q
        votes += s"$sq;$q;$status"
      }
      s"$year;$turn;$kind;$sq;${party * 100 + rnd.nextInt(100)};$full;$nick;" +
        s"${Offices(rnd.nextInt(Offices.size))};$party;$ini;$pname"
    }
    for (j <- 0 until MissKeys; _ <- 0 to rnd.nextInt(3))
      votes += s"${(b + 1) * 10000000L + 5000000L + j};${rnd.nextInt(100)};NÃO ELEITO"
    // vote files list municipality/zone rows in no particular key order
    for (i <- votes.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = votes(i); votes(i) = votes(j); votes(j) = t
    }
    val truth = Truth(parties.toMap, pols.toSet, elections.toSet, matched, MissKeys,
      CandRows, votes.size)
    def members(prefix: String, header: String, lines: Seq[String]): Seq[(String, Array[Byte])] = {
      val per = (lines.size + States.size - 1) / States.size
      States.zip(lines.grouped(per).toSeq).map { case (st, part) =>
        s"${prefix}_${year}_$st.csv" -> (header + "\n" + part.mkString("\n") + "\n").getBytes(ISO_8859_1)
      }
    }
    Csvs(year,
      members("consulta_cand", CandHeader, candLines),
      members("votacao_candidato_munzona", VotesHeader, votes.toSeq) :+
        (s"votacao_candidato_munzona_${year}_ZZ.csv" -> (VotesHeader + "\n").getBytes(ISO_8859_1)),
      truth)
  }

  /** Writes every batch of the run seeded with `seed` under `dir`. */
  def write(seed: Long, dir: Path): Seq[Batch] = {
    Files.createDirectories(dir)
    Years.indices.map { b =>
      val c = csvs(seed, b)
      val candZip = dir.resolve(s"consulta_cand_${c.year}.zip")
      val votesZip = dir.resolve(s"votacao_candidato_munzona_${c.year}.zip")
      zip(candZip, c.cand)
      zip(votesZip, c.votes)
      Batch(c.year, candZip, votesZip, c.truth)
    }
  }

  private def zip(path: Path, members: Seq[(String, Array[Byte])]): Unit = {
    val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try members.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      out.putNextEntry(e)
      out.write(bytes)
      out.closeEntry()
    } finally out.close()
  }
}
