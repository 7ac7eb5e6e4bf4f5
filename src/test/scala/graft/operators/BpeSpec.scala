package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // independent reference implementation (Sennrich-style, no end-of-word
  // marker, same deterministic tie-break) to hand-check the engine
  private def refApply(syms: List[String], l: String, r: String): List[String] =
    syms.foldLeft(List.empty[String]) { (out, x) =>
      if (out.nonEmpty && out.last == l && x == r) out.init :+ (l + r)
      else out :+ x
    }

  private def refMerges(wordCounts: Map[String, Long], k: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var words: Map[String, (List[String], Long)] =
      wordCounts.map { case (w, c) => w -> (w.map(_.toString).toList, c) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      words.values.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case List(a, b) => pc((a, b)) += c
          case _          => ()
        }
      }
      val best = pc.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((l, r), cnt)) if cnt > 1 =>
          out += ((rank, l, r, l + r, cnt))
          words = words.map { case (w, (syms, c)) => w -> (refApply(syms, l, r), c) }
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  private val corpus = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  private def corpusDf = corpus.toSeq
    .flatMap { case (w, c) => Seq.fill(c.toInt)(w) }
    .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    .toDF("doc_id", "text")

  test("learnMerges matches an independent reference BPE, rank for rank") {
    val got = Bpe.learnMerges(corpusDf, "text", numMerges = 6)
      .orderBy("rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val want = refMerges(corpus, 6)
    assert(got == want, s"\nengine: $got\nref:    $want")
    assert(got.size == 6, "this corpus supports at least 6 productive merges")
  }

  test("learnMerges stops early when no pair repeats") {
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text") // every pair count = 1
    assert(Bpe.learnMerges(tiny, "text", numMerges = 5).count() == 0)
  }

  test("encode replays the merge table greedily, matching the reference apply") {
    val merges = Bpe.learnMerges(corpusDf, "text", numMerges = 6)
    val refTable = refMerges(corpus, 6)
    val docs = Seq((1L, "lowest newest"), (2L, "low"), (3L, "")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, "text", merges)
      .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().toMap
    def refEncode(text: String): Seq[String] =
      text.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        refTable.foldLeft(w.map(_.toString).toList) { case (syms, (_, l, r, _, _)) =>
          refApply(syms, l, r)
        }
      }
    assert(got(1L) == refEncode("lowest newest"), s"got ${got(1L)}")
    assert(got(2L) == refEncode("low"))
    assert(got(3L).isEmpty, "empty text -> zero tokens")
    // chaining sanity: greedy left-to-right on a repeated-symbol word
    val aaa = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(aaa, "text", 1)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m == Seq((0, "a", "a", "aa", 4L)), s"got $m")
    val enc = Bpe.encode(aaa, "text", m.toDF("rank", "left", "right", "merged", "pair_count"))
      .select("bpe_tokens").as[Seq[String]].collect().head
    assert(enc == Seq("aa", "a", "aa", "a"), s"aaa must encode [aa, a]: $enc")
  }

  test("bpe_merge_fold codegen == the interpreted HOF reference fold") {
    // adversarial symbol arrays: cascading merges ((t,h) then (th,e)),
    // re-merge of a merged token with the NEXT symbol (m == left),
    // repeats ("aaa" + (a,a) -> [aa, a]), null elements (never merge,
    // pass through), empty arrays, multi-byte and supplementary code
    // points, and a merge row with null left (never fires)
    val merges = Seq(
      ("t", "h", "th"), ("th", "e", "the"), ("a", "a", "aa"),
      ("aa", "a", "aaa"), ("é", "ü", "éü"), ("𝄞", "x", "𝄞x"),
      (null, "q", "NQ"), ("z", null, "ZN"))
    val rows: Seq[Seq[String]] = Seq(
      Seq("t", "h", "e"), Seq("a", "a", "a", "a", "a"),
      Seq("t", "h", null, "e"), Seq(null, null),
      Seq.empty[String], Seq("é", "ü", "𝄞", "x"),
      Seq("q", "q"), Seq("z", "z"), Seq("t", "h", "t", "h", "e", "e"))
    val df = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "sym")
    import org.apache.spark.sql.functions.col
    val got = df.select(col("id"),
        graft.plans.BpeMergeFold.of(col("sym"), merges).as("out"))
      .as[(Long, Seq[String])].collect().toMap
    // the verbatim interpreted reference fold the operator used to run
    val gotHof = df.select(col("id"),
        graft.HofReference.encodeFoldHof(col("sym"), merges).as("out"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == gotHof, s"\ncodegen: $got\nhof:     $gotHof")
    // null array in -> null out on both forms
    val nullDf = Seq(Tuple1(Option.empty[Seq[String]])).toDF("sym")
    assert(nullDf.select(graft.plans.BpeMergeFold.of(col("sym"), merges))
      .collect().head.isNullAt(0))
    assert(nullDf.select(graft.HofReference.encodeFoldHof(col("sym"), merges))
      .collect().head.isNullAt(0))
  }

  test("encode survives a realistic-size (2000-merge) vocabulary — constant plan depth") {
    // synthetic merge table far past where per-merge expression nesting
    // blew analyzer/codegen limits: merge rank i fuses ("m<i-1>", "x")
    // into "m<i>", so applying all of them to "m0" + "x"*k is a pure
    // left-fold chain with a closed-form answer.
    val n = 2000
    val merges = (0 until n).map { i =>
      val l = if (i == 0) "s" else s"s${"x" * i}"
      (i, l, "x", l + "x", 2L)
    }.toDF("rank", "left", "right", "merged", "pair_count")
    // a word of s + 50 x's fuses into ONE token via the first 50 merges
    val docs = Seq((1L, "s" + "x" * 50 + " plain")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, "text", merges)
      .select("bpe_tokens").as[Seq[String]].collect().head
    assert(got == Seq("s" + "x" * 50, "p", "l", "a", "i", "n"), s"got $got")
  }
}
