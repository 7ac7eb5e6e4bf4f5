package graft.operators

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Locale

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // independent reference implementation (Sennrich-style, no end-of-word
  // marker, same deterministic tie-break) to hand-check the engine.
  // Symbols are code points, as `split(w, '')`'s are, and ties break in
  // Spark's string order: UTF-8 bytes, which a latin-1 view of those
  // bytes turns into String order (UTF-16 order differs above U+FFFF).
  private def byteOrder(s: String): String =
    new String(s.getBytes(UTF_8), ISO_8859_1)

  private def refApply(syms: List[String], l: String, r: String): List[String] =
    syms.foldLeft(List.empty[String]) { (out, x) =>
      if (out.nonEmpty && out.last == l && x == r) out.init :+ (l + r)
      else out :+ x
    }

  private def refMerges(wordCounts: Map[String, Long], k: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var words: Map[String, (List[String], Long)] =
      wordCounts.map { case (w, c) =>
        w -> (w.codePoints().toArray.map(Character.toString).toList, c)
      }
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
      val best = pc.toSeq.sortBy { case ((a, b), c) => (-c, byteOrder(a), byteOrder(b)) }
        .headOption
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

  test("learnMerges submits one Spark job per merge round") {
    val rounds = 6
    // the word count's shuffle map stage, plus at most one for collect()
    val fixed = 2
    val jobs = jobsSubmittedBy(Bpe.learnMerges(corpusDf, "text", rounds).collect())
    assert(jobs <= rounds + fixed, s"$jobs jobs for $rounds rounds")
  }

  test("learnMerges is partition-invariant and breaks ties in UTF-8 byte order") {
    val rng = new scala.util.Random(17)
    def word = Seq.fill(2 + rng.nextInt(4))("abcd"(rng.nextInt(4))).mkString
    // a tie between a code point above U+FFFF and U+FF21 (lowercased to
    // U+FF41): UTF-8 bytes put U+FF41 first, UTF-16 units put U+1D11E first
    val texts = Seq.fill(400)(Seq.fill(6)(word).mkString(" ")) ++
      Seq.fill(120)("\uD834\uDD1Eq \uFF21q")
    assert("\uD834\uDD1E" < "\uFF41", "String order differs from byte order here")
    val wordCounts = texts.flatMap(_.toLowerCase(Locale.ROOT).split("\\s+"))
      .filter(_.nonEmpty).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val want = refMerges(wordCounts, 25)
    assert(want.size == 25)
    assert(want.sliding(2).count { case Seq(a, b) => a._5 == b._5 } > 1,
      s"the corpus needs count ties between different pairs: $want")
    val tie = want.indexWhere(_._2 == "\uFF41")
    assert(tie >= 0 && want(tie + 1)._2 == "\uD834\uDD1E" &&
      want(tie)._5 == want(tie + 1)._5, s"the supplementary tie is decided: $want")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val shuffle = "spark.sql.shuffle.partitions"
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = Seq(shuffle, coalesce).map(k => k -> spark.conf.get(k))
    try {
      for (n <- Seq(1, 7)) {
        // n partitions of docs and of the word table the rounds count over
        spark.conf.set(shuffle, n.toString)
        spark.conf.set(coalesce, "false")
        val got = Bpe.learnMerges(docs.repartition(n), "text", 25)
          .orderBy("rank").as[(Int, String, String, String, Long)].collect().toSeq
        assert(got == want, s"\n$n partitions: $got\nref:          $want")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
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
