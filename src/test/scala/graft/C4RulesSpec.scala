package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.Corpus

/** [[Corpus.c4Rules]] — each published rule exercised in isolation on
  * real multi-line pages (the oracle query runs the battery on a
  * punctuated projection; here the line surgery itself is pinned).
  */
class C4RulesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def run(docs: Seq[(Long, String)], bad: Seq[String] = Seq("spam")) =
    Corpus.c4Rules(docs.toDF("doc_id", "text"), "doc_id", "text", bad)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getLong(5), r.getString(6)))).toMap

  // 'the' + 'have' give the admission test's always-on Gopher gate its
  // >= 2 distinct stopwords (Corpus.GopherStopwords, Rae's 8-word set)
  val good1 = "the line here has six words total."
  val good2 = "does this line have five words?"
  val good3 = "a quoted line ends \"like this.\""

  test("line rules: terminal punctuation, min words, javascript") {
    val page = Seq(good1, "no terminal punctuation here", "too short.",
      "this javascript line is dropped entirely.", good2).mkString("\n")
    val out = run(Seq((1L, page)))(1L)
    val clean = Seq(good1, good2).mkString("\n")
    assert(out == ((5L, 2L, 2L, false, clean.length.toLong, md5hex(clean))))
    // keep=false only because 2 sentences < 3 — add a third good line
    val out3 = run(Seq((2L, page + "\n" + good3)))(2L)
    val clean3 = Seq(good1, good2, good3).mkString("\n")
    assert(out3 == ((6L, 3L, 3L, true, clean3.length.toLong, md5hex(clean3))))
  }

  test("page rules: brace, lorem ipsum, bad words at word boundaries") {
    val base = Seq(good1, good2, good3).mkString("\n")
    val out = run(Seq(
      (1L, base),
      (2L, base + "\nint f() { return 0; }"), // brace page (line also dies)
      (3L, base + "\nthis page quotes Lorem Ipsum dolor sit."),
      (4L, base + "\nthis line contains spam right here."),
      (5L, base + "\nnothing wrong with spamless compounds here.")))
    assert(out(1L)._4 === true)
    assert(out(2L)._4 === false, "page with '{' dropped")
    assert(out(3L)._4 === false, "lorem ipsum page dropped (case-insensitive)")
    assert(out(4L)._4 === false, "blocklist word at word boundary drops page")
    assert(out(5L)._4 === true, "substring inside a longer word does NOT match")
    // the brace page's kept lines are unchanged (the brace line fails
    // the terminal-punct rule anyway) — only the verdict differs
    assert(out(2L)._6 == out(1L)._6 && out(2L)._2 == 3L)
  }

  test("page verdicts run on the RAW page: a trigger on a dropped line still condemns it") {
    val base = Seq(good1, good2, good3).mkString("\n")
    // both trigger lines lack terminal punctuation -> the LINE filter
    // discards them, but Raffel's page rules check the raw page, so the
    // verdict must still be keep=false; the rewrite is untouched
    val out = run(Seq(
      (1L, base + "\nlorem ipsum placeholder junk with no punct"),
      (2L, base + "\nbare spam mention with no punct"),
      (3L, base)))
    assert(out(1L)._4 === false, "lorem ipsum on a dropped line condemns the page")
    assert(out(2L)._4 === false, "blocklist word on a dropped line condemns the page")
    assert(out(1L)._6 == out(3L)._6 && out(2L)._6 == out(3L)._6,
      "the rewrite keeps only surviving lines regardless of the verdict")
  }

  test("blocklist words with regex metacharacters are quoted, case-folded") {
    val base = Seq(good1, good2, good3).mkString("\n")
    // unquoted, "c++" would compile to c followed by "one-or-more of
    // one-or-more" (a PatternSyntaxException in Java); quoted it is the
    // literal token. "a.b" unquoted would also match "axb".
    val out = run(Seq(
      (1L, base + "\nwe write some c++ code daily here."),
      (2L, base + "\nthe axb token must not trip a dotted word."),
      (3L, base + "\nthe a.b literal should trip the rule here."),
      (4L, base + "\nSPAM shouts but still matches lowercase.")),
      bad = Seq("c++", "a.b", "SpAm"))
    assert(out(2L)._4 === true, "quoted '.' must not match 'axb'")
    assert(out(3L)._4 === false, "literal 'a.b' matches")
    assert(out(4L)._4 === false, "blocklist is case-folded both sides")
    // "c++" edge caveat: \b after '+' needs a word char, so the token
    // inside a sentence does NOT match — the documented boundary
    // semantics; the point is the pattern never corrupts the alternation
    assert(out(1L)._4 === true)
  }

  test("empty rewrite: zero kept lines, md5(''), keep=false") {
    val out = run(Seq((9L, "no punct line\nanother bare line")))(9L)
    assert(out == ((2L, 0L, 0L, false, 0L, md5hex(""))))
  }

  test("streaming admission: C4 as the sixth gate, off by default") {
    import graft.ext.IngestLadder
    val dir = java.nio.file.Files.createTempDirectory("c4adm").toString
    // neutral weight table: the quality gate admits everything at this
    // threshold — the C4 verdict is the only discriminator under test
    val weights = spark.range(64).select(col("id").as("bucket"),
      lit(0L).as("w"))
    val base = Seq(good1, good2, good3).mkString("\n")
    val docs = Seq(
      (1L, base), // clean 3-sentence page
      (2L, base + "\nint f() { return 0; }"), // brace page
      (3L, "the line without punct of note\nthe other bare line stays here"))
      .toDF("doc_id", "text") // gopher-passing, zero C4-keepable lines
    // the ladder with only its gate rungs dropping: distinct texts pass
    // the exact rung, and near at τ = 1.0 drops no distinct shingle set
    def admit(root: String, gates: Seq[IngestLadder.Gate]): (Long, Long) = {
      val v = IngestLadder.admitBatch(docs, "doc_id", "text", None, gates,
        root, n = 3, tau = 1.0, batchId = 0L)
      (v.filter(col("dropped_at").isNull).count(),
        v.filter(col("dropped_at").isNotNull).count())
    }
    val (adm, drop) = admit(dir, IngestLadder.frozenGates(weights,
        nBuckets = 64, thrMilli = -100000L, minWords = 5, c4 = true,
        c4BadWords = Seq("spam")))
    assert((adm, drop) == ((1L, 2L)))
    val ids = spark.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
    // same batch, gate off: page structure goes unchecked
    val (adm2, _) = admit(s"$dir/off", IngestLadder.frozenGates(weights,
        nBuckets = 64, thrMilli = -100000L, minWords = 5))
    assert(adm2 == 3L)
  }
}
