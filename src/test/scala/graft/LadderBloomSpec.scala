package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IncrementalDedup, IngestLadder, LadderBloom}

/** Bloom sidecars for the admission ladder's index probes: verdicts
  * must be byte-identical with and without sidecars (exactness), tail
  * partitions written after a build must still be probed exactly
  * (coverage watermark), and [[IncrementalDedup.maintainLadder]] must
  * rebuild sidecars after its fold (the one invariant).
  */
class LadderBloomSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  import org.apache.spark.sql.DataFrame
  private def tick1(implicit s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta", "http://a.com/p1"),
      (2L, "totally different text here", "HTTP://A.COM/p1"),
      (3L, "totally different text here", "http://b.com/x"),
      (4L, "one two three four five six seven eight", "http://c.com/1"),
      (5L, "one two three four five six seven nine", "http://c.com/2"),
      (6L, "one two three four five six seven nine", "http://c.com/3"))
      .toDF("doc_id", "text", "url")
  }
  private def tick2(implicit s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (11L, "one two three four five six seven ten", "http://d.com/1"),
      (12L, "whatever the mirror serves today", "HTTP://C.COM/2"),
      (13L, "totally different text here", "http://d.com/2"),
      (14L, "one two three four five six seven nine", "http://d.com/3"),
      (15L, "red green blue yellow purple orange pink black", "http://d.com/4"),
      (16L, "red green blue yellow purple orange pink white", "http://d.com/5"))
      .toDF("doc_id", "text", "url")
  }

  test("admitBatchLadder with sidecars: verdicts and corpus byte-" +
      "identical to the sidecar-less run (url, exact AND near probes " +
      "all fire through the pruned path)") {
    import spark.implicits._
    implicit val s = spark
    val plainRoot = tmp("lbl_plain"); val bloomRoot = tmp("lbl_bloom")
    def run(root: String, bloom: Boolean): (Map[Long, Option[String]], Seq[Long]) = {
      IngestLadder.admitBatch(tick1, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
      if (bloom) {
        val built = LadderBloom.buildAll(spark, root, committedBelow = 1L)
        assert(built("url_index") > 0 && built("fp_index") > 0 &&
          built("postings") > 0, s"sidecars built over tick 1: $built")
      }
      val v2 = IngestLadder.admitBatch(tick2, "doc_id", "text",
          Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
        .as[(Long, Option[String])].collect().toMap
      val corpus = spark.read.parquet(s"$root/corpus")
        .select("doc_id").as[Long].collect().toSeq.sorted
      (v2, corpus)
    }
    val (vPlain, cPlain) = run(plainRoot, bloom = false)
    val (vBloom, cBloom) = run(bloomRoot, bloom = true)
    assert(vBloom == vPlain, s"bloom $vBloom != plain $vPlain")
    assert(cBloom == cPlain, s"bloom corpus $cBloom != plain $cPlain")
    // the fixture exercises every pruned path: url probe (12 re-crawls
    // an indexed key), fp probe (13/14 copy indexed fingerprints), and
    // the stored-postings near probe (11 ~ admitted 4)
    assert(vBloom == Map(11L -> Some("near"), 12L -> Some("url"),
      13L -> Some("exact"), 14L -> Some("exact"), 15L -> None,
      16L -> Some("near")))
  }

  test("all-novel tick through sidecars: every key misses the filter, " +
      "verdicts clean (the short-circuit path is exact)") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_novel")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    LadderBloom.buildAll(spark, root, committedBelow = 1L)
    val novel = Seq(
      (21L, "entirely fresh content about orchards", "http://e.com/1"),
      (22L, "another unrelated page on sailing knots", "http://e.com/2"))
      .toDF("doc_id", "text", "url")
    val v = IngestLadder.admitBatch(novel, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(21L -> None, 22L -> None), s"novel tick verdicts $v")
  }

  test("coverage watermark: keys admitted AFTER the build live in tail " +
      "partitions and still turn away a re-crawl; maintainLadder's fold " +
      "rebuilds the sidecar so folded keys stay covered") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_tail")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    LadderBloom.buildAll(spark, root, committedBelow = 1L)
    // tick 2 writes batch=1 partitions — ABOVE the sidecar watermark
    val t2 = Seq((31L, "a page about volcanic glass formation",
      "http://f.com/obsidian")).toDF("doc_id", "text", "url")
    IngestLadder.admitBatch(t2, "doc_id", "text", Some("url"), Nil,
      root, n = 3, tau = 0.5, batchId = 1L)
    assert(LadderBloom.read(spark, root, "url_index").get.coveredBelow == 1L)
    // tick 3 re-crawls the tick-2 page: its key is NOT in the stale
    // sidecar, so only the exact tail probe can catch it — and must
    val t3 = Seq((41L, "mirror copy text of something else",
      "HTTP://F.COM/obsidian")).toDF("doc_id", "text", "url")
    val v3 = IngestLadder.admitBatch(t3, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 2L)
      .as[(Long, Option[String])].collect().toMap
    assert(v3 == Map(41L -> Some("url")), s"tail probe missed: $v3")
    // maintenance folds batches 0..2 into batch=-1 and MUST rebuild the
    // sidecar at the new watermark (a fold without rebuild would hide
    // the folded keys from the covered probe)
    IncrementalDedup.maintainLadder(spark, root, committedBelow = 3L)
    val sc = LadderBloom.read(spark, root, "url_index").get
    assert(sc.coveredBelow == 3L, s"sidecar not rebuilt: $sc")
    val t4 = Seq((51L, "yet another mirror fetch of that page",
      "http://f.com/obsidian?utm_source=x")).toDF("doc_id", "text", "url")
    val v4 = IngestLadder.admitBatch(t4, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 3L)
      .as[(Long, Option[String])].collect().toMap
    assert(v4 == Map(51L -> Some("url")), s"folded-key probe missed: $v4")
  }

  test("IngestLadder with sidecars: full-rung verdicts (incl. gates and " +
      "containment) identical to the sidecar-less run") {
    import spark.implicits._
    implicit val s = spark
    val gates: Seq[IngestLadder.Gate] = Seq("shortdoc" -> { canon =>
      canon.filter(size(col("ts")) >= 4).select(col("id"))
    })
    def run(bloom: Boolean): Map[Long, Option[String]] = {
      val root = tmp(if (bloom) "lbl_ing_b" else "lbl_ing_p")
      IngestLadder.admitBatch(tick1, "doc_id", "text", Some("url"),
        gates, root, n = 3, tau = 0.5, batchId = 0L,
        containmentTau = Some(0.8))
      if (bloom) LadderBloom.buildAll(spark, root, committedBelow = 1L)
      val t2 = tick2.unionByName(Seq(
        // 17: gate drop (3 tokens). 18: a 4-word PREFIX of admitted 4 —
        // both its shingles are in 4's set (cont_batch = 1.0 ≥ 0.8) but
        // J = 2/6 < 0.5, so it passes near and drops at containment
        (17L, "too short doc", "http://d.com/6"),
        (18L, "one two three four", "http://d.com/7"))
        .toDF("doc_id", "text", "url"))
      IngestLadder.admitBatch(t2, "doc_id", "text", Some("url"), gates,
          root, n = 3, tau = 0.5, batchId = 1L,
          containmentTau = Some(0.8))
        .as[(Long, Option[String])].collect().toMap
    }
    val plain = run(bloom = false); val bloomed = run(bloom = true)
    assert(bloomed == plain, s"bloom $bloomed != plain $plain")
    assert(plain(17L) == Some("shortdoc") &&
      plain(18L) == Some("containment"),
      s"fixture must fire the gate and containment rungs: $plain")
  }

  test("reverse-filter path (forced via reverseMinKeys=0): seen ids and " +
      "postings probes identical to the plain joins, all-novel batch " +
      "short-circuits") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_rev")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    LadderBloom.buildAll(spark, root, committedBelow = 1L)
    val sc = LadderBloom.read(spark, root, "url_index")
    val keys = Seq(
      (101L, "a.com/p1"),             // stored key (hit)
      (102L, "nowhere.org/x"),        // novel
      (103L, null.asInstanceOf[String])) // NULL never matches
      .toDF("id", "url_key")
    val ix = spark.read.parquet(s"$root/url_index")
      .filter(col("batch") =!= 9L)
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.as[Long].collect().toSet
    val plain = ids(LadderBloom.seenIds(keys, "url_key", "id", ix,
      root, "url_index", 9L, None))
    val rev = ids(LadderBloom.seenIds(keys, "url_key", "id", ix,
      root, "url_index", 9L, sc, reverseMinKeys = 0L))
    val small = ids(LadderBloom.seenIds(keys, "url_key", "id", ix,
      root, "url_index", 9L, sc)) // default threshold: batch-prune-only
    assert(plain == Set(101L) && rev == plain && small == plain,
      s"plain $plain rev $rev small $small")
    // all-novel: the reverse path's candidate count short-circuits
    val novel = Seq((201L, "fresh.net/a"), (202L, "fresh.net/b"))
      .toDF("id", "url_key")
    assert(ids(LadderBloom.seenIds(novel, "url_key", "id", ix,
      root, "url_index", 9L, sc, reverseMinKeys = 0L)).isEmpty)
    // postings: probe pairs through the forced reverse path reproduce
    // the plain jaccard probe row for row
    val posts = graft.ext.Dedup.shinglePostings(
      Seq((301L, "one two three four five six seven ten"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
    val pix = spark.read.parquet(s"$root/postings")
      .filter(col("batch") =!= 9L)
    val scP = LadderBloom.read(spark, root, "postings")
    def probe(pairs: Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]): Set[(Long, Long)] =
      pairs.map { case (b, i) => graft.ext.Dedup.jaccardProbe(b,
          i.select(col("id"), col("m"), col("sh64")), 0.5)
        .select(col("batch_id"), col("corpus_id")) }
        .reduce(_ unionByName _)
        .as[(Long, Long)].collect().toSet
    val plainP = probe(LadderBloom.postingsProbes(posts, pix, root, 9L,
      None)._1)
    val revP = probe(LadderBloom.postingsProbes(posts, pix, root, 9L,
      scP, reverseMinKeys = 0L, broadcastSkip = false)._1)
    assert(plainP == revP && plainP == Set((301L, 4L)),
      s"plain $plainP rev $revP")
  }

  test("broadcast-probe regime: a batch postings relation under the " +
      "broadcast threshold auto-skips the postings sidecar (plain " +
      "single pair); above it the covered/tail machinery runs; " +
      "decisions identical in both positions") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_bskip")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    LadderBloom.buildAll(spark, root, committedBelow = 1L)
    val posts = graft.ext.Dedup.shinglePostings(
      Seq((301L, "one two three four five six seven ten"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
    val pix = spark.read.parquet(s"$root/postings")
      .filter(col("batch") =!= 9L)
    val scP = LadderBloom.read(spark, root, "postings")
    // tiny batch, default threshold (10 MB): the skip fires — ONE pair
    // whose batch side is the unpruned posts relation itself
    val (skipped, skipFlag) =
      LadderBloom.postingsProbes(posts, pix, root, 9L, scP)
    assert(skipped.size == 1 && (skipped.head._1 eq posts) && skipFlag,
      "broadcast regime must return the plain single pair and say so")
    // same call with the skip disabled: the sidecar split runs
    val (split, splitFlag) = LadderBloom.postingsProbes(posts, pix,
      root, 9L, scP, broadcastSkip = false)
    assert(split.size >= 1 && !split.exists(_._1 eq posts) && !splitFlag,
      "sidecar path must prune the batch side")
    // a zero broadcast threshold (broadcast disabled) keeps the sidecar
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (noBc, noBcFlag) =
        LadderBloom.postingsProbes(posts, pix, root, 9L, scP)
      assert(!noBc.exists(_._1 eq posts) && !noBcFlag,
        "no broadcast regime -> sidecar path")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    def probe(pairs: Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]): Set[(Long, Long)] =
      pairs.map { case (b, i) => graft.ext.Dedup.jaccardProbe(b,
          i.select(col("id"), col("m"), col("sh64")), 0.5)
        .select(col("batch_id"), col("corpus_id")) }
        .reduce(_ unionByName _)
        .as[(Long, Long)].collect().toSet
    assert(probe(skipped) == probe(split),
      "both dial positions must score identically")
  }

  test("finite maxDocFreq under a sidecar's covered/tail split: hot-" +
      "shingle frequencies are FULL-index, so verdicts match the " +
      "sidecar-less probe (a shingle hot overall but not hot within " +
      "either slice is still pruned)") {
    import spark.implicits._
    // "x y z" appears in 2 covered docs + 1 tail doc: df = 3 > 2 =
    // maxDocFreq overall, but ≤ 2 within each slice — per-slice
    // frequencies would keep it, flipping the probe verdict
    def run(bloom: Boolean): Map[Long, Option[String]] = {
      val root = tmp(if (bloom) "lbl_hot_b" else "lbl_hot_p")
      val t0 = Seq((1L, "x y z a1 a2 a3"), (2L, "x y z b1 b2 b3"))
        .toDF("doc_id", "text")
      IngestLadder.admitBatch(t0, "doc_id", "text", None, Nil,
        root, n = 3, tau = 0.2, batchId = 0L, maxDocFreq = 2)
      if (bloom) LadderBloom.buildAll(spark, root, committedBelow = 1L)
      val t1 = Seq((3L, "x y z c1 c2 c3")).toDF("doc_id", "text")
      IngestLadder.admitBatch(t1, "doc_id", "text", None, Nil,
        root, n = 3, tau = 0.2, batchId = 1L, maxDocFreq = 2)
      // probe doc: J vs doc 1 is 2/6 = 0.33 WITH the hot shingle but
      // 1/7 = 0.14 once it is pruned — the τ = 0.2 cut discriminates
      val t2 = Seq((4L, "x y z a1 p1 p2")).toDF("doc_id", "text")
      IngestLadder.admitBatch(t2, "doc_id", "text", None, Nil,
          root, n = 3, tau = 0.2, batchId = 2L, maxDocFreq = 2)
        .as[(Long, Option[String])].collect().toMap
    }
    val plain = run(bloom = false); val bloomed = run(bloom = true)
    assert(bloomed == plain, s"bloom $bloomed != plain $plain")
    assert(plain == Map(4L -> None),
      s"the overall-hot shingle must be pruned from the probe: $plain")
  }

  test("maintainLadder rebuild preserves custom sidecar sizing " +
      "(bits_per_key and probe count), via the column-pruned meta read") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_size")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    LadderBloom.build(spark, root, "url_index", committedBelow = 1L,
      bitsPerKey = 20, k = 7)
    assert(LadderBloom.readMeta(spark, root, "url_index")
      .contains((20, 7)))
    IngestLadder.admitBatch(tick2, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
    IncrementalDedup.maintainLadder(spark, root, committedBelow = 2L)
    val sc = LadderBloom.read(spark, root, "url_index").get
    assert(sc.coveredBelow == 2L, s"sidecar not rebuilt: $sc")
    assert(sc.k == 7, s"custom probe count lost on rebuild: ${sc.k}")
    assert(sc.nBits == math.max(64L, sc.nKeys * 20L).toInt,
      s"custom bits-per-key lost on rebuild: ${sc.nBits} for ${sc.nKeys}")
    // subtrees that never had a sidecar must not gain one from the fold
    assert(LadderBloom.read(spark, root, "fp_index").isEmpty)
  }

  test("sidecar primitives: build counts committed keys only, read " +
      "round-trips, stored keys always pass the filter (no false " +
      "negatives)") {
    import spark.implicits._
    implicit val s = spark
    val root = tmp("lbl_prim")
    IngestLadder.admitBatch(tick1, "doc_id", "text",
      Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
    val n = LadderBloom.build(spark, root, "url_index", committedBelow = 1L)
    val stored = spark.read.parquet(s"$root/url_index")
      .select("url_key").as[String].collect()
    assert(n == stored.length, s"built over $n keys, index has ${stored.length}")
    val sc = LadderBloom.read(spark, root, "url_index").get
    assert(sc.nKeys == n && sc.coveredBelow == 1L)
    stored.foreach { key =>
      val h = spark.range(1).select(xxhash64(lit(key))).head().getLong(0)
      assert(graft.functions.Bloom.contains(sc.words, sc.nBits, sc.k, h),
        s"stored key $key must pass its own filter")
    }
    // committed-only: a watermark below every partition summarizes
    // zero keys (sidecar still written — everything becomes tail)
    assert(LadderBloom.build(spark, root, "postings",
      committedBelow = 0L) == 0L)
    val sc0 = LadderBloom.read(spark, root, "postings").get
    assert(sc0.nKeys == 0L && sc0.coveredBelow == 0L)
    // a subtree with no data at all builds (and reads) nothing
    val bare = tmp("lbl_bare")
    assert(LadderBloom.build(spark, bare, "url_index", 1L) == 0L)
    assert(LadderBloom.read(spark, bare, "url_index").isEmpty)
  }
}
