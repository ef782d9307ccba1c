package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Corpus, Dedup, IncrementalDedup, IncrementalQuality, IngestLadder,
  TextOps}

/** The unified single-pass ingest ladder: rung composition and order,
  * one-tokenize sharing, gate-survivor vouching, index provenance
  * across ticks, replay idempotence, and equivalence with the two
  * separate admission stacks it replaces.
  */
class IngestLadderSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  // simple deterministic test gates over the canon slice (id, raw, t, ts)
  private val shortGate: IngestLadder.Gate =
    "short" -> ((c: DataFrame) => c.filter(size(col("ts")) >= 4)
      .select(col("id")))
  private val badwordGate: IngestLadder.Gate =
    "badword" -> ((c: DataFrame) => c.filter(!col("raw").contains("zzz"))
      .select(col("id")))

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon", "http://a.com/p1"),
      (2L, "totally different text here okay", "HTTP://A.COM/p1"),
      (3L, "tiny doc", "http://a.com/p2"),
      (4L, "alpha beta gamma delta epsilon", "http://a.com/p3"),
      (5L, "contains zzz badness here now", "http://a.com/p4"),
      (6L, "one two three four five six seven eight", "http://a.com/p5"),
      (7L, "one two three four five six seven nine", "http://a.com/p6"),
      (8L, "tiny zzz", "http://a.com/p7"),
      (9L, "red green blue yellow purple orange zzz pink", "http://a.com/p8"),
      (10L, "red green blue yellow purple orange violet pink", "http://a.com/p9"))
      .toDF("doc_id", "text", "url")
  }

  private val expectedOneTick = Map[Long, Option[String]](
    1L -> None, 2L -> Some("url"), 3L -> Some("short"),
    4L -> Some("exact"), 5L -> Some("badword"), 6L -> None,
    7L -> Some("near"), 8L -> Some("short"), 9L -> Some("badword"),
    10L -> None)

  test("one tick, every rung firing: url -> exact -> gates in order -> " +
      "near; a gate-dropped doc can NOT vouch for a near drop (doc 10 " +
      "survives although it near-matches gate-dropped 9)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest1").toString
    // gate tags ride the same observe channel as the built-in rungs
    val mon = new graft.ext.LadderRungMonitor(
      rungs = Seq("url", "exact", "short", "badword", "near"),
      mu = 0L, kappa = 10000L, h = 100000L)
    val v = IngestLadder.admitBatch(fixture, "doc_id", "text", Some("url"),
        Seq(shortGate, badwordGate), root, n = 3, tau = 0.5, batchId = 0L,
        monitor = Some(mon))
      .as[(Long, Option[String])].collect().toMap
    assert(v == expectedOneTick, s"verdicts $v")
    // 10 docs: 1 url, 1 exact, 2 short, 2 badword, 1 near = 1000 bp each
    assert(mon.latest.get.dropBp == Map("url" -> 1000L, "exact" -> 1000L,
      "short" -> 2000L, "badword" -> 2000L, "near" -> 1000L),
      s"monitor ${mon.latest}")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 6L, 10L), s"corpus $corpus")
    // index provenance (rung-survivor principle): gate-dropped docs'
    // keys and fingerprints ARE indexed (known-bad content re-arrivals
    // drop a rung earlier); postings hold ADMITTED docs only
    val keys = spark.read.parquet(s"$root/url_index")
      .select("keep_id").as[Long].collect().toSet
    assert(keys == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L), s"keys $keys")
    val fps = spark.read.parquet(s"$root/fp_index")
      .select("keep_id").as[Long].collect().toSet
    assert(fps == Set(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L), s"fps $fps")
    val postIds = spark.read.parquet(s"$root/postings")
      .select("id").distinct().as[Long].collect().toSet
    assert(postIds == corpus, s"postings $postIds")
    val droppedPosts = spark.read.parquet(s"$root/postings_dropped")
      .select("id").distinct().as[Long].collect().toSet
    assert(droppedPosts == Set(7L), s"postings_dropped $droppedPosts")
  }

  test("monitor CUSUM state persists across a restart: a slow drift " +
      "split across the restart still accumulates to an alarm, the " +
      "active-rung set survives (down alarms stay gated right), and " +
      "with no state file behavior is identical to the unpersisted " +
      "monitor") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_monstate").toString
    def mkMon(persist: Boolean) = new graft.ext.LadderRungMonitor(
      rungs = Seq("url", "near"), mu = 0L, kappa = 0L, h = 1000L,
      stateDir = if (persist) Some(dir) else None)
    def drift(m: graft.ext.LadderRungMonitor, from: Long, n: Int) =
      (0 until n).map(i => m.tick(from + i,
        Map("n" -> 100L, "n_url" -> 3L, "n_near" -> 0L))).last
    // two 300bp ticks: sp = 600, under h — then 'restart'
    val m1 = mkMon(persist = true)
    assert(!drift(m1, 0L, 2).alarmUp.contains("url"))
    // the restarted monitor reads the persisted accumulators; an
    // at-least-once REDELIVERY of the last persisted batch (the state
    // file is written before the checkpoint commits) must advance
    // NOTHING — a double count would cross h one tick early and
    // manufacture an alarm out of the restart
    val m2 = mkMon(persist = true)
    val replay = m2.tick(1L, Map("n" -> 100L, "n_url" -> 3L))
    assert(replay.alarmUp.isEmpty && replay.alarmDown.isEmpty)
    assert(!drift(m2, 2L, 1).alarmUp.contains("url"),
      "sp must be 900 (replay not double-counted), under h")
    // the drift keeps accumulating where it left off: one more tick
    // crosses h = 1000
    assert(drift(m2, 3L, 1).alarmUp.contains("url"),
      "drift split across the restart must still fire")
    // a FRESH monitor (reset semantics) would NOT have fired yet —
    // the blind spot persistence closes
    val fresh = mkMon(persist = false)
    assert(!drift(fresh, 2L, 2).alarmUp.contains("url"),
      "without persisted state the same ticks stay silent")
    // active-set continuity: url was active pre-restart; a flatline
    // after the restart must still raise the DOWN alarm under mu > 0
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_monstate2").toString
    val d1 = new graft.ext.LadderRungMonitor(rungs = Seq("url"),
      mu = 500L, kappa = 0L, h = 400L, stateDir = Some(dir2))
    d1.tick(0L, Map("n" -> 100L, "n_url" -> 5L)) // 500bp: on-target
    val d2 = new graft.ext.LadderRungMonitor(rungs = Seq("url"),
      mu = 500L, kappa = 0L, h = 400L, stateDir = Some(dir2))
    val down = d2.tick(1L, Map("n" -> 100L, "n_url" -> 0L))
    assert(down.alarmDown.contains("url"),
      "post-restart flatline on a once-active rung must alarm down")
    // an unpersisted twin of the same two ticks agrees tick for tick
    // (no state file -> byte-identical behavior)
    val twinDir = java.nio.file.Files
      .createTempDirectory("graft_monstate3").toString
    val p = new graft.ext.LadderRungMonitor(rungs = Seq("url"),
      mu = 0L, kappa = 0L, h = 1000L, stateDir = Some(twinDir))
    val u = new graft.ext.LadderRungMonitor(rungs = Seq("url"),
      mu = 0L, kappa = 0L, h = 1000L)
    val ticksP = (0 until 3).map(i => p.tick(i.toLong,
      Map("n" -> 100L, "n_url" -> 4L)))
    val ticksU = (0 until 3).map(i => u.tick(i.toLong,
      Map("n" -> 100L, "n_url" -> 4L)))
    assert(ticksP == ticksU, "persistence must not change decisions")
  }

  test("composed == sequential stacks: hand-stacking the existing " +
      "operators (url window, fingerprint window, gate filters, " +
      "jaccard components) in rung order yields identical verdicts") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest2").toString
    val docs = fixture
    val composed = IngestLadder.admitBatch(docs, "doc_id", "text",
        Some("url"), Seq(shortGate, badwordGate), root, n = 3, tau = 0.5,
        batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    // hand-stacked: each rung from the EXISTING standalone operators
    val w = org.apache.spark.sql.expressions.Window
    val keys = docs.select(col("doc_id"),
      TextOps.canonicalUrl(col("url")).as("k"))
    val urlDrops = keys.withColumn("keep",
        min(col("doc_id")).over(w.partitionBy(col("k"))))
      .filter(col("k").isNotNull && col("doc_id") =!= col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val s1 = docs.filter(!col("doc_id").isin(urlDrops.toSeq: _*))
    val exactDrops = s1.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .withColumn("keep", min(col("doc_id")).over(w.partitionBy(col("fp"))))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val s2 = s1.filter(!col("doc_id").isin(exactDrops.toSeq: _*))
    def canon(d: DataFrame) = d.select(col("doc_id").as("id"),
      col("text").as("raw"), TextOps.normalized(col("text")).as("t"),
      TextOps.tokens(TextOps.normalized(col("text"))).as("ts"))
    val shortDrops = s2.join(shortGate._2(canon(s2)),
        s2("doc_id") === col("id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val s3a = s2.filter(!col("doc_id").isin(shortDrops.toSeq: _*))
    val badDrops = s3a.join(badwordGate._2(canon(s3a)),
        s3a("doc_id") === col("id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val s3 = s3a.filter(!col("doc_id").isin(badDrops.toSeq: _*))
    val nearDrops = Dedup.connectedComponents(
        Dedup.jaccardPairs(s3, "doc_id", "text", n = 3, tau = 0.5)
          .select(col("id_a"), col("id_b")))
      .filter(col("id") =!= col("cluster"))
      .select("id").as[Long].collect().toSet
    val stacked = docs.select("doc_id").as[Long].collect().map { id =>
      id -> (if (urlDrops(id)) Some("url")
      else if (exactDrops(id)) Some("exact")
      else if (shortDrops(id)) Some("short")
      else if (badDrops(id)) Some("badword")
      else if (nearDrops(id)) Some("near") else None)
    }.toMap
    assert(composed == stacked, s"composed $composed != stacked $stacked")
  }

  test("a gate-less tick caches no token array: no cached relation's " +
      "plan carries the tokenizer or a __ts column") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_nogate").toString
    // every cached relation the tick's actions read, as (output
    // columns, cached physical plan incl. nested caches); the listener
    // bus is asynchronous, so the last write (the corpus slice) marks
    // the end of the tick
    val cached = new java.util.concurrent.ConcurrentLinkedQueue[
      (Seq[String], String)]()
    @volatile var sawCorpusWrite = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qe.withCachedData.foreach {
          case r: InMemoryRelation =>
            cached.add((r.output.map(_.name), r.cachedPlan.treeString))
          case _ =>
        }
        if (qe.logical.toString.contains(s"$root/corpus/batch=0"))
          sawCorpusWrite = true
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IngestLadder.admitBatch(fixture, "doc_id", "text", Some("url"), Nil,
        root, n = 3, tau = 0.5, batchId = 0L)
      val deadline = System.currentTimeMillis() + 30000L
      while (!sawCorpusWrite && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(sawCorpusWrite, "the corpus write never reached the listener")
    import scala.jdk.CollectionConverters._
    val rels = cached.asScala.toSeq
    // non-vacuous: the shared normalized-text cache was seen
    assert(rels.exists(_._1.contains("__t")), s"no __t cache among $rels")
    val tokenized = rels.filter { case (cols, plan) =>
      cols.contains("__ts") || plan.contains("regexp_extract_all") ||
        plan.contains("__ts") }
    assert(tokenized.isEmpty,
      s"a gate-less tick cached the token array: ${tokenized.take(1)}")
  }

  test("two ticks: indexes give rung-stable provenance across gates " +
      "(re-crawl of a gate-dropped page -> url; exact copy of its text " +
      "-> exact; near-dup of an admitted doc -> near); same-id replay " +
      "is idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest3").toString
    IngestLadder.admitBatch(fixture, "doc_id", "text", Some("url"),
      Seq(shortGate, badwordGate), root, n = 3, tau = 0.5, batchId = 0L)
    val tick2 = Seq(
      // re-crawl of badword-dropped 5's page with clean text: the url
      // index kept its key (content is known), turned away before any
      // text is read
      (21L, "brand new words entirely clean", "http://a.com/p4?utm_source=x"),
      // exact copy of gate-dropped 5's text on a fresh url: fp index
      (22L, "contains zzz badness here now", "http://b.com/1"),
      // near-dup of ADMITTED 6: postings probe
      (23L, "one two three four five six seven ten", "http://b.com/2"),
      // clean novel doc
      (24L, "silver copper bronze iron steel tin", "http://b.com/3"))
      .toDF("doc_id", "text", "url")
    val v2 = IngestLadder.admitBatch(tick2, "doc_id", "text", Some("url"),
        Seq(shortGate, badwordGate), root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(v2 == Map(21L -> Some("url"), 22L -> Some("exact"),
      23L -> Some("near"), 24L -> None), s"tick2 $v2")
    val r2 = IngestLadder.admitBatch(tick2, "doc_id", "text", Some("url"),
        Seq(shortGate, badwordGate), root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(r2 == v2, s"replay $r2 != $v2")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(corpus == Seq(1L, 6L, 10L, 24L),
      s"replay must not duplicate corpus rows: $corpus")
    // durable provenance across both ticks
    val stored = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at").as[(Long, Option[String])]
      .collect().toMap
    assert(stored == expectedOneTick ++ v2)
    // maintainLadder folds an ingest root unchanged — every subtree
    // this quota-less, lines-less run wrote folds both ticks;
    // domain_counts and line_index (optional rungs, off here) count 0
    val folded = IncrementalDedup.maintainLadder(spark, root,
      committedBelow = 2L)
    assert(IncrementalDedup.LadderSubtrees.forall(s =>
      folded(s) == (if (Set("domain_counts", "line_index")(s)) 0 else 2)),
      s"fold counts $folded")
    val verdictsFolded = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at").as[(Long, Option[String])]
      .collect().toMap
    assert(verdictsFolded == stored, "fold must not change verdicts")
  }

  test("containment rung: embedded quote of an admitted host turned " +
      "away cross-batch AND in-batch, over the near rung's own " +
      "postings relation; the reverse direction never drops") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest4").toString
    val hWords = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi",
      "psi", "omega", "one", "two", "three", "four", "five", "six")
    val hText = hWords.mkString(" ")
    val quote1 = hWords.slice(2, 12).mkString(" ")   // cont 1.0, J ~ .27
    val quote2 = hWords.slice(15, 25).mkString(" ")
    // tick 1: host + in-batch embedded quote (one-directional: drops
    // at containment regardless of id order)
    val v1 = IngestLadder.admitBatch(
      Seq((1L, hText), (2L, quote1)).toDF("doc_id", "text"),
      "doc_id", "text", None, Seq.empty, root, n = 3, tau = 0.5,
      batchId = 0L, containmentTau = Some(0.6))
      .as[(Long, Option[String])].collect().toMap
    assert(v1 == Map(1L -> None, 2L -> Some("containment")), s"tick1 $v1")
    // tick 2: another quote of the ADMITTED host (stored postings) +
    // a SUPERSET of nothing admitted (novel content, reverse direction)
    val v2 = IngestLadder.admitBatch(
      Seq((11L, quote2),
        (12L, (hWords.take(6) ++ Seq("wolf", "bear", "lynx", "otter",
          "moose", "raven", "heron", "crane", "stork", "finch", "robin",
          "wren", "oak", "elm", "ash", "birch")).mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", None, Seq.empty, root, n = 3, tau = 0.5,
      batchId = 1L, containmentTau = Some(0.6))
      .as[(Long, Option[String])].collect().toMap
    assert(v2 == Map(11L -> Some("containment"), 12L -> None),
      s"tick2 $v2")
    val droppedPosts = spark.read.parquet(s"$root/postings_dropped")
      .select("id").distinct().as[Long].collect().toSet
    assert(droppedPosts == Set(2L, 11L),
      s"containment drops keep reconcile evidence: $droppedPosts")
  }

  test("frozenGates == the IncrementalQuality stack: on a fixture where " +
      "only quality rungs fire, the composed gate drops equal the five-" +
      "gate admission's rejections (order-independent intersection)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest5").toString
    // the Sf1EqBench admission fixture shape: a three-sentence tail so
    // the C4 line rules KEEP rather than vacuously empty every page
    val docs = graft.tools.Sf1EqBench.synthDocsEn(spark, 120L)
      .select(col("doc_id"), concat(col("text"),
        lit(". first tail period. second tail period. third one."))
        .as("text"))
    // frozen tables, the Sf1EqBench admission shapes
    val weights = spark.range(64).select(col("id").as("bucket"),
      (pmod(hash(col("id")), lit(21)) - 10).cast("long").as("w"))
    val lam = Corpus.dsirLambda(
      docs.filter(col("doc_id") < 60), docs.filter(col("doc_id") >= 60),
      "doc_id", "text", nBuckets = 64)
    val lm = Corpus.unigramLm(docs, "doc_id", "text")
    val gates = IngestLadder.frozenGates(weights, nBuckets = 64,
      thrMilli = -100000L, repetition = true,
      lambda = Some(lam), dsirThrX10k = -1000000L,
      lm = Some(lm), maxMeanSurprisalX10k = 200000L,
      c4 = true, c4BadWords = Seq("verybadword"))
    assert(gates.map(_._1) == Seq("gopher", "c4", "quality"))
    // texts are distinct and mutually dissimilar at tau=0.99, so only
    // the gate rungs can fire: composed drops == the quality stack's
    val v = IngestLadder.admitBatch(docs, "doc_id", "text", None, gates,
        root, n = 3, tau = 0.99, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    // the reference stack, composed by hand from the Corpus scorers
    // independently of frozenGates: gopher ∩ repetition ∩ the
    // quality+DSIR fusion ∩ LM ∩ C4, each over the (id, raw, t, ts) slice
    val canon = docs.select(col("doc_id").as("id"), col("text").as("raw"),
      TextOps.normalized(col("text")).as("t"),
      TextOps.tokens(TextOps.normalized(col("text"))).as("ts"))
    val gKeep = Corpus.gopherRulesOn(canon, minWords = 50,
        maxWords = 100000, stopwords = Corpus.GopherStopwords)
      .filter(col("keep")).select(col("id"))
    val rKeep = Corpus.repetitionSignalsOn(canon,
        topNs = Seq(2, 3, 4), dupNs = Seq(5, 6, 7, 8, 9, 10),
        topBpMax = Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L),
        dupBpMax = Map(5 -> 1500L, 6 -> 1400L, 7 -> 1300L,
          8 -> 1200L, 9 -> 1100L, 10 -> 1000L))
      .filter(col("keep")).select(col("id"))
    val qKeep = Corpus.hashedFeaturesOn(canon, 64)
      .join(broadcast(weights), Seq("bucket"), "left")
      .withColumn("w", coalesce(col("w"), lit(0L)))
      .join(broadcast(lam), Seq("bucket"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_features"), sum(col("w")).as("logit"),
        sum(col("lam")).as("dsir_x10k"))
      .filter(col("logit") * 1000 >= lit(-100000L) * col("n_features") &&
        col("dsir_x10k") >= -1000000L)
      .select(col("id"))
    val lmKeep = Corpus.surprisalAgainstOn(canon, lm, 200000L)
      .filter(col("mean_surprisal_x10k") <= 200000L).select(col("id"))
    val c4Keep = Corpus.c4Rules(canon, "id", "raw", Seq("verybadword"))
      .filter(col("keep")).select(col("id"))
    val stackAdmitted = Seq(gKeep, rKeep, qKeep, lmKeep, c4Keep)
      .reduce(_.join(_, Seq("id"))).as[Long].collect().toSet
    // the standalone admission loop's gate runs the same battery
    val g = IncrementalQuality.gate(docs, "doc_id", "text", gates)
    val gateAdmitted = g.admitted.select("doc_id").as[Long]
      .collect().toSet
    g.release()
    assert(gateAdmitted == stackAdmitted,
      s"IncrementalQuality.gate $gateAdmitted != stack $stackAdmitted")
    val composedAdmitted = v.collect { case (id, None) => id }.toSet
    val gateTags = Set("gopher", "c4", "quality")
    assert(v.values.flatten.forall(gateTags), s"non-gate drops in $v")
    assert(composedAdmitted == stackAdmitted,
      s"composed $composedAdmitted != stack $stackAdmitted")
    assert(composedAdmitted.nonEmpty &&
      composedAdmitted.size < 120, "fixture must make some gates bind")
  }

  // ---- the lines rung (steady-state CCNet line cut) -----------------

  private def lineTick1(implicit s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      (1L, "nav menu here\nunique body one"),   // first ever: keeps both
      (2L, "nav menu here\nunique body two"),   // nav cut in-batch
      (3L, "nav menu here\nnav menu here"),     // all content cut -> lines
      (4L, null.asInstanceOf[String]),          // NULL text passes whole
      (5L, "\n\n"),                             // all structural: passes
      (6L, "unique body  six\nnav menu here"))  // cleaned: double-space body
      .toDF("doc_id", "text")
  }
  private def lineTick2(implicit s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      (11L, "nav menu here\nunique body eleven"), // nav cut via INDEX
      (12L, "unique body one\nfresh line x"),     // indexed line cut
      (13L, "nav menu here"),                     // only line cut -> lines
      // line key differs from doc 2's by inner whitespace (NOT cut)...
      (14L, "unique  body  two\nanother tail"),
      // ...and the whitespace-collapsing FINGERPRINT of the cleaned
      // text equals doc 6's cleaned fp -> drops at exact, which is the
      // cut-before-fingerprint semantics decision made visible
      (16L, "unique body six"))
      .toDF("doc_id", "text")
  }

  test("lines rung: in-batch first occurrence wins, cross-tick cut via " +
      "the persistent line_index, emptied docs drop 'lines', NULL and " +
      "all-structural text pass, and the exact rung fingerprints the " +
      "REBUILT text") {
    import spark.implicits._
    implicit val s = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_lines").toString
    val v1 = IngestLadder.admitBatch(lineTick1, "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 0L,
        lineDedup = true)
      .as[(Long, Option[String])].collect().toMap
    assert(v1 == Map(1L -> None, 2L -> None, 3L -> Some("lines"),
      4L -> None, 5L -> None, 6L -> None), s"tick1 $v1")
    val v2 = IngestLadder.admitBatch(lineTick2, "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 1L,
        lineDedup = true)
      .as[(Long, Option[String])].collect().toMap
    assert(v2 == Map(11L -> None, 12L -> None, 13L -> Some("lines"),
      14L -> None, 16L -> Some("exact")), s"tick2 $v2")
    // the stored corpus carries the REBUILT text (nav lines gone);
    // NULL and structural docs pass byte-identical
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id", "text").as[(Long, Option[String])]
      .collect().toMap
    assert(corpus(2L) == Some("unique body two") &&
      corpus(11L) == Some("unique body eleven") &&
      corpus(12L) == Some("fresh line x") &&
      corpus(1L) == Some("nav menu here\nunique body one") &&
      corpus(4L).isEmpty && corpus(5L) == Some("\n\n"), s"corpus $corpus")
    // index provenance: tick 1 indexed the nav line's FIRST occurrence
    // (doc 1) and nothing re-indexed it in tick 2
    val navKeepers = spark.read.parquet(s"$root/line_index")
      .join(lineTick1.select(lit("nav menu here").as("l")).limit(1),
        expr("line_h = xxhash64(trim(regexp_replace(lower(l), " +
          "'[0-9]', '')))"))
      .select("keep_id").as[Long].collect().toSeq
    assert(navKeepers == Seq(1L), s"nav line keepers $navKeepers")
  }

  test("lines rung replay: a redelivered tick under the same id " +
      "recomputes identical verdicts and overwrites its index " +
      "partition in place") {
    import spark.implicits._
    implicit val s = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_lines_rp").toString
    IngestLadder.admitBatch(lineTick1, "doc_id", "text", None,
      Seq.empty, root, n = 3, tau = 0.9, batchId = 0L, lineDedup = true)
    def ixRows: Seq[(Long, Long, Long)] = spark.read
      .parquet(s"$root/line_index")
      .select("line_h", "line_len", "keep_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val v2a = IngestLadder.admitBatch(lineTick2, "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 1L,
        lineDedup = true)
      .as[(Long, Option[String])].collect().toMap
    val ix1 = ixRows
    val v2b = IngestLadder.admitBatch(lineTick2, "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 1L,
        lineDedup = true)
      .as[(Long, Option[String])].collect().toMap
    assert(v2a == v2b && ixRows == ix1,
      s"replay diverged: $v2a vs $v2b")
  }

  test("one batch through the lines rung rebuilds exactly " +
      "Corpus.lineDedupFirst's text for every admitted doc") {
    import spark.implicits._
    implicit val s = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_lines_eq").toString
    IngestLadder.admitBatch(lineTick1, "doc_id", "text", None,
      Seq.empty, root, n = 3, tau = 0.9, batchId = 0L, lineDedup = true)
    val batch = graft.ext.Corpus.lineDedupFirst(lineTick1, "doc_id",
        "text")
      .select(col("id"), col("text")).as[(Long, Option[String])]
      .collect().toMap
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id", "text").as[(Long, Option[String])]
      .collect().toMap
    // admitted docs (incl. the structural-only 5, which lineDedupFirst
    // also leaves alone); the 'lines'-dropped doc 3 has no corpus row
    corpus.foreach { case (id, text) =>
      // NULL-text pass-through: the ladder keeps the column NULL; the
      // batch operator reports NULL text the same way
      assert(text == batch(id) ||
        (text.isEmpty && batch(id).isEmpty),
        s"doc $id: ladder $text vs batch ${batch(id)}")
    }
    assert(!corpus.contains(3L))
  }

  test("lines rung maintenance: maintainLadder folds line_index and " +
      "rebuilds its bloom sidecar; a folded boilerplate line still " +
      "cuts through the covered probe") {
    import spark.implicits._
    implicit val s = spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_lines_mt").toString
    IngestLadder.admitBatch(lineTick1, "doc_id", "text", None,
      Seq.empty, root, n = 3, tau = 0.9, batchId = 0L, lineDedup = true)
    IngestLadder.admitBatch(lineTick2, "doc_id", "text", None,
      Seq.empty, root, n = 3, tau = 0.9, batchId = 1L, lineDedup = true)
    graft.ext.LadderBloom.buildAll(spark, root, committedBelow = 2L)
    assert(graft.ext.LadderBloom.read(spark, root, "line_index")
      .exists(_.nKeys > 0))
    val folded = IncrementalDedup.maintainLadder(spark, root,
      committedBelow = 2L)
    assert(folded("line_index") == 2, s"line_index fold $folded")
    assert(graft.ext.LadderBloom.read(spark, root, "line_index")
      .exists(_.coveredBelow == 2L), "sidecar must rebuild at the fold")
    val v3 = IngestLadder.admitBatch(
        Seq((21L, "nav menu here\nunique body twentyone"))
          .toDF("doc_id", "text"),
        "doc_id", "text", None, Seq.empty, root, n = 3, tau = 0.9,
        batchId = 2L, lineDedup = true)
      .as[(Long, Option[String])].collect().toMap
    assert(v3 == Map(21L -> None))
    val t21 = spark.read.parquet(s"$root/corpus")
      .filter(col("doc_id") === 21L).select("text").as[String].head()
    assert(t21 == "unique body twentyone",
      s"folded nav line must cut through the covered probe: '$t21'")
  }
}
