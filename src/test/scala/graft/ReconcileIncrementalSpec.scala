package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{IncrementalDedup, Layout}

/** [[IncrementalDedup.reconcileNearIncremental]] — the frontier-seeded
  * reconcile — and the persisted completed-reconcile watermark history
  * ([[IncrementalDedup.reconciledWatermarks]]) that both it and
  * [[IncrementalDedup.reconcileWindow]]'s retention lag stand on.
  * Pins: delta-equivalence to the full [[IncrementalDedup
  * .reconcileNear]] (including chains crossing the watermark through
  * OLD evidence), fold interaction on the seed, marker crash recovery,
  * and the K-windows retention lag.
  */
class ReconcileIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private def deltaMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] = {
    import spark.implicits._
    df.select(col("id"), col("dropped_at")).as[(Long, String)]
      .collect().toMap
  }
  /** The incremental reconcile FORCED onto its closure path (the
    * byte-based seed-fraction crossover legitimately degrades these
    * miniature fixtures to the full form — which would make a closure
    * pin vacuous), with the mode asserted so the pin is honest. */
  private def incClosure(root: String, tau: Double, since: Long,
                         maxDocFreq: Int = Int.MaxValue): Map[Long, String] = {
    val (d, mode) = IncrementalDedup.reconcileNearIncrementalMode(
      spark, root, tau, since, maxDocFreq,
      seedFractionCrossover = 1.0)
    assert(mode == 0L, s"closure pin requires the incremental path: " +
      s"mode ${IncrementalDedup.ReconcileModes(mode)}")
    deltaMap(d)
  }
  private def evidenceIds(root: String): Set[Long] = {
    import spark.implicits._
    val dir = s"$root/postings_dropped"
    if (!Layout.hasParquetData(spark, dir)) Set.empty
    else spark.read.parquet(dir).select("id").distinct()
      .as[Long].collect().toSet
  }

  // tick 0: x (1) admitted, y (2) ~ x dropped near (evidence); an
  // INDEPENDENT converged pair far away (30 admitted, 31 evidence)
  // that no later chain touches
  private def seedRoot(tag: String): String = {
    import spark.implicits._
    val root = tmp(tag)
    IncrementalDedup.admitBatchLadder(Seq(
        (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (2L, "w3 w4 w5 w6 w7 w8 w9 w10"),
        (30L, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (31L, "q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 0L)
    root
  }
  // tick 1: z (11) ~ y but z !~ x — the chain the incremental seed
  // must walk BACKWARDS across the watermark through OLD evidence
  private def tickZ(root: String): Unit = {
    import spark.implicits._
    IncrementalDedup.admitBatchLadder(
      Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 1L)
  }

  test("delta-equivalence to the full reconcile: a chain crossing the " +
      "watermark through OLD evidence is found by the backwards " +
      "closure; the untouched old component stays out") {
    val root = seedRoot("rni_eq")
    // window at watermark 1: converged (y/31 dropped at ingest), the
    // empty delta records the completed watermark
    val w1 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 1L)
    assert(w1("delta_ids") == 0L)
    assert(IncrementalDedup.reconciledWatermarks(spark, root) == Seq(1L))
    tickZ(root)
    spark.sharedState.cacheManager.clearCache()
    val inc = incClosure(root, tau = 0.5, since = 1L)
    spark.sharedState.cacheManager.clearCache()
    val full = deltaMap(IncrementalDedup.reconcileNear(spark, root,
      tau = 0.5))
    assert(inc == full, s"inc $inc vs full $full")
    assert(inc == Map(11L -> "near"),
      s"chain through old evidence must emit z only: $inc")
  }

  test("sinceBatch = 0 degenerates to the full reconcile; a converged " +
      "state yields an empty delta from an empty seed") {
    val root = seedRoot("rni_zero")
    tickZ(root)
    spark.sharedState.cacheManager.clearCache()
    val inc0 = deltaMap(IncrementalDedup.reconcileNearIncremental(
      spark, root, tau = 0.5, sinceBatch = 0L))
    spark.sharedState.cacheManager.clearCache()
    val full = deltaMap(IncrementalDedup.reconcileNear(spark, root,
      tau = 0.5))
    assert(inc0 == full && inc0 == Map(11L -> "near"))
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(deltaMap(IncrementalDedup.reconcileNearIncremental(
      spark, root, tau = 0.5, sinceBatch = 2L)).isEmpty,
      "post-apply incremental delta must be empty")
  }

  test("fold interaction: a fold COVERED by the watermark drops " +
      "batch=-1 from the seed; an uncovered (later) fold reads it as " +
      "new — both produce the full delta") {
    // covered: fold at the reconcile watermark, then tick — the seed
    // is the tick partition alone
    val a = seedRoot("rni_fold_cov")
    IncrementalDedup.reconcileWindow(spark, a, "doc_id", tau = 0.5,
      committedBelow = 1L) // records 1, folds at 1 (batch=0 -> -1)
    tickZ(a)
    spark.sharedState.cacheManager.clearCache()
    assert(Layout.foldWatermark(spark, s"$a/postings").contains(1L))
    assert(incClosure(a, tau = 0.5, since = 1L) == Map(11L -> "near"))
    // uncovered: fold at watermark 2 AFTER the tick, seed since 1 —
    // batch=-1's coverage (2) exceeds the seed watermark, so its rows
    // count as new (superset seed, same delta)
    val b = seedRoot("rni_fold_unc")
    IncrementalDedup.applyReconcile(spark, b, "doc_id",
      IncrementalDedup.reconcileNear(spark, b, tau = 0.5),
      committedBelow = 1L, recordWatermark = true)
    tickZ(b)
    IncrementalDedup.maintainLadder(spark, b, committedBelow = 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(Layout.foldWatermark(spark, s"$b/postings").contains(2L))
    assert(incClosure(b, tau = 0.5, since = 1L) == Map(11L -> "near"))
  }

  test("reconcileWindow rides the persisted watermark: the second " +
      "window reconciles incrementally and converges the cross-window " +
      "chain; history survives as a durable file") {
    import spark.implicits._
    val root = seedRoot("rni_window")
    IncrementalDedup.reconcileWindow(spark, root, "doc_id", tau = 0.5,
      committedBelow = 1L)
    tickZ(root)
    spark.sharedState.cacheManager.clearCache()
    val w2 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L)
    assert(w2("delta_ids") == 1L && w2("corpus") == 1L,
      s"second window must converge z: $w2")
    assert(IncrementalDedup.reconciledWatermarks(spark, root) ==
      Seq(1L, 2L))
    spark.sharedState.cacheManager.clearCache()
    val v = spark.read.parquet(s"$root/verdicts")
      .select(col("id"), col("dropped_at"))
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(1L -> None, 2L -> Some("near"), 11L -> Some("near"),
      30L -> None, 31L -> Some("near")), s"batch semantics: $v")
  }

  test("marker crash recovery: apply completed but the watermark " +
      "never recorded — the next window's empty re-derive records it " +
      "through the trivial path") {
    val root = seedRoot("rni_crash")
    tickZ(root)
    // the 'crash': a full apply WITHOUT recordWatermark (the marker
    // write is the last step, so this is the crash-between shape)
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    assert(IncrementalDedup.reconciledWatermarks(spark, root).isEmpty)
    spark.sharedState.cacheManager.clearCache()
    // replay window: no marker -> full reconcile -> empty delta ->
    // marker safely rewritten
    val w = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L)
    assert(w("delta_ids") == 0L)
    assert(IncrementalDedup.reconciledWatermarks(spark, root) == Seq(2L))
  }

  test("apply retires folded-postings rows into a WATERMARK-KEYED " +
      "evidence partition: it stays individually retirable once the " +
      "lagged watermark passes, while older folded evidence retires " +
      "independently — the fold markers never fight") {
    import spark.implicits._
    val root = tmp("rni_movedkey")
    IncrementalDedup.admitBatchLadder(Seq(
        (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (2L, "w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 0L)
    IncrementalDedup.admitBatchLadder(
      Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 1L)
    // the lag shape: evidence folded at 1 (lagged cap), postings at 2
    // (full) — the two trees' coverages diverge
    Layout.foldBatchPartitions(spark, s"$root/postings_dropped", 1L)
    Layout.foldBatchPartitions(spark, s"$root/postings", 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(Layout.foldWatermark(spark, s"$root/postings_dropped")
      .contains(1L))
    // the apply moves doc 11's postings out of postings/batch=-1 into
    // the watermark-keyed evidence partition batch=-(2+2); the
    // evidence fold marker stays at 1 (the merged-coverage conflict is
    // gone by construction)
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    assert(Layout.foldWatermark(spark, s"$root/postings_dropped")
      .contains(1L), "evidence fold marker untouched by the move")
    assert(Layout.hasParquetData(spark, s"$root/postings_dropped/batch=-4"),
      "moved rows land at batch=-(W+2)")
    // a lagged retire at 1 deletes ONLY the pre-watermark folded
    // evidence (doc 2, fold-covered at 1); doc 11's moved partition
    // (W = 2 > 1) survives until the lagged watermark reaches 2
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 1L) == 1)
    spark.sharedState.cacheManager.clearCache()
    assert(evidenceIds(root) == Set(11L),
      s"doc 2 retired, moved doc 11 kept: ${evidenceIds(root)}")
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 2L) >= 1)
    spark.sharedState.cacheManager.clearCache()
    assert(evidenceIds(root).isEmpty)
  }

  test("retention lag >= 2: evidence the apply retires OUT OF the " +
      "folded postings eventually retires instead of accumulating " +
      "forever behind an unreachable batch=-1 fold marker") {
    import spark.implicits._
    val root = seedRoot("rni_lag2moved")
    def window(below: Long) = IncrementalDedup.reconcileWindow(spark,
      root, "doc_id", tau = 0.5, committedBelow = below, retire = true,
      retireLagWindows = 2)
    // window 1 folds postings (batch 0 -> -1); tick 1 brings z, whose
    // convergence at window 2 must move z's rows OUT OF postings
    // batch=-1 into evidence — the folded-source move
    window(1L)
    tickZ(root)
    spark.sharedState.cacheManager.clearCache()
    val w2 = window(2L)
    assert(w2("delta_ids") == 1L && w2("postings") >= 1L,
      s"window 2 must retire z's folded postings: $w2")
    assert(evidenceIds(root).contains(11L))
    // two more empty windows advance the lag horizon past watermark 2;
    // z's moved evidence (keyed at W=2) must then retire — under the
    // old batch=-1 merge its fold marker sat at the FULL watermark and
    // the 2-lagged retire could never cover it
    assert(window(3L)("delta_ids") == 0L)
    spark.sharedState.cacheManager.clearCache()
    val w4 = window(4L)
    spark.sharedState.cacheManager.clearCache()
    assert(!evidenceIds(root).contains(11L),
      s"moved evidence must retire under lag 2: $w4 ${evidenceIds(root)}")
  }

  test("retireLagWindows at or past the watermark-history bound is " +
      "rejected loudly instead of silently never retiring") {
    val root = seedRoot("rni_lagbound")
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.reconcileWindow(spark, root, "doc_id", tau = 0.5,
        committedBelow = 1L, retire = true, retireLagWindows = 64)
    }
    assert(e.getMessage.contains("64"), e.getMessage)
  }

  test("the sf1eq fixture shape: a fixed-size tick over a CONVERGED " +
      "group corpus chains only through apply-retired evidence; the " +
      "incremental delta is exactly the tick and matches the full " +
      "reconcile") {
    import spark.implicits._
    val root = tmp("rni_sf1eq")
    // the q_reladder divergence corpus in miniature: 10 groups of
    // (role0 admitted, role1 evidence, role2 reconciled away)
    val rd = spark.range(30).select(col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(col("id") % 3 * 2, col("id") % 3 * 2 + 7),
        k => concat(lit("g"), expr("id div 3").cast("string"),
          lit("w"), k.cast("string")))).as("text"))
    IncrementalDedup.admitBatchLadder(rd.filter(col("doc_id") % 3 =!= 2),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 0L)
    IncrementalDedup.admitBatchLadder(rd.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 1L)
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, recordWatermark = true)
    assert(IncrementalDedup.reconciledWatermarks(spark, root) == Seq(2L))
    // the frontier tick: words 6-13 of group g — J = 0.5 against the
    // RETIRED role-2 doc, < τ against everything admitted
    val tick = spark.range(5).select(
      (col("id") + 1000L).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(6), lit(13)),
        k => concat(lit("g"), col("id").cast("string"),
          lit("w"), k.cast("string")))).as("text"))
    val v = IncrementalDedup.admitBatchLadder(tick, "doc_id", "text",
        None, root, n = 3, tau = 0.5, batchId = 2L)
      .select(col("id"), col("dropped_at"))
      .as[(Long, Option[String])].collect().toMap
    assert(v.values.forall(_.isEmpty), s"tick must admit whole: $v")
    spark.sharedState.cacheManager.clearCache()
    val inc = incClosure(root, tau = 0.5, since = 2L)
    spark.sharedState.cacheManager.clearCache()
    val full = deltaMap(IncrementalDedup.reconcileNear(spark, root,
      tau = 0.5))
    assert(inc == full, s"inc $inc vs full $full")
    assert(inc.keySet == (1000L to 1004L).toSet &&
      inc.values.forall(_ == "near"),
      s"delta must be exactly the frontier tick: $inc")
  }

  test("retireLagWindows = 2 stays LIVE: the evidence fold is capped " +
      "at the retire watermark, so lagged retirement eventually runs " +
      "instead of deadlocking behind the window's own fold") {
    import spark.implicits._
    val root = seedRoot("rni_lag2")
    def window(below: Long) = IncrementalDedup.reconcileWindow(spark,
      root, "doc_id", tau = 0.5, committedBelow = below, retire = true,
      retireLagWindows = 2)
    // windows 1 and 2: fewer than 3 completed watermarks — nothing
    // retires, and the evidence subtree must NOT be folded past the
    // (nonexistent) retire watermark
    assert(window(1L)("evidence_partitions_retired") == 0L)
    IncrementalDedup.admitBatchLadder(
      Seq((40L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 1L)
    assert(window(2L)("evidence_partitions_retired") == 0L)
    IncrementalDedup.admitBatchLadder(
      Seq((41L, "y1 y2 y3 y4 y5 y6 y7 y8")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 2L)
    spark.sharedState.cacheManager.clearCache()
    // window 3: watermarks [1,2,3] — retire at the 2-older entry (1):
    // the batch-0 evidence (docs 2, 31) is finally below a covered
    // watermark and goes; with the old full-watermark fold it would
    // sit in batch=-1 stamped at 2 and never retire
    val w3 = window(3L)
    assert(w3("evidence_partitions_retired") >= 1L,
      s"lag-2 retirement must eventually fire: $w3")
    spark.sharedState.cacheManager.clearCache()
    assert(evidenceIds(root).isEmpty,
      s"pre-window-1 evidence retired: ${evidenceIds(root)}")
  }

  test("dial soundness across retirement: retiring evidence un-prunes " +
      "a hot shingle and creates a tau-edge between two PRE-watermark " +
      "admitted docs — the persisted hot set seeds them and the " +
      "incremental delta matches the full reconcile; with no recorded " +
      "hot set the call degrades to the full reconcile") {
    import spark.implicits._
    val root = tmp("rni_dial")
    val tau = 0.25; val dial = 2
    // s = (c1 c2 c3) is carried by A'(5), C1(11), C2(12), B(21) and
    // the evidence docs y(2), y'(4): doc frequency 6 under dial 2 ->
    // pruned everywhere. A' and B ALSO share u = (u1 u2 u3); with s
    // pruned J(A',B) = 1/8 < tau, with s counted 2/7 >= tau — the
    // edge only the un-pruning creates.
    IncrementalDedup.admitBatchLadder(Seq(
        (1L, "d1 d2 c1 c2"),                  // D: y's voucher
        (2L, "d1 d2 c1 c2 c3 k1 k5"),         // y: evidence, ~D, ~C1
        (3L, "d5 d6 c1 c2"),                  // D': y''s voucher
        (4L, "d5 d6 c1 c2 c3 k2 k6"),         // y': evidence, ~D', ~C2
        (5L, "c1 c2 c3 u1 u2 u3")             // A': carries s and u
      ).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = tau, batchId = 0L,
      maxDocFreq = dial)
    // C1 ~ y (through non-s shingles), C1 !~ D: the documented
    // divergence — admitted now, reconciled away at the window. Same
    // for C2 ~ y'. Both carry s.
    IncrementalDedup.admitBatchLadder(Seq(
        (11L, "c1 c2 c3 k1 k5"), (12L, "c1 c2 c3 k2 k6"))
        .toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = tau, batchId = 1L,
      maxDocFreq = dial)
    // B: admitted BECAUSE s is ingest-hot (admitted carriers A', C1,
    // C2 = 3 > dial) — unpruned it would match A' at 2/7 >= tau
    IncrementalDedup.admitBatchLadder(
      Seq((21L, "c1 c2 c3 z u1 u2 u3")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = tau, batchId = 2L,
      maxDocFreq = dial)
    spark.sharedState.cacheManager.clearCache()
    assert(spark.read.parquet(s"$root/verdicts")
      .filter(col("id").isin(5L, 11L, 12L, 21L) &&
        col("dropped_at").isNotNull).isEmpty,
      "A', C1, C2, B all admitted at ingest")
    // the window: reconciles C1/C2 away (delta 2), records hot_at =
    // {s}, then retirement deletes every evidence partition — the
    // union's s carriers fall to A', B (= dial), un-pruning s
    val w = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = tau, committedBelow = 3L, maxDocFreq = dial, retire = true)
    assert(w("delta_ids") == 2L && w("evidence_partitions_retired") >= 1L,
      s"window must converge C1/C2 and retire: $w")
    spark.sharedState.cacheManager.clearCache()
    val inc = incClosure(root, tau = tau, since = 3L, maxDocFreq = dial)
    spark.sharedState.cacheManager.clearCache()
    val full = deltaMap(IncrementalDedup.reconcileNear(spark, root,
      tau = tau, maxDocFreq = dial))
    assert(full == Map(21L -> "near"),
      s"un-pruned s must merge A' and B: $full")
    assert(inc == full,
      s"the formerly-hot seed must find the pre-watermark edge: $inc")
    // dial REMOVAL (on -> off): the certificate was computed with s
    // pruned; undialed, the A'-B edge exists outright — the stored
    // hot set (minus the now-empty current one) must still seed the
    // carriers, or the removal silently under-emits forever
    spark.sharedState.cacheManager.clearCache()
    val incOff = incClosure(root, tau = tau, since = 3L)
    spark.sharedState.cacheManager.clearCache()
    val fullOff = deltaMap(IncrementalDedup.reconcileNear(spark, root,
      tau = tau))
    assert(incOff == fullOff && incOff == Map(21L -> "near"),
      s"dial-off transition must seed the formerly-hot carriers: $incOff")
    // frontier guard: an absurdly small key bound trips mid-closure
    // and degrades to the full reconcile — identical delta, mode says so
    val (gd, gmode) = IncrementalDedup.reconcileNearIncrementalMode(
      spark, root, tau, sinceBatch = 3L, maxDocFreq = dial,
      maxFrontierKeys = 1, seedFractionCrossover = 1.0)
    assert(gmode == 6L && deltaMap(gd) == full,
      s"guard trip must fall back whole: mode $gmode")
    // conservative arm: with the hot-set history gone (pre-sidecar
    // root / torn record), the dialed incremental call degrades to the
    // full reconcile rather than trusting a dial-unsound certificate
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/hot_at"), true)
    spark.sharedState.cacheManager.clearCache()
    assert(deltaMap(IncrementalDedup.reconcileNearIncremental(
      spark, root, tau = tau, sinceBatch = 3L, maxDocFreq = dial)) == full,
      "no recorded hot set -> full-reconcile fallback")
  }

  test("retireLagWindows: evidence retires at the K-windows-older " +
      "completed watermark; zero-lag is unchanged; fewer than K+1 " +
      "windows retire nothing") {
    import spark.implicits._
    val root = seedRoot("rni_lag")
    // window 1 (lag 1): only one completed watermark -> nothing retires
    val w1 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 1L, retire = true,
      retireLagWindows = 1)
    assert(w1("evidence_partitions_retired") == 0L,
      s"one watermark, lag 1: $w1")
    assert(evidenceIds(root) == Set(2L, 31L), "evidence kept under lag")
    // tick 1 brings z (chains through y) plus a fresh evidence pair
    IncrementalDedup.admitBatchLadder(Seq(
        (11L, "w5 w6 w7 w8 w9 w10 w11 w12"),
        (20L, "r1 r2 r3 r4 r5 r6 r7 r8"),
        (21L, "r2 r3 r4 r5 r6 r7 r8 r9")).toDF("doc_id", "text"),
      "doc_id", "text", None, root, n = 3, tau = 0.5, batchId = 1L)
    spark.sharedState.cacheManager.clearCache()
    // window 2 (lag 1): retires at watermark 1 — the PRE-window-1
    // evidence partitions (batch=-1, fold-covered at 1) go; the tick-1
    // evidence (21) and this window's own retiree (11) stay
    val w2 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L, retire = true,
      retireLagWindows = 1)
    assert(w2("delta_ids") == 1L, s"window 2 converges z: $w2")
    assert(w2("evidence_partitions_retired") >= 1L, s"lagged retire: $w2")
    spark.sharedState.cacheManager.clearCache()
    assert(evidenceIds(root) == Set(21L, 11L),
      s"window-1-old evidence retired, younger kept: ${evidenceIds(root)}")
  }

  test("large pushed IN on a parquet scan completes (inFilterThreshold regression)") {
    // r19 set spark.sql.parquet.pushdown.inFilterThreshold to 10^6,
    // which turns a multi-thousand-key closure isin into a parquet
    // OR-chain whose RECURSIVE evaluation overflows the task stack
    // (first observed at ~4k keys on the 10x fixture recorded in
    // RECONCILE_IO.json).
    // Pin: a key set well past the session threshold both COMPLETES
    // (range filter + InSet post-filter, no OR-chain recursion) and
    // returns exactly the point-lookup rows.
    val dir = java.nio.file.Files.createTempDirectory("graft_infilter")
      .toString
    spark.range(100000).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(dir)
    val keys = (0L until 8000L).map(_ * 12 + 1) // ~8k keys, sparse hits
    val got = spark.read.parquet(dir)
      .filter(col("id").isin(keys: _*)).count()
    assert(got == keys.count(_ < 100000L),
      s"beyond-threshold IN must still point-filter exactly: $got")
  }
}
