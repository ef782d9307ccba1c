package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IncrementalDedup, IngestLadder, LadderBloom, Layout}

/** [[IncrementalDedup.applyReconcile]] — the serialized apply step that
  * converges the streaming corpus to batch-ladder semantics — and
  * [[IncrementalDedup.retireEvidence]], its evidence-retention dial.
  * Pins: post-apply parity with the batch ladder, re-reconcile
  * emptiness, replay idempotence (same-delta no-op AND crash-shape
  * recovery), fold/apply commutation, the no-sidecar-rebuild
  * invariant, and both sides of the retention trade.
  */
class ReconcileApplySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  // the divergence chain: x (1) admitted tick 0; y (2) ~ x dropped
  // near; z (11) ~ y but z !~ x arrives tick 1 and is ADMITTED by the
  // ingest ladder (nothing in the corpus resembles it) — the batch
  // ladder's CC would drop it transitively through y
  private def chainRoot(tag: String): String = {
    import spark.implicits._
    val root = tmp(tag)
    val tick1 = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val tick2 = Seq(
      (11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text")
    IngestLadder.admitBatch(tick1, "doc_id", "text", None, Nil,
      root, n = 3, tau = 0.5, batchId = 0L)
    IngestLadder.admitBatch(tick2, "doc_id", "text", None, Nil,
      root, n = 3, tau = 0.5, batchId = 1L)
    root
  }

  private def verdicts(root: String): Map[Long, Option[String]] = {
    import spark.implicits._
    spark.read.parquet(s"$root/verdicts")
      .select(col("id"), col("dropped_at"))
      .as[(Long, Option[String])].collect().toMap
  }
  private def corpusIds(root: String): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$root/corpus").select("doc_id")
      .as[Long].collect().toSet
  }
  private def postingIds(root: String, sub: String): Set[Long] = {
    import spark.implicits._
    val dir = s"$root/$sub"
    if (!graft.ext.Layout.hasParquetData(spark, dir)) Set.empty
    else spark.read.parquet(dir).select("id").distinct()
      .as[Long].collect().toSet
  }

  test("apply converges the corpus to batch-ladder semantics: verdict " +
      "update + corpus delete + postings retirement; re-reconcile is " +
      "empty; re-apply of the same delta is a no-op by layout") {
    val root = chainRoot("rca_conv")
    val delta = IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      delta, committedBelow = 2L)
    assert(counts == Map("verdicts" -> 1L, "corpus" -> 1L,
      "postings" -> 6L, "delta_ids" -> 1L), // 11 has 6 shingles
      s"apply counts $counts")
    assert(verdicts(root) == Map(1L -> None, 2L -> Some("near"),
      11L -> Some("near")))
    assert(corpusIds(root) == Set(1L))
    assert(postingIds(root, "postings") == Set(1L))
    // evidence: the ingest-time drop (2) AND the apply-retired doc (11)
    assert(postingIds(root, "postings_dropped") == Set(2L, 11L))
    spark.sharedState.cacheManager.clearCache()
    // converged: the batch near rung has nothing left to add
    assert(IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .count() == 0L)
    // re-apply of the same delta VALUES (fresh plan — the replay
    // contract: a pre-crash lazy handle would read rewritten files):
    // no NULL verdict, corpus or postings row matches any delta id any
    // more — zero partitions rewritten
    import spark.implicits._
    val again = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      Seq((11L, "near")).toDF("id", "dropped_at"), committedBelow = 2L)
    assert(again == Map("verdicts" -> 0L, "corpus" -> 0L,
      "postings" -> 0L, "delta_ids" -> 1L),
      s"re-apply must be a no-op: $again")
  }

  test("non-monotone ids: a later tick's SMALLER-id doc dropped as " +
      "evidence does not anchor the component — the minimum ADMITTED " +
      "doc survives and the corpus never loses its last copy") {
    import spark.implicits._
    val root = tmp("rca_nonmono")
    // tick 0: doc 10 admitted alone
    IngestLadder.admitBatch(
      Seq((10L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
    // tick 1 (ids SMALLER than tick 0's): doc 2 ~ 10 drops near vs the
    // index (evidence, id below every admitted id); doc 6 ~ 2 but
    // 6 !~ 10 is admitted — the chain runs through evidence doc 2
    val v1 = IngestLadder.admitBatch(
      Seq((2L, "w3 w4 w5 w6 w7 w8 w9 w10"),
        (6L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(v1 == Map(2L -> Some("near"), 6L -> None), s"tick1 $v1")
    // component {2, 6, 10}: raw minimum is EVIDENCE doc 2 — anchoring
    // there would emit both admitted members {6, 10} and apply would
    // delete the component's every surviving copy. The admitted-min
    // anchor keeps 6 and emits exactly {10}.
    val delta = IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .as[(Long, String)].collect().toMap
    assert(delta == Map(10L -> "near"), s"admitted-min delta $delta")
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(corpusIds(root) == Set(6L),
      "one admitted representative must survive per component")
    assert(IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .count() == 0L, "post-apply state must be converged")
  }

  test("a caller-persisted delta carrying one id under two tags is " +
      "deduped by id (deterministic min tag): the verdict rewrite " +
      "never duplicates the id's row") {
    import spark.implicits._
    val root = chainRoot("rca_dualtag")
    val dual = Seq((11L, "near"), (11L, "containment"))
      .toDF("id", "dropped_at")
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      dual, committedBelow = 2L)
    assert(counts("delta_ids") == 1L, s"deduped by id: $counts")
    spark.sharedState.cacheManager.clearCache()
    val vRows = spark.read.parquet(s"$root/verdicts")
      .filter(col("id") === 11L)
      .select(col("id"), col("dropped_at"))
      .as[(Long, Option[String])].collect().toSeq
    assert(vRows == Seq((11L, Some("containment"))),
      s"one verdict row, min tag: $vRows")
  }

  test("crash-shape replay: corpus deleted but postings not yet " +
      "retired — a re-derived delta still contains the doc and a " +
      "second apply finishes the job") {
    import spark.implicits._
    val root = chainRoot("rca_crash")
    // emulate the mid-apply crash state the subtree ORDER guarantees:
    // verdicts + corpus done, postings untouched (steps 1-2 of 3)
    val deltaIds = Seq(11L).toDF("id")
      .withColumn("dropped_at", lit("near"))
    val vDir = s"$root/verdicts"
    val v1 = spark.read.parquet(s"$vDir/batch=1")
      .withColumn("dropped_at",
        when(col("id") === 11L, lit("near")).otherwise(col("dropped_at")))
    v1.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.crash_v1")
    spark.read.parquet(s"$root/.crash_v1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$vDir/batch=1")
    val cDir = s"$root/corpus"
    val c1 = spark.read.parquet(s"$cDir/batch=1").filter(col("doc_id") =!= 11L)
    c1.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.crash_c1")
    spark.read.parquet(s"$root/.crash_c1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$cDir/batch=1")
    spark.sharedState.cacheManager.clearCache()
    // the postings still carry 11, so the re-derived delta re-emits it
    val redelta = IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .as[(Long, String)].collect().toMap
    assert(redelta == Map(11L -> "near"), s"re-derived delta $redelta")
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    // verdict and corpus hits are already gone; only postings finish
    assert(counts == Map("verdicts" -> 0L, "corpus" -> 0L,
      "postings" -> 6L, "delta_ids" -> 1L), s"finishing apply $counts")
    assert(corpusIds(root) == Set(1L) &&
      postingIds(root, "postings") == Set(1L) &&
      postingIds(root, "postings_dropped") == Set(2L, 11L))
    spark.sharedState.cacheManager.clearCache()
    assert(IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .count() == 0L)
  }

  test("interrupted partition swap recovery: a completed tmp whose " +
      "partition is gone is renamed into place; a stale tmp beside a " +
      "live partition is discarded") {
    import spark.implicits._
    val root = chainRoot("rca_swap")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cDir = s"$root/corpus"
    // shape 1: tmp complete, partition deleted (crash between delete
    // and final rename) — recovery must finish the swap
    val tmp1 = s"$cDir/.apply-tmp-batch=1"
    spark.read.parquet(s"$cDir/batch=1").filter(col("doc_id") =!= 11L)
      .write.parquet(tmp1)
    fs.delete(new org.apache.hadoop.fs.Path(s"$cDir/batch=1"), true)
    // shape 2: stale tmp beside a live partition (crash before the
    // delete) — recovery must discard it and leave the partition alone
    val vDir = s"$root/verdicts"
    val tmp2 = s"$vDir/.apply-tmp-batch=0"
    Seq((999L, "bogus")).toDF("id", "dropped_at").write.parquet(tmp2)
    // any applyReconcile entry runs the sweep (empty delta: no rewrites)
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      Seq.empty[(Long, String)].toDF("id", "dropped_at"),
      committedBelow = 2L)
    assert(counts.values.forall(_ == 0L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmp1)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(tmp2)))
    spark.sharedState.cacheManager.clearCache()
    assert(corpusIds(root) == Set(1L), "recovered swap must hold the " +
      "rewritten content")
    assert(verdicts(root) == Map(1L -> None, 2L -> Some("near"),
      11L -> None), "stale tmp must not leak into the verdict tree")
  }

  // the chain fixture under the FULL ingest ladder with a domain quota
  // (k = 2, all docs on one registrant): 1 admitted, 2 drops near at
  // ingest (never counted), 11 chains through 2 and is admitted — it
  // CONSUMED quota, so reconciling it away leaves the count stale
  private def quotaRoot(tag: String): String = {
    import spark.implicits._
    val root = tmp(tag)
    def tick(rows: Seq[(Long, String, String)], b: Long) =
      graft.ext.IngestLadder.admitBatch(
        rows.toDF("doc_id", "text", "url"), "doc_id", "text",
        Some("url"), Seq.empty, root, n = 3, tau = 0.5, batchId = b,
        domainQuota = Some(2))
    tick(Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8", "http://d.com/1"),
      (2L, "w3 w4 w5 w6 w7 w8 w9 w10", "http://d.com/2")), 0L)
    tick(Seq(
      (11L, "w5 w6 w7 w8 w9 w10 w11 w12", "http://d.com/11")), 1L)
    root
  }
  private def domainSum(root: String): Long = {
    import spark.implicits._
    spark.read.parquet(s"$root/domain_counts")
      .agg(sum(col("n"))).as[Long].head()
  }
  private val refund =
    Some(IncrementalDedup.QuotaRefund("url"))

  test("quota refund: the reconcile-deleted doc's domain is " +
      "decremented through a watermark-keyed negative partition; " +
      "future arrivals see the corrected count; a replay rewrites the " +
      "same values; the fold absorbs committed refund partitions") {
    import spark.implicits._
    val root = quotaRoot("rca_refund")
    assert(domainSum(root) == 2L, "1 and 11 consumed quota")
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, refundQuota = refund)
    assert(counts("quota_refunded") == 1L && counts("corpus") == 1L,
      s"refund counts $counts")
    spark.sharedState.cacheManager.clearCache()
    assert(domainSum(root) == 1L, "11's consumption refunded")
    // quota pressure AFTER the window reads the corrected prior: one
    // slot left, 20 fits, 21 overflows — batch parity
    val v2 = graft.ext.IngestLadder.admitBatch(Seq(
        (20L, "r1 r2 r3 r4 r5 r6 r7 r8", "http://d.com/20"),
        (21L, "s1 s2 s3 s4 s5 s6 s7 s8", "http://d.com/21"))
        .toDF("doc_id", "text", "url"), "doc_id", "text", Some("url"),
        Seq.empty, root, n = 3, tau = 0.5, batchId = 2L,
        domainQuota = Some(2))
      .as[(Long, Option[String])].collect().toMap
    assert(v2 == Map(20L -> None, 21L -> Some("domain")),
      s"corrected prior must admit exactly one: $v2")
    // replay at the same watermark (re-derived delta is empty; the
    // merged snapshot still carries the full window): same values land
    // in the same partition — domain sums unchanged
    spark.sharedState.cacheManager.clearCache()
    val again = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, refundQuota = refund)
    assert(again("verdicts") == 0L && again("corpus") == 0L,
      s"replay no-op $again")
    spark.sharedState.cacheManager.clearCache()
    assert(domainSum(root) == 2L, "refund replay must not double-count")
    // the fold folds committed refund partitions (batch <= -2 with
    // watermark below the fold's) into batch=-1, sums preserved
    IncrementalDedup.maintainLadder(spark, root, committedBelow = 3L)
    spark.sharedState.cacheManager.clearCache()
    val parts = new java.io.File(s"$root/domain_counts").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("batch=-1"), s"refund partitions folded: $parts")
    assert(domainSum(root) == 2L, "fold is row-preserving over refunds")
  }

  test("quota refund crash-merge: corpus row already deleted when the " +
      "replay resolves domains — the same-watermark predecessor " +
      "snapshot restores them and the refund is the FULL window's") {
    import spark.implicits._
    val root = quotaRoot("rca_refund_crash")
    // the crash state applyReconcile's order guarantees: snapshot (with
    // resolved domains) + verdicts + corpus done; refund and postings
    // pending
    Seq((11L, "near", "d.com", 2L))
      .toDF("id", "dropped_at", "reg_domain", "__wm")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.apply-delta")
    val vDir = s"$root/verdicts"
    spark.read.parquet(s"$vDir/batch=1")
      .withColumn("dropped_at",
        when(col("id") === 11L, lit("near")).otherwise(col("dropped_at")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.crash_v1")
    spark.read.parquet(s"$root/.crash_v1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$vDir/batch=1")
    val cDir = s"$root/corpus"
    spark.read.parquet(s"$cDir/batch=1").filter(col("doc_id") =!= 11L)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.crash_c1")
    spark.read.parquet(s"$root/.crash_c1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$cDir/batch=1")
    spark.sharedState.cacheManager.clearCache()
    // replay: the re-derived delta still holds 11 (postings intact),
    // but its corpus row — hence url — is gone; only the predecessor
    // snapshot knows the domain
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, refundQuota = refund)
    assert(counts("quota_refunded") == 1L && counts("postings") == 6L,
      s"crash replay must refund through the merged snapshot: $counts")
    spark.sharedState.cacheManager.clearCache()
    assert(domainSum(root) == 1L, s"full refund after crash replay")
  }

  test("swap recovery commit witness: a complete tmp is promoted even " +
      "without _SUCCESS (the swap's own marker decides), a mid-write " +
      "tmp whose target never existed is discarded") {
    import spark.implicits._
    val root = chainRoot("rca_commitmark")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qDir = s"$root/domain_counts"
    // shape 1: completed rewrite, target gone, committer _SUCCESS
    // suppressed (object-store tuning) but the swap's own marker
    // present — recovery must still promote it
    val tmp1 = s"$qDir/.apply-tmp-batch=-4"
    Seq(("d.com", -1L)).toDF("reg_domain", "n").write.parquet(tmp1)
    fs.delete(new org.apache.hadoop.fs.Path(tmp1, "_SUCCESS"), false)
    fs.create(new org.apache.hadoop.fs.Path(tmp1, "_graft_commit"),
      true).close()
    // shape 2: mid-write artifact (no witness at all) whose target
    // never existed — must be discarded, never promoted
    val tmp2 = s"$qDir/.apply-tmp-batch=-6"
    Seq(("e.com", -1L)).toDF("reg_domain", "n").write.parquet(tmp2)
    fs.delete(new org.apache.hadoop.fs.Path(tmp2, "_SUCCESS"), false)
    IncrementalDedup.recoverLadderEntry(spark, root)
    assert(Layout.hasParquetData(spark, s"$qDir/batch=-4"),
      "committed tmp promoted on the swap's own witness")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$qDir/batch=-6")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(tmp2)),
      "uncommitted tmp discarded")
  }

  test("delta-snapshot tmp recovery honors the commit witness: a " +
      "witness-less tmp with no snapshot dir (first-ever refund apply " +
      "crashed mid-tmp-write) is discarded and the replay rebuilds the " +
      "full snapshot; a witness-bearing tmp is promoted") {
    import spark.implicits._
    val root = quotaRoot("rca_deltatmp")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crash: a half-written first-ever snapshot tmp — some rows
    // missing, NO witness (the parquet job never returned), no
    // .apply-delta dir to fall back on
    Seq((999L, "near", null.asInstanceOf[String], 2L))
      .toDF("id", "dropped_at", "reg_domain", "__wm")
      .write.parquet(s"$root/.apply-tmp-.apply-delta")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/.apply-tmp-.apply-delta/_SUCCESS"), false)
    spark.sharedState.cacheManager.clearCache()
    val counts = IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, refundQuota = refund)
    // the half-written tmp (phantom doc 999) was discarded, not
    // promoted: the replay re-derived the true delta (doc 11) and the
    // refund is the real window's
    assert(counts("delta_ids") == 1L && counts("quota_refunded") == 1L,
      s"replay must rebuild the snapshot from scratch: $counts")
    spark.sharedState.cacheManager.clearCache()
    assert(spark.read.parquet(s"$root/.apply-delta")
      .filter(col("id") === 999L).isEmpty,
      "phantom rows from the discarded tmp must not survive")
    assert(domainSum(root) == 1L, "full-window refund after recovery")
    // a COMPLETED tmp (witness present) whose snapshot dir is gone is
    // promoted instead — the other arm of the same recovery
    val tmp2 = new org.apache.hadoop.fs.Path(s"$root/.apply-tmp-.apply-delta")
    Seq((11L, "near", "d.com", 2L))
      .toDF("id", "dropped_at", "reg_domain", "__wm")
      .write.parquet(tmp2.toString)
    fs.create(new org.apache.hadoop.fs.Path(tmp2, "_graft_commit"),
      true).close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/.apply-delta"), true)
    spark.sharedState.cacheManager.clearCache()
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, refundQuota = refund)
    spark.sharedState.cacheManager.clearCache()
    assert(domainSum(root) == 1L,
      "promoted predecessor snapshot keeps the refund replay-stable")
  }

  test("fold-then-apply and apply-then-fold agree on every subtree's " +
      "row set") {
    def allState(root: String) = (verdicts(root), corpusIds(root),
      postingIds(root, "postings"), postingIds(root, "postings_dropped"))
    val rootA = chainRoot("rca_fold_a")
    IncrementalDedup.maintainLadder(spark, rootA, committedBelow = 2L)
    IncrementalDedup.applyReconcile(spark, rootA, "doc_id",
      IncrementalDedup.reconcileNear(spark, rootA, tau = 0.5),
      committedBelow = 2L)
    val rootB = chainRoot("rca_fold_b")
    IncrementalDedup.applyReconcile(spark, rootB, "doc_id",
      IncrementalDedup.reconcileNear(spark, rootB, tau = 0.5),
      committedBelow = 2L)
    IncrementalDedup.maintainLadder(spark, rootB, committedBelow = 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(allState(rootA) == allState(rootB))
  }

  test("bloom sidecars survive an apply UNREBUILT: deletion only " +
      "creates stale positives, which fall through the exact join — " +
      "a near-dup of a reconcile-deleted doc is admitted") {
    import spark.implicits._
    val root = chainRoot("rca_bloom")
    LadderBloom.buildAll(spark, root, committedBelow = 2L)
    val before = LadderBloom.read(spark, root, "postings").get
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    val after = LadderBloom.read(spark, root, "postings").get
    assert(after.coveredBelow == before.coveredBelow &&
      after.nKeys == before.nKeys, "apply must not touch sidecars")
    // doc 21 ~ deleted doc 11 (J = 5/7) but far from surviving doc 1
    // (J = 2/10): its shingles hit the stale sidecar bits, the exact
    // probe finds no stored row, the doc is admitted
    val t = Seq((21L, "w5 w6 w7 w8 w9 w10 w11 w13")).toDF("doc_id", "text")
    val v = IngestLadder.admitBatch(t, "doc_id", "text", None, Nil,
        root, n = 3, tau = 0.5, batchId = 2L)
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(21L -> None), s"stale positive must fall through: $v")
  }

  test("reconcileWindow: one call converges, retires, folds and " +
      "rebuilds sidecars in the proven order; a second window is a " +
      "no-op apply over already-converged state") {
    import spark.implicits._
    val root = chainRoot("rca_window")
    LadderBloom.buildAll(spark, root, committedBelow = 2L)
    val w1 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L, retire = true)
    assert(w1("corpus") == 1L && w1("verdicts") == 1L &&
      w1("postings") == 6L, s"window apply counts $w1")
    assert(w1("evidence_partitions_retired") >= 1L)
    assert(w1("partitions_folded") > 0L)
    spark.sharedState.cacheManager.clearCache()
    assert(corpusIds(root) == Set(1L))
    assert(postingIds(root, "postings_dropped").isEmpty)
    // every subtree folded to batch=-1; sidecars rebuilt at the fold
    // watermark over the POST-apply keys
    val parts = new java.io.File(s"$root/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("batch=-1"), s"postings partitions $parts")
    val sc = LadderBloom.read(spark, root, "postings").get
    assert(sc.coveredBelow == 2L && sc.nKeys == 6L,
      s"sidecar must reflect post-apply keys (doc 1's 6 shingles): $sc")
    // second window: nothing to converge, retire or fold
    val w2 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L, retire = true)
    assert(w2("corpus") == 0L && w2("verdicts") == 0L &&
      w2("postings") == 0L && w2("evidence_partitions_retired") == 0L &&
      w2("partitions_folded") == 0L, s"second window must no-op: $w2")
  }

  test("a crashed swap is finished by the NEXT serialized-window entry " +
      "of any kind: an ingest tick and a reconcile both recover the " +
      "missing postings partition before probing") {
    import spark.implicits._
    def crash(root: String): Unit = {
      // emulate the delete->rename gap: postings/batch=1 rewritten to
      // a completed tmp, the partition itself gone
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pDir = s"$root/postings"
      spark.read.parquet(s"$pDir/batch=1").filter(col("id") =!= 11L)
        .write.parquet(s"$pDir/.apply-tmp-batch=1")
      fs.delete(new org.apache.hadoop.fs.Path(s"$pDir/batch=1"), true)
      spark.sharedState.cacheManager.clearCache()
    }
    // tick entry: without recovery, doc 11's postings are invisible
    // and a near-dup of it would be wrongly ADMITTED; with recovery
    // the rewritten partition (11 retired) is live and doc 21 ~ 11 is
    // STILL admitted — but through the recovered, correct state
    val r1 = chainRoot("rca_rec_tick"); crash(r1)
    val v = IngestLadder.admitBatch(
        Seq((21L, "w5 w6 w7 w8 w9 w10 w11 w13")).toDF("doc_id", "text"),
        "doc_id", "text", None, Nil, r1, n = 3, tau = 0.5, batchId = 2L)
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(21L -> None))
    assert(postingIds(r1, "postings") == Set(1L, 21L),
      "tick entry must finish the interrupted swap")
    // reconcile entry: the re-derived delta must see the RECOVERED
    // tree (11 already retired -> no postings row -> empty delta),
    // not a tree with the partition missing
    val r2 = chainRoot("rca_rec_rn"); crash(r2)
    assert(IncrementalDedup.reconcileNear(spark, r2, tau = 0.5)
      .count() == 0L)
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(r2, "postings") == Set(1L),
      "reconcile entry must finish the interrupted swap")
  }

  test("lagged retention after a fold: batch=-1 is deleted only when " +
      "the fold's recorded watermark is covered by the retirement " +
      "watermark") {
    val root = chainRoot("rca_lag")
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L)
    // fold at watermark 2: evidence batches 0,1 merge into batch=-1
    IncrementalDedup.maintainLadder(spark, root, committedBelow = 2L)
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(root, "postings_dropped") == Set(2L, 11L))
    // a LAGGED watermark (1 < fold's 2) must keep the folded evidence
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 1L) == 0, "lagged retire must not touch batch=-1")
    assert(postingIds(root, "postings_dropped") == Set(2L, 11L))
    // a watermark at/above the fold's covers it: -1 is retirable
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 2L) == 1)
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(root, "postings_dropped").isEmpty)
  }

  test("interrupted postings→evidence MOVE: a crash between the two " +
      "completed swaps leaves a doc in BOTH trees — the move marker " +
      "makes the next entry finish the retirement, so the reconcile " +
      "union never double-counts intersections") {
    import spark.implicits._
    val root = chainRoot("rca_move")
    // emulate the between-swaps crash faithfully: steps 1-3 done
    // (verdict flipped, corpus row deleted), the evidence swap done,
    // the postings retirement swap NOT — 11's rows in BOTH trees,
    // marker lingering
    def rewrite(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/.crash_tmp")
      spark.read.parquet(s"$root/.crash_tmp").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    }
    rewrite(s"$root/verdicts/batch=1",
      spark.read.parquet(s"$root/verdicts/batch=1")
        .withColumn("dropped_at", when(col("id") === 11L, lit("near"))
          .otherwise(col("dropped_at"))))
    rewrite(s"$root/corpus/batch=1",
      spark.read.parquet(s"$root/corpus/batch=1")
        .filter(col("doc_id") =!= 11L))
    val pPart = s"$root/postings/batch=1"
    val dPart = s"$root/postings_dropped/batch=1"
    rewrite(dPart, spark.read.parquet(dPart).unionByName(
      spark.read.parquet(pPart).filter(col("id") === 11L)).distinct())
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root,
      ".apply-move-batch=1"), true).close()
    spark.sharedState.cacheManager.clearCache()
    // WITHOUT recovery the adm∪evidence union would hold 11's rows
    // TWICE (doubled intersection counts); the reconcile entry sweeps
    // the marker first, finishes the retirement, and sees the
    // converged state
    assert(IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .count() == 0L, "recovered state is converged")
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(root, "postings") == Set(1L),
      "the entry sweep must finish retiring 11 from the probe index")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      ".apply-move-batch=1")), "marker consumed")
    // a lingering marker with NO overlap (crash before the evidence
    // swap, or after both) recovers as a no-op
    fs.create(new org.apache.hadoop.fs.Path(root,
      ".apply-move-batch=0"), true).close()
    IncrementalDedup.recoverEvidenceMoves(spark, root)
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(root, "postings") == Set(1L) &&
      postingIds(root, "postings_dropped") == Set(2L, 11L))
  }

  test("adversarial interleaving: crash after corpus delete but before " +
      "postings retirement, then a window whose re-derived delta holds " +
      "OTHER docs (one out of scope) — retirement waits for exactly " +
      "the right watermark and the half-applied doc's chain is never " +
      "orphaned") {
    import spark.implicits._
    // TWO independent chains: the w-chain (1 — 2 evidence — 11) and
    // the q-chain (30 — 31 evidence — 41), disjoint vocabularies so
    // neither interferes with the other at ingest
    val root = tmp("rca_adv")
    IngestLadder.admitBatch(Seq(
        (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (2L, "w3 w4 w5 w6 w7 w8 w9 w10"),
        (30L, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (31L, "q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
    IngestLadder.admitBatch(
      Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
    // the mid-apply crash state for doc 11 (verdicts + corpus done,
    // postings untouched — steps 1-2 of the subtree order)
    val vDir = s"$root/verdicts"
    spark.read.parquet(s"$vDir/batch=1")
      .withColumn("dropped_at",
        when(col("id") === 11L, lit("near")).otherwise(col("dropped_at")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.adv_v1")
    spark.read.parquet(s"$root/.adv_v1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$vDir/batch=1")
    val cDir = s"$root/corpus"
    spark.read.parquet(s"$cDir/batch=1").filter(col("doc_id") =!= 11L)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/.adv_c1")
    spark.read.parquet(s"$root/.adv_c1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$cDir/batch=1")
    spark.sharedState.cacheManager.clearCache()
    // tick 2 brings the q-chain's cross-tick doc (41 ~ 31 evidence,
    // far from 30): admitted at ingest — the re-derived delta is now
    // {11 (half-applied), 41 (fresh, in the uncommitted tick)}
    IngestLadder.admitBatch(
      Seq((41L, "q5 q6 q7 q8 q9 q10 q11 q12")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 2L)
    // window INSIDE tick 2 (committedBelow = 2): 11 is in scope (its
    // postings finish retiring), 41 is NOT (its partition is the
    // uncommitted tick) — partial scope, so retirement and the
    // watermark must both WAIT
    val w1 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 2L, retire = true)
    assert(w1("delta_ids") == 2L && w1("verdicts") == 0L &&
      w1("postings") == 6L &&
      w1("evidence_partitions_retired") == 0L,
      s"partial-scope window must defer retirement: $w1")
    assert(IncrementalDedup.reconciledWatermarks(spark, root).isEmpty,
      "no watermark while any delta doc is out of scope")
    spark.sharedState.cacheManager.clearCache()
    assert(postingIds(root, "postings_dropped") == Set(2L, 11L, 31L),
      "evidence must survive the deferral — 41's chain runs through it")
    // next window (batch 2 committed): 41 converges, the watermark
    // records, and retirement finally runs at the RIGHT watermark
    val w2 = IncrementalDedup.reconcileWindow(spark, root, "doc_id",
      tau = 0.5, committedBelow = 3L, retire = true)
    assert(w2("delta_ids") == 1L && w2("verdicts") == 1L &&
      w2("corpus") == 1L && w2("evidence_partitions_retired") >= 1L,
      s"committed window must converge then retire: $w2")
    assert(IncrementalDedup.reconciledWatermarks(spark, root) == Seq(3L))
    spark.sharedState.cacheManager.clearCache()
    assert(verdicts(root) == Map(1L -> None, 2L -> Some("near"),
      30L -> None, 31L -> Some("near"),
      11L -> Some("near"), 41L -> Some("near")))
    assert(corpusIds(root) == Set(1L, 30L))
    assert(postingIds(root, "postings_dropped").isEmpty)
    assert(IncrementalDedup.reconcileNear(spark, root, tau = 0.5)
      .count() == 0L, "converged, nothing orphaned")
  }

  test("retireEvidence: safe for the converged state (re-reconcile " +
      "stays empty), and the documented trade — a future chain only " +
      "through retired evidence stays admitted, through retained " +
      "evidence it reconciles") {
    import spark.implicits._
    // w (21) ~ y (2, dropped evidence) with J = 5/7, but J(w, x=1) =
    // 3/9 < 0.5: w's only path to the corpus is through y
    def arriveW(root: String): Unit = {
      val t = Seq((21L, "w4 w5 w6 w7 w8 w9 w10 w11")).toDF("doc_id", "text")
      val v = IngestLadder.admitBatch(t, "doc_id", "text",
          None, Nil, root, n = 3, tau = 0.5, batchId = 2L)
        .as[(Long, Option[String])].collect().toMap
      assert(v == Map(21L -> None), s"ingest admits w either way: $v")
    }
    def applied(tag: String): String = {
      val root = chainRoot(tag)
      IncrementalDedup.applyReconcile(spark, root, "doc_id",
        IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
        committedBelow = 2L)
      spark.sharedState.cacheManager.clearCache()
      root
    }
    // retained: the next reconcile finds the w—y—x chain → delta {w}
    val keep = applied("rca_keep")
    arriveW(keep)
    val dKeep = IncrementalDedup.reconcileNear(spark, keep, tau = 0.5)
      .as[(Long, String)].collect().toMap
    assert(dKeep == Map(21L -> "near"), s"retained evidence delta $dKeep")
    // retired: evidence below the completed-reconcile watermark is
    // deleted; the converged corpus still re-reconciles EMPTY...
    val ret = applied("rca_retire")
    val n = IncrementalDedup.retireEvidence(spark, ret, coveredBelow = 2L)
    assert(n >= 1, s"must delete evidence partitions: $n")
    assert(postingIds(ret, "postings_dropped").isEmpty)
    spark.sharedState.cacheManager.clearCache()
    assert(IncrementalDedup.reconcileNear(spark, ret, tau = 0.5)
      .count() == 0L, "retirement must not disturb the converged state")
    // ...but w's chain ran through y, which is gone: w stays admitted —
    // ingest-time semantics for chains older than the retention window,
    // the documented price of bounded evidence
    arriveW(ret)
    spark.sharedState.cacheManager.clearCache()
    assert(IncrementalDedup.reconcileNear(spark, ret, tau = 0.5)
      .count() == 0L, "chain through retired evidence is not re-dropped")
  }
}
