package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{IncrementalDedup, IngestLadder, Layout}

/** The `shingle_counts/` doc-frequency sidecar: per-tick maintenance,
  * exactness against the full postings+evidence union through moves,
  * retirements and folds, the pre-sidecar backfill, retire-crash
  * recovery, and the persisted hot-set history that keeps the
  * incremental reconcile dial-sound across retirements.
  */
class ShingleCountsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  /** The reference the sidecar must track: per-sh64 row counts over
    * whatever the two postings trees currently hold. */
  private def unionCounts(root: String): Map[Long, Long] = {
    import spark.implicits._
    val trees = Seq("postings", "postings_dropped")
      .map(s => s"$root/$s").filter(Layout.hasParquetData(spark, _))
    if (trees.isEmpty) Map.empty
    else trees.map(spark.read.parquet(_).select("sh64"))
      .reduce(_ unionByName _)
      .groupBy(col("sh64")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
  }
  private def sidecarCounts(root: String): Map[Long, Long] = {
    import spark.implicits._
    spark.read.parquet(s"$root/shingle_counts")
      .groupBy(col("sh64")).agg(sum(col("n")).as("n"))
      .filter(col("n") =!= 0L)
      .as[(Long, Long)].collect().toMap
  }
  private def assertExact(root: String, where: String): Unit = {
    spark.sharedState.cacheManager.clearCache()
    assert(sidecarCounts(root) == unionCounts(root),
      s"sidecar diverged from the union $where")
  }

  private def seedRoot(tag: String): String = {
    import spark.implicits._
    val root = tmp(tag)
    IngestLadder.admitBatch(Seq(
        (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
        (2L, "w3 w4 w5 w6 w7 w8 w9 w10"),
        (30L, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (31L, "q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
    IngestLadder.admitBatch(
      Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
    root
  }

  test("the sidecar is complete-from-genesis on a fresh root and " +
      "tracks the union exactly through ticks, apply moves, " +
      "retirement and folds; the dial from counts equals the full " +
      "aggregate at every threshold") {
    val root = seedRoot("sc_exact")
    assert(IncrementalDedup.countsComplete(spark, root),
      "first tick on a fresh root must certify completeness")
    assertExact(root, "after two ticks")
    // apply: moves rows postings -> evidence; the union (hence counts)
    // must be unchanged
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, recordWatermark = true)
    assertExact(root, "after applyReconcile's moves")
    // retirement: evidence rows leave the union; the negative
    // partition must track the deletion exactly
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 2L) >= 1)
    assertExact(root, "after retirement")
    // fold: row-preserving, sums unchanged
    IncrementalDedup.maintainLadder(spark, root, committedBelow = 2L)
    assertExact(root, "after the fold")
    // dial equivalence at several thresholds, including one that
    // prunes and one that doesn't
    import spark.implicits._
    for (dial <- Seq(1, 2, 5)) {
      val fromCounts = IncrementalDedup
        .hotFromCounts(spark, root, dial).as[Long].collect().toSet
      val reference = unionCounts(root)
        .filter(_._2 > dial).keySet
      assert(fromCounts == reference,
        s"dial $dial decisions diverge: $fromCounts vs $reference")
    }
  }

  test("backfill: a root that predates the sidecar gets one " +
      "full-union aggregate with the uncommitted tick kept in its own " +
      "partition, so the tick's replay-Overwrite stays exact") {
    import spark.implicits._
    val root = seedRoot("sc_backfill")
    // simulate a pre-sidecar root: drop the counts tree + marker
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/shingle_counts"), true)
    assert(!IncrementalDedup.countsComplete(spark, root))
    // backfill at watermark 1: tick 1 is the uncommitted tick
    assert(IncrementalDedup.ensureShingleCounts(spark, root, 1L) > 0)
    assert(IncrementalDedup.countsComplete(spark, root))
    assertExact(root, "after backfill")
    assert(Layout.hasParquetData(spark, s"$root/shingle_counts/batch=1"),
      "the uncommitted tick's counts live in its own partition")
    // the uncommitted tick REPLAYS (at-least-once redelivery): its
    // per-batch Overwrite must leave the totals exact, not doubled
    IngestLadder.admitBatch(
      Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text"),
      "doc_id", "text", None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
    assertExact(root, "after the uncommitted tick's replay")
    // idempotent: a second call is a no-op
    assert(IncrementalDedup.ensureShingleCounts(spark, root, 2L) == -1L)
  }

  test("retire-crash recovery: a committed negative partition with " +
      "victims still on disk (crash between decrement and deletion) " +
      "is finished by the next entry; a marker whose decrement never " +
      "committed is dropped with the victims intact") {
    val root = seedRoot("sc_retirecrash")
    IncrementalDedup.applyReconcile(spark, root, "doc_id",
      IncrementalDedup.reconcileNear(spark, root, tau = 0.5),
      committedBelow = 2L, recordWatermark = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // shape 1: marker without a committed negative partition — the
    // retire crashed before its decrement landed; recovery must drop
    // the marker and keep the victims (the window replay redoes it)
    val m1 = new org.apache.hadoop.fs.Path(root, ".retire-wm=2")
    val out = fs.create(m1, true)
    out.write("0\n1".getBytes("UTF-8")); out.close()
    IncrementalDedup.recoverRetire(spark, root)
    assert(!fs.exists(m1), "uncommitted retire marker dropped")
    assert(Layout.hasParquetData(spark, s"$root/postings_dropped"),
      "victims intact when the decrement never committed")
    assertExact(root, "after shape-1 recovery")
    // shape 2: the real crash window — run the retire, then recreate
    // the crash state by restoring ONE victim partition from a copy
    // and re-creating the marker; recovery must finish the deletion
    // (not re-decrement)
    val victim = s"$root/postings_dropped/batch=0"
    spark.read.parquet(victim).write.mode("overwrite")
      .parquet(s"$root/.victim_copy")
    assert(IncrementalDedup.retireEvidence(spark, root,
      coveredBelow = 2L) >= 1)
    assertExact(root, "after the clean retire")
    spark.read.parquet(s"$root/.victim_copy").write.mode("overwrite")
      .parquet(victim) // the resurrected half-deleted victim
    val out2 = fs.create(new org.apache.hadoop.fs.Path(root,
      ".retire-wm=2"), true)
    out2.write("0".getBytes("UTF-8")); out2.close()
    spark.sharedState.cacheManager.clearCache()
    IncrementalDedup.recoverRetire(spark, root)
    assert(!Layout.hasParquetData(spark, victim),
      "recovery finishes the named deletion")
    assertExact(root, "after shape-2 recovery")
  }

  test("backfill after a crashed move: reconcileWindow recovers the " +
      "half-done postings->evidence move BEFORE certifying the " +
      "sidecars, so the backfilled counts never double the moved " +
      "doc's rows") {
    import spark.implicits._
    val root = seedRoot("sc_bfcrash")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-sidecar root: drop both sidecar trees
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/shingle_counts"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/doc_shingles"), true)
    // the crash state recoverEvidenceMoves exists for: doc 11's rows
    // in BOTH trees with the move marker still present
    spark.read.parquet(s"$root/postings/batch=1")
      .write.mode("overwrite").parquet(s"$root/.crash_keep")
    spark.read.parquet(s"$root/.crash_keep")
      .write.mode("overwrite").parquet(s"$root/postings_dropped/batch=1")
    fs.create(new org.apache.hadoop.fs.Path(root,
      ".apply-move-batch=1"), true).close()
    spark.sharedState.cacheManager.clearCache()
    // the window must recover FIRST (finishing the retirement), then
    // backfill over the now-disjoint union — counts exact, no doubles
    IncrementalDedup.reconcileWindow(spark, root, "doc_id", tau = 0.5,
      committedBelow = 2L)
    assert(IncrementalDedup.countsComplete(spark, root))
    assertExact(root, "after backfill over the recovered union")
    assert(sidecarCounts(root).values.forall(_ > 0),
      "no doubled-then-negated residue")
  }

  test("quota-dropped docs persist no postings and count nothing: the " +
      "ingest ladder's sidecar partition covers exactly the rows it " +
      "wrote") {
    import spark.implicits._
    val root = tmp("sc_quota")
    IngestLadder.admitBatch(Seq(
        (1L, "w1 w2 w3 w4 w5 w6 w7 w8", "http://d.com/1"),
        (2L, "x1 x2 x3 x4 x5 x6 x7 x8", "http://d.com/2"))
        .toDF("doc_id", "text", "url"),
      "doc_id", "text", Some("url"), Seq.empty, root, n = 3, tau = 0.5,
      batchId = 0L, domainQuota = Some(1))
    spark.sharedState.cacheManager.clearCache()
    val v = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at").as[(Long, Option[String])]
      .collect().toMap
    assert(v == Map(1L -> None, 2L -> Some("domain")), s"quota drop: $v")
    assert(IncrementalDedup.countsComplete(spark, root))
    assertExact(root, "after a quota-dropping ingest tick")
    assert(sidecarCounts(root).values.sum == 6L,
      "only the admitted doc's 6 shingles count")
  }
}
