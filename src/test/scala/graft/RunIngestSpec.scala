package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.config.IngestConfig
import graft.ext.{IncrementalDedup, Layout}

/** [[graft.tools.RunIngest]] — the curation loop's production entry
  * point — driven END TO END from a config fixture over a file stream:
  * ladder ticks, the deferred-then-converged maintenance window, the
  * quota refund, evidence retirement, sidecar build, and a checkpoint
  * RESTART in the middle. The wiring under test is exactly what
  * `spark-submit … RunIngest config.json` runs.
  */
class RunIngestSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("config-driven loop end to end: ticks, deferred window, refund, " +
      "retirement, sidecars, restart — state equals the choreographed " +
      "run") {
    import spark.implicits._
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    val src = tmp("ri_src"); val root = tmp("ri_root")
    val ckpt = tmp("ri_ckpt")
    val cfgPath = s"${tmp("ri_cfg")}/ingest.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""{
         |  "source_format": "parquet",
         |  "source_path": "$src",
         |  "source_schema_ddl": "doc_id LONG, text STRING, url STRING",
         |  "id_col": "doc_id",
         |  "text_col": "text",
         |  "url_col": "url",
         |  "root": "$root",
         |  "checkpoint_location": "$ckpt",
         |  "shingle_n": 3,
         |  "near_tau_x10k": 5000,
         |  "domain_quota": 2,
         |  "maintain_every": 2,
         |  "retire_evidence": true,
         |  "refund_quota": true,
         |  "build_sidecars": true,
         |  "monitor_conf": {"mu_bp": 0, "kappa_bp": 2000, "h_bp": 100000}
         |}""".stripMargin)
    val cfg = IngestConfig.fromFile(cfgPath)
    assert(cfg.root == root && cfg.domain_quota.contains(2))

    def feed(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "url").coalesce(1)
        .write.mode("append").parquet(src)
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      q.processAllAvailable()

    // batch 0: x admitted, y ~ x drops near (evidence); d.com count 1
    val q1 = graft.tools.RunIngest.start(spark, cfg)
    feed(Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8", "http://d.com/1"),
      (2L, "w3 w4 w5 w6 w7 w8 w9 w10", "http://d.com/2")))
    drain(q1)
    // batch 1: z chains through y, admitted, CONSUMES quota (d.com 2).
    // The id-1 window's delta {z} sits in THIS uncommitted tick —
    // apply defers, no watermark recorded yet
    feed(Seq((11L, "w5 w6 w7 w8 w9 w10 w11 w12", "http://d.com/11")))
    drain(q1)
    assert(IncrementalDedup.reconciledWatermarks(spark, root).isEmpty,
      "deferred window must not record a watermark")
    // batch 2: novel filler on another domain
    feed(Seq((21L, "xa xb xc xd xe xf xg xh", "http://e.com/21")))
    drain(q1)
    // batch 3: filler + the id-3 window — batch 1 is committed now:
    // z converges (near), d.com refunds to 1, evidence retires,
    // sidecars build
    feed(Seq((31L, "ya yb yc yd ye yf yg yh", "http://f.com/31")))
    drain(q1); q1.stop()
    spark.sharedState.cacheManager.clearCache()
    assert(IncrementalDedup.reconciledWatermarks(spark, root) == Seq(3L),
      "window 3 must complete and record")
    val evIds = spark.read.parquet(s"$root/postings_dropped")
      .select(col("id")).as[Long].collect().toSet
    assert(evIds.isEmpty, s"evidence retired after convergence: $evIds")
    assert(Layout.hasParquetData(spark,
      graft.ext.LadderBloom.sidecarDir(root, "postings")),
      "sidecars built at the first completed window")

    // monitor continuity: the loop persists CUSUM state under root
    // post-tick, so the restarted monitor resumes mid-drift instead of
    // silently zeroing (the unit pin is in IngestLadderSpec; here the
    // production wiring must actually write and re-read the file)
    val stateFile = new java.io.File(s"$root/_monitor_state")
    assert(stateFile.exists, "monitor state persisted by the loop")
    val stateBefore = java.nio.file.Files.readString(stateFile.toPath)
    assert(stateBefore.linesIterator.nonEmpty)

    // RESTART from the checkpoint; batch 4: two more d.com docs — the
    // REFUNDED count (1) admits exactly one of them — and a novel text
    // re-crawling doc 21's page, which the url rung drops against the
    // stored url index (before the quota counts it). Stderr captured:
    // the maintenance line must surface the silent regime decisions
    // (reconcile mode, near-sidecar broadcast skip).
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(
      new java.io.OutputStream {
        override def write(b: Int): Unit = { errBuf.write(b); realErr.write(b) }
        override def write(b: Array[Byte], o: Int, l: Int): Unit = {
          errBuf.write(b, o, l); realErr.write(b, o, l)
        }
      }, true))
    try {
      val q2 = graft.tools.RunIngest.start(spark, cfg)
      feed(Seq((41L, "r1 r2 r3 r4 r5 r6 r7 r8", "http://d.com/41"),
        (42L, "s1 s2 s3 s4 s5 s6 s7 s8", "http://d.com/42"),
        (43L, "v1 v2 v3 v4 v5 v6 v7 v8", "http://e.com/21")))
      drain(q2)
      // batch 5: filler + the id-5 window — incremental reconcile from
      // the persisted watermark finds nothing; history grows
      feed(Seq((51L, "t1 t2 t3 t4 t5 t6 t7 t8", "http://g.com/51")))
      drain(q2); q2.stop()
    } finally System.setErr(realErr)
    spark.sharedState.cacheManager.clearCache()
    val maintains = errBuf.toString("UTF-8").linesIterator
      .filter(_.contains("[ingest-maintain]")).toSeq
    assert(maintains.nonEmpty, "maintenance line printed")
    assert(maintains.forall(l =>
      "reconcile_mode=(incremental|full_[a-z_]+)".r
        .findFirstIn(l).isDefined &&
      "near_sidecar_skipped=(true|false|n/a)".r
        .findFirstIn(l).isDefined),
      s"regime fields missing: $maintains")
    assert(stateFile.exists &&
      java.nio.file.Files.readString(stateFile.toPath)
        .split("\n").length == stateBefore.split("\n").length,
      "monitor state rewritten post-tick after the restart")

    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select(col("id"), col("dropped_at"))
      .as[(Long, Option[String])].collect().toMap
    assert(verdicts == Map(
      1L -> None, 2L -> Some("near"), 11L -> Some("near"),
      21L -> None, 31L -> None,
      41L -> None, 42L -> Some("domain"), 43L -> Some("url"),
      51L -> None),
      s"got $verdicts")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(corpus == Set(1L, 21L, 31L, 41L, 51L), s"corpus $corpus")
    assert(IncrementalDedup.reconciledWatermarks(spark, root) ==
      Seq(3L, 5L), "watermark history survives the restart")
  }
}
