package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{CdcEvent, StreamCompaction}

class StreamCompactionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  def ev(pk: String, ts: Long, off: Long, v: String, op: String = "u") =
    CdcEvent("db", "t", pk, ts, off, op, v)

  test("stateful compaction emits only newer versions across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[CdcEvent]
    val out = StreamCompaction.latestPerKeyStateful(in.toDS(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("compacted")
      .outputMode(OutputMode.Append).start()

    // batch 1: two versions of k1 in one batch → only the newest emitted
    in.addData(ev("k1", 100, 0, "a"), ev("k1", 200, 1, "b"), ev("k2", 100, 2, "x"))
    q.processAllAvailable()
    // batch 2: stale k1 replay (dropped), newer k2, new k3
    in.addData(ev("k1", 150, 3, "stale"), ev("k2", 300, 4, "y"), ev("k3", 100, 5, "z"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("compacted").as[CdcEvent].collect()
      .map(e => (e.pk, e.payload)).toList
    assert(rows.count { case (pk, _) => pk == "k1" } == 1)
    assert(rows.contains(("k1", "b")) && !rows.exists(_._2 == "stale"))
    assert(rows.filter(_._1 == "k2").map(_._2).toSet == Set("x", "y"))
    assert(rows.contains(("k3", "z")))
  }

  test("streaming corpus dedup: first fingerprint wins across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamCompaction.firstPerFingerprint(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("streamdedup")
      .outputMode(OutputMode.Append).start()
    // batch 1: B and its in-batch duplicate (normalization-equal) → min id
    in.addData((2L, "THE  quick fox"), (1L, "the quick fox"), (3L, "other doc"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate of A (suppressed) + a new doc
    in.addData((9L, "the quick  FOX"), (4L, "brand new content"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("streamdedup")
      .select("id").as[Long].collect().toSet
    assert(rows == Set(1L, 3L, 4L),
      s"expected first-occurrence ids, got $rows")
  }

  test("streaming URL dedup: first canonical-url wins across batches " +
      "and across syntactic crawl variants") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamCompaction.firstPerCanonicalUrl(
      in.toDS().toDF("doc_id", "url"), "doc_id", "url")
    val q = out.writeStream.format("memory").queryName("urldedup")
      .outputMode(OutputMode.Append).start()
    // batch 1: two variants of one page (min id wins) + another page
    in.addData((5L, "HTTP://Site.COM/p/1?id=1"),
      (2L, "https://site.com:443/p/1?id=1"),
      (3L, "http://site.com/p/2"))
    q.processAllAvailable()
    // batch 2: yet more variants of page 1 (tracking junk, trailing
    // slash) — all suppressed — plus one genuinely new page
    in.addData((9L, "http://site.com:80/p/1?utm_source=x&id=1"),
      (10L, "http://site.com/p/2/"), (11L, "http://site.com/p/3"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("urldedup")
      .select("id", "fp").as[(Long, String)].collect().toMap
    assert(rows == Map(2L -> "site.com/p/1?id=1", 3L -> "site.com/p/2",
      11L -> "site.com/p/3"), s"got $rows")
  }

  test("composed admission ladder runs as a foreachBatch body: per-tick " +
      "verdicts land durably, indexes carry across a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_lad_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lad_ckpt").toString
    val in = MemoryStream[(Long, String, String)]
    def start() = in.toDS().toDF("doc_id", "text", "url")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ext.IngestLadder.admitBatch(
          b, "doc_id", "text", Some("url"), Nil, root, n = 3, tau = 0.5,
          batchId = id)
        ()
      }.start()
    val q1 = start()
    in.addData((1L, "alpha beta gamma delta", "http://a.com/p1"),
      (2L, "totally different text here", "HTTP://A.COM/p1"))
    q1.processAllAvailable(); q1.stop()
    // restart from the checkpoint: the NEXT tick gets a fresh batch id
    // and probes tick 0's persisted indexes
    val q2 = start()
    in.addData(
      (11L, "alpha beta gamma delta", "http://b.com/x"), // exact of ADMITTED 1
      (12L, "fresh words nobody wrote before now", "http://a.com/p1?utm_source=x"), // re-crawl
      (13L, "one two three four five six seven eight", "http://c.com/1"))
    q2.processAllAvailable(); q2.stop()
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at")
      .as[(Long, Option[String])].collect().toMap
    assert(verdicts == Map(1L -> None, 2L -> Some("url"),
      11L -> Some("exact"), 12L -> Some("url"), 13L -> None),
      s"got $verdicts")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 13L), s"corpus $corpus")
    // the two ticks are distinct partitions (batch ids from the stream)
    assert(spark.read.parquet(s"$root/verdicts").select("batch")
      .distinct().as[Int].collect().toSet == Set(0, 1))
  }

  test("unified ingest ladder runs as a foreachBatch body: quality " +
      "rungs between exact and near, verdicts durable, indexes carry " +
      "across a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingest_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ingest_ckpt").toString
    val gates: Seq[graft.ext.IngestLadder.Gate] = Seq(
      "short" -> (c => c.filter(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("ts")) >= 4)
        .select(org.apache.spark.sql.functions.col("id"))))
    val in = MemoryStream[(Long, String, String)]
    def start() = in.toDS().toDF("doc_id", "text", "url")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ext.IngestLadder.admitBatch(
          b, "doc_id", "text", Some("url"), gates, root, n = 3,
          tau = 0.5, batchId = id)
        ()
      }.start()
    val q1 = start()
    in.addData((1L, "alpha beta gamma delta epsilon", "http://a.com/p1"),
      (2L, "too tiny", "http://a.com/p2"))
    q1.processAllAvailable(); q1.stop()
    // restart from the checkpoint: the NEXT tick gets a fresh batch id
    // and probes tick 0's persisted indexes — including the quality-
    // DROPPED doc's url key and fingerprint (known-bad provenance)
    val q2 = start()
    in.addData(
      (11L, "too tiny", "http://b.com/x"), // exact copy of GATE-DROPPED 2
      (12L, "fresh words here", "http://a.com/p2?utm_source=x"), // re-crawl of 2's page
      (13L, "alpha beta gamma delta nine", "http://c.com/1")) // near of ADMITTED 1
    q2.processAllAvailable(); q2.stop()
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at")
      .as[(Long, Option[String])].collect().toMap
    assert(verdicts == Map(1L -> None, 2L -> Some("short"),
      11L -> Some("exact"), 12L -> Some("url"), 13L -> Some("near")),
      s"got $verdicts")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L), s"corpus $corpus")
    assert(spark.read.parquet(s"$root/verdicts").select("batch")
      .distinct().as[Int].collect().toSet == Set(0, 1))
  }

  test("production maintenance cadence in the stream loop: fold + bloom " +
      "rebuild inside the serialized foreachBatch window; later ticks " +
      "probe folded state through the sidecar and fresh state through " +
      "the tail, across a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_ladmaint_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ladmaint_ckpt").toString
    val in = MemoryStream[(Long, String, String)]
    def start() = in.toDS().toDF("doc_id", "text", "url")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ext.IngestLadder.admitBatch(
          b, "doc_id", "text", Some("url"), Nil, root, n = 3, tau = 0.5,
          batchId = id)
        // the maintenance window rides the SAME serialized body: every
        // 2nd tick, fold committed partitions and (re)build sidecars at
        // the fold watermark — the LadderBloom invariant in its natural
        // habitat
        if (id % 2 == 1) {
          graft.ext.IncrementalDedup.maintainLadder(spark, root,
            committedBelow = id)
          graft.ext.LadderBloom.buildAll(spark, root, committedBelow = id)
        }
        ()
      }.start()
    val q1 = start()
    in.addData((1L, "alpha beta gamma delta", "http://a.com/p1"))
    q1.processAllAvailable()
    in.addData((11L, "one two three four five six", "http://b.com/x"))
    q1.processAllAvailable(); q1.stop()
    // after tick 1: batch 0 folded to -1 and covered by the sidecar
    // (watermark 1); tick 1's own partitions are the uncovered tail
    val sc = graft.ext.LadderBloom.read(spark, root, "url_index").get
    assert(sc.coveredBelow == 1L, s"sidecar watermark $sc")
    val q2 = start()
    in.addData(
      (21L, "whatever the mirror says", "HTTP://A.COM/p1"), // folded key, via bloom
      (22L, "irrelevant replacement text", "http://b.com/x?utm_source=z"), // tail key, exact probe
      (23L, "one two three four five six", "http://d.com/new"), // fp of TAIL-admitted 11
      (24L, "genuinely novel content row", "http://e.com/y"))
    q2.processAllAvailable(); q2.stop()
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at")
      .as[(Long, Option[String])].collect().toMap
    assert(verdicts == Map(1L -> None, 11L -> None,
      21L -> Some("url"), 22L -> Some("url"), 23L -> Some("exact"),
      24L -> None), s"got $verdicts")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 11L, 24L), s"corpus $corpus")
  }

  test("the complete r17 production loop in one foreachBatch body: " +
      "lines rung every tick, reconcileWindow on the cadence — " +
      "retirement DEFERS while the delta doc sits in the current " +
      "(uncommitted) tick, then converges and retires next window, " +
      "across a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_r17loop_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_r17loop_ckpt").toString
    val windows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[String, Long])]
    val in = MemoryStream[(Long, String)]
    def start() = in.toDS().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ext.IngestLadder.admitBatch(b, "doc_id", "text", None,
          Seq.empty, root, n = 3, tau = 0.5, batchId = id,
          lineDedup = true)
        if (id % 2 == 1)
          windows += id -> graft.ext.IncrementalDedup.reconcileWindow(
            spark, root, "doc_id", tau = 0.5, committedBelow = id,
            retire = true)
        ()
      }.start()
    // tick 0: doc 0 carries the nav line's FIRST occurrence (and keeps
    // it — so x and y shed theirs and their cleaned bodies sit at
    // J = 0.5 exactly); x admitted, y ~ x near-dropped (evidence)
    val q1 = start()
    in.addData(
      (0L, "nav menu here"),
      (1L, "nav menu here\nwa wb wc wd we wf wg wh"),
      (2L, "nav menu here\nwc wd we wf wg wh wi wj"))
    q1.processAllAvailable(); q1.stop()
    // restart; tick 1: z ~ y, z !~ x — ingest admits it (nav line cut
    // via the persisted line_index). The id-1 window reconciles: delta
    // {z}, but z lives in THIS tick's (uncommitted) partition — apply
    // skips it and retirement must DEFER, else y's evidence dies with
    // the chain unconverged
    val q2 = start()
    in.addData((11L, "nav menu here\nwe wf wg wh wi wj wk wl"))
    q2.processAllAvailable()
    // tick 2: novel filler; tick 3: novel + the id-3 window — batch 1
    // is now committed, the re-derived delta applies in full, THEN the
    // evidence retires
    in.addData((21L, "nav menu here\nxa xb xc xd xe xf"))
    q2.processAllAvailable()
    in.addData((31L, "nav menu here\nya yb yc yd ye yf"))
    q2.processAllAvailable(); q2.stop()
    val byId = windows.toMap
    assert(byId(1L)("delta_ids") == 1L && byId(1L)("verdicts") == 0L &&
      byId(1L)("evidence_partitions_retired") == 0L,
      s"window 1 must defer retirement: ${byId(1L)}")
    assert(byId(3L)("delta_ids") == 1L && byId(3L)("verdicts") == 1L &&
      byId(3L)("corpus") == 1L &&
      byId(3L)("evidence_partitions_retired") >= 1L,
      s"window 3 must converge then retire: ${byId(3L)}")
    spark.sharedState.cacheManager.clearCache()
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at")
      .as[(Long, Option[String])].collect().toMap
    assert(verdicts == Map(0L -> None, 1L -> None, 2L -> Some("near"),
      11L -> Some("near"), 21L -> None, 31L -> None), s"got $verdicts")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(corpus.keySet == Set(0L, 1L, 21L, 31L),
      s"corpus ${corpus.keySet}")
    // the lines rung ran every tick: only the FIRST occurrence keeps
    // the nav boilerplate, every later survivor carries a rebuilt body
    assert(corpus(0L) == "nav menu here" &&
      corpus(1L) == "wa wb wc wd we wf wg wh" &&
      corpus(21L) == "xa xb xc xd xe xf" &&
      corpus(31L) == "ya yb yc yd ye yf", s"rebuilt texts $corpus")
    val evIds =
      if (!graft.ext.Layout.hasParquetData(spark,
        s"$root/postings_dropped")) Set.empty[Long]
      else spark.read.parquet(s"$root/postings_dropped")
        .select("id").as[Long].collect().toSet
    assert(evIds.isEmpty, s"evidence retired after convergence: $evIds")
  }

  test("bloom contamination guard composes as a stateless streaming filter") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    // benchmark filter built ONCE in batch (the admission-time guard: no
    // state store, no shuffle — the filter rides into every micro-batch
    // as a reference object)
    val nBits = 1 << 16
    val bench = Seq("leaked question one", "leaked question two")
    val filter = bench.toDF("text")
      .agg(graft.functions.VectorFunctions.bloomAgg(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("text")), nBits, 5))
      .head.getAs[Array[Byte]](0)
    val in = MemoryStream[(Long, String)]
    val admitted = in.toDS().toDF("doc_id", "text")
      .filter(!graft.functions.VectorFunctions.bloomContains(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("text")), filter, nBits, 5))
    val q = admitted.writeStream.format("memory").queryName("bloomguard")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, "clean doc"), (2L, "leaked question one"))
    q.processAllAvailable()
    in.addData((3L, "leaked question two"), (4L, "another clean doc"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("bloomguard").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L),
      s"contaminated docs must be blocked in every micro-batch, got $ids")
  }

  test("streaming quota admits per stratum across batches, lowest ids first") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val out = StreamCompaction.quotaAdmit(
      in.toDS().toDF("src", "doc_id"), "src", "doc_id", quota = 3)
    val q = out.writeStream.format("memory").queryName("quota")
      .outputMode(OutputMode.Append).start()
    in.addData(("a", 5L), ("a", 1L), ("b", 9L))   // a: room 3 -> both in
    q.processAllAvailable()
    in.addData(("a", 7L), ("a", 2L), ("a", 3L), ("b", 8L)) // a: 1 slot left
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("quota")
      .as[StreamCompaction.AdmittedDoc].collect()
      .groupBy(_.stratum).view.mapValues(_.map(_.id).toSet).toMap
    assert(rows("a") == Set(5L, 1L, 2L), s"got $rows") // batch2 admits min id
    assert(rows("b") == Set(9L, 8L))
  }

  test("streaming KMV estimate equals the batch sketch over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val out = StreamCompaction.kmvDistinctStream(
      in.toDS().toDF("g", "v"), "g", "v", k = 32)
    val q = out.writeStream.format("memory").queryName("kmvstream")
      .outputMode(OutputMode.Update).start()
    in.addData((0 until 100).map(i => ("a", i.toLong)): _*)
    q.processAllAvailable()
    in.addData((50 until 250).map(i => ("a", i.toLong)): _*) // overlap + new
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kmvstream")
      .as[StreamCompaction.DistinctEstimate].collect()
      .maxBy(_.n_values)
    val batch = graft.ext.Sketch.kmvDistinct(
      spark.range(250).select(lit("a").as("g"), col("id").as("v")),
      Seq("g"), "v", k = 32)
      .select("est_distinct").as[Long].head()
    assert(streamed.n_values == 300, s"saw ${streamed.n_values} values")
    assert(streamed.est_distinct == batch,
      s"stream ${streamed.est_distinct} != batch $batch — sketch must merge exactly")
  }

  // Restart evidence: each stateful extension is stopped after batch 1
  // and restarted FROM ITS CHECKPOINT, so the second run's output can
  // only be correct if the keyed state survived the restart (RocksDB
  // provider, wired in Sessions/TestSession). The sink is foreachBatch —
  // the one production uses and the one that supports checkpoint
  // recovery (the memory sink refuses to recover) — collecting into a
  // per-run buffer; committed batches are not replayed, so run 2's
  // buffer holds only post-restart output.

  private def collectingSink[T](out: org.apache.spark.sql.Dataset[T],
                                ckpt: String, mode: OutputMode,
                                buf: scala.collection.mutable.ListBuffer[T]) =
    out.writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[T], _: Long) =>
        val rows = ds.collect()
        buf.synchronized { buf ++= rows }; ()
      }
      .option("checkpointLocation", ckpt).outputMode(mode).start()

  test("quotaAdmit state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_quota").toString
    val in = MemoryStream[(String, Long)]
    val out = StreamCompaction.quotaAdmit(
      in.toDS().toDF("src", "doc_id"), "src", "doc_id", quota = 3)
    val run1 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.AdmittedDoc]
    val q1 = collectingSink(out, ckpt, OutputMode.Append, run1)
    in.addData(("a", 1L), ("a", 2L)) // admits both; 1 slot left
    q1.processAllAvailable(); q1.stop()
    assert(run1.map(_.id).toSet == Set(1L, 2L))
    val run2 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.AdmittedDoc]
    val q2 = collectingSink(out, ckpt, OutputMode.Append, run2)
    in.addData(("a", 3L), ("a", 4L), ("a", 5L))
    q2.processAllAvailable(); q2.stop()
    // lost state would admit all three; surviving state admits min id only
    assert(run2.map(_.id).toSet == Set(3L),
      s"restart must resume the stratum counter: $run2")
  }

  test("kmvDistinctStream state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_kmv").toString
    val in = MemoryStream[(String, Long)]
    val out = StreamCompaction.kmvDistinctStream(
      in.toDS().toDF("g", "v"), "g", "v", k = 32)
    val run1 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.DistinctEstimate]
    val q1 = collectingSink(out, ckpt, OutputMode.Update, run1)
    in.addData((0 until 100).map(i => ("a", i.toLong)): _*)
    q1.processAllAvailable(); q1.stop()
    val run2 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.DistinctEstimate]
    val q2 = collectingSink(out, ckpt, OutputMode.Update, run2)
    in.addData((50 until 250).map(i => ("a", i.toLong)): _*)
    q2.processAllAvailable(); q2.stop()
    val streamed = run2.maxBy(_.n_values)
    val batch = graft.ext.Sketch.kmvDistinct(
      spark.range(250).select(lit("a").as("g"), col("id").as("v")),
      Seq("g"), "v", k = 32)
      .select("est_distinct").as[Long].head()
    // counts and sketch contents from before the restart must be present
    assert(streamed.n_values == 300, s"value count lost: ${streamed.n_values}")
    assert(streamed.est_distinct == batch,
      s"stream ${streamed.est_distinct} != batch $batch after restart")
  }

  test("firstPerFingerprint state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_fp").toString
    val in = MemoryStream[(Long, String)]
    val out = StreamCompaction.firstPerFingerprint(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val run1 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.DedupedDoc]
    val q1 = collectingSink(out, ckpt, OutputMode.Append, run1)
    in.addData((1L, "the quick fox"), (3L, "other doc"))
    q1.processAllAvailable(); q1.stop()
    assert(run1.map(_.id).toSet == Set(1L, 3L))
    val run2 = scala.collection.mutable.ListBuffer.empty[StreamCompaction.DedupedDoc]
    val q2 = collectingSink(out, ckpt, OutputMode.Append, run2)
    // normalization-equal duplicate of a pre-restart doc + a new doc
    in.addData((9L, "THE  quick fox"), (4L, "brand new content"))
    q2.processAllAvailable(); q2.stop()
    assert(run2.map(_.id).toSet == Set(4L),
      s"restart must keep seen fingerprints (9 is a pre-restart dup): $run2")
  }

  test("dropDuplicatesWithinWatermark suppresses exact redeliveries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[CdcEvent]
    val out = StreamCompaction.dedupeWithinWatermark(in.toDS().toDF())
    val q = out.writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    in.addData(ev("k1", 100, 0, "a"), ev("k1", 100, 0, "a"))
    q.processAllAvailable()
    in.addData(ev("k1", 100, 0, "a")) // redelivery in the next batch
    q.processAllAvailable()
    q.stop()
    assert(spark.table("deduped").count() == 1)
  }

  test("streaming sessionization: closed sessions equal the batch session_window over the same events") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{session_window, timestamp_millis, count, lit}
    implicit val sq = spark.sqlContext
    val min = 60000L
    val in = MemoryStream[(Long, Long)] // (user, ts_ms)
    val events = in.toDF().toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = StreamCompaction.sessionizeStream(events, "ts", "user_id",
      gap = "30 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    // u1: two bursts 40 min apart -> two sessions; a 30-min-exactly gap
    // MERGES (boundary semantics); u2: one session
    val data = Seq(
      (1L, 0L), (1L, 10 * min), (1L, 40 * min),     // merges: 30-min gap
      (1L, 90 * min),                               // 50 min later: new
      (2L, 5 * min), (2L, 20 * min))
    in.addData(data: _*)
    q.processAllAvailable()
    // nothing can close until the watermark passes session end + gap
    // — push it far past everything with a late marker event
    in.addData((99L, 1000 * min))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    // batch form over the SAME closed events
    val batch = data.toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start"),
        col("session_window.end"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(batch.subsetOf(streamed), s"stream $streamed vs batch $batch")
    // the 30-min-exact gap merged: u1's first session spans 0..40min+gap
    assert(streamed.exists { case (u, s, e, n) =>
      u == 1L && s == 0L && n == 3L })
    assert(streamed.count(_._1 == 1L) == 2, "u1 has exactly two sessions")
  }
}
