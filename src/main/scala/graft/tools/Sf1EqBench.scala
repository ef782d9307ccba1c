package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The committed sf1-equivalent benchmark artifact (`BENCH_sf1eq.json`)
  * for the composite family — prep v1/v2/v3/v4 — the four envelope
  * round-trips, the six-gate admission tick, the suffix-order LCP
  * pass, and (r12) the steady-state containment probe tick: the
  * queries whose 100 TB posture claims ride the ScaleBench curves but
  * whose perf gate only ran at sf0.1.
  *
  * Protocol = the round bench's own ([[graft.Bench]]): per (query,
  * scale) one cold run + `WarmRuns` warm runs, `[median, spread]` of
  * the warm runs, caches released between queries. Both a 1× point
  * (the sf0.1-equivalent size) and a 10× point (the sf1-equivalent
  * size) are measured IN THE SAME RUN, so the 2× perf budget is
  * self-contained: `budget_ok = median(10×) ≤ 2 × 10 × median(1×)` —
  * no cross-file, cross-machine comparison needed.
  *
  * Inputs:
  *  - envelope queries run the DECLARED query functions
  *    ([[graft.Queries]] `q_envelope_{pg,mongo,dms,dlq}`) unchanged,
  *    pointed at a directory holding the real sf0.1 `events` table (1×)
  *    and a 10× replica-union of it. Replicas offset `event_id` by a
  *    multiple of lcm(50, 97) = 4850 — the DLQ corruption rule
  *    (`% 50`) and the DMS control-record rule (`% 97`) keep their
  *    exact per-replica fractions — and offset `user_id` past its max,
  *    so compaction GROUP COUNT scales 10× at constant group size
  *    (the sf1 shape: more users, not deeper histories).
  *  - prep v2/v3 reuse [[ScaleBench]]'s synthetic corpus and chain ops
  *    verbatim (`prepCompositeOp` / `prepCompositeV3Op`, dials chosen
  *    there to keep every rung binding on hash-random text, selection
  *    k ∝ n).
  *  - prep v1 ([[prepCompositeV1Op]]) needs language + handcrafted
  *    quality gates that CAN'T bind on ScaleBench's stopword-free
  *    hash-random vocabulary, so it runs over [[synthDocsEn]]: same
  *    shape/planting, but every 6th token is a real English stopword
  *    (lang-ID admits, stopword ratio 1/6 > the 1/8 gate) and every
  *    17th document is punctuation gibberish (quality 50 < 55 AND
  *    lang 'und' — both gates stay binding at every scale).
  *
  * Run: `sbt "runMain graft.tools.Sf1EqBench"` (optional arg: work
  * root, default /tmp/graft-sf1eq). Markdown progress on stderr, ONE
  * JSON line on stdout — redirect to `BENCH_sf1eq.json`.
  */
object Sf1EqBench {

  /** English-ish synthetic corpus for the v1 chain: 60 tokens over the
    * 2k hash vocabulary, every 6th token a real stopword (hash-picked
    * from a fixed 16-word list), `id % 20 == 19` near-copies its
    * predecessor with the head token mutated (the ScaleBench planting),
    * and `id % 17 == 13` is a punctuation-gibberish document that both
    * the language gate and the quality gate reject — so v1's gates
    * stay BINDING (drop ~6%) at every scale instead of admitting 100%.
    */
  def synthDocsEn(spark: SparkSession, n: Long): DataFrame = {
    // all 16 ∈ TextOps.Stopwords, so every stopword slot COUNTS toward
    // the lang-ID and quality ratios (a non-member would make admission
    // depend on the hash draw)
    val stops = Seq("the", "and", "of", "to", "in", "a", "is", "that",
      "it", "for", "on", "or", "with", "as", "at", "by")
    val stopArr = array(stops.map(lit): _*)
    val seed = when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(
      col("id").as("doc_id"),
      pmod(hash(col("id")), lit(5)).cast("string").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)), i => {
        val h = pmod(hash(seed, i), lit(2000))
        val word = when(i % 6 === 0,
            element_at(stopArr, pmod(hash(seed, i), lit(16)).cast("int") + 1))
          .otherwise(concat(lit("w"), h))
        val tok = when(col("id") % 17 === 13, concat(lit("#$"), h))
          .otherwise(word)
        when(col("id") % 20 === 19 && i === 0,
          concat(lit("mut"), col("id"))).otherwise(tok)
      })).as("text"))
  }

  /** q_corpus_prep's exact chain over a synthetic corpus — the SAME
    * code path as the declared query ([[graft.ext.Corpus.prepV1]]:
    * one-tokenize scoring → language + quality gate → exact-dedup
    * survivors → per-source hash-order quota (constant output —
    * binding at every scale) → per-source token budgets).
    */
  def prepCompositeV1Op(docs: DataFrame): DataFrame =
    graft.ext.Corpus.prepV1(docs, "doc_id", "source", "text", quota = 30)

  /** `k` replicas of the sf-dir events table: replica r offsets
    * `event_id` by r · (max_id rounded up to a multiple of 4850 =
    * lcm(50, 97)) and `user_id` by r · (max_user + 1). Everything else
    * — per-key history depth, type mix, timestamp spread, the %50 DLQ
    * and %97 control fractions — is replica-invariant.
    */
  def scaledEvents(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val mx = ev.agg(max(col("event_id")), max(col("user_id"))).collect()(0)
    val idStride = ((mx.getLong(0) / 4850) + 1) * 4850
    val userStride = mx.getLong(1) + 1
    (0 until k).map { r =>
      ev.select(
        (col("event_id") + lit(r * idStride)).as("event_id"),
        (col("user_id") + lit(r * userStride)).as("user_id"),
        col("event_type"), col("ts"), col("value"), col("props"))
    }.reduce(_ union _)
  }

  /** The six-gate streaming admission tick ([[graft.pipeline
    * .QualityAdmission]]) as an sf1-eq op: a compacted-batch-shaped
    * relation over [[synthDocsEn]] (4% deletes, 2% NULL-text rows — the
    * bypass paths stay on), scored against frozen tables built ONCE
    * (weights, DSIR λ, unigram LM) with every gate configured
    * (quality, DSIR, Gopher shape, repetition, surprisal, C4). Docs get
    * a three-sentence terminal suffix so the C4 line rules keep rather
    * than vacuously empty the page — every gate does full work. The op
    * runs the production hook (`fromConfig` admit), which eagerly
    * materializes its persisted output INSIDE the timed region — tick
    * cost is what's measured, exactly as the pipeline pays it.
    */
  def admissionHook(spark: SparkSession, root: String):
      (DataFrame, Long) => DataFrame = {
    import graft.config.AdmissionConf
    val ref = synthDocsEn(spark, 500L)
    graft.ext.Corpus.dsirLambda(
        ref.filter(col("doc_id") < 250),
        ref.filter(col("doc_id") >= 250), "doc_id", "text", nBuckets = 64)
      .write.mode("overwrite").parquet(s"$root/frozen/lambda")
    graft.ext.Corpus.unigramLm(ref, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/frozen/lm")
    spark.range(64).select(col("id").as("bucket"),
        (pmod(hash(col("id")), lit(21)) - 10).cast("long").as("w"))
      .write.mode("overwrite").parquet(s"$root/frozen/weights")
    val cfg = AdmissionConf(
      text_expr = "text",
      weights_path = s"$root/frozen/weights",
      n_buckets = 64, thr_milli = -100000L, min_words = 50,
      repetition = true,
      dsir_lambda_path = Some(s"$root/frozen/lambda"),
      dsir_thr_x10k = -1000000L,
      lm_path = Some(s"$root/frozen/lm"),
      max_mean_surprisal_x10k = Some(200000L),
      c4_rules = true, c4_bad_words = Some(List("verybadword")))
    graft.pipeline.QualityAdmission.fromConfig(spark, cfg, "D")
  }

  /** Compacted-batch shape over [[synthDocsEn]] for the admission op. */
  def admissionBatch(docs: DataFrame): DataFrame =
    docs.select(
      lit("bench_db").as("db_name"), lit("documents").as("tb_name"),
      col("doc_id").cast("string").as("pk"),
      when(col("doc_id") % 25 === 0, lit("D")).otherwise(lit("U")).as("op"),
      when(col("doc_id") % 50 === 1, lit(null).cast("string"))
        .otherwise(concat(col("text"),
          lit(". first tail period. second tail period. third one.")))
        .as("text"))

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-sf1eq")
    // optional 2nd arg (local iteration only): comma-separated op names
    // to time, instead of the full surface — the Verify `only` shape
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors())))
    val scales = Seq(1, 10)
    val baseDocs = 5000L // ScaleBench's sf0.1-equivalent corpus size

    // ---- materialize inputs (generation cost not measured) ----------
    for (s <- scales) {
      scaledEvents(spark, sfDir, s).write.mode("overwrite")
        .parquet(s"$root/x$s/events.parquet")
      ScaleBench.synthDocs(spark, baseDocs * s).write.mode("overwrite")
        .parquet(s"$root/docs_x$s")
      synthDocsEn(spark, baseDocs * s).write.mode("overwrite")
        .parquet(s"$root/docsEn_x$s")
      // r13 label-audit fixture: ScaleBench embeddings + a 16-class
      // label derived from the id (planted near-copies share labels)
      ScaleBench.synthEmbeddings(spark, 2000L * s)
        .withColumn("label", pmod(col("vec_id"), lit(16)).cast("int"))
        .write.mode("overwrite").parquet(s"$root/vecs_x$s")
    }
    def docs(s: Int) = spark.read.parquet(s"$root/docs_x$s")
    def docsEn(s: Int) = spark.read.parquet(s"$root/docsEn_x$s")
    def vecs(s: Int) = spark.read.parquet(s"$root/vecs_x$s")

    for (s <- scales)
      admissionBatch(docsEn(s)).write.mode("overwrite")
        .parquet(s"$root/adm_x$s")
    val admit = admissionHook(spark, root)
    def admBatch(s: Int) = spark.read.parquet(s"$root/adm_x$s")

    // steady-state containment inputs: the doc_id % 11 batch/corpus
    // split over the synthetic corpus (the gate's incremental shape);
    // the postings index is written ONCE per scale — admission-time
    // cost, amortized over every later tick, exactly like the frozen
    // admission tables above — and each timed run reads it back from
    // parquet (the real steady-state IO path)
    for (s <- scales) {
      docs(s).filter(col("doc_id") % 11 === 0)
        .write.mode("overwrite").parquet(s"$root/contbatch_x$s")
      graft.ext.Dedup.shinglePostings(
          docs(s).filter(col("doc_id") % 11 =!= 0), "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$root/contpost_x$s")
    }

    // r16 steady-state LADDER-PROBE inputs: a pre-populated composed
    // ladder (batch 0 = the doc_id % 11 =!= 0 corpus slice), one root
    // per variant — plain, and with bloom sidecars built at the
    // maintenance watermark. The timed tick (batch 1, the % 11 === 0
    // slice) probes the STORED url/fp/postings state; ~6% of batch
    // urls re-crawl a corpus address (the doc_id % 16 = 15 rows point
    // at their predecessor's page, which lives in the corpus slice).
    // Index+sidecar builds are admission/maintenance-time cost,
    // amortized over every later tick — not measured.
    def ladderUrls(d: DataFrame): DataFrame =
      d.withColumn("url", concat(lit("http://b.com/p/"),
        when(col("doc_id") % 16 === 15, col("doc_id") - 1)
          .otherwise(col("doc_id")).cast("string")))
    for (s <- scales; variant <- Seq("plain", "bloom")) {
      val lroot = s"$root/ladprobe_${variant}_x$s"
      graft.ext.IngestLadder.admitBatch(
        ladderUrls(docs(s).filter(col("doc_id") % 11 =!= 0)),
        "doc_id", "text", Some("url"), Nil, lroot, n = 3, tau = 0.25,
        batchId = 0L)
      if (variant == "bloom")
        graft.ext.LadderBloom.buildAll(spark, lroot, committedBelow = 1L)
    }

    // r17 lines-rung inputs: the synthetic corpus wrapped in shared
    // nav/footer boilerplate lines; batch 0 (the % 11 =!= 0 slice)
    // seeds line_index with every first occurrence, so the timed tick
    // cuts both boilerplate lines from every batch doc against the
    // STORED index and rebuilds the text before the deeper rungs
    def lineWrapped(d: DataFrame): DataFrame =
      d.withColumn("text", concat(lit("shared nav menu alpha\n"),
        col("text"), lit("\nfooter terms of service")))
    for (s <- scales)
      graft.ext.IngestLadder.admitBatch(
        lineWrapped(docs(s).filter(col("doc_id") % 11 =!= 0)),
        "doc_id", "text", None, Seq.empty, s"$root/linerung_x$s",
        n = 3, tau = 0.25, batchId = 0L, lineDedup = true)

    // r17 reconciliation inputs: the q_reladder divergence corpus at
    // scale — every doc triple (x, y, z = roles 0, 1, 2 of group
    // id div 3) carries overlapping 8-word texts; ticks land roles 0-1
    // then role 2, so the stored state holds ~n/3 admitted-but-
    // reconcilable docs and ~n/3 dropped-evidence docs, BOTH scaling
    // 10× with the corpus (the evidence-volume axis of the reconcile
    // cost claim). `reconroot` is probed read-only by reconcile_near;
    // `applysnap` is the pristine copy reconcile_apply restores from
    // before every timed run (apply mutates its root)
    def reconDocs(s: Int): DataFrame = spark.range(baseDocs * s).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(col("id") % 3 * 2, col("id") % 3 * 2 + 7),
        k => concat(lit("g"), expr("id div 3").cast("string"),
          lit("w"), k.cast("string")))).as("text"))
    def copyTree(src: String, dst: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val sp = new org.apache.hadoop.fs.Path(src)
      val dp = new org.apache.hadoop.fs.Path(dst)
      val fs = sp.getFileSystem(conf)
      fs.delete(dp, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, false, conf)
    }
    for (s <- scales) {
      val rroot = s"$root/reconroot_x$s"
      val rd = reconDocs(s)
      graft.ext.IngestLadder.admitBatch(
        rd.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", None, Nil,
        rroot, n = 3, tau = 0.5, batchId = 0L)
      graft.ext.IngestLadder.admitBatch(
        rd.filter(col("doc_id") % 3 === 2), "doc_id", "text", None, Nil,
        rroot, n = 3, tau = 0.5, batchId = 1L)
      copyTree(rroot, s"$root/applysnap_x$s")
    }

    // r18 incremental-reconcile inputs: the recon corpus CONVERGED
    // (reconcile + apply + recorded watermark at 2), then ONE
    // FIXED-SIZE tick (500 docs at every scale) whose docs chain into
    // the corpus only through APPLY-RETIRED evidence (words 6-13 of
    // group g overlap the reconciled role-2 doc at J = 0.5 and nothing
    // admitted). The timed op is reconcileNearIncremental at the
    // recorded watermark: its frontier is the 500-doc tick regardless
    // of corpus scale, so the 1×/10× ratio measures the
    // frontier-not-corpus claim (the full reconcile_near row above
    // scales with the corpus; this one should stay ≈ flat — only the
    // per-hop index scans grow)
    for (s <- scales) {
      val iroot = s"$root/reconincroot_x$s"
      val rd = reconDocs(s)
      graft.ext.IngestLadder.admitBatch(
        rd.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", None, Nil,
        iroot, n = 3, tau = 0.5, batchId = 0L)
      graft.ext.IngestLadder.admitBatch(
        rd.filter(col("doc_id") % 3 === 2), "doc_id", "text", None, Nil,
        iroot, n = 3, tau = 0.5, batchId = 1L)
      graft.ext.IncrementalDedup.applyReconcile(spark, iroot, "doc_id",
        graft.ext.IncrementalDedup.reconcileNear(spark, iroot, tau = 0.5),
        committedBelow = 2L, recordWatermark = true)
      val tick = spark.range(500).select(
        (col("id") + 10000000L).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(6), lit(13)),
          k => concat(lit("g"), col("id").cast("string"),
            lit("w"), k.cast("string")))).as("text"))
      graft.ext.IngestLadder.admitBatch(tick, "doc_id",
        "text", None, Nil, iroot, n = 3, tau = 0.5, batchId = 2L)
      spark.catalog.clearCache()
    }

    // r16 domain-quota inputs: stored per-registrant counts from a
    // batch-0 tick over the corpus slice (~997 domains); the timed
    // tick charges batch docs against the persistent counts
    def quotaUrls(d: DataFrame): DataFrame =
      d.withColumn("url", concat(lit("http://d"),
        pmod(col("doc_id"), lit(997)).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string")))
    for (s <- scales)
      graft.ext.IncrementalDedup.admitBatchDomainQuota(
        quotaUrls(docs(s).filter(col("doc_id") % 11 =!= 0)),
        "doc_id", "url", s"$root/domquota_x$s", k = 5, batchId = 0L)

    // r19 run_ingest_loop inputs: the REAL production entry point
    // ([[RunIngest.start]]) over a 4-file parquet stream of the ladder
    // corpus (~6% url re-crawls, planted near-copies), one tick per
    // file (maxFilesPerTrigger=1), a maintenance window every 2 ticks
    // (incremental reconcile + refund + lag-1 retirement + fold +
    // sidecars + persisted monitor). The timed op runs the WHOLE loop
    // from a pristine root+checkpoint (restoreBefore wipes them): per-
    // run wall = 4 ticks + 2 windows through the deployed wiring.
    for (s <- scales) {
      val base = s"$root/ringest_x$s"
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val d = ladderUrls(docs(s))
      for (t <- 0 until 4)
        d.filter(pmod(col("doc_id"), lit(4)) === t).coalesce(1)
          .write.mode("append").parquet(s"$base/src")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/ringest_cfg_x$s.json"),
        s"""{
           |  "source_format": "parquet",
           |  "source_path": "$base/src",
           |  "source_options": {"maxFilesPerTrigger": "1"},
           |  "source_schema_ddl": "doc_id LONG, text STRING, url STRING",
           |  "id_col": "doc_id", "text_col": "text", "url_col": "url",
           |  "root": "$base/run/root",
           |  "checkpoint_location": "$base/run/ckpt",
           |  "shingle_n": 3, "near_tau_x10k": 2500,
           |  "domain_quota": 1000, "maintain_every": 2,
           |  "retire_evidence": true, "retire_lag_windows": 1,
           |  "refund_quota": true, "build_sidecars": true,
           |  "monitor_conf": {"mu_bp": 0, "kappa_bp": 5000,
           |    "h_bp": 1000000}
           |}""".stripMargin)
    }

    val envelope = Seq(
      graft.Queries.qEnvelopePg, graft.Queries.qEnvelopeMongo,
      graft.Queries.qEnvelopeDms, graft.Queries.qEnvelopeDlq)
    val ops: Seq[(String, Int => DataFrame)] =
      envelope.map(q => q.name -> ((s: Int) => q.fn(spark, s"$root/x$s"))) ++
      Seq[(String, Int => DataFrame)](
        "q_corpus_prep" -> (s => prepCompositeV1Op(docsEn(s))),
        "q_corpus_prep_v2" -> (s => ScaleBench.prepCompositeOp(spark, docs(s))),
        "q_corpus_prep_v3" -> (s => ScaleBench.prepCompositeV3Op(spark, docs(s),
          kSel = 600 * s)),
        // v4 = policy-filter -> exact cut on survivors -> byte packing;
        // docsEn: the stopword-bearing corpus the Gopher gate can pass,
        // with planted near-copies so the exact cut binds
        "q_corpus_prep_v4" -> (s => graft.ext.Corpus.prepV4(docsEn(s),
          "doc_id", "text", stopwords = graft.ext.TextOps.Stopwords)),
        // the six-gate streaming admission tick: fromConfig hook, all
        // work inside the timed call (it materializes its output)
        "admission_tick" -> (s => admit(admBatch(s), 0L)),
        // suffix-order LCP statistics: ONE range sort of cap-byte
        // suffix slices (shuffle volume = cap × corpus bytes — the
        // honest suffix-ORDER price, documented in SCALE.md)
        "dedup_lcp_longest" -> (s => graft.ext.Dedup.longestDupPerDoc(
          docs(s), "doc_id", "text", cap = 128)),
        // the steady-state containment tick (r12): batch postings
        // tokenized per tick, corpus side READ from the stored index —
        // both batch AND index scale 10× (a 10× pipeline has 10×
        // batches against a 10× admitted corpus), so the budget line
        // checks the full per-tick shape, not just one side
        "containment_probe_tick" -> (s => graft.ext.Dedup.containmentProbe(
          graft.ext.Dedup.shinglePostings(
            spark.read.parquet(s"$root/contbatch_x$s"), "doc_id", "text", 3),
          spark.read.parquet(s"$root/contpost_x$s"), tau = 0.5)),
        // the corpus→training-artifact capstone (r12): execute a
        // 2.5/0.5/1.0-epoch mix over four uniform sources — source "3"
        // is deliberately UNRATED, exercising the out-of-mix drop path
        // — then shard the EXPANDED stream. Expected expansion is
        // (2.5+0.5+1.0+0)/4 = 1.0× the corpus, so the cost is ONE
        // distributed rank of ~n rows; the budget line checks the
        // whole export path stays rank-bound as data scales
        "training_export" -> (s => graft.ext.Splits.shardExport(
          graft.ext.Corpus.expandEpochs(
            docs(s).withColumn("source",
              pmod(col("doc_id"), lit(4)).cast("string")),
            "source", Seq("doc_id"),
            Seq("0" -> 2500000L, "1" -> 500000L, "2" -> 1000000L)),
          Seq("doc_id", "epoch_copy"), shardSize = 1024L)),
        // r13: char-level entropy — the round's heaviest new scan
        // shape (per-char explode); the shuffle carries (id, char,
        // count), bounded by each doc's alphabet after the map-side
        // collapse, so the budget line checks the explode stays
        // scan-proportional
        "char_entropy" -> (s => graft.ext.TextOps.charEntropy(
          docs(s), "doc_id", "text")),
        // r13: the exact prefix-filtered Jaccard route — the budget
        // line checks the df-ordered prefix keeps candidate volume
        // linear on the planted corpus as both sides scale 10×
        "dedup_jaccard_prefix" -> (s => graft.ext.Dedup.jaccardPairsPrefix(
          docs(s), "doc_id", "text", n = 3, tau = 0.25)),
        // r13: the full dup-graph chain (pairs → CC + integer-micro
        // PageRank → centrality survivors) — all steps keyed by node
        // id, graph size ∝ planted pairs (linear), so the budget line
        // checks the iteration chain stays graph-proportional
        "graph_central" -> { s =>
          val pairs = graft.ext.Dedup.jaccardPairs(
            docs(s), "doc_id", "text", n = 3, tau = 0.25)
          graft.ext.Graph.centralSurvivors(
            graft.ext.Dedup.connectedComponents(pairs),
            graft.ext.Graph.pageRank(pairs, iters = 5))
        },
        // r13/r14: full-corpus kNN label audit on the cell path, run at
        // the scale contract the scaladoc mandates — nCells ∝ √n (the
        // true IVF rule: O(√n) driver collect, n·√n assignment) with
        // maxCellPool making the within-cell join O(n·pool) linear
        "label_agreement_cells" -> (s => graft.ext.Similarity
          .labelAgreementCells(vecs(s), "vec_id", "embedding", "label",
            k = 5, nCells = (16 * math.sqrt(s.toDouble)).round.toInt,
            maxCellPool = 200)),
        // r14: learned lang-id, train+predict in one pass — the budget
        // line checks the char-trigram explode + broadcast-model
        // scoring stays scan-proportional (model ≤ nBuckets·L rows at
        // any corpus size; labels synthetic — cost, not accuracy,
        // is measured here)
        "lang_id_model" -> { s =>
          val d = docsEn(s).withColumn("lang",
            pmod(hash(col("doc_id")), lit(5)).cast("string"))
          graft.ext.Corpus.langIdPredict(d, "doc_id", "text",
            graft.ext.Corpus.langIdTrain(d, "text", "lang"))
        },
        // r14: unigram tokenizer seed + Viterbi fertility — the budget
        // line checks the substring-seed shuffle and the native encode
        // scan stay corpus-proportional (vocab is a fixed-size
        // reference object at every scale)
        "unigram_fertility" -> (s => graft.ext.Unigram.fertility(
          docs(s), "doc_id", "text",
          graft.ext.Unigram.seedVocab(docs(s), "text"))),
        // r14: span-level decontamination — corpus scales 10×, the
        // benchmark suite stays FIXED (doc_id < 500: eval suites don't
        // grow with the crawl), so the budget line checks the claim the
        // oracle can't: corpus-side window scan + (fp,id,p) shuffle
        // scale with the corpus while the benchmark windows broadcast
        "decontam_spans" -> (s => graft.ext.Corpus.decontaminateSpans(
          docs(s).filter(col("doc_id") >= 500),
          docs(s).filter(col("doc_id") < 500),
          "doc_id", "text", winBytes = 40, anchorMod = 8,
          dropAtBp = 2500)),
        // r14: winnowing fingerprints — same digest-only shuffle shape
        // as the CDC anchors at ~2/(k+1) density; the budget line
        // checks the native rightmost-min scan stays scan-proportional
        "dedup_substr_winnow" -> (s => graft.ext.Dedup
          .substringDupSpansWinnowed(docs(s), "doc_id", "text",
            winBytes = 40, k = 15)),
        // r15: the two-pass winnowed rewrite — sparse pass over
        // everything, every-offset pass over the flagged minority (the
        // planted ~5% near-copies carry >= win+k-1 shared suffixes);
        // the budget line checks the candidate restriction actually
        // bounds pass-2 cost as the corpus scales
        "substr_rewrite_winnow" -> (s => graft.ext.Dedup
          .exactSpanRewriteWinnowed(docs(s), "doc_id", "text",
            minLen = 40, k = 15)),
        // r14: the sequential dedup ladder (url -> exact -> near), each
        // rung over the previous rung's survivors — urls planted so the
        // url rung drops ~6% before any text is read; the budget line
        // checks the survivor-shrink claim (the expensive near rung
        // sees the corpus after the cheap rungs)
        "dedup_ladder" -> (s => graft.ext.Dedup.ladder(
          docs(s).withColumn("url", concat(lit("http://b.com/p/"),
            when(col("doc_id") % 16 === 15, col("doc_id") - 1)
              .otherwise(col("doc_id")).cast("string"))),
          "doc_id", "text", urlCol = Some("url"), n = 3, tau = 0.25)),
        // r15: the COMPOSED admission-ladder tick against its persistent
        // indexes — the foreachBatch body a 100 TB crawl actually runs.
        // batchId 0 every run: the probes exclude the tick's own
        // partition, so each timed run does the full three-rung pass +
        // the index/corpus/verdict writes (the real per-tick IO), with
        // stable input state across runs
        "admission_ladder_tick" -> (s => graft.ext.IngestLadder.admitBatch(
            docs(s).withColumn("url", concat(lit("http://b.com/p/"),
              when(col("doc_id") % 16 === 15, col("doc_id") - 1)
                .otherwise(col("doc_id")).cast("string"))),
            "doc_id", "text", Some("url"), Nil, s"$root/ladder_x$s",
            n = 3, tau = 0.25, batchId = 0L)),
        // r16: the UNIFIED ingest tick — url + exact + three doc-local
        // quality gates + near in ONE pass over one tokenize cache,
        // writing all six subtrees; same stable-state protocol as the
        // admission tick (own-partition-excluded probes, batchId 0)
        "ingest_ladder_tick" -> { s =>
          val gates: Seq[graft.ext.IngestLadder.Gate] = Seq(
            "quality" -> (c => c.filter(graft.ext.TextOps.qualityFromCounts(
              graft.ext.TextOps.nTokens(col("raw")),
              graft.ext.TextOps.nStopwords(col("raw")),
              graft.ext.TextOps.nPunct(col("raw")),
              length(col("raw"))) >= 0).select(col("id"))),
            // the NATIVE repetition battery (ngram_units expression) —
            // the production form frozenGates composes; the UDF
            // formulation it replaced dominated this row's first
            // measurement
            "repetition" -> (c => graft.ext.Corpus.repetitionSignalsOn(c,
                topNs = Seq(2, 3, 4), dupNs = Seq(5, 6, 7, 8, 9, 10),
                topBpMax = Map(2 -> 9000L, 3 -> 9000L, 4 -> 9000L),
                dupBpMax = (5 to 10).map(_ -> 9000L).toMap)
              .filter(col("keep")).select(col("id"))),
            "lang" -> (c => c.filter(
              graft.ext.TextOps.langIdHeuristic(col("raw")) =!= "zz")
              .select(col("id"))))
          graft.ext.IngestLadder.admitBatch(
            docs(s).withColumn("url", concat(lit("http://b.com/p/"),
              when(col("doc_id") % 16 === 15, col("doc_id") - 1)
                .otherwise(col("doc_id")).cast("string"))),
            "doc_id", "text", Some("url"), gates, s"$root/ingest_x$s",
            n = 3, tau = 0.25, batchId = 0L)
        },
        // r16 (r15 verdict #5): the score-quality card — the budget
        // line checks the distinct-score collapse + distributed-rank
        // claim: 1000 distinct scores at every corpus size, so the
        // per-score aggregate shrinks the rank input by n/1000 and the
        // bin pass is one distributed rank, no value buffering
        "score_card" -> (s => graft.ext.Corpus.scoreCard(
          spark.range(baseDocs * 40 * s).select(col("id"),
            pmod(hash(col("id")), lit(1000)).cast("long").as("sc"),
            (pmod(hash(col("id"), lit(1)), lit(3)) === 0).as("y")),
          "sc", "y", "id", nBins = 10)),
        "score_thresholds" -> (s => graft.ext.Corpus.scoreThresholds(
          spark.range(baseDocs * 40 * s).select(col("id"),
            pmod(hash(col("id")), lit(1000)).cast("long").as("sc"),
            (pmod(hash(col("id"), lit(1)), lit(3)) === 0).as("y")),
          "sc", "y", "id", nBins = 10)),
        "score_calibration" -> (s => graft.ext.Corpus.scoreCalibration(
          spark.range(baseDocs * 40 * s).select(col("id"),
            pmod(hash(col("id")), lit(10001)).cast("long").as("p"),
            (pmod(hash(col("id"), lit(1)), lit(3)) === 0).as("y")),
          "p", "y", "id", nBins = 10)),
        // r16 (r15 verdict #5): the decontamination matrix — three
        // benchmark-broadcast passes against a FIXED benchmark slice
        // while the corpus scales 10×; corpus text never shuffles
        "decontam_matrix" -> (s => graft.ext.Corpus.decontamMatrix(
          docs(s).filter(col("doc_id") >= 500),
          docs(s).filter(col("doc_id") < 500),
          "doc_id", "text", n = 2)),
        // r16: the decontamination REWRITE (winnowed screen) — the
        // budget line checks the two-pass contract against a FIXED
        // benchmark: the winnow screen reads everything at ~2/(k+1)
        // density, the every-offset cut pays only for docs sharing a
        // winnow fingerprint with the benchmark
        "decontam_rewrite_winnow" -> (s => graft.ext.Corpus
          .decontaminateRewriteWinnowed(
            docs(s).filter(col("doc_id") >= 500),
            docs(s).filter(col("doc_id") < 500),
            "doc_id", "text", winBytes = 40, k = 15)),
        // r16 (r15 verdict #5): k-best sampled segmentation — the
        // budget line checks the per-word k-best DP (a codegen'd
        // expression over the distinct-word relation) stays
        // corpus-proportional with a fixed-size vocab
        "unigram_sample" -> (s => graft.ext.Unigram.fertilitySampled(
          docs(s), "doc_id", "text",
          graft.ext.Unigram.seedVocab(docs(s), "text"),
          nBest = 3, alpha10k = 5000L, seed = "r16")),
        // r16 (r15 verdict #5): registered-domain rollup, scalar subset
        // AND full-PSL rules-table forms — page-key shuffle, host
        // rollup, then a host-cardinality eTLD+1 aggregate (plus the
        // broadcast rule join in the table form)
        "url_domain_card" -> (s => graft.ext.Dedup.urlRegisteredDomainCard(
          docs(s).withColumn("url", concat(lit("http://s"),
            pmod(col("doc_id"), lit(8)).cast("string"), lit(".farm"),
            pmod(col("doc_id"), lit(2)).cast("string"),
            lit(".co.uk/p/"), col("doc_id").cast("string"))),
          "doc_id", "url")),
        "url_domain_card_psl" -> { s =>
          import spark.implicits._
          graft.ext.Dedup.urlRegisteredDomainCardRules(
            docs(s).withColumn("url", concat(lit("http://s"),
              pmod(col("doc_id"), lit(8)).cast("string"), lit(".farm"),
              pmod(col("doc_id"), lit(2)).cast("string"),
              lit(".co.uk/p/"), col("doc_id").cast("string"))),
            "doc_id", "url",
            (graft.ext.Dedup.publicSuffixes ++ Seq("*.ck", "!www.ck"))
              .toDF("rule"))
        },
        // r16 (r15 verdict #5): the steady-state Jaccard probe tick —
        // batch postings tokenized per tick, corpus side READ from the
        // stored index (the same two-sided 10× scaling contract as
        // containment_probe_tick)
        "jaccard_probe_tick" -> (s => graft.ext.Dedup.jaccardProbe(
          graft.ext.Dedup.shinglePostings(
            spark.read.parquet(s"$root/contbatch_x$s"), "doc_id", "text", 3),
          spark.read.parquet(s"$root/contpost_x$s"), tau = 0.25)),
        // r16: the composed ladder tick against PRE-POPULATED indexes —
        // plain vs bloom-sidecar probes. Verdicts are identical by
        // construction (sidecars are exact overall; spec + q_ladder_
        // bloom pin it); the pair of rows measures what the pruning is
        // FOR: the batch side of each covered probe shrinks to the
        // ~6% re-crawls (+ FPs), the rest never join. batchId 1 every
        // run — probes exclude the tick's own partition, so repeated
        // runs see stable index state and overwrite in place.
        "ladder_probe_tick" -> (s => graft.ext.IngestLadder.admitBatch(
            ladderUrls(docs(s).filter(col("doc_id") % 11 === 0)),
            "doc_id", "text", Some("url"), Nil, s"$root/ladprobe_plain_x$s",
            n = 3, tau = 0.25, batchId = 1L)),
        "ladder_probe_tick_bloom" -> (s => graft.ext.IngestLadder.admitBatch(
            ladderUrls(docs(s).filter(col("doc_id") % 11 === 0)),
            "doc_id", "text", Some("url"), Nil, s"$root/ladprobe_bloom_x$s",
            n = 3, tau = 0.25, batchId = 1L)),
        // r16: the per-registrant quota tick — rank window at batch
        // cardinality + a broadcast-size prior-count join; the budget
        // line checks the domain-cardinality claim as docs scale 10×
        "domain_quota_tick" -> (s => graft.ext.IncrementalDedup
          .admitBatchDomainQuota(
            quotaUrls(docs(s).filter(col("doc_id") % 11 === 0)),
            "doc_id", "url", s"$root/domquota_x$s", k = 5,
            batchId = 1L)),
        // r17: the ingest tick with the LINES rung on — every batch doc
        // sheds its two boilerplate lines against the stored
        // line_index, the text is rebuilt, and the deeper rungs see the
        // cleaned form; the budget line checks the per-line (hash, len,
        // id, idx) shuffle stays line-count-proportional
        "line_rung_tick" -> (s => graft.ext.IngestLadder.admitBatch(
          lineWrapped(docs(s).filter(col("doc_id") % 11 === 0)),
          "doc_id", "text", None, Seq.empty, s"$root/linerung_x$s",
          n = 3, tau = 0.25, batchId = 1L, lineDedup = true)),
        // r17: reconciliation over stored postings — the CC re-run
        // whose self-join input is admitted + EVIDENCE postings, both
        // scaling 10× (the evidence-volume cost axis of
        // postings_dropped retention); read-only, no text re-read
        "reconcile_near" -> (s => graft.ext.IncrementalDedup
          .reconcileNear(spark, s"$root/reconroot_x$s", tau = 0.5)),
        // r17: the full converge step a maintenance window pays —
        // reconcileNear + applyReconcile (verdict rewrite, corpus
        // delete, postings retirement, all inside the timed op; the
        // returned verdict read-back is the small residue). The root
        // is restored from its pristine snapshot before every run
        // (restoreBefore): apply mutates state, so without the restore
        // warm runs would measure the no-op path
        "reconcile_apply" -> { s =>
          val aroot = s"$root/applyroot_x$s"
          graft.ext.IncrementalDedup.applyReconcile(spark, aroot,
            "doc_id",
            graft.ext.IncrementalDedup.reconcileNear(spark, aroot,
              tau = 0.5),
            committedBelow = 2L)
          spark.read.parquet(s"$aroot/verdicts")
        },
        // r18: the INCREMENTAL reconcile at a fixed 500-doc frontier
        // over the converged corpus — the maintenance window's actual
        // reconcile ([[graft.ext.IncrementalDedup.reconcileWindow]]
        // rides this). Read-only; the ratio column IS the claim:
        // frontier-sized window cost at 10× the corpus (vs the full
        // reconcile_near row, whose self-join scales with the corpus)
        "reconcile_near_inc" -> (s => graft.ext.IncrementalDedup
          .reconcileNearIncremental(spark, s"$root/reconincroot_x$s",
            tau = 0.5, sinceBatch = 2L)),
        // r19: the production loop end to end — 4 ticks + 2 maintenance
        // windows through graft.tools.RunIngest.start (file stream,
        // config fixture, persisted monitor). restoreBefore wipes
        // root+checkpoint so every run is the full pristine loop; the
        // returned verdicts relation is the loop's durable output
        "run_ingest_loop" -> { s =>
          val cfg = graft.config.IngestConfig.fromFile(
            s"$root/ringest_cfg_x$s.json")
          val q = graft.tools.RunIngest.start(spark, cfg)
          q.processAllAvailable(); q.stop()
          spark.read.parquet(s"${cfg.root}/verdicts")
        })

    // per-run input restore (outside the timer): ops that MUTATE their
    // input state start every run — cold and warm — from a pristine
    // snapshot, so [median, spread] is over identical executions
    val restoreBefore: Map[String, Int => Unit] = Map(
      "reconcile_apply" -> (s =>
        copyTree(s"$root/applysnap_x$s", s"$root/applyroot_x$s")),
      // the loop mutates root AND the checkpoint marks files consumed:
      // without the wipe a warm run would replay ZERO ticks
      "run_ingest_loop" -> { s =>
        val p = new org.apache.hadoop.fs.Path(s"$root/ringest_x$s/run")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        ()
      })

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // one throwaway 1× pass pays JVM / codegen warmup. toRdd here and
    // below: execute the query's own plan — a stacked .count() lets
    // Catalyst eliminate the final row-preserving left joins of the
    // coverage/rewrite family and measure only the scan (graft.Bench)
    for ((name, op) <- ops if only.forall(_.contains(name))) {
      restoreBefore.get(name).foreach(_(1))
      op(1).queryExecution.toRdd.count(); release()
    }

    def round4(v: Double): String =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    System.err.println("| query | scale | cold s | median s | spread | rows |")
    System.err.println("|---|---|---|---|---|---|")
    // the admission op's output contract is a PERSISTED frame (the
    // pipeline unpersists it when the batch completes) — and its plan
    // is identical across runs, so Spark's CacheManager would serve
    // run N's result to run N+1 and "warm" would measure a cache READ,
    // flat in batch size, not a tick. Unpersist between runs exactly
    // like the pipeline does; the frozen tables stay cached (loaded
    // once at startup), matching the production warm state.
    val unpersistBetweenRuns = Set("admission_tick")
    // v4's cost lives almost entirely in its internal rewrite cache —
    // across same-plan runs Spark's CacheManager serves run N's cache
    // to run N+1 and "warm" would measure a cache read (0.8 s) instead
    // of the composite (26 s at 10×). Unlike admission there is no
    // frozen-table warm state to preserve: clear ALL caches between
    // runs, so its [median, spread] is over FRESH executions — the
    // number that answers "what does one v4 run cost".
    // dedup_lcp_longest caches its internal pair relation
    // (Prefix.adjacentPairs materializes post-projection pairs), so the
    // same fresh-run protocol applies: the committed number answers
    // "what does one LCP pass cost", not "what does re-reading its
    // cache cost"
    // reconcile_near re-runs the same plan (CacheManager would serve
    // run N's Materialize cache to run N+1); reconcile_apply's restore
    // replaces the files under identical paths (a stale plan cache
    // would read deleted files) — both need fully fresh executions
    // run_ingest_loop: the restore wipes its state, and the loop's own
    // per-window clearCache must not leak into the next op's warm runs
    val freshRuns = Set("q_corpus_prep_v4", "dedup_lcp_longest",
      "reconcile_near", "reconcile_apply", "reconcile_near_inc",
      "run_ingest_loop")
    val rows = for ((name, op) <- ops
                    if only.forall(_.contains(name))) yield {
      val per = for (s <- scales) yield {
        def run(): Double = {
          restoreBefore.get(name).foreach(_(s))
          val t0 = System.nanoTime()
          val df = op(s)
          df.queryExecution.toRdd.count()
          val t = (System.nanoTime() - t0) / 1e9
          if (unpersistBetweenRuns(name)) df.unpersist(true)
          if (freshRuns(name)) release()
          t
        }
        restoreBefore.get(name).foreach(_(s))
        val t0 = System.nanoTime()
        val df0 = op(s)
        val n = df0.queryExecution.toRdd.count()
        val cold = (System.nanoTime() - t0) / 1e9
        if (unpersistBetweenRuns(name)) df0.unpersist(true)
        if (freshRuns(name)) release()
        val warms = (1 to graft.Bench.WarmRuns).map(_ => run()).sorted
        release()
        val med = warms(warms.size / 2)
        val spread = (warms.max - warms.min) / med
        System.err.println(f"| $name | ${s}x | $cold%.2f | $med%.2f | $spread%.2f | $n |")
        (s, cold, med, spread)
      }
      val x1 = per.find(_._1 == 1).get
      val x10 = per.find(_._1 == 10).get
      val ratio = x10._3 / x1._3
      (name, x1, x10, ratio, ratio <= 20.0)
    }
    val total10 = rows.map(_._3._3).sum
    val qjson = rows.map { case (name, x1, x10, ratio, ok) =>
      "\"" + name + "\":{\"x1\":[" + round4(x1._3) + "," + round4(x1._4) +
        "],\"x10\":[" + round4(x10._3) + "," + round4(x10._4) +
        "],\"cold_x10\":" + round4(x10._2) +
        ",\"ratio\":" + round4(ratio) +
        ",\"budget_ok\":" + ok + "}"
    }.mkString("{", ",", "}")
    println("{\"metric\":\"sf1eq_total_warm\",\"value\":" + round4(total10) +
      ",\"unit\":\"sec\",\"scale\":\"10x sf0.1-equivalent\"" +
      ",\"budget\":\"median(10x) <= 2 * 10 * median(1x)\"" +
      ",\"all_budget_ok\":" + rows.forall(_._5) +
      ",\"queries\":" + qjson + "}")
    spark.stop()
  }
}
