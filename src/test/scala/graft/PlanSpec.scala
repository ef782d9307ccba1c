package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these plans
  * survive a 100× scale-up are asserted, not assumed — filter/column
  * pushdown into the parquet scan, broadcast for small sides, whole-stage
  * codegen in the hot paths, and shuffle counts.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q1_pricing: shipdate filter and column pruning reach the parquet scan") {
    val p = planOf("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // 7 needed columns, not all 11 (check the FileScan output list)
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    val scanCols = scan.substring(scan.indexOf('['), scan.indexOf(']'))
    assert(!scanCols.contains("l_orderkey") && scanCols.contains("l_returnflag"),
      s"column pruning failed: $scanCols")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("q5_region_revenue: small dimensions broadcast, no shuffle of dims") {
    val p = planOf("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins (supplier/nation/region):\n$p")
  }

  test("q_cdc_latest: exactly one exchange (the window partition shuffle)") {
    val p = planOf("q_cdc_latest")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "window operator missing")
  }

  test("ann_bruteforce: corpus is scanned once, queries broadcast, cosine codegen'd") {
    val p = planOf("ann_bruteforce")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
    assert(p.contains("cosine_sim") || p.contains("cosinesim"),
      "native cosine expression not in plan")
  }

  test("dedup_exact: shuffle carries digests, not documents") {
    val p = planOf("dedup_exact")
    // the exchange must be keyed on the md5 fingerprint, after partial agg
    assert(p.contains("Exchange hashpartitioning(fp"), s"not digest-keyed:\n$p")
    val exchangeLine = p.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(!exchangeLine.contains("text"), "raw text crosses the shuffle")
    assert(p.contains("partial_min") || p.contains("partial"),
      "no map-side partial aggregation")
  }

  test("q_cube: Expand sits above the pre-aggregation, not the scan") {
    val p = planOf("q_cube")
    // physical order bottom-up: Scan … HashAggregate (finest) … Expand.
    // If Expand ran against the scan directly, it would appear below the
    // first aggregate in the plan tree (higher index in the string).
    val expandIdx = p.indexOf("Expand")
    val scanIdx = p.indexOf("Scan parquet")
    val firstAggIdx = p.indexOf("HashAggregate")
    assert(expandIdx >= 0 && scanIdx >= 0, s"unexpected plan:\n$p")
    assert(firstAggIdx < expandIdx && expandIdx < scanIdx,
      s"Expand must consume the pre-aggregate, not the table:\n$p")
  }

  test("q_tfidf: doc-count side is broadcast, not shuffled into the join") {
    val p = planOf("q_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"N (single-row aggregate) should broadcast:\n$p")
  }

  test("q_fuzzy_pairs: optimizer injects the thresholded levenshtein") {
    val df = SparkEntry.queries("q_fuzzy_pairs")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Some(3)) >= 0"),
      s"BoundedLevenshteinRule did not fire in the join predicate:\n$opt")
  }

  test("no single-partition exchange in pack / vocab / snm / kmv / simhash") {
    // round-2 verdict: these four carried Window.orderBy-without-partition
    // plans (all data through ONE task). The rewrites must keep every
    // exchange keyed — the only allowed unkeyed stage is q_vocab's final
    // rank over the topN survivors of a distributed TakeOrdered (bounded
    // by a constant, not by data size).
    Seq("q_pack", "q_fuzzy_snm", "q_kmv_distinct", "dedup_simhash").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("Exchange SinglePartition"),
        s"$n funnels data through one partition:\n$p")
      assert(!p.contains("No Partition Defined"), s"$n has a global window:\n$p")
    }
    val vocab = SparkEntry.queries("q_vocab")(spark, sf)
    val vp = vocab.queryExecution.executedPlan.toString
    assert(vp.contains("TakeOrdered"),
      s"vocabulary top-N must plan as distributed TakeOrdered:\n$vp")
  }

  test("q_kmv_distinct: one keyed exchange, object-hash aggregate, no window") {
    val p = planOf("q_kmv_distinct")
    assert(p.contains("ObjectHashAggregate"), s"KMV must aggregate, got:\n$p")
    assert(!p.contains("Window"), s"KMV must not use a window:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle (the group key), got $exchanges:\n$p")
  }

  test("q_cdc_latest_agg: partial max_by collapses keys before the exchange") {
    val p = planOf("q_cdc_latest_agg")
    // the property that matters at scale: the shuffle input is the
    // PARTIAL aggregate's output (≤ one row per key per partition), not
    // every version of every key (the window form ships all rows).
    // max_by with a struct buffer plans as SortAggregate — local sorts
    // by the group key flank the exchange, but both operate on the
    // collapsed relation.
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("partial_max_by")
    assert(partialIdx >= 0, s"no map-side partial max_by:\n$p")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"partial aggregation must sit below the exchange:\n$p")
  }

  test("top-k windows keep WindowGroupLimit (map-side per-group pruning)") {
    // the rank<=k filter must stay adjacent to the window for Spark to
    // push partial group limits below the exchange — without it, a
    // partition-by-query window degenerates to "all scored rows through
    // #queries tasks" at scale
    Seq("ann_bruteforce", "ann_lsh", "ann_ivf", "q_stratified_sample").foreach { n =>
      val p = planOf(n)
      assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
        s"$n lost partial+final WindowGroupLimit:\n$p")
    }
  }

  test("merge applyBatch: updates side is broadcast, target never shuffled") {
    import org.apache.spark.sql.functions.{col, lit}
    // range-backed, not local: a local relation would fold the plan away
    val target = spark.range(4).select(col("id").cast("string").as("pk"), col("id").as("v"))
    val updates = spark.range(1).select(lit("1").as("pk"), lit(2L).as("v"), lit("u").as("op"))
    val merged = graft.sink.Merge.applyBatch(target, updates, "pk", "op", "d")
    val p = merged.queryExecution.executedPlan.toString
    // the updates' keys reach every task as one key set inside the
    // target's filter: no join, no exchange of either side
    assert(!p.contains("Join"), s"merge joins:\n$p")
    assert(!p.contains("Exchange"), s"merge exchanges:\n$p")
    assert("NOT IN <1 keys>".r.findAllIn(p).size == 1, s"not one key-set filter:\n$p")
  }

  test("dedup_survivors: argmax is a partial-merged aggregate, no per-cluster window") {
    val p = planOf("dedup_survivors")
    assert(p.contains("partial_max(struct(score"),
      s"survivor argmax must collapse map-side before the exchange:\n$p")
    // the survivor pick itself must not be a window (a hot mega-cluster
    // would funnel through one task's sort); the only windows allowed
    // are inside the upstream pair generation (there are none today)
    assert(!p.contains("Window"), s"unexpected window operator:\n$p")
  }

  test("q_mixture_sample: one codegen'd filter, no shuffle, pruned scan") {
    val p = planOf("q_mixture_sample")
    assert(!p.contains("Exchange"), s"mixture sampling must not shuffle:\n$p")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    val scanCols = scan.substring(scan.indexOf('['), scan.indexOf(']'))
    assert(!scanCols.contains("text"),
      s"column pruning failed (text read for an id/source sample): $scanCols")
  }

  test("q_heavy_hitters: sketch is a partial-merged object-hash agg; recount broadcasts candidates") {
    // the sketch phase runs eagerly inside the operator, so assert its
    // plan on a directly-built aggregation over the same token relation
    import org.apache.spark.sql.functions.{col, explode, split}
    val sketchPlan = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(graft.functions.VectorFunctions.freqSketch(col("token"), 64))
      .queryExecution.executedPlan.toString
    assert(sketchPlan.contains("ObjectHashAggregate"),
      s"freq_sketch must plan as an object-hash aggregate:\n$sketchPlan")
    assert(sketchPlan.contains("partial_freq_sketch"),
      s"sketch must partial-merge map-side (capacity counters per partition):\n$sketchPlan")
    // the returned (recount) plan: candidates broadcast, count keyed on token
    val p = planOf("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate set must broadcast into the recount:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a distributed TakeOrdered, not a global sort:\n$p")
  }

  test("q_bm25: term prune before the tf shuffle, distributed TakeOrdered cut") {
    val p = planOf("q_bm25")
    // the literal IN filter must run in the scan/explode stage (below
    // the aggregate exchange), so only query-term postings shuffle
    assert(p.contains("token#") && p.contains(" IN (hash,join,merge,vector)"),
      s"query-term IN prune missing from the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a distributed TakeOrdered, not a global sort:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      "no map-side partial aggregation under the tf exchange")
  }

  test("q_weighted_sample: pushed weight filter, no keyed shuffle, TakeOrdered") {
    val p = planOf("q_weighted_sample")
    assert(p.contains("GreaterThan(n_chars,0)"),
      s"weight filter not pushed to the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must be a distributed TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a stateless sample must not shuffle on any key:\n$p")
  }

  test("self-join inputs are cached once and read by BOTH sides (r4 materialization)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the banded relations must resolve to ONE shared InMemoryRelation
    // per operator: a side bypassing the cache would re-run the full
    // tokenize/hash/aggregate upstream over the corpus (and an eager
    // materialization would re-introduce the r3 cold-run extra pass)
    // dedup_incremental and q_tfidf joined the policy in r5: the A-vs-B
    // postings (tagged union) and the tf relation each materialize once
    // and serve both consumers
    for (name <- Seq("dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding_srp",
                     "dedup_incremental", "q_tfidf")) {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf)
      val rels = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r }
      assert(rels.length == 2,
        s"$name: expected both join sides on the cache, got ${rels.length}")
      assert(rels(0).cacheBuilder eq rels(1).cacheBuilder,
        s"$name: join sides use different cache entries")
      spark.catalog.clearCache()
    }
  }

  test("q_decontam_bloom: returned plan reads only cached postings, never text") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the operator's eager half (bloom filter build) runs at construction;
    // the RETURNED job must consume the two materializations (pruned
    // corpus postings + bench postings) and re-read no parquet — the
    // r4 driver bench paid a full second tokenize pass here
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_decontam_bloom")(spark, sf)
    val cached = df.queryExecution.withCachedData
    val rels = cached.collect { case r: InMemoryRelation => r }
    assert(rels.length == 2,
      s"expected pruned postings + bench postings on the cache:\n$cached")
    // structural, not string: executedPlan.toString prints each
    // InMemoryRelation's cached BUILD plan too (which legitimately
    // contains the text FileScan that populates the cache on first
    // action), so grep would always fail. collect over the plan tree
    // does NOT descend into an InMemoryTableScan's cached build plan —
    // exactly the "what does the returned job itself read" question.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scansOf(plan: SparkPlan): Seq[SparkPlan] = plan.collect {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case f: FileSourceScanExec    => Seq(f)
      case m: InMemoryTableScanExec => Seq(m)
    }.flatten
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.isInstanceOf[InMemoryTableScanExec]),
      s"the verify join must read only cached relations, never text:\n" +
        df.queryExecution.executedPlan)
    // the bloom probe lives inside the cached pruned relation's build plan
    val build = rels.map(_.cacheBuilder.cachedPlan.toString).mkString("\n")
    assert(build.contains("bloom_contains"),
      s"pruned postings must be built through the codegen'd probe:\n$build")
    spark.catalog.clearCache()
  }

  test("dedup_substrings: native one-pass anchor scan, digest-only shuffles") {
    val p = planOf("dedup_substrings")
    assert(p.contains("anchor_windows"),
      s"native anchor expression not in plan:\n$p")
    // no per-position explode survives — the Generate emits finished
    // fingerprints, so every exchange carries (fp, id) pairs, never text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 2, // the standard two-stage distinct-count shape
      s"expected (fp,id)-partial + fp-final exchanges, got ${exchanges.size}:\n$p")
    // anchor to the attribute NAMED t — a bare "t#" substring would
    // false-trip on any attribute ending in t (e.g. "count#123")
    val textAttr = "(?<![a-zA-Z0-9_])t#\\d".r
    assert(exchanges.forall(l => textAttr.findFirstIn(l).isEmpty),
      s"text crosses a shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
  }

  test("dedup_substr_coverage: fp counts partial-aggregate; windows only by doc") {
    val p = planOf("dedup_substr_coverage")
    assert(p.contains("anchor_windows"),
      s"native anchor expression not in plan:\n$p")
    // occurrence counts must come from groupBy(fp).count() — which
    // partial-aggregates map-side — NOT count-over-Window(fp), which
    // shuffles the whole (id, p, fp) relation with no partial collapse
    assert(p.contains("partial_count"),
      s"fp occurrence counts must partial-aggregate map-side:\n$p")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"island pass window missing:\n$p")
    assert(windows.forall(!_.contains("fp#")),
      s"no window may partition by fp (island pass is by document):\n$p")
    // document text never crosses an exchange — digests and offsets only
    val textAttr = "(?<![a-zA-Z0-9_])t#\\d".r
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => textAttr.findFirstIn(l).isEmpty),
      s"text crosses a shuffle:\n$p")
  }

  test("q_cms_freq: grid broadcasts to the probe join; grid agg is partial-merged") {
    val p = planOf("q_cms_freq")
    assert(p.contains("BroadcastHashJoin"),
      s"the d*w cell grid must broadcast, not shuffle the probes:\n$p")
    assert(p.contains("partial_count"),
      s"grid cells must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"), s"no window anywhere in the sketch:\n$p")
  }

  test("dedup_semantic: native assignment, centroid vectors broadcast, no cartesian") {
    val p = planOf("dedup_semantic")
    assert(p.contains("nearest_centroid"),
      s"cell assignment must be the native expression (O(1) plan in k):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row centroid-vector table must broadcast:\n$p")
    // the near-dup pair join is cell-blocked (equi-join), never all-pairs
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay a cell-blocked equi-join:\n$p")
  }

  test("q_bpe_encode: encoding is one shuffle-free codegen'd projection") {
    val p = planOf("q_bpe_encode")
    // learning runs as its own driver-looped jobs BEFORE this plan; the
    // returned encode plan is scan -> spread -> project: the ONLY
    // allowed exchange is the round-robin input spread (no-op on
    // multi-split inputs — Materialize.spread), never a hash or range
    // repartition of the encoded text
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"encode must not shuffle by key — only the round-robin spread:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"the one-file scan must be spread before the heavy encode:\n$p")
    // (the spread exchange makes AQE wrap this plan, and a pre-execution
    // AdaptiveSparkPlan prints no "*(n)" codegen spans — the former
    // codegen-span assert is unverifiable from this dump; the encode
    // stays a builtin-expression projection, pinned by the shape above)
  }

  test("Materialize.spread decides from the plan: an aggregated input " +
      "passes through without a job; a one-file scan and a loaded cache " +
      "are spread, also without a job") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.ext.Materialize
    val sc = spark.sparkContext
    val group = "graft-spread-probe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    /** `Materialize.spread(df)` and the number of jobs it started. */
    def spreadCounted(df: org.apache.spark.sql.DataFrame) = {
      sc.setJobGroup(group, "spread probe")
      try {
        val out = Materialize.spread(df)
        org.apache.spark.TestListenerBus.drain(sc)
        (out, jobs.getAndSet(0))
      } finally sc.clearJobGroup()
    }
    def roundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("Repartition")
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    spark.range(0, 1000, 1, 4).coalesce(1).write.parquet(s"$dir/one")
    val agg = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k")).count()
    sc.addSparkListener(listener)
    try {
      // above an exchange the partition count exists only after AQE
      // runs the upstream stage: the frame comes back as it went in
      val (aggOut, aggJobs) = spreadCounted(agg)
      assert(aggJobs == 0, s"spreading an aggregate ran $aggJobs job(s)")
      assert(aggOut eq agg)
      // a one-file scan is one split: spread, counted from file metadata
      val (scanOut, scanJobs) = spreadCounted(
        spark.read.parquet(s"$dir/one").filter(col("id") > 3))
      assert(scanJobs == 0 && roundRobin(scanOut))
      // a materialized one-partition cache of the aggregate is counted
      // from its cached blocks
      val cached = agg.coalesce(1).persist()
      cached.count()
      val (cacheOut, cacheJobs) = spreadCounted(cached.filter(col("k") > 0))
      assert(cacheJobs == 0 && roundRobin(cacheOut))
      cached.unpersist(true)
      // enough splits already: passes through
      val wide = spark.range(0, 100, 1, 8).select(col("id") * 2)
      assert(spreadCounted(wide) == ((wide, 0)))
    } finally sc.removeSparkListener(listener)
  }

  test("q_corpus_diff: both snapshots project to digests BELOW the join — text never shuffles") {
    val p = planOf("q_corpus_diff")
    val textAttr = "(?<![a-zA-Z0-9_])text#\\d".r
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"full-outer join must shuffle on id:\n$p")
    assert(exchanges.forall(l => textAttr.findFirstIn(l).isEmpty),
      s"document text crosses the diff join (only id/fp/bytes may):\n$p")
  }

  test("q_epoch_expand: rate table broadcasts; expansion is shuffle-free") {
    val p = planOf("q_epoch_expand")
    assert(p.contains("BroadcastHashJoin"),
      s"the source-cardinality rate table must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"epoch expansion must be a narrow scan (join + explode only):\n$p")
  }

  test("q_corpus_diff_novelty: near-dup check shuffles hashes, never text") {
    val p = planOf("q_corpus_diff_novelty")
    val textAttr = "(?<![a-zA-Z0-9_])text#\\d".r
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => textAttr.findFirstIn(l).isEmpty),
      s"document text crosses a shuffle (8-byte shingle hashes only):\n$p")
  }

  test("q_decontam_fraction: benchmark broadcasts; shingle text never shuffles") {
    val p = planOf("q_decontam_fraction")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle hashes must broadcast:\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(!_.contains("shingle#")),
      s"shingle text crosses a shuffle (only 8-byte hashes and id counts may):\n$p")
  }

  test("q_lm_backoff: only n-gram keys shuffle, never document text") {
    val p = planOf("q_lm_backoff")
    // the count aggregations shuffle on vocab-bounded n-gram keys and
    // the scoring joins have bounded build sides; the raw `text` column
    // must never cross an exchange (exploded token relations carry
    // tokens, bounded by position count — fine; whole documents
    // crossing a shuffle would not be)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected n-gram count shuffles:\n$p")
    assert(exchanges.forall(!_.contains("text#")),
      s"document text crosses a shuffle:\n$p")
    // r9 type factorization: scoring joins read TYPE tables (cutoff-
    // bounded level-3 scores, vocab²-bounded fallback scores), so the
    // doc id crosses exactly ONE exchange — the final per-doc
    // aggregate. (The type-count aggregation shuffles on the n-gram key
    // after partial agg drops the id; r8's five per-position scoring
    // joins are what this pins against.) Signatures dedup'd with
    // plan_id stripped: a cached exchange prints once per scan.
    val idKeyed = exchanges
      .map(l => l.substring(l.indexOf("Exchange"))
        .replaceAll("\\[plan_id=\\d+\\]", ""))
      .filter(_.contains("id#")).toSet
    assert(idKeyed.size == 1,
      s"expected exactly 1 doc-keyed shuffle (the final per-doc agg), got ${idKeyed.size}:\n${idKeyed.mkString("\n")}\n$p")
  }

  test("q_gopher_repetition: native unit generator, hash-only shuffles") {
    val p = planOf("q_gopher_repetition")
    // the unit relation must come from the native one-pass ngram_units
    // expression (a regression to the per-n lambda formulation was a
    // 17x wall at the 10x scale point — SCALE.md)
    assert(p.contains("ngram_units"),
      s"expected the native ngram_units generator:\n$p")
    // both exchanges — the (id, kind, hash) pre-aggregation and the
    // per-doc rollup — carry hashes and counters only; unit text,
    // normalized text, and the raw document must never cross a shuffle
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected the unit-count shuffles:\n$p")
    Seq("text#", "raw#", "t#", "ts#", "unit").foreach { colName =>
      assert(exchanges.forall(!_.contains(colName)),
        s"$colName crosses a shuffle:\n${exchanges.mkString("\n")}") }
  }

  test("q_dsir_select / q_quality_score: weight tables broadcast, features never shuffle") {
    for (name <- Seq("q_dsir_select", "q_quality_score")) {
      val p = planOf(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: λ/weight table must broadcast-join:\n$p")
      // the per-feature relation joins against the broadcast table and
      // aggregates by id — feature strings must not cross an exchange
      // (buckets and ids may)
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.forall(l => !l.contains("f#") && !l.contains("text#")),
        s"$name: feature text crosses a shuffle:\n$p")
    }
  }

  test("q_perplexity_buckets: no single-partition-per-stratum ntile sort") {
    val p = planOf("q_perplexity_buckets")
    // `ntile` gets no WindowGroupLimit prune — a Window partitioned only
    // by the low-cardinality stratum would funnel each source through ONE
    // task. The tercile must come from the distributed rank instead: no
    // ntile anywhere, a range exchange present (the two-pass rank), and
    // any Window partitioned by the synthetic range-partition id, never
    // by the stratum alone.
    assert(!p.contains("ntile("), s"ntile window is back:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"distributed rank's range exchange missing:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("[__pid")),
      s"a Window is partitioned by the stratum, not the range pid:\n$p")
  }

  test("q_corpus_prep_v3: ladder reuses caches, no ntile window, no cartesian") {
    val p = planOf("q_corpus_prep_v3")
    // the tercile rung must ride the distributed rank (same guard as
    // q_perplexity_buckets), the selSrc/pack prefix relations must come
    // from the cache (multiScan reuse points), and nothing in the
    // five-stage chain may degenerate to a cartesian product (the only
    // legal cross joins are single-row broadcast stat frames)
    assert(!p.contains("ntile("), s"ntile window inside the ladder:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"multiScan reuse points lost (no cached scan in plan):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the ladder:\n$p")
  }

  test("q_release: snapshot/pairs/assignment caches shared across all " +
      "six sections, no cartesian") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_release")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the release snapshot, its near-dup pair relation, and the
    // cluster-split assignment are each materialized ONCE and read by
    // every section that needs them (card/digest/diff read the
    // snapshot; split/leakage/shards read the assignment; both leakage
    // certificates read the pairs) — a section bypassing the cache
    // would re-run jaccardPairs or connected components per section
    val builders = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder }
    // four distinct entries: snapshot, pairs, assignment, plus
    // jaccardPairs' own exploded-postings reuse point
    assert(builders.distinct.length <= 4,
      s"q_release: more than the four shared caches: ${builders.distinct.length}")
    assert(builders.length >= 8,
      s"q_release: sections bypass the caches (${builders.length} cached scans)")
    assert(!p.contains("CartesianProduct"), s"cartesian in the release cut:\n$p")
    spark.catalog.clearCache()
  }

  test("q_temperature_sample: admission is a shuffle-free scan filter") {
    val p = planOf("q_temperature_sample")
    // rates were derived in a separate count job and ride back as a
    // BROADCAST rate table (null-safe hash join — O(1) plan depth in
    // stratum count); the data itself never shuffles: no hash-partition
    // exchange anywhere, and the only broadcast is the rate relation
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash-threshold admission must not shuffle the data:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rates must join as a broadcast table:\n$p")
  }
}
