package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve measurement for the dedup/ANN/sketch family — the
  * evidence behind SCALE.md's near-linear claims.
  *
  * Corpora are SYNTHETIC and deterministic (hash-derived, no RNG): a
  * document is ~60 words drawn from a 2 000-word vocabulary by
  * `hash(id, position)`; every 20th row is a near-copy of its
  * predecessor (one token / one dimension perturbed), so every scale has
  * the same planted near-dup rate and the TRUE pair count grows
  * LINEARLY — unlike naively replicating a fixture corpus, where each
  * replica is a near-dup of the original and the pair count (and any
  * honest pair-finder's output) would grow quadratically by
  * construction. Inputs are materialized to parquet first so generation
  * cost is not measured.
  *
  * Run: `sbt "runMain graft.tools.ScaleBench"` (optional arg: output
  * root, default /tmp/graft-scale). Prints one markdown row per
  * (operator, scale): cold run, warm (steady-state) run, result rows.
  */
object ScaleBench {

  /** ~60-word documents over a 2k vocab; id%20==19 near-copies id-1
    * with the first token mutated (shingle overlap ≈ 57/60). */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val seed = when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)),
        i => when(col("id") % 20 === 19 && i === 0,
            concat(lit("mut"), col("id")))
          .otherwise(concat(lit("w"), pmod(hash(seed, i), lit(2000))))))
        .as("text"))
  }

  /** 64-dim float vectors, components uniform-ish in [-1, 1);
    * id%20==19 near-copies id-1 with dim 0 nudged (cosine ≈ 0.999,
    * far above unrelated vectors' ~0 ± 1/8). */
  def synthEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val seed = when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val base = pmod(hash(seed, i), lit(2000)).cast("double") / 1000.0 - 1.0
        when(col("id") % 20 === 19 && i === 0, base + 0.05)
          .otherwise(base).cast("float")
      }).as("embedding"))
  }

  /** (group, value) rows for the KMV sketch: 3 groups, ~1e5 distinct
    * values, value sequence hash-scattered. */
  def synthValues(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      pmod(col("id"), lit(3)).cast("string").as("g"),
      pmod(col("id") * 2654435761L, lit(100000)).as("v"))

  /** The FLAGSHIP six-stage prep composite (q_corpus_prep_v2's exact
    * chain over a synthetic corpus): coverage gate + quality gate →
    * fraction decontam → exact-dedup survivors → temperature rebalance
    * → budgets in learned BPE tokens. The two Materialize.multiScan
    * reuse points ride along, so this is the memory-pressure data
    * point for the caching choices. Shared by the scaling-curve runs
    * here and [[Sf1EqBench]]'s committed sf1-equivalent artifact.
    */
  def prepCompositeOp(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    val d = docsDf.withColumn("source",
      pmod(hash(col("doc_id")), lit(5)).cast("string"))
    val covKeep = graft.ext.Dedup.substringDupCoverage(d, "doc_id",
        "text", winBytes = 40, anchorMod = 8, dropAtBp = 5000)
      .filter(!col("drop")).select(col("id").as("doc_id"))
    val wTable = spark.range(1024).select(col("id").as("bucket"),
      (pmod(graft.ext.TextOps.portableHash(col("id").cast("string")),
        lit(21L)) - 10).as("w"))
    val qualKeep = graft.ext.Corpus.qualityScore(d, "doc_id", "text",
        wTable, nBuckets = 1024, thrMilli = -2000L)
      .filter(col("keep")).select(col("id").as("doc_id"))
    val afterCov = graft.ext.Materialize.multiScan(
      d.join(covKeep, Seq("doc_id")).join(qualKeep, Seq("doc_id")))
    val deconKeep = graft.ext.Corpus.decontaminateFraction(
        afterCov.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, dropAtBp = 2500)
      .filter(!col("drop")).select(col("id").as("doc_id"))
    val afterDecon = afterCov.join(deconKeep, Seq("doc_id"))
    val surv = graft.ext.Materialize.multiScan(afterDecon
      .withColumn("fp", graft.ext.TextOps.fingerprint(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id")))
    val sampled = graft.ext.Corpus.temperatureSample(surv, "source",
      Seq("doc_id"), alpha = 0.5)
    val merges = graft.ext.Bpe.learn(d, "text", nMerges = 8)
    sampled.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.ext.Bpe.encode(col("text"), merges)))
          .cast("long").as("bpe_tokens"))
  }

  /** The r9 curation ladder (q_corpus_prep_v3's exact chain): Gopher
    * battery (shape + repetition) → per-source surprisal terciles
    * (distributed rank) → DSIR Gumbel-top-k on the survivor pool →
    * temperature rebalance → BPE-budgeted packing. Stopword rule
    * parameterized to the synthetic vocabulary (w0..w99 as the
    * "stopword" set — the real list can't occur in hash-random text);
    * `kSel` scales with the corpus so the selection stays binding at
    * every scale point. The repetition rung rides along at published
    * dials (hash-random text never trips them — the COST of the
    * battery is what this curve adds; the binding cut is pinned by the
    * sf0.01 oracle).
    */
  def prepCompositeV3Op(spark: SparkSession, docsDf: DataFrame,
                        kSel: Int): DataFrame = {
    val d = docsDf.withColumn("source",
      pmod(hash(col("doc_id")), lit(5)).cast("string"))
    val gKeep = graft.ext.Corpus.gopherRules(d, "doc_id", "text",
        stopwords = (0 until 100).map("w" + _))
      .filter(col("keep")).select(col("id").as("doc_id"))
      .join(graft.ext.Corpus.repetitionSignals(d, "doc_id", "text")
        .filter(col("keep")).select(col("id").as("doc_id")),
        Seq("doc_id"))
    val surp = graft.ext.Corpus.unigramSurprisal(d, "doc_id", "text")
      .select(col("id").as("doc_id"), col("mean_surprisal_x10k"))
    val ranked = graft.ext.Prefix.stratifiedNtile(
      surp.join(gKeep, Seq("doc_id"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id")),
      Seq(col("source")),
      Seq(col("mean_surprisal_x10k"), col("doc_id")), 3, "bucket")
    val pKeep = ranked.filter(col("bucket") <= 2).select("doc_id")
    val sel = graft.ext.Corpus.dsirResample(
        d.join(pKeep, Seq("doc_id")).filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = kSel, nBuckets = 1024)
      .select(col("id").as("doc_id"))
    val selSrc = graft.ext.Materialize.multiScan(
      sel.join(d.select(col("doc_id"), col("source"), col("text")),
        Seq("doc_id")))
    val sampled = graft.ext.Corpus.temperatureSample(selSrc, "source",
      Seq("doc_id"), alpha = 0.5)
    val merges = graft.ext.Bpe.learn(d, "text", nMerges = 8)
    graft.ext.Corpus.pack(sampled, "doc_id", "text", budget = 2000,
        tokenCounter = c => size(graft.ext.Bpe.encode(c, merges)))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("pack_tokens"))
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-scale")
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors())))
    val scales = sys.env.get("SCALE_POINTS")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(1, 3, 10))
    // base sizes = the sf0.1 fixture sizes, so scale 1 is comparable to
    // the round bench
    val baseDocs = 5000L
    val baseVecs = 2000L
    val baseVals = 600000L

    for (s <- scales) {
      synthDocs(spark, baseDocs * s).write.mode("overwrite")
        .parquet(s"$root/docs_x$s")
      synthEmbeddings(spark, baseVecs * s).write.mode("overwrite")
        .parquet(s"$root/vecs_x$s")
      synthValues(spark, baseVals * s).write.mode("overwrite")
        .parquet(s"$root/vals_x$s")
    }
    def docs(s: Int) = spark.read.parquet(s"$root/docs_x$s")
    def vecs(s: Int) = spark.read.parquet(s"$root/vecs_x$s")
    def vals(s: Int) = spark.read.parquet(s"$root/vals_x$s")

    // the bench queries' own parameters (Queries.scala)
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "jaccardPairs" -> (s => graft.ext.Dedup.jaccardPairs(
        docs(s), "doc_id", "text", n = 3, tau = 0.25)),
      // prefix-filtered route to the identical relation (AllPairs +
      // positional bound): same tau, same output rows — the wall/row
      // delta vs jaccardPairs is pure candidate-generation structure
      "jaccardPrefix" -> (s => graft.ext.Dedup.jaccardPairsPrefix(
        docs(s), "doc_id", "text", n = 3, tau = 0.25)),
      "minhashCandidates" -> (s => graft.ext.Dedup.minhashCandidates(
        graft.ext.Dedup.minhashSignatures(docs(s), "doc_id", "text",
          n = 3, k = 64), k = 64, bands = 16)
        .filter(col("est_jacc") >= 0.25)),
      // one-permutation variant of the row above: identical banding,
      // one hash eval per shingle instead of k=64 universal-hash
      // multiply-mods — the wall delta is the hashing cost
      "minhashCandidatesOph" -> (s => graft.ext.Dedup.minhashCandidates(
        graft.ext.Dedup.minhashSignaturesOph(docs(s), "doc_id", "text",
          n = 3, k = 64), k = 64, bands = 16)
        .filter(col("est_jacc") >= 0.25)),
      "simhashPairs" -> (s => graft.ext.Dedup.simhashPairs(
        docs(s), "doc_id", "text", maxDist = 5)),
      // tau raised vs the bench query (0.4 -> 0.7): random 64-dim
      // vectors concentrate at cosine 0 +- 1/8, so at 0.4 the TRUE
      // pair count itself grows quadratically with n (a data property
      // that would mask the operator's scaling); at 0.7 only the
      // planted near-copies match and output stays linear
      "nearDupPairsSrp" -> (s => graft.ext.Similarity.nearDupPairsSrp(
        vecs(s), "vec_id", "embedding", tau = 0.7, dim = 64,
        nBits = 6, nTables = 6)),
      "kmvDistinct" -> (s => graft.ext.Sketch.kmvDistinct(
        vals(s), Seq("g"), "v", k = 64)),
      // incremental: every-11th-doc batch vs the rest as admitted corpus
      "jaccardAgainst" -> (s => graft.ext.Dedup.jaccardAgainst(
        docs(s).filter(col("doc_id") % 11 === 0),
        docs(s).filter(col("doc_id") % 11 =!= 0),
        "doc_id", "text", n = 3, tau = 0.25)),
      // containment: NO length-ratio prune exists (the smaller-in-larger
      // direction is never size-bounded), so this curve pins the
      // co-occurrence-driven join cost next to jaccardPairs' pruned one;
      // planted near-copies (~57/60 shingle overlap) keep the true pair
      // count linear
      "containmentPairs" -> (s => graft.ext.Dedup.containmentPairs(
        docs(s), "doc_id", "text", n = 3, tau = 0.5)),
      // planted near-copies share the aligned 20-token chunks past the
      // mutated head token, so true dup-passage count grows linearly
      "passageDedup" -> (s => graft.ext.Dedup.passageDedup(
        docs(s), "doc_id", "text", passageTokens = 20)
        .filter(!col("keep"))),
      "passageRewrite" -> (s => graft.ext.Dedup.passageRewrite(
        docs(s), "doc_id", "text", passageTokens = 20)),
      // four mid-frequency vocab terms; output = top-50 per scale
      // (constant), input postings pruned in-scan
      "bm25TopK" -> (s => graft.ext.Corpus.bm25TopK(
        docs(s), "doc_id", "text",
        terms = Seq("w10", "w500", "w1000", "w1500"), k = 50)),
      // planted near-copies share the whole normalized char tail past
      // the mutated head token, so true dup-span count grows linearly
      "substringDupSpans" -> (s => graft.ext.Dedup.substringDupSpans(
        docs(s), "doc_id", "text", winBytes = 40, anchorMod = 8)),
      // the recall=1 exact pass (anchorMod=1): ~8x the anchored window
      // count — the honest price of exactness; the curve shows the
      // constant, not a blowup (planted near-copies share whole tails,
      // so true span count grows linearly)
      "exactDupSpans" -> (s => graft.ext.Dedup.exactDupSpans(
        docs(s), "doc_id", "text", minLen = 40)),
      // ... and the cut action on top: canonical pick + island pass +
      // byte-stitch; adds two doc-keyed exchanges over exactDupSpans
      "exactSpanRewrite" -> (s => graft.ext.Dedup.exactSpanRewrite(
        docs(s), "doc_id", "text", minLen = 40)),
      // provenance: rewrite machinery minus the stitch, plus the island
      // head join — output rows (cut spans) grow linearly by planting
      "spanAttribution" -> (s => graft.ext.Dedup.spanAttribution(
        docs(s), "doc_id", "text", minLen = 40)),
      // grid is O(depth*width) after partial agg regardless of n;
      // probes = the 20 hottest tokens, the bench query's shape
      "cmsEstimate" -> { s =>
        val toks = docs(s).select(explode(graft.ext.TextOps.tokens(
          graft.ext.TextOps.normalized(col("text")))).as("token"))
        val probes = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("token").asc).limit(20)
        graft.ext.Sketch.cmsEstimate(toks, "token", probes, "token",
          depth = 4, width = 512)
      },
      "decontaminateBloom" -> (s => graft.ext.Corpus.decontaminateBloom(
        docs(s).filter(col("doc_id") % 97 =!= 0),
        docs(s).filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, nBits = 1 << 22, k = 5)),
      // train (2 Lloyd iterations, linear scans) + encode + ADC search
      "pqSearchAdc" -> { s =>
        val corpus = vecs(s).select(col("vec_id").as("id"), col("embedding"))
        val books = graft.ext.Pq.train(corpus, "id", "embedding",
          dim = 64, m = 8, nCodes = 16, iters = 2)
        graft.ext.Pq.searchAdc(corpus,
          corpus.filter(col("id") < 5), k = 10, books, refine = 60)
      },
      // cells bound the pair space (n²/k per balanced cell); tau as in
      // nearDupPairsSrp so only planted near-copies pair and output
      // stays linear
      "semanticDedup" -> (s => graft.ext.Similarity.semanticDedup(
        vecs(s), "vec_id", "embedding", k = 16, tau = 0.7)
        .filter(!col("keep"))),
      // learn once per scale (8 rounds over the distinct-word vocab,
      // which is ~constant across scales: same 2k base vocabulary) then
      // encode the corpus — the end-to-end tokenizer cost
      "bpeLearnEncode" -> { s =>
        val merges = graft.ext.Bpe.learn(docs(s), "text", nMerges = 8)
        docs(s).select(col("doc_id"),
          size(graft.ext.Bpe.encode(col("text"), merges)).as("n"))
      },
      // benchmark side constant-ish (every 97th doc); corpus side scans
      "decontaminateFraction" -> (s => graft.ext.Corpus.decontaminateFraction(
        docs(s).filter(col("doc_id") % 97 =!= 0),
        docs(s).filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, dropAtBp = 2500)
        .filter(col("drop"))),
      // semanticDedup's honest scale note: fixed k turns the per-cell
      // pair space n²/k quadratic — k ∝ n (the SemDeDup paper's own
      // operating rule) keeps cells constant-sized and the scan the
      // dominant cost. Both dialed forms measured side by side.
      "semanticDedupKprop" -> (s => graft.ext.Similarity.semanticDedup(
        vecs(s), "vec_id", "embedding", k = 16 * s, tau = 0.7)
        .filter(!col("keep"))),
      // round-8 scorers: three vocab/bucket-bounded aggregations + a
      // broadcast-table scoring join each — wall should track the
      // token-scan, not the table sizes
      "backoffSurprisal" -> (s => graft.ext.Corpus.backoffSurprisal(
        docs(s), "doc_id", "text")),
      "qualityScore" -> { s =>
        val w = spark.range(1024).select(col("id").as("bucket"),
          (pmod(graft.ext.TextOps.portableHash(col("id").cast("string")),
            lit(21L)) - 10).as("w"))
        graft.ext.Corpus.qualityScore(docs(s), "doc_id", "text", w)
      },
      "dsirScore" -> (s => graft.ext.Corpus.dsirScore(
        docs(s).filter(col("doc_id") % 97 =!= 0),
        docs(s).filter(col("doc_id") % 97 === 0),
        "doc_id", "text")),
      "gopherRules" -> (s => graft.ext.Corpus.gopherRules(
        docs(s), "doc_id", "text")),
      // r9 repetition battery: the exploded unit relation is ~9 rows
      // per token position (n = 2..10 n-grams + lines/paras), hashes
      // and counters only — wall should scale with the token scan
      "repetitionSignals" -> (s => graft.ext.Corpus.repetitionSignals(
        docs(s), "doc_id", "text")),
      // the FLAGSHIP six-stage prep composite (q_corpus_prep_v2's exact
      // chain over the synthetic corpus): coverage gate + quality gate
      // -> fraction decontam -> exact-dedup survivors -> temperature
      // rebalance -> budgets in learned BPE tokens. The two
      // Materialize.multiScan reuse points ride along, so this is the
      // memory-pressure data point for the caching choices.
      "prepComposite" -> (s => prepCompositeOp(spark, docs(s))),
      // the r9 curation ladder (q_corpus_prep_v3's exact chain): Gopher
      // battery -> per-source surprisal terciles (distributed rank) ->
      // DSIR Gumbel-top-k on the survivor pool -> temperature rebalance
      // -> BPE-budgeted packing. Stopword rule parameterized to the
      // synthetic vocabulary (w0..w99 as the "stopword" set — the real
      // list can't occur in hash-random text); top-k scales with n so
      // the selection stays binding at every scale point
      "prepCompositeV3" -> (s => prepCompositeV3Op(spark, docs(s),
        kSel = 600 * s)),
      // r12 split/shard family: the posture claims are ONE distributed
      // rank each (range exchange + per-partition windows, driver sees
      // one long per partition) — wall should track the corpus scan
      "exactSplit" -> (s => graft.ext.Splits.exactSplit(docs(s),
        Seq("doc_id"), Seq("train" -> 800000, "val" -> 100000,
          "test" -> 100000))),
      "shardExport" -> (s => graft.ext.Splits.shardExport(docs(s),
        Seq("doc_id"), shardSize = 1024L)))

    // SCALE_OPS=a,b,c restricts to named operators (local iteration on
    // one curve without re-timing the whole family)
    val opsRun = sys.env.get("SCALE_OPS")
      .map(names => { val keep = names.split(",").map(_.trim).toSet
        ops.filter(o => keep(o._1)) })
      .getOrElse(ops)

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // one throwaway pass at the smallest requested scale pays JVM/codegen
    // warmup so the first measured rows aren't inflated relative to the
    // rest (scale 1 need not exist under a custom SCALE_POINTS)
    val warmScale = scales.min
    for ((_, op) <- opsRun) {
      op(warmScale).queryExecution.toRdd.count(); release()
    }

    println("| operator | scale | input rows | cold s | warm s | out rows |")
    println("|---|---|---|---|---|---|")
    for ((name, op) <- opsRun; s <- scales) {
      // toRdd: execute the operator's own plan — a stacked .count()
      // would let Catalyst eliminate the coverage/rewrite family's
      // final row-preserving left joins and measure only the scan
      // (see graft.Bench.once)
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = op(s).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (cold, rows) = run()
      val warm = math.min(run()._1, run()._1)
      release()
      val inRows = (name match {
        case "nearDupPairsSrp" | "pqSearchAdc" | "semanticDedup"
           | "semanticDedupKprop" => baseVecs
        case "kmvDistinct" => baseVals
        case "jaccardAgainst" => baseDocs / 11
        case _ => baseDocs
      }) * s
      println(f"| $name | ${s}x | $inRows | $cold%.2f | $warm%.2f | $rows |")
    }

    spark.stop()
  }
}
