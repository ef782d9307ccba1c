package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compact.Compaction
import graft.envelope.{DmsCdc, MongoCdc, PgCdc}
import graft.ext.{Corpus, DataQuality, Dedup, Multimodal, Similarity, TextOps}

/** The declared query surface: every operator from SURVEY.md §2 plus the
  * LLM-pipeline extension operators, each as a (Spark plan, DuckDB oracle
  * SQL) pair over the driver-generated test tables.
  *
  * Conventions (driver compare contract):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - floating-point aggregates are rounded (sums to 2dp, ratios to 4dp)
  *    so accumulation-order differences can't flip the hash;
  *  - rankings order by the ROUNDED value plus an id tiebreaker so both
  *    engines cut top-k identically.
  */
object Queries
    extends QueriesRelational with QueriesDedup with QueriesTemporalSampling with QueriesScorers with QueriesSqlMisc with QueriesComposites with QueriesSplits {

  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.table(s, dir, name)


  /** Every declared query, in gate order. */
  val all: Seq[Q] = Seq(
    q1Pricing, q3TopRevenue, q5RegionRevenue, qTopParts, qAggStats, qRollup,
    qSemiAnti, qSemiJoin, qWindowRunning,
    qCdcLatest, qCdcLatestAgg, qCdcMerge, qCdcTargets, qJsonExtract, qVariant,
    qSchemaInference, qDateFuncs, qStringFuncs, qMathFuncs, qEventsHourly,
    qEnvelopePg, qEnvelopeMongo, qEnvelopeDms, qEnvelopeDlq,
    qTextStats, qTokenCount, qLangId, qLangIdModel, qScriptMix, qCharEntropy,
    qRepetition, qSessionize, qFingerprint,
    qCorpusCuration, qCorpusCard, qCorpusCardXsource, qCorpusCardXsourceCont,
    qDedupExact, qDedupNfc, qDedupUrl, qUrlHostCard, qUrlDomainCard,
    qUrlDomainCardPsl, qDomainQuota, qDomainQuotaPsl,
    qDedupLadder, qAdmissionLadder, qLadderBloom, qReladder,
    qReladderApply, qReladderRefund, qReladderRefundLag, qIngestLadder,
    qLineRung,
    qDedupJaccard, qDedupJaccardPrefix,
    qDedupContainment,
    qDedupJaccardSteady,
    qDedupContainmentIncremental, qDedupContainmentSteady,
    qDedupContainmentDrop, qDedupIncremental, qDedupMinhash,
    qDedupMinhashIncremental, qDedupMinhashOph, qDedupMinhashBbit,
    qLshPlan, qLshRecall,
    qDedupClusters, qDedupClusterSpectrum,
    qDedupSurvivors, qGraphDegreeCard, qGraphPagerank,
    qGraphPagerankWeighted, qGraphCentral,
    qGraphTriangles, qGraphCard, qGraphKcore, qGraphAssortativity,
    qDedupPassages,
    qDedupPassageRewrite, qDedupSubstrings, qDedupSubstrWinnow,
    qDedupSubstrCoverage,
    qDedupSubstrCoverageUtf8, qDedupSubstrExact, qDedupSubstrExactSa,
    qDedupSubstrExactLcp, qDedupSubstrRewrite, qDedupSubstrRewriteWinnow,
    qDedupSubstrAttribution, qDedupLcpLongest, qDedupSpectrum, qDedupSimhash,
    qDedupSimhashIncremental,
    qAnnBrute, qEmbeddingNearDup, qEmbeddingNearDupSrp, qDedupSemantic,
    qDecontamEmbedding,
    qAnnIvf, qAnnIvfTrained, qAnnPq, qAnnIvfPq, qAnnLsh, qDiversitySample,
    qEmbeddingCard, qLabelAgreement, qLabelAgreementCells,
    qLabelAgreementCard, qLabelConfusion, qLabelKappa,
    qAsofJoin, qRangeJoin, qScd2, qFunnel, qFunnelAny, qFunnelSummary,
    qSessionStats, qRetention, qTransitions,
    qPercentiles, qSample, qSampleFast,
    qTfidf, qBm25, qHybridRetrieval, qVocab, qBpeLearn, qBpeEncode,
    qBpeFertility, qUnigramLearn, qUnigramEncode, qUnigramSample, qTokenizerFertility,
    qHeavyHitters,
    qLmSurprisal, qSurprisalFrozen, qLmBigram, qLmBackoff, qQualityScore,
    qScoreCard, qScoreThresholds, qScoreCalibration,
    qDsirSelect,
    qDsirResample, qPerplexityBuckets, qGopherRules, qC4Rules,
    qGopherRepetition,
    qMixtureSample, qWeightedSample,
    qPiiScrub, qPiiFull, qQuantize, qHll, qApproxPercentile, qKmv, qCmsFreq,
    qWindowFuncs, qWindowFrames, qSetOps, qPivot, qUnpivot, qCube,
    qFuzzyPairs, qFuzzySnm,
    qGroupingSets, qArrayFuncs, qSubqueries, qSaltedJoin, qSkewCard,
    qStratified, qKmeans,
    qKmeansAssign,
    qTimeTravel, qDataQuality, qProfile, qRefIntegrity, qOutliersMad,
    qCusum,
    qKsTest, qKsBySlice, qPsiDrift, qPsiDriftSeries, qPsiDriftCat,
    qPsiDriftCatSeries, qZorderValue, qZorderPrune,
    qMultimodal, qMultimodalFrames, qFrameDedup, qCorpusPrep, qCorpusPrepV2,
    qCorpusPrepV3, qCorpusPrepV4,
    qChunk, qPack, qPackSorted, qPackStats, qPackBpe, qDecontam,
    qDecontamBloom, qDecontamFraction, qDecontamContainment, qDecontamSpans,
    qDecontamMatrix, qDecontamRewrite, qDecontamRewriteWinnow,
    qLineDedupFirst, qLineDedupBoiler,
    qTemperatureSample, qTemperatureSampleA25, qTemperatureSampleA75,
    qSplitAssign, qSplitExact, qKfold, qGroupKfold, qSplitCluster,
    qSplitLeakage,
    qShardExport, qCurriculumExport,
    qCorpusDiff, qCorpusDiffNovelty, qCorpusDigest, qMixingPlan,
    qEpochExpand,
    qTrainingExport, qRelease)

  /** SLOW TIER: queries the timed bench (`graft.Bench`) skips. Still in
    * `all`, so the CORRECTNESS gate (graft.Verify, sf0.01) runs every
    * one of them — only the per-round sf0.1 TIMING run excludes them.
    *
    * `dedup_substr_exact_sa` is the prefix-doubling suffix-array route
    * to the exact-span relation: deliberately kept for three-route
    * cross-validation (it hash-matches the same oracle as the
    * window-hash and suffix-order-LCP routes at sf0.01), but
    * documented-superseded by [[graft.ext.Dedup.exactDupSpansLcp]] as
    * the practical form (2.2 s vs 15.5 s warm at sf0.1) — timing a
    * superseded route every round cost 13% of the bench wall and added
    * nothing a sf0.01 hash row doesn't already prove.
    *
    * The ten ladder and quota COMPOSITION tests are side-effectful by
    * design — two or more full ingest ticks each, writing parquet
    * subtrees to a temp root while the DataFrame is built, so warm ≈
    * cold and the timed number measures parquet-commit I/O, not a plan
    * (the r15 verdict: `q_admission_ladder` 7.9 s cold / 7.1 s warm,
    * the bench's slowest row); the registered plan is only the verdict
    * read-back, invisible to the plan audit. Their per-tick cost is
    * recorded in the `admission_ladder_tick`, `ingest_ladder_tick` and
    * `domain_quota_tick` rows of `BENCH_sf1eq.json`, against real
    * persisted indexes at two scales (measured by
    * `tools/Sf1EqBench.scala` at c0e2220, since removed).
    */
  val slowTier: Set[String] = Set("dedup_substr_exact_sa",
    "q_admission_ladder", "q_ladder_bloom", "q_ingest_ladder",
    "q_reladder", "q_reladder_apply", "q_reladder_refund",
    "q_reladder_refund_lag", "q_line_rung",
    "q_domain_quota", "q_domain_quota_psl")
}
