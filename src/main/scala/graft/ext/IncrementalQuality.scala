package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The frozen QUALITY battery evaluated over one batch — the gate step
  * the CDC pipeline's admission stage ([[graft.pipeline.QualityAdmission]])
  * runs between compaction and the sink fanout. A corpus-building loop
  * runs the same gates as the quality rungs of the one corpus-admission
  * tick, [[IngestLadder.admitBatch]], which adds the dedup rungs and
  * the per-batch corpus write.
  *
  * The gates ([[IngestLadder.frozenGates]], where their dials are
  * declared) are the batch ladder's own scorers with their parameters
  * FROZEN at deploy time:
  *
  *   1. the Gopher rule battery ([[Corpus.gopherRules]]) — stateless
  *      document-shape rules;
  *   2. the fastText-style linear quality classifier
  *      ([[Corpus.qualityScore]]) against a fixed hashed-n-gram weight
  *      table;
  *   3. optionally, the Gopher REPETITION battery
  *      ([[Corpus.repetitionSignals]]) — also stateless and doc-local
  *      (all signals are within-document counts), so it freezes to its
  *      dials alone; the same rung-1 pairing the batch ladder
  *      (`q_corpus_prep_v3`) gates on;
  *   4. optionally, a DSIR importance threshold
  *      ([[Corpus.dsirScoreAgainst]]) against a λ table trained ONCE
  *      ([[Corpus.dsirLambda]]) on a reference (raw, target) pair;
  *   5. optionally, the perplexity gate ([[Corpus.surprisalAgainst]])
  *      against a unigram LM trained ONCE ([[Corpus.unigramLm]]) —
  *      the streamable form of the batch ladder's tercile rung: the
  *      tercile BOUNDARY observed on the training corpus freezes into
  *      `maxMeanSurprisalX10k`, and scoring is doc-local against the
  *      broadcast LM (unseen tokens priced as rare);
  *   6. optionally, the C4 cleaning battery ([[Corpus.c4Rules]]) on
  *      the RAW text — line-structure rules + page verdicts, frozen to
  *      its dials and `c4BadWords` blocklist; doc-local and stateless
  *      like the rest.
  *
  * Scale posture — the whole point of freezing: the weight and λ
  * tables are nBuckets-row broadcasts regardless of corpus size, every
  * score is doc-local, and there is NO store to probe or grow — per-
  * batch cost is batch-sized and estimation state is ZERO. Because
  * scoring is deterministic in (document, frozen tables), a replayed
  * batch admits the identical subset, and admission over any
  * partitioning of a corpus into batches equals the batch ladder run
  * once over the union.
  */
object IncrementalQuality {

  /** The gated admission decision over one batch with its caches
    * still live, for the CDC pipeline's admission stage
    * ([[graft.pipeline.QualityAdmission]]). `admitted` = the batch's
    * surviving rows (original columns). Call [[Gate.release]] only
    * after every read of `pre`/`admitted` has been materialized
    * (counted, written, or persisted downstream).
    */
  private[graft] final case class Gate(pre: DataFrame, admitted: DataFrame,
                                       cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  private[graft] def gate(batch: DataFrame, idCol: String, textCol: String,
                          gates: Seq[IngestLadder.Gate]): Gate = {
    // ONE tokenize pass: the batch is scanned (and normalized+tokenized)
    // once into a spill-safe cache carrying every original column plus
    // the normalized text and token array; every gate and the final
    // semi-join read the cache — the r9 form instead started each gate
    // from `batch`, ~7 source scans (each re-tokenizing) per tick
    val pre = Materialize.multiScan(Materialize.spread(batch)
      .withColumn("__iq_t", TextOps.normalized(col(textCol)))
      .withColumn("__iq_ts", TextOps.tokens(col("__iq_t"))))
    // canonical (id, raw, t, ts) projection the gates read
    val canon = pre.select(col(idCol).as("id"), col(textCol).as("raw"),
      col("__iq_t").as("t"), col("__iq_ts").as("ts"))
    // all scores are doc-local: compute over the batch, intersect
    // the keeps — same composition contract as the batch ladder
    val kept = gates.map(_._2(canon).select(col("id")))
      .reduceOption(_.join(_, Seq("id")))
      .fold(pre)(keep => pre.join(keep, pre(idCol) === keep("id"), "left_semi"))
    Gate(pre, kept.drop("__iq_t", "__iq_ts"), Seq(pre))
  }
}
