package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Job configuration mirroring the reference's S3-JSON contract
  * (reference readme.md:11-45 + src/glue_dms_redshift_cdc.py:63-69).
  * Field names keep the reference's snake/camel mix so existing config
  * files parse unchanged.
  */
final case class RedshiftConf(
    url: String,
    database: String,
    schema: String,
    user: String,
    password: String,
    tmpdir: Option[String] = None,
    aws_iam_role: Option[String] = None)

final case class MskConf(
    brokers: String,
    topic: String,
    maxOffsetsPerTrigger: Option[Long] = None,
    groupId: Option[String] = None,
    startingOffsets: String = "earliest",
    pollTimeoutMs: Option[Long] = None)

final case class SparkBatchConf(
    windowSize: String = "30 seconds",
    checkpointLocation: String)

final case class SparkConfKnobs(
    dynamicAllocationEnabled: Option[String] = None,
    executorMemory: Option[String] = None,
    executorCores: Option[Int] = None,
    shufflePartitions: Option[Int] = None,
    defaultParallelism: Option[Int] = None,
    speculation: Option[String] = None)

/** Config for the optional streaming QUALITY admission stage between
  * compaction and the sink fanout (an extension beyond the reference's
  * surface — see [[graft.ext.IncrementalQuality]]): every non-delete
  * change record whose extracted document text fails the frozen curation
  * gates is turned away before it reaches the warehouse. Frozen tables
  * are parquet paths loaded ONCE at startup (they are nBuckets- /
  * vocabulary-sized and broadcast into every batch); thresholds are the
  * gates' integer fixed-point dials.
  */
final case class AdmissionConf(
    /** SQL expression over the compacted relation producing the document
      * text to score, e.g. a column name or
      * `get_json_object(payload, '$.text')`. Rows where it evaluates
      * NULL (deletes, non-document tables) bypass the gates. */
    text_expr: String,
    /** Frozen (bucket, w) quality-classifier weight table (parquet). */
    weights_path: String,
    n_buckets: Int = 1024,
    thr_milli: Long = 0L,
    min_words: Int = 50,
    /** Gate on the Gopher repetition battery too (published dials). */
    repetition: Boolean = false,
    /** Frozen (bucket, lam) DSIR table (parquet); absent = gate off. */
    dsir_lambda_path: Option[String] = None,
    dsir_thr_x10k: Long = 0L,
    /** Frozen (token, nat10k) unigram LM (parquet); absent = gate off. */
    lm_path: Option[String] = None,
    max_mean_surprisal_x10k: Option[Long] = None,
    unseen_nat10k: Long = 200000L,
    /** Gate on the C4 cleaning battery too (line rules + page verdicts
      * on the raw text; `c4_bad_words` = the blocklist, plain words). */
    c4_rules: Boolean = false,
    c4_bad_words: Option[List[String]] = None,
    /** Seventh gate — steady-state CONTAINMENT: turn away documents
      * whose shingle set is τ-contained in an ALREADY-ADMITTED document
      * (the embedded-quote signal, [[graft.ext.Dedup.containmentProbe]]
      * over the persisted [[graft.ext.Dedup.shinglePostings]] index
      * rooted here); absent = gate off. Survivors' postings append under
      * `<dir>/batch=<id>` (Overwrite — replay-idempotent), and a replay
      * probes only PRIOR batches' partitions, so a failed attempt's own
      * postings can never turn its replay away. */
    containment_index_dir: Option[String] = None,
    containment_n: Int = 3,
    /** τ in 1e-4 units (integer-dial convention): 5000 = 0.5. */
    containment_tau_x10k: Long = 5000L,
    /** Stop-shingle cap applied to the INDEX side at probe time — the
      * essential containment scale dial (no length-ratio prune exists;
      * see [[graft.ext.Dedup.containmentPairs]]). */
    containment_max_doc_freq: Option[Int] = None,
    /** Auto-fold the postings index every N batches
      * ([[graft.pipeline.QualityAdmission.maintainPostingsIndex]] with
      * `committedBelow` = the current batch id — safe because
      * foreachBatch serializes batches: batch N starts only after
      * batch N−1's body completed AND its offsets committed, so every
      * partition below the current id is committed by construction; a
      * FAILED batch replays under its own id, which the fold never
      * touches). Absent = manual maintenance only. */
    containment_maintain_every: Option[Long] = None,
    /** Audit trail: rejected rows land in `<dir>/batch=<id>` (Overwrite —
      * replay-idempotent, like the admission corpus layout). */
    rejected_dir: Option[String] = None,
    /** Frozen learned language-id model (parquet,
      * [[graft.ext.Corpus.langIdTrain]] layout: (bucket, lang, w) with
      * the reserved -1/-2 bucket rows); absent = gate off. When set,
      * only documents whose argmax language is in `allowed_langs` are
      * admitted — the learned alternative to the stopword/script
      * heuristic, doc-local and frozen like every other gate. */
    lang_model_path: Option[String] = None,
    allowed_langs: List[String] = List("en"),
    lang_n: Int = 3,
    lang_n_buckets: Int = 4096,
    /** GATE 0 — optional URL rung, the CHEAPEST admission signal (no
      * text is read: drop by address alone, before any scorer runs):
      * rows whose [[graft.ext.TextOps.canonicalUrl]] key is already in
      * the persisted key index rooted here are turned away (first crawl
      * per address wins across batches); url-rung survivors' keys land
      * under `<dir>/batch=<id>` (Overwrite — replay-idempotent, replays
      * probe only PRIOR batches' partitions). `url_expr` = SQL
      * expression producing the page address; rows where it evaluates
      * NULL pass the rung (non-page tables sharing the stream). Both
      * keys must be set for the gate to run. IN-BATCH url variants are
      * deliberately NOT collapsed here (the compacted batch is unique
      * per (db, tb, pk); cross-document collapse is the dedup loop's
      * job — [[graft.ext.IngestLadder.admitBatch]]). */
    url_expr: Option[String] = None,
    url_index_dir: Option[String] = None)

final case class JobConfig(
    redshift_conf: RedshiftConf,
    msk_conf: MskConf,
    spark_batch_conf: SparkBatchConf,
    spark_conf: Option[SparkConfKnobs] = None,
    // DMS-only extras (src/glue_dms_redshift_cdc.py:36-38,63-69)
    record_id_key: String = "id",
    apply_delete: Boolean = true,
    cdc_timestamp_format: String = "yyyy-MM-dd'T'HH:mm:ss'Z'",
    // extension beyond the reference: streaming quality admission
    admission_conf: Option[AdmissionConf] = None)

object JobConfig {
  private implicit val formats: Formats = DefaultFormats

  /** Parse the job-config JSON. The reference exits when the config is
    * absent (src/glue_pg_redshift_cdc.py:63-65); we surface a typed error.
    */
  def fromJson(json: String): JobConfig =
    JsonMethods.parse(json).extract[JobConfig]

  def fromFile(path: String): JobConfig =
    fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
}
