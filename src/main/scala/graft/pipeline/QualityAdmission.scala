package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.AdmissionConf
import graft.ext.{Corpus, IncrementalQuality, IngestLadder, Layout, Materialize}

/** The streaming QUALITY admission stage of the CDC pipeline — the
  * frozen five-gate curation battery ([[graft.ext.IncrementalQuality]])
  * applied between compaction and the sink fanout: envelope-parse →
  * compact → ADMIT → merge as one stream. An extension beyond the
  * reference's surface (its pipeline replicates everything); the gate
  * set and the frozen-table posture are the batch curation ladder's
  * (`q_corpus_prep_v3`) with parameters frozen at deploy time.
  *
  * Semantics:
  *   - DELETES ALWAYS PASS. A delete carries no document text, and
  *     turning one away would break replication (the warehouse would
  *     keep a row the source removed).
  *   - rows whose `text_expr` evaluates NULL pass — non-document tables
  *     sharing the stream, or documents whose payload lacks the text
  *     field, cannot be scored and admission is a quality filter, not a
  *     schema validator.
  *   - every other row is scored doc-locally against the frozen tables
  *     and must clear EVERY configured gate.
  *
  * Scale posture (inherited from the gate): the frozen tables are
  * nBuckets-/vocabulary-sized broadcasts loaded once at startup; every
  * score is doc-local; there is no store and no state growth — per-tick
  * cost is batch-sized. The batch makes ONE tokenize pass (the gates
  * read a shared spill-safe cache).
  *
  * An optional LEARNED-LANGUAGE gate (r14) admits only documents whose
  * argmax language under a frozen hashed-char-ngram model
  * ([[graft.ext.Corpus.langIdPredict]]) is in `allowed_langs` — the
  * CCNet placement of a lid model inside the curation battery; doc-local
  * and frozen like the five, so the replay guarantee is unchanged.
  *
  * A SEVENTH, optional gate breaks the doc-local rule deliberately:
  * steady-state CONTAINMENT (`containment_index_dir`) turns away
  * documents τ-contained in an already-admitted one (the embedded-quote
  * signal resemblance can't see), probing a persisted shingle-postings
  * index and appending survivors' postings per batch — the storage of
  * the ingest ladder's containment rung ([[IngestLadder.admitBatch]])
  * under the admission stage's replay discipline (per-batch Overwrite
  * partitions; a replay probes only PRIOR batches' partitions, so a
  * failed attempt's own postings can never turn its replay away). This
  * gate's state DOES grow (postings-sized, the honest price of exact
  * containment) and its per-tick cost is batch-postings × index, dialed
  * by `containment_max_doc_freq`.
  *
  * Exactly-once: admission is deterministic in (row, frozen tables), so
  * a checkpoint replay admits the identical subset — the merge sink's
  * ledger semantics are untouched. The optional rejected-row audit
  * trail uses the per-batch-directory Overwrite layout, replay-
  * idempotent like the ingest ladder's corpus.
  */
object QualityAdmission {

  /** Build a [[CdcPipeline]] admission hook from config. Frozen tables
    * load once, here — NOT per batch. The returned hook's output
    * contract: a PERSISTED, materialized DataFrame the pipeline
    * unpersists when the batch completes.
    */
  def fromConfig(spark: SparkSession, cfg: AdmissionConf,
                 deleteMarker: String): (DataFrame, Long) => DataFrame = {
    // frozen tables are small (nBuckets / vocabulary rows): cache them so
    // every batch broadcasts from memory instead of re-reading parquet
    val weights = Materialize.multiScan(spark.read.parquet(cfg.weights_path))
    val lambda = cfg.dsir_lambda_path.map(p =>
      Materialize.multiScan(spark.read.parquet(p)))
    val lm = cfg.lm_path.map(p => Materialize.multiScan(spark.read.parquet(p)))
    val langModel = cfg.lang_model_path.map(p =>
      Materialize.multiScan(spark.read.parquet(p)))
    (compacted, batchId) =>
      admit(compacted, batchId, cfg, deleteMarker, weights, lambda, lm,
        langModel)
  }

  /** One admission pass over a compacted batch (the hook body).
    * @return persisted, materialized admitted relation (same schema as
    *         `compacted`); caller unpersists after the batch.
    */
  def admit(compacted: DataFrame, batchId: Long, cfg: AdmissionConf,
            deleteMarker: String, weights: DataFrame,
            lambda: Option[DataFrame], lm: Option[DataFrame],
            langModel: Option[DataFrame] = None): DataFrame = {
    val withText = compacted.withColumn("__adm_text", expr(cfg.text_expr))
    val bypassCond = col("op") === lit(deleteMarker) ||
      col("__adm_text").isNull
    val bypass = withText.filter(bypassCond).drop("__adm_text")
    // the compacted key (db_name, tb_name, pk) is unique per batch row
    // (compaction guarantees it) — fold it into the gate's doc id
    val docs0 = withText.filter(!bypassCond)
      .withColumn("__adm_id",
        concat_ws("", col("db_name"), col("tb_name"), col("pk")))
    // GATE 0 (optional): the URL rung — the cheapest signal, BEFORE any
    // text is read. An address already in the persisted key index is a
    // re-crawl and is turned away whole; NULL addresses pass the rung
    // (non-page tables sharing the stream). Survivors' keys land in a
    // per-batch Overwrite partition and a replay probes only PRIOR
    // batches' partitions — the containment gate's replay discipline.
    val docs = (cfg.url_expr, cfg.url_index_dir) match {
      case (Some(uexpr), Some(dir)) =>
        val spark = compacted.sparkSession
        val keyed = Materialize.multiScan(docs0.withColumn("__adm_url_key",
          graft.ext.TextOps.canonicalUrl(expr(uexpr))))
        val survivors = Layout.priorPartitions(spark, dir, batchId) match {
          case Some(ix) => keyed.filter(col("__adm_url_key").isNull)
            .unionByName(keyed.filter(col("__adm_url_key").isNotNull)
              .join(ix.select(col("url_key")),
                col("__adm_url_key") === col("url_key"), "left_anti"))
          case None => keyed
        }
        val out = Materialize.multiScan(survivors.drop("__adm_url_key"))
        survivors.filter(col("__adm_url_key").isNotNull)
          .select(col("__adm_url_key").as("url_key"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
        keyed.unpersist()
        out
      case _ => docs0
    }
    // the frozen battery minus its lang gate, which runs below over
    // the survivors only
    val g = IncrementalQuality.gate(docs, "__adm_id", "__adm_text",
      IngestLadder.frozenGates(weights, nBuckets = cfg.n_buckets,
        thrMilli = cfg.thr_milli, minWords = cfg.min_words,
        repetition = cfg.repetition,
        lambda = lambda, dsirThrX10k = cfg.dsir_thr_x10k, lm = lm,
        maxMeanSurprisalX10k =
          cfg.max_mean_surprisal_x10k.getOrElse(Long.MaxValue),
        unseenNat10k = cfg.unseen_nat10k, c4 = cfg.c4_rules,
        c4BadWords = cfg.c4_bad_words.getOrElse(Nil)))
    // optional LEARNED LANGUAGE gate (the CCNet shape: admit only the
    // target languages, judged by a frozen hashed-char-ngram model —
    // [[graft.ext.Corpus.langIdPredict]] — instead of the stopword
    // heuristic): doc-local and deterministic in (row, frozen model),
    // so replay admits the identical subset. Documents shorter than
    // `lang_n` characters have no features, no prediction, and are NOT
    // admitted while this gate is on (a doc too short to identify is
    // below any curation floor anyway). Runs before the containment
    // gate so off-language text never pays the postings probe.
    val langFiltered = langModel match {
      case None => g.admitted
      case Some(m) =>
        val keep = Corpus.langIdPredict(g.admitted, "__adm_id",
            "__adm_text", m, cfg.lang_n, cfg.lang_n_buckets)
          .filter(col("pred_lang").isin(cfg.allowed_langs: _*))
          .select(col("id").as("__adm_id"))
        Materialize.multiScan(
          g.admitted.join(keep, Seq("__adm_id"), "left_semi"))
    }
    // seventh gate (optional): steady-state containment — documents
    // τ-contained in an ALREADY-ADMITTED doc (embedded quotes) are
    // turned away, probed against the persisted shingle-postings index;
    // survivors' postings join the index. Runs AFTER the doc-local
    // gates so only text that cleared them pays the tokenize+probe.
    // In-batch containment is deliberately NOT checked here: the
    // compacted batch is unique per (db, tb, pk), and cross-document
    // in-batch collapse is the ingest ladder's job
    // ([[graft.ext.IngestLadder.admitBatch]]).
    val admittedScored = cfg.containment_index_dir match {
      case None => langFiltered
      case Some(dir) =>
        // a fold interrupted by a crash would hide or double rows
        Layout.recoverFold(compacted.sparkSession, dir)
        val tau = cfg.containment_tau_x10k.toDouble / 10000
        val posts = Materialize.multiScan(graft.ext.Dedup.shinglePostings(
          langFiltered, "__adm_id", "__adm_text", cfg.containment_n))
        val drops = Layout.priorPartitions(langFiltered.sparkSession, dir,
            batchId) match {
          case Some(index) => graft.ext.Dedup.containmentProbe(posts,
              index.select(col("id"), col("m"), col("sh64")),
              tau, cfg.containment_max_doc_freq.getOrElse(Int.MaxValue))
            .filter(col("cont_batch") >= tau)
            .select(col("batch_id").as("__adm_id")).distinct()
          case None => posts.limit(0).select(col("id").as("__adm_id"))
        }
        val survivors = Materialize.multiScan(
          langFiltered.join(drops, Seq("__adm_id"), "left_anti"))
        // per-batch Overwrite partition: a replayed batch rewrites its
        // own postings instead of appending a duplicate set
        posts.join(survivors.select(col("__adm_id")),
            posts("id") === col("__adm_id"), "left_semi")
          .select(col("id"), col("m"), col("sh64"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
        posts.unpersist()
        // auto-maintenance: foreachBatch serialization means every
        // partition below the CURRENT id is committed (batch N starts
        // only after N−1 committed; a failed batch replays under its
        // own id, never folded here) — so folding < batchId needs no
        // ledger lookup
        cfg.containment_maintain_every.foreach { k =>
          if (k > 0 && batchId % k == k - 1)
            maintainPostingsIndex(compacted.sparkSession, dir, batchId)
        }
        survivors
    }
    val admittedDocs = admittedScored.drop("__adm_text", "__adm_id")
    val out = Materialize.multiScan(admittedDocs.unionByName(bypass))
    out.count() // materialize while the gate's caches are live
    // audit trail of turned-away rows, replay-idempotent per-batch dir
    // (docs0, not docs: rows the URL rung turned away belong in it too)
    cfg.rejected_dir.foreach { dir =>
      docs0.join(admittedScored.select(col("__adm_id")), Seq("__adm_id"),
          "left_anti")
        .drop("__adm_text", "__adm_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
    }
    if (admittedScored ne langFiltered) admittedScored.unpersist()
    if (langFiltered ne g.admitted) langFiltered.unpersist()
    g.release()
    if (docs ne docs0) docs.unpersist()
    out
  }

  /** Postings-index maintenance: fold COMMITTED per-batch partitions
    * into one consolidated `batch=-1` partition. The containment gate
    * writes one `batch=<id>` partition per micro-batch (the
    * replay-idempotent Overwrite layout) — an unattended stream
    * accumulates partition directories linearly in tick count, the
    * small-files failure mode that dominates scan cost at 100 TB.
    *
    * Only partitions with `0 ≤ batch < committedBelow` (plus any prior
    * `batch=-1` fold) are touched: foreachBatch never replays a
    * committed batch, so those rows can never need per-batch Overwrite
    * again — and the fold target `batch=-1` is a value no real batch id
    * takes, so the replay exclusion in [[Layout.priorPartitions]]
    * (`batch =!= currentId`, ids ≥ 0) always keeps folded rows, exactly
    * right for committed postings. Pass `committedBelow` = the last
    * batch id the SINK's ledger shows committed (not merely written).
    *
    * Call from the serialized window that runs the ticks (no concurrent
    * tick). The fold is crash-safe ([[graft.ext.Layout.foldBatchPartitions]]):
    * the gate runs [[graft.ext.Layout.recoverFold]] on the index before
    * every probe.
    *
    * @return number of partition directories folded (0 = nothing to do)
    */
  def maintainPostingsIndex(spark: SparkSession, dir: String,
                            committedBelow: Long,
                            targetBytes: Long = 128L << 20): Int =
    // the generic committed-partition fold (r15: factored to
    // [[graft.ext.Layout.foldBatchPartitions]] so every per-batch
    // admission layout shares one swap discipline); the leaf dirs carry
    // exactly the (id, m, sh64) postings schema
    Layout.foldBatchPartitions(spark, dir, committedBelow, targetBytes)
}
