package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.IngestConfig
import graft.ext.{Dedup, IncrementalDedup, IngestLadder, LadderBloom,
  LadderRungMonitor}

/** Production entry point for the CURATION ingest loop — the
  * LLM-pipeline twin of [[RunPipeline]] (which deploys the reference's
  * CDC core, readme.md:11-45): config JSON → checkpointed stream →
  * [[graft.ext.IngestLadder.admitBatch]] per tick →
  * [[graft.ext.IncrementalDedup.reconcileWindow]] on the cadence →
  * monitor alarms on stderr.
  *
  * {{{
  *   spark-submit --class graft.tools.RunIngest \
  *     engine.jar /path/to/ingest_config.json
  * }}}
  *
  * See [[graft.config.IngestConfig]] for the contract. The loop is the
  * spec-pinned production choreography (`RunIngestSpec` drives this
  * exact entry point end-to-end over a file stream, restart included):
  *
  *  - every tick runs the full ladder (url → lines → exact → gates →
  *    near → containment → domain) against the persistent indexes
  *    under `root`, writing per-batch Overwrite partitions — the
  *    replay-idempotence contract, so at-least-once redelivery from
  *    the checkpoint converges;
  *  - every `maintain_every`-th tick runs the composed maintenance
  *    window from the SAME serialized foreachBatch body (the one
  *    serialization contract everything here stands on): incremental
  *    reconcile from the persisted watermark, apply, opt-in lagged
  *    retention and quota refund, fold + sidecar rebuild;
  *  - per-rung drop-rate CUSUM alarms (when configured) print as
  *    `[ingest-monitor]` stderr lines — counts ride the verdict write
  *    via `Dataset.observe`, zero extra scans.
  *
  * Frozen tables (gate weights, DSIR lambdas, language model, PSL
  * rules) load ONCE at startup — they are broadcast-sized by contract.
  */
object RunIngest {

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: RunIngest <ingest_config.json>")
    val cfg = IngestConfig.fromFile(args(0))
    val spark = SparkSession.builder()
      .appName("graft-ingest")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the incremental reconcile's closure hops push collected key
      // sets as IN filters into sorted-fold parquet scans; the shared
      // threshold keeps them from overflowing parquet-mr's stack (see
      // graft.Sessions)
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.Sessions.ParquetInFilterThreshold.toString)
      .getOrCreate()
    start(spark, cfg).awaitTermination()
  }

  /** Assemble and start the loop (separated from `main` so the e2e
    * spec and a notebook deployment drive the same wiring). */
  def start(spark: SparkSession, cfg: IngestConfig): StreamingQuery = {
    val tau = cfg.near_tau_x10k / 10000.0
    val contTau = cfg.containment_tau_x10k.map(_ / 10000.0)
    val maxDocFreq = cfg.max_doc_freq.getOrElse(Int.MaxValue)
    require(cfg.maintain_every > 0,
      s"maintain_every must be positive: ${cfg.maintain_every}")

    // frozen tables: loaded once, broadcast-sized by contract
    val gates: Seq[IngestLadder.Gate] = cfg.gates_conf match {
      case None => Seq.empty
      case Some(g) => IngestLadder.frozenGates(
        weights = spark.read.parquet(g.weights_path),
        nBuckets = g.n_buckets, thrMilli = g.thr_milli,
        minWords = g.min_words, repetition = g.repetition,
        lambda = g.dsir_lambda_path.map(spark.read.parquet(_)),
        dsirThrX10k = g.dsir_thr_x10k,
        c4 = g.c4_rules, c4BadWords = g.c4_bad_words.getOrElse(Nil),
        langModel = g.lang_model_path.map(spark.read.parquet(_)),
        allowedLangs = g.allowed_langs, langN = g.lang_n,
        langNBuckets = g.lang_n_buckets)
    }
    val pslRules = cfg.psl_rules_path.map(p =>
      spark.read.text(p).select(col("value").as("rule")))
    val refund = if (!cfg.refund_quota) None
      else Some(IncrementalDedup.QuotaRefund(
        cfg.url_col.getOrElse(throw new IllegalArgumentException(
          "refund_quota requires url_col")),
        Dedup.publicSuffixes, pslRules))
    // CUSUM state persists under root by default: a restart must not
    // silently zero drift accumulation (slow drifts spanning restarts
    // would otherwise never alarm) — the state file is read back at
    // construction, so the restarted monitor continues mid-drift
    val monitor = cfg.monitor_conf.map(m => new LadderRungMonitor(
      m.rungs.map(_.toSeq).getOrElse(
        Seq("url", "lines", "exact", "near", "containment", "domain")),
      mu = m.mu_bp, kappa = m.kappa_bp, h = m.h_bp,
      stateDir = Some(cfg.root),
      hadoopConf = spark.sparkContext.hadoopConfiguration))

    val source: DataFrame = cfg.source_format match {
      case "kafka" =>
        val schema = cfg.source_schema_ddl.getOrElse(
          throw new IllegalArgumentException(
            "kafka source requires source_schema_ddl for the value payload"))
        spark.readStream.format("kafka")
          .options(cfg.source_options).load()
          .select(from_json(col("value").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(schema))
            .as("__doc"))
          .select(col("__doc.*"))
      case fmt =>
        val path = cfg.source_path.getOrElse(
          throw new IllegalArgumentException(
            s"file source '$fmt' requires source_path"))
        val schema = cfg.source_schema_ddl.getOrElse(
          throw new IllegalArgumentException(
            "file streams require source_schema_ddl"))
        spark.readStream.format(fmt)
          .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
          .options(cfg.source_options).load(path)
    }

    // regime observability: silent plan-shape decisions (the near
    // sidecar's broadcast skip, the incremental-vs-full reconcile
    // choice) surface on the [ingest-maintain] line so a deployment
    // debugging a window-cost cliff can see which regime fired —
    // recorded by the operators themselves, zero extra scans
    val regime = new IngestLadder.RegimeLog
    val writer = source.writeStream
      .option("checkpointLocation", cfg.checkpoint_location)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        IngestLadder.admitBatch(batch, cfg.id_col, cfg.text_col,
          cfg.url_col, gates, cfg.root, n = cfg.shingle_n, tau = tau,
          batchId = id, maxDocFreq = maxDocFreq,
          containmentTau = contTau, domainQuota = cfg.domain_quota,
          lineDedup = cfg.line_dedup, pslRules = pslRules,
          monitor = monitor, regime = Some(regime))
        monitor.flatMap(_.latest)
          .filter(t => t.alarmUp.nonEmpty || t.alarmDown.nonEmpty)
          .foreach(t => System.err.println(
            s"[ingest-monitor] batch=${t.batchId} n=${t.n} " +
              s"alarm_up=${t.alarmUp.mkString(",")} " +
              s"alarm_down=${t.alarmDown.mkString(",")} " +
              s"drop_bp=${t.dropBp}"))
        if (id % cfg.maintain_every == cfg.maintain_every - 1) {
          val w = IncrementalDedup.reconcileWindow(spark, cfg.root,
            cfg.id_col, tau = tau, committedBelow = id,
            maxDocFreq = maxDocFreq, retire = cfg.retire_evidence,
            targetBytes = cfg.target_bytes,
            retireLagWindows = cfg.retire_lag_windows,
            refundQuota = refund)
          if (cfg.build_sidecars)
            // build any MISSING sidecar (one column-pruned meta probe
            // per key tree; existing ones were just rebuilt by the
            // window's maintainLadder). Per-window and per-subtree, not
            // a one-shot flag: restart-stable, survives a crash
            // mid-buildAll, and a subtree that gains data later (e.g.
            // line_index after lineDedup turns on) still gets its
            // sidecar; build() itself skips trees with no data.
            LadderBloom.Keys.foreach { case (sub, _) =>
              if (LadderBloom.readMeta(spark, cfg.root, sub).isEmpty)
                LadderBloom.build(spark, cfg.root, sub,
                  committedBelow = id)
            }
          // release the window's operator caches: the reconcilers
          // persist corpus-scale relations (the full postings+evidence
          // union, per-hop closure frontiers) whose lifetime contract
          // is caller-release — the window's counts are fully
          // materialized and the delta is snapshotted durably, so
          // nothing lazy escapes; without this a long-running stream
          // accumulates one corpus-sized cache entry per window until
          // memory/disk exhaustion. Ticks clean up after themselves;
          // frozen gate tables are re-read (broadcast-sized) next tick.
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(false))
          val modeLabel = IncrementalDedup.ReconcileModes.getOrElse(
            w.getOrElse("reconcile_mode", -1L), "unknown")
          System.err.println(s"[ingest-maintain] batch=$id $w " +
            s"reconcile_mode=$modeLabel near_sidecar_skipped=" +
            regime.nearSidecarSkipped.map(_.toString).getOrElse("n/a"))
        }
        ()
      }
    cfg.trigger.fold(writer)(t =>
      writer.trigger(Trigger.ProcessingTime(t))).start()
  }
}
