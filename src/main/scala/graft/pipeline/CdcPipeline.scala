package graft.pipeline

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.compact.Compaction
import graft.config.JobConfig
import graft.envelope.CdcFormat
import graft.sink.MergeSink

/** The full CDC replication pipeline: stream of envelope JSON →
  * normalize → compact to latest-per-key → fan out per target table →
  * merge into the sink. One engine, any [[CdcFormat]] dialect — the
  * reference triplicates this per source type.
  *
  * Improvements over the reference, kept deliberately (SURVEY.md §4):
  *   - the compacted batch is persisted once and reused by every
  *     per-table slice (the reference recomputes the whole plan per
  *     table — N_tables full passes);
  *   - one collect of the fan-out frame's `(db_name, tb_name, pk)`
  *     per batch gives the target tables, the report's row counts and
  *     each table's merge keys — no emptiness probe, no `distinct()`
  *     job, no closing counts, and the file sink filters each target
  *     by its table's keys instead of re-scanning the cache for them
  *     (the reference probes with `rdd.count()` and window-sorts the
  *     targets, W4);
  *   - `maxOffsetsPerTrigger` is actually wired (declared dead in the
  *     reference config contract, readme.md:27);
  *   - ties on the event timestamp break on a passthrough column (Kafka
  *     offset) so compaction is deterministic.
  *
  * Scale posture: per-table work runs on a driver thread pool like the
  * reference (tables within a batch parallel, batches serial). The key
  * collect holds one batch's compacted keys on the driver — the keys
  * the file sink's per-table filters need there anyway — which
  * `maxOffsetsPerTrigger` bounds; a fan-out to millions of partitions
  * would switch to `partitionBy` on write — noted in SURVEY §7.3.
  */
final class CdcPipeline(
    format: CdcFormat,
    sink: MergeSink,
    tableParallelism: Int = 10,
    tiebreaker: Option[String] = None,
    dlq: Option[(DataFrame, Long) => Unit] = None,
    pipelineId: Option[String] = None,
    /** DMS mode (reference src/glue_dms_redshift_cdc.py:159-172): explode
      * each table slice's JSON payload into typed columns via cached
      * runtime inference before the merge, so the warehouse table is
      * relational, not a SUPER blob. Payload drift widens the inferred
      * schema monotonically; the sink adds the new columns to the target
      * (schema evolution). Payload field names must not collide with the
      * pipeline columns (pk/op/ts_ms/ts_date/tiebreaker) — same contract
      * as the reference. */
    payloadExplosion: Option[SchemaInference] = None,
    /** Format of the [[CdcPipeline.TsCoerceCols]] after explosion. */
    tsCoerceFormat: String = "yyyy-MM-dd'T'HH:mm:ss'Z'",
    /** Optional streaming QUALITY admission stage between compaction and
      * the sink fanout ([[QualityAdmission]], an extension beyond the
      * reference): (compacted batch, batchId) → admitted subset. The
      * hook returns a PERSISTED, materialized frame; the pipeline
      * unpersists it when the batch completes. Same plug-in shape as
      * `dlq`/`payloadExplosion`. */
    admission: Option[(DataFrame, Long) => DataFrame] = None) {

  private val pid = pipelineId.getOrElse(s"graft_${format.name}")

  /** Process one micro-batch of raw envelope records (`value` string
    * column + optional tiebreaker column, e.g. Kafka `offset`). A batch
    * with no rows calls neither hook; one with no routable rows calls
    * no admission hook; neither touches a sink target.
    *
    * @return per-batch metrics; counts that would need an extra pass
    *         over the data are -1 (dlqRows is real only when the DLQ
    *         path is enabled — the flagged frame is persisted then, and
    *         one aggregate over it both fills the cache and counts)
    */
  def processBatch(batch: DataFrame, batchId: Long): CdcPipeline.BatchReport =
    dlq match {
      case Some(writeDlq) =>
        // persist the flagged frame: the envelope parse feeds BOTH the
        // DLQ write and the good-path compaction, and must run once
        val f = format.normalizeFlagged(batch, passthrough = tiebreaker.toSeq)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // one pass fills the cache and counts both halves; a batch
          // with no rows stops here, before any hook
          val counts = f.agg(count(lit(1)), count(when(col("__bad"), 1))).head()
          if (counts.getLong(0) == 0) CdcPipeline.BatchReport(batchId, 0, 0, 0)
          else {
            val (good, bad) = format.splitFlagged(f, passthrough = tiebreaker.toSeq)
            writeDlq(bad, batchId)
            processNormalized(good, batchId, dlqRows = counts.getLong(1))
          }
        } finally f.unpersist()
      case None =>
        processNormalized(format.normalize(batch, passthrough = tiebreaker.toSeq),
          batchId, dlqRows = -1L)
    }

  private def processNormalized(norm: DataFrame, batchId: Long,
                                dlqRows: Long): CdcPipeline.BatchReport = {
    val order = Seq("ts_ms") ++ tiebreaker
    // aggregate-form compaction: map-side partials collapse each key's
    // versions before the shuffle (see Compaction.latestPerKeyAgg)
    val compacted = graft.sink.SinkTypes.annotate(
      Compaction
        .latestPerKeyAgg(norm, Seq("db_name", "tb_name", "pk"), order)
        .withColumn("ts_date", to_date(from_unixtime(col("ts_ms") / 1000))),
      format.sinkTypes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // without a DLQ hook nothing has split off the unroutable envelopes:
    // a null pk survives compaction as one row per table that the
    // sink's equi-join never matches, and a null table name fans out to
    // a phantom `null` table. Drop them here, over the cache — the same
    // good rows as the DLQ split (a null ts_ms always loses max_by).
    // Placed before the persist, the filter would be pushed through the
    // aggregate's keys into the envelope projection and re-run its
    // from_json.
    val routable = compacted.filter(col("tb_name").isNotNull &&
      col("pk").isNotNull && col("ts_ms").isNotNull)
    // admission (when configured) gates the compacted batch before any
    // table sees it; the hook's output is persisted by contract, so the
    // per-table slices scan the admitted cache, not the gate's joins.
    // The count ahead of it fills the cache the gate would fill anyway,
    // and keeps an empty batch away from the hook.
    var gated: Option[DataFrame] = None
    try {
      val routableRows = if (admission.isEmpty) -1L else routable.count()
      if (routableRows == 0)
        return CdcPipeline.BatchReport(batchId, 0, dlqRows, 0, admittedRows = 0)
      gated = admission.map(f => f(routable, batchId))
      val work0 = gated.getOrElse(routable)
      // the batch's one key pass: targets, report counts and every
      // table's merge keys come from these rows
      val keyRows = work0.select("db_name", "tb_name", "pk").collect()
      val tables = keyRows
        .groupMap(r => (r.getString(0), r.getString(1)))(r => r.get(2): Any).toSeq
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(tableParallelism, tables.length)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val work = Future.traverse(tables) { case ((db, tb), keys) =>
          Future {
            val base = work0
              .filter(col("db_name") === db && col("tb_name") === tb)
              .drop("db_name", "tb_name")
            val slice = payloadExplosion match {
              case Some(inf) =>
                val keep = base.columns.filterNot(_ == "payload").toSeq
                SchemaInference.coerceTimestamps(
                  inf.explodePayload(base, db, tb, "payload", keep),
                  CdcPipeline.TsCoerceCols, tsCoerceFormat)
              case None => base
            }
            sink.mergeOnce(pid, batchId, db, tb, slice, keyCol = "pk",
              opCol = "op", deleteMarker = format.deleteMarker, keys = Some(keys.toSeq))
          }
        }
        Await.result(work, Duration.Inf)
      } finally pool.shutdown()
      if (admission.isEmpty)
        CdcPipeline.BatchReport(batchId, keyRows.length, dlqRows, tables.length)
      else
        CdcPipeline.BatchReport(batchId, routableRows, dlqRows, tables.length,
          admittedRows = keyRows.length)
    } finally {
      gated.foreach(_.unpersist())
      compacted.unpersist()
    }
  }

  /** Attach to a streaming DataFrame of raw records.
    *
    * @param availableNow true = backfill mode (`Trigger.AvailableNow`):
    *        process everything currently available in rate-limited
    *        micro-batches, then stop — same checkpoint, so a live
    *        `ProcessingTime` run resumes where the backfill ended.
    */
  def start(stream: DataFrame, checkpointDir: String,
            windowSize: String = "30 seconds",
            availableNow: Boolean = false): StreamingQuery =
    stream.writeStream
      .foreachBatch((df: DataFrame, id: Long) => { processBatch(df, id); () })
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(windowSize))
      .option("checkpointLocation", checkpointDir)
      .start()
}

object CdcPipeline {

  /** Config-format timestamp columns coerced after payload explosion
    * (reference :165-166; absent columns skipped). */
  val TsCoerceCols: Seq[String] = Seq("gmt_created", "gmt_modified")

  /** Per-batch outcome metrics (counts of -1 mean "not measured" —
    * they'd cost an extra pass over unpersisted data; `admittedRows`
    * is real only when the admission stage is configured). */
  final case class BatchReport(batchId: Long, compactedRows: Long,
                               dlqRows: Long, tables: Int,
                               admittedRows: Long = -1L)

  /** The Kafka reader option set per the reference
    * (src/glue_pg_redshift_cdc.py:223-230) with `maxOffsetsPerTrigger`
    * wired in (declared dead in the reference config contract,
    * readme.md:27). Pure config→options so the contract is unit-testable
    * without a broker: the spark-sql-kafka connector is an external
    * package absent from this build environment (no artifact, no
    * egress), so broker-driven execution evidence must come from a
    * deployment with the connector on the classpath — every other stage
    * of the stream path is executed in specs via MemoryStream/file
    * sources, which exercise identical foreachBatch semantics.
    */
  def kafkaOptions(cfg: JobConfig): Map[String, String] = {
    val msk = cfg.msk_conf
    Map(
      "kafka.bootstrap.servers" -> msk.brokers,
      "subscribe" -> msk.topic,
      "startingOffsets" -> msk.startingOffsets) ++
      msk.maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      msk.groupId.map("kafka.consumer.commit.groupid" -> _) ++
      msk.pollTimeoutMs.map("kafkaConsumer.pollTimeoutMs" -> _.toString)
  }

  /** Kafka source stream from [[kafkaOptions]]. Requires the
    * spark-sql-kafka package on the cluster classpath. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  cfg: JobConfig): DataFrame =
    spark.readStream.format("kafka").options(kafkaOptions(cfg)).load()
      .selectExpr("CAST(value AS STRING) AS value", "offset")

  /** File-based envelope stream: a directory of JSON-lines envelope
    * files consumed incrementally (`maxFilesPerTrigger` as backpressure).
    * The Kafka-free path for replays, backfills, and test/dev
    * deployments. Unlike Kafka there is no per-record offset, so build
    * the pipeline with `tiebreaker = None` — compaction orders by the
    * event timestamp alone (the envelope's own version).
    */
  def fileSource(spark: org.apache.spark.sql.SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
}
