package graft.tools

import java.util.Properties

import org.apache.spark.sql.SparkSession

import graft.config.JobConfig
import graft.envelope.{CdcFormat, DmsCdc, MongoCdc, PgCdc}
import graft.pipeline.CdcPipeline
import graft.sink.{JdbcMergeSink, RedshiftDialect, StagingConf}

/** Production entry point: the equivalent of the reference's three Glue
  * job scripts, collapsed into one binary parameterized by
  * (config JSON, CDC dialect).
  *
  * {{{
  *   spark-submit --class graft.tools.RunPipeline \
  *     --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver> \
  *     engine.jar /path/to/job_config.json pg
  * }}}
  *
  * The config JSON follows the reference's contract (readme.md:11-45);
  * see [[graft.config.JobConfig]]. Runs until terminated, committing
  * per-trigger via the checkpoint.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <config.json> <mongo|pg|dms>")
    val cfg = JobConfig.fromFile(args(0))
    // no sink has a skip-deletes mode: refuse the job rather than apply
    // the deletes it asked to skip
    require(cfg.apply_delete, "apply_delete = false is not supported: " +
      "every sink applies deletes; remove the key or set it to true")
    val format: CdcFormat = args(1) match {
      case "mongo" => MongoCdc
      case "pg" => PgCdc
      case "dms" => DmsCdc(cfg.record_id_key)
      case other => throw new IllegalArgumentException(s"unknown dialect: $other")
    }

    val builder = SparkSession.builder()
      .appName(s"graft-cdc-${format.name}")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // honor the reference's spark_conf knobs when present (readme.md:36-43)
    cfg.spark_conf.foreach { k =>
      k.shufflePartitions.foreach(n => builder.config("spark.sql.shuffle.partitions", n))
      k.defaultParallelism.foreach(n => builder.config("spark.default.parallelism", n))
      k.executorMemory.foreach(m => builder.config("spark.executor.memory", m))
      k.executorCores.foreach(c => builder.config("spark.executor.cores", c))
      k.speculation.foreach(s => builder.config("spark.speculation",
        s.equalsIgnoreCase("true").toString)) // tolerate the "fasle" typo
      k.dynamicAllocationEnabled.foreach(d =>
        builder.config("spark.dynamicAllocation.enabled",
          d.equalsIgnoreCase("true").toString))
    }
    val spark = builder.getOrCreate()

    val props = new Properties()
    props.setProperty("user", cfg.redshift_conf.user)
    props.setProperty("password", cfg.redshift_conf.password)
    // tmpdir configured -> staged CSV + COPY bulk loads (the reference's
    // S3-staging path, readme.md:18-19); absent -> row-wise JDBC inserts
    val staging = cfg.redshift_conf.tmpdir
      .map(d => StagingConf(d, cfg.redshift_conf.aws_iam_role))
    val sink = new JdbcMergeSink(cfg.redshift_conf.url, props,
      RedshiftDialect, staging)

    val pipeline = new CdcPipeline(format, sink, tableParallelism = 10,
      tiebreaker = Some("offset"),
      // DMS lands typed relational columns (runtime-inferred, cached);
      // pg/mongo land the payload as an annotated SUPER column
      payloadExplosion =
        if (format.name == "dms") Some(new graft.pipeline.SchemaInference())
        else None,
      tsCoerceFormat = cfg.cdc_timestamp_format,
      // optional frozen-table quality admission between compaction and
      // the sink fanout (config-driven; frozen tables load once here)
      admission = cfg.admission_conf.map(a =>
        graft.pipeline.QualityAdmission.fromConfig(spark, a,
          format.deleteMarker)))
    val stream = CdcPipeline.kafkaSource(spark, cfg)
    val query = pipeline.start(stream,
      cfg.spark_batch_conf.checkpointLocation,
      cfg.spark_batch_conf.windowSize)
    query.awaitTermination()
  }
}
