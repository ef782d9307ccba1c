package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.JobConfig

class ConfigSpec extends AnyFunSuite {
  // shaped like the reference's config contract (readme.md:11-45)
  val json = """{
    "redshift_conf": {"url": "jdbc:redshift://c:5439/db", "database": "db",
      "schema": "public", "user": "u", "password": "p",
      "tmpdir": "s3://tmp", "aws_iam_role": "arn:aws:iam::1:role/r"},
    "msk_conf": {"brokers": "b-1:9092", "topic": "cdc",
      "maxOffsetsPerTrigger": 200000, "groupId": "g1",
      "startingOffsets": "earliest", "pollTimeoutMs": 240000},
    "spark_batch_conf": {"windowSize": "30 seconds",
      "checkpointLocation": "s3://ckpt"},
    "spark_conf": {"executorMemory": "12g", "executorCores": 4,
      "shufflePartitions": 1, "defaultParallelism": 1},
    "record_id_key": "order_id",
    "apply_delete": false
  }"""

  test("parses the reference-shaped config contract") {
    val c = JobConfig.fromJson(json)
    assert(c.msk_conf.maxOffsetsPerTrigger.contains(200000L))
    assert(c.msk_conf.topic == "cdc")
    assert(c.spark_batch_conf.windowSize == "30 seconds")
    assert(c.spark_conf.get.shufflePartitions.contains(1))
    assert(c.record_id_key == "order_id")
    assert(!c.apply_delete)
    assert(c.cdc_timestamp_format == "yyyy-MM-dd'T'HH:mm:ss'Z'") // default
    assert(c.admission_conf.isEmpty) // extension key absent = stage off
  }

  test("admission_conf parses with defaults and optional frozen tables") {
    val withAdm = json.replace(""""apply_delete": false""",
      """"apply_delete": false,
        "admission_conf": {
          "text_expr": "get_json_object(payload, '$.text')",
          "weights_path": "s3://frozen/weights",
          "min_words": 20, "repetition": true,
          "lm_path": "s3://frozen/lm", "max_mean_surprisal_x10k": 120000,
          "rejected_dir": "s3://audit/rejected",
          "c4_rules": true, "c4_bad_words": ["spamword", "junkword"],
          "url_expr": "get_json_object(payload, '$.url')",
          "url_index_dir": "s3://frozen/urlkeys"
        }""")
    val a = JobConfig.fromJson(withAdm).admission_conf.get
    assert(a.text_expr.contains("$.text"))
    assert(a.weights_path == "s3://frozen/weights")
    assert(a.n_buckets == 1024 && a.thr_milli == 0L) // defaults
    assert(a.min_words == 20 && a.repetition)
    assert(a.dsir_lambda_path.isEmpty, "unconfigured gate stays off")
    assert(a.lm_path.contains("s3://frozen/lm"))
    assert(a.max_mean_surprisal_x10k.contains(120000L))
    assert(a.rejected_dir.contains("s3://audit/rejected"))
    assert(a.c4_rules && a.c4_bad_words.contains(List("spamword", "junkword")))
    assert(a.url_expr.contains("get_json_object(payload, '$.url')"))
    assert(a.url_index_dir.contains("s3://frozen/urlkeys"))
    assert(a.containment_index_dir.isEmpty, "unconfigured gate stays off")
  }

  test("kafka reader options mirror the reference set, maxOffsetsPerTrigger wired") {
    // the connector itself is absent from this environment (external
    // package, zero egress), so the option CONTRACT is the testable
    // surface — reference src/glue_pg_redshift_cdc.py:223-230 + the
    // dead maxOffsetsPerTrigger key (readme.md:27) this rebuild fixes
    val opts = graft.pipeline.CdcPipeline.kafkaOptions(JobConfig.fromJson(json))
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "b-1:9092",
      "subscribe" -> "cdc",
      "startingOffsets" -> "earliest",
      "maxOffsetsPerTrigger" -> "200000",
      "kafka.consumer.commit.groupid" -> "g1",
      "kafkaConsumer.pollTimeoutMs" -> "240000"))
    // optional keys drop out rather than writing nulls
    val minimal = JobConfig.fromJson(json
      .replace(""""maxOffsetsPerTrigger": 200000, "groupId": "g1",""", "")
      .replace(""", "pollTimeoutMs": 240000""", ""))
    val minOpts = graft.pipeline.CdcPipeline.kafkaOptions(minimal)
    assert(minOpts.keySet ==
      Set("kafka.bootstrap.servers", "subscribe", "startingOffsets"))
  }

  test("RunPipeline refuses apply_delete = false before building a session") {
    val f = java.nio.file.Files.createTempFile("graft_job", ".json")
    java.nio.file.Files.writeString(f, json)
    val e = intercept[IllegalArgumentException](
      graft.tools.RunPipeline.main(Array(f.toString, "dms")))
    assert(e.getMessage.contains("apply_delete"))
  }
}
