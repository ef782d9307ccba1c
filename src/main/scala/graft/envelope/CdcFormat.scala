package graft.envelope

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One CDC envelope dialect = schema + normalization.
  *
  * The reference ships three Glue scripts that differ ONLY in envelope
  * schema, primary-key extraction, delete-marker value and payload pick
  * (SURVEY.md §7.1); ~85% of the code is triplicated. Here each dialect
  * is a small strategy object and everything downstream (compaction,
  * fanout, merge) is shared.
  *
  * `extract` turns a DataFrame with a raw Kafka `value` string column
  * into the normalized CDC relation:
  *
  * {{{
  *   db_name  string   -- target database
  *   tb_name  string   -- target table
  *   pk       string   -- primary key (stringified)
  *   ts_ms    long     -- event version; latest wins
  *   op       string   -- dialect's op code, normalized column name
  *   payload  string   -- the row/document as raw JSON (lands as SUPER)
  * }}}
  *
  * plus any passthrough columns the caller asked to keep (e.g. Kafka
  * offset as tiebreaker). Everything is built from codegen'd builtin
  * functions — `from_json`, `get_json_object`, struct field access —
  * no UDFs, so the whole stage stays inside WholeStageCodegen.
  */
trait CdcFormat {
  def name: String

  /** Fixed outer envelope schema (payloads stay raw JSON strings). */
  def schema: StructType

  /** Value of `op` that marks a delete event. */
  def deleteMarker: String

  /** Warehouse DDL types for the normalized columns (reference P10:
    * `alias(name, metadata={'redshift_type': ...})`,
    * src/glue_pg_redshift_cdc.py:139-145) — applied by the pipeline via
    * [[graft.sink.SinkTypes.annotate]] between compaction and the sink,
    * so the payload lands as SUPER and keys/markers get declared widths.
    * Empty where the reference annotates nothing (DMS explodes payloads
    * to typed relational columns instead).
    */
  def sinkTypes: Map[String, String] = Map.empty

  /** value:string → parsed envelope columns (adds `env` struct). */
  def parse(df: DataFrame): DataFrame =
    df.withColumn("env", from_json(col("value").cast(StringType), schema))

  /** Parsed envelope → normalized (db_name, tb_name, pk, ts_ms, op,
    * payload) plus requested passthrough columns of the input (e.g. the
    * Kafka offset, used as the latest-wins tiebreaker). */
  def extract(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame

  /** Convenience: raw value → normalized. */
  def normalize(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    extract(parse(df), passthrough)

  /** Normalize for a dead-letter split: the normalized frame plus the
    * raw value and a `__bad` flag on records whose envelope fails to
    * parse or lacks routing identity (table / pk / version), which would
    * otherwise corrupt compaction ("latest null per null"). Callers that
    * consume both halves (the pipeline) persist THIS frame once, so the
    * envelope parse — the dominant cost at scale — runs once, not once
    * per half. Dialect-level drops (e.g. DMS control records) are
    * filtering, not dead letters: they are absent from both halves. */
  def normalizeFlagged(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val keepValue = if (df.columns.contains("value")) Seq("value") else Nil
    extract(parse(df), passthrough ++ keepValue)
      .withColumn("__bad",
        col("tb_name").isNull || col("pk").isNull || col("ts_ms").isNull)
  }

  /** Split a [[normalizeFlagged]] frame into (good, dlq: raw value + passthrough + reason). */
  def splitFlagged(flagged: DataFrame,
                   passthrough: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val keepValue = if (flagged.columns.contains("value")) Seq("value") else Nil
    val good = flagged.filter(!col("__bad")).drop("__bad" +: keepValue: _*)
    val dlq = flagged.filter(col("__bad"))
      .select((keepValue ++ passthrough).map(col): _*)
      .withColumn("dlq_reason", lit(s"unroutable_${name}_envelope"))
    (good, dlq)
  }
}

/** MongoDB/DocumentDB change-stream envelope.
  *
  * Schema per reference src/glue_docdb_redshift_cdc.py:65-92; pk is the
  * `$._id` JSON path of `documentKey` (:133), routing from `ns.db` /
  * `ns.coll` (:134-135), order by envelope `ts_ms` (:137), payload is
  * `fullDocument` (:144), delete marker the literal "delete" (:184).
  */
object MongoCdc extends CdcFormat {
  val name = "mongo"
  val deleteMarker = "delete"

  /** reference src/glue_docdb_redshift_cdc.py:141-147 (doc_id itself is
    * unannotated there; payload→SUPER, names/op as declared). */
  override val sinkTypes: Map[String, String] = Map(
    "db_name" -> "VARCHAR(120)",
    "tb_name" -> "VARCHAR(120)",
    "payload" -> "SUPER",
    "op" -> "VARCHAR(64)")

  val schema: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("operationType", StringType),
    StructField("fullDocument", StringType),
    StructField("source", StructType(Seq(
      StructField("ts_ms", LongType),
      StructField("snapshot", StringType)))),
    StructField("ts_ms", LongType),
    StructField("ns", StructType(Seq(
      StructField("db", StringType),
      StructField("coll", StringType)))),
    StructField("to", StructType(Seq(
      StructField("db", StringType),
      StructField("coll", StringType)))),
    StructField("documentKey", StringType),
    StructField("updateDescription", StructType(Seq(
      StructField("updatedFields", StringType),
      StructField("removedFields", ArrayType(StringType))))),
    StructField("clusterTime", StringType),
    StructField("txnNumber", LongType),
    StructField("lsid", StructType(Seq(
      StructField("id", StringType),
      StructField("uid", StringType))))))

  def extract(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = df.select(Seq(
    col("env.ns.db").as("db_name"),
    col("env.ns.coll").as("tb_name"),
    get_json_object(col("env.documentKey"), "$._id").as("pk"),
    col("env.ts_ms").as("ts_ms"),
    col("env.operationType").as("op"),
    col("env.fullDocument").as("payload")) ++ passthrough.map(col): _*)
}

/** Debezium PostgreSQL envelope.
  *
  * Schema per reference src/glue_pg_redshift_cdc.py:68-88; pk comes from
  * `after.$.id` falling back to `before.$.id` (:128-129), routing from
  * `source.db`/`source.table` (:131-132), order by SOURCE ts_ms (:132,134),
  * payload `coalesce(after, before)` (:138), delete marker 'd' (:183).
  */
object PgCdc extends CdcFormat {
  val name = "pg"
  val deleteMarker = "d"

  /** reference src/glue_pg_redshift_cdc.py:139-145. */
  override val sinkTypes: Map[String, String] = Map(
    "pk" -> "INT4",
    "db_name" -> "VARCHAR(120)",
    "tb_name" -> "VARCHAR(120)",
    "payload" -> "SUPER",
    "op" -> "CHAR(2)")

  val schema: StructType = StructType(Seq(
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("source", StructType(Seq(
      StructField("version", StringType),
      StructField("connector", StringType),
      StructField("name", StringType),
      StructField("ts_ms", LongType),
      StructField("snapshot", StringType),
      StructField("db", StringType),
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("sequence", StringType),
      StructField("txId", LongType),
      StructField("lsn", LongType),
      StructField("xmin", LongType))), nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("ts_ms", LongType),
    StructField("transaction", StringType)))

  def extract(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = df.select(Seq(
    col("env.source.db").as("db_name"),
    col("env.source.table").as("tb_name"),
    when(col("env.after").isNotNull, get_json_object(col("env.after"), "$.id"))
      .otherwise(get_json_object(col("env.before"), "$.id")).as("pk"),
    col("env.source.ts_ms").as("ts_ms"),
    col("env.op").as("op"),
    coalesce(col("env.after"), col("env.before")).as("payload")) ++ passthrough.map(col): _*)
}

/** AWS DMS envelope.
  *
  * Schema per reference src/glue_dms_redshift_cdc.py:44-55; control
  * records (`metadata.record-type != "data"`) dropped (:88), routing from
  * `metadata.schema-name`/`table-name` (:139-140), op from
  * `metadata.operation` with delete marker "delete" (:175,185), event
  * time parsed from `metadata.timestamp` (:138). The pk lives INSIDE the
  * payload under a configurable key (default "id", :36,67) — extraction
  * happens here so compaction stays generic; full payload explosion via
  * schema inference is downstream (see [[graft.pipeline.SchemaInference]]).
  */
final case class DmsCdc(recordIdKey: String = "id") extends CdcFormat {
  val name = "dms"
  val deleteMarker = "delete"

  val schema: StructType = StructType(Seq(
    StructField("data", StringType),
    StructField("control", StringType),
    StructField("metadata", StructType(Seq(
      StructField("timestamp", StringType),
      StructField("record-type", StringType),
      StructField("operation", StringType),
      StructField("partition-key-type", StringType),
      StructField("schema-name", StringType),
      StructField("table-name", StringType))), nullable = false)))

  def extract(df: DataFrame, passthrough: Seq[String] = Nil): DataFrame = df
    // the control-record filter references the PARSED envelope, and a
    // plain filter-on-env gets pushed below the parse projection by the
    // optimizer, which DUPLICATES the from_json: every row then pays
    // the full envelope parse twice (once in the cloned filter at the
    // scan, once in the projection — the guide §4.4 shape, measured in
    // the r19 plan dump). explode(array(env)) is a Generate barrier:
    // filters on a generated attribute cannot push below the Generate,
    // so the parse evaluates exactly once per row. A 1-element explode
    // preserves row count and null behavior (env=null yields one
    // env=null row, which the filter drops — identical to before).
    .select(col("env") +: passthrough.map(col): _*)
    .select(explode(array(col("env"))).as("__env") +: passthrough.map(col): _*)
    .filter(col("__env.metadata.`record-type`") === "data")
    .select(Seq(
      col("__env.metadata.`schema-name`").as("db_name"),
      col("__env.metadata.`table-name`").as("tb_name"),
      get_json_object(col("__env.data"), s"$$.$recordIdKey").as("pk"),
      unix_millis(to_timestamp(col("__env.metadata.timestamp"),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")).as("ts_ms"),
      col("__env.metadata.operation").as("op"),
      col("__env.data").as("payload")) ++ passthrough.map(col): _*)
}
