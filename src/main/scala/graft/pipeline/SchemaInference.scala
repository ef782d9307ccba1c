package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DMS-style runtime payload schema inference with cross-batch caching.
  *
  * The reference re-infers the payload schema on EVERY batch for every
  * table (`spark.read.json(rdd)`, src/glue_dms_redshift_cdc.py:161) — an
  * extra full pass over the slice per batch, and silently brittle under
  * drift (SURVEY.md §7.4#2). Here:
  *   - inference runs once per (db, tb) and is cached on the driver;
  *   - each batch's inferred schema is MERGED into the cache (new columns
  *     widen the schema; conflicting types resolve by Spark's merge), so
  *     schema drift grows the relation instead of breaking it;
  *   - inference reads at most 100 000 payload rows per batch and table:
  *     a bounded sample, not the world (drift still folds in over batches).
  */
final class SchemaInference {
  private val cache = TrieMap.empty[(String, String), StructType]

  def inferredSchema(db: String, tb: String): Option[StructType] =
    cache.get((db, tb))

  /** Explode a JSON-string payload column into typed columns, keeping
    * the passthrough columns alongside (reference :163-164
    * `select("d.*", "ts", "op")`).
    */
  def explodePayload(slice: DataFrame, db: String, tb: String,
                     payloadCol: String, keep: Seq[String]): DataFrame = {
    val spark = slice.sparkSession
    import spark.implicits._
    val batchSchema = spark.read
      .json(slice.select(col(payloadCol)).as[String].limit(100000))
      .schema
    val schema = cache.updateWith((db, tb)) {
      case Some(prev) => Some(mergeSchemas(prev, batchSchema))
      case None => Some(batchSchema)
    }.get
    slice
      .withColumn("__d", from_json(col(payloadCol), schema))
      .select(col("__d.*") +: keep.map(col): _*)
  }

  /** Union of fields; same-name fields with conflicting types degrade to
    * string (the lossless common representation for JSON payloads),
    * recursing into nested structs. Monotone: columns only get added or
    * widened, never dropped — the explicit drift policy the reference
    * lacks (it would diverge from the already-created warehouse table).
    */
  private def mergeSchemas(a: StructType, b: StructType): StructType = {
    import org.apache.spark.sql.types._
    val bFields = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bFields.get(f.name) match {
        case Some(g) if g.dataType == f.dataType => f
        case Some(g) => (f.dataType, g.dataType) match {
          case (x: StructType, y: StructType) => f.copy(dataType = mergeSchemas(x, y))
          case (LongType, DoubleType) | (DoubleType, LongType) =>
            f.copy(dataType = DoubleType)
          case _ => f.copy(dataType = StringType)
        }
        case None => f
      }
    }
    StructType(merged ++ b.fields.filterNot(f => a.fieldNames.contains(f.name)))
  }
}

object SchemaInference {
  /** Config-format timestamp coercion of exploded payload columns — the
    * reference unconditionally rewrites `gmt_created`/`gmt_modified`
    * with `cdc_timestamp_format` after explosion
    * (src/glue_dms_redshift_cdc.py:165-166), which throws when a table
    * lacks them; here absent columns are skipped (payload schemas vary
    * per table by construction).
    */
  def coerceTimestamps(df: DataFrame, cols: Seq[String], fmt: String): DataFrame =
    cols.filter(df.columns.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, to_timestamp(col(c), fmt)))
}
