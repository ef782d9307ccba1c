package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CDC merge semantics, engine-side.
  *
  * The reference delegates the merge join to the warehouse:
  * `DELETE FROM target USING stage ON key; INSERT latest non-deletes`
  * (src/glue_pg_redshift_cdc.py:179-190) or `MERGE INTO` for DMS
  * (src/glue_dms_redshift_cdc.py:104-110). This object expresses the same
  * upsert+delete semantics as a Spark plan, for file-based targets and
  * for tests: delete-then-insert ≡ anti-join + union.
  *
  * Scale: `updates` is one compacted micro-batch — small relative to the
  * target — so its keys are broadcast into the anti-join; the 100 TB
  * target is never shuffled.
  */
object Merge {

  /** Apply one compacted batch of updates to a target snapshot.
    *
    * The anti-join's broadcast side is the batch's keys. By default they
    * are `updates.select(keys)`, so the broadcast re-runs `updates`' plan
    * (a scan of the compacted cache, in the pipeline). A caller that
    * already holds the keys on the driver passes them as `keyRows`: the
    * broadcast is then a driver-local relation of those rows, with no
    * pass over `updates`. Either way the broadcast collects every key to
    * the driver, so driver memory bounds the batch's key count — the
    * micro-batch regime, where `maxOffsetsPerTrigger` caps it.
    *
    * @param target  current table state (may be huge)
    * @param updates compacted batch: exactly one row per key, with an
    *                `op` column; rows whose op equals `deleteMarker`
    *                remove the key, everything else upserts.
    * @param keys    equality merge keys
    * @param keyRows the distinct values of `keys` in `updates`, one row
    *                per key in `keys` order; None selects them from
    *                `updates`
    * @throws org.apache.spark.sql.AnalysisException when `updates`' columns
    *         other than `opCol` differ from `target`'s — in either
    *         direction: a column only one side carries would otherwise be
    *         dropped from every row, silently
    */
  def applyBatch(target: DataFrame, updates: DataFrame, keys: Seq[String],
                 opCol: String, deleteMarker: String,
                 keyRows: Option[Seq[Row]] = None): DataFrame = {
    val touched = keyRows match {
      case Some(rows) =>
        updates.sparkSession.createDataFrame(rows.asJava,
          StructType(keys.map(updates.schema(_))))
      case None => updates.select(keys.map(col): _*)
    }
    val survivors = target.join(broadcast(touched), keys, "left_anti")
    survivors.unionByName(updates.filter(col(opCol) =!= deleteMarker).drop(opCol))
  }

  /** SCD2 (history-preserving) batch apply: instead of overwriting, a
    * new version CLOSES the key's open row (valid_to := new version's
    * ts) and appends itself as the new open row; a delete just closes.
    * The target accumulates full change history; the current state is
    * `valid_to IS NULL`.
    *
    * Plan shape mirrors [[applyBatch]]: the compacted batch broadcasts
    * into a join against the target — open rows of touched keys get
    * their `valid_to` stamped, everything else passes through untouched,
    * and new versions append. The 100 TB history is never shuffled.
    *
    * @param target  history table with `valid_from_ms`/`valid_to_ms`
    *                (nullable) columns; pass an empty frame (with
    *                schema) for a cold start
    * @param updates compacted batch: one row per key + `op` + `tsCol`
    *                (the new version's event time, ms)
    */
  def applyBatchScd2(target: DataFrame, updates: DataFrame, keys: Seq[String],
                     opCol: String, deleteMarker: String,
                     tsCol: String): DataFrame = {
    val newVersion = broadcast(
      updates.select((keys.map(col) :+ col(tsCol).as("__new_ts")): _*))
    // stamp valid_to on the open row of every touched key; history rows
    // (valid_to already set) and untouched keys flow through unchanged
    val closed = target.join(newVersion, keys, "left")
      .withColumn("valid_to_ms",
        when(col("valid_to_ms").isNull && col("__new_ts").isNotNull,
          col("__new_ts")).otherwise(col("valid_to_ms")))
      .drop("__new_ts")
    val opens = updates.filter(col(opCol) =!= deleteMarker)
      .withColumn("valid_from_ms", col(tsCol))
      .withColumn("valid_to_ms", lit(null).cast("long"))
      .select(closed.columns.map(col).toSeq: _*)
    closed.unionByName(opens)
  }
}

/** Dialect-abstracted merge SQL generation for warehouse sinks.
  *
  * Mirrors the reference's Redshift postactions (SURVEY.md §2.2 K1-K5),
  * portable so tests can run the same statements on any JDBC engine.
  */
object MergeSql {

  /** Create-if-absent DDL in the reference's delete-merge flavor:
    * empty clone of the stage shape (src/glue_pg_redshift_cdc.py:179-181
    * uses `CREATE TABLE ... AS SELECT ... WHERE 1=3` + sortkey). The
    * sortkey clause is warehouse-specific; pass `sortKey=None` for plain
    * engines.
    */
  def createLike(target: String, stage: String, sortKey: Option[String]): String = {
    val sk = sortKey.map(k => s" sortkey($k)").getOrElse("")
    s"CREATE TABLE IF NOT EXISTS $target$sk AS SELECT * FROM $stage WHERE 1=3"
  }

  /** Delete-then-insert merge transaction (docdb/pg strategy K3):
    * idempotent — replaying a batch converges to the same target state.
    */
  def deleteInsertMerge(target: String, stage: String, key: String,
                        insertCols: Seq[String], opCol: String,
                        deleteMarker: String): Seq[String] = Seq(
    s"DELETE FROM $target USING $stage WHERE $target.$key = $stage.$key",
    s"INSERT INTO $target (${insertCols.mkString(", ")}) " +
      s"SELECT ${insertCols.mkString(", ")} FROM $stage WHERE $opCol <> '$deleteMarker'",
    s"DROP TABLE $stage")
}
