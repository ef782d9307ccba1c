package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** CDC merge semantics, engine-side.
  *
  * The reference delegates the merge join to the warehouse:
  * `DELETE FROM target USING stage ON key; INSERT latest non-deletes`
  * (src/glue_pg_redshift_cdc.py:179-190) or `MERGE INTO` for DMS
  * (src/glue_dms_redshift_cdc.py:104-110). This object expresses the same
  * upsert+delete semantics as a Spark plan, for file-based targets and
  * for tests: delete-then-insert ≡ key-set filter + union.
  *
  * Scale: `updates` is one compacted micro-batch — small relative to the
  * target — so its keys are held on the driver and filter the target
  * in place; the 100 TB target is never shuffled or joined.
  */
object Merge {

  /** The values of `key` in `updates`, collected to the driver. */
  def keysOf(updates: DataFrame, key: String): Seq[Any] =
    updates.select(key).collect().map(_.get(0)).toSeq

  /** Apply one compacted batch of updates to a target snapshot.
    *
    * The target keeps every row whose key is null or not among the
    * batch's keys — one [[graft.functions.KeyNotIn]] filter, the
    * `DELETE … USING stage` of the reference — and the batch's
    * non-deletes are unioned in. The keys are `keyValues` when the
    * caller already holds them on the driver (the pipeline's key pass),
    * else `keysOf(updates, key)`, which runs one job before this
    * returns. Either way every key is held on the driver, so driver
    * memory bounds the batch's key count — the micro-batch regime,
    * where `maxOffsetsPerTrigger` caps it. Applying the result reads
    * `target` and `updates` once each, in one job, with no exchange.
    *
    * @param target    current table state (may be huge)
    * @param updates   compacted batch: exactly one row per key, with an
    *                  `op` column; rows whose op equals `deleteMarker`
    *                  remove the key, everything else upserts.
    * @param key       equality merge key
    * @param keyValues the distinct values of `key` in `updates`; None
    *                  collects them from `updates`
    * @throws org.apache.spark.sql.AnalysisException when `updates`' columns
    *         other than `opCol` differ from `target`'s — in either
    *         direction: a column only one side carries would otherwise be
    *         dropped from every row, silently — or when `key`'s type
    *         differs between them
    */
  def applyBatch(target: DataFrame, updates: DataFrame, key: String,
                 opCol: String, deleteMarker: String,
                 keyValues: Option[Seq[Any]] = None): DataFrame = {
    VectorFunctions.register(target.sparkSession)
    val survivors = target.filter(VectorFunctions.keyNotIn(col(key),
      keyValues.getOrElse(keysOf(updates, key)), updates.schema(key).dataType))
    survivors.unionByName(updates.filter(col(opCol) =!= deleteMarker).drop(opCol))
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
