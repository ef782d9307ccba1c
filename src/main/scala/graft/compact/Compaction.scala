package graft.compact

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-compaction primitives — the semantic core of the reference pipeline.
  *
  * The reference deduplicates each micro-batch to the latest event per
  * primary key with `Window.partitionBy(keys).orderBy(ts.desc)` +
  * `row_number` (reference: src/glue_docdb_redshift_cdc.py:137-139,
  * src/glue_pg_redshift_cdc.py:134-136, src/glue_dms_redshift_cdc.py:170-172).
  *
  * Scale notes (100 TB posture):
  *   - `row_number` over a window shuffles once on the partition keys and
  *     sorts within partitions; AQE coalesces/splits post-shuffle
  *     partitions so skewed keys don't OOM a task.
  *   - The reference orders by timestamp only, which is nondeterministic
  *     on ties (SURVEY.md §7.4#4); we always require explicit tiebreaker
  *     columns (e.g. Kafka offset / event id) so compaction is a pure
  *     function of the batch.
  */
object Compaction {

  /** Keep only the latest row per key.
    *
    * @param keys      compaction key columns (e.g. db, table, pk)
    * @param orderDesc ordering columns, highest wins; later columns break
    *                  ties of earlier ones (e.g. ts_ms, then offset)
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderDesc: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[latestPerKey]] as a hash AGGREGATE — `max_by(struct(row),
    * struct(order))` — instead of a sort window. Identical result given
    * the same total ordering (keys + tiebreakers), but a strictly better
    * physical shape for the CDC regime: partial (map-side) aggregation
    * collapses a key's versions BEFORE the shuffle, so a hot key that
    * got 10k updates in a batch ships ~one row per input partition
    * instead of 10k rows into a sort. (The struct-valued buffer makes
    * Spark pick SortAggregate — local sorts by the GROUP KEY flank the
    * exchange — but both sides operate on the collapsed relation, which
    * is the property that matters; guarded in `PlanSpec`.) The window
    * form stays as the reference-parity surface (W1-W3); this is the
    * production path ([[graft.pipeline.CdcPipeline]] uses it).
    */
  def latestPerKeyAgg(df: DataFrame, keys: Seq[String],
                      orderDesc: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val ord = struct(orderDesc.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col).toIndexedSeq: _*), ord).as("__w"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col(s"__w.$c")).toIndexedSeq: _*)
  }

  /** Distinct fanout targets, e.g. (db_name, tb_name) pairs.
    *
    * The reference implements DISTINCT with a window + row_number + filter
    * (src/glue_docdb_redshift_cdc.py:149-152) — an extra sort for nothing.
    * A hash-aggregate `distinct()` is the right physical plan: partial
    * (map-side) aggregation first, so the shuffle carries only unique
    * pairs per input partition rather than every row.
    */
  def targets(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col): _*).distinct()
}
