package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the Verify/Bench mains and tests.
  *
  * Settings that matter:
  *  - shuffle.partitions sized to local cores (not the 200 default);
  *  - AQE on: runtime partition coalescing + skew-join splitting is the
  *    posture we want at 100 TB, so we test under it;
  *  - UTC session timezone for oracle parity;
  *  - nanosAsLong: early fixture generations shipped events.ts as
  *    TIMESTAMP(NANOS) parquet, which Spark's reader otherwise rejects;
  *    [[Tables.events]] normalizes every encoding the driver has used
  *    (nanos-long AND the round-10 TIMESTAMP(MICROS)/NTZ form).
  */
object Sessions {

  /** `spark.sql.parquet.pushdown.inFilterThreshold` for every session
    * this project builds (see [[local]] for why 1024): parquet-mr
    * evaluates a pushed IN's OR-chain recursively, and a few thousand
    * keys overflow the task stack. */
  val ParquetInFilterThreshold: Int = 1024

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // point-lookup pushdown: the incremental reconcile's closure
      // hops push collected key sets as IN filters into the parquet
      // scans of the sh64-sorted postings / id-sorted doc_shingles
      // folds. At or below this threshold Spark pushes the set as an
      // OR-chain of equality predicates that prunes row groups via
      // footer stats; above it, a [min,max] range filter (which prunes
      // nothing for uniformly-hashed keys — the InSet data filter still
      // applies post-scan, so results are identical either way). The
      // r19 value of 1,000,000 was WRONG: parquet-mr evaluates the
      // OR-chain recursively, and a few thousand pushed keys overflow
      // the task stack (StackOverflowError, first observed on the 10×
      // fixture recorded in RECONCILE_IO.json — the value had never been
      // exercised). 1024 keeps point pruning for the steady-state
      // small-frontier case at a recursion depth far from the limit;
      // larger closures were already the regime the frontier guards
      // hand to the full path.
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        ParquetInFilterThreshold.toString)
      // streaming state on RocksDB: keyed state (cross-batch compaction,
      // corpus dedup, quotas, sketches) must be disk-backed with bounded
      // heap at real key cardinalities — the in-memory default holds
      // every key on-heap. Tests run under the same provider production
      // would use.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
