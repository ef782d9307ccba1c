package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, LogicalPlan, Project, Range, Sample}
import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** Materialization policy for relations a self-join (or an iterative
  * loop) reads more than once.
  *
  * `persist(MEMORY_AND_DISK)`, NOT `localCheckpoint`:
  *
  *   - persist is lazy: the cache populates inside the first job that
  *     scans the relation, so a one-shot (cold) run pays ONE pass over
  *     the expensive upstream. `localCheckpoint` is eager — it launches
  *     a separate materialization job before the real query, and a
  *     cold run pays that full extra pass (the round-3 driver bench
  *     measured 3-5× cold/warm gaps on the dedup/ANN family from
  *     exactly this).
  *   - both self-join sides scan the same `InMemoryRelation`, so
  *     identical subplans canonicalize together and AQE stage reuse
  *     computes the shared exchange once.
  *   - a repeated run of the same operator resolves to the same cache
  *     entry via the `CacheManager` (keyed on the canonical plan), so
  *     steady-state reruns skip the upstream entirely.
  *   - blocks spill to disk instead of failing when executor memory is
  *     tight — the posture we want on a real cluster. (At true 100 TB
  *     scale a reliable `checkpoint()` to the cluster FS additionally
  *     survives executor loss; cache recompute-on-loss is acceptable
  *     for these bounded intermediate relations.)
  *
  * Lifetime: the entry lives until the caller releases it —
  * `spark.catalog.clearCache()` between queries (what `Bench`/`Verify`
  * do) or `df.unpersist()` when the operator's output has been
  * consumed. Operators deliberately do NOT unpersist their own inputs:
  * the returned DataFrame is lazy, and dropping the cache before the
  * caller's action would force a full recompute per join side.
  */
private[graft] object Materialize {

  /** Persist a relation that will be scanned several times (self-join
    * sides, fixpoint iterations). Lazy — see object doc.
    */
  def multiScan(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Spread a pathologically under-partitioned input to the session's
    * parallelism before a CPU-heavy narrow stage. A narrow pipeline
    * inherits its scan's partitioning, and a single small parquet file
    * (or a driver-built fixture) is ONE input split — so the whole
    * tokenize/parse stage would run in one task regardless of cluster
    * size. Inputs already carrying at least a quarter of the default
    * parallelism, or whose partition count is not known before
    * execution ([[plannedPartitions]]), pass through untouched: at real
    * scale (thousands of splits) this is a no-op and costs no shuffle.
    * The explicit round-robin repartition (REPARTITION_BY_NUM) is
    * exempt from AQE coalescing, which would fold small data straight
    * back into one partition.
    */
  def spread(df: DataFrame): DataFrame = {
    // streams can't be probed for partition count (and their
    // parallelism is the source's); pass them through untouched
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df).exists(_ * 4 < target)) df.repartition(target) else df
  }

  /** `df`'s partition count when it is known before execution: a chain
    * of narrow operators (project, filter, generate, sample) over one
    * file scan, local relation, range, or a cache that is already
    * materialized. `None` for anything else: above an exchange the
    * count exists only after AQE has run every upstream stage, and
    * asking the RDD for it runs them once more than the caller's own
    * action does.
    */
  private def plannedPartitions(df: DataFrame): Option[Int] = {
    def narrowOverLeaf(p: LogicalPlan): Boolean = p match {
      case _ if p.expressions.exists(SubqueryExpression.hasSubquery) => false
      case _: Project | _: Filter | _: Generate | _: Sample =>
        narrowOverLeaf(p.children.head)
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation | _: Range => true
      case _ => false
    }
    if (!narrowOverLeaf(df.queryExecution.optimizedPlan)) None
    // the leaf's input RDD: cached blocks, file splits, local slices or
    // range slices, all known from metadata without a job
    else df.queryExecution.sparkPlan.collectLeaves() match {
      case Seq(scan: InMemoryTableScanExec) =>
        Some(scan.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions)
      case Seq(scan: FileSourceScanExec) => Some(scan.inputRDD.getNumPartitions)
      case Seq(scan: CodegenSupport) =>
        Some(scan.inputRDDs().map(_.getNumPartitions).sum)
      case _ => None
    }
  }
}
