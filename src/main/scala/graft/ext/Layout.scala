package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB posture: bucketing for
  * shuffle-free co-located joins, and salting for skewed keys.
  */
object Layout {

  /** Write a table bucketed+sorted by its join keys. Two tables bucketed
    * the same way join with ZERO exchange — the join cost at 100 TB is
    * then pure scan, which is the difference between minutes and hours.
    * (Parquet + Spark bucketing; on a real deployment the same call
    * targets the metastore.)
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** True iff at least one parquet DATA file exists under `dir`
    * (recursive). A directory can exist and be non-empty while holding
    * zero footers — e.g. a `batch=K` partition dir from a first batch
    * whose rows were all rejected — and schema inference over such a
    * tree throws `Unable to infer schema`, permanently failing every
    * later read. Existence probes that gate a `spark.read.parquet`
    * must therefore look for data files, not just the directory.
    */
  private[graft] def hasParquetData(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
  }

  /** The per-batch Overwrite index under `dir` as batch `batchId` may
    * probe it: every partition except its own `batch=<batchId>` — a
    * failed attempt may have written that partition before its commit,
    * and a replay that probed its own rows would turn itself away.
    * None while `dir` holds no parquet data ([[hasParquetData]]: a
    * footer-less tree would fail schema inference on every later
    * tick). A tree without a `batch` column is read whole. */
  private[graft] def priorPartitions(spark: org.apache.spark.sql.SparkSession,
                                     dir: String,
                                     batchId: Long): Option[DataFrame] =
    if (!hasParquetData(spark, dir)) None
    else {
      val ix = spark.read.parquet(dir)
      Some(if (ix.columns.contains("batch")) ix.filter(col("batch") =!= batchId)
        else ix)
    }

  /** How many files a rewrite of ~`bytes` is written as:
    * `ceil(bytes / targetBytes)`, at least one — the one sizing rule of
    * every parquet rewrite (compaction, partition folds, the file sink).
    * `bytes` is a BigInt because plan statistics are; an unknown
    * estimate (Spark's `Long.MaxValue` default) caps at `Int.MaxValue`,
    * which a `coalesce` treats as "keep the current partitioning". */
  private[graft] def fileCount(bytes: BigInt, targetBytes: Long): Int =
    ((bytes + targetBytes - 1) / targetBytes).max(1).min(Int.MaxValue).toInt

  /** Bin-pack a parquet directory into ~`targetBytes` files — the
    * small-files fix. Streaming ingestion and per-table fanout produce
    * thousands of KB-sized files per partition; at 100 TB that means
    * listing/opening costs dominate scans and the NameNode/object-store
    * melts. Rewrite: one pass over a SNAPSHOT of the current part files,
    * `ceil(bytes/target)` output files ([[fileCount]]) via a round-robin
    * repartition (no key assumption), then a [[swapDir]].
    *
    * CONCURRENCY CONTRACT — the tick must be SERIALIZED with the
    * table's writer AND its readers (e.g. run it inside the same
    * foreachBatch loop that merges batches, as the operational-loop
    * spec does; on a real deployment, a transactional table format is
    * the concurrent-writers answer). The swap is rename-based, not
    * atomic: between the two renames the path briefly does not exist,
    * and the old file set is deleted immediately, so an in-flight
    * reader of the old files can fail. As a backstop against a
    * concurrent WRITER (which would lose data silently), the file
    * listing is re-checked just before the swap: if part files were
    * added or removed since the snapshot, the tick aborts cleanly —
    * the compacted output is discarded, the live directory untouched —
    * and throws.
    *
    * @return number of output files written
    */
  def compactParquetDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                        targetBytes: Long = 128L << 20): Int =
    compactParquetDir(spark, dir, targetBytes, () => ())

  /** Test seam: `beforeSwap` runs between the compacted write and the
    * listing re-check, where a concurrent writer would be detected. */
  private[graft] def compactParquetDir(spark: org.apache.spark.sql.SparkSession,
                                       dir: String, targetBytes: Long,
                                       beforeSwap: () => Unit): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwapDir(fs, path)
    def partFiles(): Map[String, Long] = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => f.getPath.getName -> f.getLen).toMap
    val snapshot = partFiles()
    val nFiles = fileCount(snapshot.values.sum, targetBytes)
    // read exactly the snapshot files: rows written after the snapshot
    // are not silently folded into (or dropped from) the compacted set
    val snapPaths = snapshot.keys.toSeq.sorted.map(n => new Path(path, n).toString)
    swapDir(fs, path) { tmp =>
      spark.read.parquet(snapPaths: _*).repartition(nFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      beforeSwap()
      if (partFiles() != snapshot)
        throw new IllegalStateException(
          s"$dir changed during compaction (concurrent writer?) — tick " +
            "aborted; serialize compactParquetDir with the table's writer")
    }
    nFiles
  }

  /** The swap's commit witness inside a tmp dir — written after the
    * write returns, independent of the Hadoop committer's `_SUCCESS`
    * (`marksuccessfuljobs=false` is a standard object-store tuning;
    * recovery must not depend on it). Underscore-prefixed: invisible to
    * parquet reads once the dir is live. */
  private val SwapCommit = "_graft_commit"

  /** The leaf name of the target a swap sibling belongs to:
    * `.apply-tmp-<leaf>` (the new content) or `.apply-old-<leaf>` (the
    * live dir moved aside). Subtree sweeps match listed names with it. */
  private[graft] val SwapSibling = """\.apply-(?:tmp|old)-(.+)""".r

  private def swapSiblings(live: Path): (Path, Path) =
    (new Path(live.getParent, s".apply-tmp-${live.getName}"),
      new Path(live.getParent, s".apply-old-${live.getName}"))

  // Hadoop signals a failed rename by returning FALSE, not by throwing;
  // continuing past one would delete the only copy of the data
  private def mustRename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"swap: rename $src -> $dst failed")

  /** Replace the directory `live` crash-safely — the ONE swap every
    * single-directory parquet rewrite goes through (file-sink tables,
    * ladder partitions and snapshots, compaction, re-clustering, the
    * span index):
    *  1. `write` fills the hidden sibling `<parent>/.apply-tmp-<leaf>`
    *     (a write that throws leaves no tmp behind);
    *  2. the commit witness `_graft_commit` is created inside it;
    *  3. `live` (if present) is renamed aside to
    *     `<parent>/.apply-old-<leaf>`;
    *  4. the tmp dir is renamed into place;
    *  5. the aside dir is deleted.
    * Both renames are checked. After a crash or failure at any step,
    * [[recoverSwapDir]] leaves the target holding either its full
    * pre-swap or its full post-swap content, never nothing.
    *
    * Returns `write`'s result. `write` may read `live`: it runs while
    * the original is still in place. Callers run [[recoverSwapDir]] on
    * the target before they read it, and serialize swaps of one target.
    * Distinct targets never share a sibling, so tables under one parent
    * may swap concurrently.
    */
  private[graft] def swapDir[A](fs: FileSystem, live: Path)(write: Path => A): A = {
    val (tmp, aside) = swapSiblings(live)
    fs.delete(tmp, true)
    val out =
      try write(tmp)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    fs.create(new Path(tmp, SwapCommit), true).close()
    if (fs.exists(live)) {
      // a rename onto an existing dir would nest inside it
      fs.delete(aside, true)
      mustRename(fs, live, aside)
    }
    mustRename(fs, tmp, live)
    fs.delete(aside, true)
    out
  }

  private[graft] def swapDir[A](spark: org.apache.spark.sql.SparkSession,
                                dir: String)(write: String => A): A = {
    val live = new Path(dir)
    swapDir(live.getFileSystem(spark.sparkContext.hadoopConfiguration), live)(
      tmp => write(tmp.toString))
  }

  /** Heal an interrupted [[swapDir]] of ONE target (never a sweep of
    * its parent: a sibling target may be mid-swap):
    *  - `live` exists: the swap finished or never started — drop any
    *    tmp and aside dir;
    *  - else an aside dir exists: the crash hit between the two renames
    *    — restore the pre-swap content;
    *  - else the tmp carries `_graft_commit` (or, for a write whose
    *    witness was lost, the committer's `_SUCCESS`): a first-ever
    *    target whose final rename was lost — promote it;
    *  - else the tmp (if any) is a crash mid-write — discard it; the
    *    replayed operation recomputes it.
    */
  private[graft] def recoverSwapDir(fs: FileSystem, live: Path): Unit = {
    val (tmp, aside) = swapSiblings(live)
    if (!fs.exists(live)) {
      if (fs.exists(aside)) mustRename(fs, aside, live)
      else if (fs.exists(new Path(tmp, SwapCommit)) ||
        fs.exists(new Path(tmp, "_SUCCESS"))) mustRename(fs, tmp, live)
    }
    fs.delete(tmp, true)
    fs.delete(aside, true)
  }

  private[graft] def recoverSwapDir(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Unit = {
    val live = new Path(dir)
    recoverSwapDir(live.getFileSystem(spark.sparkContext.hadoopConfiguration), live)
  }

  /** Salted equi-join for skewed keys: the skewed (large) side gets a
    * deterministic salt in [0, n); the small side is replicated n ways.
    * The shuffle key becomes (key, salt), splitting each hot key across
    * n reducers. AQE's skew-join handles moderate skew adaptively; this
    * is the explicit tool for pathological keys.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val salted = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** File-size layout card for a parquet directory — the measurement
    * BEFORE [[compactParquetDir]] (the r-series discipline: measure,
    * then reach for the tool): file count, byte volume, size
    * percentiles, and how many files sit under a small-file threshold.
    * Listing/open cost is the silent killer of large scans — a
    * directory averaging 2 MB/file costs ~64× the task/scheduler/open
    * overhead of 128 MB files for the same bytes. Driver-side listing
    * only (one RECURSIVE filesystem listing — the same walk every scan
    * planning pass already makes — so partitioned/nested layouts with
    * data files in subdirectories are measured too); no Spark job runs.
    *
    * @return (n_files, total_bytes, p50_bytes, max_bytes,
    *         n_small, small_ppm) — n_small counts files strictly under
    *         `smallBytes`
    */
  def fileSizeCard(spark: org.apache.spark.sql.SparkSession, dir: String,
                   smallBytes: Long = 32L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true) // recursive: partition dirs count
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet") &&
        !name.startsWith("_") && !name.startsWith(".")) buf += s.getLen
    }
    val sizes = buf.toSeq.sorted
    require(sizes.nonEmpty, s"no parquet data files under $dir")
    val n = sizes.length
    val nSmall = sizes.count(_ < smallBytes).toLong
    Seq((n.toLong, sizes.sum, sizes(n / 2), sizes.last, nSmall,
      nSmall * 1000000L / n))
      .toDF("n_files", "total_bytes", "p50_bytes", "max_bytes",
        "n_small", "small_ppm")
  }

  /** Key-skew diagnostic card — the measurement that DECIDES between a
    * plain shuffle join, AQE's adaptive skew split, and [[saltedJoin]]
    * (the r-series precedent: measure, then reach for the dial).
    * One row summarizing the per-key row-count distribution of a
    * prospective shuffle key:
    *
    *  - `top1_share_ppm`: the hottest key's share of all rows — the
    *    fraction of the shuffle ONE reducer will absorb; at 10⁵+ ppm a
    *    thousand-way cluster is effectively serialized on that key
    *  - `p50_key_n` / `p99_key_n`: exact percentiles of the per-key
    *    count distribution ([[Prefix.groupPercentiles]] — no
    *    value-buffering aggregate)
    *  - `skew_ratio`: hottest key over the median key — the headroom
    *    multiplier a salt count must cover
    *
    * Cost: one key-count aggregate (map-side collapsible — the shuffle
    * carries distinct keys) + one distributed rank over the KEY
    * cardinality, not the row count. The hot keys themselves (for a
    * literal-list salting or filter) come from the
    * [[graft.ext.Corpus.heavyHitters]] sketch, which never shuffles
    * full key counts at all.
    *
    * @return (n_rows, n_keys, max_key_n, top1_share_ppm, p50_key_n,
    *         p99_key_n, skew_ratio) — percentiles/ratio floor-rounded
    *         to 2dp, shares exact integer ppm
    */
  def skewCard(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewCard needs at least one key column")
    def r2(c: Column) = floor(c * 100 + 0.5) / 100
    // "__kn", not "__n": groupPercentiles binds its own "__n" internally
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__kn"))
    val pct = Prefix.groupPercentiles(
      counts.withColumn("__g", lit(1)), Seq("__g"),
      col("__kn").cast("double"), tiebreak = keyCols.map(col),
      ps = Seq(0.5 -> "__p50", 0.99 -> "__p99"))
    counts.agg(
        sum(col("__kn")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__kn")).as("max_key_n"))
      .crossJoin(broadcast(pct.select(col("__p50"), col("__p99"))))
      .select(col("n_rows"), col("n_keys"), col("max_key_n"),
        expr("(max_key_n * 1000000) div n_rows").cast("long")
          .as("top1_share_ppm"),
        r2(col("__p50")).as("p50_key_n"),
        r2(col("__p99")).as("p99_key_n"),
        r2(col("max_key_n").cast("double") / col("__p50"))
          .as("skew_ratio"))
  }

  /** Fold COMMITTED per-batch `batch=<id>` partitions of a parquet tree
    * into one consolidated `batch=-1` partition — the generic form of
    * the postings-index maintenance
    * ([[graft.pipeline.QualityAdmission.maintainPostingsIndex]]
    * delegates here): every per-batch-Overwrite admission layout
    * (corpus slices, signature/key/postings indexes) accumulates one
    * partition directory per micro-batch, the small-files mode that
    * dominates scan cost at 100 TB.
    *
    * Only partitions with `0 ≤ batch < committedBelow` (plus a prior
    * `batch=-1` fold) are touched: a replayed batch always reuses its
    * own id, the fold target −1 is a value no real id takes, so the
    * own-partition replay exclusion (`batch =!= currentId`, ids ≥ 0)
    * always keeps folded rows. The schema is whatever the leaf files
    * carry (partition column dropped by reading the leaf dirs
    * directly). Same serialization contract and swap discipline as
    * [[compactParquetDir]]: call from the serialized window that runs
    * the ticks, snapshot-listed sources re-checked before the swap,
    * hidden temp dir first, `.fold-old-*` dirs preserve data across
    * the two-rename crash window.
    *
    * @return number of partition directories folded (0 = nothing to do)
    */
  /** Driver-side listing of a batch-partitioned tree's partition values
    * (the `batch=N` directory names) — ONE filesystem list, no Spark
    * job. A missing tree lists empty. Probe planners use this to skip
    * join branches whose partition slice holds nothing (the covered/
    * tail split of [[LadderBloom]]) without paying a query. */
  private[graft] def batchValues(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption }
      .flatten.toSeq.sorted
  }

  /** Per-partition byte volume of a batch-partitioned tree — one
    * recursive driver listing, no job. Used by seed-fraction
    * crossovers that must estimate "how much of this tree is new"
    * without scanning it. A missing tree maps empty. */
  private[graft] def partitionBytes(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Map[Long, Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Map.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .flatMap { d =>
        scala.util.Try(d.getPath.getName.stripPrefix("batch=").toLong)
          .toOption.filter(_ => d.getPath.getName.startsWith("batch="))
          .map { b =>
            val it = fs.listFiles(d.getPath, true)
            var bytes = 0L
            while (it.hasNext) {
              val s = it.next()
              val n = s.getPath.getName
              if (s.isFile && n.endsWith(".parquet") &&
                !n.startsWith("_") && !n.startsWith(".")) bytes += s.getLen
            }
            b -> bytes
          }
      }.toMap
  }

  def foldBatchPartitions(spark: org.apache.spark.sql.SparkSession,
                          dir: String, committedBelow: Long,
                          targetBytes: Long = 128L << 20): Int =
    foldBatchPartitions(spark, dir, committedBelow, targetBytes, None)

  /** `sortCol`: range-partition + sort the folded `batch=-1` output by
    * this column, so point-lookup IN filters against the fold prune
    * file groups via parquet min/max stats (the incremental
    * reconcile's closure-hop contract: postings folds sort by `sh64`,
    * doc_shingles folds by `id`). Row content is unchanged — sorting
    * is a pure layout property, so every fold consumer is unaffected. */
  def foldBatchPartitions(spark: org.apache.spark.sql.SparkSession,
                          dir: String, committedBelow: Long,
                          targetBytes: Long,
                          sortCol: Option[String]): Int = {
    require(committedBelow >= 0, s"committedBelow must be >= 0")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    // b <= -2 partitions are watermark-keyed APPLY artifacts — quota
    // REFUNDS in the counts tree and apply-MOVED retired postings in
    // the evidence tree ([[IncrementalDedup.applyReconcile]]'s
    // `batch = -(W + 2)` key): committed exactly when their watermark
    // W = -b - 2 is below this fold's (serialized windows are
    // monotone, and a window only replays before the NEXT one starts)
    // — folding them keeps each tree's partition count bounded by the
    // tick fold cadence instead of growing one dir per maintenance
    // window forever. The fold is row-preserving, so prior-count sums
    // and evidence graphs are unchanged.
    def sourceDirs(): Seq[String] = fs.listStatus(path)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter { n =>
        n.startsWith("batch=") &&
          scala.util.Try(n.stripPrefix("batch=").toLong).toOption
            .exists(b => b == -1L || (b >= 0L && b < committedBelow) ||
              (b <= -2L && -b - 2L < committedBelow))
      }.sorted.toSeq
    val snapshot = sourceDirs()
    if (snapshot.isEmpty || snapshot == Seq("batch=-1")) return 0
    val srcPaths = snapshot.map(n => new org.apache.hadoop.fs.Path(path, n))
    val nFiles = fileCount(srcPaths.flatMap(p =>
      fs.listStatus(p).filter(_.isFile).map(_.getLen)).sum, targetBytes)
    val tmp = new org.apache.hadoop.fs.Path(path,
      s".fold-${java.util.UUID.randomUUID()}")
    // reading the partition dirs directly drops the `batch` column —
    // wanted: the fold target's value comes from its directory name
    val src = spark.read.parquet(srcPaths.map(_.toString): _*)
    val shaped = sortCol match {
      case None => src.repartition(nFiles)
      case Some(c) => src.repartitionByRange(nFiles, col(c))
        .sortWithinPartitions(col(c))
    }
    shaped.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(tmp.toString)
    if (sourceDirs() != snapshot) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"$dir changed during partition fold (concurrent tick?) — " +
          "serialize foldBatchPartitions with the admission ticks")
    }
    val old = srcPaths.map { p =>
      val o = new org.apache.hadoop.fs.Path(path,
        s".fold-old-${p.getName}-${java.util.UUID.randomUUID()}")
      require(fs.rename(p, o), s"rename $p failed")
      o
    }
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(path, "batch=-1")),
      "rename of folded partition failed")
    old.foreach(fs.delete(_, true))
    // record what batch=-1 now COVERS — the one piece of provenance a
    // fold otherwise erases. Watermark-scoped consumers (e.g.
    // [[IncrementalDedup.retireEvidence]] deciding whether a lagged
    // retention watermark covers the folded rows) read it back with
    // [[foldWatermark]]. Written after the renames: a crash in between
    // leaves a STALE (lower) watermark, which only makes consumers
    // conservative, never wrong.
    writeFoldWatermark(spark, dir, committedBelow)
    snapshot.size
  }

  private val FoldMarker = ".fold_below"

  /** (Over)write a tree's fold-coverage marker — [[foldBatchPartitions]]
    * stamps its own folds with the watermark they covered; the marker
    * is the ONE piece of provenance a fold otherwise erases, and the
    * coverage claim must stay an upper bound on `batch=-1`'s rows'
    * arrival ticks (a lagged retirement could otherwise delete
    * evidence younger than its promise). Rows merged into `batch=-1`
    * from another source would break that bound — which is why
    * [[IncrementalDedup.applyReconcile]] retires folded-postings rows
    * into watermark-KEYED evidence partitions instead of merging. */
  private[graft] def writeFoldWatermark(spark: org.apache.spark.sql.SparkSession,
                                        dir: String, w: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, FoldMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    out.write(w.toString.getBytes("UTF-8"))
    out.close()
  }

  /** The highest `committedBelow` a [[foldBatchPartitions]] run has
    * folded into this tree's `batch=-1` (folds only grow it, so the
    * last write is the max). None for a tree never folded — or folded
    * before the marker existed, in which case consumers must treat
    * `batch=-1`'s coverage as UNKNOWN (be conservative). */
  private[graft] def foldWatermark(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): Option[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir, FoldMarker)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val s = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        scala.util.Try(s.trim.toLong).toOption
      } finally in.close()
    }
  }
}
