package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The operational loop for duplicated-SPAN admission control: the
  * streaming complement of [[Dedup.substringDupCoverage]], in the same
  * `foreachBatch` family as [[IncrementalDedup]] / [[IncrementalAnn]].
  * Each arriving document is scored for how much of it is covered by
  * spans repeated in the ADMITTED CORPUS SO FAR (or elsewhere in its
  * own batch), and is rejected when that coverage reaches `dropAtBp` —
  * mirrors, quote farms, and licence boilerplate are turned away at the
  * door instead of surviving until the next offline ExactSubstr sweep.
  *
  * Per-tick semantics (exactly [[Dedup.substringDupCoverage]]'s scoring
  * with the corpus-so-far as context): a window is DUP if its
  * fingerprint is in the span index (some admitted doc contained it) or
  * occurs ≥ 2 times within the batch; coverage is the interval union of
  * dup windows in UTF-8 bytes of the normalized text over
  * `octet_length` of the same. Docs at/above `dropAtBp` are rejected;
  * survivors append to the corpus and their distinct new span
  * fingerprints to the index. Like the batch operator, a batch that
  * carries several copies of the same boilerplate-dominated document
  * drops ALL of them — this is a coverage guard, not first-wins exact
  * dedup ([[graft.streaming.StreamCompaction.firstPerFingerprint]] is
  * that).
  *
  * Scale posture: state is the fingerprint store — 32-byte digests of
  * admitted spans PLUS one whole-document fingerprint per admitted doc,
  * never text — held as a BUCKETED external table (`CLUSTERED BY (fp)`,
  * [[Layout.writeBucketed]]'s layout with append semantics). Every
  * per-tick store interaction is a probe AGAINST that layout:
  *  - the exact-duplicate membership join, the dup-span semi-join, and
  *    the new-fingerprint anti-join all hash-join on `fp`, so the
  *    store side needs NO exchange — only the batch side shuffles
  *    (into the store's bucket partitioning) or broadcasts;
  *  - nothing ever unions the store into a batch-side `distinct()`
  *    (which would re-shuffle the ENTIRE store every tick, a cost that
  *    grows with the admitted corpus instead of the batch).
  * Per-tick store cost is therefore read-only and scan-shaped; batch
  * work is batch-sized. The bucket count is part of the on-disk layout
  * — keep `indexBuckets` constant for the lifetime of a store (the
  * bucketed append validates this and fails loudly on a mismatch).
  *
  * Replay-idempotent for EVERY document shape: an anchor-bearing doc
  * re-scores 10000 bp against its own indexed spans, and a doc below
  * the window length (or whose text carries no anchor — probability
  * (1-1/anchorMod)^(len-win+1)) is caught by its document fingerprint,
  * which doubles as an exact-duplicate gate across batches. Bin-pack
  * the CORPUS directory (flat Append layout) with
  * [[Layout.compactParquetDir]]; the span
  * index instead uses [[maintainIndex]], which preserves the bucket
  * layout (a plain round-robin bin-pack would scramble the
  * bucket-id-bearing file names the layout depends on).
  */
object IncrementalCoverage {

  /** One admission tick. Returns (admitted, dropped); appends survivors
    * to `corpusDir` and their new span + document fingerprints to the
    * bucketed index at `spanIndexDir` (both created on first use).
    * Caller serializes ticks (foreachBatch already does).
    */
  def admitBatch(batch: DataFrame, idCol: String, textCol: String,
                 corpusDir: String, spanIndexDir: String,
                 winBytes: Int = 40, anchorMod: Int = 8,
                 dropAtBp: Int = 5000, indexBuckets: Int = 32): (Long, Long) = {
    val spark = batch.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val n = batch.count()
    val idx = indexTable(spark, spanIndexDir, indexBuckets)
    // whole-document fingerprints make redelivery idempotent regardless
    // of anchor density (and reject exact cross-batch duplicates): the
    // doc fp lives in the same 32-byte digest store as the span fps
    val docFps = Materialize.multiScan(batch.select(
      col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp")))
    val exactDrops = docFps.join(idx, Seq("fp")).select(col("id"))
    // the span-index store persists HEX fps (shared column with the doc
    // fingerprints and stable across versions), so the batch's raw
    // binary window digests hexify here, once, batch-sized
    val wins = Materialize.multiScan(
      Dedup.anchorWins(batch, idCol, textCol, winBytes, anchorMod)
        .withColumn("fp", lower(hex(col("fp")))))
    val batchDupFps = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("fp"))
    // dup = window seen in the store OR >= 2 times in the batch. Two
    // semi-joins + a batch-sized distinct — NOT `store union batch
    // then distinct`, whose shuffle is store-sized every tick
    val dup = wins.join(idx, Seq("fp"), "left_semi")
      .unionByName(wins.join(batchDupFps, Seq("fp"), "left_semi"))
      .distinct()
    val base = batch.select(col(idCol).as("id"),
      octet_length(TextOps.normalized(col(textCol))).as("n_bytes"))
    val dropIds = Materialize.multiScan(
      Dedup.coverageOf(dup, base, winBytes)
        .filter(col("cov_bp") >= dropAtBp).select(col("id"))
        .unionByName(exactDrops).distinct())
    val admitted = Materialize.multiScan(
      batch.join(dropIds, batch(idCol) === dropIds("id"), "left_anti"))
    val nAdmitted = admitted.count()
    if (nAdmitted > 0) {
      admitted.write.mode(SaveMode.Append).parquet(corpusDir)
      // only NEW fingerprints append — the store stays distinct, so the
      // dup-side join never inflates. Materialized (cache + count)
      // BEFORE the append: no Spark job may both read and write the
      // index — plan-time file-listing snapshots make that fragile
      // under retries
      val newFps = Materialize.multiScan(
        wins.select(col("id"), col("fp"))
          .unionByName(docFps)
          .join(dropIds, Seq("id"), "left_anti")
          .select(col("fp")).distinct()
          .join(idx, Seq("fp"), "left_anti"))
      newFps.count()
      // coalesce(1): a bucketed append writes one file per (task ×
      // bucket) — a batch-sized tick across N tasks would spray N·32
      // files; one task caps it at the non-empty-bucket count
      newFps.coalesce(1).write.mode(SaveMode.Append).format("parquet")
        .bucketBy(indexBuckets, "fp").sortBy("fp")
        .saveAsTable(tableName(spark, spanIndexDir))
      newFps.unpersist()
    }
    Seq(docFps, wins, dropIds, admitted).foreach(_.unpersist())
    (nAdmitted, n - nAdmitted)
  }

  /** Bucket-preserving bin-pack of the span index: rewrites the store
    * to ONE file per bucket (hash-repartitioned on `fp`, which is the
    * same Murmur3 partitioning the bucket spec uses) via a shadow
    * table, then swaps directories. [[Layout.compactParquetDir]] must
    * NOT be used on the index — its round-robin rewrite scrambles the
    * bucket-id file naming. Same serialization contract as every
    * admission-layout maintenance pass: run inside the tick window.
    */
  def maintainIndex(spark: SparkSession, spanIndexDir: String,
                    indexBuckets: Int = 32): Unit = {
    val qdir = qualify(spark, spanIndexDir)
    val name = tableName(spark, spanIndexDir)
    val path = new org.apache.hadoop.fs.Path(qdir)
    val fs = fsOf(spark, path)
    Layout.recoverSwapDir(fs, path)
    if (!fs.exists(path)) return
    indexTable(spark, spanIndexDir, indexBuckets)
    val tmpName = name + "_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    // force the BUCKETED scan (one partition per bucket, all its files)
    // so the rewrite is a pure per-bucket file merge: 32 read tasks →
    // 32 output files, ZERO shuffle. An explicit repartition(fp) would
    // not work here — the optimizer drops it as redundant against the
    // table's bucket spec while separately deciding a non-bucketed
    // scan, leaving task × bucket file cross-products
    val prevAuto = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    // swap: drop metadata (external tables keep their files), move the
    // compacted layout into place crash-consistently, re-register
    Layout.swapDir(fs, path) { tmpDir =>
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try spark.table(name)
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(indexBuckets, "fp").sortBy("fp")
        .option("path", tmpDir.toString).saveAsTable(tmpName)
      finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    }
    indexTable(spark, spanIndexDir, indexBuckets)
  }

  /** The store's registered table (creates it on first use; idempotent,
    * and restart-safe — re-registering attaches the bucket spec to the
    * existing files, whose bucket ids live in their names). A store
    * written by the pre-bucketed plain-parquet append format is
    * detected here (file names carry no bucket ids — a bucketed scan
    * over them throws 'Invalid bucket file', and only SOMETIMES, since
    * autoBucketedScan may fall back to a plain scan for non-join reads)
    * and rewritten once into the bucketed layout before the spec is
    * attached.
    */
  private def indexTable(spark: SparkSession, dir: String,
                         buckets: Int): DataFrame = {
    val qdir = qualify(spark, dir)
    val name = tableName(spark, dir)
    if (!spark.catalog.tableExists(name)) {
      val path = new org.apache.hadoop.fs.Path(qdir)
      val fs = fsOf(spark, path)
      Layout.recoverSwapDir(fs, path)
      if (fs.exists(path) && hasLegacyFiles(fs, path))
        migrateLegacy(spark, qdir, name, buckets)
      spark.sql(s"CREATE TABLE IF NOT EXISTS $name (fp STRING) " +
        s"USING PARQUET CLUSTERED BY (fp) SORTED BY (fp) " +
        s"INTO $buckets BUCKETS LOCATION '$qdir'")
    }
    spark.table(name)
  }

  /** Bucketed writer file names carry `_NNNNN` (the bucket id) before
    * the `.c000` suffix; plain-append files don't. Any part-file
    * without one marks a legacy store.
    */
  private def hasLegacyFiles(fs: org.apache.hadoop.fs.FileSystem,
                             path: org.apache.hadoop.fs.Path): Boolean = {
    val parts = fs.listStatus(path).map(_.getPath.getName)
      .filter(_.startsWith("part-"))
    parts.nonEmpty && parts.exists(!_.matches(".*_\\d{5}\\.c\\d+.*"))
  }

  /** One-time rewrite of a legacy (plain-parquet) fingerprint store
    * into the bucketed layout, through the same crash-consistent
    * [[Layout.swapDir]] as [[maintainIndex]]. Read as plain parquet (no table
    * spec is attached yet, so no 'Invalid bucket file' risk), written
    * bucketed; [[maintainIndex]] later bin-packs the task × bucket
    * files if needed.
    */
  private def migrateLegacy(spark: SparkSession, qdir: String,
                            name: String, buckets: Int): Unit = {
    val tmpName = name + "_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    val path = new org.apache.hadoop.fs.Path(qdir)
    Layout.swapDir(fsOf(spark, path), path) { tmpDir =>
      spark.read.parquet(qdir).select(col("fp").cast("string").as("fp"))
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(buckets, "fp").sortBy("fp")
        .option("path", tmpDir.toString).saveAsTable(tmpName)
      spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    }
  }

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fully-qualified canonical form of a store directory (scheme +
    * authority + absolute normalized path): "dir", "dir/", and a
    * relative spelling of the same location must map to ONE catalog
    * entry. Hashing the raw string would register distinct tables over
    * one directory — and with different `indexBuckets` values the
    * bucketed-append validation is bypassed, after which files with
    * mixed bucket moduli land in one store and bucketed joins silently
    * miss fingerprints (duplicates get admitted).
    */
  private def qualify(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fsOf(spark, p).makeQualified(p).toString
  }

  /** Deterministic catalog name per (canonicalized) store directory. */
  private[graft] def tableName(spark: SparkSession, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(qualify(spark, dir).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    s"graft_span_index_$digest"
  }
}
