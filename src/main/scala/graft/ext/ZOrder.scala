package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering + min/max file skipping — the missing
  * physical-layout lever for box queries at 100 TB.
  *
  * A table laid out by ONE sort key prunes scans on that key only: a
  * predicate on any other column reads everything. Interleaving the
  * bits of two keys onto a space-filling curve (Z-order here, Hilbert
  * via [[graft.functions.Hilbert2D]]) makes rows close in EITHER key
  * land in the same files, so a per-file min/max manifest turns a 2-D
  * box predicate into an O(box) file read instead of a full scan — the
  * pattern transactional table formats ship as `OPTIMIZE ... ZORDER BY`
  * (file-level stats + data skipping). The reference engine has no
  * layout operator at all (append-only stage tables, cdc-redshift
  * `RedshiftSink`); this is pure extension surface.
  *
  * Everything here is oracle-checkable integer arithmetic: dims land
  * on ≤16-bit grid cells by offset-and-shift ([[gridCell]]), the
  * Z-value is pure shift/mask/or (codegen'd builtin columns, no UDF),
  * and the pruned read is proven EQUAL to the full-scan filter by the
  * `q_zorder_prune` gate row.
  *
  * Scale posture: the curve value is computed scan-side (one pass, no
  * shuffle beyond the ONE range exchange that clusters the write); the
  * manifest is file-cardinality (at 128 MB files, ~8 rows per TB) and
  * lives next to the data — on a real deployment it is the table
  * format's stats/checkpoint table; here a JSON-lines sidecar the
  * driver filters. Pruning cost is manifest-cardinality, zero data IO.
  *
  * Concurrency contract (same as [[Layout.compactParquetDir]]): the
  * layout is written once and read many times; rewrites must be
  * serialized with readers. [[pruneFiles]] re-lists the directory and
  * refuses a manifest that no longer matches the part files, so a
  * concurrent rewrite fails loudly instead of silently dropping rows.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to even bit positions (0 → 0, 1 → 2,
    * …, 15 → 30) with the standard mask-and-shift doubling — four
    * shift/or/and rounds, all codegen'd builtins.
    */
  def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Z-value: bits of `a` at even positions, `b` at odd. */
  def interleave16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Grid cell of `c` on the 16-bit grid over [lo, hi]: offset from
    * `lo`, clamp into the span, then SHIFT so the span's most
    * significant bit lands on grid bit 15 — right shift for spans
    * wider than the grid, LEFT shift for narrower ones. The up-shift
    * matters as much as the down: a narrow dim (say 2,000 users)
    * left unscaled would occupy only the grid's low 11 bits, its high
    * interleave bits constant zero — and the "multi-dimensional"
    * curve silently degenerates to a single-dim sort on the other
    * column (caught by this module's stripe-query certificate).
    *
    * Shift alignment instead of proportional division ON PURPOSE: it
    * is exact integer arithmetic in every engine (the DuckDB oracle
    * replays `>>`/`<<` bit-for-bit; a `* 65535 / span` form would
    * need integer division semantics the Column API doesn't expose,
    * and float division diverges above 2^53), it cannot overflow for
    * any long span, and clustering needs cell LOCALITY, not an
    * exactly-filled grid — at worst the grid uses one fewer value bit
    * than a proportional scale would.
    */
  def gridCell(c: Column, lo: Long, hi: Long): Column = {
    val clamped = least(greatest(c - lit(lo), lit(0L)), lit(math.max(hi - lo, 0L)))
    val s = gridShift(lo, hi)
    if (s >= 0) shiftright(clamped, s) else shiftleft(clamped, -s)
  }

  /** The shift [[gridCell]] applies for a span (≥ 0 = right shift,
    * < 0 = left) — exposed so oracles replay identical arithmetic. */
  def gridShift(lo: Long, hi: Long): Int = {
    val span = math.max(hi - lo, 0L)
    if (span == 0L) 0
    else 64 - java.lang.Long.numberOfLeadingZeros(span) - 16
  }

  /** The Z-value of (a, b) scaled onto the grid spanned by the given
    * bounds — the clustering key [[zorderWrite]] sorts by.
    */
  def zValue(a: Column, loA: Long, hiA: Long,
             b: Column, loB: Long, hiB: Long): Column =
    interleave16(gridCell(a, loA, hiA), gridCell(b, loB, hiB))

  /** Hilbert variant of [[zValue]]: same 16-bit grid, Hilbert distance
    * instead of bit interleave. One unit-step curve (every consecutive
    * pair of cells is grid-adjacent — proven in the spec), so file
    * boxes are tighter than Z's quadrant jumps; the trade is a native
    * expression ([[graft.functions.Hilbert2D]], codegen'd) instead of
    * pure builtins, which is why Z stays the oracle-gated default.
    */
  def hValue(a: Column, loA: Long, hiA: Long,
             b: Column, loB: Long, hiB: Long): Column =
    graft.functions.VectorFunctions.hilbert2d(
      gridCell(a, loA, hiA), gridCell(b, loB, hiB), 16)

  /** Per-file clustering-dim stats — one manifest row per part file. */
  final case class FileBox(file: String, loA: Long, hiA: Long,
                           loB: Long, hiB: Long, rows: Long)

  /** Global dim bounds a layout was scaled with. */
  final case class Bounds(loA: Long, hiA: Long, loB: Long, hiB: Long)

  private val ManifestName = "_graft_zorder.json"

  /** Cluster `df` on the space-filling curve over (`dimA`, `dimB`) —
    * both integral columns — into `nFiles` files under `dir`, and
    * write the per-file min/max manifest that [[prunedRead]] skips
    * with.
    *
    * Plan shape: ONE range exchange on the curve value (sampled range
    * partitioner, so files are row-balanced even on skewed curves) +
    * an in-partition sort; the curve value itself never materializes
    * in the output schema. The stats pass re-reads the written files
    * once, grouped by `input_file_name` — file-local aggregation, no
    * shuffle of data columns.
    *
    * @param curve "z" (default; oracle-checkable pure-builtin
    *              interleave) or "hilbert" (tighter boxes, native
    *              expression)
    * @return the global bounds the grid was scaled with
    */
  def zorderWrite(df: DataFrame, dir: String, dimA: String, dimB: String,
                  nFiles: Int, curve: String = "z"): Bounds = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    require(curve == "z" || curve == "hilbert", s"unknown curve: $curve")
    val spark = df.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val r = df.agg(min(col(dimA)).cast("long"), max(col(dimA)).cast("long"),
      min(col(dimB)).cast("long"), max(col(dimB)).cast("long")).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"cannot cluster an all-null dim ($dimA / $dimB)")
    val bounds = Bounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val zv =
      if (curve == "z")
        zValue(col(dimA), bounds.loA, bounds.hiA,
          col(dimB), bounds.loB, bounds.hiB)
      else hValue(col(dimA), bounds.loA, bounds.hiA,
        col(dimB), bounds.loB, bounds.hiB)
    df.repartitionByRange(nFiles, zv)
      .sortWithinPartitions(zv)
      .write.mode("overwrite").parquet(dir)
    // stats pass: per-file boxes from the files just written
    val boxes = fileBoxes(spark, Seq(dir), dimA, dimB)
    writeManifest(spark, dir, dimA, dimB, curve, boxes)
    bounds
  }

  /** Per-file min/max boxes for the given paths — file-local
    * aggregation keyed on `input_file_name`, no data-column shuffle. */
  private def fileBoxes(spark: SparkSession, paths: Seq[String],
                        dimA: String, dimB: String): Seq[FileBox] =
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(min(col(dimA)).cast("long").as("la"),
        max(col(dimA)).cast("long").as("ha"),
        min(col(dimB)).cast("long").as("lb"),
        max(col(dimB)).cast("long").as("hb"),
        count(lit(1)).as("n"))
      .collect().map { row =>
        val base = row.getString(0).split('/').last
        FileBox(base, row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4), row.getLong(5))
      }.toSeq.sortBy(_.file)

  private def listParts(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Set[String] =
    fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toSet

  /** INCREMENTAL maintenance: append a batch to an existing layout
    * without re-clustering — the ingest half of the transactional-
    * format loop (appends land immediately, a periodic OPTIMIZE
    * re-tightens). The batch is curve-sorted among ITSELF (batch-local
    * bounds) into `nFiles` new part files and their true min/max boxes
    * join the manifest, so pruning stays CORRECT from the first read
    * — every file is covered by its actual box — it just degrades in
    * selectivity as appended batches overlap committed files' key
    * ranges; [[recluster]] restores the tight layout. Committed files
    * are never touched.
    *
    * Same serialization contract as [[Layout.compactParquetDir]]:
    * no concurrent writer of `dir`; the manifest/disk consistency
    * check refuses a directory that changed outside this protocol.
    *
    * @return the appended files' boxes (empty batch appends nothing)
    */
  def appendToLayout(batch: DataFrame, dir: String,
                     nFiles: Int = 1): Seq[FileBox] = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val spark = batch.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val m = readManifest(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = listParts(fs, p)
    require(before == m.boxes.map(_.file).toSet,
      s"manifest/file-set mismatch at $dir (concurrent writer?)")
    val r = batch.agg(min(col(m.dimA)).cast("long"),
      max(col(m.dimA)).cast("long"), min(col(m.dimB)).cast("long"),
      max(col(m.dimB)).cast("long")).head()
    if (r.isNullAt(0)) return Nil // empty batch (or all-null dims)
    val zv =
      if (m.curve == "z")
        zValue(col(m.dimA), r.getLong(0), r.getLong(1),
          col(m.dimB), r.getLong(2), r.getLong(3))
      else hValue(col(m.dimA), r.getLong(0), r.getLong(1),
        col(m.dimB), r.getLong(2), r.getLong(3))
    batch.repartitionByRange(nFiles, zv)
      .sortWithinPartitions(zv)
      .write.mode("append").parquet(dir)
    val newFiles = (listParts(fs, p) -- before).toSeq.sorted
    val newBoxes = fileBoxes(spark, newFiles.map(f => s"$dir/$f"),
      m.dimA, m.dimB)
    writeManifest(spark, dir, m.dimA, m.dimB, m.curve, m.boxes ++ newBoxes)
    newBoxes
  }

  /** The OPTIMIZE half of the loop: re-cluster the layout's current
    * rows into `nFiles` tight files ([[Layout.swapDir]], so a crash
    * mid-way leaves either the old or the new layout, never a
    * half-rewritten one). Serialization contract as above: no
    * concurrent reader or writer during the swap.
    */
  def recluster(spark: SparkSession, dir: String, nFiles: Int): Bounds = {
    Layout.recoverSwapDir(spark, dir)
    val m = readManifest(spark, dir)
    Layout.swapDir(spark, dir)(zorderWrite(spark.read.parquet(dir), _,
      m.dimA, m.dimB, nFiles, m.curve))
  }

  private def writeManifest(spark: SparkSession, dir: String, dimA: String,
                            dimB: String, curve: String,
                            boxes: Seq[FileBox]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val header =
      s"""{"dimA": "$dimA", "dimB": "$dimB", "curve": "$curve"}"""
    val lines = boxes.map(b =>
      s"""{"file": "${b.file}", "loA": ${b.loA}, "hiA": ${b.hiA},""" +
        s""" "loB": ${b.loB}, "hiB": ${b.hiB}, "rows": ${b.rows}}""")
    val out = fs.create(p, true)
    try out.write((header +: lines).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private val BoxRe =
    ("""\{"file": "([^"]+)", "loA": (-?\d+), "hiA": (-?\d+),""" +
      """ "loB": (-?\d+), "hiB": (-?\d+), "rows": (\d+)\}""").r

  /** A layout's manifest: the clustered dims, the curve it was
    * clustered with, and one min/max box per part file. */
  final case class LayoutManifest(dimA: String, dimB: String,
                                  curve: String, boxes: Seq[FileBox])

  def readManifest(spark: SparkSession, dir: String): LayoutManifest = {
    val p = new org.apache.hadoop.fs.Path(dir, ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $ManifestName at $dir — not a zorderWrite layout")
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split('\n')
    val header =
      """\{"dimA": "([^"]+)", "dimB": "([^"]+)", "curve": "([^"]+)"\}""".r
        .findFirstMatchIn(lines.head)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed $ManifestName header: ${lines.head}"))
    val boxes = lines.tail.toSeq.map {
      case BoxRe(f, la, ha, lb, hb, n) =>
        FileBox(f, la.toLong, ha.toLong, lb.toLong, hb.toLong, n.toLong)
      case bad => throw new IllegalArgumentException(
        s"malformed $ManifestName line: $bad")
    }
    LayoutManifest(header.group(1), header.group(2), header.group(3), boxes)
  }

  /** The part files whose box intersects the query box, plus the total
    * file count — the skipping decision, exposed for certificates.
    * Refuses a manifest whose file set no longer matches the directory
    * (a concurrent rewrite must fail loudly, never silently drop rows).
    */
  def pruneFiles(spark: SparkSession, dir: String,
                 loA: Long, hiA: Long, loB: Long,
                 hiB: Long): (Seq[String], Int) = {
    val boxes = readManifest(spark, dir).boxes
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = listParts(fs, p)
    require(onDisk == boxes.map(_.file).toSet,
      s"manifest/file-set mismatch at $dir (concurrent rewrite?): " +
        s"manifest ${boxes.size} files, disk ${onDisk.size}")
    val kept = boxes.filter(b =>
      b.loA <= hiA && b.hiA >= loA && b.loB <= hiB && b.hiB >= loB)
    (kept.map(_.file), boxes.size)
  }

  /** Box query over a [[zorderWrite]] layout, reading ONLY the files
    * whose min/max box intersects — then the exact residual filter, so
    * the result is row-for-row the full-scan answer (the `q_zorder_prune`
    * gate pins this). An empty intersection is proven empty by the
    * manifest (no file's box meets the query box ⇒ no row can match).
    */
  def prunedRead(spark: SparkSession, dir: String,
                 loA: Long, hiA: Long, loB: Long, hiB: Long): DataFrame = {
    val m = readManifest(spark, dir)
    val (dimA, dimB) = (m.dimA, m.dimB)
    val (kept, _) = pruneFiles(spark, dir, loA, hiA, loB, hiB)
    val cond = col(dimA).between(loA, hiA) && col(dimB).between(loB, hiB)
    if (kept.isEmpty) spark.read.parquet(dir).filter(cond).limit(0)
    else spark.read.parquet(kept.map(f => s"$dir/$f"): _*).filter(cond)
  }
}
