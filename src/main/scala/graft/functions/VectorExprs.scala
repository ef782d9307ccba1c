package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns.
  *
  * The composable form (`zip_with` + `aggregate` lambdas) allocates and
  * interprets per element — ~50× slower on 64-dim vectors. This is a
  * single fused loop over the primitive float arrays, with whole-stage
  * codegen emitting the same loop inline. Accumulation order (index 0→n
  * in double precision) is identical to the lambda formulation and to
  * external oracles, so results are bit-equal.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    // zero-norm guard: 0/0 = NaN, and BOTH Spark and DuckDB order NaN
    // ABOVE every number, so an unguarded NaN >= tau is TRUE — a zero
    // vector would "near-dup" every candidate it meets. Cosine with a
    // zero vector is defined 0 here (the probeCellsLocal convention).
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.getFloat($i);
          double $yi = (double) $b.getFloat($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
          : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection signature as a native expression: bit i of the
  * result is the sign of ⟨v, h_i⟩ for deterministic ±1 hyperplanes
  * (md5-derived, see [[SrpSignature.signsFor]]). One fused loop instead
  * of nBits interpreted `aggregate(zip_with(...))` folds per row.
  */
case class SrpSignature(child: Expression, signs: Array[Array[Int]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "srp_sig"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var sig = 0L
    var i = 0
    while (i < signs.length) {
      val plane = signs(i)
      val n = math.min(x.numElements(), plane.length)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += x.getFloat(j).toDouble * plane(j); j += 1 }
      if (dot > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("signs", signs, "int[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val plane = ctx.freshName("plane"); val sig = ctx.freshName("sig")
      s"""
        long $sig = 0L;
        for (int $i = 0; $i < $signsRef.length; $i++) {
          int[] $plane = $signsRef[$i];
          int $n = java.lang.Math.min($a.numElements(), $plane.length);
          double $dot = 0.0;
          for (int $j = 0; $j < $n; $j++) {
            $dot += ((double) $a.getFloat($j)) * $plane[$j];
          }
          if ($dot > 0) $sig |= 1L << $i;
        }
        ${ev.value} = $sig;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

object SrpSignature {
  /** Deterministic ±1 hyperplanes: sign = parity of md5("table:plane:dim")
    * — stable across engines and releases, no RNG state to ship.
    */
  def signsFor(dim: Int, nBits: Int, table: Int): Array[Array[Int]] =
    Array.tabulate(nBits, dim) { (i, j) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$table:$i:$j".getBytes("UTF-8"))
      if ((hex(0) & 1) == 0) 1 else -1
    }
}

/** Shared scoring core for the centroid expressions: cosine of the input
  * vector against every centroid, with the per-centroid norms
  * precomputed once at construction (the vector's own norm is computed
  * once per ROW, not once per centroid — half the flops of k separate
  * [[CosineSim]] calls). Accumulation is index-order in double precision,
  * the same IEEE sequence as [[CosineSim]], so assignments agree
  * bit-for-bit with per-centroid cosine formulations and external
  * oracles. `-0.0` normalizes to `0.0` to mirror SQL double ordering.
  */
trait CentroidScoring {
  def cents: Array[Array[Float]]
  def ids: Array[Long]
  @transient protected lazy val norms: Array[Double] = cents.map { v =>
    var nb = 0.0
    var j = 0
    while (j < v.length) { nb += v(j).toDouble * v(j).toDouble; j += 1 }
    math.sqrt(nb)
  }

  protected def sims(x: ArrayData): Array[Double] = {
    val n = math.min(x.numElements(), if (cents.isEmpty) 0 else cents(0).length)
    var na = 0.0
    var j = 0
    while (j < n) { val xj = x.getFloat(j).toDouble; na += xj * xj; j += 1 }
    val sqrtNa = math.sqrt(na)
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val v = cents(c)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * v(i); i += 1 }
      val s = dot / (sqrtNa * norms(c))
      out(c) = if (s == 0.0) 0.0 else s
      c += 1
    }
    out
  }
}

/** Nearest-centroid assignment (IVF coarse quantization / k-means
  * assignment): argmax cosine over a centroid matrix carried as ONE
  * reference object — the expression tree is O(1) in the centroid
  * count, where the round-2 formulation inlined one struct expression
  * (embedding a full vector literal) per centroid: fine at k=8, a plan
  * blowup at k≈1000. Ties break to the lowest centroid id (iteration is
  * in ascending-id order with a strict comparison; NaN compares
  * greatest, as in SQL double ordering).
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Float]],
                           ids: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CentroidScoring {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(a: Any): Any = {
    val s = sims(a.asInstanceOf[ArrayData])
    var best = 0
    var c = 1
    while (c < s.length) {
      if (java.lang.Double.compare(s(c), s(best)) > 0) best = c
      c += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val na = ctx.freshName("na")
      val sqrtNa = ctx.freshName("sqrtNa"); val best = ctx.freshName("best")
      val bestId = ctx.freshName("bestId"); val c = ctx.freshName("c")
      val v = ctx.freshName("v"); val dot = ctx.freshName("dot")
      val sim = ctx.freshName("sim"); val j = ctx.freshName("j")
      s"""
        int $n = java.lang.Math.min($a.numElements(),
          $centsRef.length == 0 ? 0 : $centsRef[0].length);
        double $na = 0.0;
        for (int $j = 0; $j < $n; $j++) {
          double xj = (double) $a.getFloat($j); $na += xj * xj;
        }
        double $sqrtNa = java.lang.Math.sqrt($na);
        double $best = java.lang.Double.NEGATIVE_INFINITY;
        long $bestId = $idsRef.length == 0 ? -1L : $idsRef[0];
        for (int $c = 0; $c < $centsRef.length; $c++) {
          float[] $v = $centsRef[$c];
          double $dot = 0.0;
          for (int $j = 0; $j < $n; $j++) {
            $dot += ((double) $a.getFloat($j)) * $v[$j];
          }
          double $sim = $dot / ($sqrtNa * $normsRef[$c]);
          if ($sim == 0.0) $sim = 0.0;
          if (java.lang.Double.compare($sim, $best) > 0) {
            $best = $sim; $bestId = $idsRef[$c];
          }
        }
        ${ev.value} = $bestId;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The `nProbe` nearest centroid ids, best-first, ordered by
  * (cosine desc, id asc) — the query-side cell probe of IVF search.
  * Runs on the (small, broadcast) query side, so interpreted evaluation
  * is fine; the matrix still rides as one reference object.
  */
case class ProbeCentroids(child: Expression, cents: Array[Array[Float]],
                          ids: Array[Long], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CentroidScoring
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "probe_centroids"

  override def nullSafeEval(a: Any): Any = {
    val s = sims(a.asInstanceOf[ArrayData])
    val order = Array.range(0, s.length).sortWith { (i, j) =>
      val c = java.lang.Double.compare(s(j), s(i)) // desc by sim, NaN first
      if (c != 0) c < 0 else ids(i) < ids(j)       // ties: id asc
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      order.take(nProbe).map(ids(_)))
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeCentroids =
    copy(child = newChild)
}

/** Cosine similarity to the NEAREST centroid — the per-point term of the
  * spherical-k-means objective Σ cos(x, c_assign(x)). Shares
  * [[CentroidScoring]] with [[NearestCentroid]] so the value is the exact
  * sim the assignment maximized (same IEEE accumulation order, same
  * `-0.0` normalization); used by the Lloyd objective trace, a
  * once-per-iteration audit pass, so interpreted evaluation is fine.
  */
case class BestCentroidSim(child: Expression, cents: Array[Array[Float]],
                           ids: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CentroidScoring
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "best_centroid_sim"

  override def nullSafeEval(a: Any): Any = {
    val s = sims(a.asInstanceOf[ArrayData])
    var best = 0
    var c = 1
    while (c < s.length) {
      if (java.lang.Double.compare(s(c), s(best)) > 0) best = c
      c += 1
    }
    s(best)
  }

  override protected def withNewChildInternal(newChild: Expression): BestCentroidSim =
    copy(child = newChild)
}

/** First `nibbles` hex chars of the md5 digest as an unsigned long —
  * the engine's portable hash without the hex round-trip. Value-identical
  * to `conv(substring(md5(c), 1, nibbles), 16, 10)` (the first 4·nibbles
  * bits of the digest, big-endian), but skips materializing the 32-char
  * hex string and re-parsing it base-16 — ~40% off the hash cost on the
  * sampling/sketch/minhash hot paths. The digest itself is unchanged, so
  * external engines still reproduce every value from md5.
  */
/** Rotation densification for one-permutation MinHash signatures
  * (Shrivastava & Li 2014, "Densifying One Permutation Hashing via
  * Rotation"): an EMPTY bin i (null element) borrows the value of the
  * first non-empty bin at cyclic distance `hop` to its right, offset
  * by hop·C (C strictly greater than any native bin value, so a
  * borrowed value can only collide with a value borrowed over the
  * SAME hop). Both documents of a pair densify from the same relative
  * positions, so the per-position collision probability the LSH
  * banding relies on is preserved for empty bins too — the property
  * plain "rehash the empty bin" filling would destroy. Early-exit
  * scan: O(k) typical, O(k²) worst case for a nearly-empty signature
  * (short documents), never data-size dependent. An all-null input
  * (no shingles at all — a row that upstream grouping cannot actually
  * produce) densifies to zeros rather than failing.
  */
case class OphDensify(child: Expression, c: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "oph_densify"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = arr.numElements()
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      if (!arr.isNullAt(i)) out(i) = arr.getLong(i)
      else {
        var hop = 1
        var done = false
        while (hop < k && !done) {
          val j = (i + hop) % k
          if (!arr.isNullAt(j)) { out(i) = arr.getLong(j) + hop * c; done = true }
          hop += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val k = ctx.freshName("k"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val hop = ctx.freshName("hop")
      val j = ctx.freshName("j"); val done = ctx.freshName("done")
      s"""
        int $k = $a.numElements();
        long[] $out = new long[$k];
        for (int $i = 0; $i < $k; $i++) {
          if (!$a.isNullAt($i)) { $out[$i] = $a.getLong($i); continue; }
          boolean $done = false;
          for (int $hop = 1; $hop < $k && !$done; $hop++) {
            int $j = ($i + $hop) % $k;
            if (!$a.isNullAt($j)) {
              $out[$i] = $a.getLong($j) + $hop * ${c}L;
              $done = true;
            }
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): OphDensify =
    copy(child = newChild)
}

case class Md5Prefix(child: Expression, nibbles: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nibbles > 0 && nibbles <= 16, "nibbles must be in [1,16]")

  // input must be binary — the Column API casts (string→binary is the
  // UTF-8 bytes, exactly what md5(string) digests)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "md5_prefix"

  override def nullSafeEval(a: Any): Any =
    Md5Prefix.compute(a.asInstanceOf[Array[Byte]], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5Prefix.compute($c, $nibbles)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix =
    copy(child = newChild)
}

object Md5Prefix {
  def compute(bytes: Array[Byte], nibbles: Int): Long = {
    val d = org.apache.commons.codec.digest.DigestUtils.md5(bytes)
    var l = 0L
    var i = 0
    while (i < 8) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    l >>> (64 - 4 * nibbles)
  }
}

/** Content-defined anchor window fingerprints in ONE pass over the
  * input bytes — the hot inner loop of
  * [[graft.ext.Dedup.substringDupSpans]]. For every byte offset i where
  * `(b[i]·4 + b[i+3]·2 + b[i+7]) mod anchorMod == 0` (a Gear-style
  * 3-point content hash), emits the md5 hex of the `winBytes`-byte
  * window starting at i. Byte-oriented: on ASCII text, byte offsets
  * equal char offsets, so the decision replays in any engine via
  * `ascii(substr(...))`; non-ASCII bytes still anchor deterministically
  * but char-based replays diverge (normalize or transliterate first).
  *
  * Exists because the builtin formulation — explode positions, filter,
  * `md5(substr(t, p, w))` — pays an O(p) UTF-8 seek per position
  * (`UTF8String.substring` walks from the start), turning the scan
  * quadratic per document; this loop is O(n · density) with zero
  * per-position allocation. Measured ~5× on the sf0.1 corpus.
  */
case class AnchorWindowMd5(child: Expression, winBytes: Int, anchorMod: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(winBytes >= 8, "window must cover the 8-byte anchor head")
  require(anchorMod > 0, "anchorMod must be positive")

  // input must be binary — the Column API casts (string→binary is the
  // UTF-8 bytes)
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.BinaryType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "anchor_windows"

  override def nullSafeEval(a: Any): Any =
    AnchorWindowMd5.compute(a.asInstanceOf[Array[Byte]], winBytes, anchorMod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.AnchorWindowMd5.compute($c, $winBytes, $anchorMod)")

  override protected def withNewChildInternal(newChild: Expression): AnchorWindowMd5 =
    copy(child = newChild)
}

/** `winnow_windows(bytes, winBytes, k)`: WINNOWING fingerprint
  * selection (Schleimer, Wilkerson, Aiken 2003, "Winnowing: Local
  * Algorithms for Document Fingerprinting") — the GUARANTEED-recall
  * alternative to [[AnchorWindowMd5]]'s content-defined anchors: in
  * every window of `k` consecutive positions select the position with
  * the minimum cheap hash (ties to the RIGHTMOST — the paper's rule),
  * fingerprint only the selected windows. Any two documents sharing an
  * exact span of ≥ winBytes + k − 1 bytes share at least one SELECTED
  * fingerprint — a deterministic floor where the anchor scheme's
  * recall is the probabilistic (1−1/mod)^(L−win+1) law. Density is
  * ~2/(k+1) selections per position (the paper's bound), so k plays
  * anchorMod's cost role. The selection hash is the same 3-point byte
  * hash the anchor rule uses (replayable in SQL); md5 runs only at
  * selected positions. Documents shorter than a full selection window
  * but holding ≥ 1 fingerprint position select their global
  * rightmost-min (one fingerprint — nothing silently unfingerprinted).
  */
case class WinnowWindowMd5(child: Expression, winBytes: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(winBytes >= 8, "window must cover the 8-byte selection-hash head")
  require(k >= 1, "selection window k must be positive")

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.BinaryType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnow_windows"

  override def nullSafeEval(a: Any): Any =
    WinnowWindowMd5.compute(a.asInstanceOf[Array[Byte]], winBytes, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowWindowMd5.compute($c, $winBytes, $k)")

  override protected def withNewChildInternal(newChild: Expression): WinnowWindowMd5 =
    copy(child = newChild)
}

object WinnowWindowMd5 {
  /** Array of (p, fp) structs at the winnow-SELECTED positions; p is
    * the 1-based byte offset, fp the winBytes-window RAW md5 digest
    * (16 bytes — half the hex form's shuffle/sort/cache bytes and three
    * fewer allocations per window; consumers that surface fps hex() at
    * the output boundary). */
  def compute(bytes: Array[Byte], win: Int, k: Int): ArrayData = {
    val nPos = bytes.length - win + 1
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    if (nPos <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    val h = new Array[Int](nPos)
    var i = 0
    while (i < nPos) {
      h(i) = (bytes(i) & 0xff) * 4 + (bytes(i + 3) & 0xff) * 2 +
        (bytes(i + 7) & 0xff)
      i += 1
    }
    val selected = new Array[Boolean](nPos)
    // rightmost-min argmin over [lo, hi] (<= so later positions win ties)
    def argmin(lo: Int, hi: Int): Int = {
      var best = lo; var j = lo + 1
      while (j <= hi) { if (h(j) <= h(best)) best = j; j += 1 }
      best
    }
    if (nPos <= k) selected(argmin(0, nPos - 1)) = true
    else {
      var minIdx = argmin(0, k - 1)
      selected(minIdx) = true
      var j = 1
      while (j <= nPos - k) {
        val hi = j + k - 1
        if (minIdx < j) minIdx = argmin(j, hi) // old min slid out: rescan
        else if (h(hi) <= h(minIdx)) minIdx = hi // new entrant wins ties
        selected(minIdx) = true
        j += 1
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    i = 0
    while (i < nPos) {
      if (selected(i)) {
        md.reset()
        md.update(bytes, i, win)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i + 1, md.digest()))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

object AnchorWindowMd5 {
  /** Array of (p, fp) structs — p is the 1-based BYTE offset (== char
    * offset on ASCII), fp the window's RAW md5 digest (16 bytes; see
    * [[WinnowWindowMd5.compute]] on why binary, not hex). */
  def compute(bytes: Array[Byte], win: Int, mod: Int): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    val last = bytes.length - win
    while (i <= last) {
      if (((bytes(i) & 0xff) * 4 + (bytes(i + 3) & 0xff) * 2 +
          (bytes(i + 7) & 0xff)) % mod == 0) {
        md.reset()
        md.update(bytes, i, win)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i + 1, md.digest()))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Unicode NFC canonicalization — the normalization pass BEFORE any
  * fingerprint/dedup hash at corpus scale: composed "é" (U+00E9) and
  * decomposed "e"+U+0301 render identically but hash differently, so
  * un-normalized exact dedup silently misses visually-identical
  * documents. Fast path: already-normalized text (all ASCII) returns
  * the input UTF8String with no allocation.
  */
object TextNorm {
  def nfc(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object IdnaFold {
  /** IDNA ToASCII per RFC 3490 via the JDK (`java.net.IDN`): an
    * internationalized hostname folds to its punycode form
    * (`münchen.example` → `xn--mnchen-3ya.example`); already-ASCII
    * hosts — including punycode — pass through unchanged, so the fold
    * is idempotent and mixed IDN/punycode crawls collide on one key.
    * Malformed hosts (empty labels, overlong, illegal code points)
    * return AS-IS instead of throwing: a crawl's garbage-host rows must
    * not kill the canonicalization scan, and the unfolded value keeps
    * the default as-is comparison semantics for exactly those rows.
    */
  def toAscii(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (str.isEmpty || str.forall(c => c < 0x80)) s
    else try org.apache.spark.unsafe.types.UTF8String.fromString(
      java.net.IDN.toASCII(str))
    catch { case _: IllegalArgumentException => s }
  }
}

/** `idna_ascii(host)`: RFC 3490 ToASCII hostname fold (see [[IdnaFold]]).
  * Opt-in — the canonical-URL default compares hosts as-is.
  */
case class IdnaAscii(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "idna_ascii"

  override def nullSafeEval(a: Any): Any =
    IdnaFold.toAscii(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.IdnaFold.toAscii($a);")

  override protected def withNewChildInternal(newChild: Expression): IdnaAscii =
    copy(child = newChild)
}

/** `nfc_normalize(text)`: Unicode NFC as a codegen'd expression (matches
  * DuckDB's `nfc_normalize`, which is what keeps NFC-keyed dedup
  * oracle-checkable).
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(a: Any): Any =
    TextNorm.nfc(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextNorm.nfc($a);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `bin_lcp(a, b)`: common-prefix length IN BYTES of two binary values —
  * the adjacent-pair LCP primitive of the suffix-order dedup statistics
  * ([[graft.ext.Dedup.lcpPerPosition]]).
  *
  * The composable form (`filter(sequence(1, n), i -> substring(a,i,1) <>
  * substring(b,i,1))` then `element_at(..,1) - 1`) allocates a position
  * array plus two 1-byte binaries per probed index and cannot early-exit
  * past the first mismatch; this is one fused byte loop that stops at
  * the first differing byte, with whole-stage codegen emitting the same
  * loop inline.
  */
case class BinaryLcp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "bin_lcp"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x(i) == y(i)) i += 1
    i
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
        int $n = java.lang.Math.min($a.length, $b.length);
        int $i = 0;
        while ($i < $n && $a[$i] == $b[$i]) $i++;
        ${ev.value} = $i;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryLcp =
    copy(left = newLeft, right = newRight)
}

/** `ngram_units(text, ns)`: every word-n-gram of the normalized text,
  * for all n in `ns`, as (k = n, h = 64-bit identity hash, chars =
  * character length of the joined n-gram) structs in ONE pass — the
  * unit generator of [[graft.ext.Corpus.repetitionSignals]]'s
  * repetition battery (Rae et al. 2021 table A1).
  *
  * Exists because the builtin formulation — one `transform` over
  * positions PER n, each element `xxhash64(array_join(slice(ts,i,n)))`
  * — materializes the n-gram STRING at every position (Σn ≈ 54 token
  * copies per position for n ∈ 2..10) through interpreted lambdas.
  * This loop hashes each token once (XXH64, the builtin's own hash)
  * and forms each n-gram identity from prefix polynomial sums —
  * O(L·|ns|) long arithmetic, zero string allocation.
  *
  * The hash is an IDENTITY, not a portable value: `h(i,n) = S[i+n] −
  * S[i]·P^n (mod 2^64)` where `S` is the P-base prefix polynomial of
  * the per-token XXH64s. Downstream only ever groups on (doc, k, h) —
  * the battery's signals are counts and character masses, and the
  * DuckDB oracle replays them by grouping the n-gram STRINGS — so any
  * within-document collision-free identity yields identical output
  * (collisions: ~2⁻⁶⁴ per n-gram pair, same as hashing the joined
  * string). `chars` is exact: Σ token char lengths + (n−1) separators,
  * from a prefix sum — equal to `length(array_join(slice(ts,i,n),' '))`.
  *
  * Input must be NORMALIZED text (single spaces, trimmed, non-empty) —
  * [[graft.ext.TextOps.normalized]]'s contract; token boundaries are
  * single 0x20 bytes, which no UTF-8 continuation byte can alias.
  */
case class NgramUnits(child: Expression, ns: Seq[Int])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // Seq, not Array: case-class equality on an Array field is reference
  // equality, which breaks logical-plan equality — a re-built plan would
  // never match its own CacheManager entry (warm runs silently recompute)
  require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
  private lazy val nsArr: Array[Int] = ns.toArray

  // input must be binary — the Column API casts (string→binary is the
  // UTF-8 bytes)
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("chars",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ngram_units"

  override def nullSafeEval(a: Any): Any =
    NgramUnits.compute(a.asInstanceOf[Array[Byte]], nsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramUnits.compute($c, $nsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramUnits =
    copy(child = newChild)
}

object NgramUnits {
  // odd multiplier (2⁶⁴·φ⁻¹) — invertible mod 2^64, so S[i+n] − S[i]·Pⁿ
  // loses no token-hash information to the modulus
  private val P = 0x9E3779B97F4A7C15L
  private val Seed = 42L // xxhash64's default seed

  def compute(bytes: Array[Byte], ns: Array[Int]): ArrayData = {
    import org.apache.spark.unsafe.Platform
    val len = bytes.length
    if (len == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    // pass 1: token count (normalized text: tokens = spaces + 1)
    var nTok = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    // pass 2: prefix polynomial of token hashes + prefix char counts
    val S = new Array[Long](nTok + 1)
    val C = new Array[Long](nTok + 1)
    var j = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed)
        S(j + 1) = S(j) * P + h
        // chars = non-continuation UTF-8 bytes
        var c = 0L
        var b = start
        while (b < i) { if ((bytes(b) & 0xC0) != 0x80) c += 1; b += 1 }
        C(j + 1) = C(j) + c
        j += 1
        start = i + 1
      }
      i += 1
    }
    var total = 0
    var k = 0
    while (k < ns.length) {
      val m = nTok - ns(k) + 1
      if (m > 0) total += m
      k += 1
    }
    val out = new Array[Any](total)
    var o = 0
    k = 0
    while (k < ns.length) {
      val n = ns(k)
      // P^n by repeated multiply (n ≤ ~10; wraps mod 2^64 like S does)
      var pn = 1L
      var e = 0
      while (e < n) { pn *= P; e += 1 }
      i = 0
      val m = nTok - n
      while (i <= m) {
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, S(i + n) - S(i) * pn, C(i + n) - C(i) + (n - 1)))
        o += 1
        i += 1
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorFunctions {
  val Name = "cosine_sim"
  val SrpName = "srp_sig"

  private def intArg(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  private def srpBuilder(exprs: Seq[Expression]): Expression =
    SrpSignature(exprs(0),
      SrpSignature.signsFor(intArg(exprs(1)), intArg(exprs(2)), intArg(exprs(3))))

  // centroid matrix / id list arrive as FOLDABLE literals (typedlit) and
  // are folded into plain JVM arrays at resolution time — the expression
  // carries them as reference objects, not as plan nodes
  private def matArg(e: Expression): Array[Array[Float]] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray())
  }
  private def longsArg(e: Expression): Array[Long] =
    e.eval(null).asInstanceOf[ArrayData].toLongArray()

  // BPE merge table: array<array<string>> literal → Array[Array[String]]
  private def strPairsArg(e: Expression): Array[Array[String]] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      val p = ad.getArray(i)
      Array.tabulate(p.numElements())(j => p.getUTF8String(j).toString)
    }
  }

  // PQ codebook: m sub-codebooks × nCodes codewords × subDim floats,
  // arriving as one foldable nested-array literal
  private def booksArg(e: Expression): Array[Array[Array[Float]]] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { s =>
      val bs = ad.getArray(s)
      Array.tabulate(bs.numElements())(c => bs.getArray(c).toFloatArray())
    }
  }

  private[functions] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    Name -> (exprs => CosineSim(exprs(0), exprs(1))),
    SrpName -> srpBuilder,
    // aggregates: the analyzer wraps AggregateFunction results in an
    // AggregateExpression automatically on resolution
    "kmv_bottomk" -> (exprs => KmvBottomK(exprs(0), intArg(exprs(1)))),
    "simhash_sig" -> (exprs => SimhashSig(exprs(0))),
    "freq_sketch" -> (exprs => FreqSketch(exprs(0), intArg(exprs(1)))),
    "vec_sum_count" -> (exprs => VecSumCount(exprs(0), intArg(exprs(1)))),
    "md5_prefix" -> (exprs => Md5Prefix(exprs(0), intArg(exprs(1)))),
    "oph_densify" -> (exprs => OphDensify(exprs(0),
      exprs(1).eval(null).asInstanceOf[Number].longValue())),
    "anchor_windows" -> (exprs =>
      AnchorWindowMd5(exprs(0), intArg(exprs(1)), intArg(exprs(2)))),
    "winnow_windows" -> (exprs =>
      WinnowWindowMd5(exprs(0), intArg(exprs(1)), intArg(exprs(2)))),
    "ngram_units" -> (exprs => NgramUnits(exprs(0),
      exprs(1).eval(null).asInstanceOf[ArrayData].toIntArray().toSeq)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs(0))),
    "idna_ascii" -> (exprs => IdnaAscii(exprs(0))),
    "hilbert2d" -> (exprs =>
      Hilbert2D(exprs(0), exprs(1), intArg(exprs(2)))),
    "bin_lcp" -> (exprs => BinaryLcp(exprs(0), exprs(1))),
    "bloom_agg" -> (exprs =>
      BloomAgg(exprs(0), intArg(exprs(1)), intArg(exprs(2)))),
    // the filter arrives as a foldable binary literal, folded into a
    // long[] reference object at resolution time (cf. the centroid matrix)
    "bloom_contains" -> { exprs =>
      val words = Bloom.toWords(exprs(1).eval(null).asInstanceOf[Array[Byte]])
      val nBits = intArg(exprs(2))
      // a probe nBits different from the build nBits would crash per-row
      // (bigger) or silently probe wrong bit positions — false NEGATIVES,
      // the one failure a Bloom filter must never have (smaller)
      require(words.length == Bloom.nWords(nBits),
        s"bloom_contains nBits $nBits does not match the filter " +
          s"(${words.length * 64} bits) — probe with the build-time nBits")
      BloomContains(exprs(0), words, nBits, intArg(exprs(3)))
    },
    // the broadcast probe: arg 1 is a registry handle (the Broadcast
    // itself can't ride a foldable literal), resolved on the driver
    "bloom_contains_bcast" -> { exprs =>
      val bcast = BloomBroadcasts.get(
        exprs(1).eval(null).asInstanceOf[Number].longValue())
      val nBits = intArg(exprs(2))
      require(bcast.value.length == Bloom.nWords(nBits),
        s"bloom_contains_bcast nBits $nBits does not match the filter " +
          s"(${bcast.value.length * 64} bits) — probe with the build-time nBits")
      BloomContainsBcast(exprs(0), bcast, nBits, intArg(exprs(3)))
    },
    "pq_encode" -> (exprs => PqEncode(exprs(0), booksArg(exprs(1)))),
    "pq_codes" -> (exprs => PqCodes(exprs(0), booksArg(exprs(1)))),
    "pq_dist_table" -> (exprs => PqDistTable(exprs(0), booksArg(exprs(1)))),
    "pq_adc" -> (exprs => PqAdc(exprs(0), exprs(1), intArg(exprs(2)))),
    "nearest_centroid" -> (exprs =>
      NearestCentroid(exprs(0), matArg(exprs(1)), longsArg(exprs(2)))),
    // merge table arrives as a foldable array<array<string>> literal,
    // folded into ONE BpeTable reference object at resolution time
    "bpe_encode" -> (exprs =>
      BpeEncodeExpr(exprs(0), new BpeTable(strPairsArg(exprs(1))))),
    // unigram vocab arrives as array<array<string>> of [piece, cost]
    // rows (cost = integer tenth-millinats as a string), folded into
    // ONE UnigramTable reference object at resolution time
    "unigram_encode" -> (exprs =>
      UnigramEncodeExpr(exprs(0),
        new UnigramTable(strPairsArg(exprs(1)),
          exprs(2).eval(null).asInstanceOf[Number].longValue()))),
    // subword-regularization draw: same table literal + (nbest,
    // alpha10k, seed) dials, folded into one sampler reference object
    "unigram_sample" -> (exprs =>
      UnigramSampleExpr(exprs(0), new UnigramSampler(
        new UnigramTable(strPairsArg(exprs(1)),
          exprs(2).eval(null).asInstanceOf[Number].longValue()),
        intArg(exprs(3)),
        exprs(4).eval(null).asInstanceOf[Number].longValue(),
        exprs(5).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .toString))),
    "probe_centroids" -> (exprs =>
      ProbeCentroids(exprs(0), matArg(exprs(1)), longsArg(exprs(2)),
        intArg(exprs(3)))),
    "best_centroid_sim" -> (exprs =>
      BestCentroidSim(exprs(0), matArg(exprs(1)), longsArg(exprs(2)))),
    // a merge batch's keys arrive as one foldable typed array literal,
    // folded into ONE KeySet reference object at resolution time
    "key_not_in" -> (exprs => KeyNotIn(exprs(0), new KeySet(
      exprs(1).eval(null).asInstanceOf[ArrayData],
      exprs(1).dataType.asInstanceOf[ArrayType].elementType))))

  /** Idempotent per-session registration (temp functions). Sessions built
    * through [[GraftExtensions]] get them injected; this covers foreign
    * sessions handed to the library.
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      val reg = spark.sessionState.functionRegistry
      // skip if present: createOrReplace on an existing name logs a WARN
      // per call, which pollutes the bench/verify stdout the driver parses
      if (!reg.functionExists(
          new org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }

  /** Column API for [[CosineSim]] (requires registration, see above). */
  def cosineSim(a: Column, b: Column): Column = call_function(Name, a, b)

  /** Column API for [[SrpSignature]]: dim/nBits/table must be literals. */
  def srpSig(emb: Column, dim: Int, nBits: Int, table: Int): Column =
    call_function(SrpName, emb, lit(dim), lit(nBits), lit(table))

  /** Column API for [[NearestCentroid]]: cell id of the nearest centroid. */
  def nearestCentroid(emb: Column, cents: Array[(Long, Array[Float])]): Column =
    call_function("nearest_centroid", emb,
      typedlit(cents.map(_._2.toSeq).toSeq), typedlit(cents.map(_._1).toSeq))

  /** Column API for [[BestCentroidSim]]: cosine to the nearest centroid. */
  def bestCentroidSim(emb: Column, cents: Array[(Long, Array[Float])]): Column =
    call_function("best_centroid_sim", emb,
      typedlit(cents.map(_._2.toSeq).toSeq), typedlit(cents.map(_._1).toSeq))

  /** Column API for [[ProbeCentroids]]: the nProbe nearest cell ids. */
  def probeCentroids(emb: Column, cents: Array[(Long, Array[Float])],
                     nProbe: Int): Column =
    call_function("probe_centroids", emb,
      typedlit(cents.map(_._2.toSeq).toSeq), typedlit(cents.map(_._1).toSeq),
      lit(nProbe))

  /** Column API for [[KeyNotIn]]: true where `key` is null or not one of
    * `keys`, Scala values of `keyType`. The keys ride as one typed
    * literal → reference object, so plans stay O(1) in the key count.
    */
  def keyNotIn(key: Column, keys: Seq[Any], keyType: DataType): Column =
    call_function("key_not_in", key, lit(Literal.create(keys, ArrayType(keyType))))

  /** Column API for [[NfcNormalize]]: Unicode NFC canonicalization. */
  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)

  /** Column API for [[IdnaAscii]]: RFC 3490 hostname punycode fold. */
  def idnaAscii(c: Column): Column = call_function("idna_ascii", c)

  /** Column API for [[Hilbert2D]]: order must be a literal. */
  def hilbert2d(x: Column, y: Column, order: Int): Column =
    call_function("hilbert2d", x, y, lit(order))

  /** Column API for [[BinaryLcp]]: common-prefix byte length. */
  def binLcp(a: Column, b: Column): Column = call_function("bin_lcp", a, b)

  /** Column API for [[BpeEncodeExpr]]: BPE symbols of (normalized) text
    * under a learned merge table. The table rides as one literal →
    * reference object, so plans stay O(1) in the vocabulary size.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode", text,
      typedlit(merges.map(p => Seq(p._1, p._2))))

  /** Column API for [[UnigramEncodeExpr]]: unigram-LM pieces of
    * (normalized) text under a frozen (piece, cost-nat10k) vocabulary.
    * The table rides as one literal → reference object, O(1) plan size
    * in the vocabulary.
    */
  def unigramEncode(text: Column, vocab: Seq[(String, Long)],
                    unkNat10k: Long): Column =
    call_function("unigram_encode", text,
      typedlit(vocab.map(p => Seq(p._1, p._2.toString))), lit(unkNat10k))

  /** Column API for [[UnigramSampleExpr]]: one deterministic
    * subword-regularization draw per word occurrence from the k-best
    * list, P^α-weighted (alpha10k = α·10⁴), seeded.
    */
  def unigramSample(text: Column, vocab: Seq[(String, Long)],
                    unkNat10k: Long, nBest: Int, alpha10k: Long,
                    seed: String): Column =
    call_function("unigram_sample", text,
      typedlit(vocab.map(p => Seq(p._1, p._2.toString))), lit(unkNat10k),
      lit(nBest), lit(alpha10k), lit(seed))

  /** Column API for [[Md5Prefix]]: first `nibbles` md5 hex chars as long. */
  def md5Prefix(c: Column, nibbles: Int): Column =
    call_function("md5_prefix", c.cast("binary"), lit(nibbles))

  /** Column API for [[OphDensify]]: rotation-densified OPH signature. */
  def ophDensify(sig: Column, c: Long): Column =
    call_function("oph_densify", sig, lit(c))

  /** Column API for [[AnchorWindowMd5]]: anchored (p, fp) window structs. */
  def anchorWindows(text: Column, winBytes: Int, anchorMod: Int): Column =
    call_function("anchor_windows", text.cast("binary"),
      lit(winBytes), lit(anchorMod))

  /** Column API for [[WinnowWindowMd5]]: winnow-selected (p, fp)
    * window structs — guaranteed detection of spans ≥ winBytes+k−1.
    */
  def winnowWindows(text: Column, winBytes: Int, k: Int): Column =
    call_function("winnow_windows", text.cast("binary"),
      lit(winBytes), lit(k))

  /** Column API for [[NgramUnits]]: all word-n-gram (k, h, chars) units
    * of normalized text, for every n in `ns`, in one scan.
    */
  def ngramUnits(text: Column, ns: Seq[Int]): Column =
    call_function("ngram_units", text.cast("binary"), typedlit(ns))

  private def booksLit(books: Array[Array[Array[Float]]]): Column =
    typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)

  /** Column API for [[PqEncode]]: the m-byte PQ code. */
  def pqEncode(emb: Column, books: Array[Array[Array[Float]]]): Column =
    call_function("pq_encode", emb, booksLit(books))

  /** Column API for [[PqCodes]]: the assignment as array<int>. */
  def pqCodes(emb: Column, books: Array[Array[Array[Float]]]): Column =
    call_function("pq_codes", emb, booksLit(books))

  /** Column API for [[PqDistTable]]: the query-side ADC table. */
  def pqDistTable(emb: Column, books: Array[Array[Array[Float]]]): Column =
    call_function("pq_dist_table", emb, booksLit(books))

  /** Column API for [[PqAdc]]: ADC distance (nCodes must be a literal). */
  def pqAdc(code: Column, table: Column, nCodes: Int): Column =
    call_function("pq_adc", code, table, lit(nCodes))

  /** Column API for [[BloomAgg]]: serialized Bloom filter of `h` values. */
  def bloomAgg(h: Column, nBits: Int, k: Int): Column =
    call_function("bloom_agg", h, lit(nBits), lit(k))

  /** Column API for [[BloomContains]]: probe a prebuilt filter. */
  def bloomContains(h: Column, filter: Array[Byte], nBits: Int, k: Int): Column =
    call_function("bloom_contains", h, lit(filter), lit(nBits), lit(k))

  /** Column API for [[BloomContainsBcast]]: probe a broadcast filter —
    * the >16 MB form (see [[BloomContains]]'s size-limit note). Takes a
    * [[BloomBroadcasts]] handle rather than the `Broadcast` itself so
    * the CALLER owns the registry entry's lifetime: `put` the broadcast,
    * build the column, construct the consuming Dataset (analysis
    * resolves the handle into the plan), then `remove` the handle —
    * otherwise the registry pins the GB-scale filter for the JVM
    * lifetime (see [[BloomBroadcasts]]'s lifecycle note).
    */
  def bloomContainsBroadcast(h: Column, handle: Long,
      nBits: Int, k: Int): Column =
    call_function("bloom_contains_bcast", h, lit(handle), lit(nBits), lit(k))

  /** Column API for [[KmvBottomK]] (aggregate; k must be a literal). */
  def kmvBottomK(h: Column, k: Int): Column =
    call_function("kmv_bottomk", h, lit(k))

  /** Column API for [[SimhashSig]] (aggregate). */
  def simhashSig(h: Column): Column = call_function("simhash_sig", h)

  /** Column API for [[FreqSketch]] (aggregate; capacity must be a literal). */
  def freqSketch(item: Column, capacity: Int): Column =
    call_function("freq_sketch", item, lit(capacity))

  /** Column API for [[VecSumCount]] (aggregate; dim must be a literal). */
  def vecSumCount(emb: Column, dim: Int): Column =
    call_function("vec_sum_count", emb, lit(dim))
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions` makes the
  * engine's native functions available in any session, including SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    VectorFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[CosineSim].getName, name),
        b))
    }
    e.injectOptimizerRule(_ => BoundedLevenshteinRule)
  }
}
