package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom SIDECARS for the admission ladder's persistent key indexes —
  * the probe-side scale lever the raw layout can't provide. Every
  * steady-state tick probes its batch against three growing indexes
  * (`url_index/` canonical keys, `fp_index/` content fingerprints,
  * `postings/` shingle hashes), and on a novel crawl the overwhelming
  * majority of batch keys match NOTHING — yet the exact semi-join still
  * pays a pass over the index every tick. A Bloom summary of the index
  * keys, built once per maintenance window and read back as a few MB,
  * prunes the BATCH side of each probe to the rare possible-hit rows
  * before the exact join runs:
  *
  *  - url/fp rungs: batch keys failing the filter cannot be in the
  *    covered index (no false negatives), so only filter-passing keys
  *    enter the semi-join — and when NO key passes, the covered index
  *    is not scanned at all (the all-novel tick, the common case on a
  *    frontier crawl, costs a batch-local filter and nothing else);
  *  - postings rung: batch posting ROWS whose `sh64` the filter rejects
  *    match no stored row, so dropping them changes neither any pair's
  *    intersection count nor the carried per-doc shingle count `m` —
  *    [[Dedup.jaccardProbe]] / [[Dedup.containmentProbe]] over the
  *    pruned rows are row-for-row the unpruned probes;
  *  - and on every covered probe a REVERSE filter runs the other way:
  *    the candidates' own per-tick Bloom filter is pushed into the
  *    covered-index scan, so index rows the batch never mentions don't
  *    reach the join either — the surviving index slice is near-hit
  *    sized, the planner broadcasts it, and the per-tick probe stops
  *    shuffling the index at all (the scan itself remains O(index)
  *    I/O, the irreducible floor without layout changes).
  *
  * EXACTNESS: a Bloom filter admits false positives but never false
  * negatives, and every filter-passing key still goes through the exact
  * join — so verdicts are byte-identical with or without sidecars
  * (`q_ladder_bloom` pins this against the independent DuckDB replay:
  * same oracle SQL as the sidecar-less `q_admission_ladder`).
  *
  * COVERAGE WATERMARK: a sidecar summarizes partitions with
  * `batch < coveredBelow` (which includes a prior fold's `batch = -1`
  * target — −1 is below every real watermark). Ticks after the build
  * write partitions at or above the watermark; those form the UNCOVERED
  * TAIL, which each probe checks exactly (partition-pruned by the
  * `batch` filter), so a stale sidecar degrades to less pruning, never
  * to a missed drop. THE ONE INVARIANT a caller must keep: a FOLD moves
  * committed partitions into `batch = -1`, which the watermark treats
  * as covered — so folding past a sidecar's watermark without
  * rebuilding it would hide the newly-folded keys from the probe.
  * [[IncrementalDedup.maintainLadder]] therefore rebuilds every
  * existing sidecar after its fold (same serialized window), and
  * [[buildAll]] must only ever be called with `committedBelow` at or
  * above the latest fold watermark.
  *
  * At 100 TB: the build is one distributed aggregation per index
  * (map-side partial OR-merge, constant-size result) inside the
  * maintenance window, amortized over every tick until the next fold.
  * Filter bytes ride the task binary below
  * [[Corpus.BloomBroadcastBytes]] and a torrent broadcast above it
  * (the [[Corpus.decontaminateBloom]] dispatch). `nBits` is capped at
  * [[MaxBits]] (256 MB): past ~1.7e8 keys at 10 bits/key the FPR
  * degrades gracefully — pruning weakens, exactness is untouched.
  */
object LadderBloom {

  /** Sidecar-carrying subtrees and the key column each summarizes.
    * `line_index`'s EXACT key is (line_h, line_len) — the widened
    * rewrite key (see `Corpus.lineExplode`) — but the sidecar
    * summarizes the hash column alone: a filter pass is conservative
    * (the exact join still checks both columns), a miss is still a
    * guaranteed miss on the pair. */
  private[graft] val Keys: Seq[(String, String)] = Seq(
    "url_index" -> "url_key", "fp_index" -> "fp", "postings" -> "sh64",
    "line_index" -> "line_h")

  /** Bits-per-key at the default build: 10 bits + 5 probes ≈ 0.9% FPR. */
  val BitsPerKey: Int = 10
  val Probes: Int = 5

  /** nBits ceiling — a 256 MB filter; see the scaladoc's FPR note. */
  val MaxBits: Int = Int.MaxValue

  /** Sidecars live BESIDE their index subtree (never inside it — the
    * index dir must stay readable as one homogeneous parquet tree). */
  def sidecarDir(root: String, sub: String): String = s"$root/bloom_$sub"

  /** A read-back sidecar: the filter words plus its build watermark. */
  final case class Sidecar(words: Array[Long], nBits: Int, k: Int,
                           coveredBelow: Long, nKeys: Long) {
    def bytes: Int = words.length * 8
  }

  /** The 64-bit probe value for a subtree's key column: `sh64` and
    * `line_h` are already hashes; string keys go through xxhash64 —
    * the SAME expression on build and probe sides, which is the whole
    * contract. */
  private def hash64(sub: String, c: Column): Column =
    if (sub == "postings" || sub == "line_index") c else xxhash64(c)

  /** Build (or rebuild) one subtree's sidecar over its committed
    * partitions (`batch < committedBelow`, including a prior fold's
    * `-1`). Returns the summarized key-row count; 0 with no sidecar
    * written when the subtree has no data yet. Call from the serialized
    * maintenance window only (the [[IncrementalDedup.maintainLadder]]
    * contract).
    */
  def build(spark: SparkSession, root: String, sub: String,
            committedBelow: Long, bitsPerKey: Int = BitsPerKey,
            k: Int = Probes): Long = {
    val keyName = Keys.toMap.getOrElse(sub,
      throw new IllegalArgumentException(s"no bloom key for subtree $sub"))
    val dir = s"$root/$sub"
    if (!Layout.hasParquetData(spark, dir)) return 0L
    graft.functions.VectorFunctions.register(spark)
    val hs = spark.read.parquet(dir)
      .filter(col("batch") < committedBelow)
      .filter(col(keyName).isNotNull) // indexes hold no NULL keys; belt and braces
      .select(hash64(sub, col(keyName)).as("h"))
    val n = hs.count()
    // distinct-count would cost another shuffle; row count only
    // over-sizes the filter (lower FPR), never under-sizes it
    val nBits = math.min(math.max(64L, n * bitsPerKey), MaxBits.toLong).toInt
    val filter = hs
      .agg(graft.functions.VectorFunctions.bloomAgg(col("h"), nBits, k))
      .head().getAs[Array[Byte]](0)
    import spark.implicits._
    // bits_per_key rides along so a REBUILD ([[readMeta]] →
    // [[IncrementalDedup.maintainLadder]]) preserves custom sizing
    // instead of silently resetting to the defaults
    Seq((filter, nBits, k, committedBelow, n, bitsPerKey))
      .toDF("filter", "n_bits", "k", "covered_below", "n_keys",
        "bits_per_key")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(sidecarDir(root, sub))
    n
  }

  /** Sidecar BUILD PARAMETERS (bitsPerKey, k) without touching the
    * filter column — a parquet column-pruned read, so testing for a
    * sidecar and recovering its sizing never deserializes the up-to-
    * 256 MB filter into the driver (the [[read]] path does, and is for
    * probes that need the bits). None when never built. Pre-
    * `bits_per_key` sidecars (one maintenance generation) derive
    * bitsPerKey from n_bits/n_keys — exact unless the build hit the
    * [[MaxBits]] cap or the 64-bit floor, where the derived value IS
    * the effective sizing. */
  private[graft] def readMeta(spark: SparkSession, root: String,
                              sub: String): Option[(Int, Int)] =
    if (!Layout.hasParquetData(spark, sidecarDir(root, sub))) None
    else {
      val df = spark.read.parquet(sidecarDir(root, sub))
      if (df.columns.contains("bits_per_key")) {
        val r = df.select(col("bits_per_key"), col("k")).head()
        Some((r.getInt(0), r.getInt(1)))
      } else {
        val r = df.select(col("n_bits"), col("n_keys"), col("k")).head()
        Some((math.max(1L,
          r.getInt(0) / math.max(1L, r.getLong(1))).toInt, r.getInt(2)))
      }
    }

  /** Build every subtree's sidecar (url/fp/postings). Returns the
    * per-subtree summarized counts; an absent subtree counts 0. */
  def buildAll(spark: SparkSession, root: String, committedBelow: Long,
               bitsPerKey: Int = BitsPerKey, k: Int = Probes): Map[String, Long] =
    Keys.map { case (sub, _) =>
      sub -> build(spark, root, sub, committedBelow, bitsPerKey, k)
    }.toMap

  /** Read a subtree's sidecar; None when never built. */
  def read(spark: SparkSession, root: String, sub: String): Option[Sidecar] =
    if (!Layout.hasParquetData(spark, sidecarDir(root, sub))) None
    else {
      val r = spark.read.parquet(sidecarDir(root, sub)).head()
      Some(Sidecar(
        graft.functions.Bloom.toWords(r.getAs[Array[Byte]]("filter")),
        r.getAs[Int]("n_bits"), r.getAs[Int]("k"),
        r.getAs[Long]("covered_below"), r.getAs[Long]("n_keys")))
    }

  /** Sidecar literal→broadcast switch: 1 MB, deliberately far below
    * [[Corpus.BloomBroadcastBytes]]'s 16 MB — that dial was tuned for
    * a ONE-shot decontamination probe, while a sidecar filter is
    * re-used by several stages of EVERY tick, and a task-binary
    * literal is re-serialized per stage per task (a 5 MB sidecar in a
    * six-stage tick ≈ a gigabyte of driver serialization); the torrent
    * broadcast ships once per executor, period. */
  val SidecarLiteralBytes: Long = 1L << 20

  /** `df` filtered to rows whose hashed key the sidecar MIGHT contain.
    * NULL keys: `xxhash64(NULL)` folds to the seed hash, so a NULL-key
    * row can pass as a false positive — harmless, because the exact
    * equi-join downstream never matches NULL (the convention that NULL
    * keys are never "seen" survives pruning unchanged).
    * Dispatches literal-vs-broadcast on [[SidecarLiteralBytes]] and
    * releases the broadcast handle once the returned Dataset's plan
    * holds the reference (the [[Corpus.decontaminateBloom]] lifecycle).
    */
  private def mightContain(df: DataFrame, sub: String, keyName: String,
                           sc: Sidecar): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val h = hash64(sub, col(keyName))
    if (sc.bytes <= SidecarLiteralBytes)
      df.filter(graft.functions.VectorFunctions.bloomContains(
        h, graft.functions.Bloom.toBytes(sc.words), sc.nBits, sc.k))
    else {
      val bcast = spark.sparkContext.broadcast(sc.words)
      val handle = graft.functions.BloomBroadcasts.put(bcast)
      val out = df.filter(graft.functions.VectorFunctions
        .bloomContainsBroadcast(h, handle, sc.nBits, sc.k))
      graft.functions.BloomBroadcasts.remove(handle)
      out
    }
  }

  /** Per-tick REVERSE filter bits: the batch candidates' own Bloom
    * filter, pushed into the covered-index SCAN so the join's index
    * side shrinks to near-hits before any exchange. 2^22 bits (512 KB
    * task-binary literal) holds ~400k keys at <1% FPR; bigger batches
    * degrade FPR gracefully — more index rows survive the scan filter,
    * exactness untouched. */
  private val ReverseBits: Int = 1 << 22

  /** The reverse machinery (one driver action per rung per tick for
    * the candidate count + filter, then the filtered-broadcast join)
    * pays off when the covered index is big enough that shuffling it
    * dominates; below this many summarized keys the plain covered join
    * is already cheap and the fixed per-tick actions are pure
    * overhead, so the probe keeps batch-side pruning only. Decisions
    * are identical in both regimes (everything here is exact). */
  val ReverseMinKeys: Long = 1000000L

  /** One action over the (cached-parent) candidate relation: row count
    * and the candidates' Bloom filter together — the count drives the
    * all-novel short-circuit, the filter the reverse scan prune. */
  private def candSummary(cand: DataFrame, h: Column): (Long, Array[Byte]) = {
    graft.functions.VectorFunctions.register(cand.sparkSession)
    val r = cand.agg(count(lit(1)),
      graft.functions.VectorFunctions.bloomAgg(h, ReverseBits, Probes))
      .head()
    (r.getLong(0), r.getAs[Array[Byte]](1))
  }

  /** The url/fp rungs' SEEN probe: ids of `keys` rows whose `keyName`
    * appears in the (own-batch-excluded) index `ix`. Without a sidecar
    * it is the plain semi-join. With one, BOTH join inputs shrink
    * before any exchange:
    *  - batch side: only sidecar-passing keys (possible hits) enter;
    *  - index side: the covered scan is filtered by the candidates' own
    *    per-tick Bloom filter (built in the same action that counts
    *    them), so the surviving index rows are near-hits — small enough
    *    that the planner broadcasts them and NEITHER side shuffles;
    *  - zero candidates (the all-novel tick) skip the covered index
    *    entirely.
    * Tail partitions (written since the sidecar build) are probed
    * exactly. Verdict-identical in every mode: false positives on
    * either side fall through to the exact equi-join, false negatives
    * are impossible.
    */
  private[graft] def seenIds(keys: DataFrame, keyName: String,
                             idName: String, ix: DataFrame,
                             root: String, sub: String, batchId: Long,
                             sc: Option[Sidecar],
                             reverseMinKeys: Long = ReverseMinKeys,
                             extraCols: Seq[String] = Nil): DataFrame = {
    // extraCols widen the EXACT equi-join key (the line rung's
    // (line_h, line_len) pair); the bloom filters — sidecar and
    // reverse — still hash `keyName` alone, which stays conservative:
    // a filter pass falls through to the widened exact join
    val joinCols = keyName +: extraCols
    val ixKeyed = (d: DataFrame) => d.select(joinCols.map(col): _*)
    val plain = () => keys
      .join(ixKeyed(ix), joinCols, "left_semi")
      .select(col(idName))
    sc match {
      case None => plain()
      case Some(s) =>
        // the covered/tail split only pays for slices that EXIST — one
        // driver-side directory listing, no job ([[Layout.batchValues]];
        // in the steady folded state the tail is often empty and the
        // whole branch, its join machinery included, disappears)
        val parts = Layout.batchValues(keys.sparkSession, s"$root/$sub")
          .filter(_ != batchId)
        val covered = ix.filter(col("batch") < s.coveredBelow)
        val tail = ix.filter(col("batch") >= s.coveredBelow)
        val cand = mightContain(keys, sub, keyName, s)
        val seenCovered =
          if (!parts.exists(_ < s.coveredBelow)) None
          else if (s.nKeys <= reverseMinKeys)
            // small covered index: batch-side pruning only — the plain
            // join is already cheap, per-tick actions would cost more
            Some(cand.join(ixKeyed(covered), joinCols,
              "left_semi").select(col(idName)))
          else {
            val (nCand, reverse) =
              candSummary(cand, hash64(sub, col(keyName)))
            if (nCand == 0) None
            else Some(cand.join(
              ixKeyed(covered.filter(graft.functions.VectorFunctions
                .bloomContains(hash64(sub, col(keyName)), reverse,
                  ReverseBits, Probes))),
              joinCols, "left_semi").select(col(idName)))
          }
        val seenTail =
          if (!parts.exists(_ >= s.coveredBelow)) None
          else Some(keys
            .join(ixKeyed(tail), joinCols, "left_semi")
            .select(col(idName)))
        // a key present in BOTH slices yields its id twice; both ladder
        // call sites fold seen ids through a downstream distinct (the
        // plain path relies on the same), so no extra shuffle here
        (seenCovered.toSeq ++ seenTail.toSeq)
          .reduceOption(_ unionByName _)
          .getOrElse(keys.select(col(idName)).limit(0))
    }
  }

  /** Estimated bytes per postings row (id 8 + m 4 + sh64 8 + framing)
    * for the broadcast-regime test below. */
  private[graft] val PostingRowBytes: Long = 24L

  /** The postings rung's probe split: (batchSide, indexSide) pairs to
    * run through [[Dedup.jaccardProbe]] / [[Dedup.containmentProbe]]
    * and union. With a sidecar the covered slice is probed by the
    * bloom-pruned batch postings only (dropping never-matching batch
    * rows is exact — see the object doc) AND the covered scan itself
    * is filtered by the pruned batch postings' own per-tick Bloom
    * filter, so covered index rows whose shingle the batch never
    * mentions don't reach the join either (dropping never-matching
    * INDEX rows preserves every pair's intersection count and both
    * carried `m`s — same argument, other side); a candidate-free batch
    * skips the covered probe whole. The tail is probed exactly.
    * Without a sidecar, a single unpruned pair.
    *
    * BROADCAST-PROBE REGIME (`broadcastSkip`, default on): when the
    * batch postings fit under the session's broadcast threshold, the
    * planner broadcasts THEM and the plain probe already streams the
    * index with zero exchange — the sidecar machinery (batch-side
    * filter, per-tick candidate-summary action, reverse scan filter)
    * is pure overhead there, measured as a sign flip on the near rung
    * in `REVERSE_TICK.json` (plain 0.06 MB / 1.36 s vs bloom 0.43 MB /
    * 1.73 s at a 2.5M-key index). The probe therefore counts the batch
    * postings (one action on the caller's already-cached relation —
    * the same relation every probe branch scans anyway) and falls back
    * to the plain single pair when `rows × PostingRowBytes` fits the
    * threshold. Decisions are identical in every mode (all paths are
    * exact); the dial exists so specs can pin both positions. The
    * url/fp rungs keep their sidecars unconditionally — their reverse
    * probes WIN in this regime (the key relations are doc-count-sized,
    * not postings-sized, and the measured gain is ~100×).
    *
    * @return (probe pairs, skipped) — `skipped` is true exactly when a
    *         sidecar exists but the broadcast-probe regime bypassed it
    *         (the silent plan-shape change a deployment debugging a
    *         perf cliff needs surfaced — [[graft.tools.RunIngest]]
    *         reports it on the maintenance line)
    */
  private[graft] def postingsProbes(posts: DataFrame, ix: DataFrame,
                                    root: String, batchId: Long,
                                    sc: Option[Sidecar],
                                    reverseMinKeys: Long = ReverseMinKeys,
                                    broadcastSkip: Boolean = true): (Seq[(DataFrame, DataFrame)], Boolean) =
    sc match {
      case None => (Seq((posts, ix)), false)
      case Some(s) if broadcastSkip && {
        val bc = posts.sparkSession.sessionState.conf
          .autoBroadcastJoinThreshold
        bc > 0 && posts.count() * PostingRowBytes <= bc
      } => (Seq((posts, ix)), true)
      case Some(s) =>
        val parts = Layout.batchValues(posts.sparkSession,
          s"$root/postings").filter(_ != batchId)
        val covered = ix.filter(col("batch") < s.coveredBelow)
        val tail = ix.filter(col("batch") >= s.coveredBelow)
        val cand = mightContain(posts, "postings", "sh64", s)
        val coveredPair =
          if (!parts.exists(_ < s.coveredBelow)) Nil
          else if (s.nKeys <= reverseMinKeys) Seq((cand, covered))
          else {
            val (nCand, reverse) = candSummary(cand, col("sh64"))
            if (nCand == 0) Nil
            else Seq((cand, covered.filter(
              graft.functions.VectorFunctions.bloomContains(
                col("sh64"), reverse, ReverseBits, Probes))))
          }
        val tailPair =
          if (!parts.exists(_ >= s.coveredBelow)) Nil
          else Seq((posts, tail))
        (coveredPair ++ tailPair, false)
    }
}
