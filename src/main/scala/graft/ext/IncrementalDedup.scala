package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-side services of the one corpus-admission tick,
  * [[IngestLadder.admitBatch]], over the subtrees it writes under one
  * root ([[LadderSubtrees]]):
  *
  *  - [[admitBatchDomainQuota]] — the per-registered-domain volume cap
  *    as a standalone tick (the ladder's `domain` rung, run alone);
  *    both share the cap rule [[quotaDrops]] and the host/eTLD+1
  *    resolution ([[hostOf]], [[resolveRegDomains]]);
  *  - [[maintainLadder]] — the small-files fold of every subtree's
  *    committed per-batch partitions into `batch=-1`
  *    ([[Layout.foldBatchPartitions]]), with the bloom sidecars rebuilt;
  *  - re-ladder reconciliation — [[reconcileNear]] and its incremental
  *    form, [[applyReconcile]], [[retireEvidence]] and the
  *    [[reconcileWindow]] that composes them — which converges the
  *    stored corpus to the batch ladder ([[Dedup.ladder]]) semantics;
  *  - [[recoverLadderEntry]] — the one crash-recovery preamble every
  *    reader of those subtrees runs first.
  *
  * Every tick writes per-batch Overwrite partitions (`batch=<id>`) and
  * every cross-batch probe excludes the tick's own partition
  * ([[Layout.priorPartitions]]): a replay under the same id recomputes
  * identical verdicts and overwrites in place. Callers serialize ticks
  * and maintenance of one root (a `foreachBatch` body does).
  */
object IncrementalDedup {

  /** The quota family's shared host extraction: canonical-URL
    * authority, userinfo and port stripped — ONE definition so the
    * quota rung, the ingest ladder's domain rung, and the apply-time
    * refund all bucket a url identically. */
  private[graft] def hostOf(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(
      regexp_extract(TextOps.canonicalUrl(url), "^[^/?]*", 0),
      "^[^@]*@", ""), ":[0-9]+$", "")

  /** The quota cap rule, shared by [[admitBatchDomainQuota]] and the
    * ingest ladder's `domain` rung: the ids of `doms` (id, reg_domain)
    * whose domain's ADMITTED count in the `countsDir` tree (other
    * batches' partitions) plus the doc's arrival rank within the batch
    * (by id) exceeds `k`. NULL domains are never capped. */
  private[graft] def quotaDrops(doms: DataFrame, countsDir: String, k: Int,
                                batchId: Long): DataFrame = {
    val prior = Layout.priorPartitions(doms.sparkSession, countsDir,
        batchId) match {
      case Some(ix) => ix
        .groupBy(col("reg_domain")).agg(sum(col("n")).as("prior"))
      case None => doms.select(col("reg_domain"), lit(0L).as("prior"))
        .limit(0)
    }
    doms.filter(col("reg_domain").isNotNull)
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("reg_domain")).orderBy(col("id"))))
      .join(prior, Seq("reg_domain"), "left")
      .filter(coalesce(col("prior"), lit(0L)) + col("r") > k)
      .select(col("id"))
  }

  /** One DOMAIN-QUOTA admission tick — the per-registrant volume cap a
    * web-scale corpus runs so no single site dominates the training
    * mix (the C4/RefinedWeb-family "cap documents per domain" rule),
    * as a steady-state `foreachBatch` body over a PERSISTENT count
    * index. Each arriving doc resolves to its registered domain
    * (eTLD+1, [[Dedup.registeredDomain]] over the canonical-URL host —
    * a pure scalar projection, no join); a doc is dropped with verdict
    * `domain` when its domain's ADMITTED count (stored index, other
    * batches) plus its arrival rank within the batch exceeds `k`
    * ([[quotaDrops]]). First arrivals win (rank by id — the ladder
    * convention); rows with a NULL address or unresolvable host PASS
    * and are never counted (the ladder's NULL-provenance convention).
    *
    * At 100 TB the index is domain-cardinality — (reg_domain, n) per
    * batch, a few million rows against billions of docs — so the
    * prior-count join broadcasts; the in-batch rank is one keyed
    * window over the batch. The counts index stores ADMITTED docs
    * only, so quota accounting never leaks drops.
    *
    * REPLAY IDEMPOTENCE: verdicts, counts and corpus land under
    * per-batch Overwrite partitions, and the prior-count probe excludes
    * the tick's own partition.
    *
    * @return the batch's verdict relation (id, dropped_at ∈ {domain,
    *         NULL}), read back from its just-written partition
    */
  def admitBatchDomainQuota(batch: DataFrame, idCol: String,
                            urlCol: String, root: String, k: Int,
                            batchId: Long,
                            suffixes: Seq[String] = Dedup.publicSuffixes,
                            pslRules: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"domain quota must be positive: $k")
    val spark = batch.sparkSession
    // a crashed refund swap or fold may have left the counts tree one
    // rename short — finish it before the prior-count probe lists it
    recoverLadderEntry(spark, root)
    val base = Materialize.multiScan(batch)
    val host = hostOf(col(urlCol))
    // reg_domain is used by the rank, the drop join and the count
    // write: compute it once — via the embedded scalar subset, or
    // (pslRules) the full wildcard/exception rules-table matcher
    // ([[resolveRegDomains]]): a production 9k-rule deployment must
    // quota-bucket `*.ck`-style registrants exactly as its domain card
    // does, not by the subset approximation
    val doms = Materialize.multiScan(
      resolveRegDomains(base, idCol, host, suffixes, pslRules))
    val drops = Materialize.multiScan(
      quotaDrops(doms, s"$root/domain_counts", k, batchId))
    val admitted = Materialize.multiScan(
      base.join(drops, base(idCol) === drops("id"), "left_anti"))
    def part(sub: String) = s"$root/$sub/batch=$batchId"
    base.select(col(idCol).as("id"))
      .join(drops.select(col("id"), lit("domain").as("__d")),
        Seq("id"), "left")
      .select(col("id"), col("__d").as("dropped_at"))
      .write.mode(SaveMode.Overwrite).parquet(part("verdicts"))
    doms.join(admitted, doms("id") === admitted(idCol), "left_semi")
      .filter(col("reg_domain").isNotNull)
      .groupBy(col("reg_domain")).agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(part("domain_counts"))
    admitted.write.mode(SaveMode.Overwrite).parquet(part("corpus"))
    Seq(base, doms, drops, admitted).foreach(_.unpersist())
    spark.read.parquet(part("verdicts"))
  }

  /** (id, reg_domain) for a batch: NULL/empty hosts resolve to NULL
    * (the NULL-provenance convention — never counted, never capped),
    * everything else through the embedded scalar subset or, when a
    * rules table is supplied, the full PSL matcher
    * ([[Dedup.registeredDomainFromRules]]). The matcher is SHAPED for
    * host-cardinality input (its candidate explode and match
    * aggregation run per input row), so it sees the batch's DISTINCT
    * hosts — a few per registrant against billions of docs — and the
    * resolution joins back to docs by host; feeding it doc-cardinality
    * rows would shuffle ~5× the batch per tick for nothing. Under a
    * rules table equal to the scalar subset the two paths agree row
    * for row (spec-pinned in `DomainQuotaSpec`). */
  private[graft] def resolveRegDomains(base: DataFrame, idCol: String,
                                       host: org.apache.spark.sql.Column,
                                       suffixes: Seq[String],
                                       pslRules: Option[DataFrame]): DataFrame = {
    val withHost = base.select(col(idCol).as("id"),
      when(host.isNull || host === lit(""), lit(null).cast("string"))
        .otherwise(host).as("__host"))
    pslRules match {
      case None => withHost.select(col("id"),
        // CaseWhen evaluates lazily: registeredDomain never sees NULL
        when(col("__host").isNull, lit(null).cast("string"))
          .otherwise(Dedup.registeredDomain(col("__host"), suffixes))
          .as("reg_domain"))
      case Some(rules) =>
        val resolved = Dedup.registeredDomainFromRules(
          withHost.filter(col("__host").isNotNull)
            .select(col("__host")).distinct(), "__host", rules)
        withHost.filter(col("__host").isNotNull)
          .join(resolved, Seq("__host"), "left")
          .select(col("id"), col("reg_domain"))
          .unionByName(withHost.filter(col("__host").isNull)
            .select(col("id"), lit(null).cast("string").as("reg_domain")))
    }
  }

  /** The subtrees one [[IngestLadder.admitBatch]] /
    * [[admitBatchDomainQuota]] tick writes — the complete fold
    * surface for [[maintainLadder]] (a subtree a given operator never
    * writes folds 0). `domain_counts` is row-preserving under the
    * fold, so prior-count sums are unchanged by maintenance;
    * `line_index` (the ingest ladder's optional lines rung) folds like
    * any key index. */
  private[graft] val LadderSubtrees: Seq[String] = Seq(
    "corpus", "url_index", "fp_index", "line_index", "postings",
    "postings_dropped", "domain_counts", "shingle_counts",
    "doc_shingles", "verdicts")

  /** Fold sort orders — the point-lookup layout contract: the postings
    * trees answer "which docs carry these shingles" (sh64-sorted
    * folds), the doc sidecar answers "which shingles do these docs
    * carry" (id-sorted), so both directions of a closure hop prune
    * file groups through pushed IN filters instead of scanning. */
  private val FoldSort: Map[String, String] = Map(
    "postings" -> "sh64", "postings_dropped" -> "sh64",
    DocShinglesSubtree -> "id")

  /** Ladder-wide index maintenance over EVERY subtree
    * [[IngestLadder.admitBatch]] writes ([[LadderSubtrees]]): each tick
    * adds one `batch=<id>` partition to each tree, so an unattended
    * ingest loop accumulates partition directories linearly in tick
    * count — the small-files failure mode that dominates scan cost at
    * 100 TB — and the defense ships with the operator that creates the
    * files. Folds each tree's COMMITTED partitions
    * (`0 ≤ batch < committedBelow`, plus a prior fold) into its
    * `batch=-1` partition via [[Layout.foldBatchPartitions]] — the fold
    * target is a value no real batch id takes, so every own-partition
    * replay exclusion (`batch =!= currentId`) keeps folded rows, which
    * is exactly right for committed state. Call from the serialized
    * window that runs the ticks (e.g. the `foreachBatch` body on
    * `batchId % N == N - 1` with `committedBelow = batchId`: every
    * partition below the current id is committed, and a replayed batch
    * reuses its own id, which the fold never touches).
    *
    * BLOOM SIDECARS: a fold moves committed partitions into `batch=-1`,
    * which every sidecar watermark treats as covered — so any sidecar
    * that exists is REBUILT here, after its subtree's fold, at this
    * fold's watermark ([[LadderBloom]]'s one invariant). Build sidecars
    * for the first time with [[LadderBloom.buildAll]]; from then on
    * this keeps them fresh.
    *
    * @return per-subtree fold counts (0 = nothing to do; a subtree the
    *         ladder never wrote — e.g. `url_index` when `urlCol` is
    *         None — counts 0 too)
    */
  def maintainLadder(spark: SparkSession, root: String,
                     committedBelow: Long,
                     targetBytes: Long = 128L << 20,
                     foldBelowOverride: Map[String, Long] = Map.empty): Map[String, Int] = {
    // foldBelowOverride caps a subtree's fold watermark below the
    // window's — the retention-lag interaction ([[reconcileWindow]]):
    // folding evidence at the FULL watermark would merge not-yet-
    // retirable partitions into batch=-1 and stamp it with a fold
    // watermark the lagged retire can never cover, so a lag >= 2 would
    // silently never retire anything. Evidence younger than the lag
    // horizon stays in per-batch partitions, individually retirable.
    val folds = LadderSubtrees.map(s => s -> Layout.foldBatchPartitions(
      spark, s"$root/$s",
      foldBelowOverride.getOrElse(s, committedBelow), targetBytes,
      FoldSort.get(s))).toMap
    // doc_shingles REAPER: its rows are immutable per-doc facts the
    // closure only ever queries for ids read from the LIVE union, so
    // rows for departed docs are never wrong — but retirement deletes
    // the union rows they shadow, and without a reaper the sidecar
    // asymptotically stores every doc ever persisted. Reap at fold
    // time (growth bounded by the fold cadence): rewrite batch=-1
    // keeping only ids still in the union, preserving the id-sorted
    // point-lookup layout.
    if (folds.getOrElse(DocShinglesSubtree, 0) > 0 &&
      Layout.hasParquetData(spark, s"$root/$DocShinglesSubtree/batch=-1")) {
      val live = Seq("postings", "postings_dropped")
        .map(s0 => s"$root/$s0").filter(Layout.hasParquetData(spark, _))
        .map(spark.read.parquet(_).select(col("id")))
      if (live.nonEmpty) {
        val cur = spark.read.parquet(
          s"$root/$DocShinglesSubtree/batch=-1")
        Layout.swapDir(spark, s"$root/$DocShinglesSubtree/batch=-1")(
          cur.join(live.reduce(_ unionByName _).distinct(), Seq("id"),
              "left_semi")
            .repartitionByRange(col("id"))
            .sortWithinPartitions(col("id"))
            .write.mode(SaveMode.Overwrite).parquet(_))
      }
    }
    // existence + sizing via the column-pruned meta read — presence-
    // testing must not deserialize a 256 MB filter into the driver,
    // and a rebuild keeps the sidecar's original bitsPerKey/probes
    LadderBloom.Keys.foreach { case (sub, _) =>
      LadderBloom.readMeta(spark, root, sub).foreach {
        case (bitsPerKey, k) =>
          LadderBloom.build(spark, root, sub, committedBelow, bitsPerKey, k)
      }
    }
    folds
  }

  /** Periodic RE-LADDER RECONCILIATION — the batch pass that closes
    * [[IngestLadder.admitBatch]]'s one documented divergence from
    * [[Dedup.ladder]]: a near-dup chain crossing ticks THROUGH a dropped
    * doc (x admitted in tick 1; y ~ x dropped; z ~ y arrives later with
    * z ≁ x). The ingest ladder rightly ADMITS z — at ingest time only
    * corpus content can vouch for a drop — but the batch ladder's
    * connected components drop z transitively, and a periodic
    * reconciliation is how the steady-state corpus converges to the
    * batch semantics.
    *
    * Mechanism: re-run the near rung's component pass over the STORED
    * postings — the admitted index (`postings/`) plus the near-dropped
    * evidence (`postings_dropped/`), i.e. every doc that ever reached
    * the near rung, with no text re-read or re-tokenization — and emit
    * the DELTA verdict relation: admitted docs whose component's
    * minimum ADMITTED id is another doc (id, dropped_at='near').
    * Dropped docs supply the missing chain middles but are never
    * re-verdicted (they are already gone). Under arrival-ordered ids
    * the minimum admitted id IS the component minimum (a dropped doc
    * always has a smaller admitted voucher in its component), so the
    * delta is exactly the set the batch ladder would additionally drop
    * given the same near-rung inputs. The admitted-min anchor matters
    * because ids are CALLER-SUPPLIED and nothing enforces monotonicity
    * with tick order: if a later tick's doc with a SMALLER id dropped
    * as evidence, anchoring on the raw component minimum would emit
    * EVERY admitted member of its component — and [[applyReconcile]]
    * would then delete the only surviving copies of that content (the
    * evidence doc's text was dropped at ingest and cannot be
    * resurrected). Keeping the minimum admitted doc per component
    * preserves exactly one corpus representative on any id order
    * (spec-pinned with a non-monotone fixture).
    *
    * The delta is applied with [[applyReconcile]] (same serialized
    * tick window — verdict update, corpus delete, postings retirement,
    * replay-idempotent), or just measured as a divergence rate
    * (SCALE.md records it on a synthetic re-crawl stream).
    *
    * Scale: postings-sized self-join (the [[Dedup.jaccardProbe]] shape,
    * `maxDocFreq` dials boilerplate) + integer connected components —
    * corpus text is never touched. Cache lifetime: the returned relation
    * reads a [[Materialize.multiScan]] cache; release with
    * `unpersist`/`clearCache` after consuming it (the [[Dedup.ladder]]
    * contract).
    *
    * @return (id, dropped_at='near') — one row per admitted doc the
    *         batch near rung would have dropped
    */
  def reconcileNear(spark: SparkSession, root: String, tau: Double,
                    maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // finish any swap a crashed apply left mid-rename BEFORE the file
    // listing below — a re-derived delta computed from a tree with a
    // partition missing would silently under-converge (and a
    // subsequent retire could then delete evidence that delta needed)
    recoverLadderEntry(spark, root)
    require(Layout.hasParquetData(spark, s"$root/postings"),
      s"no admitted postings under $root/postings — run the ladder first")
    val adm = spark.read.parquet(s"$root/postings")
      .select(col("id"), col("m"), col("sh64"))
    val dropped = s"$root/postings_dropped"
    val all = if (!Layout.hasParquetData(spark, dropped)) adm
      else adm.unionByName(spark.read.parquet(dropped)
        .select(col("id"), col("m"), col("sh64")))
    val allC = Materialize.multiScan(all)
    val pairs = Dedup.jaccardProbe(allC, allC, tau, maxDocFreq)
      .filter(col("batch_id") < col("corpus_id"))
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
    deltaFromComponents(Dedup.connectedComponents(pairs),
      adm.select(col("id")).distinct())
  }

  /** INCREMENTAL [[reconcileNear]] — the maintenance window's reconcile
    * without the full-corpus self-join. The full form re-derives pairs
    * over the ENTIRE postings+evidence relation every window: O(corpus
    * postings) per window at 100 TB even when only a few ticks arrived
    * since the last one. But after a COMPLETED reconcile+apply at
    * watermark `sinceBatch` (the [[reconciledWatermarks]] certificate)
    * the state is converged — a re-run emits an empty delta
    * (spec-pinned) — and a component of the CURRENT graph whose nodes
    * all predate the watermark is EXACTLY a converged old component
    * (no new node ⇒ no new edge ⇒ same node set; post-apply it holds
    * one admitted doc, its admitted minimum, and evidence retirement
    * only splits such components). New delta rows can therefore only
    * arise in components containing a node added SINCE the watermark.
    *
    * Mechanism:
    *  1. SEED: postings/evidence rows in partitions `batch >=
    *     sinceBatch` (plus a folded `batch=-1` whose
    *     [[Layout.foldWatermark]] is missing or above the watermark —
    *     unknown coverage reads as new, conservatively);
    *  2. CLOSURE: iterated sh64 semi-joins — each hop broadcasts the
    *     frontier (and then its shingle set) against the full
    *     relation, so the big side never shuffles; a post-prune τ-edge
    *     requires a shared surviving shingle, so the shingle-graph
    *     closure contains every τ-component that touches a seed. Hops
    *     are bounded by component diameter (near-dup chains are
    *     shallow); if `maxHops` is ever exhausted the closure degrades
    *     to the full node set — the full reconcile, never an
    *     under-emission;
    *  3. the pair join + connected components + admitted-min delta of
    *     [[reconcileNear]], on the reachable subgraph only.
    *
    * The hot-shingle dial is applied ONCE over the FULL relation
    * before the closure (the r17 per-slice lesson: per-subgraph
    * frequencies would diverge from the full run's). Its hot set is
    * read from the per-tick-maintained `shingle_counts/` sidecar when
    * complete — a counts-cardinality aggregate, not a re-aggregation
    * of O(corpus) postings per window — with identical decisions to
    * the full aggregate (spec-pinned, including after apply-time
    * retirements). DIAL SOUNDNESS across retirement: a retirement can
    * drop a shingle's doc frequency below the dial, UN-pruning it and
    * adding τ-edges between docs that both predate the watermark —
    * invisible to the batch seed. The persisted hot set at the
    * certificate ([[writeHotAt]], recorded by [[reconcileWindow]])
    * closes it: every doc carrying a formerly-hot shingle seeds too.
    * With no comparable record (pre-sidecar roots, a dial change) the
    * incremental claim is not dial-sound and the call degrades to the
    * full [[reconcileNear]] — conservative, never wrong.
    *
    * DELTA-EQUIVALENT to [[reconcileNear]] whenever `sinceBatch` is a
    * completed-reconcile watermark (spec-pinned, including chains that
    * cross the watermark through OLD evidence — the closure walks
    * backwards into converged territory as far as the chain reaches).
    * `sinceBatch = 0` degenerates to the full reconcile by
    * construction (every partition seeds).
    *
    * @param sinceBatch a COMPLETED reconcile watermark for `root`
    *                   (from [[reconciledWatermarks]]); seeding from
    *                   any EARLIER value is also sound (a bigger seed
    *                   only widens the closure)
    */
  def reconcileNearIncremental(spark: SparkSession, root: String,
                               tau: Double, sinceBatch: Long,
                               maxDocFreq: Int = Int.MaxValue,
                               maxHops: Int = 64,
                               maxFrontierKeys: Int = DefaultMaxFrontierKeys,
                               seedFractionCrossover: Double = 0.5): DataFrame =
    reconcileNearIncrementalMode(spark, root, tau, sinceBatch,
      maxDocFreq, maxHops, maxFrontierKeys, seedFractionCrossover)._1

  /** Frontier keys (ids or shingle hashes) the closure will hold on
    * the driver and push as an IN filter before degrading to the full
    * reconcile: 256k longs ≈ 2 MB of literals per pushed filter —
    * comfortably under broadcast/plan-size budgets, far above any
    * steady-state frontier. */
  val DefaultMaxFrontierKeys: Int = 1 << 18
  /** Keys per pruned point-lookup scan — kept under the session's
    * parquet inFilterThreshold
    * ([[graft.Sessions.ParquetInFilterThreshold]]) so every chunk pushes as a
    * stats-pruning OR-chain at safe recursion depth. */
  private val PointLookupChunk = 1000
  /** Chunked-union cap: past this many chunks the plan cost outweighs
    * pruning and one un-pruned scan + InSet filter wins. */
  private val PointLookupMaxChunks = 64

  /** Labels for the `reconcile_mode` code [[reconcileWindow]] returns
    * (and [[graft.tools.RunIngest]] prints): 0 is the incremental
    * closure; every other value names the guard that degraded the
    * window to the full [[reconcileNear]] — identical delta by
    * construction, different cost shape. */
  val ReconcileModes: Map[Long, String] = Map(
    0L -> "incremental", 1L -> "full_first_window",
    2L -> "full_no_doc_index", 3L -> "full_no_counts",
    4L -> "full_dial_history", 5L -> "full_seed_fraction",
    6L -> "full_frontier_guard", 7L -> "full_max_hops")

  /** [[reconcileNearIncremental]] with its regime decision: (delta,
    * mode code per [[ReconcileModes]]). The closure runs as driver-
    * collected point lookups against the sorted folds — each hop
    * pushes the frontier's ids into the id-sorted `doc_shingles/`
    * fold and the resulting shingle set into the sh64-sorted postings
    * folds as IN filters, so a hop READS frontier-sized file groups,
    * not the corpus (the guards below bound the driver sets and
    * degrade to the full reconcile — never under-emitting — when the
    * frontier regime doesn't hold). */
  private[graft] def reconcileNearIncrementalMode(
      spark: SparkSession, root: String, tau: Double, sinceBatch: Long,
      maxDocFreq: Int = Int.MaxValue, maxHops: Int = 64,
      maxFrontierKeys: Int = DefaultMaxFrontierKeys,
      seedFractionCrossover: Double = 0.5): (DataFrame, Long) = {
    recoverLadderEntry(spark, root)
    require(Layout.hasParquetData(spark, s"$root/postings"),
      s"no admitted postings under $root/postings — run the ladder first")
    def full(mode: Long) =
      (reconcileNear(spark, root, tau, maxDocFreq), mode)
    // the id-direction lookups ride the doc sidecar; the dial (when
    // on) rides the counts sidecar and the recorded hot set at the
    // certificate (dial-soundness across retirement — see the object
    // docs). Any missing piece → the full reconcile, conservatively.
    if (!docShinglesComplete(spark, root)) return full(2L)
    val dialed = maxDocFreq != Int.MaxValue
    if (dialed && !countsComplete(spark, root)) return full(3L)
    // retirement, a dial change, or removing the dial outright can
    // UN-PRUNE a shingle (present in the certificate's hot set, absent
    // from the current one), adding τ-edges between docs that both
    // predate the certificate — a component change the batch seed
    // cannot see. The recorded hot set at the watermark closes it for
    // EVERY transition: seed the carriers of `stored \ current`
    // (tightening only removes edges, which merely splits converged
    // components). With the dial ON and no record (pre-record root,
    // torn write) the certificate's pruning is unknown → full
    // reconcile; with the dial OFF and no record the certificate is
    // treated as undialed — from r19 on every completed window
    // records, dial on or off, so the unknown case ages out.
    val storedHot: Option[DataFrame] = readHotAt(spark, root, sinceBatch)
    if (dialed && storedHot.isEmpty) return full(4L)

    val trees = Seq("postings" -> true, "postings_dropped" -> false)
    def isNewPred(sub: String): org.apache.spark.sql.Column = {
      val foldCovered = Layout.foldWatermark(spark, s"$root/$sub")
        .exists(_ <= sinceBatch)
      // batch ≤ -2 evidence partitions are apply-MOVED rows keyed by
      // their apply watermark W = -b-2: moved at or before the
      // certificate they are converged state (old); moved after it
      // they seed, conservatively
      val movedNew =
        col("batch") <= -2L && (-col("batch") - 2L) > sinceBatch
      if (foldCovered) col("batch") >= sinceBatch || movedNew
      else col("batch") >= sinceBatch || col("batch") === -1L || movedNew
    }
    // seed-fraction crossover: when the seed partitions hold most of
    // the trees' bytes (first windows, small corpora, marker loss),
    // the incremental machinery costs more than the full form it
    // approximates — one driver listing decides
    val (seedBytes, totalBytes) = trees.map { case (sub, _) =>
      val foldCovered = Layout.foldWatermark(spark, s"$root/$sub")
        .exists(_ <= sinceBatch)
      val parts = Layout.partitionBytes(spark, s"$root/$sub")
      def seedPart(b: Long): Boolean =
        b >= sinceBatch || (b == -1L && !foldCovered) ||
          (b <= -2L && -b - 2L > sinceBatch)
      (parts.filter(p => seedPart(p._1)).values.sum, parts.values.sum)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    if (totalBytes > 0 &&
      seedBytes.toDouble / totalBytes > seedFractionCrossover)
      return full(5L)

    def treeDf(sub: String, admFlag: Boolean): Option[DataFrame] =
      Option.when(Layout.hasParquetData(spark, s"$root/$sub"))(
        spark.read.parquet(s"$root/$sub")).map(_.select(col("id"),
        col("m"), col("sh64"), lit(admFlag).as("__adm"),
        isNewPred(sub).as("__new")))
    val union = trees.flatMap { case (sub, f) => treeDf(sub, f) }
      .reduce(_ unionByName _)
    val hot: Option[DataFrame] =
      if (!dialed) None
      else Some(Materialize.multiScan(
        hotFromCounts(spark, root, maxDocFreq)))
    def antiHot(df: DataFrame): DataFrame =
      hot.fold(df)(h => df.join(broadcast(h), Seq("sh64"), "left_anti"))

    // guarded driver collect: all rows when under the bound, None when
    // over (→ full fallback)
    def takeGuarded(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
      val rows = df.take(maxFrontierKeys + 1)
      if (rows.length > maxFrontierKeys) None else Some(rows)
    }
    // point-lookup fetch that PRUNES at any key count: parquet pushes
    // an IN as a stats-pruning OR-chain only up to the session's
    // inFilterThreshold (1024 — larger chains overflow parquet-mr's
    // recursive evaluator, the r20 fix; larger sets degrade to a
    // [min,max] range filter that prunes nothing for hashed keys, with
    // the InSet data filter keeping results exact either way). Keys
    // split into threshold-sized chunks, one pruned scan per chunk,
    // unioned — disjoint keys, disjoint rows. Past PointLookupMaxChunks
    // the union's plan cost outweighs pruning and the single un-pruned
    // scan is the honest fallback (that regime is near the frontier
    // guard's full-path handoff anyway).
    def pointLookup(df: DataFrame, keyCol: String,
                    keys: Seq[Any]): DataFrame = {
      // chunks must be CONTIGUOUS in the column's sort order (the
      // folds are sh64-/id-sorted): an arbitrary-order chunk spans
      // the whole key range and every chunk scans every row group —
      // measured 3x MORE bytes than one un-pruned scan. Sorted, each
      // chunk's OR-chain fails fast outside its narrow stats range; a
      // key type not sorted here takes the single scan instead.
      val chunked = keys.size > PointLookupChunk &&
        keys.size <= PointLookupChunk * PointLookupMaxChunks
      val sorted: Option[Seq[Any]] = if (!chunked) None else keys.head match {
        case _: Long => Some(keys.asInstanceOf[Seq[Long]].sorted)
        case _: String => Some(keys.asInstanceOf[Seq[String]].sorted)
        case _ => None
      }
      if (keys.isEmpty) df.limit(0)
      else sorted.fold(df.filter(col(keyCol).isin(keys: _*)))(
        _.grouped(PointLookupChunk)
          .map(ch => df.filter(col(keyCol).isin(ch: _*)))
          .reduce(_ unionByName _))
    }

    // SEED: new-partition docs (partition-pruned batch predicates) +,
    // under the dial, docs carrying formerly-hot shingles (the
    // retirement-unpruned edges — sh64-pruned fetch)
    val seedNew = union.filter(col("__new"))
      .select(col("id"), col("__adm")).distinct()
    val seedDf = storedHot match {
      case None => seedNew
      case Some(sh) =>
        // stored \ current: the shingles whose pruning the certificate
        // had and the present state lacks (current hot is empty when
        // the dial is off — dial REMOVAL un-prunes the whole set)
        val formerly = takeGuarded(
          hot.fold(sh)(h => sh.join(h, Seq("sh64"), "left_anti"))
            .select(col("sh64")).distinct()) match {
          case None => return full(6L)
          case Some(rows) => rows.map(_.getLong(0))
        }
        if (formerly.isEmpty) seedNew
        else seedNew.unionByName(
          pointLookup(union, "sh64", formerly.toSeq)
            .select(col("id"), col("__adm")).distinct()).distinct()
    }
    val seedRows = takeGuarded(seedDf) match {
      case None => return full(6L)
      case Some(rows) => rows
    }

    // CLOSURE: reached ids (with their admitted tag, learned at
    // discovery — postings rows are admitted, evidence rows are not)
    // expand by alternating point lookups: frontier ids → shingle sets
    // (doc sidecar, id-pruned) → carriers (postings trees,
    // sh64-pruned). Ids are caller-typed; the driver sets hold them as
    // values and push them back as IN literals.
    val reached = scala.collection.mutable.HashMap.empty[Any, Boolean]
    seedRows.foreach(r => reached.update(r.get(0),
      reached.getOrElse(r.get(0), false) || r.getBoolean(1)))
    var frontier: Seq[Any] = reached.keys.toSeq
    val docShingles = spark.read.parquet(s"$root/$DocShinglesSubtree")
    var hops = 0
    var guardTripped = false
    while (frontier.nonEmpty && hops < maxHops && !guardTripped) {
      val fsh = takeGuarded(antiHot(
        pointLookup(docShingles, "id", frontier)
          .select(explode(col("shs")).as("sh64")))
        .select(col("sh64")).distinct()) match {
        case None => guardTripped = true; Array.empty[Long]
        case Some(rows) => rows.map(_.getLong(0))
      }
      if (!guardTripped) {
        if (fsh.isEmpty) frontier = Nil
        else takeGuarded(pointLookup(union, "sh64", fsh.toSeq)
          .select(col("id"), col("__adm")).distinct()) match {
          case None => guardTripped = true
          case Some(nbr) =>
            val fresh = nbr.filter(r => !reached.contains(r.get(0)))
            fresh.foreach(r => reached.update(r.get(0), r.getBoolean(1)))
            frontier = fresh.map(_.get(0)).toSeq
            // the ACCUMULATED closure is what the final pair-join fetch
            // pushes as IN literals — per-hop guards alone would let a
            // long thin chain grow it to maxHops × the bound
            if (reached.size > maxFrontierKeys) guardTripped = true
        }
      }
      hops += 1
    }
    if (guardTripped) return full(6L)
    // maxHops exhausted with a live frontier: the closure is not
    // provably complete — run the full reconcile, never under-emit
    if (frontier.nonEmpty) return full(7L)

    // PAIR JOIN on the reachable subgraph only: rows re-derived from
    // the doc sidecar (id-pruned fetch; array length = the probe's m),
    // dialed rows dropped AFTER the fetch — exactly the full form's
    // prune-then-pair semantics
    val scopeIds = reached.keys.toSeq
    if (scopeIds.isEmpty) // converged: nothing new, nothing un-pruned
      return (docShingles.select(col("id"),
        lit("near").as("dropped_at")).limit(0), 0L)
    val sub = Materialize.multiScan(antiHot(
      pointLookup(docShingles, "id", scopeIds)
        .select(col("id"), col("m"), explode(col("shs")).as("sh64"))))
    val pairs = Dedup.jaccardProbe(sub, sub, tau)
      .filter(col("batch_id") < col("corpus_id"))
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
    val admVals = reached.collect { case (id, true) => id }.toSeq
    val admInScope =
      if (admVals.isEmpty) sub.select(col("id")).limit(0)
      else sub.select(col("id")).filter(col("id").isin(admVals: _*))
        .distinct()
    (deltaFromComponents(Dedup.connectedComponents(pairs), admInScope),
      0L)
  }

  /** The reconcile DELTA from a component labeling: each component's
    * minimum ADMITTED id survives; every other admitted member is
    * emitted (id, dropped_at='near'). Anchoring on the admitted minimum
    * — not the raw component minimum — is what keeps one corpus
    * representative per component when ids are not monotone with
    * arrival (see [[reconcileNear]]'s scaladoc). Component-cardinality
    * joins only; the extra per-cluster min is one keyed aggregate over
    * the admitted members. */
  private def deltaFromComponents(cc: DataFrame,
                                  admittedIds: DataFrame): DataFrame = {
    val admCc = cc.join(admittedIds, Seq("id"), "left_semi")
    val keep = admCc.groupBy(col("cluster"))
      .agg(min(col("id")).as("__keep"))
    admCc.join(keep, Seq("cluster"))
      .filter(col("id") =!= col("__keep"))
      .select(col("id"), lit("near").as("dropped_at"))
  }

  /** APPLY a [[reconcileNear]] delta — the serialized step that
    * CONVERGES the streaming corpus to the batch ladder's semantics,
    * closing the "advisory output, caller applies it" gap. For every
    * delta doc (an ADMITTED doc the batch near rung would have
    * dropped), in this order:
    *
    *  1. `verdicts/`  — its NULL verdict row becomes the delta's tag;
    *  2. `corpus/`    — its row is deleted;
    *  3. its postings MOVE from `postings/` to `postings_dropped/`
    *     (same batch partition for per-tick sources; rows from the
    *     FOLDED `batch=-1` land in the watermark-keyed evidence
    *     partition `batch = -(committedBelow+2)` so they stay
    *     individually retirable under a retention lag — merging them
    *     into evidence `batch=-1` would chain its fold marker to the
    *     postings tree's full watermark, which a lagged retire never
    *     reaches): retired postings can never vouch for a future near
    *     drop (only corpus content vouches — the ladder invariant),
    *     but remain reconciliation EVIDENCE, exactly like an
    *     ingest-time near drop's.
    *
    * The subtree ORDER is the convergence contract: verdicts and
    * corpus first, postings last, so at EVERY intermediate crash point
    * a re-derived delta ([[reconcileNear]] again — delta membership
    * rides the postings, untouched until step 3) still contains every
    * unfinished doc, and re-applying finishes the job. A re-apply of a
    * fully-applied delta (same VALUES — re-derived, or read back from a
    * copy the caller persisted; a pre-crash lazy handle would read
    * files this apply rewrote) is a NO-OP BY LAYOUT: hit detection
    * finds no NULL-verdict, corpus, or postings row for any delta id,
    * so no partition is rewritten (all counts 0).
    *
    * PARTITION SWAPS, not in-place Overwrites: each touched partition
    * is rewritten through [[Layout.swapDir]] — a `.apply-tmp-batch=N`
    * sibling complete before anything is removed, the partition renamed
    * aside, the tmp renamed in; the recovery sweep at the next entry
    * ([[recoverLadderEntry]]) leaves every interrupted partition with
    * its full original content (the replay recomputes the rewrite) or
    * its full rewritten content. This is
    * the [[Layout.foldBatchPartitions]] discipline — a plain Overwrite
    * would hold the only copy of the partition's NON-delta rows in
    * limbo mid-write. Per-partition rewrite jobs stay bounded because
    * [[maintainLadder]]'s fold keeps the partition count bounded.
    *
    * BLOOM SIDECARS need no rebuild here, for correctness or at all:
    * removing keys from an indexed subtree only creates STALE POSITIVES
    * in its sidecar, and a stale positive falls through the exact join
    * (the [[LadderBloom]] exactness argument is one-sided — only a
    * false NEGATIVE could change a verdict, and deletion cannot create
    * one). The next maintenance rebuild re-tightens pruning.
    *
    * `domain_counts/` is NOT refunded by default: a reconcile-deleted
    * doc still consumed its registrant's quota (the cap stays
    * conservative — first-arrival accounting, the
    * [[admitBatchDomainQuota]] rule). Over long horizons with
    * aggressive reconciliation that drifts dup-heavy registrants
    * permanently under-quota vs batch semantics, so `refundQuota =
    * Some(...)` opts into decrementing the deleted docs' registered
    * domains: a NEGATIVE-count partition lands under `domain_counts/`
    * at the watermark-keyed id `batch = -(committedBelow + 2)` (real
    * ids are ≥ 0 and the fold target is −1, so the key collides with
    * nothing; prior-count sums read it like any other partition, and
    * [[Layout.foldBatchPartitions]] folds committed refund partitions
    * into `batch=-1` like committed ticks). Replay-idempotent by the
    * same two levers as everything here: the partition id is
    * deterministic per watermark (a replay overwrites the same values
    * in place), and the delta SNAPSHOT carries each doc's resolved
    * `reg_domain` and MERGES with a same-watermark predecessor — a
    * crash-replay's re-derived delta misses docs whose corpus rows
    * (hence urls) were already deleted, and the predecessor snapshot
    * still holds their domains, so the recomputed refund is always the
    * FULL window's. The refund is SCOPE-GATED like every other step: a
    * delta doc in the current uncommitted tick's partition is not
    * deleted by this apply, so it does not refund either — the later
    * window that actually deletes it refunds it (its corpus row, hence
    * url, is still present to resolve). Docs with NULL/unresolvable
    * hosts never refund
    * (they were never counted — the NULL-provenance rule); the refund
    * step is skipped entirely when `domain_counts/` holds no data (no
    * quota rung ran, nothing to refund). Quota drops that already
    * happened remain dropped — the refund corrects the count for
    * FUTURE arrivals, which is exactly batch parity when quota
    * pressure follows the maintenance window (fixture-pinned in
    * `q_reladder_refund`).
    *
    * Call from the SAME serialized window that runs the ticks, passing
    * the current tick watermark: only partitions with
    * `batch ∈ {-1} ∪ [0, committedBelow)` are touched, so an in-flight
    * tick's own partition is never swapped under it.
    *
    * @param idCol  the corpus relation's document id column (verdicts/
    *               postings use the ladder's canonical `id`)
    * @param delta  [[reconcileNear]]'s output: (id, dropped_at)
    * @return rows touched per subtree: "verdicts" updated, "corpus"
    *         deleted, "postings" retired (moved to evidence)
    */
  def applyReconcile(spark: SparkSession, root: String, idCol: String,
                     delta: DataFrame,
                     committedBelow: Long,
                     recordWatermark: Boolean = false,
                     refundQuota: Option[QuotaRefund] = None): Map[String, Long] = {
    require(committedBelow >= 0, s"committedBelow must be >= 0")
    recoverLadderEntry(spark, root)
    // SNAPSHOT the delta to a durable sibling before any swap: the
    // incoming relation's plan reads the very postings files the apply
    // is about to rewrite, so evaluating it lazily mid-apply (or after
    // a cache eviction) would read files that no longer exist. The
    // dot-dir is invisible to tree reads and overwritten per apply; a
    // REPLAY after a crash passes a re-derived ([[reconcileNear]]) or
    // caller-persisted delta — a lazy handle from before the crash is
    // dead by construction.
    val deltaDir = s"$root/.apply-delta"
    // an interrupted snapshot swap is healed first: a half-written
    // first-ever snapshot (refund path) carries no commit witness and
    // is discarded, so a partial refund merge can never be promoted —
    // the replayed apply re-derives the delta and rebuilds it
    Layout.recoverSwapDir(spark, deltaDir)
    // dedupe by ID, not by (id, dropped_at): the API accepts arbitrary
    // caller-persisted deltas, and a delta carrying one id under two
    // tags would otherwise keep both rows — the verdict rewrite's left
    // join on id then duplicates that verdict row in the swapped
    // partition, corrupting the one-row-per-id relation. min(tag) makes
    // the pick deterministic; [[reconcileNear]]'s own output is
    // single-tag, where this is the plain distinct.
    val deduped = delta.groupBy(col("id"))
      .agg(min(col("dropped_at")).as("dropped_at"))
    val snapshot = refundQuota match {
      case None => deduped
      case Some(q) =>
        // resolve each delta doc's registered domain NOW, while its
        // corpus row (hence url) still exists — the refund's input must
        // survive the corpus deletion below and any crash after it
        val resolved =
          if (!Layout.hasParquetData(spark, s"$root/corpus"))
            deduped.withColumn("reg_domain",
              lit(null).cast("string"))
          else {
            val c = spark.read.parquet(s"$root/corpus")
            val hit = c.join(deduped.select(col("id").as("__rid")),
              c(idCol) === col("__rid"), "left_semi")
            val doms = resolveRegDomains(hit, idCol,
              hostOf(col(q.urlCol)), q.suffixes, q.pslRules)
            // SCOPE GATE: a delta doc in the current uncommitted
            // tick's partition is not deleted by this apply (the
            // hitParts scope rule below), so refunding it now would
            // double-count when a later window deletes it for real —
            // its reg_domain is nulled here and the later window's
            // snapshot re-resolves it (the corpus row is still there)
            val scoped = hit
              .select(col(idCol).as("id"), col("batch").cast("long")
                .as("__cb"))
            deduped.join(doms, Seq("id"), "left")
              .join(scoped, Seq("id"), "left")
              .select(col("id"), col("dropped_at"),
                when(col("__cb") === -1L || col("__cb") < committedBelow,
                  col("reg_domain")).as("reg_domain"))
          }
        // MERGE with a same-watermark predecessor snapshot: a
        // crash-replay's re-derived delta misses already-processed
        // docs whose corpus rows are gone; their domains live only in
        // the predecessor. max(reg_domain) ignores NULLs, so the
        // resolved value wins over an unresolvable replay row.
        val prev =
          if (!Layout.hasParquetData(spark, deltaDir)) None
          else {
            val p = spark.read.parquet(deltaDir)
            if (p.columns.contains("__wm") &&
              p.columns.contains("reg_domain"))
              Some(p.filter(col("__wm") === committedBelow)
                .select(col("id"), col("dropped_at"), col("reg_domain")))
            else None
          }
        prev.fold(resolved)(pv =>
          resolved.unionByName(pv).groupBy(col("id"))
            .agg(min(col("dropped_at")).as("dropped_at"),
              max(col("reg_domain")).as("reg_domain")))
          .withColumn("__wm", lit(committedBelow))
    }
    // swapped, not overwritten in place: the refund merge READS the
    // current snapshot dir, so an Overwrite would consume its own input
    Layout.swapDir(spark, deltaDir)(
      snapshot.write.mode(SaveMode.Overwrite).parquet(_))
    if (!Layout.hasParquetData(spark, deltaDir)) {
      // an empty delta is trivially applied in full: the state is
      // already converged at this watermark
      if (recordWatermark) recordReconciled(spark, root, committedBelow)
      return Map("verdicts" -> 0L, "corpus" -> 0L, "postings" -> 0L,
        "delta_ids" -> 0L) ++
        refundQuota.map(_ => "quota_refunded" -> 0L)
    }
    val idsAll = spark.read.parquet(deltaDir)
    val ids = idsAll.select(col("id"), col("dropped_at"))
    // reported so callers can detect a PARTIALLY-in-scope delta (a
    // delta doc living in the current, uncommitted tick's partition is
    // not touched — verdicts < delta_ids): [[reconcileWindow]] defers
    // evidence retirement on that signal
    val nDelta = ids.count()
    def inScope(b: Long): Boolean = b == -1L || b < committedBelow
    def hitParts(dir: String, df: DataFrame, joinCol: String): Seq[(Long, Long)] =
      df.join(ids.select(col("id").as("__rid")),
          col(joinCol) === col("__rid"), "left_semi")
        .groupBy(col("batch").cast("long").as("b"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => inScope(p._1)).toSeq

    // 1. verdicts: NULL → delta tag (only NULL rows count as hits, so
    // a re-apply sees none — the no-op-by-layout contract)
    val vDir = s"$root/verdicts"
    var nVerdicts = 0L
    if (Layout.hasParquetData(spark, vDir)) {
      val hits = hitParts(vDir, spark.read.parquet(vDir)
        .filter(col("dropped_at").isNull), "id")
      hits.foreach { case (b, n) =>
        val cur = spark.read.parquet(s"$vDir/batch=$b")
        val upd = cur
          .join(ids.select(col("id"), col("dropped_at").as("__tag")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("dropped_at"), col("__tag"))
            .as("dropped_at"))
        Layout.swapDir(spark, s"$vDir/batch=$b")(
          upd.write.mode(SaveMode.Overwrite).parquet(_))
        nVerdicts += n
      }
    }
    // 2. corpus: delete the delta docs' rows
    val cDir = s"$root/corpus"
    var nCorpus = 0L
    if (Layout.hasParquetData(spark, cDir)) {
      val hits = hitParts(cDir, spark.read.parquet(cDir), idCol)
      hits.foreach { case (b, n) =>
        val cur = spark.read.parquet(s"$cDir/batch=$b")
        Layout.swapDir(spark, s"$cDir/batch=$b")(cur.join(
          ids.select(col("id").as("__rid")),
          cur(idCol) === col("__rid"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(_))
        nCorpus += n
      }
    }
    // 3. (opt-in) quota refund: one negative-count partition at the
    // watermark-keyed id, computed from the SNAPSHOT's resolved
    // domains (complete across crash-replays by the merge above).
    // BEFORE the postings retirement so the re-derived delta stays
    // complete for as long as possible; a replay overwrites the same
    // partition with the same values.
    var nRefund = 0L
    refundQuota.foreach { _ =>
      val qDir = s"$root/domain_counts"
      if (Layout.hasParquetData(spark, qDir)) {
        val doms = idsAll.filter(col("reg_domain").isNotNull)
        nRefund = doms.count()
        if (nRefund > 0)
          Layout.swapDir(spark, s"$qDir/batch=${-(committedBelow + 2L)}")(
            doms.groupBy(col("reg_domain"))
              .agg((-count(lit(1))).as("n"))
              .write.mode(SaveMode.Overwrite).parquet(_))
      }
    }
    // 4. postings: move delta docs' rows to the evidence subtree, THEN
    // retire them from the probe-visible index. Within a partition the
    // evidence union lands first, so an interruption between the two
    // writes replays into the same (distinct-deduped) union. A crash
    // BETWEEN the two completed swaps would leave the doc's rows in
    // BOTH trees — and the reconcilers' adm∪evidence union would then
    // double its per-pair intersection counts, inflating jaccard past
    // τ for unrelated pairs (a silent exactness corruption). The
    // per-partition MOVE MARKER closes it: created before the evidence
    // swap, deleted after the retirement swap, and any lingering
    // marker makes the half-done move detectable — the entry sweep
    // ([[recoverEvidenceMoves]]) finishes the retirement.
    val pDir = s"$root/postings"; val dDir = s"$root/postings_dropped"
    var nPostings = 0L
    if (Layout.hasParquetData(spark, pDir)) {
      val hits = hitParts(pDir, spark.read.parquet(pDir), "id")
      hits.foreach { case (b, n) =>
        val cur = spark.read.parquet(s"$pDir/batch=$b")
        val retired = cur.join(ids.select(col("id").as("__rid")),
          cur("id") === col("__rid"), "left_semi")
        // rows retired out of the FOLDED postings partition (b = -1)
        // land in a WATERMARK-KEYED evidence partition (the refund's
        // `batch = -(W+2)` scheme, collision-free with real ids ≥ 0 and
        // the fold target −1) rather than merging into evidence
        // batch=-1: merging would force its fold marker up to the
        // postings tree's FULL watermark, which under a retention lag
        // is always above the K-lagged retire watermark — so the
        // folded evidence could never retire and apply-retired rows
        // would accumulate there forever. Keyed by watermark they stay
        // individually retirable the moment the lagged watermark
        // passes W ([[retireEvidence]] deletes `-b-2 ≤ coveredBelow`),
        // fold like committed refund partitions, and the incremental
        // seed reads `-b-2 > sinceBatch` as new (moved since the
        // certificate — conservative; a completed window's own moves
        // are converged at its watermark and read as old).
        val dB = if (b == -1L) -(committedBelow + 2L) else b
        val existing =
          if (Layout.hasParquetData(spark, s"$dDir/batch=$dB"))
            Some(spark.read.parquet(s"$dDir/batch=$dB"))
          else None
        val marker = moveMarkerPath(root, b, committedBelow)
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.create(marker, true).close()
        Layout.swapDir(spark, s"$dDir/batch=$dB")(
          existing.fold(retired)(_ unionByName retired).distinct()
            .write.mode(SaveMode.Overwrite).parquet(_))
        Layout.swapDir(spark, s"$pDir/batch=$b")(cur.join(
          ids.select(col("id").as("__rid")),
          cur("id") === col("__rid"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(_))
        fs.delete(marker, false)
        nPostings += n
      }
    }
    // FULL application (every delta doc's NULL verdict was in scope and
    // rewritten) certifies the corpus converged at this watermark: the
    // durable marker the retention lag and the incremental reconcile
    // both anchor on. A crash between the last swap and this write is
    // closed by the next window: its re-derived delta is empty (state
    // converged), which records the marker through the trivial path
    // above. NOT recorded on partial scope (verdicts < delta_ids — a
    // delta doc sits in the current uncommitted tick's partition) or
    // on a replay whose verdict hits were already rewritten pre-crash
    // (the next window's empty re-derive records it one window late,
    // conservatively).
    if (recordWatermark && nVerdicts == nDelta)
      recordReconciled(spark, root, committedBelow)
    Map("verdicts" -> nVerdicts, "corpus" -> nCorpus,
      "postings" -> nPostings, "delta_ids" -> nDelta) ++
      refundQuota.map(_ => "quota_refunded" -> nRefund)
  }

  /** Opt-in quota-refund configuration for [[applyReconcile]] /
    * [[reconcileWindow]]: how a reconcile-deleted doc's registered
    * domain is resolved — the SAME url column, embedded-subset /
    * rules-table dispatch as the quota rung that counted it
    * ([[admitBatchDomainQuota]], [[IngestLadder.admitBatch]]'s
    * `domain` rung), so refund buckets registrants exactly as
    * admission did. */
  final case class QuotaRefund(urlCol: String,
                               suffixes: Seq[String] = Dedup.publicSuffixes,
                               pslRules: Option[DataFrame] = None)

  private val ReconcileMarker = "_reconciled"
  private val ReconcileMarkerKeep = 64

  /** COMPLETED-reconcile watermark history for `root` (ascending,
    * deduped, last [[ReconcileMarkerKeep]] kept): each entry W
    * certifies a [[reconcileNear]] → [[applyReconcile]] pass at
    * watermark W applied in FULL — the precondition both
    * [[retireEvidence]] (evidence below W is converged) and an
    * incremental reconcile (components untouched since W are
    * converged) stand on. Written by [[applyReconcile]] under
    * `recordWatermark = true` (the [[reconcileWindow]] path); empty
    * for a root never reconciled, or reconciled only before the marker
    * existed — consumers fall back to the full recompute / zero-lag
    * behavior. A torn write (crash mid-rewrite) can only LOSE history,
    * which defers retirement and widens the incremental seed — always
    * conservative, never wrong. */
  private[graft] def reconciledWatermarks(spark: SparkSession,
                                          root: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(root, ReconcileMarker)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else {
      val in = fs.open(path)
      try {
        new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          .split("\n").toSeq
          .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
          .distinct.sorted
      } finally in.close()
    }
  }

  private def recordReconciled(spark: SparkSession, root: String,
                               w: Long): Unit = {
    val ws = (reconciledWatermarks(spark, root) :+ w)
      .distinct.sorted.takeRight(ReconcileMarkerKeep)
    val path = new org.apache.hadoop.fs.Path(root, ReconcileMarker)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    out.write(ws.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  // ---------------------------------------------------------------
  // Shingle doc-frequency sidecar (`shingle_counts/`): per-sh64 row
  // counts over EXACTLY the rows the postings + evidence trees hold,
  // maintained per tick through the same per-batch-Overwrite / fold /
  // swap discipline as every other subtree — so the hot-shingle dial
  // reads an aggregate of counts-cardinality rows instead of
  // re-aggregating the O(corpus) postings union every maintenance
  // window (the 100 TB dial cost). Invariants:
  //  - a tick writes `shingle_counts/batch=<id>` = the per-sh64 counts
  //    of the postings rows it persisted (admitted + near/containment
  //    evidence — quota-dropped docs persist no postings and count 0);
  //  - apply-time MOVES change nothing (the union is unchanged);
  //  - retirement writes one NEGATIVE partition at the watermark-keyed
  //    `batch = -(coveredBelow+2)` summarizing the deleted evidence
  //    rows, guarded by a retire marker for crash-exactness;
  //  - folds are row-preserving, so the per-sh64 SUM is an exact
  //    doc-frequency at every point a serialized window observes.
  // The `_complete` marker certifies the tree has covered every tick
  // since the root's genesis (written by the first tick on a fresh
  // root, or by [[ensureShingleCounts]]'s backfill); consumers without
  // it fall back to the full-union aggregate.
  // ---------------------------------------------------------------

  private[graft] val CountsSubtree = "shingle_counts"
  /** Doc-keyed shingle sidecar (`doc_shingles/`): ONE row per persisted
    * doc — (id, m, shs: array<sh64>) — the id-direction lookup the
    * closure hops need (frontier doc → its shingle set) served by an
    * id-SORTED fold so the fetch prunes file groups, while the
    * postings trees stay sh64-sorted for the other direction. Rows are
    * immutable facts (a doc's shingle set never changes), so apply
    * moves and retirements need no maintenance here: the closure only
    * ever looks up ids it just read from the live union, so rows for
    * departed docs are dead weight, reaped opportunistically by the
    * fold. Same per-batch-Overwrite replay contract and `_complete`
    * certification as the counts sidecar. */
  // a constant (`final val`): `FoldSort`, initialised earlier in this
  // object, reads it
  private[graft] final val DocShinglesSubtree = "doc_shingles"
  private val CompleteMarker = "_complete"

  private def sidecarComplete(spark: SparkSession, root: String,
                              sub: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub", CompleteMarker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  private def markSidecarComplete(spark: SparkSession, root: String,
                                  sub: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub", CompleteMarker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  private[graft] def countsComplete(spark: SparkSession,
                                    root: String): Boolean =
    sidecarComplete(spark, root, CountsSubtree)
  private[graft] def markCountsComplete(spark: SparkSession,
                                        root: String): Unit =
    markSidecarComplete(spark, root, CountsSubtree)
  private[graft] def docShinglesComplete(spark: SparkSession,
                                         root: String): Boolean =
    sidecarComplete(spark, root, DocShinglesSubtree)

  /** The hot-shingle set from the sidecar — identical decisions to
    * [[Dedup.dropHotPostingsCached]]'s full-union aggregate whenever
    * the `_complete` invariant holds (spec-pinned, including after
    * apply-time retirements), at counts-cardinality cost. */
  private[graft] def hotFromCounts(spark: SparkSession, root: String,
                                   maxDocFreq: Int): DataFrame =
    spark.read.parquet(s"$root/$CountsSubtree")
      .groupBy(col("sh64")).agg(sum(col("n")).as("c"))
      .filter(col("c") > maxDocFreq).select(col("sh64"))

  /** Shared BACKFILL skeleton for roots that predate a sidecar:
    * replace the sidecar tree with one pass over the current
    * postings + evidence union — committed rows (`batch <
    * committedBelow`; folds, moves and refunds are all < 0) into
    * `batch=-1`, any uncommitted tick's rows into its own partition
    * (the tick's replay Overwrites its own partition, so absorbing it
    * into the fold would double-count on redelivery) — then certify
    * `_complete`. One O(corpus postings) pass, paid ONCE per root
    * ever; from then on ticks maintain the tree incrementally.
    * Idempotent and crash-safe: any interruption leaves the marker
    * unwritten and the next call rebuilds from scratch. Returns the
    * row count written, or -1 when already complete. MUST run after
    * [[recoverLadderEntry]] (a half-done move would double-count —
    * [[reconcileWindow]] recovers before backfilling). */
  private def backfillSidecar(spark: SparkSession, root: String,
                              sub: String,
                              grouped: DataFrame => DataFrame,
                              sortCol: Option[String],
                              committedBelow: Long): Long = {
    if (sidecarComplete(spark, root, sub)) return -1L
    val trees = Seq("postings", "postings_dropped")
      .map(s => s"$root/$s")
      .filter(Layout.hasParquetData(spark, _))
    if (trees.isEmpty) return 0L
    val dir = s"$root/$sub"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val union = trees.map(spark.read.parquet(_)
      .select(col("id"), col("m"), col("sh64"),
        col("batch").cast("long").as("batch")))
      .reduce(_ unionByName _)
    val folded = grouped(union.filter(col("batch") < committedBelow))
    sortCol.fold(folded)(c => folded.repartitionByRange(col(c))
        .sortWithinPartitions(col(c)))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=-1")
    trees.flatMap(Layout.batchValues(spark, _))
      .distinct.filter(_ >= committedBelow).foreach { b =>
        grouped(union.filter(col("batch") === b))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$b")
      }
    Layout.writeFoldWatermark(spark, dir, committedBelow)
    markSidecarComplete(spark, root, sub)
    spark.read.parquet(dir).count()
  }

  private[graft] def ensureShingleCounts(spark: SparkSession,
                                         root: String,
                                         committedBelow: Long): Long =
    backfillSidecar(spark, root, CountsSubtree,
      _.groupBy(col("sh64")).agg(count(lit(1)).as("n")),
      sortCol = None, committedBelow)

  /** One tick's sidecar partitions — the per-sh64 counts AND the
    * per-doc shingle rows of exactly the postings rows the tick
    * persisted (across both trees). Same replay contract as every
    * subtree — per-batch Overwrite. Marks the trees complete when the
    * root had no postings data before this tick (complete-from-
    * genesis); pre-existing roots get the markers from
    * [[ensureShingleCounts]] / [[ensureDocShingles]]'s backfills. */
  private[graft] def writeTickCounts(persisted: DataFrame, root: String,
                                     batchId: Long,
                                     freshRoot: Boolean): Unit = {
    persisted.groupBy(col("sh64")).agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/$CountsSubtree/batch=$batchId")
    persisted.groupBy(col("id"))
      .agg(max(col("m")).as("m"), collect_list(col("sh64")).as("shs"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/$DocShinglesSubtree/batch=$batchId")
    if (freshRoot) {
      markCountsComplete(persisted.sparkSession, root)
      markSidecarComplete(persisted.sparkSession, root,
        DocShinglesSubtree)
    }
  }

  /** [[ensureShingleCounts]]'s doc-keyed twin — same
    * [[backfillSidecar]] skeleton, grouped per doc, id-sorted fold. */
  private[graft] def ensureDocShingles(spark: SparkSession,
                                       root: String,
                                       committedBelow: Long): Long =
    backfillSidecar(spark, root, DocShinglesSubtree,
      _.groupBy(col("id"))
        .agg(max(col("m")).as("m"), collect_list(col("sh64")).as("shs")),
      sortCol = Some("id"), committedBelow)

  // ---------------------------------------------------------------
  // Persisted HOT-SET history (`hot_at/wm=<W>`): the dial's hot-shingle
  // set at each completed-reconcile watermark, written by
  // [[reconcileWindow]] when the dial is on. Retirement can drop a
  // shingle's doc frequency BELOW the dial, un-pruning it — which adds
  // τ-edges between docs that both predate the watermark, a component
  // change the batch-seeded closure cannot see (neither endpoint is
  // new). The incremental reconcile therefore additionally seeds every
  // doc carrying a shingle that was hot at the watermark but is not
  // hot now; with no recorded hot set (pre-sidecar roots, dial just
  // turned on, or a different dial value) it falls back to the full
  // reconcile — conservative, never wrong.
  // ---------------------------------------------------------------

  private def hotAtDir(root: String, w: Long): String =
    s"$root/hot_at/wm=$w"
  private val HotAtDialMarker = "_dial"

  private[graft] def writeHotAt(spark: SparkSession, root: String,
                                w: Long, maxDocFreq: Int,
                                hot: DataFrame): Unit = {
    val dir = hotAtDir(root, w)
    hot.select(col("sh64")).write.mode(SaveMode.Overwrite).parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir, HotAtDialMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(maxDocFreq.toString.getBytes("UTF-8"))
    out.close()
    // prune beyond the watermark-history bound (the marker file's own
    // retention) — one listing, oldest first
    val base = new org.apache.hadoop.fs.Path(s"$root/hot_at")
    val dirs = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .flatMap(d => scala.util.Try(
        d.getName.stripPrefix("wm=").toLong).toOption.map(_ -> d))
      .sortBy(_._1)
    dirs.dropRight(ReconcileMarkerKeep).foreach(d => fs.delete(d._2, true))
  }

  /** The stored hot set at watermark `w` — None when never recorded.
    * The dial marker doubles as the record's commit witness (written
    * after the parquet job; a dir without it is a torn write and reads
    * as None, conservative). The stored DIAL VALUE is provenance only:
    * the soundness argument needs the SET, not dial equality — edges
    * the current state has that the certificate's didn't are exactly
    * pairs sharing a shingle in `stored \ current` (any dial
    * transition included: loosening or removing the dial un-prunes
    * `stored \ current`; tightening only removes edges, which can only
    * split converged components). */
  private[graft] def readHotAt(spark: SparkSession, root: String,
                               w: Long): Option[DataFrame] = {
    val dir = hotAtDir(root, w)
    val p = new org.apache.hadoop.fs.Path(dir, HotAtDialMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !Layout.hasParquetData(spark, dir)) None
    else Some(spark.read.parquet(dir))
  }

  /** EVIDENCE RETENTION for the reconciliation loop: delete
    * `postings_dropped/` partitions a COMPLETED [[reconcileNear]] →
    * [[applyReconcile]] pass has already considered (batch = -1 or
    * batch < `coveredBelow`, the watermark that reconcile ran under).
    * Without it the evidence subtree grows with every near/containment
    * drop forever — superlinearly vs the corpus on dup-heavy crawls —
    * and it is [[reconcileNear]]'s self-join input.
    *
    * SAFE for the converged state, provably: post-apply, every
    * connected component of the evidence graph contains exactly ONE
    * admitted doc — its minimum ADMITTED id (apply deleted the rest;
    * no arrival-order assumption, see [[reconcileNear]]'s admitted-min
    * anchor). Removing evidence nodes only SPLITS components, and each
    * fragment holds at most one admitted doc — trivially its own
    * admitted minimum — so a re-run of [[reconcileNear]] still emits
    * an EMPTY delta (spec-pinned with and without retirement).
    *
    * The TRADE, stated plainly: a FUTURE arrival that chains to the
    * corpus only THROUGH a retired evidence doc (w ~ y_retired ~ x,
    * w ≁ x) is admitted and stays admitted — ingest-time semantics,
    * not batch semantics, for that chain. This is the same class as
    * the ladder's one documented divergence, now bounded by the
    * retention window instead of closed forever: evidence younger than
    * the last completed reconcile still converges such chains.
    * Retention is therefore a DIAL (run reconcile+apply+retire every K
    * ticks), not a free lunch — the spec pins both sides.
    *
    * Call from the serialized maintenance window, only after
    * [[applyReconcile]] for a reconcile at `coveredBelow` has
    * completed.
    *
    * @return partitions deleted
    */
  def retireEvidence(spark: SparkSession, root: String,
                     coveredBelow: Long): Int = {
    val dir = s"$root/postings_dropped"
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    // batch=-1 holds FOLDED evidence from every earlier maintenance
    // window; it is retirable only when the fold's own watermark
    // ([[Layout.foldWatermark]], recorded at fold time) sits at or
    // below this retirement's — a LAGGED retention watermark must keep
    // the young evidence a fold merged in after it (deleting -1
    // unconditionally would silently defeat the lag dial). A folded
    // tree with no marker has UNKNOWN coverage: kept, conservatively.
    // batch ≤ -2 partitions are watermark-keyed APPLY-MOVED evidence
    // ([[applyReconcile]] retires folded-postings rows into
    // `batch = -(W+2)`): the completed pass at W considered those rows
    // (they were postings at its reconcile), so they retire once this
    // retirement's watermark reaches W = -b-2 — the individual
    // retirability that merging into batch=-1 (whose marker the
    // postings fold would force above any lagged watermark) destroyed.
    val foldCovered = Layout.foldWatermark(spark, dir)
      .exists(_ <= coveredBelow)
    val victims = Layout.batchValues(spark, dir)
      .filter(b => (b == -1L && foldCovered) ||
        (b >= 0L && b < coveredBelow) ||
        (b <= -2L && -b - 2L <= coveredBelow))
    if (victims.isEmpty) return 0
    // sidecar decrement: the deleted evidence rows leave the
    // postings+evidence union, so their per-sh64 counts come off the
    // shingle_counts tree through ONE negative partition at the
    // watermark-keyed id — written from the victim partitions BEFORE
    // they are deleted (the only moment the rows still exist), guarded
    // by a retire marker naming the victims so a crash between the
    // decrement and the deletions is finished by the next entry's
    // [[recoverRetire]] instead of double-decrementing on replay. The
    // scan is frontier-sized in steady state: victims are the
    // partitions the lag horizon just passed, not the corpus.
    if (countsComplete(spark, root)) {
      val negDir = s"$root/$CountsSubtree/batch=${-(coveredBelow + 2L)}"
      Layout.recoverSwapDir(spark, negDir)
      writeRetireMarker(spark, root, coveredBelow, victims)
      if (!Layout.hasParquetData(spark, negDir))
        Layout.swapDir(spark, negDir)(spark.read.parquet(
            victims.map(b => s"$dir/batch=$b"): _*)
          .groupBy(col("sh64")).agg((-count(lit(1))).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(_))
      victims.foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"batch=$b"), true))
      fs.delete(retireMarkerPath(root, coveredBelow), false)
    } else victims.foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"batch=$b"), true))
    victims.size
  }

  private def retireMarkerPath(root: String, w: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root, s".retire-wm=$w")

  private def writeRetireMarker(spark: SparkSession, root: String,
                                w: Long, victims: Seq[Long]): Unit = {
    val p = retireMarkerPath(root, w)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(victims.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  /** Entry-time recovery for an interrupted counted retirement: a
    * lingering `.retire-wm=<C>` marker means [[retireEvidence]] may
    * have crashed after committing its negative counts partition but
    * before deleting (all of) the victim partitions it named — leaving
    * the sidecar understating the union, and a naive replay would
    * decrement the leftovers AGAIN at a later watermark. If the
    * negative partition is committed, finish the named deletions; if
    * it never committed ([[Layout.recoverSwapDir]] discarded its tmp),
    * just drop the marker — the victims are intact and the window replay
    * redoes the whole retirement. */
  private[graft] def recoverRetire(spark: SparkSession,
                                   root: String): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) return
    fs.listStatus(rp).map(_.getPath)
      .filter(_.getName.startsWith(".retire-wm="))
      .foreach { m =>
        scala.util.Try(
          m.getName.stripPrefix(".retire-wm=").toLong).toOption match {
          case None => fs.delete(m, false)
          case Some(w) =>
            val committedNeg = Layout.hasParquetData(spark,
              s"$root/$CountsSubtree/batch=${-(w + 2L)}")
            if (committedNeg) {
              val in = fs.open(m)
              val named = try {
                new String(org.apache.hadoop.io.IOUtils
                  .readFullyToByteArray(in), "UTF-8")
                  .split("\n").toSeq
                  .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
              } finally in.close()
              named.foreach(b => fs.delete(new org.apache.hadoop.fs.Path(
                s"$root/postings_dropped/batch=$b"), true))
            }
            fs.delete(m, false)
        }
      }
  }

  /** The COMPLETE periodic maintenance pass, one call — what a
    * deployment's `foreachBatch` body runs on `batchId % N == N - 1`
    * instead of hand-sequencing four operators. Order is the proven
    * composition:
    *
    *  1. reconcile → [[applyReconcile]] — converge the corpus to batch
    *     semantics first, over the current state (apply and fold
    *     commute on row sets — spec-pinned — but applying first means
    *     the fold below never copies soon-deleted rows). The reconcile
    *     is [[reconcileNearIncremental]] seeded at the last COMPLETED
    *     watermark ([[reconciledWatermarks]], recorded by the apply
    *     itself) — window cost scales with the frontier since the last
    *     window, not the corpus; a root with no recorded watermark
    *     (first window, or pre-marker history) runs the full
    *     [[reconcileNear]] once and records;
    *  2. [[retireEvidence]] (opt-in) — legal exactly here: the
    *     reconcile at this watermark has completed, so retirement
    *     provably preserves the empty re-reconcile delta. With
    *     `retireLagWindows = 0` this is the ZERO-LAG form: evidence
    *     this window's own apply just retired is deleted too, so
    *     future chains through it revert to ingest semantics
    *     immediately. `retireLagWindows = K` retires at the K-windows-
    *     OLDER completed watermark instead (read from the persisted
    *     [[reconciledWatermarks]] history — no caller bookkeeping):
    *     chains arriving within K more maintenance windows still
    *     converge through the retained evidence, the lag the
    *     retention-trade scaladoc prices. Fewer than K+1 completed
    *     windows recorded → nothing retires yet (the history survives
    *     restarts, so the lag is honored across them);
    *  3. [[maintainLadder]] — fold every subtree and rebuild existing
    *     Bloom sidecars LAST, so the rebuilt filters reflect the
    *     post-apply key sets (an apply leaves stale positives, which
    *     are harmless but cost pruning — the rebuild re-tightens).
    *
    * Same serialization contract as every piece: call from the window
    * that runs the ticks, with `committedBelow` = the current batch id.
    *
    * CACHE LIFETIME: the window's reconcile persists corpus-scale
    * relations ([[Materialize.multiScan]] — the postings+evidence
    * union, the closure frontiers) whose release is the CALLER's job
    * (the library-wide contract). The returned counts are fully
    * materialized and the delta is snapshotted durably before any
    * swap, so nothing lazy escapes this call — a long-running loop
    * must release after each window (`cacheManager.clearCache()` +
    * RDD unpersist, as [[graft.tools.RunIngest]] does) or it
    * accumulates one corpus-sized cache entry per window.
    *
    * @return the apply's per-subtree counts plus
    *         "evidence_partitions_retired" and "partitions_folded"
    */
  def reconcileWindow(spark: SparkSession, root: String, idCol: String,
                      tau: Double, committedBelow: Long,
                      maxDocFreq: Int = Int.MaxValue,
                      retire: Boolean = false,
                      targetBytes: Long = 128L << 20,
                      retireLagWindows: Int = 0,
                      refundQuota: Option[QuotaRefund] = None): Map[String, Long] = {
    require(retireLagWindows >= 0,
      s"retireLagWindows must be >= 0: $retireLagWindows")
    // the watermark history keeps the last ReconcileMarkerKeep entries:
    // a lag at or past that bound makes `ws.size > retireLagWindows`
    // permanently false — retirement would silently never fire
    require(retireLagWindows < ReconcileMarkerKeep,
      s"retireLagWindows must be < $ReconcileMarkerKeep (the persisted " +
        s"watermark-history bound): $retireLagWindows")
    // recovery BEFORE the backfills: a half-done postings→evidence
    // move leaves a doc's rows in BOTH trees, and a backfill over that
    // union would certify doubled shingle rows with `_complete` —
    // permanently inflating intersection counts (the corruption the
    // move marker exists to prevent)
    recoverLadderEntry(spark, root)
    val hasPostings = Layout.hasParquetData(spark, s"$root/postings")
    // sidecar backfills for roots that predate them: one full-union
    // aggregate each, ever — after which the dial reads are counts-
    // cardinality and the closure's id lookups prune file groups
    if (hasPostings) {
      ensureShingleCounts(spark, root, committedBelow)
      ensureDocShingles(spark, root, committedBelow)
    }
    var mode = 1L // full_first_window until a certificate exists
    val counts =
      if (!hasPostings)
        Map("verdicts" -> 0L, "corpus" -> 0L, "postings" -> 0L,
          "delta_ids" -> 0L) ++
          refundQuota.map(_ => "quota_refunded" -> 0L)
      else {
        val delta = reconciledWatermarks(spark, root)
          .filter(_ <= committedBelow).lastOption match {
          case Some(w) =>
            val (d, m) = reconcileNearIncrementalMode(spark, root, tau,
              w, maxDocFreq)
            mode = m
            d
          case None => reconcileNear(spark, root, tau, maxDocFreq)
        }
        applyReconcile(spark, root, idCol, delta, committedBelow,
          recordWatermark = true, refundQuota = refundQuota)
      }
    // a delta doc in the CURRENT tick's partition is out of apply
    // scope (the tick isn't committed until its checkpoint lands, and
    // a replay must find its partition un-swapped) — its chain has NOT
    // converged yet, so retiring the evidence it runs through would
    // orphan it forever. Detected as verdicts < delta_ids; retirement
    // simply waits for the next window, where the partition is
    // committed and the re-derived delta applies in full.
    val fullyApplied = counts("verdicts") == counts("delta_ids")
    // record the certificate's hot set while the pre-retire union is
    // still intact (apply moves don't change counts; the retirement
    // below does): the `stored \ current` comparison the NEXT window's
    // incremental seed stands on. Written on EVERY full application —
    // dial off records the empty set, which is exactly what makes a
    // later dial-ON (or off→on→off) transition comparable instead of
    // forcing the full-reconcile fallback forever.
    if (hasPostings && fullyApplied && countsComplete(spark, root))
      writeHotAt(spark, root, committedBelow, maxDocFreq,
        hotFromCounts(spark, root, maxDocFreq))
    // the K-windows-older COMPLETED watermark (this window's own, just
    // recorded, is entry 0 — retireLagWindows = 0 reproduces the
    // zero-lag behavior exactly); None while fewer than K+1 windows
    // completed
    val lagWatermark: Option[Long] =
      if (!retire) None
      else {
        val ws = reconciledWatermarks(spark, root)
          .filter(_ <= committedBelow)
        if (ws.size > retireLagWindows)
          Some(ws(ws.size - 1 - retireLagWindows))
        else None
      }
    val retired =
      if (fullyApplied) lagWatermark.fold(0)(retireEvidence(spark, root, _))
      else 0
    // under a retention LAG the evidence subtree folds only up to the
    // retire watermark: a full-watermark fold would merge
    // not-yet-retirable evidence into batch=-1 and stamp it with a
    // coverage the lagged retire never reaches (zero retirement
    // forever — spec-pinned at K = 2). Zero-lag and retire-off keep
    // the full fold.
    val evidenceFold: Map[String, Long] =
      if (retire && retireLagWindows > 0)
        Map("postings_dropped" -> lagWatermark.getOrElse(0L))
      else Map.empty
    val folds = maintainLadder(spark, root, committedBelow, targetBytes,
      evidenceFold)
    counts ++ Map(
      "evidence_partitions_retired" -> retired.toLong,
      "partitions_folded" -> folds.values.sum.toLong,
      // the regime decision, for observability ([[ReconcileModes]]):
      // a deployment debugging a window-cost cliff must be able to see
      // WHICH form ran without reading plans
      "reconcile_mode" -> mode)
  }

  /** The postings→evidence move marker for source partition `b`. For
    * the folded source (b = -1) the name also carries the apply
    * watermark, because the destination is the watermark-keyed
    * evidence partition `batch = -(W+2)` — recovery must know where
    * the evidence landed to detect a half-done move. */
  private def moveMarkerPath(root: String, b: Long,
                             w: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root,
      if (b == -1L) s".apply-move-batch=-1-wm=$w"
      else s".apply-move-batch=$b")

  /** (source partition, evidence destination partition) encoded in a
    * move-marker name; None for an unparseable stray file. A legacy
    * `...batch=-1` marker (pre-watermark-keyed scheme) reads as
    * destination -1 — exactly where that scheme moved the rows. */
  private def parseMoveMarker(name: String): Option[(Long, Long)] = {
    val s = name.stripPrefix(".apply-move-batch=")
    if (s.contains("-wm=")) {
      val parts = s.split("-wm=")
      for {
        b <- scala.util.Try(parts(0).toLong).toOption
        w <- scala.util.Try(parts(1).toLong).toOption
      } yield (b, -(w + 2L))
    } else scala.util.Try(s.toLong).toOption.map(b => (b, b))
  }

  /** The ONE entry-recovery preamble every serialized-window operation
    * that reads the ladder's trees must run — interrupted partition
    * swaps healed, then interrupted partition folds
    * ([[Layout.recoverFold]], every subtree), then interrupted
    * postings→evidence moves ([[recoverEvidenceMoves]], which needs
    * both trees whole first).
    * Shared so a future recovery mechanism is added in one place, not
    * hand-propagated to every entry site.
    *
    * The swap sweep lists each subtree's `.apply-tmp-*` / `.apply-old-*`
    * dirs and runs [[Layout.recoverSwapDir]] on the partition each one
    * belongs to, so no partition a tick probes is ever missing (a tick
    * probing a tree with a partition missing would re-admit near-dups
    * of the invisible docs). Sweeping a whole subtree is safe here and
    * only here: every swap into these trees runs in the same serialized
    * window. One FS listing per subtree, no job. */
  private[graft] def recoverLadderEntry(spark: SparkSession,
                                        root: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "postings_dropped", CountsSubtree, DocShinglesSubtree,
      "verdicts", "corpus", "domain_counts")
      .map(sub => new org.apache.hadoop.fs.Path(root, sub))
      .filter(fs.exists)
      .foreach { dir =>
        fs.listStatus(dir).map(_.getPath.getName)
          .collect { case Layout.SwapSibling(leaf) => leaf }.distinct
          .foreach(leaf => Layout.recoverSwapDir(fs,
            new org.apache.hadoop.fs.Path(dir, leaf)))
      }
    LadderSubtrees.foreach(sub =>
      Layout.recoverFold(fs, new org.apache.hadoop.fs.Path(root, sub)))
    recoverEvidenceMoves(spark, root)
    recoverRetire(spark, root)
  }

  /** Entry-time recovery for an interrupted postings→evidence MOVE
    * (step 4 of [[applyReconcile]]): a lingering `.apply-move-batch=N`
    * marker means the apply may have crashed BETWEEN the two completed
    * partition swaps, leaving a doc's rows in BOTH trees — the state
    * the reconcilers' adm∪evidence union would read as doubled
    * intersection counts (inflated jaccard, false component merges).
    * Recovery finishes the retirement: any id present in the evidence
    * partition is removed from the postings partition (legitimate
    * states keep the two trees id-disjoint per partition, so overlap ⟹
    * interrupted move). Run AFTER the swap sweep on both trees (a
    * mid-swap crash must be finished first so both partitions are
    * whole). Zero overlap (crash before the evidence swap, or after
    * both swaps but before the marker delete) recovers as a no-op; the
    * partition-scoped join runs only when a marker exists. */
  private[graft] def recoverEvidenceMoves(spark: SparkSession,
                                          root: String): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) return
    fs.listStatus(rp).map(_.getPath)
      .filter(_.getName.startsWith(".apply-move-batch="))
      .foreach { m =>
        parseMoveMarker(m.getName) match {
          case None => fs.delete(m, false) // stray unparseable file
          case Some((b, dB)) =>
        val pPart = s"$root/postings/batch=$b"
        val dPart = s"$root/postings_dropped/batch=$dB"
        if (Layout.hasParquetData(spark, pPart) &&
          Layout.hasParquetData(spark, dPart)) {
          val cur = spark.read.parquet(pPart)
          val ev = spark.read.parquet(dPart)
            .select(col("id").as("__eid")).distinct()
          val overlapped = !cur.join(ev, cur("id") === col("__eid"),
            "left_semi").isEmpty
          if (overlapped)
            Layout.swapDir(spark, pPart)(
              cur.join(ev, cur("id") === col("__eid"), "left_anti")
                .write.mode(SaveMode.Overwrite).parquet(_))
        }
        fs.delete(m, false)
        }
      }
  }
}

/** Per-rung drop-RATE drift monitor for the admission ladder — the
  * signal a crawl operator actually pages on: a url-rung drop spike is
  * a re-crawl storm, a near-rung spike a mirror farm, an exact-rung
  * spike a feed replaying itself. One CUSUM ([[DataQuality.cusumTick]])
  * per rung over the rung's drop rate in integer basis points; the
  * counts arrive from [[IngestLadder.admitBatch]]'s verdict
  * write via `Dataset.observe` — computed inside the write's own pass,
  * zero extra scans, zero extra actions.
  *
  * Driver-side, O(rungs + keep) memory. `mu` = expected steady drop
  * rate (bp), `kappa` = slack, `h` = alarm threshold — the
  * [[DataQuality.cusumTick]] dials, shared by all rungs (a per-rung
  * dial would just be several monitors).
  *
  * The default rung set covers every BUILT-IN ladder rung, including
  * the optional `domain` quota and `lines` cut: a domain-quota storm
  * (one registrant flooding the crawl) is precisely the
  * page-an-operator signal the rung exists for. A rung that is
  * configured OFF observes a constant 0 drop rate — it can never
  * alarm UP, and DOWN alarms are gated on the rung having ever shown
  * a nonzero rate, so an absent rung stays silent at ANY `mu` while a
  * genuine volume collapse on an active rung (nonzero, then flatline)
  * still fires.
  */
final class LadderRungMonitor(val rungs: Seq[String] =
                                Seq("url", "lines", "exact", "near",
                                  "containment", "domain"),
                              mu: Long, kappa: Long, h: Long,
                              keep: Int = 256,
                              stateDir: Option[String] = None,
                              hadoopConf: org.apache.hadoop.conf.Configuration =
                                new org.apache.hadoop.conf.Configuration()) {
  require(rungs.nonEmpty, "monitor needs at least one rung")
  import LadderRungMonitor.RungTick

  private val states =
    scala.collection.mutable.Map.empty[String, DataQuality.CusumState]
  private val ring = scala.collection.mutable.ArrayBuffer.empty[RungTick]
  // rungs that have EVER observed a nonzero drop rate: a rung that is
  // configured off (the default set spans optional rungs) reads a
  // constant 0 forever, and with mu > 0 its down-CUSUM would
  // eventually page an operator about a rung that never existed —
  // down alarms only make sense for rungs that once had traffic (a
  // genuine volume collapse on an ACTIVE rung still fires: it was
  // nonzero before it flatlined)
  private val active = scala.collection.mutable.Set.empty[String]

  // PERSISTENCE (opt-in via stateDir): CUSUM accumulators + the
  // active-rung set survive a stream restart, so a slow drift that
  // spans restarts still accumulates to an alarm — without it every
  // restart silently zeroes detection state exactly when a deployment
  // is most likely to be churning. One small text file (the
  // foldWatermark marker pattern) written post-tick, read here at
  // construction; no file → fresh state, byte-identical to the
  // unpersisted monitor. The diagnostic ring is NOT persisted (it is
  // operator telemetry, not detection state).
  private def statePath: Option[org.apache.hadoop.fs.Path] =
    stateDir.map(d => new org.apache.hadoop.fs.Path(d, "_monitor_state"))
  // highest batch id whose tick the persisted state already includes:
  // the state file is written BEFORE the stream's checkpoint commits,
  // so an at-least-once redelivery after a restart replays a batch the
  // restored accumulators already counted — advancing again would
  // double-count the same data and could manufacture a threshold
  // crossing out of a restart. Replayed ids (≤ this) advance nothing.
  private var persistedThrough: Option[Long] = None
  statePath.foreach { p =>
    val fs = p.getFileSystem(hadoopConf)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt = try {
        new String(org.apache.hadoop.io.IOUtils
          .readFullyToByteArray(in), "UTF-8")
      } finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).foreach { l =>
        if (l.startsWith("#batch="))
          persistedThrough = scala.util.Try(
            l.stripPrefix("#batch=").toLong).toOption
        else l.split(",") match {
          case Array(r, sp, sn, a) =>
            scala.util.Try {
              states(r) = DataQuality.CusumState(sp.toLong, sn.toLong)
              if (a == "1") active += r
            }
          case _ => ()
        }
      }
    }
  }
  private def saveState(batchId: Long): Unit = statePath.foreach { p =>
    val fs = p.getFileSystem(hadoopConf)
    val out = fs.create(p, true)
    out.write((s"#batch=$batchId" +: rungs.map { r =>
      val st = states.getOrElse(r, DataQuality.CusumState(0L, 0L))
      s"$r,${st.sp},${st.sn},${if (active(r)) 1 else 0}"
    }).mkString("\n").getBytes("UTF-8"))
    out.close()
    persistedThrough = Some(batchId)
  }

  /** Advance every rung's CUSUM with one tick's observed metrics
    * (`n` + `n_<rung>` counts, the observe column contract). An empty
    * batch advances with rate 0 — a volume collapse must be seen. A
    * MISSING `n_<rung>` key observes 0 (the configured-off semantics
    * the down-alarm gating was built for), so a caller feeding a
    * hand-built metrics map for a rung subset never throws. */
  def tick(batchId: Long, metrics: Map[String, Any]): RungTick =
    synchronized {
      val n = metrics("n").asInstanceOf[Long]
      val bp = rungs.map { r =>
        val c = metrics.getOrElse(s"n_$r", 0L).asInstanceOf[Long]
        r -> (if (n > 0) c * 10000L / n else 0L)
      }.toMap
      // a REPLAYED batch (id at or below the persisted-through mark)
      // already advanced the restored accumulators pre-crash: observe
      // without advancing — no alarms re-fire (the original delivery
      // raised them), no double count
      if (persistedThrough.exists(batchId <= _))
        return RungTick(batchId, n, bp, Set.empty, Set.empty)
      rungs.foreach(r => if (bp(r) > 0L) active += r)
      var up = Set.empty[String]
      var down = Set.empty[String]
      rungs.foreach { r =>
        val st = states.getOrElse(r, DataQuality.CusumState(0L, 0L))
        val (next, u, d) = DataQuality.cusumTick(st, bp(r), mu, kappa, h)
        states(r) = next
        if (u) up += r
        if (d && active(r)) down += r
      }
      val t = RungTick(batchId, n, bp, up, down)
      ring += t
      if (ring.size > keep) ring.remove(0)
      saveState(batchId)
      t
    }

  /** Snapshot, oldest first. */
  def ticks: Seq[RungTick] = synchronized(ring.toSeq)

  /** Latest tick (None before the first). */
  def latest: Option[RungTick] = synchronized(ring.lastOption)
}

object LadderRungMonitor {
  /** One tick's reading: batch size, per-rung drop rate (bp), and the
    * rungs whose CUSUM crossed the alarm threshold this tick. */
  final case class RungTick(batchId: Long, n: Long,
                            dropBp: Map[String, Long],
                            alarmUp: Set[String], alarmDown: Set[String])
}
