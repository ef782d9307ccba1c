package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The UNIFIED single-pass ingest ladder — r15 shipped two separate
  * `foreachBatch` admission bodies (a gate-less dedup ladder and the
  * quality stack [[graft.pipeline.QualityAdmission]]); a production
  * crawl runs BOTH, which meant two scans, two tokenize passes, and two
  * disjoint verdict relations over the same batch. This is the one-pass
  * composition, and with `gates = Nil` it IS the dedup ladder (the
  * streaming twin of [[Dedup.ladder]]) —
  * the reference's own architecture is one admission loop per batch
  * (`src/glue_pg_redshift_cdc.py:117-210` runs its whole per-batch
  * pipeline in one body) — with the rungs ordered cheapest-signal-first
  * and ONE per-doc verdict relation across all of them:
  *
  *   1. `url`          — canonical-key collapse + stored-key probe;
  *                        no text read. Syntactic crawl variants of one
  *                        page ([[TextOps.canonicalUrl]] collapses them)
  *                        keep the minimum id; NULL addresses pass and
  *                        never enter the key index (a NULL address is
  *                        "no crawl provenance", not "the same page as
  *                        every other address-less row").
  *   1.5 `lines`       — optional: the CCNet cross-document line cut
  *                        made steady-state against a persistent
  *                        `line_index/` (first occurrence wins, in
  *                        batch and across ticks); every later rung —
  *                        fingerprint, gates, shingles, the stored
  *                        corpus — sees the REBUILT text (see the
  *                        `lineDedup` param doc).
  *   2. `exact`        — content-fingerprint collapse + stored-fp
  *                        probe; 32-byte digests move, never documents.
  *   3. quality gates  — caller-supplied DOC-LOCAL rungs (tags are the
  *                        caller's: gopher, c4, quality, lang, …), each
  *                        seeing only the previous rung's survivors and
  *                        reading the shared normalize+tokenize cache —
  *                        the batch is scanned and tokenized ONCE.
  *   4. `near`         — shingle-Jaccard: stored-postings probe first
  *                        (first arrival wins), then in-batch connected
  *                        components among probe survivors.
  *   5. `containment`  — optional: the embedded-quote signal over the
  *                        SAME postings relation (no extra tokenize) —
  *                        cross-batch τc-containment in an admitted doc
  *                        drops; in-batch, x drops when τc-contained
  *                        in a batch doc y that itself survives the
  *                        stored probe (τ-containment is not transitive
  *                        for τ < 1, so an index-dropped y cannot vouch
  *                        for x), unless the containment is mutual and
  *                        x is the lower id — one survivor per mutual
  *                        group, the [[Dedup.containmentSurvivors]]
  *                        rule. A batch doc that SWALLOWS an admitted
  *                        doc is not dropped: it carries novel content.
  *   6. `domain`       — optional, LAST: per-registered-domain volume
  *                        quota against a persistent `domain_counts/`
  *                        index ([[IncrementalDedup
  *                        .admitBatchDomainQuota]] composed) — runs
  *                        after every content rung so only docs that
  *                        actually reach the corpus consume quota.
  *
  * RUNG ORDER IS SEMANTICS, not just cost: the near/containment rungs
  * run over QUALITY SURVIVORS, so a gate-dropped doc can never vouch
  * for a near drop — dedup-first stacking would let a worthless page
  * absorb its near-dup and then be dropped itself, losing content that
  * has no remaining representative (spec-pinned divergence fixture).
  *
  * What each index stores (the rung-survivor principle — each index
  * holds its own rung's survivors, which keeps rung provenance stable
  * across batches): `url_index/` keys that passed the url rung;
  * `fp_index/` fingerprints
  * that passed the exact rung — INCLUDING gate-dropped docs' keys and
  * fps, deliberately: a re-crawl or exact copy of known-bad content is
  * turned away one rung earlier, before any scoring; `postings/` only
  * ADMITTED docs' shingles (near/containment justification must point
  * at corpus content); `postings_dropped/` the near/containment drops'
  * shingles, as [[IncrementalDedup.reconcileNear]] evidence only.
  *
  * BATCH-vs-COMPOSED equivalence (spec-pinned both ways): feeding the
  * corpus as ONE gate-less batch is verdict-identical to
  * [[Dedup.ladder]] (empty indexes make every rung's in-batch pass
  * exactly the batch rung). Across ticks with ids assigned in arrival
  * order, verdicts still match rung for rung UNLESS a near-dup chain
  * crosses ticks THROUGH a dropped doc (x admitted in tick 1, y ~ x
  * dropped, z ~ y in tick 2 but z ≁ x): the batch ladder's components
  * drop z transitively, this ladder ADMITS z — only corpus content
  * vouches for a drop. [[IncrementalDedup.reconcileNear]] closes that
  * documented divergence from the stored evidence.
  *
  * REPLAY IDEMPOTENCE: every subtree is written as a per-batch
  * Overwrite partition and every cross-batch probe excludes the tick's
  * own partition. Two separate non-atomic Appends would leave a crashed
  * tick half-applied (corpus rows whose keys never reached an index),
  * so the redelivered batch would re-admit duplicates; here a replay
  * under the same id recomputes identical verdicts (the quality rungs
  * are deterministic in (row, frozen tables)) and overwrites in place,
  * and a batch redelivered under a NEW id is turned away by its own
  * indexed keys and fingerprints. Subtree layout =
  * [[IncrementalDedup.LadderSubtrees]], so
  * [[IncrementalDedup.maintainLadder]] folds an ingest root unchanged.
  *
  * At 100 TB: rung 1 shuffles url keys, rung 2 digests, the gates are
  * doc-local scores against broadcast frozen tables (zero growing
  * state), and only the survivors of ALL of them pay the postings
  * shuffle and index probes. Verdicts are ids + a tag.
  */
object IngestLadder {

  /** A quality rung: (verdict tag, gate). The gate reads the CANON
    * slice of the EXACT-rung survivors — columns (id, raw, t, ts): the
    * original id and text plus the shared normalized text and token
    * array — and returns the keep ids (column `id`). Must be doc-local
    * and deterministic in (row, frozen tables): the replay guarantee,
    * the stream≡batch parity, AND the engine's right to evaluate gates
    * independently rather than as a survivor cascade (verdicts coalesce
    * to the first failing tag either way) all ride on it.
    *
    * TOTALITY: a gate must be DEFINED (no throw, a decided keep/drop)
    * on EVERY exact-rung survivor, not just on the docs an earlier gate
    * would have passed — because gates are evaluated independently over
    * the shared canon slice, a gate relying on an earlier gate's
    * precondition (e.g. assuming empty-token docs were already dropped)
    * would throw or silently flip decisions here even though a
    * sequential cascade would never show it those rows. Degenerate rows
    * a gate cannot score (empty `ts`, NULL `raw`) must map to an
    * explicit keep or drop. The [[frozenGates]] battery satisfies this
    * (every scorer totalizes via `greatest`/`coalesce` guards).
    */
  type Gate = (String, DataFrame => DataFrame)

  /** Per-tick regime-decision sink (observability, zero extra scans):
    * the tick records silent plan-shape choices here so a deployment
    * can see WHICH regime fired without reading plans.
    * `nearSidecarSkipped` = Some(true) when a postings sidecar exists
    * but the broadcast-probe regime bypassed it
    * ([[LadderBloom.postingsProbes]]); Some(false) when the
    * covered/tail split ran; None when the near rung probed no stored
    * index this tick. */
  final class RegimeLog {
    @volatile var nearSidecarSkipped: Option[Boolean] = None
  }

  private val ReservedTags =
    Set("url", "lines", "exact", "near", "containment", "domain")

  /** One composed ingest tick (a `foreachBatch` body). Writes the six
    * ladder subtrees under `root` (per-batch Overwrite partitions) and
    * returns the batch's verdict relation (id, dropped_at ∈ {url,
    * exact, <gate tags…>, near, containment, NULL}), read back from its
    * just-written partition.
    *
    * @param gates          doc-local quality rungs, cheapest first;
    *                       tags must be distinct and none of url/lines/
    *                       exact/near/containment/domain
    * @param lineDedup      optional rung between url and exact: the
    *                       CCNet cross-document line cut
    *                       (`Corpus.lineDedupFirst`'s semantics) made
    *                       STEADY-STATE against a persistent
    *                       `line_index/` subtree. Per line instance
    *                       (key = the widened (xxhash64, length) of the
    *                       CCNet-normalized line; structural lines —
    *                       normalize-to-empty — always pass): cut when
    *                       the key is already in the index (a previous
    *                       tick's first occurrence) or an earlier
    *                       in-batch instance exists (order (id, idx));
    *                       the batch's first occurrences enter the
    *                       index. Surviving docs carry their REBUILT
    *                       text through every later rung — the
    *                       semantics decision, stated: line-cut happens
    *                       BEFORE the exact rung, so the fingerprint,
    *                       the gates' raw/t/ts slice, the shingles and
    *                       the stored corpus row all see the CLEANED
    *                       text (two docs differing only in boilerplate
    *                       dedupe at `exact`, which the pre-cut
    *                       fingerprint could never see). A doc whose
    *                       every CONTENT line is cut gets verdict
    *                       `lines` (had it any content to lose); docs
    *                       with no content lines at all — NULL or
    *                       all-structural text — pass unmodified and
    *                       never enter the index (the NULL-provenance
    *                       rule). First occurrences are indexed even
    *                       when their doc later drops at a gate/near
    *                       rung — the `fp_index` principle: a re-crawl
    *                       of known boilerplate is cut one rung
    *                       earlier. In-batch the window keys on the
    *                       line hash — the boilerplate line IS the
    *                       skew; a tick's batch bounds it (the
    *                       lineDedupFirst caveat applies to BATCH
    *                       runs, not ticks)
    * @param containmentTau None skips the containment rung; Some(τc)
    *                       probes the same postings relation the near
    *                       rung built — no extra tokenize
    * @param domainQuota    optional FINAL rung (requires `urlCol`): cap
    *                       admitted docs per registered domain at k
    *                       (verdict tag `domain`) against a persistent
    *                       `domain_counts/` index —
    *                       [[IncrementalDedup.admitBatchDomainQuota]]'s
    *                       semantics composed; it runs LAST so only
    *                       docs that pass every content rung consume
    *                       quota, and only ADMITTED docs are counted
    * @param pslRules       optional full public-suffix rules table (one
    *                       string column `rule`, raw PSL syntax incl.
    *                       wildcards/exceptions) for the `domain`
    *                       rung's eTLD+1 resolution
    *                       ([[graft.ext.Dedup.registeredDomainFromRules]]
    *                       via one broadcast join); None keeps the
    *                       embedded scalar subset. A deployment running
    *                       the 9k-rule production list must pass it
    *                       here too, or the quota would bucket `*.ck`
    *                       registrants differently than its domain card
    * @param monitor        optional per-rung drop-rate CUSUM
    *                       ([[LadderRungMonitor]] — construct it with
    *                       exactly the rung tags to watch); counts ride
    *                       the verdict write via `Dataset.observe`,
    *                       zero extra scans
    */
  def admitBatch(batch: DataFrame, idCol: String, textCol: String,
                 urlCol: Option[String], gates: Seq[Gate],
                 root: String, n: Int, tau: Double, batchId: Long,
                 maxDocFreq: Int = Int.MaxValue,
                 containmentTau: Option[Double] = None,
                 domainQuota: Option[Int] = None,
                 lineDedup: Boolean = false,
                 pslRules: Option[DataFrame] = None,
                 monitor: Option[LadderRungMonitor] = None,
                 regime: Option[RegimeLog] = None): DataFrame = {
    val tags = gates.map(_._1)
    require(tags.distinct == tags, s"gate tags must be distinct: $tags")
    require(tags.forall(!ReservedTags(_)),
      s"gate tags may not shadow the built-in rungs: $tags")
    val spark = batch.sparkSession
    // a crashed applyReconcile may have left the postings trees (or,
    // under an opt-in quota refund, the counts tree) one rename short,
    // or a postings→evidence move half-done — finish them before any
    // probe lists the trees ([[IncrementalDedup.recoverLadderEntry]])
    IncrementalDedup.recoverLadderEntry(spark, root)
    // complete-from-genesis test for the shingle-count sidecar, taken
    // BEFORE this tick writes anything
    val freshRoot = !Layout.hasParquetData(spark, s"$root/postings") &&
      !Layout.hasParquetData(spark, s"$root/postings_dropped")
    val w = org.apache.spark.sql.expressions.Window
    val base = Materialize.multiScan(batch)
    def others(dir: String): Option[DataFrame] =
      Layout.priorPartitions(spark, dir, batchId)
    def empty: DataFrame = base.select(col(idCol).as("id")).limit(0)

    // rung 1: url — key collapse + stored-key probe; NULL keys pass and
    // never enter the index
    val (urlDrops, urlKeysKept) = urlCol match {
      case None => (Materialize.multiScan(empty), None)
      case Some(u) =>
        val keyed = base.select(col(idCol).as("id"),
          TextOps.canonicalUrl(col(u)).as("url_key"))
        val withKeep = keyed.withColumn("keep",
          min(col("id")).over(w.partitionBy(col("url_key"))))
        // bloom-pruned when a sidecar exists ([[LadderBloom]] —
        // verdict-identical; all-novel ticks skip the covered scan)
        val seen = others(s"$root/url_index") match {
          case Some(ix) => LadderBloom.seenIds(keyed, "url_key", "id",
            ix, root, "url_index", batchId,
            LadderBloom.read(spark, root, "url_index"))
          case None => empty
        }
        val drops = Materialize.multiScan(
          withKeep.filter(col("url_key").isNotNull &&
              col("id") =!= col("keep")).select(col("id"))
            .unionByName(seen).distinct())
        val kept = withKeep
          .filter(col("url_key").isNotNull && col("id") === col("keep"))
          .join(drops, Seq("id"), "left_anti")
          .select(col("url_key"), col("id").as("keep_id"))
        (drops, Some(kept))
    }
    val s1 = base.join(urlDrops, base(idCol) === urlDrops("id"), "left_anti")

    // rung 1.5 (optional): steady-state cross-document line cut — the
    // CCNet first step against the persistent line_index/ (see the
    // param doc for the full semantics statement). Everything
    // downstream of this point reads the REBUILT text.
    val (lineDrops, lineKeysKept, s15, lineCaches) = if (!lineDedup)
      (Materialize.multiScan(empty), None, s1,
        Seq.empty[DataFrame])
    else {
      // (id, idx, line, k, klen, struct_) — the widened rewrite key
      val ex = Materialize.multiScan(
        Corpus.lineExplode(s1, idCol, textCol))
      val content = ex.filter(!col("struct_"))
      // cross-batch: instances whose key is already indexed, bloom-
      // pruned when a sidecar exists; the instance identity rides a
      // struct through the generic seen probe
      val inst = content.select(
        struct(col("id"), col("idx")).as("inst"),
        col("k").as("line_h"), col("klen").as("line_len"))
      val seenCut = Materialize.multiScan(
        (others(s"$root/line_index") match {
          case Some(ix) => LadderBloom.seenIds(inst, "line_h", "inst",
            ix, root, "line_index", batchId,
            LadderBloom.read(spark, root, "line_index"),
            extraCols = Seq("line_len"))
          case None => inst.select(col("inst")).limit(0)
        }).select(col("inst.id").as("id"), col("inst.idx").as("idx"))
          .distinct())
      // in-batch: first instance per key wins (order (id, idx))
      val wLine = w.partitionBy(col("k"), col("klen"))
        .orderBy(col("id"), col("idx"))
      val ranked = content
        .select(col("id"), col("idx"), col("k"), col("klen"))
        .withColumn("rn", row_number().over(wLine))
      val cuts = ranked.filter(col("rn") > 1).select(col("id"), col("idx"))
        .unionByName(seenCut).distinct()
      // one grouped pass: rebuilt text + content-line accounting
      // (collect_list skips the NULL structs of cut lines)
      val docStats = Materialize.multiScan(
        ex.join(cuts.withColumn("__cut", lit(true)), Seq("id", "idx"),
            "left")
          .groupBy(col("id")).agg(
            count(when(!col("struct_"), 1)).as("__orig_content"),
            count(when(!col("struct_") && col("__cut").isNull, 1))
              .as("__kept_content"),
            array_join(transform(array_sort(collect_list(
                when(col("__cut").isNull,
                  struct(col("idx"), col("line"))))),
              s => s("line")), "\n").as("__cleaned")))
      val drops = Materialize.multiScan(
        docStats.filter(col("__orig_content") > 0 &&
          col("__kept_content") === 0).select(col("id")))
      // the batch's first occurrences enter the index — except keys
      // the index already holds (their in-batch "first" was cut too)
      val kept = ranked.filter(col("rn") === 1)
        .join(seenCut, Seq("id", "idx"), "left_anti")
        .select(col("k").as("line_h"), col("klen").as("line_len"),
          col("id").as("keep_id"))
      // survivors carry the rebuilt text; docs absent from the explode
      // (NULL text) pass with their original column
      val surv = s1.join(drops, s1(idCol) === drops("id"), "left_anti")
        .join(docStats.select(col("id").as("__lid"), col("__cleaned")),
          s1(idCol) === col("__lid"), "left")
        .withColumn(textCol, coalesce(col("__cleaned"), col(textCol)))
        .drop("__lid", "__cleaned")
      (drops, Some(kept), surv, Seq(ex, seenCut, docStats))
    }

    // THE one normalize+tokenize pass: url+lines survivors scanned once
    // into a spill-safe cache carrying every original column plus the
    // normalized text and — only when there are gates, its sole
    // readers — the token array; the exact rung, every gate, and the
    // shingle pass all read this cache
    val normed = Materialize.spread(s15)
      .withColumn("__t", TextOps.normalized(col(textCol)))
    val pre = Materialize.multiScan(
      if (gates.isEmpty) normed
      else normed.withColumn("__ts", TextOps.tokens(col("__t"))))

    // rung 2: exact — md5 of the CACHED normalized text (the
    // TextOps.fingerprint definition without re-normalizing). NULL
    // text ⇒ NULL fingerprint ⇒ PASS, NULL fps stay out of the index
    // (the url rung's NULL-key convention)
    val fps = pre.select(col(idCol).as("id"), md5(col("__t")).as("fp"))
    val withKeepFp = fps.withColumn("keep",
      min(col("id")).over(w.partitionBy(col("fp"))))
    val seenFp = others(s"$root/fp_index") match {
      case Some(ix) => LadderBloom.seenIds(fps, "fp", "id", ix,
        root, "fp_index", batchId,
        LadderBloom.read(spark, root, "fp_index"))
      case None => empty
    }
    val exactDrops = Materialize.multiScan(
      withKeepFp.filter(col("fp").isNotNull && col("id") =!= col("keep"))
        .select(col("id"))
        .unionByName(seenFp).distinct())
    val fpKept = withKeepFp
      .filter(col("fp").isNotNull && col("id") === col("keep"))
      .join(exactDrops, Seq("id"), "left_anti")
      .select(col("fp"), col("id").as("keep_id"))

    // quality gate rungs — every gate reads the SAME cached canon slice
    // (the exact-rung survivors), not a chained survivor cascade: gates
    // are doc-local by contract, so a doc's keep/drop decision is
    // independent of which other docs the gate sees — drop sets on the
    // chained subsets are exactly (this gate's drop set on canonAll) ∩
    // (earlier survivors), and the ordered coalesce below attributes a
    // multi-gate drop to its FIRST failing tag either way. Verdicts are
    // provably identical to sequential evaluation (spec-pinned against
    // the hand-stacked form) and the per-gate anti-join chain — k extra
    // joins and k ever-narrower cache entries — disappears.
    val exactSurv = pre
      .join(exactDrops, pre(idCol) === exactDrops("id"), "left_anti")
    // lazy: `__ts` exists only when there are gates to read it
    lazy val canonAll = exactSurv.select(col(idCol).as("id"),
      col(textCol).as("raw"), col("__t").as("t"), col("__ts").as("ts"))
    val gateDrops: Seq[(String, DataFrame)] = gates.map {
      case (tag, gate) =>
        val keep = gate(canonAll).select(col("id"))
        tag -> Materialize.multiScan(
          canonAll.select(col("id")).join(keep, Seq("id"), "left_anti"))
    }
    val s3 = gateDrops.map(_._2).reduceOption(_ unionByName _)
      .fold(exactSurv)(d =>
        exactSurv.join(d, exactSurv(idCol) === d("id"), "left_anti"))

    // rung near: shingles from the CACHED normalized text (the
    // shinglePostings relation, shared verbatim with the optional
    // containment rung below — tokenized once, probed twice)
    val posts = Materialize.multiScan(
      s3.select(col(idCol).as("id"),
          Dedup.wordShinglesUdf(col("__t"), n).as("__sh"))
        .select(col("id"), size(col("__sh")).as("m"),
          explode(col("__sh")).as("shingle"))
        .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64")))
    // stored postings keep their batch column for the bloom sidecar's
    // covered/tail split; each probe selects the (id, m, sh64) slice.
    // The hot-shingle dial is applied ONCE over the full own-batch-
    // excluded index BEFORE any covered/tail split (per-slice
    // frequencies would diverge from the sidecar-less probe), with the
    // hot set MATERIALIZED — up to four probe branches (near + opt.
    // containment, covered + tail each) consume this relation, and
    // each would otherwise re-run the full-index aggregation
    // ([[Dedup.dropHotPostingsCached]]). Per-pair probes run undialed.
    val storedPosts = others(s"$root/postings")
      .map(ix => Dedup.dropHotPostingsCached(ix, maxDocFreq))
    val postingsBloom = LadderBloom.read(spark, root, "postings")
    val vsIndexNear = Materialize.multiScan(storedPosts match {
      case Some((ix, _)) =>
        val (ps, skipped) = LadderBloom.postingsProbes(posts, ix, root,
          batchId, postingsBloom)
        regime.foreach(_.nearSidecarSkipped = Some(skipped))
        if (ps.isEmpty) empty
        else ps.map { case (b, i) => Dedup.jaccardProbe(b,
            i.select(col("id"), col("m"), col("sh64")), tau)
          .select(col("batch_id").as("id")) }
          .reduce(_ unionByName _).distinct()
      case None => empty
    })
    val hostPosts = posts.join(vsIndexNear,
      posts("id") === vsIndexNear("id"), "left_anti")
    val inBatchNear = Dedup.connectedComponents(
        Dedup.jaccardProbe(hostPosts, hostPosts, tau)
          .filter(col("batch_id") < col("corpus_id"))
          .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b")))
      .filter(col("id") =!= col("cluster")).select(col("id"))
    val nearDrops = Materialize.multiScan(
      inBatchNear.unionByName(vsIndexNear.select(col("id"))).distinct())

    // rung containment (optional): the SAME postings relation, scoped
    // to near survivors. The stored probe runs first because its drops
    // also disqualify in-batch HOSTS; the in-batch probe emits each
    // pair in both orders, which the asymmetric rule consumes: x drops
    // iff x ⊂τ y and NOT (mutual ∧ x < y)
    val contCaches = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    val contDrops: Option[DataFrame] = containmentTau.map { tauC =>
      // cached: the probe split scans this relation from several
      // branches AND the broadcast-regime heuristic counts it — an
      // uncached p4 would re-run the anti-join once per consumer
      // (released with the tick's other caches after the writes)
      val p4 = Materialize.multiScan(
        posts.join(nearDrops, posts("id") === nearDrops("id"),
          "left_anti"))
      contCaches += p4
      val vsIx = Materialize.multiScan(storedPosts match {
        case Some((ix, _)) =>
          // ix is already hot-filtered once over the full index (see
          // the near rung) — the probes run undialed
          val (ps, _) = LadderBloom.postingsProbes(p4, ix, root,
            batchId, postingsBloom)
          if (ps.isEmpty) empty
          else ps.map { case (b, i) => Dedup.containmentProbe(b,
              i.select(col("id"), col("m"), col("sh64")), tauC)
            .filter(col("cont_batch") >= tauC)
            .select(col("batch_id").as("id")) }
            .reduce(_ unionByName _).distinct()
        case None => empty
      })
      val hostsC = p4.join(vsIx, p4("id") === vsIx("id"), "left_anti")
      val inBatch = Dedup.containmentProbe(p4, hostsC, tauC)
        .filter(col("batch_id") =!= col("corpus_id"))
        .filter(col("cont_batch") >= tauC &&
          !(col("cont_corpus") >= tauC &&
            col("batch_id") < col("corpus_id")))
        .select(col("batch_id").as("id")).distinct()
      val drops = Materialize.multiScan(
        inBatch.unionByName(vsIx.select(col("id"))).distinct())
      vsIx.unpersist()
      drops
    }

    // rung domain (optional, LAST): per-registered-domain quota over
    // the survivors of every content rung — only docs that pass
    // everything else consume quota, and only ADMITTED docs are counted
    // ([[IncrementalDedup.admitBatchDomainQuota]] composed; NULL or
    // unresolvable hosts pass uncounted, the NULL-provenance rule)
    val quotaDoms: Option[DataFrame] = domainQuota.map { _ =>
      val u = urlCol.getOrElse(throw new IllegalArgumentException(
        "domainQuota requires urlCol"))
      // scalar subset, or the full wildcard/exception rules table when
      // supplied — the same dispatch as admitBatchDomainQuota, so the
      // quota buckets registrants exactly as the domain card does; the
      // host extraction is the ONE shared definition the apply-time
      // refund also uses ([[IncrementalDedup.hostOf]])
      Materialize.multiScan(IncrementalDedup.resolveRegDomains(
        base, idCol, IncrementalDedup.hostOf(col(u)),
        Dedup.publicSuffixes, pslRules))
    }
    val preQuota: Seq[(String, DataFrame)] =
      Seq("url" -> urlDrops) ++
        (if (lineDedup) Seq("lines" -> lineDrops) else Nil) ++
        Seq("exact" -> exactDrops) ++ gateDrops ++
        Seq("near" -> nearDrops) ++ contDrops.map("containment" -> _)
    val quotaDrops: Option[DataFrame] = domainQuota.map { kCap =>
      val dropsSoFar = preQuota.map(_._2.select(col("id")))
        .reduce(_ unionByName _).distinct()
      val surv = quotaDoms.get.join(dropsSoFar, Seq("id"), "left_anti")
      Materialize.multiScan(IncrementalDedup.quotaDrops(surv,
        s"$root/domain_counts", kCap, batchId))
    }
    val tagged: Seq[(String, DataFrame)] =
      preQuota ++ quotaDrops.map("domain" -> _)
    val allDrops = tagged.map(_._2.select(col("id")))
      .reduce(_ unionByName _).distinct()
    // admitted rows come from the LINES-rung survivors (s15 = s1 when
    // the rung is off), so the stored corpus carries the REBUILT text
    val admitted = Materialize.multiScan(
      s15.join(allDrops, s15(idCol) === allDrops("id"), "left_anti"))

    // persist: verdicts first (pure provenance), then indexes, then the
    // corpus — any interruption replays idempotently
    def part(sub: String) = s"$root/$sub/batch=$batchId"
    val verdicts = tagged.zipWithIndex
      .foldLeft(base.select(col(idCol).as("id"))) {
        case (acc, ((tag, d), i)) => acc.join(
          d.select(col("id"), lit(tag).as(s"__v$i")), Seq("id"), "left")
      }
      .select(col("id"), coalesce(
        tagged.indices.map(i => col(s"__v$i")): _*).as("dropped_at"))
    val obs = monitor.map(m => (m, org.apache.spark.sql.Observation()))
    val verdictsOut = obs.fold(verdicts) { case (m, o) =>
      verdicts.observe(o, count(lit(1)).as("n"),
        m.rungs.map(r => count(when(col("dropped_at") === r, 1))
          .as(s"n_$r")): _*)
    }
    verdictsOut.write.mode(SaveMode.Overwrite).parquet(part("verdicts"))
    obs.foreach { case (m, o) => m.tick(batchId, o.get) }
    urlKeysKept.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(part("url_index")))
    lineKeysKept.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(part("line_index")))
    fpKept.write.mode(SaveMode.Overwrite).parquet(part("fp_index"))
    posts.join(admitted, posts("id") === admitted(idCol), "left_semi")
      .write.mode(SaveMode.Overwrite).parquet(part("postings"))
    val lateDrops = contDrops.fold(nearDrops)(c =>
      nearDrops.unionByName(c).distinct())
    posts.join(lateDrops, posts("id") === lateDrops("id"), "left_semi")
      .write.mode(SaveMode.Overwrite).parquet(part("postings_dropped"))
    // shingle-count sidecar: exactly the rows the two postings writes
    // persisted — admitted ∪ near/containment evidence, which is all of
    // `posts` unless the quota rung dropped docs after the near rung;
    // quota-dropped docs persist no postings and must not count
    val persisted = quotaDrops.fold(posts)(q =>
      posts.join(q, posts("id") === q("id"), "left_anti"))
    IncrementalDedup.writeTickCounts(persisted, root, batchId, freshRoot)
    quotaDoms.foreach { doms =>
      doms.join(admitted, doms("id") === admitted(idCol), "left_semi")
        .filter(col("reg_domain").isNotNull)
        .groupBy(col("reg_domain")).agg(count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(part("domain_counts"))
    }
    admitted.write.mode(SaveMode.Overwrite).parquet(part("corpus"))
    (Seq(base, urlDrops, lineDrops, pre, exactDrops, posts, vsIndexNear,
      nearDrops, admitted) ++ lineCaches ++ contCaches ++
      gateDrops.map(_._2) ++ contDrops ++ quotaDoms ++ quotaDrops ++
      storedPosts.flatMap(_._2)).foreach(_.unpersist())
    spark.read.parquet(part("verdicts"))
  }

  /** The production gate battery from FROZEN tables — the ONE place its
    * dials are declared and its scorers composed; the ingest ladder,
    * [[IncrementalQuality]] and [[graft.pipeline.QualityAdmission]] all
    * run these gates (same scorers, same broadcast-table posture,
    * parameters frozen at deploy time), cheapest first:
    *
    *  - `gopher`  — the document-shape rule battery
    *    ([[Corpus.gopherRulesOn]]), optionally paired with the Gopher
    *    REPETITION battery ([[Corpus.repetitionSignalsOn]]) exactly as
    *    the batch curation ladder pairs them;
    *  - `c4`      — the line/page cleaning battery ([[Corpus.c4Rules]])
    *    on the RAW text (line structure matters);
    *  - `quality` — the hashed-feature linear classifier
    *    ([[Corpus.qualityScoreFeats]]) fused with the optional DSIR
    *    importance threshold over ONE feature stream, plus the optional
    *    frozen-LM surprisal ceiling ([[Corpus.surprisalAgainstOn]]);
    *  - `lang`    — the learned language gate ([[Corpus.langIdPredict]]
    *    against a frozen model), admitting only `allowedLangs`.
    *
    * Every gate is doc-local and deterministic in (row, frozen tables):
    * the stream≡batch parity and replay idempotence carry through
    * unchanged. Optional gates configured off contribute no rung (and
    * no verdict tag).
    */
  def frozenGates(weights: DataFrame, nBuckets: Int = 1024,
                  thrMilli: Long = 0L,
                  minWords: Int = 50,
                  stopwords: Seq[String] = Corpus.GopherStopwords,
                  repetition: Boolean = false,
                  repTopBpMax: Map[Int, Long] =
                    Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L),
                  repDupBpMax: Map[Int, Long] =
                    Map(5 -> 1500L, 6 -> 1400L, 7 -> 1300L,
                        8 -> 1200L, 9 -> 1100L, 10 -> 1000L),
                  lambda: Option[DataFrame] = None,
                  dsirThrX10k: Long = 0L,
                  lm: Option[DataFrame] = None,
                  maxMeanSurprisalX10k: Long = Long.MaxValue,
                  unseenNat10k: Long = 200000L,
                  c4: Boolean = false,
                  c4BadWords: Seq[String] = Seq.empty,
                  langModel: Option[DataFrame] = None,
                  allowedLangs: Seq[String] = Seq("en"),
                  langN: Int = 3, langNBuckets: Int = 4096): Seq[Gate] = {
    val gopher: Gate = "gopher" -> { canon =>
      val g = Corpus.gopherRulesOn(canon, minWords = minWords,
          maxWords = 100000, stopwords = stopwords)
        .filter(col("keep")).select(col("id"))
      if (!repetition) g
      else g.join(
        Corpus.repetitionSignalsOn(canon,
            topNs = Seq(2, 3, 4), dupNs = Seq(5, 6, 7, 8, 9, 10),
            topBpMax = repTopBpMax, dupBpMax = repDupBpMax)
          .filter(col("keep")).select(col("id")), Seq("id"))
    }
    val c4Gate: Option[Gate] = if (!c4) None else Some("c4" -> { canon =>
      Corpus.c4Rules(canon, "id", "raw", c4BadWords)
        .filter(col("keep")).select(col("id"))
    })
    val quality: Gate = "quality" -> { canon =>
      val feats = Corpus.hashedFeaturesOn(canon, nBuckets)
      val q = lambda match {
        case None => Corpus.qualityScoreFeats(feats, weights, thrMilli)
          .filter(col("keep")).select(col("id"))
        case Some(lam) =>
          // quality and DSIR read ONE hashed-feature stream and collapse
          // in ONE aggregation: both frozen tables are bucket-keyed
          // broadcasts, so the per-feature weight and λ ride the same
          // exploded row and the per-doc sums share a single shuffle —
          // the same integer sums the separate scorers produce
          feats.join(broadcast(weights), Seq("bucket"), "left")
            .withColumn("w", coalesce(col("w"), lit(0L)))
            // λ covers every bucket (inner join always hits)
            .join(broadcast(lam), Seq("bucket"))
            .groupBy(col("id"))
            .agg(count(lit(1)).as("n_features"), sum(col("w")).as("logit"),
              sum(col("lam")).as("dsir_x10k"))
            .filter(col("logit") * 1000 >=
                lit(thrMilli) * col("n_features") &&
              col("dsir_x10k") >= dsirThrX10k)
            .select(col("id"))
      }
      lm.fold(q) { table =>
        q.join(Corpus.surprisalAgainstOn(canon, table, unseenNat10k)
          .filter(col("mean_surprisal_x10k") <= maxMeanSurprisalX10k)
          .select(col("id")), Seq("id"))
      }
    }
    val lang: Option[Gate] = langModel.map(m => "lang" -> { canon =>
      Corpus.langIdPredict(canon, "id", "raw", m, langN, langNBuckets)
        .filter(col("pred_lang").isin(allowedLangs: _*))
        .select(col("id"))
    })
    Seq(gopher) ++ c4Gate ++ Seq(quality) ++ lang
  }
}
