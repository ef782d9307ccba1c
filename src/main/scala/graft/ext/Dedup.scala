package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Design for 100 TB: every variant avoids the O(n²) all-pairs join.
  *   - exact: shuffle 32-byte digests, not documents.
  *   - jaccard: inverted shingle index — only documents sharing a shingle
  *     ever meet; the shuffle key is the shingle.
  *   - minhash: fixed-width signatures + band buckets — candidate pairs
  *     are generated per bucket, never globally.
  *   - simhash: 64-bit signature + band tables for hamming-radius search.
  *
  * Hashing uses [[TextOps.portableHash]]/[[TextOps.portableHash32]]
  * (md5-derived) so results are reproducible in any engine — required by
  * the DuckDB oracle and handy for cross-system validation in general.
  */
object Dedup {

  /** 32-bit portable hash (first 8 hex chars of md5) — small enough that
    * `a*h+b` stays within a 63-bit long for the MinHash mod-prime family.
    * Native digest-prefix expression; see [[TextOps.portableHash]].
    */
  def portableHash32(c: Column): Column =
    graft.functions.VectorFunctions.md5Prefix(c, 8)

  /** Mersenne prime 2^61-1: modulus of the universal hash family. */
  val MinhashPrime: Long = (1L << 61) - 1

  /** Deterministic hash-family parameters (a_i, b_i) for i < k.
    * Generated from a fixed LCG so Scala and the oracle SQL agree.
    */
  def hashParams(k: Int): Seq[(Int, Long, Long)] = {
    var s = 42L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s }
    (0 until k).map(i => (i, (next() % 536870911L) + 1L, next() % 2147483647L))
  }

  /** Distinct word n-gram shingles of the normalized text.
    *
    * WARNING (perf): a `Column` value is an expression TREE — reusing it
    * copies the tree into every use site, including inside lambda
    * functions, where codegen subexpression elimination cannot reach. If
    * `text` is an expensive expression this recomputes it per element.
    * Use [[withShingles]] in plans: it binds the split-words array as a
    * real attribute first, so the lambda does O(1) work per shingle.
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesOfWords(split(TextOps.normalized(text), " "), n)

  private def shinglesOfWords(words: Column, n: Int): Column = {
    val cnt = size(words) - (n - 1)
    when(cnt > 0,
      array_distinct(transform(sequence(lit(0), cnt - 1),
        i => concat_ws(" ", slice(words, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Compiled shingle generator. Semantically identical to
    * [[wordShingles]] (lowercase, whitespace-normalize, word n-grams,
    * distinct, order preserved) but a single O(doc) closure.
    *
    * Deliberately a UDF, not builtins: Catalyst's
    * InferFiltersFromGenerate + predicate pushdown clone the generator
    * expression into a pre-scan Filter and evaluate it per row — and
    * because a reused `Column` is copied into lambda bodies where
    * subexpression elimination can't reach, the builtin formulation
    * re-ran the full regex+split of the text once per shingle INDEX
    * (O(doc²) per document, ~20 s on sf0.1). The UDF is opaque, so the
    * worst the optimizer does is evaluate it O(1) extra times per doc.
    */
  private val shingleUdf = udf((text: String, n: Int) => {
    if (text == null) Array.empty[String]
    else {
      val words = text.toLowerCase.trim.split("\\s+")
      if (words.length < n) Array.empty[String]
      else words.sliding(n).map(_.mkString(" ")).distinct.toArray
    }
  })

  /** Public column access to the compiled shingle generator. */
  def wordShinglesUdf(text: Column, n: Int): Column = shingleUdf(text, lit(n))

  /** (id, m = |shingle set|, exploded shingle). The input is spread to
    * session parallelism first ([[Materialize.spread]], no-op on
    * well-partitioned tables): the shingle generation + explode is the
    * CPU-heavy narrow stage, and it would otherwise run with the scan's
    * partitioning — one task for a single-file table.
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    Materialize.spread(df)
      .select(col(idCol).as("id"), shingleUdf(col(textCol), lit(n)).as("sh"))
      .select(col("id"), size(col("sh")).as("m"), explode(col("sh")).as("shingle"))

  /** Exact dedup groups: one row per distinct normalized content with the
    * surviving (minimum) id and the duplicate count. Grouping key is the
    * md5 fingerprint so the shuffle carries 32 bytes per doc.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** URL-canonical-key dedup groups — the cheapest rung of the dedup
    * ladder, run BEFORE any content pass (published web pipelines'
    * first cut: two crawls of one page are duplicates by address
    * before any shingle is computed): group on
    * [[TextOps.canonicalUrl]] and keep the minimum id per key.
    *
    * Scale shape: identical to [[exactGroups]] — ONE shuffle keyed on
    * the canonical key (URLs are tens of bytes; document text never
    * moves), map-side partial aggregation collapses per-partition
    * repeats of hot URLs before the exchange. The canonical string is
    * kept in the output (not a digest) because the survivors table is
    * also the crawl-frontier dedup index a pipeline probes by URL.
    *
    * @return (url_key, keep_id, n_copies)
    */
  def urlGroups(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), TextOps.canonicalUrl(col(urlCol)).as("url_key"))
      .groupBy(col("url_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-HOST rollup of the canonical-URL relation — the DOMAIN-level
    * curation rung published pipelines run ABOVE page-level URL dedup
    * (RefinedWeb blocklists whole hosts; CCNet reports per-domain
    * shares): host = the canonical key's authority with any explicit
    * port stripped (hostname-level scope — a registered-domain rollup
    * needs a public-suffix table and is deliberately out of contract),
    * and per host the card reports crawl rows, distinct pages, and the
    * duplication ratio in basis points — the one-glance signal for
    * mirror/session-id/farm hosts whose crawl mass is re-serves of a
    * few pages (candidates for host-level blocking before any content
    * pass runs).
    *
    * Shape: the [[urlGroups]] shuffle (canonical key) then one
    * host-keyed aggregate of page-level rows — host cardinality is
    * tiny next to pages, so the second exchange is cheap and the
    * map-side partials collapse it further.
    *
    * @return (host, n_crawls, n_pages, dup_bp) with
    *         dup_bp = ⌊10⁴·(crawls − pages)/crawls⌋
    */
  def urlHostCard(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    urlGroups(df, idCol, urlCol)
      .select(regexp_replace(regexp_replace(
            regexp_extract(col("url_key"), "^[^/?]*", 0),
            "^[^@]*@", ""),
          ":[0-9]+$", "").as("host"),
        col("n_copies"))
      .groupBy(col("host"))
      .agg(sum(col("n_copies")).as("n_crawls"), count(lit(1)).as("n_pages"))
      .select(col("host"), col("n_crawls"), col("n_pages"),
        expr("((n_crawls - n_pages) * 10000) div n_crawls").as("dup_bp"))

  /** Embedded PUBLIC-SUFFIX fixture — a curated subset of the Mozilla
    * Public Suffix List (publicsuffix.org, public data: the list every
    * published registered-domain rollup resolves against), covering the
    * common ICANN TLDs, the multi-label country registries that make
    * hostname-level rollups wrong (`co.uk`-style), and the big private
    * hosting suffixes (each `github.io` subdomain is a different
    * registrant — exactly the case where eTLD+1 ≠ "last two labels").
    * Production swaps in the full ~9k-rule list (same shape, one string
    * per rule); the matching logic ([[registeredDomain]]) is list-size
    * agnostic. Wildcard (`*.ck`) and exception (`!www.ck`) rules are
    * out of the SCALAR form's contract; the rules-TABLE form
    * ([[registeredDomainFromRules]], r16) implements them in full and
    * is the broadcast-join shape the 9k-rule list should ride anyway.
    */
  val publicSuffixes: Seq[String] = Seq(
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "co", "ai",
    "app", "dev", "info", "biz", "name", "mobi",
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "au", "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "jp", "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "br", "com.br", "net.br", "org.br",
    "in", "co.in", "net.in", "org.in", "ac.in",
    "cn", "com.cn", "net.cn", "org.cn", "gov.cn",
    "nz", "co.nz", "net.nz", "org.nz",
    "za", "co.za", "org.za",
    "de", "fr", "nl", "it", "es", "ru", "pl", "se", "ch", "at", "be",
    "dk", "no", "fi", "cz", "eu", "us", "ca", "mx", "ar", "kr", "tw",
    "hk", "sg",
    "github.io", "blogspot.com", "cloudfront.net", "amazonaws.com",
    "s3.amazonaws.com", "herokuapp.com", "netlify.app", "vercel.app",
    "pages.dev", "web.app")

  /** Registered domain (eTLD+1) of a hostname under a public-suffix
    * table: the label immediately before the LONGEST matching suffix,
    * plus the suffix — `a.b.site.co.uk` → `site.co.uk`,
    * `proj.github.io` → `proj.github.io` (private registry suffix),
    * while a naive last-two-labels rule would merge every `co.uk`
    * registrant into one bucket. PSL edge conventions: a host that IS
    * a public suffix has no registrable part and maps to itself; a
    * host matching NO rule takes the PSL's implicit `*` rule (TLD =
    * last label, eTLD+1 = last two; a single-label host maps to
    * itself).
    *
    * Shape: a PURE scalar builtin composition — the suffix table rides
    * as one array literal, candidates are the host's label-suffixes
    * longest-first, and the first table hit is the longest match (no
    * join, no shuffle: the rollup stays a scan + one keyed aggregate).
    * With the full 9k-rule list the per-row `array_contains` scan is
    * the trade to revisit (a broadcast map lookup wins there); at the
    * fixture's scale the literal is strictly cheaper and the whole
    * expression replays in DuckDB list builtins.
    */
  def registeredDomain(host: Column,
                       suffixes: Seq[String] = publicSuffixes): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val cands = transform(sequence(lit(1), n),
      i => array_join(slice(labels, i, n), "."))
    val table = lit(suffixes.toArray)
    // `get` (0-based), not `element_at`: ANSI mode throws on the empty
    // no-match array; get returns the NULL the fallback branch needs
    val suf = get(filter(cands, c => array_contains(table, c)), lit(0))
    val sufN = size(split(suf, "\\."))
    when(suf.isNull,
        when(n >= 2, array_join(slice(labels, n - 1, lit(2)), "."))
          .otherwise(host))
      .when(sufN === n, host)
      .otherwise(array_join(slice(labels, n - sufN, sufN + 1), "."))
  }

  /** Registered-domain (eTLD+1) rollup of the canonical-URL relation —
    * the rung [[urlHostCard]] documents out of its own contract: a
    * mirror FARM serves one corpus from many HOSTNAMES
    * (`s0.farm.co.uk` … `s7.farm.co.uk`), so the host-level card shows
    * N unremarkable rows while the registrant-level view concentrates
    * the crawl mass into one row — the signal a domain blocklist
    * decision actually needs. Per eTLD+1: distinct hostnames, crawl
    * rows, distinct pages, duplication share in basis points.
    *
    * Shape: the [[urlHostCard]] pipeline (page-key shuffle, host-keyed
    * aggregate) plus ONE more keyed aggregate over host-cardinality
    * rows with [[registeredDomain]] as a scalar projection — the
    * suffix table never joins, hosts never re-shuffle wide.
    *
    * @return (reg_domain, n_hosts, n_crawls, n_pages, dup_bp)
    */
  def urlRegisteredDomainCard(df: DataFrame, idCol: String, urlCol: String,
                              suffixes: Seq[String] = publicSuffixes): DataFrame =
    urlHostCard(df, idCol, urlCol)
      .select(registeredDomain(col("host"), suffixes).as("reg_domain"),
        col("n_crawls"), col("n_pages"))
      .groupBy(col("reg_domain"))
      .agg(count(lit(1)).as("n_hosts"), sum(col("n_crawls")).as("n_crawls"),
        sum(col("n_pages")).as("n_pages"))
      .select(col("reg_domain"), col("n_hosts"), col("n_crawls"),
        col("n_pages"),
        expr("((n_crawls - n_pages) * 10000) div n_crawls").as("dup_bp"))

  /** FULL Public-Suffix-List matching over a RULES TABLE — the form the
    * real ~9k-rule list rides (the documented trade at
    * [[registeredDomain]]: a per-row scan of a 9k-element array literal
    * loses to a broadcast hash join), with the two PSL rule kinds the
    * scalar subset leaves out of contract:
    *
    *  - wildcard `*.ck` — every single label is a public suffix UNDER
    *    ck, so `shop.stores.ck` registers `shop.stores.ck` (suffix =
    *    `stores.ck`), not `stores.ck`;
    *  - exception `!www.ck` — carves `www.ck` back OUT of the wildcard:
    *    its public suffix is the rule minus its leftmost label (`ck`),
    *    so `www.ck` is itself registrable.
    *
    * Algorithm (publicsuffix.org): exception rules take absolute
    * priority; otherwise the prevailing rule is the matching rule with
    * the MOST labels; no match falls to the implicit `*` rule (TLD =
    * last label). Registered domain = prevailing suffix + one label;
    * a host that IS a public suffix maps to itself; a single-label
    * unmatched host maps to itself.
    *
    * Shape: the input is expected to be HOST-cardinality (the rollup
    * sits above page-level aggregation, as in [[urlHostCard]]), so the
    * label-suffix explode is ≤ ~5 rows per host; rules ride ONE
    * broadcast hash join keyed on the candidate string (wildcard rules
    * are keyed on their tail with a "needs a preceding label" predicate,
    * exceptions on their full labels with the suffix count shortened by
    * one), and the per-host argmax is a keyed aggregate over match
    * rows. Nothing wider than (host, candidate) ever shuffles.
    *
    * @param rules one string column `rule` in raw PSL line syntax
    *              (`co.uk`, `*.ck`, `!www.ck`)
    * @return `hosts` with `out` (the registered domain) appended
    */
  def registeredDomainFromRules(hosts: DataFrame, hostCol: String,
                                rules: DataFrame,
                                out: String = "reg_domain"): DataFrame = {
    val prepped = rules.select(
        when(col("rule").startsWith("!"), expr("substring(rule, 2)"))
          .when(col("rule").startsWith("*."), expr("substring(rule, 3)"))
          .otherwise(col("rule")).as("key"),
        when(col("rule").startsWith("!"), lit(2))
          .when(col("rule").startsWith("*."), lit(1))
          .otherwise(lit(0)).as("kind"))
      .withColumn("sufn",
        when(col("kind") === 2, size(split(col("key"), "\\.")) - 1)
          .when(col("kind") === 1, size(split(col("key"), "\\.")) + 1)
          .otherwise(size(split(col("key"), "\\."))))
    val labeled = hosts.withColumn("__ls", split(col(hostCol), "\\."))
      .withColumn("__n", size(col("__ls")))
    // every label-suffix of the host, with its 1-based start position:
    // a wildcard's * consumes the label BEFORE the key match, so the
    // match is only valid from position 2 on
    val cands = labeled.select(col(hostCol).as("__h"), col("__n"),
        posexplode(transform(sequence(lit(1), col("__n")),
          i => array_join(slice(col("__ls"), i, col("__n")), "."))))
      .select(col("__h"), (col("pos") + 1).as("__i"),
        col("col").as("__cand"))
    // exception priority rides the struct-max: (is_exception, sufn) —
    // any exception outranks every normal/wildcard match; within a
    // priority class the most-labels rule prevails (the PSL rule)
    val matched = cands.join(broadcast(prepped),
        col("__cand") === col("key") &&
          (col("kind") =!= 1 || col("__i") >= 2))
      .groupBy(col("__h"))
      .agg(max(struct((col("kind") === 2).cast("int").as("exc"),
        col("sufn").as("s"))).as("__best"))
      .select(col("__h"), col("__best.s").as("__s"))
    labeled.join(matched, labeled(hostCol) === matched("__h"), "left")
      .withColumn(out,
        when(col("__s").isNull,
          when(col("__n") >= 2,
            array_join(slice(col("__ls"), col("__n") - 1, lit(2)), "."))
            .otherwise(col(hostCol)))
          .when(col("__s") >= col("__n"), col(hostCol))
          .otherwise(array_join(
            slice(col("__ls"), col("__n") - col("__s"), col("__s") + 1),
            ".")))
      .drop("__ls", "__n", "__h", "__s")
  }

  /** [[urlRegisteredDomainCard]] under FULL PSL semantics — the rules-
    * table form ([[registeredDomainFromRules]]): same page-key shuffle
    * and host rollup, the eTLD+1 resolution now a broadcast join against
    * an arbitrary rule table (wildcards and exceptions included) instead
    * of the embedded-subset scalar. Under a rules table equal to
    * [[publicSuffixes]] the two forms agree row for row (spec-pinned).
    *
    * @return (reg_domain, n_hosts, n_crawls, n_pages, dup_bp)
    */
  def urlRegisteredDomainCardRules(df: DataFrame, idCol: String,
                                   urlCol: String,
                                   rules: DataFrame): DataFrame =
    registeredDomainFromRules(urlHostCard(df, idCol, urlCol), "host", rules)
      .groupBy(col("reg_domain"))
      .agg(count(lit(1)).as("n_hosts"), sum(col("n_crawls")).as("n_crawls"),
        sum(col("n_pages")).as("n_pages"))
      .select(col("reg_domain"), col("n_hosts"), col("n_crawls"),
        col("n_pages"),
        expr("((n_crawls - n_pages) * 10000) div n_crawls").as("dup_bp"))

  /** The DEDUP LADDER as one sequential pass — the rung order every
    * published web pipeline runs, cheapest signal first, each rung
    * seeing only the previous rung's survivors:
    *
    *   1. `url`   — canonical-URL groups ([[urlGroups]] key), minimum
    *                id per page survives (no text read);
    *   2. `exact` — normalized-content fingerprint groups
    *                ([[exactGroups]]), minimum id survives;
    *   3. `near`  — shingle-Jaccard pairs ≥ tau over the remaining
    *                corpus → connected components → minimum id per
    *                cluster survives.
    *
    * Output is the per-document VERDICT relation — (id, dropped_at ∈
    * {url, exact, near, NULL=survivor}) — which is both the funnel
    * card's input (group by dropped_at) and the provenance a curation
    * audit wants ("why is this doc gone"). Sequencing matters and is
    * part of the contract: an exact duplicate of a page already
    * dropped by the URL rung is NOT exact-dropped (its group's
    * survivor may differ), which is why each rung recomputes over
    * survivors only — also the cost shape you want at 100 TB, where
    * the near-dup rung (the expensive one) sees the corpus only after
    * the two cheap rungs shrank it.
    *
    * Scale: rung 1 shuffles canonical keys, rung 2 digests, rung 3 is
    * [[jaccardPairs]] + [[connectedComponents]] on the reduced corpus;
    * every drop relation is ids only.
    *
    * Cache lifetime: the rung survivors are [[Materialize.multiScan]]
    * entries consumed by the returned (lazy) verdict relation — the
    * standard operator contract (see [[Materialize]]): release with
    * `unpersist`/`clearCache` after consuming the verdicts. A
    * long-running INGEST loop should use
    * [[IngestLadder.admitBatch]] instead, which materializes
    * durably and releases its own caches per tick.
    *
    * NULL addresses pass the url rung untouched (rows whose `urlCol` —
    * or its canonical key — is NULL are url-rung SURVIVORS, the
    * quality-admission gate-0 convention): a NULL address is "no crawl
    * provenance", not "the same page as every other address-less doc",
    * and Spark windows would otherwise group all NULL keys into one
    * partition and silently keep a single survivor per batch.
    *
    * @param urlCol optional — None skips the URL rung (corpora without
    *               addresses), verdicts then never say 'url'
    * @return (id, dropped_at) — one row per input doc
    */
  def ladder(df: DataFrame, idCol: String, textCol: String,
             urlCol: Option[String], n: Int, tau: Double,
             maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val base = Materialize.multiScan(df)
    val urlDrops = urlCol match {
      case None => base.select(col(idCol).as("id")).limit(0)
      case Some(u) =>
        val keys = base.select(col(idCol).as("id"),
          TextOps.canonicalUrl(col(u)).as("k"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
        // NULL keys pass: without the isNotNull guard the window groups
        // every NULL-key row together and drops all but one
        keys.withColumn("keep", min(col("id")).over(w))
          .filter(col("k").isNotNull && col("id") =!= col("keep"))
          .select(col("id"))
    }
    val s1 = Materialize.multiScan(
      base.join(urlDrops, base(idCol) === urlDrops("id"), "left_anti"))
    val exactDrops = {
      val fps = s1.select(col(idCol).as("id"),
        TextOps.fingerprint(col(textCol)).as("fp"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      // NULL text ⇒ NULL fingerprint ⇒ PASS (the url rung's NULL-key
      // convention): address-less/text-less rows are not copies of
      // each other, and the window would otherwise keep one per batch
      fps.withColumn("keep", min(col("id")).over(w))
        .filter(col("fp").isNotNull && col("id") =!= col("keep"))
        .select(col("id"))
    }
    val s2 = Materialize.multiScan(
      s1.join(exactDrops, s1(idCol) === exactDrops("id"), "left_anti"))
    val nearDrops = connectedComponents(
        jaccardPairs(s2, idCol, textCol, n, tau, maxDocFreq)
          .select(col("id_a"), col("id_b")))
      .filter(col("id") =!= col("cluster")).select(col("id"))
    base.select(col(idCol).as("id"))
      .join(urlDrops.select(col("id"), lit("url").as("__u")), Seq("id"), "left")
      .join(exactDrops.select(col("id"), lit("exact").as("__e")), Seq("id"), "left")
      .join(nearDrops.select(col("id"), lit("near").as("__n")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__u"), col("__e"), col("__n")).as("dropped_at"))
  }

  /** Candidate-quality card: recall and precision of an APPROXIMATE
    * pair generator (LSH bands, SimHash buckets, SRP blocks — any
    * (id_a, id_b) relation) against the EXACT pair relation on the
    * same corpus, in integer basis points. This is the measurement
    * that TUNES the recall/cost dials (bands × rows, nBits, nTables):
    * recall_bp is what the dedup pass silently loses; precision_bp is
    * the share of candidate pairs the exact verification step won't
    * throw away — i.e. the verification cost multiplier. The published
    * S-curve planner ([[lshPlan]]) predicts these; this card MEASURES
    * them, closing the loop on real data.
    *
    * Shape: both relations canonicalize to (min, max) pairs and
    * deduplicate (one shuffle each on the pair key), the hit count is
    * a pair-keyed semi-join, and the three one-row aggregates
    * cross-join — nothing wider than two ids moves.
    *
    * @return one row: (n_true, n_approx, n_hit, recall_bp,
    *         precision_bp) — empty-side conventions: recall 10000 when
    *         there are no true pairs, precision 10000 when there are
    *         no candidates (nothing was missed / nothing was wasted)
    */
  def pairRecallCard(exact: DataFrame, approx: DataFrame,
                     idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    def canon(df: DataFrame) = Materialize.multiScan(
      df.select(least(col(idA), col(idB)).as("a"),
        greatest(col(idA), col(idB)).as("b")).distinct())
    val e = canon(exact)
    val c = canon(approx)
    val hits = e.join(c, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    e.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_approx"))))
      .crossJoin(broadcast(hits))
      .select(col("n_true"), col("n_approx"), col("n_hit"),
        when(col("n_true") > 0, expr("(n_hit * 10000) div n_true"))
          .otherwise(10000L).as("recall_bp"),
        when(col("n_approx") > 0, expr("(n_hit * 10000) div n_approx"))
          .otherwise(10000L).as("precision_bp"))
  }

  /** All document pairs with shingle-Jaccard ≥ tau, via an inverted
    * shingle index (explode → self-join on shingle → count common).
    * Exact (no approximation): used directly at moderate scale and as
    * the verification step after MinHash candidate generation.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, tau: Double,
                   maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // Join on a 64-bit hash of the shingle, not the string: the (hot)
    // shuffle carries 8-byte keys. Collisions are ~|shingles|²/2^64 —
    // vanishing — and only ever merge two shingles, perturbing one
    // intersection count. The length-ratio prune is exact: J(A,B) ≤
    // min/max, so |A| ≥ τ|B| (and symmetrically) is necessary for
    // J ≥ τ; it cuts candidate pairs before the aggregate.
    //
    // `maxDocFreq` (off by default) drops shingles shared by more than
    // that many documents — the "stop-shingle" cap. A shingle in c docs
    // contributes c² join rows but at most 1 to any pair's intersection:
    // at corpus scale the hottest shingles are boilerplate that
    // dominates cost and carries no discriminative signal. With the cap
    // the result is a (high-recall) under-approximation: intersection
    // counts can only shrink, so reported pairs remain true J ≥ τ' for
    // the reduced shingle space — the standard trade on 100 TB corpora.
    val shAll = explodedShingles(df, idCol, textCol, n)
      .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64"))
    val shPlan = if (maxDocFreq == Int.MaxValue) shAll else {
      val hot = shAll.groupBy(col("sh64"))
        .agg(count(lit(1)).as("c")).filter(col("c") > maxDocFreq)
        .select(col("sh64"))
      shAll.join(broadcast(hot), Seq("sh64"), "left_anti")
    }
    // materialize the exploded relation ONCE: a self-join evaluates its
    // child plan per side (no exchange reuse fires on the raw plan),
    // which would run the shingle generator + hash over the corpus twice
    val sh = Materialize.multiScan(shPlan)
    val a = sh.as("a")
    val b = sh.as("b")
    a.join(b, col("a.sh64") === col("b.sh64") && col("a.id") < col("b.id") &&
        col("a.m") >= col("b.m") * tau && col("b.m") >= col("a.m") * tau)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.m").as("m_a"), col("b.m").as("m_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jacc", round(col("inter").cast("double") /
        (col("m_a") + col("m_b") - col("inter")), 4))
      .filter(col("jacc") >= tau)
      .select(col("id_a"), col("id_b"), col("jacc"))
  }

  /** [[jaccardPairs]] with PREFIX FILTERING (Bayardo/Ma/Srikant 2007
    * "Scaling Up All Pairs Similarity Search"; positional refinement
    * from Xiao et al. 2008 PPJoin) — same output relation, structurally
    * cheaper candidate generation.
    *
    * The plain inverted-index route joins EVERY posting of every
    * shingle: a shingle shared by c documents contributes c² join rows,
    * and a true near-dup pair meets once per shared shingle — ~τ·m
    * redundant rows per pair that the aggregate then collapses. Prefix
    * filtering keeps the exactness but indexes only a PREFIX of each
    * document's shingle set under one global token order: if
    * J(A,B) ≥ τ then |A∩B| ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ = α, and two sets
    * with |A∩B| ≥ α must collide inside their first |x|−α+1 tokens —
    * so indexing the first |x|−⌈τ·|x|⌉+1 tokens (α ≥ τ·|x| for every
    * length-eligible partner) generates a candidate superset with NO
    * recall loss. The global order is ascending document frequency
    * (rarest shingle first, df then hash as tiebreak): prefixes are
    * made of the rarest tokens, exactly the ones with the fewest
    * postings collisions — Bayardo's measured big win, and it also
    * starves boilerplate shingles out of every prefix, giving much of
    * the `maxDocFreq` benefit without dropping signal.
    *
    * Candidates are then refined by the PPJoin positional bound before
    * verification: the first common token in the global order sits at
    * positions (pa, pb), every later common token sits strictly after
    * it in BOTH sets, so |A∩B| ≤ 1 + min(m_a−pa, m_b−pb); pairs whose
    * bound cannot reach α are discarded without touching their shingle
    * sets. Verification joins the surviving pairs to per-document
    * sorted hash arrays and computes the EXACT intersection with
    * `array_intersect` — no approximation anywhere, so the result is
    * row-identical to [[jaccardPairs]] (modulo the same vanishing
    * within-document 64-bit collision caveat both routes share:
    * posting-count vs distinct-array intersection could differ only if
    * two distinct shingles of one doc collide in xxhash64).
    *
    * All threshold comparisons use float slack (±1e-9) on the SAFE
    * side — a fuzzed ⌈·⌉ can only widen the prefix or weaken the
    * bound, never drop a true pair.
    *
    * Scale shape: the hot self-join now carries only prefix postings
    * (≈(1−τ) of the exploded relation, concentrated on RARE shingles),
    * verification shuffles each doc's hash array once per surviving
    * candidate. `maxDocFreq` composes as in [[jaccardPairs]] (same
    * under-approximation semantics) but is no longer the load-bearing
    * skew dial — the df-ordered prefix already refuses to index hot
    * shingles unless a doc consists of almost nothing else.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, tau: Double,
                         maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val shAll = explodedShingles(df, idCol, textCol, n)
      .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64"))
    val shPlan = if (maxDocFreq == Int.MaxValue) shAll else {
      val hot = shAll.groupBy(col("sh64"))
        .agg(count(lit(1)).as("c")).filter(col("c") > maxDocFreq)
        .select(col("sh64"))
      shAll.join(broadcast(hot), Seq("sh64"), "left_anti")
    }
    // one materialization, three consumers: docfreq, the ranked prefix,
    // and the verification arrays
    val sh = Materialize.multiScan(shPlan)
    val dfreq = sh.groupBy(col("sh64")).agg(count(lit(1)).as("df_c"))
    // global token order = (document frequency asc, hash asc): total and
    // deterministic. row_number over the per-doc keyed window assigns
    // each posting its position in the doc's ordered shingle set.
    val ranked = sh.join(dfreq, Seq("sh64"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df_c"), col("sh64"))))
    // prefix length m − ⌈τm⌉ + 1, float-slacked UP (longer prefix =
    // more candidates, never fewer)
    val prefix = Materialize.multiScan(ranked
      .filter(col("pos") <= col("m") - lit(tau) * col("m") + lit(1.0 + 1e-9))
      .select(col("id"), col("m"), col("sh64"), col("pos")))
    val a = prefix.as("a")
    val b = prefix.as("b")
    // candidate = prefix collision + exact length-ratio prune, refined
    // by the positional bound at the FIRST shared prefix token (min pos
    // on both sides is realized by the same token — the global order is
    // shared). α = ⌈τ/(1+τ)(m_a+m_b)⌉, compared with slack DOWN.
    val cands = a.join(b,
        col("a.sh64") === col("b.sh64") && col("a.id") < col("b.id") &&
        col("a.m") >= col("b.m") * tau && col("b.m") >= col("a.m") * tau)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.m").as("m_a"), col("b.m").as("m_b"))
      .agg(min(col("a.pos")).as("pa"), min(col("b.pos")).as("pb"))
      .filter(lit(1) + least(col("m_a") - col("pa"), col("m_b") - col("pb"))
        >= lit(tau / (1.0 + tau)) * (col("m_a") + col("m_b")) - lit(1e-9))
      .select(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
    // exact verification: sorted hash arrays per doc, intersection via
    // array_intersect (codegen'd, hash-set per row)
    val arrays = Materialize.multiScan(sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("sh64"))).as("arr")))
    cands
      .join(arrays.select(col("id").as("id_a"), col("arr").as("arr_a")), Seq("id_a"))
      .join(arrays.select(col("id").as("id_b"), col("arr").as("arr_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("jacc", round(col("inter").cast("double") /
        (col("m_a") + col("m_b") - col("inter")), 4))
      .filter(col("jacc") >= tau)
      .select(col("id_a"), col("id_b"), col("jacc"))
  }

  /** Candidate-pair counts for the two exact-Jaccard routes on the same
    * input — the measured fact behind [[jaccardPairsPrefix]]'s existence:
    * (full-index candidate pairs, prefix-index candidate pairs surviving
    * the positional bound). Both counts are of DISTINCT (id_a, id_b)
    * pairs entering verification; the true-pair count is the same for
    * both (exactness), so the ratio is pure wasted-verification work.
    */
  def jaccardCandidateCounts(df: DataFrame, idCol: String, textCol: String,
                             n: Int, tau: Double): (Long, Long) = {
    val shAll = Materialize.multiScan(
      explodedShingles(df, idCol, textCol, n)
        .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64")))
    val full = shAll.as("a").join(shAll.as("b"),
        col("a.sh64") === col("b.sh64") && col("a.id") < col("b.id") &&
        col("a.m") >= col("b.m") * tau && col("b.m") >= col("a.m") * tau)
      .select(col("a.id"), col("b.id")).distinct().count()
    val dfreq = shAll.groupBy(col("sh64")).agg(count(lit(1)).as("df_c"))
    val prefix = Materialize.multiScan(shAll.join(dfreq, Seq("sh64"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df_c"), col("sh64"))))
      .filter(col("pos") <= col("m") - lit(tau) * col("m") + lit(1.0 + 1e-9)))
    val pref = prefix.as("a").join(prefix.as("b"),
        col("a.sh64") === col("b.sh64") && col("a.id") < col("b.id") &&
        col("a.m") >= col("b.m") * tau && col("b.m") >= col("a.m") * tau)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.m").as("m_a"), col("b.m").as("m_b"))
      .agg(min(col("a.pos")).as("pa"), min(col("b.pos")).as("pb"))
      .filter(lit(1) + least(col("m_a") - col("pa"), col("m_b") - col("pb"))
        >= lit(tau / (1.0 + tau)) * (col("m_a") + col("m_b")) - lit(1e-9))
      .count()
    shAll.unpersist(); prefix.unpersist()
    (full, pref)
  }

  /** Asymmetric CONTAINMENT pairs — C(A→B) = |S(A) ∩ S(B)| / |S(A)|
    * ≥ tau: the doc-inside-doc relation symmetric Jaccard structurally
    * misses (Broder 1997's resemblance-vs-containment distinction). A
    * 200-word passage quoted inside a 5,000-word page has J ≈ 0.04 at
    * any shingle width — invisible to every resemblance pass at any
    * usable τ — while its containment in the page is ≈ 1; a curation
    * pipeline that only scores resemblance keeps every such embedded
    * copy.
    *
    * Same inverted shingle index as [[jaccardPairs]] (8-byte hashes,
    * optional stop-shingle cap). NO length-ratio prune exists for this
    * relation: containment of the smaller side in the larger is never
    * size-bounded (|S(B)| ≥ τ·|S(A)| holds trivially when B is the
    * bigger doc), so join cost is driven entirely by shingle
    * co-occurrence — at corpus scale `maxDocFreq` is the dial that
    * matters (boilerplate shingles dominate postings and carry no
    * containment signal).
    *
    * @return (src_id, host_id, cont): src's shingle set is
    *         cont-contained in host's; one row per ORDERED direction
    *         with cont ≥ tau, both directions scored from the single
    *         unordered intersection count
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double,
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val shAll = explodedShingles(df, idCol, textCol, n)
      .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64"))
    val shPlan = if (maxDocFreq == Int.MaxValue) shAll else {
      val hot = shAll.groupBy(col("sh64"))
        .agg(count(lit(1)).as("c")).filter(col("c") > maxDocFreq)
        .select(col("sh64"))
      shAll.join(broadcast(hot), Seq("sh64"), "left_anti")
    }
    val sh = Materialize.multiScan(shPlan)
    val a = sh.as("a")
    val b = sh.as("b")
    val pairs = a.join(b,
        col("a.sh64") === col("b.sh64") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.m").as("m_a"), col("b.m").as("m_b"))
      .agg(count(lit(1)).as("inter"))
    val ab = pairs.select(col("id_a").as("src_id"),
      col("id_b").as("host_id"),
      round(col("inter").cast("double") / col("m_a"), 4).as("cont"))
    val ba = pairs.select(col("id_b").as("src_id"),
      col("id_a").as("host_id"),
      round(col("inter").cast("double") / col("m_b"), 4).as("cont"))
    ab.unionAll(ba).filter(col("cont") >= tau)
  }

  /** Containment-driven SURVIVOR selection — the one-shot batch form of
    * the in-batch rule of [[IngestLadder.admitBatch]]'s containment
    * rung, and
    * the RETROACTIVE compaction pass that rule's docstring defers
    * ("replacing the admitted subset doc is a compaction policy"):
    * over a static corpus, drop every document τ-contained in another
    * (embedded quotes), keeping exactly the minimum id of each MUTUAL
    * (near-identical) group — so a corpus that admitted a quote before
    * its host arrived (first-arrival-wins lets both coexist) can be
    * cleaned offline with the identical decision rule. Rule per doc x:
    * drop iff ∃ y with cont(x→y) ≥ τ and NOT (cont(y→x) ≥ τ ∧ x < y).
    * `ExtOpsSpec` fuzz-pins batch-form ≡ tick-form on random corpora;
    * the oracle row pins the rule against an independent SQL replay.
    *
    * Scale: [[containmentPairs]]' inverted-index machinery (and its
    * `maxDocFreq` dial) generates the pair relation; the rule itself
    * is one self-join of the (src, host) pairs (mutual lookup) + an
    * anti-join — pair-relation-sized, never corpus².
    *
    * @return the surviving rows of `df`, schema unchanged
    */
  def containmentSurvivors(df: DataFrame, idCol: String, textCol: String,
                           n: Int, tau: Double,
                           maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val ab = containmentPairs(df, idCol, textCol, n, tau, maxDocFreq)
      .select(col("src_id"), col("host_id"))
    val drops = ab.as("p").join(ab.as("q"),
        col("q.src_id") === col("p.host_id") &&
          col("q.host_id") === col("p.src_id"), "left")
      .filter(col("q.src_id").isNull ||
        !(col("p.src_id") < col("p.host_id")))
      .select(col("p.src_id").as("__drop_id")).distinct()
    df.join(drops, df(idCol) === drops("__drop_id"), "left_anti")
  }

  /** Incremental near-dup: shingle-Jaccard ≥ tau pairs between an
    * ARRIVING batch and the EXISTING corpus — the continuously-growing-
    * corpus complement of [[jaccardPairs]]. A training pipeline that
    * ingests daily batches must check new documents against everything
    * already admitted; re-running the corpus self-join per batch is
    * O(corpus) redundant work, and a self-join over corpus ∪ batch
    * re-pairs the corpus with itself. Here each side is scanned once
    * and the join is A-vs-B on the 8-byte shingle hash: cost scales
    * with the BATCH's shingle postings, not the corpus pair space.
    * Same exact semantics as [[jaccardPairs]] (length-ratio prune,
    * optional stop-shingle cap computed over the corpus side — the
    * side whose hot shingles dominate the join).
    *
    * STEADY-STATE ROUTING: this operator re-tokenizes the corpus on
    * every call — the right shape for a one-shot batch-vs-slice check
    * (the oracle query) or an occasional exact audit, NOT for the
    * per-batch admission loop of a continuous ingest pipeline. That
    * loop should ride the stored-index family instead:
    * [[minhashCandidatesAgainst]] joins each batch's bands against a
    * signature index computed ONCE at admission (corpus text never
    * re-read). The admission loop itself is [[IngestLadder.admitBatch]]:
    * its near rung probes a persisted [[shinglePostings]] index with
    * [[jaccardProbe]], and its containment rung probes the same
    * postings with [[containmentProbe]].
    *
    * @param cacheCorpus when true (default — the batch-vs-slice shape),
    *        the single tagged-union postings relation (batch AND full
    *        corpus) is materialized to executor memory/disk, so the
    *        hot-shingle subquery and any rerun skip re-tokenizing. At
    *        100 TB that cache is itself a cost center: pass false to
    *        cache NOTHING — each side's postings stream straight from
    *        its text scan into the join (batch scanned once; corpus
    *        once, plus once more when `maxDocFreq` is dialed).
    * @return (batch_id, corpus_id, jacc)
    */
  def jaccardAgainst(batch: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String,
                     n: Int, tau: Double,
                     maxDocFreq: Int = Int.MaxValue,
                     cacheCorpus: Boolean = true): DataFrame = {
    val (a, b) = againstPostings(batch, corpus, idCol, textCol, n,
      maxDocFreq, cacheCorpus)
    a.as("ja").join(b.as("jb"), col("ja.sh64") === col("jb.sh64") &&
        col("m_a") >= col("m_b") * tau && col("m_b") >= col("m_a") * tau)
      .groupBy(col("batch_id"), col("corpus_id"), col("m_a"), col("m_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jacc", round(col("inter").cast("double") /
        (col("m_a") + col("m_b") - col("inter")), 4))
      .filter(col("jacc") >= tau)
      .select(col("batch_id"), col("corpus_id"), col("jacc"))
  }

  /** Batch-vs-corpus CONTAINMENT — the admission-loop complement of
    * [[containmentPairs]], postings-shaped exactly like
    * [[jaccardAgainst]] (shared builder): did an arriving doc's content
    * already land inside an admitted doc (cont_batch — the embedded-
    * quote admission signal), and does the arriving doc swallow an
    * admitted one (cont_corpus — the superset signal that may justify
    * replacing the admitted doc)? Both directions score from the one
    * A-vs-B intersection count; a pair survives if EITHER reaches tau.
    * No length-ratio prune exists for containment (see
    * [[containmentPairs]]), so `maxDocFreq` is the scale dial.
    *
    * @return (batch_id, corpus_id, cont_batch, cont_corpus)
    */
  def containmentAgainst(batch: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         n: Int, tau: Double,
                         maxDocFreq: Int = Int.MaxValue,
                         cacheCorpus: Boolean = true): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val (a, b) = againstPostings(batch, corpus, idCol, textCol, n,
      maxDocFreq, cacheCorpus)
    containmentJoin(a, b, tau)
  }

  /** The containment join+score shared by [[containmentAgainst]] (text
    * inputs, tokenized per call) and [[containmentProbe]] (stored
    * postings) — one A-vs-B intersection count scoring both ordered
    * directions. Sides arrive as postings (batch_id, m_a, sh64) /
    * (corpus_id, m_b, sh64).
    */
  private def containmentJoin(a: DataFrame, b: DataFrame,
                              tau: Double): DataFrame =
    a.as("ja").join(b.as("jb"), col("ja.sh64") === col("jb.sh64"))
      .groupBy(col("batch_id"), col("corpus_id"), col("m_a"), col("m_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_batch",
        round(col("inter").cast("double") / col("m_a"), 4))
      .withColumn("cont_corpus",
        round(col("inter").cast("double") / col("m_b"), 4))
      .filter(greatest(col("cont_batch"), col("cont_corpus")) >= tau)
      .select(col("batch_id"), col("corpus_id"), col("cont_batch"),
        col("cont_corpus"))

  /** The STORABLE shingle-postings relation — containment's analogue of
    * the MinHash signature index ([[minhashCandidatesAgainst]]'s storage
    * pattern): (id, m = |shingle set|, sh64 = 64-bit shingle hash),
    * computed ONCE at admission time and persisted (parquet, ideally
    * bucketed by sh64 for co-located probes), so the steady-state
    * admission loop never re-reads or re-tokenizes corpus text. Unlike
    * the k-longs-per-doc signature index this one is postings-sized
    * (~|distinct shingles| rows/doc of 20 bytes) — the price of EXACT
    * containment, which no fixed-width sketch preserves (resemblance
    * sketches can't see the doc-inside-doc relation at any τ; see
    * [[containmentPairs]]).
    */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    explodedShingles(df, idCol, textCol, n)
      .select(col("id"), col("m"), xxhash64(col("shingle")).as("sh64"))

  /** Steady-state containment PROBE: score an arriving batch's postings
    * against a STORED corpus postings index ([[shinglePostings]]) —
    * the stored-index member of the containment family the per-batch
    * admission loop rides, closing the routing note above
    * ([[jaccardAgainst]]): per-tick cost is batch-postings × probed
    * slice, corpus text is never re-tokenized. Scoring is IDENTICAL to
    * [[containmentAgainst]] (shared join), so probe-over-stored-index
    * ≡ recompute-from-text row for row — the equivalence the
    * `dedup_containment_steady` oracle row and ExtOpsSpec's
    * "containment admission loop" ingest both pin.
    *
    * `maxDocFreq` (the essential containment scale dial — no
    * length-ratio prune exists, see [[containmentPairs]]) is applied to
    * the INDEX side at probe time, so the stored index stays exact and
    * the dial can be tightened per probe without rebuilding it.
    *
    * LAYOUT LEVER: the index is the BIG side — write it bucketed by
    * sh64 ([[Layout.writeBucketed]]) and the probe's shuffle volume is
    * the batch's postings alone; the index never moves. `LayoutSpec`
    * proves it on the plan (bucketing removes exactly the index-side
    * exchange, output identical).
    *
    * @param batchPostings (id, m, sh64) for the arriving batch
    * @param indexPostings (id, m, sh64) as persisted at admission
    * @return (batch_id, corpus_id, cont_batch, cont_corpus), either
    *         direction ≥ tau
    */
  def containmentProbe(batchPostings: DataFrame, indexPostings: DataFrame,
                       tau: Double,
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val a = batchPostings.select(col("id").as("batch_id"),
      col("m").as("m_a"), col("sh64"))
    val bAll = indexPostings.select(col("id").as("corpus_id"),
      col("m").as("m_b"), col("sh64"))
    containmentJoin(a, dropHotPostings(bAll, maxDocFreq), tau)
  }

  /** Steady-state JACCARD probe: score an arriving batch's postings
    * against a STORED corpus postings index — [[containmentProbe]]'s
    * resemblance sibling, and the near rung of the composed admission
    * ladder ([[IngestLadder.admitBatch]]). Scoring is
    * IDENTICAL to [[jaccardPairs]] (same m-from-postings, same
    * length-ratio prune — exact, since J(A,B) ≤ min/max — same 4dp
    * rounding before the τ cut), so probe-over-stored-index ≡
    * recompute-from-text row for row; a SELF-probe of one postings set
    * filtered to `batch_id < corpus_id` is exactly the [[jaccardPairs]]
    * relation, which is how the ladder's in-batch pass reuses this.
    *
    * `maxDocFreq` is applied to the INDEX side at probe time (the
    * stored index stays exact; the dial tightens per probe), matching
    * [[containmentProbe]].
    *
    * @param batchPostings (id, m, sh64) for the arriving batch
    * @param indexPostings (id, m, sh64) as persisted at admission
    * @return (batch_id, corpus_id, jacc) with jacc ≥ tau
    */
  def jaccardProbe(batchPostings: DataFrame, indexPostings: DataFrame,
                   tau: Double,
                   maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val a = batchPostings.select(col("id").as("batch_id"),
      col("m").as("m_a"), col("sh64"))
    val b = dropHotPostings(indexPostings.select(
      col("id").as("corpus_id"), col("m").as("m_b"), col("sh64")),
      maxDocFreq)
    a.as("ja").join(b.as("jb"), col("ja.sh64") === col("jb.sh64") &&
        col("m_a") >= col("m_b") * tau && col("m_b") >= col("m_a") * tau)
      .groupBy(col("batch_id"), col("corpus_id"), col("m_a"), col("m_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jacc", round(col("inter").cast("double") /
        (col("m_a") + col("m_b") - col("inter")), 4))
      .filter(col("jacc") >= tau)
      .select(col("batch_id"), col("corpus_id"), col("jacc"))
  }

  /** Index-side hot-shingle pre-filter, EXACTLY the `maxDocFreq`
    * computation [[jaccardProbe]]/[[containmentProbe]] run internally
    * (per-sh64 row count over the index = per-shingle doc frequency,
    * since postings are distinct shingles per doc), hoisted out so a
    * probe PLANNER that splits the index into slices ([[LadderBloom]]'s
    * covered/tail split, plus its reverse scan filter) can apply the
    * dial ONCE over the FULL own-batch-excluded index before any split.
    * Computing frequencies per slice instead would un-prune shingles
    * hot overall but not hot within either slice — changing
    * intersection counts, hence verdicts, versus the sidecar-less run,
    * and making replayed batches verdict-unstable across maintenance
    * folds. Callers that pre-filter with this MUST pass
    * `Int.MaxValue` to the downstream probe calls (spec-pinned in
    * `LadderBloomSpec`).
    */
  private[graft] def dropHotPostings(ix: DataFrame,
                                     maxDocFreq: Int): DataFrame =
    if (maxDocFreq == Int.MaxValue) ix
    else ix.join(broadcast(hotShingles(ix, maxDocFreq)), Seq("sh64"),
      "left_anti")

  /** [[dropHotPostings]] with the hot set MATERIALIZED (lazy cache) —
    * for callers whose probe planner consumes the filtered index in
    * SEVERAL branches (the ladder's near covered/tail + containment
    * covered/tail): without the cache each branch re-runs the full-
    * index aggregation. Returns the cache handle for the caller's
    * end-of-tick unpersist list (None when the dial is off). */
  private[graft] def dropHotPostingsCached(ix: DataFrame,
                                           maxDocFreq: Int): (DataFrame, Option[DataFrame]) =
    if (maxDocFreq == Int.MaxValue) (ix, None)
    else {
      val hot = Materialize.multiScan(hotShingles(ix, maxDocFreq))
      (ix.join(broadcast(hot), Seq("sh64"), "left_anti"), Some(hot))
    }

  /** The hot-shingle set over a postings relation: per-sh64 row count
    * (= doc frequency, postings are distinct shingles per doc) above
    * `maxDocFreq` — the ONE definition [[jaccardProbe]],
    * [[containmentProbe]] and the pre-split ladder filter all share. */
  private def hotShingles(ix: DataFrame, maxDocFreq: Int): DataFrame =
    ix.groupBy(col("sh64"))
      .agg(count(lit(1)).as("c")).filter(col("c") > maxDocFreq)
      .select(col("sh64"))

  /** Shared postings builder for the batch-vs-corpus family: (a, b) =
    * (batch postings (batch_id, m_a, sh64), corpus postings (corpus_id,
    * m_b, sh64)), with the corpus-side stop-shingle cap applied. See
    * [[jaccardAgainst]] for the cacheCorpus contract.
    */
  private def againstPostings(batch: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String, n: Int,
                              maxDocFreq: Int,
                              cacheCorpus: Boolean): (DataFrame, DataFrame) = {
    def postings(df: DataFrame, id: String, m: String): DataFrame =
      Materialize.spread(df)
        .select(col(idCol).as(id), shingleUdf(col(textCol), lit(n)).as("shs"))
        .select(col(id), size(col("shs")).as(m), explode(col("shs")).as("shingle"))
        .select(col(id), col(m), xxhash64(col("shingle")).as("sh64"))
    val (a, bAll) = if (cacheCorpus) {
      // ONE tagged union tokenized in one pass and materialized ONCE
      // (lazy cache, see [[Materialize]]): the batch and corpus postings
      // are filters over the same cached 8-byte-hash relation, so
      // neither the hot-shingle subquery nor a rerun of the operator
      // re-reads or re-tokenizes text. With two genuinely distinct
      // inputs the union is still one scan of each; with two slices of
      // the SAME table (the common batch-vs-admitted split) the text
      // pipeline runs once, not twice.
      val tagged = batch.select(col(idCol), col(textCol), lit(true).as("__is_batch"))
        .unionByName(
          corpus.select(col(idCol), col(textCol), lit(false).as("__is_batch")))
      val sh = Materialize.multiScan(
        Materialize.spread(tagged)
          .select(col(idCol).as("id"), col("__is_batch"),
            shingleUdf(col(textCol), lit(n)).as("shs"))
          .select(col("id"), col("__is_batch"), size(col("shs")).as("m"),
            explode(col("shs")).as("shingle"))
          .select(col("id"), col("__is_batch"), col("m"),
            xxhash64(col("shingle")).as("sh64")))
      (sh.filter(col("__is_batch"))
         .select(col("id").as("batch_id"), col("m").as("m_a"), col("sh64")),
       sh.filter(!col("__is_batch"))
         .select(col("id").as("corpus_id"), col("m").as("m_b"), col("sh64")))
    } else {
      // memory-bounded form: nothing is cached — each side is consumed
      // exactly once by the join (the corpus side once more by the
      // hot-shingle subquery when `maxDocFreq` is dialed), so postings
      // stream from the text scans into the shuffle and no corpus-sized
      // relation is ever held on executors
      (postings(batch, "batch_id", "m_a"), postings(corpus, "corpus_id", "m_b"))
    }
    val b = if (maxDocFreq == Int.MaxValue) bAll else {
      val hot = bAll.groupBy(col("sh64"))
        .agg(count(lit(1)).as("c")).filter(col("c") > maxDocFreq)
        .select(col("sh64"))
      bAll.join(broadcast(hot), Seq("sh64"), "left_anti")
    }
    (a, b)
  }

  /** MinHash signatures: one row per doc with `sig` = array of k minima
    * of the universal hash family over the doc's shingle set.
    *
    * Relational formulation (no UDAF): explode shingles, broadcast-join
    * the k hash params, aggregate min per (doc, hash-index), then fold
    * the k minima back into an ordered array. Three narrow shuffles on
    * (doc, hidx) / doc — each row is a handful of longs, so this scales
    * to billions of documents.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    // One aggregation pass: k independent `min((a_i*h+b_i) mod p)`
    // aggregate expressions over the exploded shingles, assembled into
    // the signature array. No param cross-join (k× row blowup), no
    // second shuffle — the map-side partial min does almost all work.
    val minExprs = hashParams(k).map { case (i, a, b) =>
      min((lit(a) * col("h32") + lit(b)) % MinhashPrime).as(s"mh$i")
    }
    explodedShingles(df, idCol, textCol, n)
      .withColumn("h32", portableHash32(col("shingle")))
      .groupBy(col("id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** ONE-PERMUTATION MinHash signatures (Li, Owen & Zhang 2012) with
    * rotation densification (Shrivastava & Li 2014): ONE portable hash
    * evaluation per shingle instead of k. The 32-bit hash is split into
    * a bin (h mod k — which signature position the shingle competes
    * for) and a value (h div k — what it competes with); each bin keeps
    * its minimum, and empty bins borrow cyclically via the codegen'd
    * [[graft.functions.OphDensify]] expression (offset hop·C, C above
    * any native value, so borrowed and native values never alias across
    * different hops).
    *
    * Why this exists next to [[minhashSignatures]]: at corpus scale
    * minhashing is HASH-dominated — the classic form evaluates k
    * universal-hash expressions per exploded shingle (k multiply-mods
    * per shingle per row even with the single-pass aggregate), OPH
    * evaluates one md5 + one divmod. The price is one extra keyed
    * exchange of ≤ k (bin, min) longs per document between the two
    * aggregations — rows already collapsed k×-to-bins by the map-side
    * partial min, the textbook trade when per-byte CPU is the
    * bottleneck. Collision semantics: position-wise collision
    * probability is Jaccard within each bin (same fixed permutation by
    * h order), densified positions inherit it from the borrowed bin —
    * the standard OPH estimator, banded by the SAME
    * [[minhashCandidates]] machinery (signatures are interchangeable
    * array<long>).
    *
    * Variance caveat (honest): OPH bins WITHOUT replacement — for
    * documents with ≪ k shingles most positions are densified copies,
    * so the per-pair estimate variance is higher than k independent
    * permutations at equal k (Shrivastava & Li quantify this; the
    * recall spec measures it on the fixture). Prefer classic signatures
    * when documents are tiny relative to k; prefer OPH when hashing
    * cost dominates (long documents, large k, 100 TB corpora).
    */
  def minhashSignaturesOph(df: DataFrame, idCol: String, textCol: String,
                           n: Int, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val c = (1L << 32) / k + 1
    val binMins = explodedShingles(df, idCol, textCol, n)
      .withColumn("h", portableHash32(col("shingle")))
      .groupBy(col("id"), (col("h") % k).cast("int").as("bin"))
      .agg(min(expr(s"h div $k")).as("mv"))
    binMins.groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("bin"), col("mv"))))
        .as("bm"))
      .select(col("id"),
        graft.functions.VectorFunctions.ophDensify(
          transform(sequence(lit(0), lit(k - 1)),
            i => element_at(col("bm"), i)), c).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature into `bands` groups
    * of `k/bands` rows, bucket on (band index, band slice), and emit
    * pairs that collide in ≥1 band, with the signature-agreement estimate
    * of Jaccard. Follows the classic MMDS banding scheme.
    */
  /** (id, sig, band, band_sig): the signature split into `bands` slices
    * of `k/bands` rows — the banding projection shared by the self-join
    * and A-vs-B candidate generators. */
  private def bandedSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature width $k must divide evenly into $bands bands " +
        "(a remainder would silently drop signature rows)")
    val rows = k / bands
    sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")
  }

  def minhashCandidates(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    // materialized once: the self-join would otherwise recompute the
    // signature aggregation (the expensive upstream) per side
    val banded = Materialize.multiScan(bandedSigs(sigs, k, bands))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.band_sig") === col("b.band_sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("est_jacc", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k, 4))
      .select(col("id_a"), col("id_b"), col("est_jacc"))
  }

  /** b-BIT minwise signatures (Li & König 2010, "b-Bit Minwise
    * Hashing"): keep only the lowest b bits of each of the k minhash
    * values. The STORAGE story for the steady-state signature index —
    * at b=1, k=64 a document's estimation signature is 64 BITS instead
    * of 64 longs (64×); Li & König show the variance lost to bit
    * collisions is bought back by raising k at a fraction of the
    * storage (their Thm 2: ~3× k at b=1 for J≈0.5 vs full-width
    * values — far cheaper than 64× space).
    *
    * DEPLOYMENT SHAPE (and why there is no `bbitCandidates`): b-bit
    * signatures are for ESTIMATION, not for band keys. A single bit
    * agrees between two UNRELATED documents with probability ≥ 1/2, so
    * a band of r one-bit rows collides at ≥ 2^−r for every pair in the
    * corpus — at sf0.1 a direct 1-bit banding run measured 304 s warm
    * against 0.28 s for full-width banding, a pure candidate flood
    * with no recall gain (the S-curve b-bit banding gives cannot be
    * steepened: more rows per band kills true-pair recall long before
    * random collisions die). Candidates therefore come from the
    * full-width LSH ([[minhashCandidates]], whose stored index is k
    * band-key hashes per doc), and the b-bit signature replaces the
    * full signature only where the bulk storage goes — the
    * per-document verification payload ([[bbitEstimates]]).
    */
  def bbitSignatures(sigs: DataFrame, b: Int): DataFrame = {
    require(b >= 1 && b <= 16, s"b must be in [1,16], got $b")
    val mask = (1L << b) - 1
    sigs.select(col("id"),
      transform(col("sig"), x => x.bitwiseAND(lit(mask))).as("bsig"))
  }

  /** Chance-corrected b-bit similarity estimates over a candidate-pair
    * relation: Ê = (â − C) / (1 − C) with â the bit-agreement fraction
    * and C = 2^−b the random-collision floor (the sparse-set
    * approximation of Li & König's C, exact when shingle sets are ≪
    * the hash space — stated, not hidden). Ê is noisier than
    * full-width agreement at equal k; the dial is k, bought back at
    * b/64 of the storage. Negative Ê is possible for far pairs —
    * callers filter.
    *
    * @param cands    (id_a, id_b) — from [[minhashCandidates]] (ids
    *                 only; any extra columns are dropped)
    * @param bbitSigs (id, bsig) from [[bbitSignatures]]
    * @return (id_a, id_b, est_jacc)
    */
  def bbitEstimates(cands: DataFrame, bbitSigs: DataFrame, k: Int,
                    b: Int): DataFrame = {
    val c = 1.0 / (1L << b)
    cands.select(col("id_a"), col("id_b"))
      .join(bbitSigs.select(col("id").as("id_a"), col("bsig").as("sa")),
        Seq("id_a"))
      .join(bbitSigs.select(col("id").as("id_b"), col("bsig").as("sb")),
        Seq("id_b"))
      .withColumn("agree",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          v => v)))
      .withColumn("est_jacc", round(
        (col("agree").cast("double") / k - lit(c)) / lit(1.0 - c), 4))
      .select(col("id_a"), col("id_b"), col("est_jacc"))
  }

  /** MinHash-LSH parameter planner card: for every (bands, rows)
    * factorization of the signature width k, the banding S-curve facts
    * a deployment decision needs (MMDS ch. 3 closed forms) — the
    * threshold s50 ≈ (1/b)^(1/r) where a pair's collision probability
    * crosses ~1/2, and the collision probability 1 − (1 − s^r)^b at
    * reference similarities 0.3/0.5/0.7/0.9. Read it as: pick the row
    * whose s50 sits just UNDER your target τ, then check p at the
    * similarities you must not miss (recall) and must not flood
    * (candidate volume). Pure closed-form math — no data scanned; the
    * value is having the whole design space as one auditable relation
    * next to the operators it parameterizes.
    */
  def lshPlan(spark: SparkSession, k: Int): DataFrame = {
    require(k >= 1, s"signature width must be >= 1, got $k")
    import spark.implicits._
    val base = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
      .toDF("n_bands", "n_rows")
    def pAt(s: Double) = round(lit(1.0) -
      pow(lit(1.0) - pow(lit(s), col("n_rows")), col("n_bands")), 4)
    base.select(col("n_bands"), col("n_rows"),
      round(pow(lit(1.0) / col("n_bands"), lit(1.0) / col("n_rows")), 4)
        .as("s50"),
      pAt(0.3).as("p030"), pAt(0.5).as("p050"),
      pAt(0.7).as("p070"), pAt(0.9).as("p090"))
  }

  /** Incremental MinHash-LSH: band-bucket candidates between an arriving
    * batch's signatures and a STORED corpus signature index — the
    * approximate complement of [[jaccardAgainst]] and the shape that
    * scales to 100 TB corpora: signatures are computed once at admission
    * (k longs per document, [[minhashSignatures]]), written bucketed by
    * (band, band_sig), and each ingest batch joins its bands against
    * the index — corpus text is never re-read, the corpus is never
    * self-paired. No id-ordering condition: the two sides are distinct
    * datasets (cf. the [[Similarity.semanticDecontaminate]] namespace
    * lesson).
    *
    * @return (batch_id, corpus_id, est_jacc)
    */
  def minhashCandidatesAgainst(batchSigs: DataFrame, corpusSigs: DataFrame,
                               k: Int, bands: Int): DataFrame = {
    val a = bandedSigs(batchSigs, k, bands)
      .select(col("id").as("batch_id"), col("sig").as("sig_a"),
        col("band"), col("band_sig"))
    val b = bandedSigs(corpusSigs, k, bands)
      .select(col("id").as("corpus_id"), col("sig").as("sig_b"),
        col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .select(col("batch_id"), col("corpus_id"),
        col("sig_a"), col("sig_b"))
      .distinct() // a pair may collide in several bands
      .withColumn("est_jacc", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k, 4))
      .select(col("batch_id"), col("corpus_id"), col("est_jacc"))
  }

  /** Connected components over a pair list — the final step of any
    * near-dup pipeline: pairs → clusters → keep one doc per cluster.
    *
    * Scale path: two-phase LARGE-STAR/SMALL-STAR contraction (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC 2014). Each round is two
    * keyed aggregate+join steps — large-star links every
    * strictly-larger neighbor of a node to its neighborhood minimum;
    * small-star links the smaller neighbors and the node itself to the
    * minimum among them — and the edge set provably converges to a
    * union of stars (every node pointing at its component's minimum)
    * in O(log² n) rounds worst-case, ~log n on real graphs. That bound
    * is the reason this replaced min-label propagation (the r13 form):
    * label propagation needs O(diameter) rounds, and the hostile shape
    * for a web-scale dedup graph is exactly a long boilerplate CHAIN —
    * thousands of rounds — while star contraction collapses a chain of
    * ANY length in ~log n rounds (spec: a 3000-link chain converges in
    * <15 rounds where 25 propagation rounds would silently mislabel;
    * measured round counts for the 500k chain and the 1000-branch broom
    * are in SCALE.md "Adversarial skew").
    * Convergence is DETECTED structurally per round, reading only the
    * current (materialized) edge set — a fixpoint of both stars is
    * exactly a star union: every src has one distinct dst and no dst
    * appears as a src. Non-convergence within `maxIter` rounds throws
    * (loud) instead of returning silently-wrong labels.
    *
    * Checkpoint durability: by default each round is `localCheckpoint`
    * (executor-local blocks — fast, but an executor lost mid-fixpoint
    * loses its blocks AND the truncated lineage needed to recompute
    * them, failing the job). On a real cluster pass `checkpointDir`
    * (HDFS/S3): each round is then written to `round_i` parquet under
    * the dir and read back — same lineage truncation, but durable, so
    * executor loss costs a file re-read instead of the fixpoint. The
    * file lifecycle is managed here (NOT via `rdd.checkpoint`, which
    * leaks one rdd-* directory per round unless the cleaner conf is
    * flipped, re-computes each round to write it, and requires mutating
    * the context-global checkpoint dir): at most TWO rounds of files
    * exist at any moment — round i−1 is deleted once round i is on
    * disk. The FINAL round's files back the returned DataFrame; delete
    * the dir when done with the result. The driver fast path is
    * unaffected (no executor state to lose).
    *
    * @return (id, cluster) where cluster = min id reachable from id
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          driverLimit: Long = 500000L,
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    // eager in both modes: the loop needs the round materialized before
    // the convergence probe anyway
    var round = 0
    def ckpt(df: DataFrame): DataFrame = checkpointDir match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$dir/round_$round")
        val back = spark.read.parquet(s"$dir/round_$round")
        if (round > 0) {
          val prev = new org.apache.hadoop.fs.Path(s"$dir/round_${round - 1}")
          prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(prev, true)
        }
        round += 1
        back
    }
    val edges = Materialize.multiScan(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    // Near-dup pair lists are orders of magnitude smaller than the corpus
    // (they're the output of an aggressive similarity filter). Below the
    // driver limit, union-find on the driver replaces O(diameter) Spark
    // jobs with one collect — the label-propagation loop below remains
    // the scale path for genuinely huge pair sets.
    val integralIds = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false // string ids take the generic distributed loop
    }
    if (integralIds && edges.count() <= driverLimit) {
      val spark = pairs.sparkSession
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // roots are already the min id of each component: union always
      // points the larger root at the smaller one
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      import spark.implicits._
      // edges is fully consumed (count + collect): release its cache
      // entry here rather than leaking one per call into a long-running
      // caller (e.g. an ingest loop's per-batch clustering)
      edges.unpersist()
      return rows.toDF("id", "cluster")
    }
    // ---- scale path: large-star/small-star contraction --------------
    // Edge set invariant throughout: (src, dst) with src > dst, no
    // self-loops, distinct — every emitted edge points DOWN the id
    // order, so both steps strictly preserve it.
    // large-star(u): every neighbor v > u gets the edge (v, m) where
    // m = min(Γ(u) ∪ {u}) — hub fan-outs collapse toward the minimum.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      sym.join(m, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // small-star(u): u and its smaller neighbors all link to the
    // minimum among them — local stars flatten one level per round.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
      e.join(m, Seq("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    var cur = ckpt(edges.filter(col("src") > col("dst")))
    var iter = 0
    var isStar = false
    while (!isStar && iter < maxIter) {
      val ls = Materialize.multiScan(largeStar(cur))
      val next = ckpt(smallStar(ls))
      ls.unpersist()
      // fixpoint test reads ONLY the just-materialized round (the
      // parquet ckpt mode has already deleted the previous round's
      // files): E is a fixpoint of both stars iff it is a union of
      // stars — every src has exactly one distinct dst, and no dst
      // (a would-be root) appears as a src
      val singleDst = next.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"), max(col("dst")).as("mx"))
        .filter(col("mn") =!= col("mx")).isEmpty
      isStar = singleDst &&
        next.select(col("dst").as("s"))
          .join(next.select(col("src").as("s")), Seq("s"), "left_semi")
          .isEmpty
      cur = next
      iter += 1
    }
    if (!isStar) {
      edges.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter contraction " +
          "rounds — raise maxIter (rounds grow ~log n; 25 covers any " +
          "realistic graph, so also check the input for id-type mixups)")
    }
    // star edges ARE the labels for non-roots; roots label themselves;
    // nodes with no canonical edge (self-loop-only ids) keep their id
    val star = cur.select(col("src").as("id"), col("dst").as("cluster"))
      .unionByName(cur.select(col("dst").as("id"), col("dst").as("cluster"))
        .distinct())
    val labels = ckpt(
      edges.select(col("src").as("id")).distinct()
        .join(star, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster"), col("id")).as("cluster")))
    // the final labels are an (eagerly materialized) checkpoint —
    // independent of edges, which can therefore be released (see above)
    edges.unpersist()
    labels
  }

  /** Passage-level exact dedup (the MassiveText/RefinedWeb paragraph-
    * dedup shape): documents are cut into fixed token-width passages
    * (non-overlapping [[Corpus.chunk]] windows — the stand-in for
    * paragraph boundaries, which this corpus lacks) and every repeated
    * passage keeps exactly its canonical FIRST occurrence (minimum
    * (doc id, chunk no) — total-order deterministic), dropping the rest.
    * This removes boilerplate that document-level dedup can't see: two
    * different pages sharing a license header are distinct documents
    * with a duplicated passage.
    *
    * Shape: one shuffle on the passage fingerprint (md5 of the
    * normalized passage, 32 bytes — documents never shuffle), where a
    * single window computes the occurrence count and the first-
    * occurrence test; callers aggregate the flags per doc or filter
    * `keep` to materialize the cleaned corpus. Passage fingerprints are
    * md5, so the whole decision is reproducible in any engine.
    *
    * @return (id, chunk_no, fp, n_occ, keep)
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
                   passageTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Corpus.chunk(df, idCol, textCol, passageTokens, overlap = 0)
      .select(col("id"), col("chunk_no"), md5(col("chunk_text")).as("fp"))
      .withColumn("n_occ", count(lit(1)).over(w))
      .withColumn("keep", struct(col("id"), col("chunk_no")) ===
        min(struct(col("id"), col("chunk_no"))).over(w))
  }

  /** Char-level exact-substring duplicate spans — the distributed form
    * of suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"). A global suffix array
    * is inherently sequential to build; instead, fingerprint
    * `winBytes`-byte windows starting at CONTENT-DEFINED anchor
    * positions — every offset where a cheap 3-point char hash of the
    * window head is ≡ 0 mod `anchorMod` — and report fingerprints
    * occurring in ≥ 2 distinct documents. Content-defined anchors make
    * detection alignment-free (the winnowing / CDC property): a span
    * shared at DIFFERENT offsets in two documents anchors at the same
    * in-span positions in both, which fixed-stride sampling only catches
    * when the offsets happen to be congruent mod the stride. Spans whose
    * interior contains no anchor can slip through — the standard CDC
    * recall trade, dialed by `anchorMod` and MEASURED in SCALE.md
    * "Anchor recall vs exact ExactSubstr" (ground truth =
    * `anchorMod = 1`, every offset):
    * byte recall 0.974 / 0.942 / 0.850 at mod 4 / 8 / 16, misses
    * concentrated entirely in spans barely longer than the window, per
    * the closed form (1 - 1/mod)^(L - win + 1).
    *
    * Shape: anchor selection AND window fingerprinting run in ONE
    * native byte pass per document ([[graft.functions.AnchorWindowMd5]]
    * — the anchor hash samples bytes 1/4/8 of the window head,
    * Gear-style), because every builtin formulation pays an O(p) UTF-8
    * seek per position (`substr` walks from the string start) — the
    * scan goes quadratic per document, measured ~5× slower at bench
    * scale. Shuffles carry only (fingerprint, doc id) pairs — expected
    * ~n/anchorMod windows per document, document text itself never
    * shuffles — through the standard two-stage distinct-count shape:
    * partial (fp, id) collapse before the first exchange, fp-final
    * after the second, both map-side-partial.
    *
    * @return (fp, n_docs, n_occ, first_doc) for spans seen in ≥ 2 docs
    */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
                        winBytes: Int = 40,
                        anchorMod: Int = 8): DataFrame = {
    anchorWins(df, idCol, textCol, winBytes, anchorMod)
      .groupBy(col("fp"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      // fps group/shuffle as raw 16-byte digests; hex only the output
      .select(lower(hex(col("fp"))).as("fp"), col("n_docs"), col("n_occ"),
        col("first_doc"))
  }

  /** (id, p, fp) anchored-window relation shared by the substring ops.
    * The normalize + per-offset fingerprint scan is the family's
    * CPU-heavy narrow stage, so the input is spread to session
    * parallelism FIRST ([[Materialize.spread]], no-op on real multi-
    * split inputs): a single small parquet file is one split, and
    * without the spread the whole explode-and-md5 pass — and the one-
    * partition cache every consumer then scans — runs in ONE task
    * regardless of cluster size (measured 6.5 s → 2.8 s warm on
    * dedup_substr_rewrite at sf0.1, r19). */
  private[ext] def anchorWins(df: DataFrame, idCol: String, textCol: String,
                         winBytes: Int, anchorMod: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    Materialize.spread(df.select(col(idCol).as("id"), col(textCol).as("__t0")))
      .select(col("id"), TextOps.normalized(col("__t0")).as("t"))
      .select(col("id"), explode(graft.functions.VectorFunctions
        .anchorWindows(col("t"), winBytes, anchorMod)).as("w"))
      .select(col("id"), col("w.p").as("p"), col("w.fp").as("fp"))
  }

  /** Winnow-selected (id, p, fp) window relation — the
    * [[anchorWins]] sibling with Schleimer-Wilkerson-Aiken 2003
    * selection (see [[graft.functions.WinnowWindowMd5]]). */
  private[ext] def winnowWins(df: DataFrame, idCol: String, textCol: String,
                              winBytes: Int, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    // spread before the heavy narrow stage — see [[anchorWins]]
    Materialize.spread(df.select(col(idCol).as("id"), col(textCol).as("__t0")))
      .select(col("id"), TextOps.normalized(col("__t0")).as("t"))
      .select(col("id"), explode(graft.functions.VectorFunctions
        .winnowWindows(col("t"), winBytes, k)).as("w"))
      .select(col("id"), col("w.p").as("p"), col("w.fp").as("fp"))
  }

  /** [[substringDupSpans]] under WINNOWING selection instead of
    * content-defined anchors: detection of any cross-document span of
    * ≥ winBytes + k − 1 bytes is GUARANTEED (both documents must
    * select a common in-span fingerprint — the winnowing theorem),
    * where the anchor scheme's recall follows the probabilistic
    * (1−1/mod)^(L−win+1) law and can miss spans barely longer than the
    * window at ANY mod. Density ~2/(k+1) per position plays anchorMod's
    * cost role, so k≈2·mod−1 is the like-for-like dial. Same shuffle
    * shape (only (fp, id) pairs move).
    *
    * @return (fp, n_docs, n_occ, first_doc) for spans seen in ≥ 2 docs
    */
  def substringDupSpansWinnowed(df: DataFrame, idCol: String,
                                textCol: String, winBytes: Int = 40,
                                k: Int = 15): DataFrame =
    winnowWins(df, idCol, textCol, winBytes, k)
      .groupBy(col("fp"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      // raw digests internally; hex only the output (see substringDupSpans)
      .select(lower(hex(col("fp"))).as("fp"), col("n_docs"), col("n_occ"),
        col("first_doc"))

  /** Per-document duplicated-span COVERAGE — the decision step of
    * ExactSubstr dedup: how much of each document is covered by spans
    * that repeat ANYWHERE in the corpus (other documents or the same
    * one)? Lee et al. cut the repeated spans out; at pipeline scale the
    * per-document score — covered bytes / total bytes — is what feeds
    * the keep/drop/rewrite policy, and a document dominated by repeated
    * material (mirrors, quote farms, licence boilerplate) scores near
    * 10000 bp regardless of its exact-dedup fingerprint being unique.
    *
    * ALL units are UTF-8 BYTES of the normalized text: window positions
    * come from [[graft.functions.AnchorWindowMd5]]'s byte scan, so the
    * denominator is `octet_length` of the same normalized string — on
    * non-ASCII documents a char denominator would inflate cov_bp by up
    * to the bytes-per-char ratio (≈3× on CJK) and mis-trigger the
    * `dropAtBp` policy on exactly the multilingual corpora this
    * operator targets.
    *
    * Overlapping duplicated windows must not double-count, so coverage
    * is the INTERVAL UNION of the [p, p+win) windows: per document,
    * order dup windows by start, open a new island when p clears the
    * running max end ([[gaps-and-islands]], rows-frame running max —
    * every step integer-exact and engine-portable). Shape: per-fp
    * occurrence counts come from `groupBy(fp).count()` — which DOES
    * partial-aggregate map-side, unlike a count-over-window that
    * shuffles the full (id, p, fp) relation — joined back to the
    * windows by fp; the island pass is windows partitioned BY DOCUMENT —
    * parallelism scales with document count, no global sort anywhere;
    * docs with no duplicated span keep coverage 0 via the left join.
    *
    * @return (id, n_bytes, n_dup_windows, covered_bytes, cov_bp, drop)
    */
  def substringDupCoverage(df: DataFrame, idCol: String, textCol: String,
                           winBytes: Int = 40, anchorMod: Int = 8,
                           dropAtBp: Int = 5000): DataFrame = {
    // materialized: the window relation feeds BOTH the fp-count
    // aggregate and the join side — without the cache the full
    // normalize + anchor scan of the corpus runs twice (the subtrees
    // differ, so neither exchange reuse nor CacheManager dedupes them)
    val wins = Materialize.multiScan(
      anchorWins(df, idCol, textCol, winBytes, anchorMod))
    val dupFps = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("fp"))
    val dup = wins.join(dupFps, Seq("fp"))
    val base = df.select(col(idCol).as("id"),
      octet_length(TextOps.normalized(col(textCol))).as("n_bytes"))
    coverageOf(dup, base, winBytes)
      .withColumn("drop", col("cov_bp") >= dropAtBp)
  }

  /** The island pass shared by [[substringDupCoverage]] and the
    * streaming admission guard ([[IncrementalCoverage]]): interval
    * union of `(id, p)` dup windows → per-doc covered bytes → basis
    * points against `base` = (id, n_bytes).
    *
    * @return (id, n_bytes, n_dup_windows, covered_bytes, cov_bp)
    */
  private[ext] def coverageOf(dup: DataFrame, base: DataFrame,
                              winBytes: Int): DataFrame = {
    val cov = islandsOf(dup, winBytes).groupBy(col("id"))
      .agg(sum(col("e") - col("s")).as("covered_bytes"),
        sum(col("n_win")).as("n_dup_windows"))
    base
      .join(cov, Seq("id"), "left")
      .select(col("id"),
        col("n_bytes").cast("long").as("n_bytes"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_bytes"), lit(0L)).as("covered_bytes"),
        when(col("n_bytes") > 0,
          floor(coalesce(col("covered_bytes"), lit(0L)) * 10000 / col("n_bytes")))
          .otherwise(lit(0)).cast("long").as("cov_bp"))
  }

  /** Gaps-and-islands interval union of `(id, p)` dup windows — the
    * shared span-reconstruction pass of [[coverageOf]] and
    * [[exactDupSpans]]: per document, order windows by start, open a
    * new island when `p` clears the running max end. Window partitioned
    * BY DOCUMENT — parallelism scales with document count.
    *
    * @return (id, isl_id, s, e, n_win): 1-based byte start, exclusive end
    */
  private[ext] def islandsOf(dup: DataFrame, winBytes: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("p"))
    val prevEnd = max(col("p") + winBytes).over(
      byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    dup
      .withColumn("new_isl",
        when(col("p") > coalesce(prevEnd, lit(-1)), lit(1)).otherwise(lit(0)))
      .withColumn("isl_id", sum(col("new_isl")).over(byDoc))
      .groupBy(col("id"), col("isl_id"))
      .agg(min(col("p")).as("s"), (max(col("p")) + winBytes).as("e"),
        count(lit(1)).as("n_win"))
  }

  /** EXACT duplicated-span extraction — the recall = 1 complement of
    * the anchor-window approximation, producing Lee et al. 2022's
    * ExactSubstr output shape: the maximal regions of each document
    * covered by substrings of length ≥ `minLen` bytes that repeat
    * anywhere in the corpus (other documents or the same one). Same
    * machinery as [[substringDupCoverage]] with a window at EVERY byte
    * offset (anchorMod = 1): a duplicated span of length L ≥ minLen
    * contributes all L−minLen+1 of its windows, every one of them
    * corpus-duplicated, so the per-document interval union of dup
    * windows IS the exact maximal-span set — no CDC recall trade.
    *
    * Why windows and not a suffix array: a distributed suffix sort buys
    * the same exactness with a lower constant (each suffix sorts once
    * vs one digest per offset), but is a multi-round sort of the whole
    * corpus; the window form reuses the one-pass native byte scan and
    * the standard two-stage duplicate aggregate, shuffles (fp, id, p)
    * rows only, and its n-windows-per-n-byte-document cost is the
    * honest price of exactness — `anchorMod` is the dial that buys
    * ~1/mod of that cost back at measured 0.85–0.97 byte recall
    * (SCALE.md "Anchor recall vs exact ExactSubstr"). Fingerprints are md5 (128-bit): at 10^14
    * windows the collision expectation is ~10^-11, so "exact" holds at
    * any realistic corpus scale.
    *
    * @return (id, s, e, span_bytes): 1-based byte start, exclusive end,
    *         one row per maximal duplicated span
    */
  def exactDupSpans(df: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 40): DataFrame = {
    // the window relation feeds the fp-count aggregate AND the join side
    val wins = Materialize.multiScan(
      anchorWins(df, idCol, textCol, minLen, anchorMod = 1))
    val dupFps = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("fp"))
    islandsOf(wins.join(dupFps, Seq("fp")), minLen)
      .select(col("id"), col("s"), col("e"),
        (col("e") - col("s")).as("span_bytes"))
  }

  /** EXACT duplicated-span extraction via DISTRIBUTED PREFIX DOUBLING —
    * Manber & Myers' suffix-array construction (the data structure
    * Lee et al. 2022 actually build for ExactSubstr, §4.1) re-expressed
    * as ⌈log₂ 2^⌊log₂ minLen⌋⌉ rounds of rank refinement over
    * DataFrames, producing BYTE-IDENTICAL output to [[exactDupSpans]]
    * (same maximal-island relation; a spec pins equality and the
    * declared query shares `dedup_substr_exact`'s oracle):
    *
    *   1. the corpus explodes to one row per byte position (id, p, n)
    *      with rank r₀ = dense rank of the 4-BYTE slice at p (the
    *      textbook radix shortcut: seeding with width-8 classes skips
    *      the first three doubling rounds — 2 rounds to width 32
    *      instead of 5, the widest seed that still leaves ≥ 2 genuine
    *      doubling rounds at the default minLen (a wider seed would
    *      degenerate the construction into the plain suffix sort that
    *      [[exactDupSpansLcp]] already is); a slice truncated by the
    *      doc end is a shorter binary, which sorts and ranks
    *      distinctly from every full slice, the same argument as the
    *      sentinel in step 2);
    *   2. round k: rank_{k}(p) = dense rank of the pair
    *      (rank_{k−1}(p), rank_{k−1}(p + 2^{k−1})), absent second
    *      component ⇒ sentinel 0 (the truncated suffix sorts first,
    *      and a truncated suffix can never share a rank with a full
    *      one — the sentinel pair differs). Dense ranks come from
    *      [[Prefix.globalRowNumber]] over the DISTINCT pair relation —
    *      fully distributed, no single-partition sort anywhere;
    *   3. after reaching width w = 2^⌊log₂ minLen⌋, a length-minLen
    *      window duplicates iff its OVERLAPPING rank pair
    *      (rank(p), rank(p + minLen − w)) repeats (the standard
    *      two-anchor trick for non-power-of-two lengths);
    *   4. the shared [[islandsOf]] interval union yields the maximal
    *      spans.
    *
    * WHY THIS EXISTS next to [[exactDupSpans]]: the window-hash pass
    * shuffles one (16-byte fp, id, p) digest per byte offset — ~32
    * bytes × corpus bytes, ONE shuffle. Prefix doubling shuffles
    * (id, p, 8-byte rank) triples per round (join + distinct + rank ≈
    * 3 exchanges of ~24 bytes × corpus bytes, × ⌊log₂ minLen⌋ − 3
    * rounds after the width-8 seed) — measured 4.1× the window-hash
    * pass's wall at equal input (12.3 s vs 3.0 s warm, sf0.1
    * documents, 1.5 MB corpus — SCALE.md). Its value is as the VALIDATED reference
    * implementation of the published algorithm (and the shape you'd
    * extend for suffix-array uses the window hash can't serve:
    * longest-common-prefix statistics, arbitrary-length maximal
    * matches without fixing minLen up front — since realized as
    * [[lcpPerPosition]] and [[exactDupSpansLcp]], which also replaces
    * this pass as the practical form of the published algorithm:
    * 2.2 s warm vs 15.5 s here at equal input). Production guidance
    * unchanged: [[exactDupSpans]] for the fixed-minLen cut.
    *
    * Each round is CHECKPOINTED (the [[connectedComponents]] contract,
    * same dial): iterative rank refinement nests round k−1's plan
    * inside round k's, so without lineage truncation the plan TREE —
    * and every plan string the UI or an explain renders — grows
    * exponentially in rounds (the unchecked form OOMs in
    * `explainString` before any data moves). `localCheckpoint` by
    * default (executor-local blocks; an executor lost mid-build fails
    * the job); pass `checkpointDir` on a real cluster for durable
    * round files (two rounds of files at most, lifecycle managed
    * here).
    *
    * @return (id, s, e, span_bytes) — identical to [[exactDupSpans]]
    */
  def exactDupSpansSA(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 40,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val spark = df.sparkSession
    var round = 0
    def ckpt(d: DataFrame): DataFrame = checkpointDir match {
      case None => d.localCheckpoint()
      case Some(dir) =>
        d.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$dir/round_$round")
        val back = spark.read.parquet(s"$dir/round_$round")
        if (round > 0) {
          val prev = new org.apache.hadoop.fs.Path(s"$dir/round_${round - 1}")
          prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(prev, true)
        }
        round += 1
        back
    }
    val base = df.select(col(idCol).as("id"),
        encode(TextOps.normalized(col(textCol)), "UTF-8").as("bin"))
      .withColumn("n", length(col("bin")))
    val width = Integer.highestOneBit(minLen) // 2^floor(log2 minLen)
    val seed = math.min(8, width) // initial rank width (radix shortcut)
    // one row per byte position; the seed-width slice is projected in
    // the generate stage and dropped before anything shuffles
    val bytes = base.filter(col("n") >= minLen)
      .select(col("id"), col("n"), col("bin"),
        explode(sequence(lit(1), col("n"))).as("p"))
      .select(col("id"), col("n"), col("p"),
        substring(col("bin"), col("p"), lit(seed)).as("b"))
    val seedRanks = Prefix.globalRowNumber(
      bytes.select(col("b")).distinct(), Seq(col("b")), "r")
    // no broadcast hint: distinct seed-width slices are corpus-sized in
    // the worst case (4-grams, not bytes) — AQE broadcasts when small
    var ranked = ckpt(bytes.join(seedRanks, Seq("b"))
      .select(col("id"), col("n"), col("p"), col("r")))
    var len = seed
    while (len < width) {
      val shifted = ranked.select(col("id"), (col("p") - len).as("p"),
        col("r").as("r2"))
      val paired = ranked.join(shifted, Seq("id", "p"), "left")
        .select(col("id"), col("n"), col("p"), col("r"),
          coalesce(col("r2"), lit(0L)).as("r2"))
      val pairRanks = Prefix.globalRowNumber(
        paired.select(col("r"), col("r2")).distinct(),
        Seq(col("r"), col("r2")), "nr")
      ranked = ckpt(paired.join(pairRanks, Seq("r", "r2"))
        .select(col("id"), col("n"), col("p"), col("nr").as("r")))
      len *= 2
    }
    // two-anchor window identity for length minLen (shift 0 when minLen
    // is a power of two: the pair degenerates to (r, r), still correct)
    val shift = minLen - width
    val anchor2 = ranked.select(col("id"), (col("p") - shift).as("p"),
      col("r").as("r2"))
    val wins = ranked.filter(col("p") <= col("n") - minLen + 1)
      .join(anchor2, Seq("id", "p"))
      .select(col("id"), col("p"), col("r"), col("r2"))
    val dupPairs = wins.groupBy(col("r"), col("r2"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("r"), col("r2"))
    islandsOf(wins.join(dupPairs, Seq("r", "r2"))
        .select(col("id"), col("p")), minLen)
      .select(col("id"), col("s"), col("e"),
        (col("e") - col("s")).as("span_bytes"))
  }

  /** EXACT duplicated-span REWRITE — Lee et al. 2022's actual dedup
    * ACTION (§4.2: remove all but one occurrence of each duplicated
    * substring), byte-true: every document is reassembled from the
    * bytes OUTSIDE its redundant duplicated spans, where a window
    * occurrence is redundant iff its fingerprint repeats in the corpus
    * AND it is not the fingerprint's canonical (lexicographic-min
    * (id, p)) occurrence. Canonical-first retention makes the choice
    * total-order deterministic in any engine; an exact duplicate
    * document degenerates to a full-span cut (empty rewrite) with the
    * canonical copy untouched — whole-document dedup falls out as the
    * boundary case. Overlap corner case: the interval union cuts WHOLE
    * islands of redundant windows, so when a canonical window sits
    * inside a doc whose NEIGHBORING windows are redundant (the island
    * engulfs it), that canonical occurrence's bytes are cut along with
    * the island and all copies of that particular window can vanish —
    * "one retained copy per duplicated region" holds for regions whose
    * canonical occurrence is not itself engulfed (Lee et al.'s cut has
    * the same property; the oracle replays identical semantics).
    *
    * Shape: the [[exactDupSpans]] machinery (every-offset native byte
    * scan, digest-only shuffles) with the canonical pick as a
    * `min(struct(id, p))` AGGREGATE on the fp key — map-side
    * collapsible, never a per-fp window sort — then the shared
    * [[islandsOf]] interval union over the REDUNDANT windows only, a
    * per-doc `lag` complement into kept segments, and an ordered
    * BINARY stitch (sorted higher-order concat over byte slices — a
    * cut boundary may split a multibyte char, so re-encoding through
    * strings would corrupt the digest; bytes never do). Parallelism
    * scales with document count throughout; nothing ever sorts
    * globally.
    *
    * @return (id, n_bytes, n_spans_cut, cut_bytes, clean_bytes,
    *         clean_fp) — clean_fp = md5 of the surviving bytes;
    *         clean_bytes ≡ n_bytes − cut_bytes by construction
    */
  def exactSpanRewrite(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 40): DataFrame =
    exactSpanRewriteBin(df, idCol, textCol, minLen)
      .select(col("id"), col("n_bytes"), col("n_spans_cut"), col("cut_bytes"),
        length(col("clean_bin")).cast("long").as("clean_bytes"),
        md5(col("clean_bin")).as("clean_fp"))

  /** [[exactSpanRewrite]] behind a WINNOWED candidate pass — the
    * guaranteed-recall form of a SAMPLED-density rewrite. The
    * every-offset pass above fingerprints one window per byte, which
    * is exact but pays ~32 shuffle bytes per corpus byte; the cheap
    * alternatives sample fingerprints, and sampling choices split two
    * ways: CDC anchors miss spans by the probabilistic
    * (1−1/mod)^(L−win+1) law at ANY length, while winnowing
    * (Schleimer et al. 2003) detects EVERY duplicated span of
    * ≥ minLen+k−1 bytes by theorem. This operator makes that guarantee
    * carry through to the CUT, not just detection, in two passes:
    *
    *  1. WINNOW pass (density ~2/(k+1)) over the whole corpus flags
    *     candidate docs — owners of any winnow-selected fingerprint
    *     occurring ≥ 2 times (cross-doc or self-repeat, the same cut
    *     rule as the exact pass);
    *  2. EXACT pass: [[exactSpanRewrite]]'s every-offset machinery
    *     over the candidate docs only; everything else passes through
    *     uncut (and owes that to the theorem: an unflagged doc
    *     provably shares no span of ≥ minLen+k−1 bytes with ANY doc).
    *
    * CONTRACT: byte-identical to [[exactSpanRewrite]] whenever every
    * duplicated region in the corpus is ≥ minLen+k−1 bytes (the spec
    * pins this on fixtures where the CDC anchor rule provably misses).
    * Regions in [minLen, minLen+k−1) may escape the candidate pass —
    * or lose an occurrence for the canonical pick when one of their
    * docs is unflagged — so the recall floor is the EXPLICIT
    * deterministic minLen+k−1, dialed by k, instead of the anchor
    * law's "any length, with probability". At 100 TB the cost shape is
    * the point: the sparse pass reads everything once at ~2/(k+1)
    * density, and the expensive every-offset pass runs only over the
    * duplication-bearing minority of documents.
    *
    * @return (id, n_bytes, n_spans_cut, cut_bytes, clean_bytes,
    *         clean_fp) — the [[exactSpanRewrite]] schema
    */
  def exactSpanRewriteWinnowed(df: DataFrame, idCol: String,
                               textCol: String, minLen: Int = 40,
                               k: Int = 15): DataFrame = {
    val winW = Materialize.multiScan(
      winnowWins(df, idCol, textCol, minLen, k))
    val dupFps = winW.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") >= 2)
      .select(col("fp"))
    val candIds = winW.join(dupFps, Seq("fp"), "left_semi")
      .select(col("id")).distinct()
    val cands = df.join(candIds, df(idCol) === candIds("id"), "left_semi")
    spanRewriteBinFrom(df, idCol, textCol, minLen,
        anchorWins(cands, idCol, textCol, minLen, anchorMod = 1))
      .select(col("id"), col("n_bytes"), col("n_spans_cut"), col("cut_bytes"),
        length(col("clean_bin")).cast("long").as("clean_bytes"),
        md5(col("clean_bin")).as("clean_fp"))
  }

  /** [[exactSpanRewrite]] up to the stitched surviving BYTES — the
    * consumable rewrite (curation ladder v4 packs these) rather than
    * its fingerprint summary.
    * @return (id, n_bytes, n_spans_cut, cut_bytes, clean_bin)
    */
  private[graft] def exactSpanRewriteBin(df: DataFrame, idCol: String,
                                         textCol: String,
                                         minLen: Int): DataFrame =
    spanRewriteBinFrom(df, idCol, textCol, minLen,
      anchorWins(df, idCol, textCol, minLen, anchorMod = 1))

  /** The rewrite machinery shared by [[exactSpanRewriteBin]] (every-
    * offset windows over the whole corpus) and
    * [[exactSpanRewriteWinnowed]] (every-offset windows over the
    * winnow-flagged candidate docs only): canonical pick, island
    * union, complement stitch. `winsIn` is the (id, p, fp) window
    * relation to cut from; docs absent from it pass through uncut via
    * the left joins.
    */
  private def spanRewriteBinFrom(df: DataFrame, idCol: String,
                                 textCol: String, minLen: Int,
                                 winsIn: DataFrame): DataFrame = {
    val wins = Materialize.multiScan(winsIn)
    val canon = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("id"), col("p"))).as("canon"))
      .filter(col("n_occ") >= 2)
      .select(col("fp"), col("canon"))
    val redundant = wins.join(canon, Seq("fp"))
      .filter(struct(col("id"), col("p")) =!= col("canon"))
      .select(col("id"), col("p"))
    stitchComplementBin(df, idCol, textCol, minLen, redundant)
  }

  /** The island-union + complement-stitch half of the rewrite: cut
    * every byte covered by a `minLen`-byte window starting at a
    * position in `redundant` (id, p) from the doc's normalized bytes,
    * and stitch the survivors in order. Docs absent from `redundant`
    * pass through uncut. Shared by the self-dedup rewrites (redundant =
    * non-canonical duplicate windows) and the decontamination rewrite
    * ([[Corpus.decontaminateRewrite]] — redundant = benchmark-matching
    * windows, where NO occurrence is canonical: leaked eval content is
    * cut wherever it appears).
    */
  private[graft] def stitchComplementBin(df: DataFrame, idCol: String,
                                         textCol: String, minLen: Int,
                                         redundant: DataFrame): DataFrame = {
    // spans is doc-cardinality-small but feeds THREE consumers
    // (headSegs, cuts → tailSegs, and the final left join); without the
    // persist each consumer subtree replays the whole canon aggregate +
    // island pass over the full window relation — three ~57 MB shuffles
    // of the same data at sf0.1 instead of one (measured r19)
    val spans = Materialize.multiScan(islandsOf(redundant, minLen))
    // normalize+encode is this pass's CPU-heavy narrow stage and feeds
    // three consumers — spread it like [[anchorWins]] does
    val base = Materialize.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__t0")))
      .select(col("id"),
        encode(TextOps.normalized(col("__t0")), "UTF-8").as("bin"))
      .withColumn("n", length(col("bin")))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    val headSegs = spans
      .withColumn("seg_s", coalesce(lag(col("e"), 1).over(byDoc), lit(1)))
      .select(col("id"), col("seg_s"), col("s").as("seg_e"))
    val cuts = spans.groupBy(col("id"))
      .agg(max(col("e")).as("last_e"), count(lit(1)).as("n_spans_cut"),
        sum(col("e") - col("s")).as("cut_bytes"))
    val tailSegs = cuts.join(base.select(col("id"), col("n")), Seq("id"))
      .select(col("id"), col("last_e").as("seg_s"), (col("n") + 1).as("seg_e"))
    val stitched = headSegs.unionByName(tailSegs)
      .filter(col("seg_e") > col("seg_s"))
      .join(base, Seq("id"))
      .select(col("id"), col("seg_s"),
        expr("substring(bin, seg_s, seg_e - seg_s)").as("seg"))
      .groupBy(col("id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("seg_s"), col("seg")))),
          x => x.getField("seg")),
        lit(Array.emptyByteArray),
        (acc, s) => concat(acc, s)).as("clean_bin"))
    base
      .join(cuts, Seq("id"), "left")
      .join(stitched, Seq("id"), "left")
      .select(col("id"), col("n").cast("long").as("n_bytes"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("cut_bytes"), lit(0L)).cast("long").as("cut_bytes"),
        // no cut spans -> the whole document survives; cut spans but no
        // surviving segment -> the EMPTY rewrite (fully duplicated doc)
        when(col("n_spans_cut").isNull, col("bin"))
          .otherwise(coalesce(col("clean_bin"), lit(Array.emptyByteArray)))
          .as("clean_bin"))
  }

  /** Duplicated-span PROVENANCE — the audit trail of
    * [[exactSpanRewrite]]'s cuts: for every redundant maximal span,
    * where does the canonical copy live? One row per span with
    * `(src_id, src_p)` = the canonical (lexicographic-min (id, p))
    * occurrence of the span's LEADING window — deterministic, and the
    * right single answer for the dominant cases (mirrored documents,
    * license boilerplate, quote farms share whole regions). A merged
    * island can interleave windows whose canonical occurrences differ
    * (A's head overlaps doc X, its tail doc Y) — the leading-window
    * attribution is the documented tie-break; per-window provenance is
    * the `wins ⋈ canon` relation itself if a consumer needs it all.
    *
    * Shape: [[exactSpanRewrite]]'s machinery plus ONE equi-join of the
    * island heads back to the redundant-window relation on (id, p = s)
    * — digests and integers only, nothing new shuffles document text.
    *
    * @return (id, s, e, span_bytes, src_id, src_p): byte span [s, e) of
    *         doc `id` duplicates content whose canonical copy begins at
    *         byte `src_p` of doc `src_id`
    */
  def spanAttribution(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 40): DataFrame = {
    val wins = Materialize.multiScan(
      anchorWins(df, idCol, textCol, minLen, anchorMod = 1))
    val canon = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("id"), col("p"))).as("canon"))
      .filter(col("n_occ") >= 2)
      .select(col("fp"), col("canon"))
    val redundant = Materialize.multiScan(wins.join(canon, Seq("fp"))
      .filter(struct(col("id"), col("p")) =!= col("canon"))
      .select(col("id"), col("p"), col("canon")))
    val spans = islandsOf(redundant.select(col("id"), col("p")), minLen)
    val heads = redundant.select(col("id").as("__rid"), col("p").as("__rp"),
      col("canon"))
    spans.join(heads,
        col("id") === col("__rid") && col("s") === col("__rp"))
      .select(col("id"), col("s"), col("e"),
        (col("e") - col("s")).as("span_bytes"),
        col("canon.id").as("src_id"), col("canon.p").as("src_p"))
  }

  /** Passage-dedup REWRITE: reassemble each document from its KEPT
    * passages (canonical-first retention, deterministic chunk order) —
    * the cleaned corpus a training run would actually read, fingerprinted
    * so every byte of the reassembly is checkable.
    *
    * ONE chunk pass: the fingerprint window and the reassembly aggregate
    * consume the same chunk relation in a single pipeline (fp-window
    * shuffle → id-agg shuffle). Composing [[passageDedup]] with a
    * re-chunk join instead tokenizes the corpus twice and pays a third
    * shuffle for the join — measured ~40% slower at bench scale.
    *
    * @return (id, n_kept, clean_fp) — clean_fp = md5 of the kept
    *         passages joined in chunk order
    */
  def passageRewrite(df: DataFrame, idCol: String, textCol: String,
                     passageTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Corpus.chunk(df, idCol, textCol, passageTokens, overlap = 0)
      .withColumn("fp", md5(col("chunk_text")))
      .withColumn("keep", struct(col("id"), col("chunk_no")) ===
        min(struct(col("id"), col("chunk_no"))).over(w))
      .filter(col("keep"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("chunk_no"), col("chunk_text")))),
          x => x.getField("chunk_text")), " ")).as("clean_fp"))
  }

  /** Cluster survivor selection — the decision step that turns cluster
    * assignments ([[connectedComponents]]) into "keep THIS doc, drop the
    * rest": per cluster, the member with the highest score survives
    * (ties broken by the smaller id, so the choice is total-order
    * deterministic in any engine).
    *
    * Shape: one equi-join on the doc id + one keyed aggregation on the
    * cluster id — the argmax is a `max(struct(score, -id))` aggregate,
    * not a per-cluster window, so map-side partial merge collapses
    * cluster members before the exchange and a hot cluster (boilerplate
    * that matched a million docs) never funnels through one task's sort.
    *
    * @param clusters (id, cluster) as produced by [[connectedComponents]]
    * @param scores   (id, score) — any integral quality measure
    *                 (token count, quality points, …)
    * @return (cluster_id, survivor_id, n_members, dropped_score) where
    *         dropped_score = total score of the non-surviving members
    */
  def survivors(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.join(scores, "id")
      .groupBy(col("cluster"))
      .agg(
        max(struct(col("score").as("score"), (-col("id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"),
        sum(col("score")).as("total_score"))
      .select(col("cluster").as("cluster_id"),
        (-col("best.neg_id")).as("survivor_id"),
        col("n_members"),
        (col("total_score") - col("best.score")).as("dropped_score"))

  /** 60-bit SimHash signatures, one row per doc: per bit j, sum ±1 over
    * the token hashes' bit j and take the sign. One pass per token via
    * the [[graft.functions.SimhashSig]] aggregate — a single int[60]
    * counter buffer updated in a tight primitive loop, with map-side
    * partial merge. (Round 2 used 60 separate `sum` aggregate
    * expressions: right shape, but each row paid 60 shift/mask partial-
    * agg updates through 60 buffer fields — a 1.7× regression.)
    * Token hash is [[TextOps.portableHash]] (60-bit md5 prefix) so the
    * full signature — and therefore the band join — is reproducible in
    * any engine with md5: this is what makes dedup_simhash oracle-checkable.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    Materialize.spread(df)
      .select(col(idCol).as("id"),
        TextOps.tokens(TextOps.normalized(col(textCol))).as("toks"))
      .select(col("id"), explode(col("toks")).as("tok"))
      .withColumn("h", TextOps.portableHash(col("tok")))
      .groupBy(col("id"))
      .agg(graft.functions.VectorFunctions.simhashSig(col("h")).as("sig"))
  }

  /** SimHash near-dup pairs within hamming distance `maxDist`, using the
    * pigeonhole band trick: split the 60-bit signature into `maxDist+1`
    * bands; any pair within the radius must agree exactly on ≥1 band, so
    * candidates come from band-bucket joins, never all-pairs. Keep
    * `maxDist` small: band width 60/(maxDist+1) bits controls bucket
    * selectivity (4-bit bands ⇒ 16 buckets ⇒ quadratic blowup).
    */
  private def requireSimhashRadius(maxDist: Int): Unit =
    require(maxDist >= 0 && maxDist < 12,
      s"maxDist $maxDist out of range: bands need >=5 bits each " +
        "(wider radii make band buckets non-selective — use MinHash)")

  /** (id, sig, bk = struct(band, key)): the pigeonhole banding of a
    * 60-bit signature, shared by the self-join and A-vs-B forms. */
  private def simhashBanded(sigs: DataFrame, maxDist: Int): DataFrame = {
    val nBands = maxDist + 1
    val bandBits = 60 / nBands
    val mask = (1L << bandBits) - 1
    sigs.select(col("id"), col("sig"),
      explode(array((0 until nBands).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bandBits).bitwiseAND(lit(mask))
          .as("key"))): _*)).as("bk"))
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame = {
    requireSimhashRadius(maxDist)
    val sigs = simhashSignatures(df, idCol, textCol)
    // materialized once: per-side recomputation would tokenize + hash +
    // aggregate the corpus twice (see jaccardPairs)
    val banded = Materialize.multiScan(simhashBanded(sigs, maxDist))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental SimHash: an arriving batch's signatures banded against
    * a STORED corpus signature index — the cheapest index of the
    * incremental family (ONE long per admitted document). Same
    * pigeonhole guarantee as [[simhashPairs]] (a pair within the radius
    * agrees on ≥1 band); no id-ordering condition because the sides are
    * distinct datasets.
    *
    * @param batchSigs  (id, sig) of the arriving batch ([[simhashSignatures]])
    * @param corpusSigs (id, sig) index of the admitted corpus
    * @return (batch_id, corpus_id, hamming)
    */
  def simhashAgainst(batchSigs: DataFrame, corpusSigs: DataFrame,
                     maxDist: Int): DataFrame = {
    requireSimhashRadius(maxDist)
    val a = simhashBanded(batchSigs, maxDist)
      .select(col("id").as("batch_id"), col("sig").as("sig_a"), col("bk"))
    val b = simhashBanded(corpusSigs, maxDist)
      .select(col("id").as("corpus_id"), col("sig").as("sig_b"), col("bk"))
    a.join(b, Seq("bk"))
      .select(col("batch_id"), col("corpus_id"), col("sig_a"), col("sig_b"))
      .distinct() // a pair may collide in several bands
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
  }

  /** Per-position LONGEST DUPLICATED PREFIX (capped) — the LCP statistic
    * the suffix-array literature computes from the LCP array (Manber &
    * Myers 1993; the structure Lee et al. 2022 §4.1 walk for ExactSubstr),
    * re-expressed as ONE distributed range sort plus a codegen'd byte
    * loop — no fixed minLen, no per-round iteration:
    *
    *   1. every byte position projects its cap-TRUNCATED suffix slice
    *      (binary comparison is bytewise-unsigned with shorter-prefix-
    *      first, i.e. exactly lexicographic suffix order truncated at
    *      `cap`); the doc binary is dropped before anything shuffles;
    *   2. [[Prefix.adjacentPairs]] over (slice, id, p) walks the suffix
    *      array truncated at cap — ONE range sort, fully distributed,
    *      ties on the slice split across partitions by the unique
    *      (id, p) tiebreaker; successors come from a per-partition
    *      window `lead` plus a broadcast boundary relation, never a
    *      rank self-join re-shuffling the slices;
    *   3. for each ADJACENT pair in that order, the LCP is the common-
    *      prefix byte length of the two slices ([[graft.functions.BinaryLcp]],
    *      one fused early-exit loop); ℓ(p) = max over p's ≤2 neighbors.
    *
    * Correctness at cap resolution: for true ℓ(p) < cap the classic SA
    * adjacency argument applies (LCP between any two suffixes is the min
    * of adjacent LCPs between them, and truncation at cap preserves the
    * order of any two suffixes whose LCP < cap); for ℓ(p) ≥ cap, p's
    * ≥cap-partner shares its full slice, lands in the same tie run, and
    * every adjacent pair inside the run reports exactly cap. Tie-run
    * INTERNAL order is irrelevant: lcp(p, ·) is constant across members
    * of any other tie run (they agree beyond the point where p diverges),
    * so the neighbor max is permutation-invariant — which is also why
    * this matches an oracle that sorts full suffixes.
    *
    * 100 TB posture: the one shuffle carries (≤cap)-byte slices — cap ×
    * corpus bytes of shuffle volume, the same "sort the first k bytes of
    * every suffix" shape Lee et al. run on their corpus, and the honest
    * price of LCP statistics (vs. the 16-byte digests of the fixed-minLen
    * window pass). Parallelism ∝ corpus bytes throughout; no per-doc or
    * per-fingerprint funnel; the neighbor self-join is an integer
    * equi-join on the dense suffix rank.
    *
    * Positions whose suffix participates in no adjacent pair (a corpus
    * with a single byte position) simply drop out — consumers treat
    * absent as ℓ = 0.
    *
    * @param cap LCP values are exact up to `cap` and clamp there
    * @return (id, p, l): 1-based byte position, capped LCP in bytes
    */
  def lcpPerPosition(df: DataFrame, idCol: String, textCol: String,
                     cap: Int = 128): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    graft.functions.VectorFunctions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"),
        encode(TextOps.normalized(col(textCol)), "UTF-8").as("bin"))
      .withColumn("n", length(col("bin")))
    val suf = base.filter(col("n") >= 1)
      .select(col("id"), col("bin"),
        explode(sequence(lit(1), col("n"))).as("p"))
      .select(col("id"), col("p"),
        substring(col("bin"), col("p"), lit(cap)).as("k"))
    // the `out` projection runs BEFORE adjacentPairs materializes its
    // pair relation: two cap-byte slices reduce to one int per pair, so
    // the only thing ever stored or re-scanned is (id, p, id_b, p_b, lcp)
    val pairs = Prefix.adjacentPairs(suf,
      Seq(col("k"), col("id"), col("p")), Seq("id", "p", "k"),
      out = Seq(col("id"), col("p"), col("id_b"), col("p_b"),
        graft.functions.VectorFunctions.binLcp(col("k"), col("k_b"))
          .as("lcp")))
    pairs.select(col("id"), col("p"), col("lcp"))
      .unionAll(pairs.select(col("id_b").as("id"), col("p_b").as("p"),
        col("lcp")))
      .groupBy(col("id"), col("p"))
      .agg(max(col("lcp")).as("l"))
  }

  /** Longest duplicated substring PER DOCUMENT (exact, capped at `cap`
    * bytes): max over the doc's positions of [[lcpPerPosition]]'s ℓ —
    * the per-doc curation signal ("how much of this doc's longest run
    * exists elsewhere?") that no fixed-minLen pass can report. Documents
    * whose normalized text is empty, or whose every byte is corpus-unique,
    * report 0.
    *
    * @return (id, longest_dup): longest_dup in bytes, ≤ cap
    */
  def longestDupPerDoc(df: DataFrame, idCol: String, textCol: String,
                       cap: Int = 128): DataFrame = {
    val perDoc = lcpPerPosition(df, idCol, textCol, cap)
      .groupBy(col("id")).agg(max(col("l")).as("ld"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ld"), lit(0)).cast("long").as("longest_dup"))
  }

  /** EXACT duplicated-span extraction via the SUFFIX-ORDER pass — the
    * third route to [[exactDupSpans]]'s relation, and the one that is
    * literally Lee et al. 2022 §4.1's deployment shape (sort the
    * suffixes, scan neighbors): a position starts a duplicated
    * minLen-window iff its longest duplicated prefix reaches minLen
    * (ℓ(p) ≥ minLen ⟺ some other suffix shares ≥ minLen bytes ⟺ the
    * window repeats; ℓ(p) ≥ minLen also implies the window fits the
    * doc), so the dup-position relation is [[lcpPerPosition]] at
    * cap = minLen filtered to the clamp value, and the shared
    * [[islandsOf]] union yields the identical maximal spans.
    *
    * Measured (sf0.1 documents, 1.5M positions, local[32], fresh runs):
    * 16.0 s vs the window-hash pass's 4.5 s — the two slice exchanges
    * plus the suffix sort cost ~3.5× the single digest shuffle, so
    * [[exactDupSpans]] REMAINS the production form for a fixed minLen.
    * What this route buys: it replaces the prefix-doubling pass as the
    * practical form of the published algorithm (2.2 s warm vs
    * `exactDupSpansSA`'s 15.5 s — no iteration, no checkpoints, no md5
    * anywhere), and when the LCP relation is being computed anyway
    * (longest-dup / spectrum reporting), the span set is an incremental
    * filter+islands on top of it. Declared as `dedup_substr_exact_lcp`
    * against the SAME oracle as the other two — three algorithms, one
    * hash.
    *
    * @return (id, s, e, span_bytes) — identical to [[exactDupSpans]]
    */
  def exactDupSpansLcp(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 40): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    islandsOf(lcpPerPosition(df, idCol, textCol, cap = minLen)
        .filter(col("l") === minLen).select(col("id"), col("p")), minLen)
      .select(col("id"), col("s"), col("e"),
        (col("e") - col("s")).as("span_bytes"))
  }

  /** Corpus DUPLICATION SPECTRUM: for each threshold L, how many byte
    * positions start a duplicated run of at least L bytes — the one-pass
    * answer to "what would ExactSubstr cut at minLen = L?" for a whole
    * grid of Ls (each threshold row of this relation counts exactly the
    * dup-window START positions [[exactDupSpans]] would mark at that
    * minLen), where the fixed-minLen pass must re-run per L.
    *
    * @param thresholds must each be ≤ cap (ℓ clamps at cap, so a larger
    *                   threshold would silently read as "≥ cap", not
    *                   "≥ threshold" — rejected loudly instead)
    * @return (th, n_pos), one row per threshold, 0-count rows kept
    */
  def dupSpectrum(df: DataFrame, idCol: String, textCol: String,
                  thresholds: Seq[Int], cap: Int = 128): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= cap),
      s"thresholds must be in [1, cap=$cap], got $thresholds")
    val spark = df.sparkSession
    import spark.implicits._
    val l = lcpPerPosition(df, idCol, textCol, cap)
    val counts = l.select(explode(typedlit(thresholds)).as("th"), col("l"))
      .filter(col("l") >= col("th"))
      .groupBy(col("th")).agg(count(lit(1)).as("n_pos"))
    thresholds.toDF("th").join(counts, Seq("th"), "left")
      .select(col("th"), coalesce(col("n_pos"), lit(0L)).as("n_pos"))
  }
}
