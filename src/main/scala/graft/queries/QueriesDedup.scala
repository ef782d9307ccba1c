package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compact.Compaction
import graft.envelope.{DmsCdc, MongoCdc, PgCdc}
import graft.ext.{Corpus, DataQuality, Dedup, Multimodal, Similarity, TextOps}

/** Deduplication (exact/NFC/n-gram/MinHash/SimHash/passage/substring/
  * clusters) and embedding similarity — near-dup, SemDeDup, ANN
  * brute/IVF/PQ/LSH, embedding decontamination, diversity sampling.
  *
  * One mixin slice of [[Queries]] — split mechanically from the former
  * single Queries.scala (no behavior change); mixin order in `object
  * Queries` preserves the original definition/initialization order.
  */
private[graft] trait QueriesDedup { this: Queries.type =>

  // MinHash family dials, shared by signatures/banding/recall queries.
  private val minhashK = 16
  private val minhashBands = 4
  private val minhashParamsSql = Dedup.hashParams(minhashK)
    .map { case (i, a, b) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }.mkString(", ")


  // ---------------------------------------------------------------------
  // Extension: dedup over `documents`.
  // ---------------------------------------------------------------------

  val qDedupExact = Q("dedup_exact",
    (s, dir) => Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
      .select(col("keep_id"), col("n_copies")),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents
      GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"""))

  /** Exact dedup keyed on the Unicode-NFC form: composed and decomposed
    * text (é vs e+combining accent) render identically but hash
    * differently — un-normalized fingerprints silently miss those dups.
    * On this ASCII fixture the grouping equals dedup_exact's; the
    * unicode collapse itself is spec-proven (NfcSpec).
    */
  val qDedupNfc = Q("dedup_exact_nfc",
    (s, dir) => {
      graft.functions.VectorFunctions.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.functions.VectorFunctions.nfcNormalize(
            TextOps.normalized(col("text")))).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
    },
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents
      GROUP BY md5(nfc_normalize(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))"""))

  /** URL-canonical-key dedup ([[Dedup.urlGroups]]) — the first rung of
    * published web pipelines, exercised over a synthetic URL column
    * derived deterministically from doc_id: six adversarial variants of
    * the same logical page address (case-shifted scheme+host, https vs
    * http, explicit default ports, utm tracking decoration in leading
    * and trailing positions, fragment, trailing path slash before the
    * query) that must all collapse onto one canonical key per page.
    * The oracle replays BOTH the construction and every normalization
    * step in DuckDB SQL.
    */
  /** The shared synthetic-URL fixture (Spark side): six adversarial
    * crawl variants of one logical page per doc, keyed on doc_id. */
  private def syntheticUrl: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 6
    val ps = (col("doc_id") % 200).cast("string")
    val hs = ((col("doc_id") % 200) % 50).cast("string")
    when(m === 0, concat(lit("http://example"), hs, lit(".com/p/"),
      ps, lit("?id="), ps))
      .when(m === 1, concat(lit("HTTPS://EXAMPLE"), hs, lit(".COM/p/"),
        ps, lit("?id="), ps))
      .when(m === 2, concat(lit("https://example"), hs, lit(".com:443/p/"),
        ps, lit("?id="), ps))
      .when(m === 3, concat(lit("http://example"), hs, lit(".com:80/p/"),
        ps, lit("?utm_source=feed&id="), ps, lit("&utm_campaign=x")))
      .when(m === 4, concat(lit("http://example"), hs, lit(".com/p/"),
        ps, lit("?id="), ps, lit("#frag")))
      .otherwise(concat(lit("http://example"), hs, lit(".com/p/"),
        ps, lit("/?id="), ps))
  }

  /** SQL half of the fixture + the full normalization chain: exposes
    * `urls(doc_id, url)` and `s6(doc_id, url_key)`. */
  private val urlCanonCtes: String = """WITH base AS (
        SELECT doc_id, CAST(doc_id % 200 AS STRING) AS p,
               CAST((doc_id % 200) % 50 AS STRING) AS h FROM documents),
      urls AS (
        SELECT doc_id,
          CASE CAST(doc_id % 6 AS INT)
            WHEN 0 THEN 'http://example' || h || '.com/p/' || p || '?id=' || p
            WHEN 1 THEN 'HTTPS://EXAMPLE' || h || '.COM/p/' || p || '?id=' || p
            WHEN 2 THEN 'https://example' || h || '.com:443/p/' || p || '?id=' || p
            WHEN 3 THEN 'http://example' || h || '.com:80/p/' || p
                        || '?utm_source=feed&id=' || p || '&utm_campaign=x'
            WHEN 4 THEN 'http://example' || h || '.com/p/' || p || '?id=' || p || '#frag'
            ELSE 'http://example' || h || '.com/p/' || p || '/?id=' || p
          END AS url
        FROM base),
      s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM urls),
      s2 AS (SELECT doc_id,
               lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS v FROM s1),
      s3 AS (SELECT doc_id, scheme, regexp_extract(v, '^[^/?]*') AS auth,
               substr(v, length(regexp_extract(v, '^[^/?]*')) + 1) AS rest FROM s2),
      s3u AS (SELECT doc_id, scheme,
               regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
               regexp_replace(auth, '^[^@]*@', '') AS hostp, rest FROM s3),
      s4 AS (SELECT doc_id,
               userinfo ||
               (CASE WHEN scheme = 'http' THEN regexp_replace(lower(hostp), ':80$', '')
                     WHEN scheme = 'https' THEN regexp_replace(lower(hostp), ':443$', '')
                     ELSE lower(hostp) END) AS hostkey,
               regexp_extract(rest, '^[^?]*') AS path,
               substr(rest, length(regexp_extract(rest, '^[^?]*')) + 1) AS query FROM s3u),
      s5 AS (SELECT doc_id, hostkey, regexp_replace(path, '/$', '') AS path,
               regexp_replace(regexp_replace(regexp_replace(query,
               '&(utm_[A-Za-z0-9_]*|gclid|fbclid|igshid|mc_cid|mc_eid)=[^&#]*', '', 'g'),
               '\?(utm_[A-Za-z0-9_]*|gclid|fbclid|igshid|mc_cid|mc_eid)=[^&#]*&', '?'),
               '\?(utm_[A-Za-z0-9_]*|gclid|fbclid|igshid|mc_cid|mc_eid)=[^&#]*$', '') AS query
             FROM s4),
      s6 AS (SELECT doc_id, hostkey || path || query AS url_key FROM s5)"""

  val qDedupUrl = Q("dedup_url",
    (s, dir) => Dedup.urlGroups(
      t(s, dir, "documents").select(col("doc_id"),
        syntheticUrl.as("url")),
      "doc_id", "url"),
    Some(urlCanonCtes + """
      SELECT url_key, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM s6 GROUP BY url_key"""))

  /** Host-level duplication card ([[Dedup.urlHostCard]]) — the
    * domain rung above page dedup: per hostname (port-stripped
    * canonical authority), crawl rows vs distinct pages and the
    * duplication share in bp. Every normalization step plus the host
    * extraction and the rollup replay in DuckDB.
    */
  val qUrlHostCard = Q("q_url_host_card",
    (s, dir) => Dedup.urlHostCard(
      t(s, dir, "documents").select(col("doc_id"),
        syntheticUrl.as("url")),
      "doc_id", "url"),
    Some(urlCanonCtes + """,
      g AS (SELECT url_key, count(*) AS n_copies FROM s6 GROUP BY url_key),
      hh AS (SELECT regexp_replace(regexp_replace(
               regexp_extract(url_key, '^[^/?]*'), '^[^@]*@', ''),
               ':[0-9]+$', '') AS host, n_copies FROM g)
      SELECT host, CAST(sum(n_copies) AS BIGINT) AS n_crawls,
             count(*) AS n_pages,
             (CAST(sum(n_copies) AS BIGINT) - count(*)) * 10000
               // CAST(sum(n_copies) AS BIGINT) AS dup_bp
      FROM hh GROUP BY host"""))

  /** Registered-domain (eTLD+1) rollup ([[Dedup.urlRegisteredDomainCard]])
    * over a subdomain-heavy synthetic crawl: mirror-farm shards
    * (`s{0..7}.farm{0..1}.co.uk` — multi-label registry suffix), a www
    * site family, hosts matching NO suffix rule (implicit `*`
    * fallback), and a host that IS a public suffix. Plain lowercase
    * URLs so the row pins the SUFFIX-MATCH logic (candidate label
    * suffixes longest-first, first table hit, the three PSL edge
    * branches), which DuckDB replays with list builtins over the same
    * embedded suffix table.
    */
  private val suffixListSql: String =
    graft.ext.Dedup.publicSuffixes.map(s => s"'$s'").mkString("[", ", ", "]")

  val qUrlDomainCard = Q("q_url_domain_card",
    (s, dir) => {
      val m = col("doc_id") % 4
      val p = (col("doc_id") % 200).cast("string")
      val u = when(m === 0, concat(lit("http://s"),
          (col("doc_id") % 8).cast("string"), lit(".farm"),
          (col("doc_id") % 2).cast("string"), lit(".co.uk/p/"), p))
        .when(m === 1, concat(lit("http://www.site"),
          (col("doc_id") % 5).cast("string"), lit(".com/a/"), p))
        .when(m === 2, concat(lit("http://node"),
          (col("doc_id") % 3).cast("string"), lit(".cluster.internal/x/"), p))
        .otherwise(concat(lit("http://co.uk/odd/"), p))
      Dedup.urlRegisteredDomainCard(
        t(s, dir, "documents").select(col("doc_id"), u.as("url")),
        "doc_id", "url")
    },
    Some(s"""WITH urls AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'http://s' || CAST(doc_id % 8 AS STRING) || '.farm'
                      || CAST(doc_id % 2 AS STRING) || '.co.uk/p/'
                      || CAST(doc_id % 200 AS STRING)
          WHEN 1 THEN 'http://www.site' || CAST(doc_id % 5 AS STRING)
                      || '.com/a/' || CAST(doc_id % 200 AS STRING)
          WHEN 2 THEN 'http://node' || CAST(doc_id % 3 AS STRING)
                      || '.cluster.internal/x/' || CAST(doc_id % 200 AS STRING)
          ELSE 'http://co.uk/odd/' || CAST(doc_id % 200 AS STRING)
        END AS url FROM documents),
      k AS (SELECT doc_id, regexp_replace(url, '^http://', '') AS url_key
            FROM urls),
      g AS (SELECT url_key, count(*) AS n_copies FROM k GROUP BY url_key),
      hh AS (SELECT regexp_extract(url_key, '^[^/?]*') AS host, n_copies
             FROM g),
      hc AS (SELECT host, CAST(sum(n_copies) AS BIGINT) AS n_crawls,
               count(*) AS n_pages FROM hh GROUP BY host),
      rd AS (SELECT host, n_crawls, n_pages, string_split(host, '.') AS ls,
               list_filter(list_transform(
                   generate_series(1, len(string_split(host, '.'))),
                   i -> array_to_string(string_split(host, '.')[i:], '.')),
                 c -> list_contains($suffixListSql, c))[1] AS suf
             FROM hc),
      rd2 AS (SELECT n_crawls, n_pages,
               CASE WHEN suf IS NULL THEN
                      CASE WHEN len(ls) >= 2
                           THEN array_to_string(ls[len(ls)-1:], '.')
                           ELSE host END
                    WHEN len(string_split(suf, '.')) = len(ls) THEN host
                    ELSE array_to_string(
                           ls[len(ls) - len(string_split(suf, '.')):], '.')
               END AS reg_domain
              FROM rd)
      SELECT reg_domain, count(*) AS n_hosts,
             CAST(sum(n_crawls) AS BIGINT) AS n_crawls,
             CAST(sum(n_pages) AS BIGINT) AS n_pages,
             (CAST(sum(n_crawls) AS BIGINT) - CAST(sum(n_pages) AS BIGINT))
               * 10000 // CAST(sum(n_crawls) AS BIGINT) AS dup_bp
      FROM rd2 GROUP BY reg_domain"""))

  /** FULL-PSL registered-domain rollup
    * ([[Dedup.urlRegisteredDomainCardRules]]) — the rules-TABLE form
    * with wildcard and exception rules live: the `*.ck` wildcard makes
    * each `shop{k}.stores.ck` its own registrant (a naive suffix table
    * would merge them into `stores.ck`), the `!www.ck` exception carves
    * `www.ck` back out as registrable, the `farm.co.uk` mirror shards
    * still concentrate, and an unmatched host takes the implicit `*`
    * rule. The oracle replays the entire PSL algorithm — rule parsing,
    * the candidate×rule join with the wildcard's preceding-label
    * constraint, exception priority, most-labels prevail, both fallback
    * branches — over the same rule list in DuckDB.
    */
  private val pslRules: Seq[String] =
    graft.ext.Dedup.publicSuffixes ++ Seq("*.ck", "!www.ck")
  private val pslRulesSql: String =
    pslRules.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Per-registered-domain admission QUOTA
    * ([[graft.ext.IncrementalDedup.admitBatchDomainQuota]]): cap
    * admitted docs per eTLD+1 at k=10 across two steady-state ticks
    * against the persistent `domain_counts/` index — the
    * C4/RefinedWeb-family "no single site dominates the mix" rule as a
    * foreachBatch body. The synthetic crawl concentrates doc mass into
    * few registrants (the farm shards collapse to `farm{0,1}.co.uk`,
    * every `www.site*.com` host to its site, the no-rule hosts to the
    * implicit-* `cluster.internal`, and one host IS a suffix), so both
    * tick shapes fire: in-tick rank overflow AND stored-count overflow;
    * doc_id % 13 = 5 rows carry a NULL address and must pass uncounted.
    * The oracle replays suffix resolution, both ticks' ranked windows,
    * and the cross-tick admitted-count join in DuckDB.
    */
  val qDomainQuota = Q("q_domain_quota",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_domquota").toString
      val m = col("doc_id") % 4
      val p = (col("doc_id") % 200).cast("string")
      val u = when(col("doc_id") % 13 === 5, lit(null).cast("string"))
        .when(m === 0, concat(lit("http://s"),
          (col("doc_id") % 8).cast("string"), lit(".farm"),
          (col("doc_id") % 2).cast("string"), lit(".co.uk/p/"), p))
        .when(m === 1, concat(lit("http://www.site"),
          (col("doc_id") % 5).cast("string"), lit(".com/a/"), p))
        .when(m === 2, concat(lit("http://node"),
          (col("doc_id") % 3).cast("string"), lit(".cluster.internal/x/"), p))
        .otherwise(concat(lit("http://co.uk/odd/"), p))
      val docs = t(s, dir, "documents").select(col("doc_id"), u.as("url"))
      val v1 = graft.ext.IncrementalDedup.admitBatchDomainQuota(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "url", root,
        k = 10, batchId = 0L)
      val v2 = graft.ext.IncrementalDedup.admitBatchDomainQuota(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "url", root,
        k = 10, batchId = 1L)
      v1.unionByName(v2).select(col("id"), col("dropped_at"))
    },
    Some(s"""WITH urls AS (
        SELECT doc_id, CASE
          WHEN CAST(doc_id % 13 AS INT) = 5 THEN NULL
          WHEN CAST(doc_id % 4 AS INT) = 0 THEN
            'http://s' || CAST(doc_id % 8 AS STRING) || '.farm'
              || CAST(doc_id % 2 AS STRING) || '.co.uk/p/'
              || CAST(doc_id % 200 AS STRING)
          WHEN CAST(doc_id % 4 AS INT) = 1 THEN
            'http://www.site' || CAST(doc_id % 5 AS STRING)
              || '.com/a/' || CAST(doc_id % 200 AS STRING)
          WHEN CAST(doc_id % 4 AS INT) = 2 THEN
            'http://node' || CAST(doc_id % 3 AS STRING)
              || '.cluster.internal/x/' || CAST(doc_id % 200 AS STRING)
          ELSE 'http://co.uk/odd/' || CAST(doc_id % 200 AS STRING)
        END AS url FROM documents),
      kq AS (SELECT doc_id, regexp_replace(url, '^http://', '') AS url_key
             FROM urls),
      hq AS (SELECT doc_id, regexp_extract(url_key, '^[^/?]*') AS host
             FROM kq),
      rdq AS (SELECT doc_id, host, string_split(host, '.') AS ls,
               list_filter(list_transform(
                   generate_series(1, len(string_split(host, '.'))),
                   i -> array_to_string(string_split(host, '.')[i:], '.')),
                 c -> list_contains($suffixListSql, c))[1] AS suf
             FROM hq WHERE host IS NOT NULL AND host <> ''),
      rdq2 AS (SELECT doc_id,
               CASE WHEN suf IS NULL THEN
                      CASE WHEN len(ls) >= 2
                           THEN array_to_string(ls[len(ls)-1:], '.')
                           ELSE host END
                    WHEN len(string_split(suf, '.')) = len(ls) THEN host
                    ELSE array_to_string(
                           ls[len(ls) - len(string_split(suf, '.')):], '.')
               END AS reg_domain
              FROM rdq),
      tq1 AS (SELECT doc_id, reg_domain, row_number() OVER
                (PARTITION BY reg_domain ORDER BY doc_id) AS r
              FROM rdq2 WHERE doc_id % 3 = 0),
      dq1 AS (SELECT doc_id FROM tq1 WHERE r > 10),
      cq1 AS (SELECT reg_domain, count(*) AS n FROM tq1
              WHERE r <= 10 GROUP BY reg_domain),
      tq2 AS (SELECT doc_id, reg_domain, row_number() OVER
                (PARTITION BY reg_domain ORDER BY doc_id) AS r
              FROM rdq2 WHERE doc_id % 3 <> 0),
      dq2 AS (SELECT tq2.doc_id FROM tq2 LEFT JOIN cq1 USING (reg_domain)
              WHERE coalesce(cq1.n, 0) + tq2.r > 10)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM dq1)
              OR d.doc_id IN (SELECT doc_id FROM dq2)
             THEN 'domain' END AS dropped_at
      FROM documents d"""))

  /** [[qDomainQuota]] under the FULL PSL rules table
    * ([[graft.ext.IncrementalDedup.admitBatchDomainQuota]] with
    * `pslRules`): the `shop{k}.stores.ck` arm is the discriminator —
    * under the `*.ck` wildcard each shop is its OWN registrant (four
    * under-quota buckets, docs admitted) while the embedded subset
    * would merge them all into `stores.ck` and cap hard; the `www.ck`
    * arm exercises the `!www.ck` exception (registrable itself, one
    * concentrated bucket the quota fires on). Two steady-state ticks
    * against the persistent counts, NULL addresses pass uncounted.
    * The oracle replays the whole PSL algorithm per host plus both
    * ticks' ranked windows and the cross-tick count join.
    */
  val qDomainQuotaPsl = Q("q_domain_quota_psl",
    (s, dir) => {
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_domquota_psl").toString
      val m = col("doc_id") % 4
      val p = (col("doc_id") % 200).cast("string")
      val u = when(col("doc_id") % 13 === 5, lit(null).cast("string"))
        .when(m === 0, concat(lit("http://s"),
          (col("doc_id") % 8).cast("string"), lit(".farm"),
          (col("doc_id") % 2).cast("string"), lit(".co.uk/p/"), p))
        .when(m === 1, concat(lit("http://shop"),
          (col("doc_id") % 4).cast("string"), lit(".stores.ck/x/"), p))
        .when(m === 2, concat(lit("http://www.site"),
          (col("doc_id") % 5).cast("string"), lit(".com/a/"), p))
        .otherwise(concat(lit("http://www.ck/odd/"), p))
      val docs = t(s, dir, "documents").select(col("doc_id"), u.as("url"))
      val rules = pslRules.toDF("rule")
      val v1 = graft.ext.IncrementalDedup.admitBatchDomainQuota(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "url", root,
        k = 10, batchId = 0L, pslRules = Some(rules))
      val v2 = graft.ext.IncrementalDedup.admitBatchDomainQuota(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "url", root,
        k = 10, batchId = 1L, pslRules = Some(rules))
      v1.unionByName(v2).select(col("id"), col("dropped_at"))
    },
    Some(s"""WITH urls AS (
        SELECT doc_id, CASE
          WHEN CAST(doc_id % 13 AS INT) = 5 THEN NULL
          WHEN CAST(doc_id % 4 AS INT) = 0 THEN
            'http://s' || CAST(doc_id % 8 AS STRING) || '.farm'
              || CAST(doc_id % 2 AS STRING) || '.co.uk/p/'
              || CAST(doc_id % 200 AS STRING)
          WHEN CAST(doc_id % 4 AS INT) = 1 THEN
            'http://shop' || CAST(doc_id % 4 AS STRING)
              || '.stores.ck/x/' || CAST(doc_id % 200 AS STRING)
          WHEN CAST(doc_id % 4 AS INT) = 2 THEN
            'http://www.site' || CAST(doc_id % 5 AS STRING)
              || '.com/a/' || CAST(doc_id % 200 AS STRING)
          ELSE 'http://www.ck/odd/' || CAST(doc_id % 200 AS STRING)
        END AS url FROM documents),
      kq AS (SELECT doc_id, regexp_replace(url, '^http://', '') AS url_key
             FROM urls),
      hq AS (SELECT doc_id, regexp_extract(url_key, '^[^/?]*') AS host
             FROM kq WHERE url_key IS NOT NULL),
      hosts AS (SELECT DISTINCT host FROM hq
                WHERE host IS NOT NULL AND host <> ''),
      rules AS (SELECT unnest($pslRulesSql) AS rule),
      pr AS (SELECT
               CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                    WHEN rule LIKE '*.%' THEN substr(rule, 3)
                    ELSE rule END AS key,
               CASE WHEN rule LIKE '!%' THEN 2
                    WHEN rule LIKE '*.%' THEN 1 ELSE 0 END AS kind
             FROM rules),
      pr2 AS (SELECT key, kind,
               CASE kind WHEN 2 THEN len(string_split(key, '.')) - 1
                         WHEN 1 THEN len(string_split(key, '.')) + 1
                         ELSE len(string_split(key, '.')) END AS sufn
             FROM pr),
      cand AS (SELECT host, i,
                 array_to_string(string_split(host, '.')[i:], '.') AS cand
               FROM (SELECT host, unnest(generate_series(1,
                       len(string_split(host, '.')))) AS i FROM hosts)),
      mm AS (SELECT c.host,
               max(CASE WHEN p.kind = 2 THEN 1 ELSE 0 END) AS has_exc,
               max(CASE WHEN p.kind = 2 THEN p.sufn END) AS exc_s,
               max(CASE WHEN p.kind <> 2 THEN p.sufn END) AS norm_s
             FROM cand c JOIN pr2 p
               ON c.cand = p.key AND (p.kind <> 1 OR c.i >= 2)
             GROUP BY c.host),
      sel AS (SELECT host,
               CASE WHEN has_exc = 1 THEN exc_s ELSE norm_s END AS s
             FROM mm),
      rdh AS (SELECT hosts.host, string_split(hosts.host, '.') AS ls,
                sel.s
              FROM hosts LEFT JOIN sel USING (host)),
      rd2 AS (SELECT host,
               CASE WHEN s IS NULL THEN
                      CASE WHEN len(ls) >= 2
                           THEN array_to_string(ls[len(ls)-1:], '.')
                           ELSE host END
                    WHEN s >= len(ls) THEN host
                    ELSE array_to_string(ls[len(ls)-s:], '.')
               END AS reg_domain
             FROM rdh),
      doms AS (SELECT hq.doc_id, rd2.reg_domain
               FROM hq JOIN rd2 USING (host)),
      tq1 AS (SELECT doc_id, reg_domain, row_number() OVER
                (PARTITION BY reg_domain ORDER BY doc_id) AS r
              FROM doms WHERE doc_id % 3 = 0),
      dq1 AS (SELECT doc_id FROM tq1 WHERE r > 10),
      cq1 AS (SELECT reg_domain, count(*) AS n FROM tq1
              WHERE r <= 10 GROUP BY reg_domain),
      tq2 AS (SELECT doc_id, reg_domain, row_number() OVER
                (PARTITION BY reg_domain ORDER BY doc_id) AS r
              FROM doms WHERE doc_id % 3 <> 0),
      dq2 AS (SELECT tq2.doc_id FROM tq2 LEFT JOIN cq1 USING (reg_domain)
              WHERE coalesce(cq1.n, 0) + tq2.r > 10)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM dq1)
              OR d.doc_id IN (SELECT doc_id FROM dq2)
             THEN 'domain' END AS dropped_at
      FROM documents d"""))

  val qUrlDomainCardPsl = Q("q_url_domain_card_psl",
    (s, dir) => {
      import s.implicits._
      val m = col("doc_id") % 5
      val p = (col("doc_id") % 200).cast("string")
      val u = when(m === 0, concat(lit("http://s"),
          (col("doc_id") % 8).cast("string"), lit(".farm"),
          (col("doc_id") % 2).cast("string"), lit(".co.uk/p/"), p))
        .when(m === 1, concat(lit("http://www.ck/a/"), p))
        .when(m === 2, concat(lit("http://shop"),
          (col("doc_id") % 4).cast("string"), lit(".stores.ck/x/"), p))
        .when(m === 3, concat(lit("http://www.site"),
          (col("doc_id") % 7).cast("string"), lit(".com/a/"), p))
        .otherwise(concat(lit("http://a"),
          (col("doc_id") % 3).cast("string"), lit(".b.unknowntld/q/"), p))
      Dedup.urlRegisteredDomainCardRules(
        t(s, dir, "documents").select(col("doc_id"), u.as("url")),
        "doc_id", "url", pslRules.toDF("rule"))
    },
    Some(s"""WITH urls AS (
        SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'http://s' || CAST(doc_id % 8 AS STRING) || '.farm'
                      || CAST(doc_id % 2 AS STRING) || '.co.uk/p/'
                      || CAST(doc_id % 200 AS STRING)
          WHEN 1 THEN 'http://www.ck/a/' || CAST(doc_id % 200 AS STRING)
          WHEN 2 THEN 'http://shop' || CAST(doc_id % 4 AS STRING)
                      || '.stores.ck/x/' || CAST(doc_id % 200 AS STRING)
          WHEN 3 THEN 'http://www.site' || CAST(doc_id % 7 AS STRING)
                      || '.com/a/' || CAST(doc_id % 200 AS STRING)
          ELSE 'http://a' || CAST(doc_id % 3 AS STRING)
               || '.b.unknowntld/q/' || CAST(doc_id % 200 AS STRING)
        END AS url FROM documents),
      k AS (SELECT doc_id, regexp_replace(url, '^http://', '') AS url_key
            FROM urls),
      g AS (SELECT url_key, count(*) AS n_copies FROM k GROUP BY url_key),
      hh AS (SELECT regexp_extract(url_key, '^[^/?]*') AS host, n_copies
             FROM g),
      hc AS (SELECT host, CAST(sum(n_copies) AS BIGINT) AS n_crawls,
               count(*) AS n_pages FROM hh GROUP BY host),
      rules AS (SELECT unnest($pslRulesSql) AS rule),
      pr AS (SELECT
               CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                    WHEN rule LIKE '*.%' THEN substr(rule, 3)
                    ELSE rule END AS key,
               CASE WHEN rule LIKE '!%' THEN 2
                    WHEN rule LIKE '*.%' THEN 1 ELSE 0 END AS kind
             FROM rules),
      pr2 AS (SELECT key, kind,
               CASE kind WHEN 2 THEN len(string_split(key, '.')) - 1
                         WHEN 1 THEN len(string_split(key, '.')) + 1
                         ELSE len(string_split(key, '.')) END AS sufn
             FROM pr),
      cand AS (SELECT host, i,
                 array_to_string(string_split(host, '.')[i:], '.') AS cand
               FROM (SELECT host, unnest(generate_series(1,
                       len(string_split(host, '.')))) AS i FROM hc)),
      mm AS (SELECT c.host,
               max(CASE WHEN p.kind = 2 THEN 1 ELSE 0 END) AS has_exc,
               max(CASE WHEN p.kind = 2 THEN p.sufn END) AS exc_s,
               max(CASE WHEN p.kind <> 2 THEN p.sufn END) AS norm_s
             FROM cand c JOIN pr2 p
               ON c.cand = p.key AND (p.kind <> 1 OR c.i >= 2)
             GROUP BY c.host),
      sel AS (SELECT host,
               CASE WHEN has_exc = 1 THEN exc_s ELSE norm_s END AS s
             FROM mm),
      rd AS (SELECT hc.host, hc.n_crawls, hc.n_pages,
               string_split(hc.host, '.') AS ls, sel.s
             FROM hc LEFT JOIN sel USING (host)),
      rd2 AS (SELECT n_crawls, n_pages,
               CASE WHEN s IS NULL THEN
                      CASE WHEN len(ls) >= 2
                           THEN array_to_string(ls[len(ls)-1:], '.')
                           ELSE host END
                    WHEN s >= len(ls) THEN host
                    ELSE array_to_string(ls[len(ls)-s:], '.')
               END AS reg_domain
             FROM rd)
      SELECT reg_domain, count(*) AS n_hosts,
             CAST(sum(n_crawls) AS BIGINT) AS n_crawls,
             CAST(sum(n_pages) AS BIGINT) AS n_pages,
             (CAST(sum(n_crawls) AS BIGINT) - CAST(sum(n_pages) AS BIGINT))
               * 10000 // CAST(sum(n_crawls) AS BIGINT) AS dup_bp
      FROM rd2 GROUP BY reg_domain"""))

  /** The sequential dedup ladder ([[Dedup.ladder]]): url → exact →
    * near-dup, each rung over the previous rung's survivors, one
    * per-doc verdict relation (id, dropped_at). The oracle replays the
    * FULL sequence — canonical-URL groups on the synthetic crawl
    * fixture, content fingerprints on the url survivors, Jaccard pairs
    * + recursive-CTE components on the exact survivors — so rung
    * ORDER, not just each rung, is pinned.
    */
  val qDedupLadder = Q("q_dedup_ladder",
    (s, dir) => Dedup.ladder(
      t(s, dir, "documents").select(col("doc_id"), col("text"),
        syntheticUrl.as("url")),
      "doc_id", "text", urlCol = Some("url"), n = 3, tau = 0.25),
    Some("WITH RECURSIVE " + urlCanonCtes.stripPrefix("WITH ") + """,
      ud AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY url_key) AS keep
          FROM s6) WHERE doc_id <> keep),
      s1d AS (SELECT d.doc_id, d.text FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM ud)),
      ed AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY
            md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS keep
          FROM s1d) WHERE doc_id <> keep),
      s2d AS (SELECT * FROM s1d
        WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
      docs2 AS (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM s2d),
      sh2 AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docs2),
      ex2 AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh2),
      pairs2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex2 a JOIN ex2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      edges2 AS (SELECT id_a AS src, id_b AS dst FROM pairs2
                 UNION SELECT id_b, id_a FROM pairs2),
      reach2(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges2)
        UNION
        SELECT reach2.id, e.dst FROM reach2 JOIN edges2 e ON reach2.r = e.src),
      nd AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach2 GROUP BY id) WHERE id <> c)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM ud) THEN 'url'
             WHEN d.doc_id IN (SELECT doc_id FROM ed) THEN 'exact'
             WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near'
        END AS dropped_at
      FROM documents d"""))

  /** The q_admission_ladder two-tick replay, shared VERBATIM with
    * [[qLadderBloom]]: Bloom sidecars are exact overall (false
    * positives fall through to the exact joins), so the bloom-pruned
    * run must hash-match the SAME independent DuckDB replay. */
  private val admissionLadderSql: String =
    "WITH RECURSIVE " + urlCanonCtes.stripPrefix("WITH ") + """,
      fps AS (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      docsw AS (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      shs AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM shs),
      -- ============ tick 1: doc_id % 3 = 0, empty indexes ============
      u1 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY url_key) AS keep
          FROM s6 WHERE doc_id % 3 = 0) WHERE doc_id <> keep),
      s11 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
          AND doc_id NOT IN (SELECT doc_id FROM u1)),
      e1 AS (SELECT doc_id FROM (
          SELECT f.doc_id, min(f.doc_id) OVER (PARTITION BY f.fp) AS keep
          FROM fps f JOIN s11 USING (doc_id)) WHERE doc_id <> keep),
      s21 AS (SELECT doc_id FROM s11
          WHERE doc_id NOT IN (SELECT doc_id FROM e1)),
      p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN s21 sa ON sa.doc_id = a.doc_id
        JOIN s21 sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      edges1 AS (SELECT id_a AS src, id_b AS dst FROM p1
                 UNION SELECT id_b, id_a FROM p1),
      reach1(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges1)
        UNION
        SELECT reach1.id, e.dst FROM reach1 JOIN edges1 e ON reach1.r = e.src),
      n1 AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach1 GROUP BY id) WHERE id <> c),
      adm1 AS (SELECT doc_id FROM s21
          WHERE doc_id NOT IN (SELECT doc_id FROM n1)),
      -- indexes after tick 1: url keys of url-rung survivors (= the
      -- slice's distinct keys), fps of exact-rung survivors (= the url
      -- survivors' distinct fps), postings of ADMITTED docs only
      k1 AS (SELECT DISTINCT url_key FROM s6 WHERE doc_id % 3 = 0),
      f1 AS (SELECT DISTINCT f.fp FROM fps f JOIN s11 USING (doc_id)),
      -- ============ tick 2: the rest, probing tick 1 ============
      u2 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY url_key) AS keep
          FROM s6 WHERE doc_id % 3 <> 0) WHERE doc_id <> keep
        UNION
        SELECT k.doc_id FROM s6 k JOIN k1 USING (url_key)
        WHERE k.doc_id % 3 <> 0),
      s12 AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM u2)),
      e2 AS (SELECT doc_id FROM (
          SELECT f.doc_id, min(f.doc_id) OVER (PARTITION BY f.fp) AS keep
          FROM fps f JOIN s12 USING (doc_id)) WHERE doc_id <> keep
        UNION
        SELECT f.doc_id FROM fps f JOIN s12 USING (doc_id)
        JOIN f1 ON f.fp = f1.fp),
      s22 AS (SELECT doc_id FROM s12
          WHERE doc_id NOT IN (SELECT doc_id FROM e2)),
      n2i AS (SELECT DISTINCT id_a AS doc_id FROM (
          SELECT a.doc_id AS id_a
          FROM ex a JOIN ex b ON a.shingle = b.shingle
          JOIN s22 sa ON sa.doc_id = a.doc_id
          JOIN adm1 ab ON ab.doc_id = b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.m, b.m
          HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25)),
      hosts AS (SELECT doc_id FROM s22
          WHERE doc_id NOT IN (SELECT doc_id FROM n2i)),
      p2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN hosts sa ON sa.doc_id = a.doc_id
        JOIN hosts sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      edges2 AS (SELECT id_a AS src, id_b AS dst FROM p2
                 UNION SELECT id_b, id_a FROM p2),
      reach2(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges2)
        UNION
        SELECT reach2.id, e.dst FROM reach2 JOIN edges2 e ON reach2.r = e.src),
      n2b AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach2 GROUP BY id) WHERE id <> c),
      n2 AS (SELECT doc_id FROM n2i UNION SELECT doc_id FROM n2b)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id % 3 = 0 THEN
          CASE WHEN d.doc_id IN (SELECT doc_id FROM u1) THEN 'url'
               WHEN d.doc_id IN (SELECT doc_id FROM e1) THEN 'exact'
               WHEN d.doc_id IN (SELECT doc_id FROM n1) THEN 'near' END
        ELSE
          CASE WHEN d.doc_id IN (SELECT doc_id FROM u2) THEN 'url'
               WHEN d.doc_id IN (SELECT doc_id FROM e2) THEN 'exact'
               WHEN d.doc_id IN (SELECT doc_id FROM n2) THEN 'near' END
        END AS dropped_at
      FROM documents d"""

  /** The COMPOSED steady-state admission ladder
    * ([[graft.ext.IngestLadder.admitBatch]] without gates): two ingest
    * ticks (doc_id % 3 = 0 arrives first, the rest second) through the
    * persistent url-key / fingerprint / postings indexes, emitting the
    * per-doc verdict at ingest time. The oracle replays BOTH ticks in
    * DuckDB — tick 1 is the batch ladder on its slice (empty indexes);
    * tick 2's url and exact rungs probe tick 1's rung-survivor keys
    * and fingerprints, and its near rung probes tick 1's ADMITTED
    * docs' shingle sets first (first arrival wins), then runs
    * components among the probe survivors only — so the composed
    * semantics (rung-survivor indexes, host-must-reach-corpus) are
    * pinned end to end, not just per rung.
    */
  val qAdmissionLadder = Q("q_admission_ladder",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_admladder").toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
        syntheticUrl.as("url"))
      val v1 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.25, batchId = 0L)
      val v2 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.25, batchId = 1L)
      v1.unionByName(v2).select(col("id"), col("dropped_at"))
    },
    Some(admissionLadderSql))

  /** q_admission_ladder with BLOOM SIDECARS ([[graft.ext.LadderBloom]])
    * built between the ticks: tick 1 runs on empty indexes, a
    * maintenance window builds the url/fp/postings key summaries, and
    * tick 2's three cross-batch probes all go through the bloom-pruned
    * covered path. Sidecars are exact overall — a filter admits false
    * positives but never false negatives, and every passing key still
    * meets the exact join — so this query's oracle is the SAME DuckDB
    * SQL as q_admission_ladder, character for character: the
    * independent engine pins that pruning changed nothing.
    */
  val qLadderBloom = Q("q_ladder_bloom",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_ladbloom").toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
        syntheticUrl.as("url"))
      val v1 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.25, batchId = 0L)
      graft.ext.LadderBloom.buildAll(s, root, committedBelow = 1L)
      val v2 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.25, batchId = 1L)
      v1.unionByName(v2).select(col("id"), col("dropped_at"))
    },
    Some(admissionLadderSql))

  /** The UNIFIED single-pass ingest ladder
    * ([[graft.ext.IngestLadder.admitBatch]]): url → exact → quality
    * battery → near, ONE batch pass, ONE tokenize, ONE verdict relation
    * — the r15 q_admission_ladder and q_corpus_curation stacks composed
    * into the single foreachBatch body a production crawl runs. Two
    * ingest ticks (doc_id % 3 = 0 first) through the persistent
    * url-key / fingerprint / postings indexes, the gate rungs being the
    * curation battery's heuristic gates (quality → repetition → lang,
    * the q_corpus_curation scorers with dials chosen so EVERY rung
    * fires on this fixture). The oracle replays BOTH ticks end to
    * end in one DuckDB SQL — url windows + key probes, fingerprint
    * windows + fp probes, all three gate verdicts on the survivors,
    * the admitted-postings near probe, and the recursive-CTE
    * components — so rung ORDER across both stacks (a quality-dropped
    * doc never vouches for a near drop; a gate-dropped doc's key/fp
    * still turn away re-arrivals) is pinned, not just each rung.
    */
  // planted ingest fixtures, all on url-surviving ids (< 200), all
  // stopword-rich so the lang gate keeps them: an A-family near chain
  // split across ticks (66 admitted in tick 1; 23/137 arrive in tick 2
  // and drop via the stored-postings probe), a B-family in-batch near
  // pair inside tick 2 (131 drops by components, 29 survives), and a
  // % 89 = 11 tripled-phrase family that is BOTH exact-duplicated
  // (ids 11/100/189 share one text) and 5-gram-repetitious (the tick-1
  // survivor 189 passes exact then drops at the repetition gate — and
  // its fingerprint STILL turns away tick 2's copies, the known-bad
  // provenance rule, at oracle level)
  private val ingA1 = "the quick brown fox jumps over the lazy dog and " +
    "the rain falls on the quiet green hill by the old stone bridge"
  private val ingA2 = "the quick brown fox jumps over the lazy dog and " +
    "the rain falls on the quiet green hill by the new iron tower"
  private val ingA3 = "the quick brown fox jumps over the lazy dog and " +
    "the rain falls on the quiet green hill by the far white cliff"
  private val ingB1 = "a small boat sails with the wind across the wide " +
    "blue sea as the sun sets behind the tall dark cliffs tonight"
  private val ingB2 = "a small boat sails with the wind across the wide " +
    "blue sea as the sun sets behind the old grey rocks today"
  private val ingRep =
    ("the cat and the dog in the house of the king " * 3).trim

  val qIngestLadder = Q("q_ingest_ladder",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_ingladder").toString
      val textCol = when(col("doc_id") === 66, lit(ingA1))
        .when(col("doc_id") === 23, lit(ingA2))
        .when(col("doc_id") === 137, lit(ingA3))
        .when(col("doc_id") === 29, lit(ingB1))
        .when(col("doc_id") === 131, lit(ingB2))
        .when(col("doc_id") % 89 === 11, lit(ingRep))
        .otherwise(col("text"))
      // planted docs get their own single-crawl addresses so they reach
      // the content rungs at EVERY scale factor (under the shared six-
      // variant scheme, any page with a tick-1 sibling url-drops its
      // tick-2 members before the rungs under test can fire)
      val planted = col("doc_id").isin(66L, 23L, 137L, 29L, 131L) ||
        col("doc_id") % 89 === 11
      val urlCol2 = when(planted,
        concat(lit("http://plant.org/"), col("doc_id").cast("string")))
        .otherwise(syntheticUrl)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        textCol.as("text"), urlCol2.as("url"))
      val gates: Seq[graft.ext.IngestLadder.Gate] = Seq(
        "quality" -> (c => c.filter(TextOps.qualityFromCounts(
          TextOps.nTokens(col("raw")), TextOps.nStopwords(col("raw")),
          TextOps.nPunct(col("raw")), length(col("raw"))) >= 55)
          .select(col("id"))),
        "repetition" -> { c =>
          val total5 = greatest(size(col("ts")) - 4, lit(0))
          val uniq5 = size(Dedup.wordShinglesUdf(col("t"), 5))
          val repBp = when(total5 > 0,
            floor(((total5 - uniq5) * 10000) / total5))
            .otherwise(lit(0)).cast("long")
          c.filter(repBp <= 6000).select(col("id"))
        },
        "lang" -> (c => c.filter(
          TextOps.langIdHeuristic(col("raw")) === "en")
          .select(col("id"))))
      val v1 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        Some("url"), gates, root, n = 3, tau = 0.25, batchId = 0L)
      val v2 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        Some("url"), gates, root, n = 3, tau = 0.25, batchId = 1L)
      v1.unionByName(v2).select(col("id"), col("dropped_at"))
    },
    Some("WITH RECURSIVE " + urlCanonCtes.stripPrefix("WITH ") + s""",
      docsrc AS (SELECT doc_id, CASE
          WHEN doc_id = 66 THEN '$ingA1'
          WHEN doc_id = 23 THEN '$ingA2'
          WHEN doc_id = 137 THEN '$ingA3'
          WHEN doc_id = 29 THEN '$ingB1'
          WHEN doc_id = 131 THEN '$ingB2'
          WHEN doc_id % 89 = 11 THEN '$ingRep'
          ELSE text END AS text
        FROM documents),
      s6p AS (SELECT doc_id,
          CASE WHEN doc_id IN (66, 23, 137, 29, 131) OR doc_id % 89 = 11
               THEN 'plant.org/' || doc_id ELSE url_key END AS url_key
        FROM s6),
      fps AS (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM docsrc),
      docsw AS (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM docsrc),
      shs AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM shs),
      bq AS (SELECT doc_id,
          len(regexp_extract_all(text, '\\S+')) AS n_tokens,
          len(list_filter(regexp_extract_all(lower(text), '\\S+'),
              x -> x IN ($stopList))) AS n_stop,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          length(text) AS n_chars,
          CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
               WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
               WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
               WHEN regexp_matches(text, '[\\x{0900}-\\x{097f}]') THEN 'hi'
               WHEN len(list_filter(regexp_extract_all(lower(text), '\\S+'),
                   x -> x IN ($stopList))) * 8 >= len(regexp_extract_all(text, '\\S+'))
                 THEN 'en' ELSE 'und' END AS lang_pred,
          greatest(len(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' '))-4, 0) AS total5,
          len(list_distinct(list_transform(
            generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' '))-4, 0)),
            i -> array_to_string(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')[i:i+4], ' ')))) AS uniq5
        FROM docsrc),
      gsc AS (SELECT doc_id, lang_pred,
          (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 10
                WHEN n_tokens < 20 THEN n_tokens // 2
                ELSE 10000 // n_tokens END) * 5
          + least((n_stop * 50) // greatest(n_tokens, 1), 10) * 3
          + (10 - least((n_punct * 50) // greatest(n_chars, 1), 10)) * 2 AS quality,
          CASE WHEN total5 > 0 THEN ((total5 - uniq5) * 10000) // total5
               ELSE 0 END AS rep_bp
        FROM bq),
      -- ============ tick 1: doc_id % 3 = 0, empty indexes ============
      u1 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY url_key) AS keep
          FROM s6p WHERE doc_id % 3 = 0) WHERE doc_id <> keep),
      s11 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
          AND doc_id NOT IN (SELECT doc_id FROM u1)),
      e1 AS (SELECT doc_id FROM (
          SELECT f.doc_id, min(f.doc_id) OVER (PARTITION BY f.fp) AS keep
          FROM fps f JOIN s11 USING (doc_id)) WHERE doc_id <> keep),
      s21 AS (SELECT doc_id FROM s11
          WHERE doc_id NOT IN (SELECT doc_id FROM e1)),
      q1 AS (SELECT doc_id FROM gsc JOIN s21 USING (doc_id)
             WHERE quality < 55),
      r1 AS (SELECT doc_id FROM gsc JOIN s21 USING (doc_id)
             WHERE quality >= 55 AND rep_bp > 6000),
      l1 AS (SELECT doc_id FROM gsc JOIN s21 USING (doc_id)
             WHERE quality >= 55 AND rep_bp <= 6000 AND lang_pred <> 'en'),
      s31 AS (SELECT doc_id FROM gsc JOIN s21 USING (doc_id)
             WHERE quality >= 55 AND rep_bp <= 6000 AND lang_pred = 'en'),
      p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN s31 sa ON sa.doc_id = a.doc_id
        JOIN s31 sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      edges1 AS (SELECT id_a AS src, id_b AS dst FROM p1
                 UNION SELECT id_b, id_a FROM p1),
      reach1(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges1)
        UNION
        SELECT reach1.id, e.dst FROM reach1 JOIN edges1 e ON reach1.r = e.src),
      n1 AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach1 GROUP BY id) WHERE id <> c),
      adm1 AS (SELECT doc_id FROM s31
          WHERE doc_id NOT IN (SELECT doc_id FROM n1)),
      k1 AS (SELECT DISTINCT url_key FROM s6p WHERE doc_id % 3 = 0),
      f1 AS (SELECT DISTINCT f.fp FROM fps f JOIN s11 USING (doc_id)),
      -- ============ tick 2: the rest, probing tick 1 ============
      u2 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY url_key) AS keep
          FROM s6p WHERE doc_id % 3 <> 0) WHERE doc_id <> keep
        UNION
        SELECT k.doc_id FROM s6p k JOIN k1 USING (url_key)
        WHERE k.doc_id % 3 <> 0),
      s12 AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM u2)),
      e2 AS (SELECT doc_id FROM (
          SELECT f.doc_id, min(f.doc_id) OVER (PARTITION BY f.fp) AS keep
          FROM fps f JOIN s12 USING (doc_id)) WHERE doc_id <> keep
        UNION
        SELECT f.doc_id FROM fps f JOIN s12 USING (doc_id)
        JOIN f1 ON f.fp = f1.fp),
      s22 AS (SELECT doc_id FROM s12
          WHERE doc_id NOT IN (SELECT doc_id FROM e2)),
      q2 AS (SELECT doc_id FROM gsc JOIN s22 USING (doc_id)
             WHERE quality < 55),
      r2 AS (SELECT doc_id FROM gsc JOIN s22 USING (doc_id)
             WHERE quality >= 55 AND rep_bp > 6000),
      l2 AS (SELECT doc_id FROM gsc JOIN s22 USING (doc_id)
             WHERE quality >= 55 AND rep_bp <= 6000 AND lang_pred <> 'en'),
      s32 AS (SELECT doc_id FROM gsc JOIN s22 USING (doc_id)
             WHERE quality >= 55 AND rep_bp <= 6000 AND lang_pred = 'en'),
      n2i AS (SELECT DISTINCT id_a AS doc_id FROM (
          SELECT a.doc_id AS id_a
          FROM ex a JOIN ex b ON a.shingle = b.shingle
          JOIN s32 sa ON sa.doc_id = a.doc_id
          JOIN adm1 ab ON ab.doc_id = b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.m, b.m
          HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25)),
      hosts AS (SELECT doc_id FROM s32
          WHERE doc_id NOT IN (SELECT doc_id FROM n2i)),
      p2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN hosts sa ON sa.doc_id = a.doc_id
        JOIN hosts sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      edges2 AS (SELECT id_a AS src, id_b AS dst FROM p2
                 UNION SELECT id_b, id_a FROM p2),
      reach2(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges2)
        UNION
        SELECT reach2.id, e.dst FROM reach2 JOIN edges2 e ON reach2.r = e.src),
      n2b AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach2 GROUP BY id) WHERE id <> c),
      n2 AS (SELECT doc_id FROM n2i UNION SELECT doc_id FROM n2b)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id % 3 = 0 THEN
          CASE WHEN d.doc_id IN (SELECT doc_id FROM u1) THEN 'url'
               WHEN d.doc_id IN (SELECT doc_id FROM e1) THEN 'exact'
               WHEN d.doc_id IN (SELECT doc_id FROM l1) THEN 'lang'
               WHEN d.doc_id IN (SELECT doc_id FROM q1) THEN 'quality'
               WHEN d.doc_id IN (SELECT doc_id FROM r1) THEN 'repetition'
               WHEN d.doc_id IN (SELECT doc_id FROM n1) THEN 'near' END
        ELSE
          CASE WHEN d.doc_id IN (SELECT doc_id FROM u2) THEN 'url'
               WHEN d.doc_id IN (SELECT doc_id FROM e2) THEN 'exact'
               WHEN d.doc_id IN (SELECT doc_id FROM l2) THEN 'lang'
               WHEN d.doc_id IN (SELECT doc_id FROM q2) THEN 'quality'
               WHEN d.doc_id IN (SELECT doc_id FROM r2) THEN 'repetition'
               WHEN d.doc_id IN (SELECT doc_id FROM n2) THEN 'near' END
        END AS dropped_at
      FROM documents d"""))

  /** Re-ladder RECONCILIATION ([[graft.ext.IncrementalDedup.reconcileNear]])
    * on a synthesized divergence corpus: every doc_id triple (x, y, z =
    * roles 0, 1, 2 of group doc_id div 3) carries overlapping 8-word
    * texts with J(x,y) = J(y,z) = 0.5 and J(x,z) = 0.2 — the exact
    * cross-tick chain-through-a-dropped-doc shape the composed ladder
    * documents as its one divergence from the batch ladder. Ticks:
    * roles 0–1 first (y drops near against x), role 2 second (z passes
    * the postings probe — nothing in the corpus resembles it). The
    * reconciler re-runs the near rung's components over the STORED
    * postings (admitted + near-dropped evidence) and must emit exactly
    * the z docs. The oracle replays both ticks AND the reconciliation
    * CC in one SQL — including the incomplete-group edges at the id
    * range's ends, where the divergence does NOT occur.
    */
  val qReladder = Q("q_reladder",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_reladder").toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(col("doc_id") % 3 * 2, col("doc_id") % 3 * 2 + 7),
          k => concat(lit("g"), expr("doc_id div 3").cast("string"),
            lit("w"), k.cast("string")))).as("text"))
      graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
      graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
      graft.ext.IncrementalDedup.reconcileNear(s, root, tau = 0.5)
        .select(col("id"), col("dropped_at"))
    },
    Some("""WITH RECURSIVE syn AS (
        SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS role
        FROM documents),
      docsyn AS (
        SELECT doc_id, array_to_string(list_transform(
          generate_series(role*2, role*2 + 7),
          k -> 'g' || grp || 'w' || k), ' ') AS text FROM syn),
      docsw AS (SELECT doc_id, string_split(text, ' ') AS w FROM docsyn),
      shs AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM shs),
      -- ============ tick 1: roles 0,1 (empty indexes) ============
      t1 AS (SELECT doc_id FROM syn WHERE role <> 2),
      p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN t1 sa ON sa.doc_id = a.doc_id
        JOIN t1 sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edges1 AS (SELECT id_a AS src, id_b AS dst FROM p1
                 UNION SELECT id_b, id_a FROM p1),
      reach1(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges1)
        UNION
        SELECT reach1.id, e.dst FROM reach1 JOIN edges1 e ON reach1.r = e.src),
      nd1 AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach1 GROUP BY id) WHERE id <> c),
      adm1 AS (SELECT doc_id FROM t1
          WHERE doc_id NOT IN (SELECT doc_id FROM nd1)),
      -- ============ tick 2: role 2, probing tick 1's postings ============
      t2 AS (SELECT doc_id FROM syn WHERE role = 2),
      n2i AS (SELECT DISTINCT id_a AS doc_id FROM (
          SELECT a.doc_id AS id_a
          FROM ex a JOIN ex b ON a.shingle = b.shingle
          JOIN t2 sa ON sa.doc_id = a.doc_id
          JOIN adm1 ab ON ab.doc_id = b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.m, b.m
          HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5)),
      hosts AS (SELECT doc_id FROM t2
          WHERE doc_id NOT IN (SELECT doc_id FROM n2i)),
      p2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN hosts sa ON sa.doc_id = a.doc_id
        JOIN hosts sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edges2 AS (SELECT id_a AS src, id_b AS dst FROM p2
                 UNION SELECT id_b, id_a FROM p2),
      reach2(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges2)
        UNION
        SELECT reach2.id, e.dst FROM reach2 JOIN edges2 e ON reach2.r = e.src),
      n2b AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach2 GROUP BY id) WHERE id <> c),
      adm AS (SELECT doc_id FROM adm1 UNION
              SELECT doc_id FROM hosts
              WHERE doc_id NOT IN (SELECT doc_id FROM n2b)),
      -- ===== reconcile: CC over ALL stored postings (adm + near-dropped)
      stored AS (SELECT doc_id FROM adm
                 UNION SELECT doc_id FROM nd1
                 UNION SELECT doc_id FROM n2i
                 UNION SELECT doc_id FROM n2b),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN stored sa ON sa.doc_id = a.doc_id
        JOIN stored sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edgesr AS (SELECT id_a AS src, id_b AS dst FROM pr
                 UNION SELECT id_b, id_a FROM pr),
      reachr(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edgesr)
        UNION
        SELECT reachr.id, e.dst FROM reachr JOIN edgesr e ON reachr.r = e.src)
      SELECT x.id, 'near' AS dropped_at
      FROM (SELECT id, min(r) AS c FROM reachr GROUP BY id) x
      JOIN adm ON adm.doc_id = x.id
      WHERE x.id <> x.c"""))

  /** [[qReladder]] extended one step: the reconcile delta is APPLIED
    * ([[graft.ext.IncrementalDedup.applyReconcile]] — verdict update,
    * corpus delete, postings retirement), after which the streaming
    * root's verdict relation must equal the BATCH ladder's on the same
    * synthetic chain corpus: ticks + reconcile + apply ≡ one batch CC.
    * The oracle is exactly that batch answer — one connected-components
    * pass over ALL docs (no tick split, no chain replay): every
    * non-minimum member of a τ-component is 'near', everything else
    * NULL. Convergence is the whole claim, so the simplicity of the
    * oracle IS the assertion.
    */
  val qReladderApply = Q("q_reladder_apply",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_rel_apply").toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(col("doc_id") % 3 * 2, col("doc_id") % 3 * 2 + 7),
          k => concat(lit("g"), expr("doc_id div 3").cast("string"),
            lit("w"), k.cast("string")))).as("text"))
      graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
      graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
      graft.ext.IncrementalDedup.applyReconcile(s, root, "doc_id",
        graft.ext.IncrementalDedup.reconcileNear(s, root, tau = 0.5),
        committedBelow = 2L)
      s.read.parquet(s"$root/verdicts")
        .select(col("id"), col("dropped_at"))
    },
    Some("""WITH RECURSIVE syn AS (
        SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS role
        FROM documents),
      docsyn AS (
        SELECT doc_id, array_to_string(list_transform(
          generate_series(role*2, role*2 + 7),
          k -> 'g' || grp || 'w' || k), ' ') AS text FROM syn),
      docsw AS (SELECT doc_id, string_split(text, ' ') AS w FROM docsyn),
      shs AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM shs),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      nd AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach GROUP BY id) WHERE id <> c)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near' END
          AS dropped_at
      FROM documents d"""))

  /** [[qReladderApply]] with the QUOTA dimension: the full ingest
    * ladder (url + near + per-registered-domain quota, k = 2) over
    * three ticks with a reconcile window — refund ENABLED — in the
    * middle. Groups of 5 docs share one registered domain: role 0 is
    * the host, role 1 its near-dup (drops at ingest, evidence), role 2
    * chains to the corpus only through role 1 (admitted at ingest,
    * consumes quota, then reconciled away — `applyReconcile` with
    * `refundQuota` decrements its domain), roles 3-4 arrive AFTER the
    * window as pure quota pressure. With the refund, role 3 fits the
    * corrected count (1 + 1 ≤ 2) and role 4 overflows — exactly the
    * batch ladder-with-quota answer the oracle computes (one near CC +
    * one rank-per-domain pass, no tick replay: convergence is the
    * claim). WITHOUT the refund role 3 would read prior = 2 and drop
    * `domain` — the discriminating row.
    */
  val qReladderRefund = Q("q_reladder_refund",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_rel_refund").toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(
          when(col("doc_id") % 5 === 3, sequence(lit(12), lit(19)))
            .when(col("doc_id") % 5 === 4, sequence(lit(22), lit(29)))
            .otherwise(sequence(col("doc_id") % 5 * 2,
              col("doc_id") % 5 * 2 + 7)),
          k => concat(lit("g"), expr("doc_id div 5").cast("string"),
            lit("w"), k.cast("string")))).as("text"),
        concat(lit("http://d"), expr("doc_id div 5").cast("string"),
          lit(".com/p/"), col("doc_id").cast("string")).as("url"))
      def tick(cond: org.apache.spark.sql.Column, b: Long) =
        graft.ext.IngestLadder.admitBatch(docs.filter(cond), "doc_id",
          "text", Some("url"), Seq.empty, root, n = 3, tau = 0.5,
          batchId = b, domainQuota = Some(2))
      tick(col("doc_id") % 5 < 2, 0L)
      tick(col("doc_id") % 5 === 2, 1L)
      graft.ext.IncrementalDedup.reconcileWindow(s, root, "doc_id",
        tau = 0.5, committedBelow = 2L,
        refundQuota = Some(graft.ext.IncrementalDedup.QuotaRefund("url")))
      tick(col("doc_id") % 5 >= 3, 2L)
      s.read.parquet(s"$root/verdicts")
        .select(col("id"), col("dropped_at"))
    },
    Some("""WITH RECURSIVE syn AS (
        SELECT doc_id, doc_id // 5 AS grp, doc_id % 5 AS role
        FROM documents),
      docsyn AS (
        SELECT doc_id, grp, array_to_string(list_transform(
          CASE WHEN role = 3 THEN generate_series(12, 19)
               WHEN role = 4 THEN generate_series(22, 29)
               ELSE generate_series(role*2, role*2 + 7) END,
          k -> 'g' || grp || 'w' || k), ' ') AS text FROM syn),
      docsw AS (SELECT doc_id, grp, string_split(text, ' ') AS w
        FROM docsyn),
      shs AS (SELECT doc_id, grp, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle
        FROM shs),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      nd AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach GROUP BY id) WHERE id <> c),
      q AS (SELECT doc_id FROM (
          SELECT s.doc_id, row_number() OVER (
            PARTITION BY s.grp ORDER BY s.doc_id) AS rnk
          FROM syn s
          WHERE s.doc_id NOT IN (SELECT doc_id FROM nd)) WHERE rnk > 2)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near'
             WHEN d.doc_id IN (SELECT doc_id FROM q) THEN 'domain' END
          AS dropped_at
      FROM documents d"""))

  /** The THREE-WAY maintenance composition — quota REFUND × retention
    * LAG × full-PSL bucketing — in one oracle, each dial load-bearing
    * on a different role's final verdict (groups of 7 = `doc_id div 7`,
    * role = `doc_id % 7`, hosts `a.d<g>.ck` for roles 0-3 and
    * `b.d<g>.ck` for 4-6 under a `*.ck` wildcard rule):
    *
    *  - role 1 drops near in-batch (tick 0); role 2 chains through its
    *    evidence (tick 1, the documented divergence), converges at
    *    window A (cb=2) and REFUNDS `a.d<g>.ck`;
    *  - role 3 (tick 2) is admitted ONLY because of that refund
    *    (prior 1 + rank 1 ≤ 2; an unrefunded prior of 2 would verdict
    *    it `domain` forever) and then converges `near` at window B
    *    ONLY because the lag (retireLagWindows = 1) kept role 1's
    *    evidence across window A — zero-lag retirement would have
    *    orphaned its chain;
    *  - role 4 (tick 3) is admitted ONLY under PSL bucketing: `*.ck`
    *    makes `d<g>.ck` a public suffix, so `b.d<g>.ck` is a FRESH
    *    registrant with prior 0 (the embedded-subset's 2-label
    *    bucketing would merge it into an exhausted `d<g>.ck`);
    *  - roles 5-6 fill the b-bucket: 6 overflows (`domain`).
    *
    * The stream-with-maintenance must converge to the batch answer the
    * DuckDB side derives from scratch (recursive-CTE CC for `near`,
    * PSL-bucketed rank for `domain`) — any one dial mis-wired breaks a
    * different row. Three windows at lag 1 also exercise the
    * lagged-retirement schedule end to end (window B retires window
    * A's evidence; window C retires window B's watermark-keyed moves).
    */
  val qReladderRefundLag = Q("q_reladder_refund_lag",
    (s, dir) => {
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_rel_rlag").toString
      val role = col("doc_id") % 7
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(
          when(role === 1, sequence(lit(2), lit(9)))
            .when(role === 2, sequence(lit(4), lit(11)))
            .when(role === 3, sequence(lit(3), lit(10)))
            .when(role === 4, sequence(lit(22), lit(29)))
            .when(role === 5, sequence(lit(32), lit(39)))
            .when(role === 6, sequence(lit(42), lit(49)))
            .otherwise(sequence(lit(0), lit(7))),
          k => concat(lit("g"), expr("doc_id div 7").cast("string"),
            lit("w"), k.cast("string")))).as("text"),
        concat(when(role < 4, lit("http://a.d")).otherwise(lit("http://b.d")),
          expr("doc_id div 7").cast("string"), lit(".ck/p/"),
          col("doc_id").cast("string")).as("url"))
      val rules = (graft.ext.Dedup.publicSuffixes :+ "*.ck").toDF("rule")
      def tick(cond: org.apache.spark.sql.Column, b: Long) =
        graft.ext.IngestLadder.admitBatch(docs.filter(cond), "doc_id",
          "text", Some("url"), Seq.empty, root, n = 3, tau = 0.5,
          batchId = b, domainQuota = Some(2), pslRules = Some(rules))
      def window(cb: Long): Unit = {
        graft.ext.IncrementalDedup.reconcileWindow(
          s, root, "doc_id", tau = 0.5, committedBelow = cb,
          retire = true, retireLagWindows = 1,
          refundQuota = Some(graft.ext.IncrementalDedup.QuotaRefund(
            "url", graft.ext.Dedup.publicSuffixes, Some(rules))))
        // the window's cache-lifetime contract: the CALLER releases its
        // corpus-scale multiScan entries (exactly what RunIngest does
        // per window) — a later window's same-path scans would
        // otherwise be served the pre-tick state by the plan-matched
        // cache and silently reconcile against stale trees
        s.sharedState.cacheManager.clearCache()
      }
      tick(role < 2, 0L); tick(role === 2, 1L); window(2L)
      tick(role === 3, 2L); tick(role === 4, 3L); window(4L)
      tick(role === 5, 4L); tick(role === 6, 5L); window(6L)
      s.read.parquet(s"$root/verdicts")
        .select(col("id"), col("dropped_at"))
    },
    Some("""WITH RECURSIVE syn AS (
        SELECT doc_id, doc_id // 7 AS grp, doc_id % 7 AS role
        FROM documents),
      docsyn AS (
        SELECT doc_id, grp, role, array_to_string(list_transform(
          CASE WHEN role = 1 THEN generate_series(2, 9)
               WHEN role = 2 THEN generate_series(4, 11)
               WHEN role = 3 THEN generate_series(3, 10)
               WHEN role = 4 THEN generate_series(22, 29)
               WHEN role = 5 THEN generate_series(32, 39)
               WHEN role = 6 THEN generate_series(42, 49)
               ELSE generate_series(0, 7) END,
          k -> 'g' || grp || 'w' || k), ' ') AS text FROM syn),
      docsw AS (SELECT doc_id, text, string_split(text, ' ') AS w
        FROM docsyn),
      shs AS (SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset FROM docsw),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle
        FROM shs),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      nd AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS c FROM reach GROUP BY id) WHERE id <> c),
      q AS (SELECT doc_id FROM (
          SELECT s.doc_id, row_number() OVER (
            PARTITION BY s.grp, CASE WHEN s.role < 4 THEN 'a' ELSE 'b' END
            ORDER BY s.doc_id) AS rnk
          FROM syn s
          WHERE s.doc_id NOT IN (SELECT doc_id FROM nd)) WHERE rnk > 2)
      SELECT d.doc_id AS id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near'
             WHEN d.doc_id IN (SELECT doc_id FROM q) THEN 'domain' END
          AS dropped_at
      FROM documents d"""))

  /** The ingest ladder's LINES rung ([[graft.ext.IngestLadder
    * .admitBatch]] with `lineDedup = true`) replayed over two ticks:
    * every doc carries a shared boilerplate line plus a unique body
    * (ids letter-encoded so the CCNet digit-stripping normalization
    * can't collapse them); `doc_id % 7 == 3` docs copy their
    * predecessor's body with doubled inner whitespace — a DIFFERENT
    * line key (inner spacing survives the line normalization) but the
    * SAME whitespace-collapsing fingerprint, so the doc passes the
    * line cut and dedupes at `exact` — the cut-BEFORE-fingerprint
    * semantics decision, which a pre-cut fingerprint could never see.
    * The oracle replays the cross-tick first-occurrence cut (one
    * window over (key, tick, id, idx)), the empty-doc rule, and the
    * two-tick exact rung over the REBUILT texts, and pins each
    * admitted doc's rebuilt text by md5.
    */
  val qLineRung = Q("q_line_rung",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q_line_rung").toString
      val letters = (c: org.apache.spark.sql.Column) =>
        translate(c.cast("string"), "0123456789", "abcdefghij")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", lit("boilerplate nav menu"),
          when(col("doc_id") % 7 === 3,
            concat(lit("body words  x"), letters(col("doc_id") - 1),
              lit(" more words here")))
          .otherwise(concat(lit("body words x"), letters(col("doc_id")),
            lit(" more words here")))).as("text"))
      val v1 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 0L,
        lineDedup = true)
      val v2 = graft.ext.IngestLadder.admitBatch(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", None,
        Seq.empty, root, n = 3, tau = 0.9, batchId = 1L,
        lineDedup = true)
      val corpus = s.read.parquet(s"$root/corpus")
        .select(col("doc_id").as("__cid"), md5(col("text")).as("text_md5"))
      v1.unionByName(v2)
        .join(corpus, col("id") === col("__cid"), "left")
        .select(col("id"), col("dropped_at"), col("text_md5"))
    },
    Some("""WITH lns AS (
        SELECT doc_id, doc_id % 2 AS b, 1 AS idx,
          'boilerplate nav menu' AS line FROM documents
        UNION ALL
        SELECT doc_id, doc_id % 2 AS b, 2 AS idx,
          CASE WHEN doc_id % 7 = 3 THEN 'body words  x' ||
              translate((doc_id - 1)::VARCHAR, '0123456789', 'abcdefghij')
              || ' more words here'
            ELSE 'body words x' ||
              translate(doc_id::VARCHAR, '0123456789', 'abcdefghij')
              || ' more words here' END
        FROM documents),
      keyed AS (SELECT doc_id, b, idx, line,
          trim(regexp_replace(lower(line), '[0-9]', '', 'g')) AS nk
        FROM lns),
      cut AS (SELECT doc_id, idx FROM (
          SELECT doc_id, idx, row_number() OVER (
            PARTITION BY nk ORDER BY b, doc_id, idx) AS rn
          FROM keyed WHERE nk <> '') WHERE rn > 1),
      stats AS (SELECT k.doc_id,
          count(CASE WHEN k.nk <> '' THEN 1 END) AS orig_content,
          count(CASE WHEN k.nk <> '' AND c.doc_id IS NULL THEN 1 END)
            AS kept_content
        FROM keyed k LEFT JOIN cut c
          ON k.doc_id = c.doc_id AND k.idx = c.idx
        GROUP BY k.doc_id),
      ldrop AS (SELECT doc_id FROM stats
        WHERE orig_content > 0 AND kept_content = 0),
      docs2 AS (SELECT k.doc_id,
          string_agg(k.line, chr(10) ORDER BY k.idx) AS text
        FROM keyed k LEFT JOIN cut c
          ON k.doc_id = c.doc_id AND k.idx = c.idx
        WHERE c.doc_id IS NULL
          AND k.doc_id NOT IN (SELECT doc_id FROM ldrop)
        GROUP BY k.doc_id),
      fps AS (SELECT doc_id, doc_id % 2 AS b,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM docs2),
      e1 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep
          FROM fps WHERE b = 0) WHERE doc_id <> keep),
      f1 AS (SELECT DISTINCT fp FROM fps WHERE b = 0),
      e2 AS (SELECT doc_id FROM (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep
          FROM fps WHERE b = 1) WHERE doc_id <> keep
        UNION
        SELECT f.doc_id FROM fps f JOIN f1 ON f.fp = f1.fp
        WHERE f.b = 1),
      verdict AS (SELECT d.doc_id,
          CASE WHEN d.doc_id IN (SELECT doc_id FROM ldrop) THEN 'lines'
               WHEN d.doc_id % 2 = 0 AND
                 d.doc_id IN (SELECT doc_id FROM e1) THEN 'exact'
               WHEN d.doc_id % 2 = 1 AND
                 d.doc_id IN (SELECT doc_id FROM e2) THEN 'exact'
          END AS dropped_at
        FROM documents d)
      SELECT v.doc_id AS id, v.dropped_at,
        CASE WHEN v.dropped_at IS NULL THEN md5(d2.text) END AS text_md5
      FROM verdict v LEFT JOIN docs2 d2 ON v.doc_id = d2.doc_id"""))

  /** Decontamination MATRIX ([[Corpus.decontamMatrix]]): fraction,
    * benchmark-side containment, and exact-span coverage signals side
    * by side per corpus doc, with per-form verdicts, the union verdict,
    * and the agreement count — against the SAME % 10 benchmark slice.
    * The oracle replays all three chains (bigram overlap fraction,
    * per-item containment argmax, anchored-window islands) and the
    * verdict algebra in one SQL.
    */
  val qDecontamMatrix = Q("q_decontam_matrix",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.decontamMatrix(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 2)
    },
    Some("""WITH shm AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(
            len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '))-1, 0)),
          i -> array_to_string(
            string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')[i:i+1], ' ')))
          AS sset
        FROM documents),
      exm AS (SELECT doc_id, len(sset) AS m,
               ('0x'||substr(md5(unnest(sset)),1,15))::BIGINT AS h
             FROM shm),
      -- fraction: corpus-shingle denominator
      bf AS (SELECT DISTINCT h FROM exm WHERE doc_id % 10 = 0),
      fr AS (SELECT e.doc_id, max(e.m) AS n_shingles,
               sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
             FROM exm e LEFT JOIN bf b ON e.h = b.h
             WHERE e.doc_id % 10 <> 0 GROUP BY 1),
      frac AS (SELECT d1.doc_id,
               CAST(CASE WHEN coalesce(fr.n_shingles, 0) > 0
                 THEN floor(fr.n_shared * 10000 / fr.n_shingles) ELSE 0
               END AS BIGINT) AS overlap_bp
             FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d1
             LEFT JOIN fr USING (doc_id)),
      -- containment: benchmark-item denominator, per-doc argmax
      bm AS (SELECT doc_id AS bid, len(sset) AS mb FROM shm
             WHERE doc_id % 10 = 0),
      be AS (SELECT doc_id AS bid, h FROM exm WHERE doc_id % 10 = 0),
      inter AS (
        SELECT c.doc_id, b.bid, m.mb, count(*) AS i
        FROM exm c JOIN be b ON c.h = b.h JOIN bm m ON m.bid = b.bid
        WHERE c.doc_id % 10 <> 0 GROUP BY 1, 2, 3),
      cbest AS (
        SELECT doc_id, (i * 10000) // mb AS cont_bp,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY (i * 10000) // mb DESC, bid ASC) AS rn
        FROM inter),
      cont AS (SELECT doc_id, cont_bp AS max_cont_bp FROM cbest
               WHERE rn = 1),
      -- spans: anchored-window islands vs the benchmark windows
      dd AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS nl FROM dd WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, nl - 40 + 1)) AS p
        FROM sized),
      anch AS (
        SELECT doc_id, t, p FROM pos
        WHERE (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
               + ascii(substr(t, p + 7, 1))) % 8 = 0),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM anch),
      cw AS (SELECT doc_id, p, fp FROM wins WHERE doc_id % 10 <> 0),
      bw AS (SELECT DISTINCT fp FROM wins WHERE doc_id % 10 = 0),
      dup AS (SELECT DISTINCT c.doc_id, c.p FROM cw c JOIN bw b USING (fp)),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      sp AS (SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
             FROM isl GROUP BY 1, 2),
      cov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered_bytes
              FROM sp GROUP BY 1),
      spans AS (
        SELECT d0.doc_id,
          CAST(CASE WHEN octet_length(encode(trim(regexp_replace(
                 lower(d0.text),'\s+',' ','g')))) > 0
            THEN (coalesce(c.covered_bytes, 0) * 10000)
              // octet_length(encode(trim(regexp_replace(
                 lower(d0.text),'\s+',' ','g'))))
            ELSE 0 END AS BIGINT) AS cov_bp
        FROM documents d0 LEFT JOIN cov c USING (doc_id)
        WHERE d0.doc_id % 10 <> 0)
      SELECT f.doc_id AS id, f.overlap_bp,
        coalesce(c.max_cont_bp, 0) AS max_cont_bp, s.cov_bp,
        f.overlap_bp >= 2500 AS drop_fraction,
        coalesce(c.max_cont_bp, 0) >= 8000 AS drop_containment,
        s.cov_bp >= 2500 AS drop_spans,
        (f.overlap_bp >= 2500 OR coalesce(c.max_cont_bp, 0) >= 8000
          OR s.cov_bp >= 2500) AS drop_any,
        CAST((CASE WHEN f.overlap_bp >= 2500 THEN 1 ELSE 0 END)
          + (CASE WHEN coalesce(c.max_cont_bp, 0) >= 8000 THEN 1 ELSE 0 END)
          + (CASE WHEN s.cov_bp >= 2500 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_forms
      FROM frac f LEFT JOIN cont c USING (doc_id)
      JOIN spans s USING (doc_id)"""))

  val qDedupJaccard = Q("dedup_ngram_jaccard",
    (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"),
      "doc_id", "text", n = 3, tau = 0.25),
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) AS jacc
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.m, b.m
      HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25"""))

  /** Span-level decontamination ([[Corpus.decontaminateSpans]]): exact
    * ≥ 40-byte spans shared with the benchmark slice (doc_id % 10 = 0
    * here — the % 97 slice shares no long verbatim span on this
    * fixture, which is itself informative: span leakage is a different
    * signal than shingle overlap), per-doc covered bytes via the
    * interval union, benchmark-doc fan-in, drop at 2500 bp. The oracle
    * replays anchor selection, the A-vs-B window join, islands, and
    * the policy.
    */
  val qDecontamSpans = Q("q_decontam_spans",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.decontaminateSpans(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", winBytes = 40, anchorMod = 8, dropAtBp = 2500)
    },
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized),
      anch AS (
        SELECT doc_id, t, p FROM pos
        WHERE (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
               + ascii(substr(t, p + 7, 1))) % 8 = 0),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM anch),
      cw AS (SELECT doc_id, p, fp FROM wins WHERE doc_id % 10 <> 0),
      bw AS (SELECT DISTINCT fp, doc_id AS bid FROM wins WHERE doc_id % 10 = 0),
      hits AS (SELECT c.doc_id, c.p, b.bid FROM cw c JOIN bw b USING (fp)),
      dup AS (SELECT DISTINCT doc_id, p FROM hits),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e, count(*) AS n_win
        FROM isl GROUP BY 1, 2),
      cov AS (
        SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered_bytes,
               CAST(sum(n_win) AS BIGINT) AS n_dup_windows
        FROM spans GROUP BY 1),
      nb AS (SELECT doc_id, count(DISTINCT bid) AS n_bench_docs
             FROM hits GROUP BY 1),
      base AS (
        SELECT doc_id,
          octet_length(encode(trim(regexp_replace(lower(text),'\s+',' ','g')))) AS n_bytes
        FROM documents WHERE doc_id % 10 <> 0)
      SELECT b.doc_id AS id, CAST(b.n_bytes AS BIGINT) AS n_bytes,
        coalesce(c.n_dup_windows, 0) AS n_dup_windows,
        coalesce(c.covered_bytes, 0) AS covered_bytes,
        CASE WHEN b.n_bytes > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // b.n_bytes
          ELSE 0 END AS cov_bp,
        coalesce(nb.n_bench_docs, 0) AS n_bench_docs,
        (CASE WHEN b.n_bytes > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // b.n_bytes
          ELSE 0 END) >= 2500 AS "drop"
      FROM base b LEFT JOIN cov c USING (doc_id)
      LEFT JOIN nb USING (doc_id)"""))

  /** Span-level decontamination REWRITE ([[Corpus.decontaminateRewrite]]):
    * the surgical redact-instead-of-drop form — every ≥40-byte span
    * byte-identical to benchmark content is CUT wherever it appears
    * (no canonical occurrence is spared: leaked eval text has no
    * legitimate copy), survivors stitched in order, the result pinned
    * by md5. The oracle enumerates every window position on both
    * sides, intersects with the benchmark's fingerprint set, replays
    * islands + complement stitch, and hashes the rebuilt text — the
    * rewrite is checked byte-for-byte.
    */
  /** CROSS-DOCUMENT line dedup ([[graft.ext.Corpus.lineDedupFirst]] /
    * [[graft.ext.Corpus.lineDedupBoilerplate]]): the CCNet pipeline's
    * published first step (Wenzek 2020 §3.1) — repeated lines cut
    * across documents, first occurrence kept (or, in the boilerplate
    * form, every occurrence of a line in > maxDocFreq docs cut). The
    * fixture wraps each document in a shared nav header (every doc),
    * a cookie banner (doc_id % 7 = 0) and a per-doc numbered footer —
    * the numbers normalize away (lowercase + digit strip, the CCNet
    * key), so "footer id 123" and "footer id 456" are the SAME line:
    * the oracle replays normalization, the global first-occurrence
    * window / the doc-frequency aggregate, and the per-doc reassembly,
    * with the rebuilt text md5-pinned byte for byte.
    */
  private val lineDedupDocsSql: String = """
      ldocs AS (SELECT doc_id,
          'shared nav header' || chr(10) || text || chr(10) ||
          CASE WHEN CAST(doc_id % 7 AS INT) = 0 THEN 'cookie banner accept'
               ELSE 'footer id ' || CAST(doc_id AS STRING) END AS text
        FROM documents),
      lexl AS (SELECT doc_id, idx, ls[idx] AS ln FROM (
          SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS idx
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM ldocs))),
      lexk AS (SELECT doc_id, idx, ln,
          trim(regexp_replace(lower(ln), '[0-9]', '', 'g')) AS k
        FROM lexl)"""

  private def lineDedupTailSql(dropsCte: String): String = s"""
      $dropsCte,
      lkept AS (SELECT e.doc_id, e.idx, e.ln FROM lexk e
          WHERE NOT EXISTS (SELECT 1 FROM ldl d
            WHERE d.doc_id = e.doc_id AND d.idx = e.idx)),
      lreb AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text,
          count(*) AS n_kept FROM lkept GROUP BY doc_id),
      lnl AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
          FROM ldocs)
      SELECT n.doc_id AS id, CAST(n.n_lines AS BIGINT) AS n_lines,
        CAST(n.n_lines - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
        md5(r.text) AS fp
      FROM lnl n LEFT JOIN lreb r USING (doc_id)"""

  private def lineDedupInput(s: SparkSession, dir: String) =
    t(s, dir, "documents").select(col("doc_id"), concat_ws("\n",
      lit("shared nav header"), col("text"),
      when(col("doc_id") % 7 === 0, lit("cookie banner accept"))
        .otherwise(concat(lit("footer id "),
          col("doc_id").cast("string")))).as("text"))

  val qLineDedupFirst = Q("q_line_dedup_first",
    (s, dir) => graft.ext.Corpus.lineDedupFirst(
        lineDedupInput(s, dir), "doc_id", "text")
      .select(col("id"), col("n_lines"), col("n_dropped"),
        md5(col("text")).as("fp")),
    Some("WITH " + lineDedupDocsSql.trim + "," + lineDedupTailSql("""
      ldl AS (SELECT doc_id, idx FROM (
          SELECT doc_id, idx, row_number() OVER
            (PARTITION BY k ORDER BY doc_id, idx) AS rn
          FROM lexk WHERE k <> '') WHERE rn > 1)""".trim)))

  val qLineDedupBoiler = Q("q_line_dedup_boiler",
    (s, dir) => graft.ext.Corpus.lineDedupBoilerplate(
        lineDedupInput(s, dir), "doc_id", "text", maxDocFreq = 5)
      .select(col("id"), col("n_lines"), col("n_dropped"),
        md5(col("text")).as("fp")),
    Some("WITH " + lineDedupDocsSql.trim + "," + lineDedupTailSql("""
      ldl AS (SELECT doc_id, idx FROM lexk WHERE k <> '' AND k IN (
          SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS df
            FROM lexk WHERE k <> '' GROUP BY k) WHERE df > 5))""".trim)))

  val qDecontamRewrite = Q("q_decontam_rewrite",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.decontaminateRewrite(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", winBytes = 40)
    },
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized WHERE n >= 40),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM pos),
      bfp AS (SELECT DISTINCT fp FROM wins WHERE doc_id % 10 = 0),
      dup AS (SELECT doc_id, p FROM wins
              WHERE doc_id % 10 <> 0 AND fp IN (SELECT fp FROM bfp)),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
        FROM isl GROUP BY 1, 2),
      head AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
          s AS seg_e
        FROM spans),
      cuts AS (
        SELECT doc_id, max(e) AS last_e, count(*) AS n_spans_cut,
               CAST(sum(e - s) AS BIGINT) AS cut_bytes
        FROM spans GROUP BY 1),
      tail AS (
        SELECT c.doc_id, c.last_e AS seg_s, z.n + 1 AS seg_e
        FROM cuts c JOIN sized z USING (doc_id)),
      segs AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
      clean AS (
        SELECT g.doc_id,
          string_agg(substr(z.t, g.seg_s, g.seg_e - g.seg_s), ''
            ORDER BY g.seg_s) AS ct
        FROM segs g JOIN sized z USING (doc_id)
        WHERE g.seg_e > g.seg_s GROUP BY g.doc_id)
      SELECT d.doc_id AS id, CAST(length(d.t) AS BIGINT) AS n_bytes,
        coalesce(c.n_spans_cut, 0) AS n_spans_cut,
        coalesce(c.cut_bytes, 0) AS cut_bytes,
        CAST(length(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS BIGINT) AS clean_bytes,
        md5(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS clean_fp
      FROM d LEFT JOIN cuts c USING (doc_id)
      LEFT JOIN clean cl ON cl.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0"""))

  /** Winnow-screened decontamination rewrite
    * ([[Corpus.decontaminateRewriteWinnowed]]): winnow fingerprints on
    * BOTH sides flag the candidate docs (guaranteed for any leaked
    * span ≥ win+k−1 bytes), the exact every-offset cut runs over the
    * flagged minority only. The oracle replays both passes — the
    * selection hash + rightmost-min rule on corpus AND benchmark, the
    * cross-side fingerprint intersection, and the candidate-restricted
    * cut with unflagged docs passing through — pinning the two-pass
    * composition byte-for-byte.
    */
  val qDecontamRewriteWinnow = Q("q_decontam_rewrite_winnow",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.decontaminateRewriteWinnowed(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", winBytes = 40, k = 15)
    },
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      -- pass 1: winnow selection on both sides, cross-side candidates
      spos AS (
        SELECT doc_id, p,
          (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
           + ascii(substr(t, p + 7, 1))) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
              FROM sized WHERE n >= 40)),
      npos AS (SELECT doc_id, max(p) AS np FROM spos GROUP BY 1),
      fullw AS (
        SELECT doc_id, p,
          min(struct_pack(h := h, mp := -p)) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN CURRENT ROW AND 14 FOLLOWING) AS m
        FROM spos),
      sel1 AS (
        SELECT DISTINCT f.doc_id, -(f.m).mp AS sp
        FROM fullw f JOIN npos s USING (doc_id)
        WHERE s.np >= 15 AND f.p <= s.np - 15 + 1),
      sel2 AS (
        SELECT doc_id, -(min(struct_pack(h := h, mp := -p))).mp AS sp
        FROM spos
        WHERE doc_id IN (SELECT doc_id FROM npos WHERE np < 15)
        GROUP BY doc_id),
      sel AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
      winw AS (
        SELECT s.doc_id, md5(substr(z.t, CAST(s.sp AS INT), 40)) AS fp
        FROM sel s JOIN sized z USING (doc_id)),
      bfpw AS (SELECT DISTINCT fp FROM winw WHERE doc_id % 10 = 0),
      cand AS (SELECT DISTINCT doc_id FROM winw
               WHERE doc_id % 10 <> 0 AND fp IN (SELECT fp FROM bfpw)),
      -- pass 2: exact every-offset cut over candidates vs the full
      -- benchmark fingerprint set
      rpos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized WHERE n >= 40
          AND (doc_id % 10 = 0 OR doc_id IN (SELECT doc_id FROM cand))),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM rpos),
      bfp AS (SELECT DISTINCT fp FROM wins WHERE doc_id % 10 = 0),
      dup AS (SELECT doc_id, p FROM wins
              WHERE doc_id % 10 <> 0 AND fp IN (SELECT fp FROM bfp)),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
        FROM isl GROUP BY 1, 2),
      head AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
          s AS seg_e
        FROM spans),
      cuts AS (
        SELECT doc_id, max(e) AS last_e, count(*) AS n_spans_cut,
               CAST(sum(e - s) AS BIGINT) AS cut_bytes
        FROM spans GROUP BY 1),
      tail AS (
        SELECT c.doc_id, c.last_e AS seg_s, z.n + 1 AS seg_e
        FROM cuts c JOIN sized z USING (doc_id)),
      segs AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
      clean AS (
        SELECT g.doc_id,
          string_agg(substr(z.t, g.seg_s, g.seg_e - g.seg_s), ''
            ORDER BY g.seg_s) AS ct
        FROM segs g JOIN sized z USING (doc_id)
        WHERE g.seg_e > g.seg_s GROUP BY g.doc_id)
      SELECT d.doc_id AS id, CAST(length(d.t) AS BIGINT) AS n_bytes,
        coalesce(c.n_spans_cut, 0) AS n_spans_cut,
        coalesce(c.cut_bytes, 0) AS cut_bytes,
        CAST(length(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS BIGINT) AS clean_bytes,
        md5(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS clean_fp
      FROM d LEFT JOIN cuts c USING (doc_id)
      LEFT JOIN clean cl ON cl.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0"""))

  /** LSH candidate-quality card ([[Dedup.pairRecallCard]]): measured
    * recall/precision of the raw MinHash banding candidates (k=16,
    * bands=4 — `dedup_minhash`'s exact dials) against the exact
    * Jaccard ≥ 0.5 relation, in integer bp — the measurement that
    * closes the loop on the `q_lsh_plan` S-curve predictions. The
    * oracle replays BOTH generators (full LSH pipeline + exact
    * inverted-index join) and the bp arithmetic.
    */
  val qLshRecall = Q("q_lsh_recall",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val exact = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, tau = 0.5)
        .select(col("id_a"), col("id_b"))
      val approx = Dedup.minhashCandidates(
          Dedup.minhashSignatures(d, "doc_id", "text", n = 3, k = minhashK),
          k = minhashK, bands = minhashBands)
        .select(col("id_a"), col("id_b"))
      Dedup.pairRecallCard(exact, approx)
    },
    Some(s"""WITH params(hidx, ha, hb) AS (VALUES $minhashParamsSql),
      docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      exm AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh),
      tp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM exm a JOIN exm b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.5),
      ex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh),
      hv AS (
        SELECT doc_id, hidx,
               min((ha * (('0x'||substr(md5(shingle),1,8))::BIGINT) + hb)
                   % 2305843009213693951) AS mh
        FROM ex CROSS JOIN params GROUP BY doc_id, hidx),
      sig AS (SELECT doc_id, array_agg(mh ORDER BY hidx) AS sig FROM hv GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.band, sig[b.band*4+1 : b.band*4+4] AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS band) b),
      cd AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      ns AS (SELECT
        (SELECT count(*) FROM tp) AS n_true,
        (SELECT count(*) FROM cd) AS n_approx,
        (SELECT count(*) FROM tp JOIN cd USING (id_a, id_b)) AS n_hit)
      SELECT n_true, n_approx, n_hit,
        CASE WHEN n_true > 0 THEN (n_hit * 10000) // n_true
             ELSE CAST(10000 AS BIGINT) END AS recall_bp,
        CASE WHEN n_approx > 0 THEN (n_hit * 10000) // n_approx
             ELSE CAST(10000 AS BIGINT) END AS precision_bp
      FROM ns"""))

  /** Prefix-filtered route to the SAME relation as `dedup_ngram_jaccard`
    * ([[Dedup.jaccardPairsPrefix]], Bayardo 2007 AllPairs + PPJoin
    * positional bound): candidates from a document-frequency-ordered
    * shingle prefix instead of the full inverted index, exact
    * verification over per-doc hash arrays. Oracle is the identical
    * full-join SQL — hash-matching it IS the losslessness proof on this
    * fixture; the structural candidate reduction is measured in
    * `ExtOpsSpec`/SCALE.md via [[Dedup.jaccardCandidateCounts]].
    */
  val qDedupJaccardPrefix = Q("dedup_jaccard_prefix",
    (s, dir) => Dedup.jaccardPairsPrefix(t(s, dir, "documents"),
      "doc_id", "text", n = 3, tau = 0.25),
    qDedupJaccard.oracle)

  /** Asymmetric shingle containment ([[Dedup.containmentPairs]]): the
    * doc-inside-doc relation resemblance misses — C(A→B) = |S(A)∩S(B)|
    * / |S(A)|, both ordered directions per intersecting pair. On this
    * fixture every dup pair is a near-full copy (cont ≈ jacc ≈ 1); the
    * jaccard-invisible embedded-quote case is spec-planted
    * (`LcpSpec`-style fixture in `ExtOpsSpec`).
    */
  val qDedupContainment = Q("dedup_containment",
    (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"),
      "doc_id", "text", n = 3, tau = 0.5),
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.m AS m_a, b.m AS m_b,
               count(*) AS c
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      dirs AS (
        SELECT id_a AS src_id, id_b AS host_id,
               round(c::DOUBLE / m_a, 4) AS cont FROM inter
        UNION ALL
        SELECT id_b, id_a, round(c::DOUBLE / m_b, 4) FROM inter)
      SELECT src_id, host_id, cont FROM dirs WHERE cont >= 0.5"""))

  /** Incremental dedup: an arriving batch (every 11th doc) checked
    * against the already-admitted corpus (the rest) — A-vs-B inverted
    * shingle index, no corpus self-pairing. The daily-ingest shape of
    * a growing training corpus.
    */
  val qDedupIncremental = Q("dedup_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.jaccardAgainst(
        docs.filter(col("doc_id") % 11 === 0),
        docs.filter(col("doc_id") % 11 =!= 0),
        "doc_id", "text", n = 3, tau = 0.25)
    },
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) AS jacc
      FROM ex a JOIN ex b ON a.shingle = b.shingle
        AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0
      GROUP BY a.doc_id, b.doc_id, a.m, b.m
      HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25"""))

  /** Incremental containment: the batch-vs-admitted embedded-quote /
    * superset check ([[Dedup.containmentAgainst]]), same batch split as
    * `dedup_incremental`; both ordered directions from one A-vs-B
    * intersection, pair kept when either reaches τ.
    */
  val qDedupContainmentIncremental = Q("dedup_containment_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentAgainst(
        docs.filter(col("doc_id") % 11 === 0),
        docs.filter(col("doc_id") % 11 =!= 0),
        "doc_id", "text", n = 3, tau = 0.5)
    },
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             round(count(*)::DOUBLE / a.m, 4) AS cont_batch,
             round(count(*)::DOUBLE / b.m, 4) AS cont_corpus
      FROM ex a JOIN ex b ON a.shingle = b.shingle
        AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0
      GROUP BY a.doc_id, b.doc_id, a.m, b.m
      HAVING greatest(round(count(*)::DOUBLE / a.m, 4),
                      round(count(*)::DOUBLE / b.m, 4)) >= 0.5"""))

  /** STEADY-STATE Jaccard: the same batch-vs-admitted near-dup check
    * as `dedup_incremental`, scored by [[Dedup.jaccardProbe]] over the
    * STORABLE shingle-postings relation — what the composed admission
    * ladder's near rung probes per tick, never re-tokenizing corpus
    * text. SAME oracle as `dedup_incremental`, so
    * index-probe ≡ recompute-from-text hash-for-hash (the
    * `dedup_containment_steady` convention for the resemblance
    * family).
    */
  val qDedupJaccardSteady = Q("dedup_jaccard_steady",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.jaccardProbe(
        Dedup.shinglePostings(
          docs.filter(col("doc_id") % 11 === 0), "doc_id", "text", n = 3),
        Dedup.shinglePostings(
          docs.filter(col("doc_id") % 11 =!= 0), "doc_id", "text", n = 3),
        tau = 0.25)
    },
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) AS jacc
      FROM ex a JOIN ex b ON a.shingle = b.shingle
        AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0
      GROUP BY a.doc_id, b.doc_id, a.m, b.m
      HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25"""))

  /** STEADY-STATE containment: the same batch-vs-admitted check as
    * `dedup_containment_incremental`, but scored by
    * [[Dedup.containmentProbe]] over the STORABLE shingle-postings
    * relation ([[Dedup.shinglePostings]] — what the ingest ladder
    * ([[graft.ext.IngestLadder.admitBatch]]) persists at admission and
    * probes per batch, never re-tokenizing corpus text).
    * Probe and recompute-from-text share one join, and this row pins
    * the equivalence: SAME oracle as `dedup_containment_incremental`,
    * so index-probe ≡ containmentAgainst hash-for-hash. The
    * parquet-persisted multi-batch loop itself (write postings, read
    * back, probe, append survivors) is exercised end-to-end by
    * ExtOpsSpec's "containment admission loop".
    */
  val qDedupContainmentSteady = Q("dedup_containment_steady",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val batchPosts = Dedup.shinglePostings(
        docs.filter(col("doc_id") % 11 === 0), "doc_id", "text", n = 3)
      val indexPosts = Dedup.shinglePostings(
        docs.filter(col("doc_id") % 11 =!= 0), "doc_id", "text", n = 3)
      Dedup.containmentProbe(batchPosts, indexPosts, tau = 0.5)
    },
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             round(count(*)::DOUBLE / a.m, 4) AS cont_batch,
             round(count(*)::DOUBLE / b.m, 4) AS cont_corpus
      FROM ex a JOIN ex b ON a.shingle = b.shingle
        AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0
      GROUP BY a.doc_id, b.doc_id, a.m, b.m
      HAVING greatest(round(count(*)::DOUBLE / a.m, 4),
                      round(count(*)::DOUBLE / b.m, 4)) >= 0.5"""))

  /** Containment survivor selection ([[Dedup.containmentSurvivors]]):
    * the retroactive corpus-cleanup form of the admission drop rule —
    * drop every doc τ-contained in another, mutual groups keep min id.
    * The oracle replays the rule from scratch (NOT EXISTS over the
    * both-direction containment relation), independently of the Spark
    * join formulation.
    */
  val qDedupContainmentDrop = Q("dedup_containment_drop",
    (s, dir) => Dedup.containmentSurvivors(t(s, dir, "documents"),
      "doc_id", "text", n = 3, tau = 0.5)
      .select(col("doc_id")),
    Some("""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.m AS m_a, b.m AS m_b,
               count(*) AS c
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      q AS (
        SELECT src_id, host_id FROM (
          SELECT id_a AS src_id, id_b AS host_id,
                 round(c::DOUBLE / m_a, 4) AS cont FROM inter
          UNION ALL
          SELECT id_b, id_a, round(c::DOUBLE / m_b, 4) FROM inter)
        WHERE cont >= 0.5)
      SELECT d.doc_id FROM documents d WHERE NOT EXISTS (
        SELECT 1 FROM q p WHERE p.src_id = d.doc_id AND NOT (
          EXISTS (SELECT 1 FROM q r
                  WHERE r.src_id = p.host_id AND r.host_id = p.src_id)
          AND d.doc_id < p.host_id))"""))


  val qDedupMinhash = Q("dedup_minhash",
    (s, dir) => {
      val sigs = Dedup.minhashSignatures(t(s, dir, "documents"),
        "doc_id", "text", n = 3, k = minhashK)
      Dedup.minhashCandidates(sigs, k = minhashK, bands = minhashBands)
        .filter(col("est_jacc") >= 0.25)
    },
    Some(s"""WITH params(hidx, ha, hb) AS (VALUES $minhashParamsSql),
      docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh),
      hv AS (
        SELECT doc_id, hidx,
               min((ha * (('0x'||substr(md5(shingle),1,8))::BIGINT) + hb)
                   % 2305843009213693951) AS mh
        FROM ex CROSS JOIN params GROUP BY doc_id, hidx),
      sig AS (SELECT doc_id, array_agg(mh ORDER BY hidx) AS sig FROM hv GROUP BY doc_id),
      bands AS (
        SELECT doc_id, sig, b.band,
               sig[b.band*4+1 : b.band*4+4] AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS band) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sa, b.sig AS sb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) AS est_jacc
      FROM cand
      WHERE round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) >= 0.25"""))

  /** Incremental MinHash: the arriving batch's signatures banded against
    * the stored corpus signature index — corpus text never re-read. */
  val qDedupMinhashIncremental = Q("dedup_minhash_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def sigs(side: DataFrame) = Dedup.minhashSignatures(side,
        "doc_id", "text", n = 3, k = minhashK)
      Dedup.minhashCandidatesAgainst(
        sigs(docs.filter(col("doc_id") % 11 === 0)),
        sigs(docs.filter(col("doc_id") % 11 =!= 0)),
        k = minhashK, bands = minhashBands)
        .filter(col("est_jacc") >= 0.25)
    },
    Some(s"""WITH params(hidx, ha, hb) AS (VALUES $minhashParamsSql),
      docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh),
      hv AS (
        SELECT doc_id, hidx,
               min((ha * (('0x'||substr(md5(shingle),1,8))::BIGINT) + hb)
                   % 2305843009213693951) AS mh
        FROM ex CROSS JOIN params GROUP BY doc_id, hidx),
      sig AS (SELECT doc_id, array_agg(mh ORDER BY hidx) AS sig FROM hv GROUP BY doc_id),
      bands AS (
        SELECT doc_id, sig, b.band,
               sig[b.band*4+1 : b.band*4+4] AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS band) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id,
               a.sig AS sa, b.sig AS sb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0)
      SELECT batch_id, corpus_id,
             round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) AS est_jacc
      FROM cand
      WHERE round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) >= 0.25"""))

  /** One-permutation MinHash ([[Dedup.minhashSignaturesOph]]): one
    * hash per shingle split into (bin, value), min per bin, empty bins
    * rotation-densified with offset hop·C — then the SAME
    * [[Dedup.minhashCandidates]] banding as `dedup_minhash`. The oracle
    * replays bin-min and the cyclic borrow exactly (hop-ordered
    * row_number over a doc × position × hop grid), so the hash match
    * covers the densification path, not just full bins.
    */
  val qDedupMinhashOph = Q("dedup_minhash_oph",
    (s, dir) => {
      val sigs = Dedup.minhashSignaturesOph(t(s, dir, "documents"),
        "doc_id", "text", n = 3, k = minhashK)
      Dedup.minhashCandidates(sigs, k = minhashK, bands = minhashBands)
        .filter(col("est_jacc") >= 0.25)
    },
    Some(s"""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh),
      hv AS (SELECT doc_id,
               ('0x'||substr(md5(shingle),1,8))::BIGINT AS h FROM ex),
      bm AS (SELECT doc_id, h % $minhashK AS bin, min(h // $minhashK) AS mv
             FROM hv GROUP BY 1, 2),
      grid AS (
        SELECT p.doc_id, i.i, hop.hop
        FROM (SELECT DISTINCT doc_id FROM bm) p
        CROSS JOIN (SELECT unnest(generate_series(0, ${minhashK - 1})) AS i) i
        CROSS JOIN (SELECT unnest(generate_series(0, ${minhashK - 1})) AS hop) hop),
      pick AS (
        SELECT g.doc_id, g.i, bm.mv + g.hop * ${(1L << 32) / minhashK + 1} AS val,
               row_number() OVER (PARTITION BY g.doc_id, g.i
                 ORDER BY g.hop) AS rn
        FROM grid g JOIN bm ON bm.doc_id = g.doc_id
          AND bm.bin = ((g.i + g.hop) % $minhashK)),
      sig AS (SELECT doc_id, array_agg(val ORDER BY i) AS sig
              FROM pick WHERE rn = 1 GROUP BY doc_id),
      bands AS (
        SELECT doc_id, sig, b.band,
               sig[b.band*4+1 : b.band*4+4] AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS band) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sa, b.sig AS sb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) AS est_jacc
      FROM cand
      WHERE round(len(list_filter(generate_series(1, $minhashK),
                   i -> sa[i] = sb[i]))::DOUBLE / $minhashK, 4) >= 0.25"""))

  private val bbitK = 64
  private val minhashParams64Sql = Dedup.hashParams(bbitK)
    .map { case (i, a, b) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }.mkString(", ")

  /** b-bit minwise estimation ([[Dedup.bbitSignatures]] +
    * [[Dedup.bbitEstimates]], b=1, k=64): candidates from the
    * FULL-WIDTH k=16 LSH (the published deployment shape — banding on
    * raw bits floods, see the scaladoc's measured 304 s flood), the
    * bulk verification payload a 64-BIT signature per document. Oracle
    * replays both signature families, the banding, the masking, and
    * the chance-corrected estimator Ê = (â − ½)/½ exactly.
    */
  val qDedupMinhashBbit = Q("dedup_minhash_bbit",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.minhashCandidates(
        Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = minhashK),
        k = minhashK, bands = minhashBands)
      val bsigs = Dedup.bbitSignatures(
        Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = bbitK),
        b = 1)
      Dedup.bbitEstimates(cands, bsigs, k = bbitK, b = 1)
        .filter(col("est_jacc") >= 0.25)
    },
    Some(s"""WITH params(hidx, ha, hb) AS (VALUES $minhashParamsSql),
      params64(hidx, ha, hb) AS (VALUES $minhashParams64Sql),
      docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS MATERIALIZED (SELECT doc_id, unnest(sset) AS shingle FROM sh),
      hv AS (
        SELECT doc_id, hidx,
               min((ha * (('0x'||substr(md5(shingle),1,8))::BIGINT) + hb)
                   % 2305843009213693951) AS mh
        FROM ex CROSS JOIN params GROUP BY doc_id, hidx),
      sig AS (SELECT doc_id, array_agg(mh ORDER BY hidx) AS sig
              FROM hv GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.band, sig[b.band*4+1 : b.band*4+4] AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS band) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
      hv64 AS (
        SELECT doc_id, hidx,
               min((ha * (('0x'||substr(md5(shingle),1,8))::BIGINT) + hb)
                   % 2305843009213693951) AS mh
        FROM ex CROSS JOIN params64 GROUP BY doc_id, hidx),
      bsig AS (SELECT doc_id, array_agg(mh & 1 ORDER BY hidx) AS bsig
               FROM hv64 GROUP BY doc_id),
      est AS (
        SELECT c.id_a, c.id_b,
               round((len(list_filter(generate_series(1, $bbitK),
                     i -> x.bsig[i] = y.bsig[i]))::DOUBLE / $bbitK - 0.5)
                     / 0.5, 4) AS est_jacc
        FROM cand c
        JOIN bsig x ON x.doc_id = c.id_a
        JOIN bsig y ON y.doc_id = c.id_b)
      SELECT id_a, id_b, est_jacc FROM est WHERE est_jacc >= 0.25"""))

  /** LSH banding parameter planner ([[Dedup.lshPlan]]): the closed-form
    * S-curve card over every (bands, rows) factorization of the
    * signature width — s50 threshold and collision probabilities at
    * reference similarities. Data-free math; oracle replays the same
    * formulas in SQL.
    */
  val qLshPlan = Q("q_lsh_plan",
    (s, _) => Dedup.lshPlan(s, k = minhashK),
    Some(s"""WITH f AS (
        SELECT b AS n_bands, ($minhashK // b) AS n_rows
        FROM (SELECT unnest(generate_series(1, $minhashK)) AS b)
        WHERE $minhashK % b = 0)
      SELECT n_bands, n_rows,
             round(pow(1.0 / n_bands, 1.0 / n_rows), 4) AS s50,
             round(1.0 - pow(1.0 - pow(0.3, n_rows), n_bands), 4) AS p030,
             round(1.0 - pow(1.0 - pow(0.5, n_rows), n_bands), 4) AS p050,
             round(1.0 - pow(1.0 - pow(0.7, n_rows), n_bands), 4) AS p070,
             round(1.0 - pow(1.0 - pow(0.9, n_rows), n_bands), 4) AS p090
      FROM f"""))

  /** Shared oracle prefix for the cluster-derived queries: trigram-
    * Jaccard pairs (tau 0.25) → undirected edges → recursive min-label
    * reachability. `dedup_clusters` reads it directly; `dedup_survivors`
    * builds its survivor pick on top.
    */
  private[graft] val clusterReachCte = """WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM (
          WITH docs AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
            FROM documents),
          sh AS (
            SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(w)-2, 0)),
              i -> array_to_string(w[i:i+2], ' '))) AS sset
            FROM docs),
          ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.m, b.m
          HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25)),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)"""

  /** Pairs → connected components → cluster assignment: the step that
    * turns near-dup pairs into "keep one per cluster" decisions. The
    * oracle replicates min-label reachability with a recursive CTE.
    */
  val qDedupClusters = Q("dedup_clusters",
    (s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, tau = 0.25)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
    },
    Some(s"""$clusterReachCte
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"""))

  /** Degree histogram of the near-dup pair graph ([[Graph.degreeCard]]):
    * the one-glance template detector — near-all mass at degree 1-2 is
    * pairwise copies; a heavy tail is boilerplate pairing across the
    * corpus that the shingle dials missed.
    */
  val qGraphDegreeCard = Q("graph_degree_card",
    (s, dir) => graft.ext.Graph.degreeCard(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25)),
    Some(s"""$clusterReachCte,
      deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
      SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree"""))

  /** Unrolled integer-micro PageRank iterations r1..rN for the oracle:
    * same floor-`div` recurrence as [[Graph.pageRank]], `//` in DuckDB.
    * DuckDB sums BIGINT into HUGEINT, hence the ::BIGINT cast back.
    */
  private def pagerankCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
        SELECT e.dst AS id,
               (150000 + (850000 * sum(r${i - 1}.r // d.deg)) // 1000000)::BIGINT AS r
        FROM edges e JOIN r${i - 1} ON r${i - 1}.id = e.src
        JOIN deg d ON d.id = e.src
        GROUP BY e.dst)"""
    }.mkString(",\n      ")
    s"""deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
      r0 AS (SELECT id, 1000000::BIGINT AS r FROM deg),
      $rounds"""
  }

  /** Fixed-iteration PageRank over the pair graph ([[Graph.pageRank]],
    * 5 rounds, damping 0.85, integer micros end to end): hub documents
    * of the duplication structure. Exactly replayed by the oracle's
    * unrolled `//` recurrence — possible only because the Spark side is
    * integer arithmetic (long sums commute; a floating-point power
    * iteration could not promise bit equality across engines).
    */
  val qGraphPagerank = Q("graph_pagerank",
    (s, dir) => graft.ext.Graph.pageRank(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25), iters = 5),
    Some(s"""$clusterReachCte,
      ${pagerankCtes(5)}
      SELECT id, r AS rank_micro FROM r5"""))

  /** Unrolled integer-micro WEIGHTED PageRank rounds over the
    * jacc-weighted edge relation: contribution (r·w) // W(v), the
    * [[graft.ext.Graph.pageRankWeighted]] recurrence.
    */
  private def pagerankWeightedCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""rw$i AS (
        SELECT e.dst AS id,
               (150000 + (850000 * sum((rw${i - 1}.r * e.w) // d.wd))
                // 1000000)::BIGINT AS r
        FROM ew e JOIN rw${i - 1} ON rw${i - 1}.id = e.src
        JOIN wdeg d ON d.id = e.src
        GROUP BY e.dst)"""
    }.mkString(",\n      ")
    s"""ew AS (SELECT id_a AS src, id_b AS dst, wbp AS w FROM pairsw
              UNION SELECT id_b, id_a, wbp FROM pairsw),
      wdeg AS (SELECT src AS id, sum(w)::BIGINT AS wd FROM ew GROUP BY 1),
      rw0 AS (SELECT id, 1000000::BIGINT AS r FROM wdeg),
      $rounds"""
  }

  /** Similarity-weighted PageRank ([[Graph.pageRankWeighted]], weights
    * = Jaccard basis points): rank flows in proportion to how SIMILAR
    * the neighbor is, so a J≈0.9 cluster hub outranks a J≈0.25
    * boilerplate hub of equal degree — the canonical-pick refinement of
    * `graph_pagerank`. Integer micros end to end.
    */
  val qGraphPagerankWeighted = Q("graph_pagerank_weighted",
    (s, dir) => graft.ext.Graph.pageRankWeighted(
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, tau = 0.25)
        .withColumn("wbp", round(col("jacc") * 10000, 0).cast("long")),
      "wbp", iters = 5),
    Some(s"""WITH docs AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w)-2, 0)),
          i -> array_to_string(w[i:i+2], ' '))) AS sset
        FROM docs),
      ex AS (SELECT doc_id, len(sset) AS m, unnest(sset) AS shingle FROM sh),
      pairsw AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4)
                     * 10000)::BIGINT AS wbp
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.m, b.m
        HAVING round(count(*)::DOUBLE / (a.m + b.m - count(*)), 4) >= 0.25),
      ${pagerankWeightedCtes(5)}
      SELECT id, r AS rank_micro FROM rw5"""))

  /** Centrality-based canonical pick ([[Graph.centralSurvivors]]): per
    * dup cluster keep the highest-PageRank member (min id on ties) —
    * the "most representative" survivor policy next to
    * `dedup_survivors`' external-quality argmax.
    */
  val qGraphCentral = Q("graph_central",
    (s, dir) => {
      // pairs feeds TWO consumers (CC and PageRank, each with its own
      // edge materialization) — persist it or the shingle self-join +
      // pair aggregate run twice (r19)
      val pairs = graft.ext.Materialize.multiScan(
        Dedup.jaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 3, tau = 0.25))
      graft.ext.Graph.centralSurvivors(
        Dedup.connectedComponents(pairs),
        graft.ext.Graph.pageRank(pairs, iters = 5))
    },
    Some(s"""$clusterReachCte,
      cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
      ${pagerankCtes(5)},
      sel AS (
        SELECT cl.cluster, r5.id, r5.r,
               row_number() OVER (PARTITION BY cl.cluster
                 ORDER BY r5.r DESC, r5.id ASC) AS rn
        FROM cl JOIN r5 ON r5.id = cl.id)
      SELECT cluster, id AS keep_id, r AS rank_micro FROM sel WHERE rn = 1"""))

  /** Shared oracle tail for the triangle queries: id-ordered 3-way
    * enumeration over the canonical `pairs` relation (a<b<c — each
    * triangle once) and per-node unnest. The Spark side enumerates
    * under the DEGREE order instead ([[Graph.triangles]], the O(√m)
    * out-degree bound); the triangle SET is orientation-invariant, so
    * the hash match across the two enumeration orders is itself a
    * cross-validation of the forward algorithm.
    */
  private val triangleCtes = """tri AS (
        SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
        FROM pairs p1
        JOIN pairs p2 ON p2.id_a = p1.id_b
        JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
      tcnt AS (
        SELECT id, count(*)::BIGINT AS n_tri FROM (
          SELECT a AS id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY id),
      deg AS (SELECT src AS id, count(*)::BIGINT AS degree
              FROM edges GROUP BY 1)"""

  /** Per-node local clustering coefficients over the near-dup pair
    * graph ([[Graph.clusteringCard]]): clique hubs (coef→10⁴, one
    * template family, safe to collapse) vs star hubs (coef→0, a shared
    * boilerplate fragment across unrelated documents, where collapsing
    * the component destroys content) — the distinction [[qGraphDegreeCard]]
    * alone cannot make.
    */
  val qGraphTriangles = Q("graph_triangles",
    (s, dir) => graft.ext.Graph.clusteringCard(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25)),
    Some(s"""$clusterReachCte,
      $triangleCtes
      SELECT d.id, d.degree, coalesce(t.n_tri, 0)::BIGINT AS n_tri,
             CASE WHEN d.degree >= 2
               THEN ((10000 * 2 * coalesce(t.n_tri, 0))
                     // (d.degree * (d.degree - 1)))::BIGINT
               ELSE 0::BIGINT END AS coef_bp
      FROM deg d LEFT JOIN tcnt t ON t.id = d.id"""))

  /** One-row whole-graph card ([[Graph.graphCard]]): nodes, edges,
    * triangles, wedges, global transitivity in basis points.
    */
  val qGraphCard = Q("graph_card",
    (s, dir) => graft.ext.Graph.graphCard(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25)),
    Some(s"""$clusterReachCte,
      $triangleCtes,
      card AS (
        SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
               (SELECT count(*) FROM pairs)::BIGINT AS n_edges,
               (SELECT count(*) FROM tri)::BIGINT AS n_triangles,
               ((SELECT coalesce(sum(degree * (degree - 1)), 0)
                 FROM deg) // 2)::BIGINT AS n_wedges)
      SELECT n_nodes, n_edges, n_triangles, n_wedges,
             CASE WHEN n_wedges > 0
               THEN ((10000 * 3 * n_triangles) // n_wedges)::BIGINT
               ELSE 0::BIGINT END AS global_coef_bp
      FROM card"""))

  /** Degree assortativity of the near-dup graph
    * ([[graft.ext.Graph.assortativityCard]]): strongly negative =
    * star/template structure, near 0 = degree-regular clique families.
    */
  val qGraphAssortativity = Q("graph_assortativity",
    (s, dir) => graft.ext.Graph.assortativityCard(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25)),
    Some(s"""$clusterReachCte,
      deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY 1),
      j AS (
        SELECT d1.degree AS x, d2.degree AS y FROM edges e
        JOIN deg d1 ON d1.id = e.src JOIN deg d2 ON d2.id = e.dst),
      agg AS (
        SELECT count(*)::BIGINT AS n_edges_directed,
               sum(x)::BIGINT AS sum_x, sum(x*y)::BIGINT AS sum_xy,
               sum(x*x)::BIGINT AS sum_x2
        FROM j)
      SELECT n_edges_directed, sum_x, sum_xy, sum_x2,
             CASE WHEN n_edges_directed*sum_x2 - sum_x*sum_x = 0 THEN 0.0
                  ELSE round((n_edges_directed*sum_xy - sum_x*sum_x)::DOUBLE
                       / (n_edges_directed*sum_x2 - sum_x*sum_x)::DOUBLE, 4)
             END AS assortativity
      FROM agg"""))

  /** Unrolled set-parallel peel rounds for the k-core oracle: each
    * round keeps edges whose BOTH endpoints had degree ≥ k in the
    * previous round's subgraph — the same recurrence
    * [[graft.ext.Graph.kCore]] iterates, bounded at the same
    * `maxRounds` on both sides (fixpoint idempotence makes extra
    * rounds no-ops, so the bound never has to bind for the relation to
    * match — but if it does bind, both sides stop at the identical
    * intermediate).
    */
  private def kcoreCtes(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each peel round is referenced three times by the
    // next; letting DuckDB inline would re-expand the base scan 3^rounds
    // times (measured as a too-many-open-files planner explosion)
    val rs = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src FROM peel${i - 1} GROUP BY src
             HAVING count(*) >= $k),
      peel$i AS MATERIALIZED (
        SELECT e.src, e.dst FROM peel${i - 1} e
        JOIN k$i a ON a.src = e.src
        JOIN k$i b ON b.src = e.dst)"""
    }.mkString(",\n      ")
    s"""peel0 AS MATERIALIZED (SELECT src, dst FROM edges),
      $rs"""
  }

  /** 2-core of the near-dup graph ([[graft.ext.Graph.kCore]], 8 peel
    * rounds): pendant/chain structure (one-off pairwise copies) peels
    * away; what survives is CYCLIC template mass worth a dedicated
    * curation rule.
    */
  val qGraphKcore = Q("graph_kcore",
    (s, dir) => graft.ext.Graph.kCore(Dedup.jaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.25),
      k = 2, maxRounds = 8),
    Some(s"""$clusterReachCte,
      ${kcoreCtes(2, 8)}
      SELECT src AS id, count(*)::BIGINT AS core_deg
      FROM peel8 GROUP BY 1"""))

  /** Duplication profile: the cluster-SIZE histogram over the whole
    * corpus (singletons included as size-1 clusters) — the one-glance
    * answer to "how duplicated is this corpus": a heavy tail here
    * means survivor selection will cut deep; all-singletons means
    * dedup is a no-op. The corpus-level roll-up of the per-cluster
    * relation `dedup_clusters` pins.
    */
  val qDedupClusterSpectrum = Q("dedup_cluster_spectrum",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val cc = Dedup.connectedComponents(
        Dedup.jaccardPairs(d, "doc_id", "text", n = 3, tau = 0.25))
        .select(col("id").as("doc_id"), col("cluster"))
      d.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    },
    Some(s"""$clusterReachCte,
      cl AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
      sz AS (
        SELECT coalesce(cl.c, d.doc_id) AS cluster, count(*) AS sz
        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
        GROUP BY 1)
      SELECT sz AS cluster_size, count(*) AS n_clusters
      FROM sz GROUP BY sz"""))

  /** Passage-level exact dedup: per-doc retention stats after dropping
    * every non-canonical occurrence of a repeated 20-token passage.
    * Catches cross-document boilerplate that doc-level dedup misses.
    */
  val qDedupPassages = Q("dedup_passages",
    (s, dir) => Dedup.passageDedup(t(s, dir, "documents"),
        "doc_id", "text", passageTokens = 20)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("keep"), lit(0)).otherwise(lit(1))).as("n_dup_dropped"),
        max(col("n_occ")).as("max_occ"))
      .select(col("id").as("doc_id"), col("n_passages"),
        col("n_dup_dropped"), col("max_occ")),
    Some("""WITH d AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS toks
        FROM documents),
      sized AS (
        SELECT doc_id, toks,
          CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS n
        FROM d),
      chunked AS (
        SELECT doc_id, toks, greatest(CAST(ceil(n / 20.0) AS INT), 1) AS n_chunks
        FROM sized WHERE n > 0),
      pass AS (
        SELECT doc_id, c.chunk_no,
          md5(array_to_string(toks[c.chunk_no*20+1 : c.chunk_no*20+20], ' ')) AS fp
        FROM chunked, LATERAL (
          SELECT unnest(generate_series(0, n_chunks - 1)) AS chunk_no) c),
      marked AS (
        SELECT doc_id, chunk_no,
          count(*) OVER (PARTITION BY fp) AS n_occ,
          row_number() OVER (PARTITION BY fp
            ORDER BY doc_id ASC, chunk_no ASC) AS rn
        FROM pass)
      SELECT doc_id, count(*) AS n_passages,
        CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_dropped,
        max(n_occ) AS max_occ
      FROM marked GROUP BY doc_id"""))

  /** The passage-dedup REWRITE: reassemble each document from its kept
    * passages (deterministic chunk order) — the corpus a training run
    * would actually read. Hash-checked via the cleaned text's md5, so
    * the oracle pins every byte of the reassembly.
    */
  val qDedupPassageRewrite = Q("dedup_passage_rewrite",
    (s, dir) => Dedup.passageRewrite(t(s, dir, "documents"),
        "doc_id", "text", passageTokens = 20)
      .select(col("id").as("doc_id"), col("n_kept"), col("clean_fp")),
    Some("""WITH d AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS toks
        FROM documents),
      sized AS (
        SELECT doc_id, toks,
          CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS n
        FROM d),
      chunked AS (
        SELECT doc_id, toks, greatest(CAST(ceil(n / 20.0) AS INT), 1) AS n_chunks
        FROM sized WHERE n > 0),
      pass AS (
        SELECT doc_id, c.chunk_no,
          array_to_string(toks[c.chunk_no*20+1 : c.chunk_no*20+20], ' ') AS chunk_text
        FROM chunked, LATERAL (
          SELECT unnest(generate_series(0, n_chunks - 1)) AS chunk_no) c),
      marked AS (
        SELECT doc_id, chunk_no, chunk_text,
          row_number() OVER (PARTITION BY md5(chunk_text)
            ORDER BY doc_id ASC, chunk_no ASC) AS rn
        FROM pass)
      SELECT doc_id, count(*) AS n_kept,
        md5(string_agg(chunk_text, ' ' ORDER BY chunk_no)) AS clean_fp
      FROM marked WHERE rn = 1 GROUP BY doc_id"""))

  /** Char-level exact-substring duplicate spans (ExactSubstr family):
    * 40-char windows at content-defined anchors ([[graft.ext.Dedup
    * .substringDupSpans]]) — the alignment-free complement to the
    * word-shingle passage dedup above. The oracle replays anchor
    * selection (3-point char hash mod 8), window fingerprinting, and
    * the distinct-doc cut verbatim. */
  /** Winnowing-selected duplicate spans
    * ([[Dedup.substringDupSpansWinnowed]], Schleimer et al. 2003):
    * the guaranteed-recall alternative to the CDC anchor rule — every
    * cross-doc span ≥ win+k−1 bytes is detected BY THEOREM (the spec
    * fuzzes the guarantee over alignments where anchors provably
    * miss). The oracle replays the selection hash, the
    * rightmost-min-per-window rule (struct min over a rows window),
    * the short-doc global pick, and the dup aggregate.
    */
  val qDedupSubstrWinnow = Q("dedup_substr_winnow",
    (s, dir) => Dedup.substringDupSpansWinnowed(t(s, dir, "documents"),
      "doc_id", "text", winBytes = 40, k = 15),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, p,
          (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
           + ascii(substr(t, p + 7, 1))) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
              FROM sized)),
      npos AS (SELECT doc_id, max(p) AS np FROM pos GROUP BY 1),
      fullw AS (
        SELECT doc_id, p,
          min(struct_pack(h := h, mp := -p)) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN CURRENT ROW AND 14 FOLLOWING) AS m
        FROM pos),
      sel1 AS (
        SELECT DISTINCT f.doc_id, -(f.m).mp AS sp
        FROM fullw f JOIN npos s USING (doc_id)
        WHERE s.np >= 15 AND f.p <= s.np - 15 + 1),
      sel2 AS (
        SELECT doc_id, -(min(struct_pack(h := h, mp := -p))).mp AS sp
        FROM pos
        WHERE doc_id IN (SELECT doc_id FROM npos WHERE np < 15)
        GROUP BY doc_id),
      sel AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
      wins AS (
        SELECT s.doc_id, md5(substr(d2.t, CAST(s.sp AS INT), 40)) AS fp
        FROM sel s JOIN sized d2 USING (doc_id))
      SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
             min(doc_id) AS first_doc
      FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2"""))

  val qDedupSubstrings = Q("dedup_substrings",
    (s, dir) => Dedup.substringDupSpans(t(s, dir, "documents"),
      "doc_id", "text", winBytes = 40, anchorMod = 8),
    Some("""WITH d AS (
        SELECT doc_id,
          trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized),
      anch AS (
        SELECT doc_id, t, p FROM pos
        WHERE (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
               + ascii(substr(t, p + 7, 1))) % 8 = 0),
      wins AS (SELECT doc_id, md5(substr(t, p, 40)) AS fp FROM anch)
      SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
             min(doc_id) AS first_doc
      FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2"""))

  /** Per-document duplicated-span coverage — ExactSubstr's decision
    * step: fraction of each document covered by corpus-repeated 40-char
    * spans, as the interval union of its duplicated windows
    * (gaps-and-islands; overlaps never double-count). The oracle
    * replays anchors, occurrence counts, the island pass, and the
    * basis-point policy cut verbatim.
    *
    * ORACLE UNITS: the SQL replay enumerates positions and windows in
    * CHARACTERS (DuckDB v1.0 has no BLOB substr/indexing, so a byte
    * replay is not expressible), which equals the operator's byte scan
    * exactly on the ASCII fixture corpus the gate runs against. The
    * byte semantics on non-ASCII text — where char and byte replays
    * diverge — are pinned by `ExtOpsSpec`'s CJK coverage battery AND
    * oracle-replayed byte-for-byte by [[qDedupSubstrCoverageUtf8]]
    * (hex-view byte windows over an injected two-byte-char fixture). */
  val qDedupSubstrCoverage = Q("dedup_substr_coverage",
    (s, dir) => Dedup.substringDupCoverage(t(s, dir, "documents"),
      "doc_id", "text", winBytes = 40, anchorMod = 8, dropAtBp = 5000),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized),
      anch AS (
        SELECT doc_id, t, p FROM pos
        WHERE (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
               + ascii(substr(t, p + 7, 1))) % 8 = 0),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM anch),
      occ AS (
        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS n_occ
        FROM wins),
      dup AS (SELECT doc_id, p FROM occ WHERE n_occ >= 2),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e, count(*) AS n_win
        FROM isl GROUP BY 1, 2),
      cov AS (
        SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered_bytes,
               CAST(sum(n_win) AS BIGINT) AS n_dup_windows
        FROM spans GROUP BY 1),
      base AS (
        SELECT doc_id,
          octet_length(encode(trim(regexp_replace(lower(text),'\s+',' ','g')))) AS n_bytes
        FROM documents)
      SELECT b.doc_id AS id, CAST(b.n_bytes AS BIGINT) AS n_bytes,
        coalesce(c.n_dup_windows, 0) AS n_dup_windows,
        coalesce(c.covered_bytes, 0) AS covered_bytes,
        CASE WHEN b.n_bytes > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // b.n_bytes
          ELSE 0 END AS cov_bp,
        (CASE WHEN b.n_bytes > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // b.n_bytes
          ELSE 0 END) >= 5000 AS "drop"
      FROM base b LEFT JOIN cov c USING (doc_id)"""))

  /** [[qDedupSubstrCoverage]] on a NON-ASCII projection of the corpus —
    * the r9 verdict's "char-replayed windows == byte scan only on the
    * ASCII fixture" caveat turned into a checked row. The fixture
    * injects two-byte characters deterministically (a→ä, o→ø — char and
    * byte offsets diverge on essentially every document), and the
    * oracle replays the operator's BYTE scan exactly: `hex(encode(t))`
    * is a char-indexable view of the UTF-8 bytes (2 hex chars per
    * byte), so byte values (the anchor rule at offsets p, p+3, p+7),
    * 40-byte windows (80 hex chars), and 1-based byte positions are
    * all expressible without BLOB indexing (which DuckDB v1.0 lacks).
    * The window identity is md5 of the HEX slice — the grouping only
    * needs a collision-free identity; the operator's raw-byte md5
    * never reaches the output. Byte-window starts that fall mid-
    * codepoint are exercised by construction (the anchor scan is
    * codepoint-blind on both sides).
    */
  val qDedupSubstrCoverageUtf8 = Q("dedup_substr_coverage_utf8",
    (s, dir) => Dedup.substringDupCoverage(
      t(s, dir, "documents").select(col("doc_id"),
        expr("replace(replace(text, 'a', 'ä'), 'o', 'ø')").as("text")),
      "doc_id", "text", winBytes = 40, anchorMod = 8, dropAtBp = 5000),
    Some("""WITH d AS (
        SELECT doc_id,
          trim(regexp_replace(lower(replace(replace(text, 'a', 'ä'), 'o', 'ø')),
               '\s+', ' ', 'g')) AS t
        FROM documents),
      hexed AS (
        SELECT doc_id, hex(encode(t)) AS h, octet_length(encode(t)) AS n
        FROM d),
      sized AS (SELECT * FROM hexed WHERE n >= 40),
      pos AS (
        SELECT doc_id, h, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized),
      anch AS (
        SELECT doc_id, h, p FROM pos
        WHERE (('0x' || substr(h, 2*p - 1, 2))::INT * 4
             + ('0x' || substr(h, 2*p + 5, 2))::INT * 2
             + ('0x' || substr(h, 2*p + 13, 2))::INT) % 8 = 0),
      wins AS (SELECT doc_id, p, md5(substr(h, 2*p - 1, 80)) AS fp FROM anch),
      occ AS (
        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS n_occ
        FROM wins),
      dup AS (SELECT doc_id, p FROM occ WHERE n_occ >= 2),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e, count(*) AS n_win
        FROM isl GROUP BY 1, 2),
      cov AS (
        SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered_bytes,
               CAST(sum(n_win) AS BIGINT) AS n_dup_windows
        FROM spans GROUP BY 1)
      SELECT x.doc_id AS id, CAST(x.n AS BIGINT) AS n_bytes,
        coalesce(c.n_dup_windows, 0) AS n_dup_windows,
        coalesce(c.covered_bytes, 0) AS covered_bytes,
        CASE WHEN x.n > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // x.n
          ELSE 0 END AS cov_bp,
        (CASE WHEN x.n > 0
          THEN (coalesce(c.covered_bytes, 0) * 10000) // x.n
          ELSE 0 END) >= 5000 AS "drop"
      FROM hexed x LEFT JOIN cov c USING (doc_id)"""))

  /** EXACT duplicated-span extraction ([[Dedup.exactDupSpans]] — the
    * recall=1, anchorMod=1 complement of the anchor-window
    * approximation; Lee et al. 2022's ExactSubstr output shape): one
    * row per maximal region covered by ≥40-byte substrings repeating
    * anywhere in the corpus. The oracle enumerates EVERY window
    * position (no anchor filter) and replays the island pass — so the
    * recall=1 claim itself is what the hash pins: a missed or split
    * span changes the row set.
    */
  val qDedupSubstrExact = Q("dedup_substr_exact",
    (s, dir) => Dedup.exactDupSpans(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40),
    Some(substrExactOracle))

  /** The SAME exact duplicated-span relation computed by the
    * distributed suffix-array construction
    * ([[Dedup.exactDupSpansSA]] — Manber-Myers prefix doubling, the
    * data structure Lee et al. 2022 actually build): byte-identical
    * output to `dedup_substr_exact`, checked against the IDENTICAL
    * oracle (every window position enumerated in SQL), so the
    * algorithmic equivalence of the two recall=1 passes is itself a
    * hash-pinned row, not a claim.
    */
  val qDedupSubstrExactSa = Q("dedup_substr_exact_sa",
    (s, dir) => Dedup.exactDupSpansSA(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40),
    Some(substrExactOracle))

  /** The THIRD route to the same relation ([[Dedup.exactDupSpansLcp]] —
    * suffix-order pass: ℓ(p) ≥ minLen ⟺ dup window start), again
    * against the identical oracle: three algorithms (window hash,
    * prefix doubling, suffix order), one hash.
    */
  val qDedupSubstrExactLcp = Q("dedup_substr_exact_lcp",
    (s, dir) => Dedup.exactDupSpansLcp(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40),
    Some(substrExactOracle))

  /** Longest duplicated substring per document (exact, capped at 128
    * bytes) — the LCP statistic from the suffix-order pass
    * ([[Dedup.longestDupPerDoc]]): one distributed range sort of
    * cap-truncated suffix slices, adjacent-pair LCP via the codegen'd
    * [[graft.functions.BinaryLcp]] byte loop. The oracle is
    * ALGORITHMICALLY INDEPENDENT: DuckDB sorts the full suffixes as
    * strings and scans adjacent pairs character-by-character — no
    * truncated keys, no binary slices — so the hash row pins the
    * truncation-correctness argument (lcp < cap ⇒ order preserved;
    * lcp ≥ cap ⇒ clamped) against a from-scratch reformulation.
    */
  val qDedupLcpLongest = Q("dedup_lcp_longest",
    (s, dir) => Dedup.longestDupPerDoc(t(s, dir, "documents"),
      "doc_id", "text", cap = 128),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      suf AS (
        SELECT doc_id, p, substr(t, p, 128) AS s
        FROM (SELECT doc_id, t, n, unnest(generate_series(1, n)) AS p
              FROM sized WHERE n >= 1)),
      ord AS (
        SELECT doc_id, p, s, row_number() OVER (ORDER BY s, doc_id, p) AS rk
        FROM suf),
      pairs AS (
        SELECT a.doc_id AS da, a.p AS pa, a.s AS sa,
               b.doc_id AS db, b.p AS pb, b.s AS sb
        FROM ord a JOIN ord b ON b.rk = a.rk + 1),
      probes AS (
        SELECT da, pa, db, pb, least(length(sa), length(sb)) AS m, sa, sb,
               unnest(generate_series(1, least(length(sa), length(sb)))) AS k
        FROM pairs),
      lcps AS (
        SELECT da, pa, db, pb,
               coalesce(min(CASE WHEN substr(sa, k, 1) <> substr(sb, k, 1)
                                 THEN k END) - 1, any_value(m)) AS lcp
        FROM probes GROUP BY da, pa, db, pb),
      perpos AS (
        SELECT doc_id, p, max(lcp) AS l FROM (
          SELECT da AS doc_id, pa AS p, lcp FROM lcps
          UNION ALL
          SELECT db AS doc_id, pb AS p, lcp FROM lcps) u
        GROUP BY doc_id, p),
      perdoc AS (SELECT doc_id, max(l) AS longest_dup FROM perpos
                 GROUP BY doc_id)
      SELECT s.doc_id AS id, coalesce(perdoc.longest_dup, 0) AS longest_dup
      FROM sized s LEFT JOIN perdoc USING (doc_id)"""))

  /** Corpus duplication spectrum ([[Dedup.dupSpectrum]]): how many byte
    * positions start a duplicated run of ≥ L bytes, for L ∈ {40, 64,
    * 128} — the whole minLen-sweep ("what would ExactSubstr cut at
    * minLen = L?") from ONE suffix-sort pass, where the window pass
    * re-runs per L. Same independent full-suffix oracle as
    * `dedup_lcp_longest`, aggregated per threshold.
    */
  val qDedupSpectrum = Q("dedup_lcp_spectrum",
    (s, dir) => Dedup.dupSpectrum(t(s, dir, "documents"),
      "doc_id", "text", thresholds = Seq(40, 64, 128), cap = 128),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      suf AS (
        SELECT doc_id, p, substr(t, p, 128) AS s
        FROM (SELECT doc_id, t, n, unnest(generate_series(1, n)) AS p
              FROM sized WHERE n >= 1)),
      ord AS (
        SELECT doc_id, p, s, row_number() OVER (ORDER BY s, doc_id, p) AS rk
        FROM suf),
      pairs AS (
        SELECT a.doc_id AS da, a.p AS pa, a.s AS sa,
               b.doc_id AS db, b.p AS pb, b.s AS sb
        FROM ord a JOIN ord b ON b.rk = a.rk + 1),
      probes AS (
        SELECT da, pa, db, pb, least(length(sa), length(sb)) AS m, sa, sb,
               unnest(generate_series(1, least(length(sa), length(sb)))) AS k
        FROM pairs),
      lcps AS (
        SELECT da, pa, db, pb,
               coalesce(min(CASE WHEN substr(sa, k, 1) <> substr(sb, k, 1)
                                 THEN k END) - 1, any_value(m)) AS lcp
        FROM probes GROUP BY da, pa, db, pb),
      perpos AS (
        SELECT doc_id, p, max(lcp) AS l FROM (
          SELECT da AS doc_id, pa AS p, lcp FROM lcps
          UNION ALL
          SELECT db AS doc_id, pb AS p, lcp FROM lcps) u
        GROUP BY doc_id, p),
      th AS (SELECT CAST(unnest([40, 64, 128]) AS INTEGER) AS th),
      cnt AS (SELECT th.th, count(*) AS n_pos
              FROM perpos JOIN th ON perpos.l >= th.th GROUP BY th.th)
      SELECT th.th, coalesce(cnt.n_pos, 0) AS n_pos
      FROM th LEFT JOIN cnt USING (th)"""))

  private lazy val substrExactOracle: String = """WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (
        SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 40),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM pos),
      occ AS (
        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS n_occ
        FROM wins),
      dup AS (SELECT doc_id, p FROM occ WHERE n_occ >= 2),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked)
      SELECT doc_id AS id, CAST(min(p) AS BIGINT) AS s,
        CAST(max(p) + 40 AS BIGINT) AS e,
        CAST(max(p) + 40 - min(p) AS BIGINT) AS span_bytes
      FROM isl GROUP BY doc_id, isl_id"""

  /** EXACT duplicated-span REWRITE ([[Dedup.exactSpanRewrite]] — Lee
    * et al. 2022's cut action: remove all but the canonical occurrence
    * of every duplicated ≥40-byte region, canonical = lexicographic-min
    * (doc, position)). The oracle enumerates EVERY window position,
    * picks the same canonical via `row_number` (≡ the operator's
    * min-struct aggregate under (doc_id, p) order), replays the island
    * pass over the REDUNDANT occurrences, rebuilds each document's
    * surviving text by stitching the complement segments in order, and
    * hash-pins its md5 — so the rewrite is checked byte-for-byte
    * (ASCII fixture: char positions ≡ byte positions; the byte-true
    * machinery itself is pinned by `dedup_substr_coverage_utf8`).
    * A fully duplicated document must rewrite to the EMPTY string
    * (md5('')), not survive whole — the CASE distinguishes "no spans
    * cut" from "no segment survived".
    */
  val qDedupSubstrRewrite = Q("dedup_substr_rewrite",
    (s, dir) => Dedup.exactSpanRewrite(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized WHERE n >= 40),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM pos),
      occ AS (
        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS n_occ,
               row_number() OVER (PARTITION BY fp
                 ORDER BY doc_id, p) AS rn
        FROM wins),
      dup AS (SELECT doc_id, p FROM occ WHERE n_occ >= 2 AND rn > 1),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
        FROM isl GROUP BY 1, 2),
      head AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
          s AS seg_e
        FROM spans),
      cuts AS (
        SELECT doc_id, max(e) AS last_e, count(*) AS n_spans_cut,
               CAST(sum(e - s) AS BIGINT) AS cut_bytes
        FROM spans GROUP BY 1),
      tail AS (
        SELECT c.doc_id, c.last_e AS seg_s, z.n + 1 AS seg_e
        FROM cuts c JOIN sized z USING (doc_id)),
      segs AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
      clean AS (
        SELECT g.doc_id,
          string_agg(substr(z.t, g.seg_s, g.seg_e - g.seg_s), ''
            ORDER BY g.seg_s) AS ct
        FROM segs g JOIN sized z USING (doc_id)
        WHERE g.seg_e > g.seg_s GROUP BY g.doc_id)
      SELECT d.doc_id AS id, CAST(length(d.t) AS BIGINT) AS n_bytes,
        coalesce(c.n_spans_cut, 0) AS n_spans_cut,
        coalesce(c.cut_bytes, 0) AS cut_bytes,
        CAST(length(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS BIGINT) AS clean_bytes,
        md5(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS clean_fp
      FROM d LEFT JOIN cuts c USING (doc_id)
      LEFT JOIN clean cl ON cl.doc_id = d.doc_id"""))

  /** WINNOWED two-pass rewrite ([[Dedup.exactSpanRewriteWinnowed]]):
    * winnow-selected fingerprints flag candidate docs (guaranteed for
    * any duplicated region ≥ win+k−1 bytes), the every-offset rewrite
    * then runs over candidates only. The oracle replays BOTH passes —
    * the selection hash + rightmost-min rule, the ≥2-occurrence flag,
    * and the full rewrite chain restricted to flagged docs with
    * unflagged docs passing through uncut — so the two-pass composition
    * is value-pinned, not just each pass.
    */
  val qDedupSubstrRewriteWinnow = Q("dedup_substr_rewrite_winnow",
    (s, dir) => Dedup.exactSpanRewriteWinnowed(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40, k = 15),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      -- pass 1: winnow selection (hash, rightmost-min per 15-window,
      -- short-doc global pick), then >=2-occurrence candidate flag
      spos AS (
        SELECT doc_id, p,
          (ascii(substr(t, p, 1)) * 4 + ascii(substr(t, p + 3, 1)) * 2
           + ascii(substr(t, p + 7, 1))) AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
              FROM sized WHERE n >= 40)),
      npos AS (SELECT doc_id, max(p) AS np FROM spos GROUP BY 1),
      fullw AS (
        SELECT doc_id, p,
          min(struct_pack(h := h, mp := -p)) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN CURRENT ROW AND 14 FOLLOWING) AS m
        FROM spos),
      sel1 AS (
        SELECT DISTINCT f.doc_id, -(f.m).mp AS sp
        FROM fullw f JOIN npos s USING (doc_id)
        WHERE s.np >= 15 AND f.p <= s.np - 15 + 1),
      sel2 AS (
        SELECT doc_id, -(min(struct_pack(h := h, mp := -p))).mp AS sp
        FROM spos
        WHERE doc_id IN (SELECT doc_id FROM npos WHERE np < 15)
        GROUP BY doc_id),
      sel AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
      winw AS (
        SELECT s.doc_id, md5(substr(z.t, CAST(s.sp AS INT), 40)) AS fp
        FROM sel s JOIN sized z USING (doc_id)),
      dupw AS (SELECT fp FROM winw GROUP BY fp HAVING count(*) >= 2),
      cand AS (SELECT DISTINCT doc_id FROM winw
               WHERE fp IN (SELECT fp FROM dupw)),
      -- pass 2: the every-offset rewrite over candidate docs only
      rpos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized WHERE n >= 40
          AND doc_id IN (SELECT doc_id FROM cand)),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM rpos),
      occ AS (
        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS n_occ,
               row_number() OVER (PARTITION BY fp
                 ORDER BY doc_id, p) AS rn
        FROM wins),
      dup AS (SELECT doc_id, p FROM occ WHERE n_occ >= 2 AND rn > 1),
      marked AS (
        SELECT doc_id, p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
        FROM isl GROUP BY 1, 2),
      head AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
          s AS seg_e
        FROM spans),
      cuts AS (
        SELECT doc_id, max(e) AS last_e, count(*) AS n_spans_cut,
               CAST(sum(e - s) AS BIGINT) AS cut_bytes
        FROM spans GROUP BY 1),
      tail AS (
        SELECT c.doc_id, c.last_e AS seg_s, z.n + 1 AS seg_e
        FROM cuts c JOIN sized z USING (doc_id)),
      segs AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
      clean AS (
        SELECT g.doc_id,
          string_agg(substr(z.t, g.seg_s, g.seg_e - g.seg_s), ''
            ORDER BY g.seg_s) AS ct
        FROM segs g JOIN sized z USING (doc_id)
        WHERE g.seg_e > g.seg_s GROUP BY g.doc_id)
      SELECT d.doc_id AS id, CAST(length(d.t) AS BIGINT) AS n_bytes,
        coalesce(c.n_spans_cut, 0) AS n_spans_cut,
        coalesce(c.cut_bytes, 0) AS cut_bytes,
        CAST(length(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS BIGINT) AS clean_bytes,
        md5(CASE WHEN c.doc_id IS NOT NULL
          THEN coalesce(cl.ct, '') ELSE d.t END) AS clean_fp
      FROM d LEFT JOIN cuts c USING (doc_id)
      LEFT JOIN clean cl ON cl.doc_id = d.doc_id"""))

  /** Duplicated-span PROVENANCE ([[Dedup.spanAttribution]]): for every
    * span the exact rewrite cuts, the canonical (doc, byte offset) its
    * LEADING window points to. The oracle replays the same chain —
    * every-offset windows, `first_value` canonical per fingerprint
    * (≡ the operator's min-struct under (doc_id, p) order), island
    * pass, then the island head's canonical — so each provenance
    * pointer is value-pinned, not just counted.
    */
  val qDedupSubstrAttribution = Q("dedup_substr_attribution",
    (s, dir) => Dedup.spanAttribution(t(s, dir, "documents"),
      "doc_id", "text", minLen = 40),
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS t
        FROM documents),
      sized AS (SELECT doc_id, t, length(t) AS n FROM d),
      pos AS (
        SELECT doc_id, t, unnest(generate_series(1, n - 40 + 1)) AS p
        FROM sized WHERE n >= 40),
      wins AS (SELECT doc_id, p, md5(substr(t, p, 40)) AS fp FROM pos),
      occ AS (
        SELECT doc_id, p,
               count(*) OVER (PARTITION BY fp) AS n_occ,
               row_number() OVER (PARTITION BY fp
                 ORDER BY doc_id, p) AS rn,
               first_value(doc_id) OVER (PARTITION BY fp
                 ORDER BY doc_id, p) AS src_id,
               first_value(p) OVER (PARTITION BY fp
                 ORDER BY doc_id, p) AS src_p
        FROM wins),
      dup AS (
        SELECT doc_id, p, src_id, src_p FROM occ
        WHERE n_occ >= 2 AND rn > 1),
      marked AS (
        SELECT doc_id, p, src_id, src_p,
          CASE WHEN p > coalesce(max(p + 40) OVER (PARTITION BY doc_id
            ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_isl
        FROM dup),
      isl AS (
        SELECT doc_id, p, src_id, src_p,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
        FROM marked),
      spans AS (
        SELECT doc_id, isl_id, min(p) AS s, max(p) + 40 AS e
        FROM isl GROUP BY 1, 2)
      SELECT i.doc_id AS id, CAST(i.p AS BIGINT) AS s,
        CAST(sp.e AS BIGINT) AS e,
        CAST(sp.e - i.p AS BIGINT) AS span_bytes,
        i.src_id, CAST(i.src_p AS BIGINT) AS src_p
      FROM isl i JOIN spans sp
        ON sp.doc_id = i.doc_id AND sp.isl_id = i.isl_id AND i.p = sp.s"""))

  /** Clusters → survivor per cluster: the decision step of the dedup
    * pipeline. Score = token count; argmax with min-id tie-break, as a
    * map-side-collapsible aggregate (no per-cluster window).
    */
  val qDedupSurvivors = Q("dedup_survivors",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.25)
      val clusters = Dedup.connectedComponents(pairs)
      val scores = docs.select(col("doc_id").as("id"),
        TextOps.nTokens(col("text")).as("score"))
      Dedup.survivors(clusters, scores)
        .withColumnRenamed("dropped_score", "dropped_tokens")
    },
    Some(s"""$clusterReachCte,
      clust AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      scored AS (
        SELECT c.cluster_id, c.doc_id,
               len(regexp_extract_all(d.text, '\\S+')) AS score
        FROM clust c JOIN documents d USING (doc_id)),
      ranked AS (
        SELECT cluster_id, doc_id, score,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY score DESC, doc_id ASC) AS rk,
               sum(score) OVER (PARTITION BY cluster_id) AS total_score,
               count(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM scored)
      SELECT cluster_id, doc_id AS survivor_id, n_members,
             CAST(total_score - score AS BIGINT) AS dropped_tokens
      FROM ranked WHERE rk = 1"""))

  /** SimHash near-dup pairs. Oracle replicates the WHOLE pipeline —
    * portable 60-bit token hash, per-bit ±1 sums, 6×10-bit pigeonhole
    * bands, hamming ≤ 5 — in SQL (md5 and bit ops are engine-portable).
    */
  val qDedupSimhash = Q("dedup_simhash",
    (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"),
      "doc_id", "text", maxDist = 5),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(
          trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')) AS tok
        FROM documents),
      h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS h
            FROM toks WHERE tok <> ''),
      bits AS (
        SELECT doc_id, j.j,
               sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM h CROSS JOIN (SELECT unnest(generate_series(0,59)) AS j) j
        GROUP BY doc_id, j.j),
      sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id),
      banded AS (
        SELECT doc_id, sig, b.b AS band, (sig >> (b.b * 10)) & 1023 AS key
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,5)) AS b) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 5"""))

  /** Incremental SimHash: batch signatures vs the stored 8-byte-per-doc
    * corpus index. */
  val qDedupSimhashIncremental = Q("dedup_simhash_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def sigs(side: DataFrame) = Dedup.simhashSignatures(side, "doc_id", "text")
      Dedup.simhashAgainst(
        sigs(docs.filter(col("doc_id") % 11 === 0)),
        sigs(docs.filter(col("doc_id") % 11 =!= 0)),
        maxDist = 5)
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(
          trim(regexp_replace(lower(text),'\s+',' ','g')), ' ')) AS tok
        FROM documents),
      h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS h
            FROM toks WHERE tok <> ''),
      bits AS (
        SELECT doc_id, j.j,
               sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM h CROSS JOIN (SELECT unnest(generate_series(0,59)) AS j) j
        GROUP BY doc_id, j.j),
      sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id),
      banded AS (
        SELECT doc_id, sig, b.b AS band, (sig >> (b.b * 10)) & 1023 AS key
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0,5)) AS b) b),
      cand AS (
        SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id,
               a.sig AS sa, b.sig AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key
          AND a.doc_id % 11 = 0 AND b.doc_id % 11 <> 0)
      SELECT batch_id, corpus_id, bit_count(xor(sa, sb)) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 5"""))

  // ---------------------------------------------------------------------
  // Extension: similarity search over `embeddings`.
  // ---------------------------------------------------------------------

  val qAnnBrute = Q("ann_bruteforce",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.select(col("vec_id").as("id"), col("embedding")),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        k = 10)
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT qid, vec_id AS nn_id,
               round(CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0 OR list_dot_product(qe::DOUBLE[], qe::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) END, 3) AS sim
        FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
      ranked AS (
        SELECT qid AS query_id, nn_id, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, rank, nn_id, sim FROM ranked WHERE rank <= 10"""))

  /** kNN label-noise audit ([[Similarity.labelAgreement]], exact
    * probe-audit form): every 7th vector scored for k-nearest-neighbor
    * label agreement against the full corpus — the confident-learning
    * signal no text/dedup operator can see. Integer basis points,
    * actual-neighbor denominator.
    */
  val qLabelAgreement = Q("label_agreement",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.labelAgreement(e, "vec_id", "embedding", "label", k = 5,
        probes = e.filter(col("vec_id") % 7 === 0))
    },
    Some("""WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, label AS ql
        FROM embeddings WHERE vec_id % 7 = 0),
      scored AS (
        SELECT qid, ql, vec_id AS nn_id, label AS nl,
               round(CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0 OR list_dot_product(qe::DOUBLE[], qe::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) END, 3) AS sim
        FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
      ranked AS (
        SELECT qid, ql, nl,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn_id) AS rank
        FROM scored)
      SELECT qid AS vec_id, ql AS label,
             sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)::BIGINT AS n_same,
             count(*)::BIGINT AS n_nbrs,
             ((10000 * sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)) // count(*))::BIGINT AS agreement_bp
      FROM ranked WHERE rank <= 5 GROUP BY qid, ql"""))

  /** Shared CTE: cell-restricted kNN agreement rows (the
    * [[Similarity.labelAgreementCells]] relation) — centroid assignment
    * exactly as `q_diversity_sample`'s oracle, then within-cell ranking.
    */
  private val labelAgreementCellsSql = """WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        ORDER BY vec_id LIMIT 8),
      assign AS (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      cell AS (SELECT vec_id, label, embedding, cid AS cell FROM assign WHERE rn = 1),
      scored AS (
        SELECT a.vec_id AS qid, a.label AS ql, b.vec_id AS nn_id, b.label AS nl,
               round(CASE WHEN list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) = 0 OR list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 3) AS sim
        FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, ql, nl,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nn_id) AS rank
        FROM scored),
      agreement AS (
        SELECT qid AS vec_id, ql AS label,
               sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)::BIGINT AS n_same,
               count(*)::BIGINT AS n_nbrs,
               ((10000 * sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)) // count(*))::BIGINT AS agreement_bp
        FROM ranked WHERE rank <= 5 GROUP BY qid, ql)"""

  /** Full-corpus label audit on the IVF-cell scale path
    * ([[Similarity.labelAgreementCells]]): neighbors within the
    * vector's own deterministic cell — no corpus broadcast, Σ|cell|²
    * join cost, the form that survives nCells ∝ n.
    */
  val qLabelAgreementCells = Q("label_agreement_cells",
    (s, dir) => Similarity.labelAgreementCells(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", k = 5, nCells = 8),
    Some(s"""$labelAgreementCellsSql
      SELECT vec_id, label, n_same, n_nbrs, agreement_bp FROM agreement"""))

  /** Per-label label-noise card ([[Similarity.labelAgreementCard]]):
    * which class has dirty labels, in one glance.
    */
  val qLabelAgreementCard = Q("label_agreement_card",
    (s, dir) => Similarity.labelAgreementCard(
      Similarity.labelAgreementCells(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 5, nCells = 8)),
    Some(s"""$labelAgreementCellsSql
      SELECT label, count(*)::BIGINT AS n_audited,
             (sum(agreement_bp) // count(*))::BIGINT AS mean_agreement_bp,
             sum(CASE WHEN agreement_bp < 5000 THEN 1 ELSE 0 END)::BIGINT AS n_suspect
      FROM agreement GROUP BY label"""))

  /** Shared oracle tail: majority-vote predicted labels from the
    * cell-restricted kNN relation, cross-tabulated against the given
    * label — the [[Similarity.labelConfusion]] relation.
    */
  private val labelConfusionSql = s"""$labelAgreementCellsSql,
      votes AS (
        SELECT qid, ql, nl, count(*) AS c FROM ranked WHERE rank <= 5
        GROUP BY qid, ql, nl),
      pick AS (
        SELECT qid, ql AS label, nl AS predicted_label,
               row_number() OVER (PARTITION BY qid
                 ORDER BY c DESC, nl ASC) AS rn
        FROM votes),
      conf AS (
        SELECT label, predicted_label, count(*)::BIGINT AS n
        FROM pick WHERE rn = 1 GROUP BY 1, 2)"""

  /** kNN-predicted-label confusion matrix ([[Similarity.labelConfusion]]):
    * the STRUCTURE of the label noise — a hot off-diagonal (i, j) cell
    * is class i systematically bleeding into class j.
    */
  val qLabelConfusion = Q("label_confusion",
    (s, dir) => Similarity.labelConfusion(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", k = 5, nCells = 8),
    Some(s"""$labelConfusionSql
      SELECT label, predicted_label, n FROM conf"""))

  /** Cohen's kappa over the confusion matrix
    * ([[Similarity.labelKappaCard]], integer micros, truncation-
    * toward-zero division in BOTH engines so even a negative kappa
    * replays exactly): chance-corrected label quality in one number.
    */
  val qLabelKappa = Q("label_kappa",
    (s, dir) => Similarity.labelKappaCard(
      Similarity.labelConfusion(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 5, nCells = 8)),
    Some(s"""$labelConfusionSql,
      tot AS (
        SELECT sum(n)::BIGINT AS n_total,
               sum(CASE WHEN label = predicted_label THEN n
                   ELSE 0 END)::BIGINT AS n_agree
        FROM conf),
      marg AS (
        SELECT coalesce(sum(r.rn_ * c.cn_), 0)::BIGINT AS rc FROM
          (SELECT label, sum(n) AS rn_ FROM conf GROUP BY 1) r
          JOIN (SELECT predicted_label AS label, sum(n) AS cn_
                FROM conf GROUP BY 1) c USING (label)),
      pre AS (
        SELECT n_total, n_agree,
               ((1000000 * n_agree) // n_total)::BIGINT AS po_micro,
               ((1000000 * rc) // (n_total * n_total))::BIGINT AS pe_micro
        FROM tot, marg)
      SELECT n_total, n_agree, po_micro, pe_micro,
             (CASE WHEN pe_micro >= 1000000 THEN 1000000
                   ELSE (1000000 * (po_micro - pe_micro))
                        // (1000000 - pe_micro)
              END)::BIGINT AS kappa_micro
      FROM pre"""))

  val qEmbeddingNearDup = Q("dedup_embedding",
    (s, dir) => Similarity.nearDupPairs(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", tau = 0.4),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(CASE WHEN list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) = 0 OR list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 3) AS sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(CASE WHEN list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) = 0 OR list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 3) >= 0.4"""))

  val qAnnIvf = Q("ann_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        e.select(col("vec_id").as("id"), col("embedding")),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        k = 10, nCentroids = 8, nProbe = 3)
    },
    Some("""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        ORDER BY vec_id LIMIT 8),
      assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      cell AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      qprobe AS (
        SELECT q.qid, q.qe, c.cid AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY CASE WHEN list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(q.qe::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM q CROSS JOIN cents c),
      probes AS (SELECT qid, qe, cell FROM qprobe WHERE rn <= 3),
      scored AS (
        SELECT p.qid AS query_id, ce.vec_id AS nn_id,
               round(CASE WHEN list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]) = 0 OR list_dot_product(p.qe::DOUBLE[], p.qe::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(ce.embedding::DOUBLE[], p.qe::DOUBLE[]) END, 3) AS sim
        FROM probes p JOIN cell ce ON ce.cell = p.cell
        WHERE ce.vec_id <> p.qid),
      ranked AS (
        SELECT query_id, nn_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, rank, nn_id, sim FROM ranked WHERE rank <= 10"""))

  /** Semantic decontamination: corpus vectors cosine-close (≥0.35) to
    * any benchmark vector (every 97th) — catches paraphrased
    * contamination that n-gram overlap (q_decontam) misses. Broadcast
    * benchmark, single corpus scan.
    */
  val qDecontamEmbedding = Q("q_decontam_embedding",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
        e.filter(col("vec_id") % 97 =!= 0),
        e.filter(col("vec_id") % 97 === 0),
        "vec_id", "embedding", tau = 0.35)
        .select(col("id").as("vec_id"), col("n_matches"), col("max_sim"))
    },
    Some("""WITH b AS (SELECT vec_id AS b_id, embedding AS b_emb
              FROM embeddings WHERE vec_id % 97 = 0),
      c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0),
      scored AS (
        SELECT c.vec_id,
          round(CASE WHEN list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 OR list_dot_product(b.b_emb::DOUBLE[], b.b_emb::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(c.embedding::DOUBLE[], b.b_emb::DOUBLE[]) END, 3) AS sim
        FROM c CROSS JOIN b)
      SELECT vec_id, count(*) AS n_matches, max(sim) AS max_sim
      FROM scored WHERE sim >= 0.35 GROUP BY vec_id"""))

  /** Label-free embedding near-dup at scale: SRP-LSH buckets as the
    * blocking key (6 tables × 6-bit signatures), exact cosine verify
    * within buckets. Deterministic hyperplanes (md5 parity) let the
    * oracle rebuild the identical buckets — an APPROXIMATE operator
    * whose exact output is still hash-certified.
    */
  val qEmbeddingNearDupSrp = Q("dedup_embedding_srp",
    (s, dir) => Similarity.nearDupPairsSrp(t(s, dir, "embeddings"),
      "vec_id", "embedding", tau = 0.4, dim = 64, nBits = 6, nTables = 6),
    Some("""WITH signs AS (
        SELECT t.t, i.i, j.j,
          CASE WHEN ('0x'||substr(md5(t.t||':'||i.i||':'||j.j),1,2))::INT % 2 = 0
               THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT unnest(generate_series(0,5)) AS t) t
        CROSS JOIN (SELECT unnest(generate_series(0,5)) AS i) i
        CROSS JOIN (SELECT unnest(generate_series(0,63)) AS j) j),
      planes AS (
        SELECT t, i, list(s ORDER BY j) AS sv FROM signs GROUP BY t, i),
      dots AS (
        SELECT e.vec_id, p.t, p.i,
          list_reduce(list_transform(generate_series(1,64),
            j -> e.embedding[j]::DOUBLE * p.sv[j]), (a,b) -> a+b) AS dot
        FROM embeddings e CROSS JOIN planes p),
      sigs AS (
        SELECT vec_id, t,
          CAST(coalesce(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) END), 0) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id, t),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sigs a JOIN sigs b
          ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
      SELECT c.id_a, c.id_b,
        round(CASE WHEN list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]) = 0 OR list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) END, 3) AS sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
      WHERE round(CASE WHEN list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]) = 0 OR list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) END, 3) >= 0.4"""))

  /** SemDeDup composite: k-means cells (deterministic lowest-id seeds
    * for the oracle) → within-cell cosine near-dup → connected
    * components → keep the member FARTHEST from its centroid. The
    * oracle replays cell assignment (the q_kmeans_assign pattern),
    * per-cell pairs (the dedup_embedding pattern), min-label
    * reachability (the dedup_clusters recursive CTE), and the survivor
    * argmin — the full composite hash-certified.
    */
  val qDedupSemantic = Q("dedup_semantic",
    (s, dir) => Similarity.semanticDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, tau = 0.4)
      .select(col("id").as("vec_id"), col("cell"), col("cluster_id"),
        col("cent_sim"), col("keep")),
    Some("""WITH RECURSIVE cents AS (
        SELECT embedding AS cent, row_number() OVER (ORDER BY vec_id) - 1 AS c
        FROM embeddings ORDER BY vec_id LIMIT 8),
      assign AS (
        SELECT e.vec_id, e.embedding, c.c,
          round(CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END, 3) AS cs,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                     c.c ASC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      cell AS (
        SELECT vec_id, embedding, c AS cell, cs AS cent_sim
        FROM assign WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(CASE WHEN list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) = 0 OR list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 3) >= 0.4),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      clus AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
      scored AS (
        SELECT ce.vec_id, ce.cell,
          coalesce(cl.cluster, ce.vec_id) AS cluster_id, ce.cent_sim
        FROM cell ce LEFT JOIN clus cl ON cl.id = ce.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY cent_sim ASC, vec_id ASC) AS krn
        FROM scored)
      SELECT vec_id, cell, cluster_id, cent_sim, krn = 1 AS "keep"
      FROM ranked"""))

  /** IVF at scale posture: 64 k-means-trained centroids (2 Lloyd
    * iterations), 8-cell probes. Lloyd training isn't SQL-expressible,
    * so the trained neighbor lists have no portable oracle — instead the
    * query is PROPERTY-CHECKED against the exact brute-force top-10
    * (whose own query, ann_bruteforce, is hash-matched), on two
    * invariants the oracle asserts literally TRUE:
    *  - full_probe_exact: with nProbe = nCentroids the probe covers
    *    every cell, so IVF MUST reproduce brute force row-for-row
    *    (same rounding and tie-break) — a sharp machinery check that
    *    every vector lands in exactly one cell and scoring/ranking is
    *    identical; a lost or duplicated vector flips the hash;
    *  - recall_floor_ok: aggregate recall@10 across the queries at the
    *    8-of-64-cell operating point ≥ 0.6. Random probing at 8/64
    *    cells would give ≈ 0.125; the floor certifies the TRAINED
    *    coarse quantizer concentrates true neighbors ~5× better
    *    (measured 0.74–0.86 at sf0.001–0.1; this synthetic embedding
    *    table is near-isotropic, which bounds honest IVF recall — real
    *    clustered corpora sit far higher).
    * Also still proves the centroid set rides as ONE array literal (no
    * plan blowup at k=64) and benches the trained path.
    */
  val qAnnIvfTrained = Q("ann_ivf_trained",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id").as("id"), col("embedding"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("id"), col("embedding"))
      val cents = 64
      val trained = Similarity.ivfTopK(corpus, queries,
        k = 10, nCentroids = cents, nProbe = 8, trainIters = 2)
      val full = Similarity.ivfTopK(corpus, queries,
        k = 10, nCentroids = cents, nProbe = cents, trainIters = 2)
      val truth = Similarity.bruteForceTopK(corpus, queries, k = 10)
      val hits = truth.select(col("query_id"), col("nn_id"))
        .join(trained.select(col("query_id"), col("nn_id")),
          Seq("query_id", "nn_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      val perQ = truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      val floor = perQ.agg((sum(col("n_hits")).cast("double")
          >= lit(0.6) * sum(col("n_true"))).as("recall_floor_ok"))
      // full-probe result must equal truth on every (rank, nn_id, sim);
      // renamed columns keep the self-derived join unambiguous
      val exact = truth
        .select(col("query_id"), col("rank"),
          col("nn_id").as("t_nn"), col("sim").as("t_sim"))
        .join(full.select(col("query_id"), col("rank"),
          col("nn_id").as("f_nn"), col("sim").as("f_sim")),
          Seq("query_id", "rank"), "full")
        .groupBy(col("query_id")).agg(
          (sum(when(col("t_nn") === col("f_nn")
              && col("t_sim") === col("f_sim"), 0L).otherwise(1L)) === 0L)
            .as("full_probe_exact"))
      perQ.select(col("query_id"), col("n_true"))
        .join(exact, Seq("query_id"))
        .crossJoin(broadcast(floor))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      ranked AS (
        SELECT qid, row_number() OVER (PARTITION BY qid
          ORDER BY round(CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0 OR list_dot_product(qe::DOUBLE[], qe::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) END, 3) DESC,
                   vec_id) AS rank
        FROM embeddings CROSS JOIN q WHERE vec_id <> qid)
      SELECT qid AS query_id, count(*) AS n_true, TRUE AS full_probe_exact,
        TRUE AS recall_floor_ok
      FROM ranked WHERE rank <= 10 GROUP BY qid"""))

  /** Diversity sampling: per-semantic-cell quotas over the embedding
    * space (deterministic lowest-id cells + portable-hash quota, so the
    * whole pipeline is oracle-checkable).
    */
  val qDiversitySample = Q("q_diversity_sample",
    (s, dir) => Similarity.diversitySample(
        t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding")),
        "id", "embedding", nCells = 8, quota = 20)
      .select(col("cell"), col("sample_rank"), col("id").as("vec_id")),
    Some("""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        ORDER BY vec_id LIMIT 8),
      assign AS (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      cell AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
      ranked AS (
        SELECT cell, vec_id,
               row_number() OVER (PARTITION BY cell
                 ORDER BY ('0x'||substr(md5(vec_id::VARCHAR),1,15))::BIGINT,
                          vec_id) AS sample_rank
        FROM cell)
      SELECT cell, sample_rank, vec_id FROM ranked WHERE sample_rank <= 20"""))

  /** PQ-compressed ANN: 8-byte codes, ADC scan with exact cosine re-rank
    * of a 60-candidate shortlist. Deterministic codebooks (`iters = 0`:
    * the lowest-id vectors' subvectors, the [[Similarity.ivfTopK]]
    * untrained convention) make the FULL pipeline oracle-checkable —
    * normalize, per-subspace argmin encode, ADC table lookups and the
    * shortlist cut are all index-order IEEE folds the oracle replays
    * exactly. Lloyd-trained codebooks (no portable oracle) are covered
    * by PqSpec: codebook determinism, quantization error bound, recall
    * vs brute force.
    */
  val qAnnPq = Q("ann_pq",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id").as("id"), col("embedding"))
      val books = graft.ext.Pq.train(corpus, "id", "embedding",
        dim = 64, m = 8, nCodes = 16, iters = 0)
      graft.ext.Pq.searchAdc(corpus,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        k = 10, books, refine = 60)
    },
    Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
      n2 AS (
        SELECT vec_id, ed,
          list_reduce(list_transform(ed, x -> x*x), (a,b) -> a+b) AS nn
        FROM e),
      normed AS (
        SELECT vec_id,
          CASE WHEN nn > 0 THEN
            list_transform(ed, x -> CAST(CAST(x / sqrt(nn) AS REAL) AS DOUBLE))
          ELSE ed END AS nv
        FROM n2),
      init AS (
        SELECT nv, row_number() OVER (ORDER BY vec_id) - 1 AS c
        FROM normed ORDER BY vec_id LIMIT 16),
      books AS (
        SELECT s.s, i.c, i.nv[s.s*8+1 : s.s*8+8] AS cent
        FROM init i CROSS JOIN (SELECT unnest(generate_series(0,7)) AS s) s),
      vsub AS (
        SELECT v.vec_id, b.s, b.c,
          list_reduce(list_transform(generate_series(1,8),
            j -> (v.nv[b.s*8 + j] - b.cent[j]) * (v.nv[b.s*8 + j] - b.cent[j])),
            (a,x) -> a + x) AS d
        FROM normed v CROSS JOIN books b),
      codes AS (
        SELECT vec_id, s, c AS code FROM (
          SELECT vec_id, s, c,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
          FROM vsub) WHERE rn = 1),
      adist AS (
        SELECT qd.vec_id AS query_id, cv.vec_id AS nn_id,
          list_reduce(list(qd.d ORDER BY qd.s), (a,b) -> a+b) AS ad
        FROM codes cv
        JOIN vsub qd ON qd.s = cv.s AND qd.c = cv.code
        WHERE qd.vec_id < 5 AND cv.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, cv.vec_id),
      short AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY ad ASC, nn_id ASC) AS arank
          FROM adist) WHERE arank <= 60),
      rer AS (
        SELECT s.query_id, s.nn_id,
          round(CASE WHEN list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) END, 3) AS sim
        FROM short s
        JOIN embeddings c ON c.vec_id = s.nn_id
        JOIN embeddings q ON q.vec_id = s.query_id),
      ranked AS (
        SELECT query_id, nn_id, sim,
          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rank
        FROM rer)
      SELECT query_id, rank, nn_id, sim FROM ranked WHERE rank <= 10"""))

  /** Full IVF-PQ: coarse cells prune WHICH vectors are scored (nProbe=6
    * of 16 cells), PQ codes shrink WHAT is scored (8 bytes/vector),
    * exact cosine re-ranks the shortlist — the billion-scale ANN shape.
    * Deterministic parameterization (lowest-id coarse centroids — the
    * untrained [[Similarity.ivfTopK]] convention — and `iters = 0`
    * codebooks), so cell assignment, probes, encode, ADC and both rank
    * cuts all replay in the oracle. The Lloyd-trained composite is
    * covered by PqSpec's probe-all ≡ un-pruned-ADC identity and
    * ann_ivf_trained's trained coarse path.
    */
  val qAnnIvfPq = Q("ann_ivf_pq",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id").as("id"), col("embedding"))
      val cents = corpus.orderBy(col("id")).limit(16)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val books = graft.ext.Pq.train(corpus, "id", "embedding",
        dim = 64, m = 8, nCodes = 16, iters = 0)
      graft.ext.Pq.searchIvfAdc(corpus,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        k = 10, cents, books, nProbe = 6, refine = 60)
    },
    Some("""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        ORDER BY vec_id LIMIT 16),
      assign AS (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c),
      cell AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
      qprobe AS (
        SELECT q.vec_id AS qid, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY CASE WHEN list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 OR list_dot_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(q.embedding::DOUBLE[], c.cent::DOUBLE[]) END DESC,
                          c.cid ASC) AS rn
        FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 5),
      probes AS (SELECT qid, cell FROM qprobe WHERE rn <= 6),
      cand AS (
        SELECT p.qid AS query_id, ce.vec_id AS nn_id
        FROM probes p JOIN cell ce ON ce.cell = p.cell
        WHERE ce.vec_id <> p.qid),
      e2 AS (
        SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
      n2 AS (
        SELECT vec_id, ed,
          list_reduce(list_transform(ed, x -> x*x), (a,b) -> a+b) AS nn
        FROM e2),
      normed AS (
        SELECT vec_id,
          CASE WHEN nn > 0 THEN
            list_transform(ed, x -> CAST(CAST(x / sqrt(nn) AS REAL) AS DOUBLE))
          ELSE ed END AS nv
        FROM n2),
      init AS (
        SELECT nv, row_number() OVER (ORDER BY vec_id) - 1 AS c
        FROM normed ORDER BY vec_id LIMIT 16),
      books AS (
        SELECT s.s, i.c, i.nv[s.s*8+1 : s.s*8+8] AS cent
        FROM init i CROSS JOIN (SELECT unnest(generate_series(0,7)) AS s) s),
      vsub AS (
        SELECT v.vec_id, b.s, b.c,
          list_reduce(list_transform(generate_series(1,8),
            j -> (v.nv[b.s*8 + j] - b.cent[j]) * (v.nv[b.s*8 + j] - b.cent[j])),
            (a,x) -> a + x) AS d
        FROM normed v CROSS JOIN books b),
      codes AS (
        SELECT vec_id, s, c AS code FROM (
          SELECT vec_id, s, c,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
          FROM vsub) WHERE rn = 1),
      adist AS (
        SELECT ca.query_id, ca.nn_id,
          list_reduce(list(qd.d ORDER BY qd.s), (a,b) -> a+b) AS ad
        FROM cand ca
        JOIN codes cv ON cv.vec_id = ca.nn_id
        JOIN vsub qd ON qd.vec_id = ca.query_id AND qd.s = cv.s AND qd.c = cv.code
        GROUP BY ca.query_id, ca.nn_id),
      short AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY ad ASC, nn_id ASC) AS arank
          FROM adist) WHERE arank <= 60),
      rer AS (
        SELECT s.query_id, s.nn_id,
          round(CASE WHEN list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) END, 3) AS sim
        FROM short s
        JOIN embeddings c ON c.vec_id = s.nn_id
        JOIN embeddings q ON q.vec_id = s.query_id),
      ranked AS (
        SELECT query_id, nn_id, sim,
          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rank
        FROM rer)
      SELECT query_id, rank, nn_id, sim FROM ranked WHERE rank <= 10"""))

  /** Multi-table SRP LSH top-k. Approximate vs brute force, but fully
    * deterministic: hyperplane signs are md5-parity of "table:plane:dim",
    * so the oracle rebuilds the same planes, signatures, hamming-1
    * probes and rerank in SQL. `list_reduce` folds the dot product in
    * index order — the same IEEE accumulation sequence as [[graft.functions.SrpSignature]].
    */
  val qAnnLsh = Q("ann_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(
        e.select(col("vec_id").as("id"), col("embedding")),
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        k = 10, dim = 64, nBits = 6, nTables = 8)
    },
    Some("""WITH signs AS (
        SELECT t.t, i.i, j.j,
          CASE WHEN ('0x'||substr(md5(t.t||':'||i.i||':'||j.j),1,2))::INT % 2 = 0
               THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT unnest(generate_series(0,7)) AS t) t
        CROSS JOIN (SELECT unnest(generate_series(0,5)) AS i) i
        CROSS JOIN (SELECT unnest(generate_series(0,63)) AS j) j),
      planes AS (
        SELECT t, i, list(s ORDER BY j) AS sv FROM signs GROUP BY t, i),
      dots AS (
        SELECT e.vec_id, p.t, p.i,
          list_reduce(list_transform(generate_series(1,64),
            j -> e.embedding[j]::DOUBLE * p.sv[j]), (a,b) -> a+b) AS dot
        FROM embeddings e CROSS JOIN planes p),
      sigs AS (
        SELECT vec_id, t,
          CAST(coalesce(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) END), 0) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id, t),
      qprobe AS (
        SELECT vec_id AS qid, t, sig AS key FROM sigs WHERE vec_id < 5
        UNION
        SELECT vec_id, t, xor(sig, (1::BIGINT << b.b))
        FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,5)) AS b) b
        WHERE vec_id < 5),
      cand AS (
        SELECT DISTINCT p.qid AS query_id, cs.vec_id AS nn_id
        FROM qprobe p JOIN sigs cs ON cs.t = p.t AND cs.sig = p.key
        WHERE cs.vec_id <> p.qid),
      scored AS (
        SELECT c.query_id, c.nn_id,
          round(CASE WHEN list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) = 0 OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) END, 3) AS sim
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.nn_id
        JOIN embeddings q ON q.vec_id = c.query_id),
      ranked AS (
        SELECT query_id, nn_id, sim,
          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, rank, nn_id, sim FROM ranked WHERE rank <= 10"""))

  /** Per-label embedding card ([[Similarity.embeddingCard]]): the
    * vector-space datasheet — volume, dim consistency, zero vectors,
    * norm distribution with exact percentiles. The mean norm crosses
    * engines as an integer (per-row 1e-4 rounding, exact long sum);
    * the oracle replays Spark's percentile interpolation per label.
    */
  val qEmbeddingCard = Q("q_embedding_card",
    (s, dir) => Similarity.embeddingCard(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label"),
    Some("""WITH b AS (
        SELECT label, vec_id, CAST(len(embedding) AS INTEGER) AS dim,
          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            AS nrm
        FROM embeddings),
      agg AS (
        SELECT label, count(*) AS n_vecs, max(dim) AS dim,
          count(DISTINCT dim) AS n_dims,
          count(CASE WHEN nrm = 0 THEN 1 END) AS zero_vecs,
          CAST(sum(CAST(floor(nrm * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS s
        FROM b GROUP BY 1),
      srt AS (
        SELECT label, list(nrm ORDER BY nrm, vec_id) AS xs, count(*) AS n
        FROM b GROUP BY 1),
      m AS (
        SELECT label, p.p, xs, n, p.p::DOUBLE * (n - 1) AS h,
          CAST(floor(p.p::DOUBLE * (n - 1)) AS BIGINT) AS lo,
          ceil(p.p::DOUBLE * (n - 1)) AS hi
        FROM srt CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p) p),
      v AS (
        SELECT label, p,
          CASE WHEN hi = lo THEN xs[lo + 1]
               ELSE (hi - h) * xs[lo + 1] + (h - lo) * xs[lo + 2]
          END AS q
        FROM m),
      pct AS (
        SELECT label,
          max(CASE WHEN p = 0.5 THEN q END) AS p50x,
          max(CASE WHEN p = 0.9 THEN q END) AS p90x
        FROM v GROUP BY 1)
      SELECT a.label, a.n_vecs, a.dim, a.n_dims, a.zero_vecs,
        CAST(floor(a.s::DOUBLE / a.n_vecs + 0.5) AS BIGINT)
          AS mean_norm_x1e4,
        floor(pct.p50x * 10000 + 0.5) / 10000 AS p50_norm,
        floor(pct.p90x * 10000 + 0.5) / 10000 AS p90_norm
      FROM agg a JOIN pct ON pct.label = a.label"""))

  // ---------------------------------------------------------------------
}
