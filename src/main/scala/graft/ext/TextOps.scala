package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All builders return `Column`s composed of builtin functions (regexp,
  * higher-order array ops) or the engine's codegen'd native expressions
  * — no interpreted UDFs — so they inline into whole-stage codegen'd
  * projections and scale linearly with no shuffle.
  */
object TextOps {

  /** Small English stopword list used by the quality / lang-id heuristics. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "it",
    "with", "as", "at", "by", "be", "this", "that", "from", "or")

  /** Non-whitespace token list (whitespace tokenizer). */
  def tokens(text: Column): Column = regexp_extract_all(text, lit("\\S+"), lit(0))

  /** Whitespace token count. */
  def nTokens(text: Column): Column = size(tokens(text))

  /** THE BPE pre-tokenization pattern: letter runs, digit runs, single
    * punctuation marks. Shared by the column-level tokenizer below and
    * the native encoder's `BpeTable.preToken` — one constant, so the
    * certified native==builtin encode parity can't drift on a regex
    * edit. Plain Java regex syntax (works in both Spark's codegen'd
    * `regexp_extract_all` and `java.util.regex`).
    */
  val BpeTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish sub-word tokenizer: letter runs, digit runs, and single
    * punctuation marks each count as one token (a cheap, deterministic
    * stand-in for a byte-pair vocabulary's pre-tokenization pass).
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenPattern), lit(0))

  def nBpeTokens(text: Column): Column = size(bpeTokens(text))

  /** Number of punctuation / non-alphanumeric, non-space characters. */
  def nPunct(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of tokens that are (lowercased) stopwords. */
  def nStopwords(text: Column): Column =
    size(filter(tokens(lower(text)), t => t.isin(Stopwords.map(lit): _*)))

  /** Stopword ratio in basis points (0..10000), integer: exact in every
    * engine, no float-rounding midpoint hazards. Takes precomputed count
    * columns (bind counts as attributes in a projection first so the
    * token regexes run once per row). */
  def stopwordRatioBpFromCounts(nTokens: Column, nStop: Column): Column =
    when(nTokens > 0, floor((nStop * 10000) / nTokens).cast("long")).otherwise(lit(0L))

  /** Mean token length — a proxy for gibberish / boilerplate detection. */
  def meanTokenLen(text: Column): Column =
    when(nTokens(text) > 0,
      round((length(text) - (nTokens(text) - 1)).cast("double") / nTokens(text), 4))
      .otherwise(lit(0.0))

  /** Composite quality score as integer points 0..100: rewards texts that
    * are neither too short nor too long, have some stopword mass (fluent
    * prose) and low punctuation density. Pure integer arithmetic so any
    * engine reproduces it bit-exactly:
    *   quality = len_pts*5 + stop_pts*3 + punct_pts*2, each pts in 0..10.
    */
  def qualityScore(text: Column): Column =
    qualityFromCounts(nTokens(text), nStopwords(text), nPunct(text), length(text))

  /** Quality points from precomputed count columns. */
  def qualityFromCounts(nt: Column, nStop: Column, nPunct: Column,
                        nChars: Column): Column = {
    val lenPts = when(nt >= 20 && nt <= 1000, lit(10))
      .when(nt < 20, floor(nt / lit(2)))
      .otherwise(floor(lit(10000) / nt))
    val stopPts = least(floor((nStop * 50) / greatest(nt, lit(1))), lit(10))
    val punctPts = lit(10) - least(floor((nPunct * 50) / greatest(nChars, lit(1))), lit(10))
    (lenPts * 5 + stopPts * 3 + punctPts * 2).cast("long")
  }

  /** Heuristic language ID: script detection by Unicode block first
    * (CJK / Cyrillic / Arabic / Devanagari), then an English-stopword
    * ratio gate for Latin-script text. Returns a language code string.
    */
  def langIdHeuristic(text: Column): Column =
    langIdFromCounts(text, nStopwords(text), nTokens(text))

  /** Same, from precomputed stopword/token counts — so a scoring
    * projection that already tokenized (bind the token array as an
    * attribute, derive every count from it) doesn't pay the two
    * wholesale re-tokenizations hidden in [[langIdHeuristic]]. The
    * script regexes stay on the raw text: they short-circuit on the
    * first matching char and cost nothing on Latin-script corpora.
    */
  def langIdFromCounts(text: Column, nStop: Column, nTok: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(text.rlike("[\\u0400-\\u04ff]"), lit("ru"))
      .when(text.rlike("[\\u0600-\\u06ff]"), lit("ar"))
      .when(text.rlike("[\\u0900-\\u097f]"), lit("hi"))
      .when(nStop * 8 >= nTok, lit("en"))
      .otherwise(lit("und"))

  /** Canonical form used for fingerprinting: lowercase, collapse all
    * whitespace runs to single spaces, trim.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Character n-grams of the [[normalized]] text (sliding window over
    * CHARACTERS, so multi-byte scripts window correctly) — the feature
    * space of published language-id classifiers (fastText lid uses char
    * 2-4-grams; n=3 is the cost/signal sweet spot at corpus scale).
    * Texts shorter than n characters produce an empty array (the
    * `sequence()` start>stop sign-flip guard, same as the word-bigram
    * feature builder).
    */
  def charNgrams(text: Column, n: Int): Column = {
    val t = normalized(text)
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Canonical URL key — the FIRST dedup rung of published web-corpus
    * pipelines (RefinedWeb runs URL dedup before any content pass;
    * CCNet dedups per-snapshot URLs): two crawls of the same page
    * differ in scheme, case, tracking decoration, and slash/fragment
    * noise long before their bodies differ. Syntax-based normalization
    * (RFC 3986 §6.2.2 case/port rules + the tracking-param strip), in
    * order:
    *
    *  1. trim; drop the fragment (`#...`);
    *  2. drop the scheme (any `name://` — the key is scheme-insensitive,
    *     so http/https crawls of one page collide);
    *  3. lowercase the HOST[:port] only — userinfo is case-SENSITIVE
    *     per RFC 3986 §3.2.1 and preserved, as are path and query;
    *  4. drop the original scheme's default port (`:80` http, `:443`
    *     https; other ports — and ports on other schemes — preserved);
    *  5. drop tracking params inside the QUERY component only
    *     (`utm_*`, `gclid`, `fbclid`, `igshid`, `mc_cid`, `mc_eid` —
    *     lowercase names, the published convention; other params
    *     preserved in their original order);
    *  6. drop one trailing slash from the PATH component, so
    *     `/p/7/` ≡ `/p/7` and `/p/7/?id=1` ≡ `/p/7?id=1`.
    *
    * Rules 5 and 6 are COMPONENT-ANCHORED (split at the first `?`):
    * a literal `&utm_x=` sequence inside a path segment, or a `/?` /
    * trailing `/` inside a query VALUE (`a.com/x?next=/p/?y=1`), is
    * someone else's page identity and must NOT be rewritten — an
    * unanchored rewrite makes two genuinely different pages collide on
    * one key, and the URL rung drops by address alone.
    *
    * IDN policy: hosts are compared AS-IS by default — no
    * punycode/IDNA mapping (a corpus mixing `münchen.example` with
    * `xn--mnchen-3ya.example` needs an explicit decision; silently
    * folding would hide it). The `idnaFold = true` overload OPTS IN to
    * an RFC 3490 ToASCII fold of the host (port and userinfo excluded,
    * ASCII hosts untouched, malformed hosts kept as-is — see
    * [[graft.functions.IdnaFold]]); it requires a session with the
    * graft functions registered and is deliberately not the default,
    * so every existing canonical key is byte-stable. Default form is a
    * pure builtin composition: codegen'd end-to-end, replayable in any
    * engine with RE2-class regexes.
    */
  def canonicalUrl(url: Column): Column = canonicalUrl(url, idnaFold = false)

  /** [[canonicalUrl]] with the opt-in IDNA host fold. */
  def canonicalUrl(url: Column, idnaFold: Boolean): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val noScheme = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val auth = regexp_extract(noScheme, "^[^/?]*", 0)
    val rest = noScheme.substr(length(auth) + 1, length(noScheme))
    // '@' cannot appear unencoded elsewhere in the authority, so the
    // first-'@' split is exact; no userinfo => empty string.
    val userinfo = regexp_extract(auth, "^([^@]*@)", 1)
    val hostPort = regexp_replace(auth, "^[^@]*@", "")
    val hostNoPort0 =
      when(scheme === "http", regexp_replace(lower(hostPort), ":80$", ""))
        .when(scheme === "https", regexp_replace(lower(hostPort), ":443$", ""))
        .otherwise(lower(hostPort))
    // opt-in IDNA: fold the HOST only — an explicit non-default port
    // survives the fold untouched (':' is not valid ToASCII input)
    val hostNoPort = if (!idnaFold) hostNoPort0 else concat(
      graft.functions.VectorFunctions.idnaAscii(
        regexp_replace(hostNoPort0, ":[0-9]+$", "")),
      regexp_extract(hostNoPort0, "(:[0-9]+)$", 1))
    val path = regexp_extract(rest, "^[^?]*", 0)
    val query = rest.substr(length(path) + 1, length(rest)) // incl. '?'
    val track = "(utm_[A-Za-z0-9_]*|gclid|fbclid|igshid|mc_cid|mc_eid)"
    val noTrack = regexp_replace(
      regexp_replace(
        regexp_replace(query, "&" + track + "=[^&#]*", ""),
        "\\?" + track + "=[^&#]*&", "?"),
      "\\?" + track + "=[^&#]*$", "")
    concat(userinfo, hostNoPort, regexp_replace(path, "/$", ""), noTrack)
  }

  /** Content fingerprint = md5 of the normalized text. Stable across
    * engines (md5 is bit-identical everywhere), used for exact-dedup at
    * scale: group by a 32-byte digest instead of multi-KB text, so the
    * dedup shuffle carries digests, not documents.
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Portable 60-bit hash: first 15 hex chars of md5 as a non-negative
    * long. Identical in DuckDB via `('0x'||substr(md5(s),1,15))::BIGINT`,
    * which keeps hash-based operators (MinHash, SimHash) oracle-checkable.
    * xxhash64 would be faster but is not reproducible outside Spark.
    *
    * Backed by the native [[graft.functions.Md5Prefix]] expression —
    * same digest, no hex-string round-trip (~40% cheaper). Requires a
    * session with [[graft.functions.GraftExtensions]] or a
    * `VectorFunctions.register` call (every graft operator entry point
    * and session builder does this); [[portableHashBuiltin]] is the
    * registration-free equivalent.
    */
  def portableHash(c: Column): Column =
    graft.functions.VectorFunctions.md5Prefix(c, 15)

  /** Pure-builtin formulation of [[portableHash]] — bit-identical values,
    * usable in any session, ~40% slower (hex materialize + base-16 parse).
    */
  def portableHashBuiltin(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** THE key-hash convention shared by every sampling / splitting /
    * sharding operator (`hashSample`, `hashSplit`, `exactSplit`,
    * `clusterSplit`, `shardExport`): the `:`-joined key columns through
    * [[portableHash]] (oracle-checkable md5 form) or codegen'd
    * xxhash64 (production fast path) — both landing in [0, 2^60) so
    * downstream `% N` / rank logic is mode-independent. ONE definition
    * on purpose: cross-operator determinism claims (a split decision
    * independent of a sample decision, a doc keeping its split across
    * corpus versions) rest on every operator hashing keys identically.
    */
  private[graft] def keyHash(keyCols: Seq[String],
                             portable: Boolean): Column = {
    val key = concat_ws(":", keyCols.map(col): _*)
    if (portable) portableHash(key)
    else pmod(xxhash64(key), lit(1L << 60))
  }

  /** The Unicode-script classes [[scriptMix]] counts, in DECLARED
    * order — the order is the dominant-script tie-break (first class
    * at the max count wins), so it is part of the operator's contract.
    * Character classes are explicit codepoint ranges (no `\p{...}`
    * names — Java and RE2 disagree on those), so any RE2-compatible
    * engine replays the counts exactly. `\s` is avoided for the same
    * reason: Java's default `\s` includes `\x0B`, RE2's does not.
    */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\u0400-\\u04ff]",
    "greek" -> "[\\u0370-\\u03ff]",
    "cjk" -> "[\\u4e00-\\u9fff]",
    "arabic" -> "[\\u0600-\\u06ff]",
    "digit" -> "[0-9]",
    "space" -> "[ \\t\\n\\r\\f]")

  /** Per-document Unicode-script mix — the script-level companion of
    * [[langIdHeuristic]] (language-ID answers "which language"; this
    * answers "which WRITING SYSTEMS, in what proportion" — the
    * mixed-script page, the transliteration artifact, and the
    * wrong-script-for-claimed-language ingestion bug are all invisible
    * to a single dominant-language label). Counts per class come from
    * the length drop under `regexp_replace(class, "")` — one stateless
    * scan projection, zero shuffles, codegen-friendly; `other` is the
    * remainder, so the eight counts always sum to the char length.
    * Basis points are exact integer division (SQL `div`), and the
    * dominant script breaks ties by [[scriptClasses]] order — both
    * deterministic, so every column hash-matches any engine.
    *
    * @return (id, n_chars, n_<class>... , <class>_bp..., dominant) —
    *         dominant = "none" for empty text
    */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val counted = df.select(
      (col(idCol).as("id") +: length(t).cast("long").as("n_chars") +:
        scriptClasses.map { case (name, cls) =>
          (length(t) - length(regexp_replace(t, cls, "")))
            .cast("long").as(s"n_$name")
        }): _*)
      .withColumn("n_other",
        col("n_chars") - scriptClasses.map(c => col(s"n_${c._1}"))
          .reduce(_ + _))
    val names = scriptClasses.map(_._1) :+ "other"
    val maxC = greatest(names.map(n => col(s"n_$n")): _*)
    val dominant = names.reverse.foldLeft(lit("none")) { (acc, n) =>
      when(col(s"n_$n") === maxC, lit(n)).otherwise(acc)
    }
    val bps = names.map(n =>
      when(col("n_chars") > 0, expr(s"(n_$n * 10000) div n_chars"))
        .otherwise(lit(0)).cast("long").as(s"${n}_bp"))
    counted.select(
      (col("id") +: col("n_chars") +: names.map(n => col(s"n_$n"))) ++
        bps :+
        when(col("n_chars") === 0, lit("none")).otherwise(dominant)
          .as("dominant"): _*)
  }

  /** Per-document character-level Shannon entropy in integer
    * MICRO-NATS — the classic low-entropy gibberish/boilerplate signal
    * (a page of one repeated character scores 0; natural-language text
    * sits around 3·10⁶; random base64 near ln 64 ≈ 4.16·10⁶). Computed
    * by the identity H = ln N − (Σ n_c·ln n_c)/N with per-character
    * contributions fixed-pointed BEFORE the unordered sum
    * (floor(n_c·ln n_c·10⁶ + 0.5), then an exact integer `div N`), so
    * no accumulation-order-sensitive double sum crosses engines — the
    * [[DataQuality.psi]] integer-micro convention.
    *
    * Shape: one char explode + two keyed aggregates; the shuffle
    * carries (id, char, count) — bounded by each document's distinct
    * alphabet, not its length, after the map-side partial collapse.
    * Characters are Unicode BMP codepoints (`split` on the empty
    * pattern); every input doc gets a row (empty text → n=0,
    * entropy 0).
    *
    * @return (id, n, entropy_micro)
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = Materialize.spread(df)
      .select(col(idCol).as("id"),
        explode(split(col(textCol), "")).as("c"))
      .filter(col("c") =!= "") // Spark split keeps a trailing empty token
    val agg = chars.groupBy(col("id"), col("c"))
      .agg(count(lit(1)).as("nc"))
      .groupBy(col("id"))
      .agg(sum(col("nc")).as("n"),
        sum(floor(col("nc").cast("double") *
          log(col("nc").cast("double")) * 1e6 + 0.5).cast("long"))
          .as("__t"))
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(0L)).as("n"),
        when(col("n") > 0,
          floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long") -
            expr("__t div n"))
          .otherwise(lit(0L)).cast("long").as("entropy_micro"))
  }
}
