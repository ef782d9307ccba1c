package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level (whole-relation) text operators: TF-IDF term extraction,
  * vocabulary building, PII scrubbing, deterministic sampling.
  *
  * Scale shapes:
  *  - tf/df are two aggregations over the exploded token relation — the
  *    shuffle key is the token (tf additionally the doc), map-side
  *    partial counts do most of the work;
  *  - the document count N and the df relation are small (vocabulary-
  *    sized) and broadcast back onto the per-doc term lists;
  *  - sampling and scrubbing are stateless projections/filters — no
  *    shuffle at all, fully pushdown-friendly.
  */
object Corpus {

  /** Distinct-stratum count past which the driver-collecting mixture
    * operators ([[temperatureSample]], [[mixingPlan]]) log a warning:
    * they are contracts over source/domain/language-style strata
    * (10²-10⁶ values, a few MB collected + a literal rate table per
    * task), and a per-key column passed as the stratum would pressure
    * driver memory and bloat every task closure. Warn, don't fail —
    * the operator is still correct, just mis-applied.
    */
  private[graft] val StrataDriverWarn = 1000000

  private def warnStrataCardinality(op: String, col: String,
                                    n: Int): Unit =
    if (n > StrataDriverWarn)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op: $n distinct '$col' strata exceed the driver-sized " +
          s"assumption ($StrataDriverWarn); the per-stratum rate table " +
          "is collected to the driver and shipped into every task — " +
          "use a source/domain-cardinality stratum column")

  private def toks(textCol: Column): Column =
    TextOps.tokens(TextOps.normalized(textCol))

  /** Exact integer square root (Newton on BigInt — no IEEE anywhere),
    * the driver-side half of the α ∈ {0.25, 0.75} temperature-rate
    * forms. Strata counts are driver-sized, so this runs per stratum
    * once; magnitude is unbounded.
    */
  private[graft] def isqrt(n: BigInt): BigInt = {
    require(n >= 0, s"isqrt of negative $n")
    if (n == 0) BigInt(0)
    else {
      var x = BigInt(1) << ((n.bitLength + 1) / 2)
      var y = (x + n / x) >> 1
      while (y < x) { x = y; y = (x + n / x) >> 1 }
      x
    }
  }

  /** Exploded (id, token) relation — duplicates preserved. Input spread
    * to session parallelism first ([[Materialize.spread]], no-op on
    * well-partitioned tables): tokenize + explode is the CPU-heavy
    * narrow stage and would otherwise run with the scan's partitioning.
    */
  private def tokenRel(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Materialize.spread(df)
      .select(col(idCol).as("id"), explode(toks(col(textCol))).as("token"))

  /** Top-k TF-IDF terms per document: score = tf · ln(N/df), rounded to
    * 4dp, ranked by (score desc, token asc) so top-k cuts are total-order
    * deterministic in any engine.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // ONE tokenize pass: tf is the (id, token) count aggregate, and
    // df(token) counts the tf relation's rows (tf rows ARE the distinct
    // (id, token) pairs) — the raw exploded postings are never cached or
    // re-scanned. Only the aggregated tf relation (orders of magnitude
    // smaller than the postings) is materialized for its two consumers
    // (the score join and the df derivation).
    val tf = Materialize.multiScan(
      tokenRel(df, idCol, textCol).groupBy(col("id"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("token"), col("score"))
  }

  /** BM25 relevance scoring: top-k documents for a bag-of-words query —
    * the retrieval-ranking complement of [[tfidfTopK]] (and the lexical
    * half of a hybrid lexical+vector pipeline; the vector half is
    * [[Similarity]]). Okapi BM25 with the standard Robertson idf
    * (`ln((N − df + ½)/(df + ½) + 1)`, always positive) and tf
    * saturation/length normalization `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`.
    *
    * Scale shape: the query terms are a driver-side literal, so the
    * `IN` prune folds into the corpus scan stage (codegen'd, before any
    * shuffle) and the tf aggregate is docs×|terms| at most. Doc-length
    * stats are a single-row scan-shaped aggregate over a narrow
    * projection (no shuffle); df derives from the tf relation's rows
    * (they ARE the distinct (doc, term) pairs — the [[tfidfTopK]]
    * trick); top-k is a distributed TakeOrdered on a total order.
    *
    * Portability: each (doc, term) contribution is fixed-pointed to
    * integer tenth-millipoints BEFORE the per-doc sum (the float-
    * accumulation-order rule), so the score hash-matches any engine.
    *
    * @return (id, score_x10k, n_terms) — the k best documents by
    *         (score desc, id asc)
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    // global length stats over ALL docs (including those matching no
    // term — they still define avgdl): narrow projection + one-row agg
    val stats = df.agg(
      sum(size(toks(col(textCol)))).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    // one tokenize pass: dl rides the explode, the literal IN filter
    // prunes to query-term postings inside the scan stage
    val tf = Materialize.multiScan(
      Materialize.spread(df)
        .select(col(idCol).as("id"), toks(col(textCol)).as("toks"))
        .select(col("id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy(col("id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token").crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib_x10k", floor(
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
          * 10000 + 0.5).cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("contrib_x10k")).as("score_x10k"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_x10k").desc, col("id").asc).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval combiner: given ranked lists over the same id space
    * (lexical BM25, vector cosine, …), score each id by
    * Σ floor(scale / (kRrf + rank)) over the lists that ranked it, and
    * return the fused top-k. The integer point scale makes every score
    * an exact sum of exact integers — rank-based, score-free fusion
    * that is hash-reproducible in any engine (the double division's
    * floor is exact here: the quotient is ≥ 1/denominator away from
    * the next integer whenever it isn't itself exact, far beyond
    * double rounding error at this magnitude).
    *
    * Shape: candidate lists are top-k-bounded by construction (k rows
    * per list, not corpus-sized), so the union + id-keyed sum is work
    * proportional to Σ list sizes, with the final cut a distributed
    * TakeOrdered. The corpus itself is only touched by the upstream
    * rankers.
    *
    * @param rankings (id, rank) DataFrames, rank 1-based best-first
    * @return (id, rrf_score, n_lists) — fused top-k, ties to low id
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, kRrf: Int = 60,
              scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "RRF needs at least one ranked list")
    val scored = rankings.map(r =>
      r.select(col("id"),
        floor(lit(scale) / (lit(kRrf) + col("rank"))).cast("long").as("pts")))
      .reduce(_ unionByName _)
    scored.groupBy(col("id"))
      .agg(sum(col("pts")).as("rrf_score"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("id").asc).limit(topK)
  }

  /** Corpus vocabulary: the topN tokens by (frequency desc, token asc)
    * with their counts — the building block of BPE/vocab training runs.
    *
    * Top-N via `orderBy(...).limit(topN)` — Spark plans TakeOrdered
    * (per-partition top-N, then a merge of topN-sized heaps), so a
    * web-scale corpus with 10⁸+ distinct tokens never funnels through
    * one task. Only the topN survivors (bounded by a constant, not by
    * data size) see the final rank window.
    */
  def vocabulary(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = Materialize.spread(df)
      .select(explode(toks(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    rankedTop(counts, topN)
  }

  /** (rank, token, cnt) top-k cut of a (token, cnt) relation: TakeOrdered
    * `limit` first (distributed per-partition heaps), then the rank
    * window only ever sees the k survivors. Shared by [[vocabulary]] and
    * [[heavyHitters]].
    */
  private def rankedTop(counts: DataFrame, k: Int): DataFrame = {
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Scrub character runs matching `pattern` (default: digit runs —
    * stand-in for ids/phones/account numbers) with a placeholder.
    * Returns (scrubbed text column, hit count column) builders.
    */
  def scrub(textCol: Column, pattern: String = "[0-9]+",
            replacement: String = "<num>"): (Column, Column) =
    (regexp_replace(textCol, pattern, replacement),
      size(regexp_extract_all(textCol, lit(pattern), lit(0))))

  /** Standard PII scrub battery, most-specific first (emails and URLs
    * before bare digit runs, so an address never leaks through as its
    * digit fragments). Every regex is RE2-compatible, so external
    * engines reproduce the scrub byte-for-byte — what keeps the full
    * battery oracle-checkable.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
    ("url", "https?://[^\\s]+", "<url>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<ip>"),
    ("phone", "\\+\\d{7,15}", "<phone>"),
    ("number", "[0-9]+", "<num>"))

  /** Apply a scrub battery in order. Each stage counts its hits on the
    * output of the PREVIOUS stage (so a digit inside an already-scrubbed
    * email is not double-counted) and replaces them. Stateless
    * projection — one codegen'd pass, no shuffle, scales linearly.
    *
    * @return (fully scrubbed text, per-pattern hit counts in order)
    */
  def scrubAll(textCol: Column,
               patterns: Seq[(String, String, String)] = PiiPatterns)
      : (Column, Seq[(String, Column)]) = {
    var cur = textCol
    val counts = patterns.map { case (name, pattern, replacement) =>
      val n = size(regexp_extract_all(cur, lit(pattern), lit(0)))
      cur = regexp_replace(cur, pattern, replacement)
      name -> n
    }
    (cur, counts)
  }

  /** Split documents into overlapping token-window chunks — the
    * long-document step before tokenization-for-training. Deterministic:
    * chunk i covers tokens [i·(size-overlap), i·(size-overlap)+size).
    * Codegen'd lateral explode; no shuffle, no driver round-trip.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be smaller than the chunk size")
    val stride = chunkSize - overlap
    // spread first: the split + per-chunk slice is the CPU-heavy narrow
    // stage and would otherwise run with the scan's partitioning — one
    // task for a single-file table (no-op on well-partitioned inputs)
    Materialize.spread(df)
      .select(col(idCol).as("id"),
        split(TextOps.normalized(col(textCol)), " ").as("toks"))
      .withColumn("n", when(col("toks") === array(lit("")), 0)
        .otherwise(size(col("toks"))))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        ceil((col("n") - lit(overlap)).cast("double") / stride).cast("int"))
      .withColumn("chunk_no",
        explode(sequence(lit(0), greatest(col("n_chunks"), lit(1)) - 1)))
      .select(col("id"), col("chunk_no"),
        (col("chunk_no") * stride + 1).as("tok_start"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_no") * stride + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Contiguous sequence packing: in deterministic id order, documents
    * fill fixed token budgets; a document belongs to the pack where it
    * STARTS (streaming packing with straddle). The running token sum is
    * the distributed two-pass prefix sum ([[Prefix.globalRunningSum]]):
    * range-partitioned by id, per-partition subtotals to the driver,
    * partition offsets broadcast back — same deterministic result as a
    * global window, full parallelism at any corpus size.
    */
  def pack(df: DataFrame, idCol: String, textCol: String,
           budget: Int,
           tokenCounter: Column => Column = TextOps.nTokens): DataFrame =
    packOrdered(df, idCol, textCol, budget, Seq(col("id")), tokenCounter)

  /** [[pack]] with a caller-chosen fill ORDER over the sized relation
    * (columns `id`, `n_tokens`; the order must end in a unique
    * tiebreak) — the length-grouped-batching hook: filling in
    * (n_tokens desc, id) order packs similar-length documents
    * together, which cuts straddle truncation at pack boundaries
    * relative to arrival order; a score order gives curriculum-ordered
    * packs ([[Splits.curriculumExport]]'s schedule at sequence
    * granularity). Same distributed two-pass prefix sum — the order is
    * a range-exchange key, never a single-partition sort.
    */
  def packOrdered(df: DataFrame, idCol: String, textCol: String,
                  budget: Int, order: Seq[Column],
                  tokenCounter: Column => Column = TextOps.nTokens): DataFrame = {
    require(order.nonEmpty, "packOrdered needs a fill order")
    // spread first: the tokenCounter projection is the CPU-heavy narrow
    // stage (a learned-BPE counter chains one replace per merge rule
    // over every word) and would otherwise run with the scan's
    // partitioning — one task on a single-file table. Then persist the
    // NARROW (id, n_tokens) relation (16 bytes/row at any corpus size)
    // BEFORE the prefix sum's range exchange: range partitioning
    // executes its child twice (sampling pass + shuffle write), which
    // would pay the expensive counter twice per run.
    val sized = Materialize.multiScan(Materialize.spread(df)
      .select(col(idCol).as("id"),
        tokenCounter(col(textCol)).as("n_tokens")))
    Prefix.globalRunningSum(sized, order, col("n_tokens"), "cum")
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / budget).cast("long"))
  }

  /** Content-SET digest per source — the O(1) release-equality check:
    * two snapshots have the same digest, distinct-count, AND doc count
    * ⟺ (up to hash collision) the same multiset of normalized
    * contents per source, without a row-level diff ([[corpusDiff]] is
    * the row-level answer when they differ). The digest is the XOR of
    * the distinct contents' 60-bit portable hashes — incremental set
    * hashing (Bellare–Micciancio's XHASH shape): adding or removing a
    * distinct content TOGGLES its bits, so the next release's digest
    * is computable from the delta alone, no corpus re-read. Stated
    * honestly: this guards against ACCIDENTAL divergence (a lost
    * partition, a double-applied batch, an engine migration); XOR set
    * hashes are forgeable by an adversary who controls content — use
    * a cryptographic accumulator for that threat model.
    *
    * Shape: documents collapse to (source, fp) digests map-side;
    * nothing wider than 32 bytes shuffles.
    *
    * @return one row per source: (source, n_docs, n_distinct,
    *         digest60)
    */
  def corpusDigest(df: DataFrame, textCol: String,
                   sourceCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df.select(col(sourceCol).as("source"),
        TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("__n"))
      .select(col("source"), col("__n"),
        TextOps.portableHash(col("fp")).as("__h"))
      .groupBy(col("source"))
      .agg(sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        expr("bit_xor(__h)").as("digest60"))
  }

  /** Packing-efficiency card over a [[pack]] assignment — the
    * utilization statistic a context-window pipeline reports before
    * committing a budget: how full the sequences actually are
    * (`fill_bp` = total tokens over total capacity), how many packs
    * OVERFLOW the budget (a doc is assigned to the pack where it
    * STARTS, so straddling docs push their pack past the budget — the
    * loader must truncate or the budget must grow), and how many
    * single docs exceed the whole budget (can never fit, whatever the
    * packing). One keyed aggregate + one global fold; exact integer
    * arithmetic throughout.
    *
    * @return one row: (n_docs, n_packs, total_tokens, fill_bp,
    *         n_over_budget, n_oversize_docs)
    */
  def packStats(packed: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    packed.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("__docs"),
        sum(col("n_tokens")).as("__tok"),
        count(when(col("n_tokens") > budget, 1)).as("__oversize"))
      .agg(sum(col("__docs")).as("n_docs"),
        count(lit(1)).as("n_packs"),
        sum(col("__tok")).as("total_tokens"),
        sum(when(col("__tok") > budget, lit(1L)).otherwise(lit(0L)))
          .as("n_over_budget"),
        sum(col("__oversize")).as("n_oversize_docs"))
      .select(col("n_docs"), col("n_packs"), col("total_tokens"),
        expr(s"(total_tokens * 10000) div (n_packs * ${budget}L)")
          .cast("long").as("fill_bp"),
        col("n_over_budget"), col("n_oversize_docs"))
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * word n-gram with any benchmark document are flagged. Inverted-index
    * semi-join on the shingle hash — the corpus is never joined to
    * itself, and the benchmark side (small) drives the match.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val c = Dedup.explodedShingles(corpus, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("sh64"))
    val b = Dedup.explodedShingles(benchmark, idCol, textCol, n)
      .select(xxhash64(col("shingle")).as("sh64")).distinct()
    c.join(broadcast(b), Seq("sh64"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Fraction-based benchmark decontamination — the published-eval
    * policy form ("remove documents with ≥ X% n-gram overlap", GPT-3 /
    * PaLM style) on top of [[decontaminate]]'s any-match flag: per
    * corpus document, the fraction of its DISTINCT word n-grams that
    * appear anywhere in the benchmark, in integer basis points, plus
    * the `dropAtBp` policy verdict. Every corpus document gets a row
    * (0 bp when nothing overlaps or the doc is shorter than n), so the
    * output is directly joinable as a keep/drop column.
    *
    * Shape: benchmark shingles (small by nature) broadcast as 8-byte
    * portable hashes; the corpus side is one shingle scan + one
    * id-keyed count aggregate — no shuffle ever touches shingle text.
    * Portable md5-prefix hashing keeps the whole score — including
    * hash collisions, identical in any engine — oracle-checkable.
    *
    * @return (id, n_shingles, n_shared, overlap_bp, drop)
    */
  def decontaminateFraction(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            dropAtBp: Int = 2500): DataFrame =
    decontaminateFractionOn(
      Dedup.explodedShingles(corpus, idCol, textCol, n)
        .select(col("id"), col("m"),
          TextOps.portableHash(col("shingle")).as("h")),
      corpus.select(col(idCol).as("id")), benchmark, idCol, textCol, n,
      dropAtBp)

  /** [[decontaminateFraction]] from a pre-exploded hashed corpus
    * relation (id, m, h) — the share point [[decontamMatrix]] uses so
    * the corpus tokenizes once for both n-gram forms. */
  private[graft] def decontaminateFractionOn(c: DataFrame, ids: DataFrame,
                                             benchmark: DataFrame,
                                             idCol: String, textCol: String,
                                             n: Int,
                                             dropAtBp: Int): DataFrame = {
    graft.functions.VectorFunctions.register(benchmark.sparkSession)
    val b = Dedup.explodedShingles(benchmark, idCol, textCol, n)
      .select(TextOps.portableHash(col("shingle")).as("h")).distinct()
      .withColumn("hit", lit(1L))
    val scored = c.join(broadcast(b), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(max(col("m")).cast("long").as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
    ids
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_bp",
        when(col("n_shingles") > 0,
          floor(col("n_shared") * 10000 / col("n_shingles")))
          .otherwise(lit(0)).cast("long"))
      .withColumn("drop", col("overlap_bp") >= dropAtBp)
  }

  /** Containment-based benchmark decontamination — the BENCHMARK-side
    * direction [[decontaminateFraction]] structurally misses. The
    * fraction form denominates on the DOCUMENT's shingles, so a short
    * eval item quoted inside a long page scores a few bp of the page
    * and clears any fraction threshold — yet the whole eval item
    * leaked. Here each benchmark ITEM's distinct n-gram set is the
    * denominator (Broder's containment, C(b→d) = |S(b)∩S(d)| / |S(b)|
    * — [[Dedup.containmentPairs]]' asymmetry specialized to
    * eval-leak detection), and a document is flagged when ANY item is
    * τ-contained in it. Run BOTH directions in a release gate: the
    * fraction form catches the mostly-benchmark document, this form
    * catches the benchmark-inside-document quote.
    *
    * Shape: benchmark shingles broadcast as 8-byte portable hashes
    * with their per-item set size; the corpus side is one shingle scan
    * + one (doc, item)-keyed count + one per-doc argmax aggregate —
    * document text never shuffles. `worst_bench` ties break to the
    * smallest item id (max-struct on (cont_bp, −bid)), and the score
    * is exact integer arithmetic — every column engine-portable.
    *
    * @return (id, max_cont_bp, worst_bench, drop) — every corpus doc
    *         gets a row (0 bp / NULL worst_bench when nothing matches)
    */
  def decontaminateContainment(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               dropAtBp: Int = 8000): DataFrame =
    decontaminateContainmentOn(
      Dedup.explodedShingles(corpus, idCol, textCol, n)
        .select(col("id"), TextOps.portableHash(col("shingle")).as("h")),
      corpus.select(col(idCol).as("id")), benchmark, idCol, textCol, n,
      dropAtBp)

  /** [[decontaminateContainment]] from a pre-exploded hashed corpus
    * relation (id, h) — the [[decontamMatrix]] share point. */
  private[graft] def decontaminateContainmentOn(c: DataFrame, ids: DataFrame,
                                                benchmark: DataFrame,
                                                idCol: String,
                                                textCol: String, n: Int,
                                                dropAtBp: Int): DataFrame = {
    graft.functions.VectorFunctions.register(benchmark.sparkSession)
    val b = Dedup.explodedShingles(benchmark, idCol, textCol, n)
      .select(col("id").as("bid"), col("m").cast("long").as("mb"),
        TextOps.portableHash(col("shingle")).as("h"))
    val best = c.join(broadcast(b), Seq("h"))
      .groupBy(col("id"), col("bid"), col("mb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id"),
        expr("(inter * 10000) div mb").cast("long").as("cont_bp"),
        col("bid"))
      .groupBy(col("id"))
      .agg(max(struct(col("cont_bp"), (-col("bid")).as("nbid"))).as("b"))
      .select(col("id"), col("b.cont_bp").as("max_cont_bp"),
        (-col("b.nbid")).cast("long").as("worst_bench"))
    ids
      .join(best, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("max_cont_bp"), lit(0L)).as("max_cont_bp"),
        col("worst_bench"),
        (coalesce(col("max_cont_bp"), lit(0L)) >= dropAtBp).as("drop"))
  }

  /** SPAN-level decontamination — the VERBATIM-QUOTE leakage check the
    * n-gram forms under-report: [[decontaminateFraction]] dilutes a
    * short eval item quoted inside a long page (tiny shared-shingle
    * fraction) and [[decontaminateContainment]] needs the whole
    * benchmark doc's shingle set to be contained; a 60-byte exact
    * quote of one benchmark ANSWER inside a 10 KB page trips neither
    * hard. This form flags exact ≥ `winBytes`-byte shared SPANS:
    * content-defined anchored window fingerprints
    * ([[Dedup.substringDupSpans]]'s machinery — alignment-free, recall
    * dialed by `anchorMod` with the measured (1−1/mod)^(L−win+1) miss
    * law) equi-joined corpus-vs-benchmark, with per-doc covered-byte
    * accounting (interval union of hit windows) and the drop policy in
    * basis points of the document's normalized bytes.
    *
    * Shape: benchmark windows BROADCAST (eval suites are tiny next to
    * the corpus); corpus text never shuffles — only (fp, id, p)
    * window rows move; coverage is the per-doc island pass.
    *
    * @return (id, n_bytes, n_dup_windows, covered_bytes, cov_bp,
    *         n_bench_docs, drop) — every corpus doc gets a row
    */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         winBytes: Int = 40, anchorMod: Int = 8,
                         dropAtBp: Int = 2500): DataFrame = {
    val cw = Materialize.multiScan(
      Dedup.anchorWins(corpus, idCol, textCol, winBytes, anchorMod))
    val bw = Dedup.anchorWins(benchmark, idCol, textCol, winBytes, anchorMod)
      .select(col("fp"), col("id").as("bid")).distinct()
    val hits = Materialize.multiScan(cw.join(broadcast(bw), Seq("fp")))
    val dup = hits.select(col("id"), col("p")).distinct()
    val base = corpus.select(col(idCol).as("id"),
      octet_length(TextOps.normalized(col(textCol))).as("n_bytes"))
    val nb = hits.groupBy(col("id"))
      .agg(countDistinct(col("bid")).as("n_bench_docs"))
    Dedup.coverageOf(dup, base, winBytes)
      .join(nb, Seq("id"), "left")
      .select(col("id"), col("n_bytes"), col("n_dup_windows"),
        col("covered_bytes"), col("cov_bp"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (col("cov_bp") >= dropAtBp).as("drop"))
  }

  /** SPAN-level decontamination REWRITE — the surgical alternative to
    * [[decontaminateSpans]]' drop policy: instead of discarding a whole
    * document because an eval answer is quoted inside it, CUT the
    * leaked spans and keep the rest (the redact-vs-drop decision every
    * published decontamination pipeline weighs — dropping a 10 KB page
    * for a 60-byte quote throws away 99% clean text; at corpus scale
    * the recovered volume is material). Every ≥ `winBytes`-byte span
    * byte-identical to benchmark content is removed wherever it
    * appears: unlike the self-dedup rewrite ([[Dedup.exactSpanRewrite]])
    * there is NO canonical occurrence to spare — leaked benchmark text
    * has no legitimate copy in a training corpus.
    *
    * Mechanism: every-offset `winBytes` window fingerprints on both
    * sides (exact, the [[Dedup.exactSpanRewrite]] machinery); the
    * benchmark's fingerprint set broadcasts (eval suites are tiny);
    * corpus windows that hit it become the cut relation, and the
    * shared island-union + complement-stitch
    * ([[Dedup.stitchComplementBin]]) produces the cleaned bytes. Docs
    * with no hit pass through byte-identical.
    *
    * Shape at 100 TB: the corpus side pays the every-offset window
    * shuffle (~32 B/byte — the exact-rewrite price); route the corpus
    * through the ANCHORED screen first ([[decontaminateSpans]], cheap)
    * or use [[decontaminateRewriteWinnowed]] for the guaranteed-recall
    * two-pass form. Benchmark side is broadcast everywhere; corpus
    * text shuffles only inside each doc's own stitch group.
    *
    * @return (id, n_bytes, n_spans_cut, cut_bytes, clean_bytes,
    *         clean_fp) — the [[Dedup.exactSpanRewrite]] schema; clean_fp
    *         = md5 of the stitched surviving bytes
    */
  def decontaminateRewrite(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String,
                           winBytes: Int = 40): DataFrame = {
    val bw = Dedup.anchorWins(benchmark, idCol, textCol, winBytes,
        anchorMod = 1)
      .select(col("fp")).distinct()
    val leaked = Dedup.anchorWins(corpus, idCol, textCol, winBytes,
        anchorMod = 1)
      .join(broadcast(bw), Seq("fp"), "left_semi")
      .select(col("id"), col("p"))
    Dedup.stitchComplementBin(corpus, idCol, textCol, winBytes, leaked)
      .select(col("id"), col("n_bytes"), col("n_spans_cut"),
        col("cut_bytes"),
        length(col("clean_bin")).cast("long").as("clean_bytes"),
        md5(col("clean_bin")).as("clean_fp"))
  }

  /** [[decontaminateRewrite]] behind a WINNOWED candidate pass — the
    * [[Dedup.exactSpanRewriteWinnowed]] discipline applied to the
    * benchmark direction: winnow fingerprints (density ~2/(k+1)) on
    * BOTH sides flag candidate docs — by the winnowing theorem any
    * shared span of ≥ winBytes+k−1 bytes selects at least one common
    * fingerprint in both documents — and the exact every-offset cut
    * runs over the flagged minority only; unflagged docs pass through
    * uncut, owed to the theorem. Byte-identical to
    * [[decontaminateRewrite]] whenever every leaked span is
    * ≥ winBytes+k−1 bytes; spans in [winBytes, winBytes+k−1) may escape
    * the candidate pass — the explicit deterministic recall floor,
    * dialed by k.
    *
    * @return the [[decontaminateRewrite]] schema
    */
  def decontaminateRewriteWinnowed(corpus: DataFrame, benchmark: DataFrame,
                                   idCol: String, textCol: String,
                                   winBytes: Int = 40,
                                   k: Int = 15): DataFrame = {
    val bWin = Dedup.winnowWins(benchmark, idCol, textCol, winBytes, k)
      .select(col("fp")).distinct()
    val candIds = Dedup.winnowWins(corpus, idCol, textCol, winBytes, k)
      .join(broadcast(bWin), Seq("fp"), "left_semi")
      .select(col("id")).distinct()
    val cands = corpus.join(candIds, corpus(idCol) === candIds("id"),
      "left_semi")
    val bw = Dedup.anchorWins(benchmark, idCol, textCol, winBytes,
        anchorMod = 1)
      .select(col("fp")).distinct()
    val leaked = Dedup.anchorWins(cands, idCol, textCol, winBytes,
        anchorMod = 1)
      .join(broadcast(bw), Seq("fp"), "left_semi")
      .select(col("id"), col("p"))
    Dedup.stitchComplementBin(corpus, idCol, textCol, winBytes, leaked)
      .select(col("id"), col("n_bytes"), col("n_spans_cut"),
        col("cut_bytes"),
        length(col("clean_bin")).cast("long").as("clean_bytes"),
        md5(col("clean_bin")).as("clean_fp"))
  }

  /** Temperature (power) resampling of the source mixture — the
    * standard multilingual/multi-source rebalance (mT5, XLM-R): stratum
    * s with corpus share p_s is sampled with probability ∝ p_s^alpha,
    * so alpha = 1 keeps natural proportions and alpha → 0 flattens the
    * mixture toward uniform. Per-stratum keep rates are derived in one
    * count aggregate, fixed-pointed to parts-per-million (half-up, a
    * single driver-side rounding per stratum), normalized so the
    * LARGEST stratum's rate is scaled by `keepTopPpm` — the admission
    * is then the same deterministic portable-hash threshold as
    * [[mixtureSample]]: stateless, shuffle-free on the corpus side,
    * reproducible in any engine.
    *
    * Driver-cardinality assumption (the [[Dedup.connectedComponents]]
    * explicit-gate discipline): the per-stratum count table IS
    * collected to the driver — `strataCol` must be a source/domain/
    * language-style column with ≤ ~10⁶ distinct values, NOT a per-key
    * id. Beyond [[StrataDriverWarn]] distinct strata a warning is
    * logged (the rate table also rides into tasks as a literal map, so
    * a per-key stratum column would bloat every task closure, not just
    * the driver).
    *
    * @param alpha      temperature exponent in (0, 1]
    * @param keepTopPpm ppm of the HEAVIEST stratum to keep (the whole
    *                   rate vector scales with it; 1000000 keeps the
    *                   heaviest stratum whole)
    * @return input rows + (keep_rate_ppm) for admitted rows only
    */
  def temperatureSample(df: DataFrame, strataCol: String,
                        idCols: Seq[String], alpha: Double,
                        keepTopPpm: Int = 1000000): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha $alpha must be in (0, 1]")
    graft.functions.VectorFunctions.register(df.sparkSession)
    // one count pass; strata counts are driver-sized BY ASSUMPTION —
    // source/domain/language cardinality, warned-on past the gate
    val counts = df.groupBy(col(strataCol).as("__s"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.get(0), r.getLong(1)))
    warnStrataCardinality("temperatureSample", strataCol, counts.length)
    // an empty input has no strata and no rates — return empty with the
    // output schema instead of throwing on the max of nothing (upstream
    // gates can legitimately empty a corpus slice)
    if (counts.isEmpty)
      return df.withColumn("keep_rate_ppm", lit(0L)).limit(0)
    // rate_s = (c_s / c_max)^alpha · keepTopPpm (the total cancels in
    // the ratio), ppm-integer per stratum so the compare is exact.
    // alpha = 0.5 — THE standard temperature — takes the integer-sqrt
    // form floor(sqrt(c·ppm²/c_max)): the radicand is an exact integer
    // ≤ ppm² < 2^52 and IEEE sqrt is correctly rounded, so the rate is
    // bit-identical in any engine (oracle-checkable). alpha = 0.25 and
    // 0.75 (r9) extend the exact family via the double integer-sqrt:
    // floor(x^(1/4)) = isqrt(isqrt(floor(x))) (no integer 4th power can
    // sit in (floor(x), x]), with radicands c·ppm⁴/c_max (α=.25) and
    // c³·ppm⁴/c_max³ (α=.75) — both ≤ ppm⁴ since c ≤ c_max, computed in
    // BigInt so the operator itself never overflows at any corpus size.
    // (An oracle replaying the α=.75 form in 128-bit integers needs the
    // intermediate product c³·ppm⁴ < 2^127, i.e. per-stratum counts
    // ≲ 5·10⁴ at ppm = 10⁶ — a replay bound, not an operator bound.)
    // Remaining alphas go through pow(), whose last-ulp freedom is
    // engine-specific — rows-check territory.
    val cMax = counts.map(_._2).max
    val ratePpm: Map[Any, Long] = counts.map { case (s, c) =>
      val ppm = BigInt(keepTopPpm)
      val r =
        if (alpha == 0.5)
          math.floor(math.sqrt(
            (BigInt(c) * keepTopPpm * keepTopPpm / cMax).toDouble)).toLong
        else if (alpha == 0.25)
          isqrt(isqrt(BigInt(c) * ppm.pow(4) / cMax)).toLong
        else if (alpha == 0.75)
          isqrt(isqrt(BigInt(c).pow(3) * ppm.pow(4) / BigInt(cMax).pow(3))).toLong
        else math.floor(
          math.pow(c.toDouble / cMax, alpha) * keepTopPpm + 0.5).toLong
      s -> r
    }.toMap
    // rates ride as a broadcast (stratum → rate) table, NOT a when-chain
    // over the strata: a chain is O(#strata) expression depth, which
    // blows up analysis/codegen for high-cardinality strata (per-domain
    // rebalancing, 10⁵ domains) even though the counts fit the driver.
    // The join is null-safe (<=>): a NULL stratum is a real stratum (it
    // was counted into the rates above), and plain === would silently
    // zero-rate every null-stratum row. Spark extracts <=> as an
    // equi-join key, so this stays a BroadcastHashJoin.
    import scala.jdk.CollectionConverters._
    val sType = df.schema(strataCol).dataType
    val rateRows: java.util.List[org.apache.spark.sql.Row] =
      counts.map { case (s, _) =>
        org.apache.spark.sql.Row(s, ratePpm(s)) }.toSeq.asJava
    val rateDf = df.sparkSession.createDataFrame(rateRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__s", sType),
        org.apache.spark.sql.types.StructField("__rate",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val key = pmod(TextOps.portableHash(
      concat_ws("|", idCols.map(col): _*)), lit(1000000L))
    df.join(broadcast(rateDf), col(strataCol) <=> col("__s"), "left")
      .withColumn("keep_rate_ppm", coalesce(col("__rate"), lit(0L)))
      .drop("__s", "__rate")
      .filter(key < col("keep_rate_ppm"))
  }

  /** Self-trained unigram LM surprisal — the CCNet/Gopher perplexity-
    * filter shape with the LM reduced to unigrams: score each document
    * by its mean token surprisal −ln p(token) under the corpus's own
    * token distribution. Documents full of rare tokens (gibberish, hex
    * dumps) score high; stopword soup scores low — both tails are what
    * perplexity filtering trims.
    *
    * Shape: two token-keyed aggregations (frequencies + total) over one
    * exploded pass, then the per-doc aggregate — the unigram table is
    * vocabulary-sized and broadcasts. Portability: per-token surprisal
    * is fixed-pointed to integer tenth-millinats BEFORE any unordered
    * aggregate (`floor(−ln(p)·10⁴ + 0.5)`), so every sum is exact
    * integer arithmetic and the result hash-matches any engine — the
    * float-accumulation-order rule from the oracle gate.
    *
    * @return (id, n_tok, surprisal_x10k, mean_surprisal_x10k)
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramSurprisalOn(Materialize.spread(df)
      .select(col(idCol).as("id"), toks(col(textCol)).as("ts")))

  /** [[unigramSurprisal]] from a pre-tokenized (id, ts) relation (extra
    * columns ignored) — the single-tokenize share point, so a composite
    * that already holds the corpus token arrays (q_corpus_prep_v3's
    * shared pre-pass) skips the normalize+tokenize here. */
  private[graft] def unigramSurprisalOn(pre: DataFrame): DataFrame = {
    // scanned by freq, total, and the per-doc join: materialize once
    val rel = Materialize.multiScan(
      pre.select(col("id"), explode(col("ts")).as("token")))
    val freq = rel.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot = rel.agg(count(lit(1)).as("n_total"))
    rel.join(broadcast(freq), "token").crossJoin(broadcast(tot))
      .withColumn("nat10k",
        floor(-log(col("cnt").cast("double") / col("n_total")) * 10000 + 0.5)
          .cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("nat10k")).as("surprisal_x10k"))
      .withColumn("mean_surprisal_x10k",
        expr("surprisal_x10k div n_tok"))
  }

  /** The FREEZE step of [[unigramSurprisal]]: the corpus's unigram LM
    * as a (token, nat10k) table — per-token surprisal in the same
    * integer tenth-millinat fixed point, computed with the same
    * arithmetic — for [[surprisalAgainst]] to score OTHER data against.
    * Vocabulary-sized: broadcasts wherever it's used.
    */
  def unigramLm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rel = Materialize.multiScan(Materialize.spread(df)
      .select(explode(toks(col(textCol))).as("token")))
    val freq = rel.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot = rel.agg(count(lit(1)).as("n_total"))
    freq.crossJoin(broadcast(tot))
      .select(col("token"),
        floor(-log(col("cnt").cast("double") / col("n_total")) * 10000 + 0.5)
          .cast("long").as("nat10k"))
  }

  /** [[unigramSurprisal]]'s scoring pass against a FROZEN
    * [[unigramLm]] table — the streaming/decoupled form: the LM is
    * estimated ONCE (on a training corpus) and arriving data is scored
    * doc-locally against the broadcast table, so the score of a
    * document never depends on what it arrives with. On the training
    * corpus itself this reproduces [[unigramSurprisal]] exactly (same
    * fixed point, same integer sums — pinned by spec).
    *
    * @param unseenNat10k surprisal assigned to tokens absent from the
    *                     LM (a frozen vocabulary can't score novel
    *                     tokens; CCNet prices them as rare — default
    *                     ≈ 20 nats, p ≈ 2·10⁻⁹, above any token an
    *                     LM trained on < 10⁸ tokens can produce)
    * @return (id, n_tok, surprisal_x10k, mean_surprisal_x10k) — docs
    *         with ≥ 1 token
    */
  def surprisalAgainst(df: DataFrame, lm: DataFrame, idCol: String,
                       textCol: String,
                       unseenNat10k: Long = 200000L): DataFrame =
    surprisalAgainstOn(Materialize.spread(df)
      .select(col(idCol).as("id"), toks(col(textCol)).as("ts")),
      lm, unseenNat10k)

  /** [[surprisalAgainst]] from a pre-tokenized (id, ts) relation (extra
    * columns ignored) — the single-tokenize share point. */
  private[graft] def surprisalAgainstOn(pre: DataFrame, lm: DataFrame,
                                        unseenNat10k: Long): DataFrame =
    pre.select(col("id"), explode(col("ts")).as("token"))
      .join(broadcast(lm), Seq("token"), "left")
      .withColumn("nat10k", coalesce(col("nat10k"), lit(unseenNat10k)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("nat10k")).as("surprisal_x10k"))
      .withColumn("mean_surprisal_x10k",
        expr("surprisal_x10k div n_tok"))

  /** Self-trained BIGRAM-LM surprisal — one rung up the n-gram ladder
    * from [[unigramSurprisal]] and the closer match to CCNet-style
    * perplexity filtering: score each document by its mean conditional
    * bigram surprisal −ln p(t₂|t₁) under the corpus's own bigram
    * distribution, p(t₂|t₁) = c(t₁,t₂) / Σ_x c(t₁,x). Repetitive
    * boilerplate (predictable continuations) scores LOW; shuffled or
    * gibberish token streams score HIGH even when their unigrams look
    * normal — the signal unigram surprisal can't see.
    *
    * Shape: bigrams come straight off each row's token array (adjacent
    * pairs via a lambda over the bound array attribute — no window, no
    * positional shuffle); the context totals derive from the bigram
    * counts themselves (the [[tfidfTopK]] trick), so there is ONE
    * unbounded aggregation, keyed by the bigram. The scoring join is
    * un-hinted: vocabulary-sized bigram tables broadcast, web-scale
    * ones shuffle on the 2-token key. Fixed-point surprisal before the
    * unordered per-doc sum (the float-accumulation-order rule). Docs
    * with fewer than two tokens have no bigrams and drop out.
    *
    * @return (id, n_bigrams, surprisal_x10k, mean_surprisal_x10k)
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // scanned by the count aggregate and the scoring join: materialize once
    val bg = Materialize.multiScan(Materialize.spread(df)
      .select(col(idCol).as("id"), toks(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("id"), explode(transform(sequence(lit(0), size(col("ts")) - 2),
        i => struct(element_at(col("ts"), i + 1).as("t1"),
          element_at(col("ts"), i + 2).as("t2")))).as("b"))
      .select(col("id"), col("b.t1").as("t1"), col("b.t2").as("t2")))
    val c2 = Materialize.multiScan(
      bg.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy(col("t1")).agg(sum(col("c2")).as("c1"))
    bg.join(c2, Seq("t1", "t2")).join(c1, Seq("t1"))
      .withColumn("nat10k",
        floor(-log(col("c2").cast("double") / col("c1")) * 10000 + 0.5)
          .cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nat10k")).as("surprisal_x10k"))
      .withColumn("mean_surprisal_x10k", expr("surprisal_x10k div n_bigrams"))
  }

  /** Self-trained Stupid Backoff trigram LM surprisal (Brants et al.
    * 2007, "Large Language Models in Machine Translation") — the
    * standard web-scale quality-filter scorer one rung above
    * [[bigramSurprisal]]. Each trigram position (t1 t2 → t3) scores
    *
    *   S(t3|t1,t2) = c(t1t2t3)/c(t1t2)          if c(t1t2t3) ≥ minCount
    *               = 0.4 · c(t2t3)/c(t2)        elif c(t2t3) ≥ minCount
    *               = 0.4² · c(t3)/N             otherwise
    *
    * with Brants' fixed α = 0.4 and NO normalization — scores, not
    * probabilities, which is exactly what makes the formula one
    * unordered pass (no per-context discount sums). Count thresholding
    * (`minCount`, Brants' count cutoff) is what makes backoff actually
    * fire on a self-trained corpus: every observed trigram trivially
    * has c ≥ 1, so without a cutoff level 3 always wins and the ladder
    * is dead code. Denominators always use the FULL counts (contexts
    * are never pruned — they exist for every scored position, so no
    * null paths).
    *
    * Shape (r9 type-factored scoring): the two score tables are built
    * on TYPE relations before any position sees them —
    *
    *   - trigram types at-or-above `minCount` join c(t1,t2) and carry
    *     the level-3 score; that table is CUTOFF-BOUNDED (only repeated
    *     trigrams survive), which is exactly the production dial for
    *     the unique-trigram tail — a hash-random corpus whose trigram
    *     types grow ∝ corpus never materializes them in a join input;
    *   - sub-cutoff positions don't depend on t1 (levels 2/1 read only
    *     (t2,t3) and t3), so the fallback score table is the BIGRAM-
    *     type relation — vocab²-bounded on any corpus — with the level
    *     decided by `c23 ≥ minCount` inside it.
    *
    * Positions then flow through ONE narrow pipeline: left-join the
    * cutoff-bounded table, split on hit/miss, inner-join ONLY the
    * misses against the bigram-bounded table (r10: level-3 hits — the
    * majority class on a natural corpus — no longer pay the fallback
    * shuffle), union, per-doc aggregate. The r8 form instead joined positions through
    * all five raw count tables — five corpus-sized join inputs on the
    * worst case, where this shape's join inputs stay bounded and the
    * only corpus-sized shuffles are the type-count aggregation and the
    * final per-doc aggregation. Per-type surprisal is fixed-pointed to
    * integer tenth-millinats BEFORE the unordered per-doc sum (the
    * float-accumulation-order rule), with the same literal constants
    * and operation order as before — the result is row-identical to
    * the per-position form and hash-matches any engine. Docs with <3
    * tokens drop out; backoff-level tallies ride along (n_tri_hits +
    * n_bi_backoff + n_uni_backoff = n_trigrams) so a scoring
    * regression is visible at the level it happened.
    *
    * @return (id, n_trigrams, n_tri_hits, n_bi_backoff, n_uni_backoff,
    *         surprisal_x10k, mean_surprisal_x10k)
    */
  def backoffSurprisal(df: DataFrame, idCol: String, textCol: String,
                       minCount: Int = 2): DataFrame = {
    // token arrays scanned by all three n-gram explosions: materialize once
    val ds = Materialize.multiScan(Materialize.spread(df)
      .select(col(idCol).as("id"), toks(col(textCol)).as("ts")))
    val uni = Materialize.multiScan(
      ds.select(explode(col("ts")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cu")))
    val tot = uni.agg(sum(col("cu")).as("n_total"))
    val bi = Materialize.multiScan(ds.filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ts")) - 2),
        i => struct(element_at(col("ts"), i + 1).as("a"),
          element_at(col("ts"), i + 2).as("b")))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cb")))
    // per-position trigram relation — scanned by the global type-count
    // aggregate AND the scoring pipeline
    val tg = Materialize.multiScan(ds.filter(size(col("ts")) >= 3)
      .select(col("id"), explode(transform(sequence(lit(0), size(col("ts")) - 3),
        i => struct(element_at(col("ts"), i + 1).as("t1"),
          element_at(col("ts"), i + 2).as("t2"),
          element_at(col("ts"), i + 3).as("t3")))).as("g"))
      .select(col("id"), col("g.t1").as("t1"), col("g.t2").as("t2"),
        col("g.t3").as("t3")))
    // only types at/above the cutoff are ever scored as level 3 — the
    // scored-trigram table is CUTOFF-BOUNDED, not corpus-bounded, even
    // on the unique-trigram worst case; contexts are never pruned, so
    // the c12 join always hits for triHi
    val scoredHi = tg.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("ct"))
      .filter(col("ct") >= minCount)
      .join(bi.select(col("a").as("t1"), col("b").as("t2"),
        col("cb").as("c12")), Seq("t1", "t2"))
      // identical literal constants and operation order in the oracle
      // SQL keep the IEEE value bit-equal cross-engine
      .withColumn("nat3", floor(-log(col("ct").cast("double") / col("c12"))
        * 10000 + 0.5).cast("long"))
      .select(col("t1"), col("t2"), col("t3"), col("nat3"))
    // levels 2/1 read only (t2,t3) and t3: the fallback score table is
    // the bigram-type relation — vocab²-bounded on any corpus
    val scoredLo = bi.select(col("a").as("t2"), col("b").as("t3"),
        col("cb").as("c23"))
      .join(uni.select(col("t").as("t2"), col("cu").as("cu2")), Seq("t2"))
      .join(uni.select(col("t").as("t3"), col("cu").as("cu3")), Seq("t3"))
      .crossJoin(broadcast(tot))
      .withColumn("lvlLo",
        when(col("c23") >= minCount, lit(2)).otherwise(lit(1)))
      .withColumn("natLo", floor(-log(
        when(col("lvlLo") === 2, lit(0.4) * col("c23") / col("cu2"))
          .otherwise(lit(0.16) * col("cu3") / col("n_total")))
        * 10000 + 0.5).cast("long"))
      .select(col("t2"), col("t3"), col("lvlLo"), col("natLo"))
    // positions make ONE pass through the cutoff-bounded level-3 left
    // join; the fallback join then sees ONLY the misses — on a natural
    // corpus the majority class is level-3 hits, which previously paid
    // the (t2,t3) shuffle into the vocab²-bounded fallback join for
    // nothing. The narrow (id,t2,t3,nat3) post-join relation is
    // persisted (spill-safe MEMORY_AND_DISK, same budget class as the
    // already-cached position relation) so the hit/miss branches split
    // one materialization instead of re-running the join per branch.
    val withHi = Materialize.multiScan(
      tg.join(scoredHi, Seq("t1", "t2", "t3"), "left")
        .select(col("id"), col("t2"), col("t3"), col("nat3")))
    val hits = withHi.filter(col("nat3").isNotNull)
      .select(col("id"), lit(3).as("lvl"), col("nat3").as("nat10k"))
    val misses = withHi.filter(col("nat3").isNull)
      .select(col("id"), col("t2"), col("t3"))
      // every (t2,t3) of a trigram IS a corpus bigram, so it always hits
      .join(scoredLo, Seq("t2", "t3"))
      .select(col("id"), col("lvlLo").as("lvl"), col("natLo").as("nat10k"))
    hits.unionByName(misses)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi_backoff"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni_backoff"),
        sum(col("nat10k")).as("surprisal_x10k"))
      .withColumn("mean_surprisal_x10k", expr("surprisal_x10k div n_trigrams"))
  }

  /** SCORE-QUALITY CARD for any (score, binary label) relation — the
    * measurement a classifier GATE needs before its threshold means
    * anything: does the quality score actually rank good documents
    * above bad ones, and where along the score axis does the positive
    * rate move? Two published statistics, both ENGINE-EXACT:
    *
    *  - AUC via the Mann-Whitney rank-sum identity,
    *    AUC = (ΣR⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), with the standard
    *    average-rank tie convention computed EXACTLY in integers: per
    *    distinct score, 2·avgRank = 2·cum − cnt + 1 (cum = running
    *    count in score order), so 2ΣR⁺ is an integer sum and
    *    auc_bp = (2ΣR⁺ − n⁺(n⁺+1))·10⁴ div (2n⁺n⁻). Products are
    *    summed in DECIMAL(38) (the [[DataQuality.ksTest]] overflow
    *    convention — long arithmetic overflows near ~10⁹ rows);
    *    degenerate label sets (no positives or no negatives) report
    *    NULL, not a fake 0.5.
    *  - equal-mass LIFT BINS: nBins quantile bins over
    *    (score, id) — [[Prefix.stratifiedNtile]]'s closed form, no
    *    single-partition ntile sort — each with volume, positives,
    *    positive rate in bp, and the score range. This is the
    *    reliability read for an UNCALIBRATED score (raw logits have no
    *    probability scale, so equal-mass bins over the score order are
    *    the honest axis; a monotone pos_bp profile is what "the
    *    threshold is meaningful" looks like).
    *
    * Shape: one groupBy(score) collapse (distinct-score cardinality),
    * one range-partitioned running count over it, one broadcast-sized
    * AUC row cross-joined onto the bin table; the bin pass is the
    * distributed rank. Nothing buffers values.
    *
    * @param labelCol boolean (or 0/1-castable) column
    * @return one row per bin: (bin, n, n_pos, pos_bp, score_min,
    *         score_max, auc_bp) — auc_bp repeated on every row
    */
  def scoreCard(df: DataFrame, scoreCol: String, labelCol: String,
                idCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = Materialize.multiScan(df.select(col(idCol).as("id"),
      col(scoreCol).cast("long").as("s"),
      col(labelCol).cast("boolean").cast("int").cast("long").as("y")))
    val perScore = base.groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("np"))
    val cum = Prefix.globalRunningSum(perScore, Seq(col("s")),
      col("cnt"), "cum")
    val auc = cum.agg(
        sum(col("np")).as("n_pos"),
        sum(col("cnt") - col("np")).as("n_neg"),
        // cast an OPERAND before multiplying (the ksTest convention):
        // casting only the long product would let a single multi-billion
        // -row score group overflow silently (non-ANSI) first
        sum(col("np").cast("decimal(38,0)") *
          (col("cum") * 2 - col("cnt") + 1)).as("two_rpos"))
      .select(when(col("n_pos") > 0 && col("n_neg") > 0,
        expr("""CAST(((two_rpos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                * 10000) div (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2)
                AS BIGINT)"""))
        .as("auc_bp"))
    // one global stratum (stratifiedNtile requires a non-empty key):
    // a constant column keeps the closed-form ntile fully distributed
    val binned = Prefix.stratifiedNtile(base.withColumn("__all", lit(1)),
      Seq(col("__all")), Seq(col("s"), col("id")), nBins, "bin")
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        min(col("s")).as("score_min"), max(col("s")).as("score_max"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(n_pos * 10000) div n").as("pos_bp"),
        col("score_min"), col("score_max"))
      .crossJoin(broadcast(auc))
  }

  /** DECONTAMINATION MATRIX — every leakage signal side by side, one
    * row per corpus document: the n-gram overlap fraction
    * ([[decontaminateFraction]] — catches the mostly-benchmark page),
    * the benchmark-side containment maximum
    * ([[decontaminateContainment]] — catches the short eval item
    * quoted inside a long page), and the exact shared-span coverage
    * ([[decontaminateSpans]] — catches the verbatim quote both n-gram
    * forms under-report), each with its policy verdict, plus the
    * union verdict and the agreement count. This is the per-doc
    * DISAGREEMENT diagnostic a release gate reads before choosing
    * forms and dials: a doc with cov_bp high but overlap_bp low is
    * exactly the diluted-verbatim-quote shape, and a form that never
    * fires alone on a corpus is a dial miscalibration signal.
    *
    * Shape: three independent benchmark-broadcast passes (each form's
    * own scan — this is the AUDIT tool; the one-tokenize composition
    * point is the admission stage) joined on the doc id; the
    * benchmark side stays broadcast-sized throughout, corpus text
    * never shuffles in any pass.
    *
    * @return (id, overlap_bp, max_cont_bp, cov_bp, drop_fraction,
    *         drop_containment, drop_spans, drop_any, n_forms)
    */
  def decontamMatrix(corpus: DataFrame, benchmark: DataFrame,
                     idCol: String, textCol: String, n: Int = 2,
                     fractionDropBp: Int = 2500,
                     containmentDropBp: Int = 8000,
                     winBytes: Int = 40, anchorMod: Int = 8,
                     spanDropBp: Int = 2500): DataFrame = {
    // the two n-gram forms consume the SAME corpus shingle relation:
    // explode+hash once, share the cache (one corpus tokenize pass
    // instead of two — r19); the span form keeps its own (byte-window)
    // scan by nature
    val pre = Materialize.multiScan(
      Dedup.explodedShingles(corpus, idCol, textCol, n)
        .select(col("id"), col("m"),
          TextOps.portableHash(col("shingle")).as("h")))
    val ids = Materialize.multiScan(corpus.select(col(idCol).as("id")))
    val f = decontaminateFractionOn(pre, ids, benchmark, idCol, textCol, n,
        fractionDropBp)
      .select(col("id"), col("overlap_bp"),
        col("drop").as("drop_fraction"))
    val c = decontaminateContainmentOn(pre.select(col("id"), col("h")), ids,
        benchmark, idCol, textCol, n, containmentDropBp)
      .select(col("id"), col("max_cont_bp"),
        col("drop").as("drop_containment"))
    val s = decontaminateSpans(corpus, benchmark, idCol, textCol, winBytes,
        anchorMod, spanDropBp)
      .select(col("id"), col("cov_bp"), col("drop").as("drop_spans"))
    f.join(c, Seq("id")).join(s, Seq("id"))
      .select(col("id"), col("overlap_bp"), col("max_cont_bp"),
        col("cov_bp"), col("drop_fraction"), col("drop_containment"),
        col("drop_spans"),
        (col("drop_fraction") || col("drop_containment") ||
          col("drop_spans")).as("drop_any"),
        (col("drop_fraction").cast("int") +
          col("drop_containment").cast("int") +
          col("drop_spans").cast("int")).cast("long").as("n_forms"))
  }

  /** THRESHOLD-SWEEP companion of [[scoreCard]]: for each equal-mass
    * bin b, the operating point of the policy "keep every document
    * scoring in bins ≥ b" — kept volume, kept positives, precision and
    * recall in exact basis points. This is the table a gate threshold
    * is actually PICKED from (precision = how clean the kept corpus
    * is, recall = how much of the good material survives); score_min
    * is the concrete logit cut the chosen row corresponds to.
    *
    * Shape: the same distributed closed-form ntile as [[scoreCard]],
    * then the suffix sums come from a self-join of the BIN table
    * (nBins rows, broadcast — deliberately NOT an unkeyed window,
    * which the whole-surface plan audit would rightly flag) and the
    * one-row totals cross-join. A label set with no positives reports
    * NULL recall (nothing to recall — the shared no-fake-zero
    * convention).
    *
    * @return one row per bin: (bin, score_min, n_kept, n_pos_kept,
    *         precision_bp, recall_bp)
    */
  def scoreThresholds(df: DataFrame, scoreCol: String, labelCol: String,
                      idCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = df.select(col(idCol).as("id"),
      col(scoreCol).cast("long").as("s"),
      col(labelCol).cast("boolean").cast("int").cast("long").as("y"))
    val binned = Prefix.stratifiedNtile(base.withColumn("__all", lit(1)),
      Seq(col("__all")), Seq(col("s"), col("id")), nBins, "bin")
    val bins = Materialize.multiScan(binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"),
        min(col("s")).as("score_min")))
    val totals = bins.agg(sum(col("np")).as("total_pos"))
    bins.as("t")
      .join(broadcast(bins.select(col("bin").as("ubin"), col("n").as("un"),
        col("np").as("unp"))), col("ubin") >= col("bin"))
      .groupBy(col("bin"), col("score_min"))
      .agg(sum(col("un")).as("n_kept"), sum(col("unp")).as("n_pos_kept"))
      .crossJoin(broadcast(totals))
      .select(col("bin"), col("score_min"), col("n_kept"), col("n_pos_kept"),
        expr("(n_pos_kept * 10000) div n_kept").as("precision_bp"),
        when(col("total_pos") > 0,
          expr("(n_pos_kept * 10000) div total_pos")).as("recall_bp"))
  }

  /** CALIBRATION companion of [[scoreCard]]/[[scoreThresholds]] — the
    * reliability read a gate needs once its score CLAIMS a probability
    * scale: [[scoreCard]] measures ranking (AUC) and [[scoreThresholds]]
    * the operating points, but a score used as "this document is good
    * with probability p" must also be RIGHT about p. Per equal-mass bin
    * over the predicted rate (integer basis points, 0..10000): volume,
    * positives, the OBSERVED positive rate, the mean IMPLIED rate, and
    * their absolute gap — the reliability-diagram table — plus the
    * pooled expected calibration error ECE = Σ n_b·|obs_b − pred_b| / N
    * (Naeini et al. 2015's equal-mass form), repeated on every row the
    * way [[scoreCard]] carries auc_bp. A monotone pos_bp profile with
    * small gaps is what "the score means what it says" looks like; a
    * high-AUC score with large gaps ranks well but lies about rates —
    * exactly the case where a threshold picked by implied rate admits
    * garbage.
    *
    * Shape: the same distributed closed-form ntile as [[scoreCard]]
    * (one rank pass, no single-partition sort, nothing buffers values),
    * one nBins-row aggregate, and the one-row pooled ECE cross-joined
    * back broadcast. All integer: obs/pred/gap are exact bp, the ECE
    * numerator Σ n·gap ≤ N·10⁴ stays far inside long range below ~10¹⁴
    * rows (the per-operand bound, documented rather than DECIMAL'd —
    * the factors are bp-bounded, unlike the rank products
    * [[scoreCard]] must DECIMAL).
    *
    * @param predBpCol predicted positive rate in basis points (0..10000)
    * @param labelCol  boolean (or 0/1-castable) column
    * @return one row per bin: (bin, n, n_pos, obs_bp, pred_bp,
    *         pred_min, pred_max, gap_bp, ece_bp) — ece_bp repeated
    */
  def scoreCalibration(df: DataFrame, predBpCol: String, labelCol: String,
                       idCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = df.select(col(idCol).as("id"),
      col(predBpCol).cast("long").as("p"),
      col(labelCol).cast("boolean").cast("int").cast("long").as("y"))
    val binned = Prefix.stratifiedNtile(base.withColumn("__all", lit(1)),
      Seq(col("__all")), Seq(col("p"), col("id")), nBins, "bin")
    val bins = Materialize.multiScan(binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p")).as("psum"),
        min(col("p")).as("pred_min"), max(col("p")).as("pred_max"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(n_pos * 10000) div n").as("obs_bp"),
        expr("psum div n").as("pred_bp"),
        col("pred_min"), col("pred_max"))
      .withColumn("gap_bp", abs(col("obs_bp") - col("pred_bp"))))
    val ece = bins.agg(
      expr("sum(n * gap_bp) div sum(n)").cast("long").as("ece_bp"))
    bins.crossJoin(broadcast(ece))
  }

  /** fastText-style linear quality classifier (Joulin et al. 2016 "Bag
    * of Tricks for Efficient Text Classification" — the standard
    * quality-filter scorer of web-scale curation pipelines, cf. GPT-3 /
    * PaLM data work): features are hashed word unigrams + bigrams
    * (fastText `wordNgrams=2`) bucketed into `nBuckets`, the score is
    * the dot product of the feature counts with a FIXED weight table.
    * Weights are integers and the logit is their exact integer sum, so
    * the score — and the keep verdict — hash-matches any engine: no
    * float dot product, no sigmoid (monotone, so thresholding the logit
    * IS thresholding the probability).
    *
    * The weight table is training-produced in real life (driver-sized:
    * nBuckets rows) and rides as a broadcast join — NOT a per-bucket
    * expression — so the plan is O(1) in table size. Buckets absent
    * from the table weigh 0 (left join + coalesce). The keep verdict
    * compares the MEAN weight against a milli-unit threshold by integer
    * cross-multiply (`logit·1000 ≥ thrMilli·n_features`), fastText's
    * mean-of-feature-scores shape without a division. Docs with no
    * tokens have no features and drop out (same contract as the LM
    * scorers).
    *
    * @param weights (bucket: Long, w: Long) table, nBuckets rows max
    * @return (id, n_features, logit, keep)
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   weights: DataFrame, nBuckets: Int = 1024,
                   thrMilli: Long = 0L): DataFrame =
    qualityScoreFeats(hashedFeatures(df, idCol, textCol, nBuckets),
      weights, thrMilli)

  /** [[qualityScore]] over an already-built (id, bucket) feature
    * relation — the share point for a single-tokenize admission stage
    * ([[IngestLadder.frozenGates]]): quality and DSIR read ONE
    * cached feature relation instead of re-hashing the batch each.
    */
  private[graft] def qualityScoreFeats(feats: DataFrame, weights: DataFrame,
                                       thrMilli: Long): DataFrame =
    feats.join(broadcast(weights), Seq("bucket"), "left")
      .withColumn("w", coalesce(col("w"), lit(0L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_features"), sum(col("w")).as("logit"))
      .withColumn("keep",
        col("logit") * 1000 >= lit(thrMilli) * col("n_features"))

  /** (id, bucket) hashed bag-of-features relation shared by the linear
    * scorers ([[qualityScore]], [[dsirScore]]): word unigrams +
    * space-joined bigrams (fastText `wordNgrams=2`), portable-hashed
    * into `nBuckets`. One explode; `sequence()` is only safe when
    * size ≥ 2 (start > stop flips its step sign). Docs with no tokens
    * produce no rows.
    */
  private def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                             nBuckets: Int): DataFrame =
    hashedFeaturesOn(Materialize.spread(df)
      .select(col(idCol).as("id"), toks(col(textCol)).as("ts")), nBuckets)

  /** [[hashedFeatures]] from a pre-tokenized (id, ts) relation (extra
    * columns ignored) — lets a caller that already holds the token
    * arrays skip the tokenize. */
  private[graft] def hashedFeaturesOn(pre: DataFrame,
                                      nBuckets: Int): DataFrame =
    pre.select(col("id"), explode(concat(col("ts"),
        when(size(col("ts")) >= 2,
          transform(sequence(lit(0), size(col("ts")) - 2),
            i => concat_ws(" ", element_at(col("ts"), i + 1),
              element_at(col("ts"), i + 2))))
          .otherwise(array()))).as("f"))
      .withColumn("bucket",
        pmod(TextOps.portableHash(col("f")), lit(nBuckets.toLong)))

  /** LEARNED language identification, training half — the published
    * replacement for stopword/script heuristics (CCNet gates on a
    * fastText lid model; the heuristic [[TextOps.langIdHeuristic]]
    * stays as the zero-table fallback): a hashed char-n-gram naive
    * Bayes. Features are character n-grams of the normalized text
    * ([[TextOps.charNgrams]] — char-level, so the model SEES script
    * identity through the bytes themselves where the word-level
    * heuristic needs hand-listed ranges), portable-hashed into
    * `nBuckets`; per (bucket, lang) the weight is the add-1-smoothed
    * log-likelihood floor(ln((c+1)/(N_lang+nBuckets))·10⁴ + 0.5) in
    * integer tenth-millinats — the [[dsirScore]] fixed-point
    * discipline: every ln argument is a ratio of exact integers, so
    * scores replay bit-identically in any engine.
    *
    * The model table is DENSE over observed-buckets × languages
    * (≤ nBuckets·L rows — broadcast-sized like the [[qualityScore]]
    * weight table) plus two reserved-bucket row families:
    * bucket = -1 carries each language's unseen-feature default
    * ln(1/(N_lang+nBuckets)), bucket = -2 its log-prior
    * ln(n_docs_lang/n_docs). Training is two feature aggregates plus
    * language-cardinality joins — no driver state, any corpus size.
    *
    * @return (bucket, lang, w) — frozen model for [[langIdPredict]]
    */
  def langIdTrain(labeled: DataFrame, textCol: String, langCol: String,
                  n: Int = 3, nBuckets: Int = 4096): DataFrame = {
    require(n >= 1 && nBuckets >= 2, s"bad langIdTrain dials: n=$n, nBuckets=$nBuckets")
    graft.functions.VectorFunctions.register(labeled.sparkSession)
    // feats feeds TWO aggregates (counts, ltot): materialize the hashed
    // relation once or the char-n-gram explode over the corpus runs
    // per consumer (r19)
    val feats = Materialize.multiScan(Materialize.spread(labeled)
      .select(col(langCol).as("lang"),
        explode(TextOps.charNgrams(col(textCol), n)).as("g"))
      .select(col("lang"),
        pmod(TextOps.portableHash(col("g")), lit(nBuckets.toLong)).as("bucket")))
    val counts = feats.groupBy(col("bucket"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val ltot = feats.groupBy(col("lang")).agg(count(lit(1)).as("nfeat"))
    val obs = counts.select(col("bucket")).distinct()
    val dense = obs.crossJoin(broadcast(ltot))
      .join(counts, Seq("bucket", "lang"), "left")
      .select(col("bucket"), col("lang"),
        floor(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("nfeat") + lit(nBuckets)).cast("double")) * 10000 + 0.5)
          .cast("long").as("w"))
    val w0 = ltot.select(lit(-1L).as("bucket"), col("lang"),
      floor(log(lit(1.0) /
        (col("nfeat") + lit(nBuckets)).cast("double")) * 10000 + 0.5)
        .cast("long").as("w"))
    val docCounts = labeled.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("ndoc"))
    val pri = docCounts
      .crossJoin(broadcast(docCounts.agg(sum(col("ndoc")).as("ntot"))))
      .select(lit(-2L).as("bucket"), col("lang"),
        floor(log(col("ndoc").cast("double") / col("ntot").cast("double"))
          * 10000 + 0.5).cast("long").as("w"))
    dense.unionByName(w0).unionByName(pri)
  }

  /** LEARNED language identification, inference half: score every
    * document against every language in the frozen [[langIdTrain]]
    * model and keep the argmax (ties break to the lexicographically
    * smallest language — deterministic, oracle-replayable). Features
    * the model never saw score each language's reserved unseen default;
    * the log-prior is added once per language. Documents shorter than
    * n characters have no features and are absent from the output (the
    * scorer-family contract).
    *
    * Scale shape: one stateless char-n-gram explode over the corpus,
    * one BROADCAST join against the ≤ nBuckets·L model, one keyed
    * aggregation on (doc, lang), one keyed window for the argmax — no
    * corpus shuffle wider than (doc, lang) rows, L-bounded fan-out.
    *
    * @return (id, pred_lang, logit, n_features)
    */
  def langIdPredict(df: DataFrame, idCol: String, textCol: String,
                    model: DataFrame, n: Int = 3,
                    nBuckets: Int = 4096): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    // feats feeds TWO branches (matched join, unmatched anti-join):
    // materialize once or the explode+hash runs per branch (r19)
    val feats = Materialize.multiScan(Materialize.spread(df)
      .select(col(idCol).as("id"),
        explode(TextOps.charNgrams(col(textCol), n)).as("g"))
      .select(col("id"),
        pmod(TextOps.portableHash(col("g")), lit(nBuckets.toLong)).as("bucket")))
    // the model is read by FOUR downstream branches (matched join,
    // unmatched anti-join probe, unseen defaults, priors): materialize
    // it once — when the caller passes a freshly-TRAINED model (the
    // gate query's shape, vs the production frozen-parquet read), an
    // uncached pass would re-run the training aggregates over the
    // corpus per branch (measured: 9.4 s → 2.5 s warm on the gate row)
    val m = Materialize.multiScan(model)
    val obs = m.filter(col("bucket") >= 0)
    val w0 = m.filter(col("bucket") === -1).select(col("lang"), col("w"))
    val pri = m.filter(col("bucket") === -2)
      .select(col("lang"), col("w").as("wp"))
    val matched = feats.join(broadcast(obs), Seq("bucket"))
      .select(col("id"), col("lang"), col("w"))
    val unmatched = feats
      .join(broadcast(obs.select(col("bucket")).distinct()),
        Seq("bucket"), "left_anti")
      .crossJoin(broadcast(w0))
      .select(col("id"), col("lang"), col("w"))
    val scores = matched.unionByName(unmatched)
      .groupBy(col("id"), col("lang"))
      .agg(count(lit(1)).as("nf"), sum(col("w")).as("s"))
      .join(broadcast(pri), Seq("lang"))
      .select(col("id"), col("lang"), (col("s") + col("wp")).as("logit"),
        col("nf"))
    val wnd = Window.partitionBy(col("id"))
      .orderBy(col("logit").desc, col("lang").asc)
    scores.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") === 1)
      .select(col("id"), col("lang").as("pred_lang"), col("logit"),
        col("nf").as("n_features"))
  }

  /** DSIR importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw
    * document by how much more likely its hashed n-gram bag is under
    * the TARGET distribution than under the RAW distribution,
    *
    *   log w(x) = Σ_features  ln p̂_tgt(b) − ln p̂_raw(b)
    *
    * with add-1-smoothed per-bucket estimates p̂(b) = (c_b+1)/(N+B).
    * The per-bucket log-ratio is fixed-pointed to integer
    * tenth-millinats ONCE (single-`ln` form
    * `ln(((c_t+1)·(N_r+B)) / ((c_r+1)·(N_t+B)))` — every operand an
    * exact integer in double range, so the value is bit-identical in
    * any engine), and a document's score is an exact integer SUM of
    * table lookups — the float-accumulation-order rule again. Selection
    * is then `ORDER BY score DESC` + limit in the caller (deterministic
    * resampling; DSIR's Gumbel-noise variant = add Gumbel keys from the
    * portable hash, [[weightedSample]]'s machinery).
    *
    * Scale shape: two feature-count aggregations bounded by `nBuckets`
    * (NOT vocabulary — the hash folds the tail), one broadcast of the
    * nBuckets-row log-ratio table, one batch-sized sum. The target side
    * is typically tiny (a quality reference corpus) and never joins
    * row-to-row with the raw corpus.
    *
    * @return (id, n_features, dsir_x10k) for raw docs with ≥1 token
    */
  def dsirScore(raw: DataFrame, target: DataFrame, idCol: String,
                textCol: String, nBuckets: Int = 1024): DataFrame =
    dsirScoreOn(
      Materialize.spread(raw)
        .select(col(idCol).as("id"), toks(col(textCol)).as("ts")),
      Materialize.spread(target)
        .select(col(idCol).as("id"), toks(col(textCol)).as("ts")),
      nBuckets)

  /** [[dsirScore]] from pre-tokenized (id, ts) relations (extra columns
    * ignored) — the single-tokenize share point for composites that
    * already hold the token arrays. The persisted raw-feature relation
    * keeps only (id, bucket): the feature string never outlives its
    * hash, so persisting it would double the cache for nothing. */
  private[graft] def dsirScoreOn(rawPre: DataFrame, tgtPre: DataFrame,
                                 nBuckets: Int): DataFrame = {
    val rawFeats = Materialize.multiScan(
      hashedFeaturesOn(rawPre, nBuckets).select(col("id"), col("bucket")))
    scoreAgainstLambda(rawFeats,
      trainDsirLambdaOn(rawFeats, hashedFeaturesOn(tgtPre, nBuckets),
        nBuckets))
  }

  /** The λ (per-bucket fixed-point log-ratio) table of [[dsirScore]],
    * exposed so an ONLINE admission stage can train once and score
    * every arriving batch against the FROZEN table ([[scoreAgainstLambda]])
    * — per-tick cost stays batch-sized, estimation state stays zero.
    * `rawFeats` is the hashed-feature relation of the training raw
    * corpus (the shape [[dsirScore]] builds internally).
    */
  private def trainDsirLambdaOn(rawFeats: DataFrame, tgtFeats: DataFrame,
                                nBuckets: Int): DataFrame = {
    // ONE pass per side: the totals are exact integer sums of the
    // per-bucket counts (≤ nBuckets rows each, persisted), where the
    // separate count() aggregates would re-scan — and for the target
    // side re-TOKENIZE — the feature relation a second time
    val cRaw = Materialize.multiScan(
      rawFeats.groupBy(col("bucket")).agg(count(lit(1)).as("cr")))
    val cTgt = Materialize.multiScan(
      tgtFeats.groupBy(col("bucket")).agg(count(lit(1)).as("ct")))
    val nRaw = cRaw.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"))
    val nTgt = cTgt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val b = lit(nBuckets.toLong)
    // the λ table covers every bucket (absent buckets count 0 and still
    // carry the smoothed prior ratio)
    rawFeats.sparkSession.range(nBuckets).select(col("id").as("bucket"))
      .join(cRaw, Seq("bucket"), "left").join(cTgt, Seq("bucket"), "left")
      .crossJoin(broadcast(nRaw)).crossJoin(broadcast(nTgt))
      .select(col("bucket"), floor(log(
        ((coalesce(col("ct"), lit(0L)) + 1.0) * (col("nr") + b)) /
          ((coalesce(col("cr"), lit(0L)) + 1.0) * (col("nt") + b)))
        * 10000 + 0.5).cast("long").as("lam"))
  }

  /** Train [[dsirScore]]'s λ table from a (raw, target) corpus pair —
    * the freeze step of a streaming admission loop.
    * @return (bucket, lam) — nBuckets rows, broadcastable anywhere
    */
  def dsirLambda(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, nBuckets: Int = 1024): DataFrame =
    trainDsirLambdaOn(
      hashedFeatures(raw, idCol, textCol, nBuckets)
        .select(col("id"), col("bucket")),
      hashedFeatures(target, idCol, textCol, nBuckets), nBuckets)

  /** Score documents against a FROZEN λ table (same contract as
    * [[dsirScore]]'s output; the table broadcasts, so the plan is O(1)
    * in table size and the input never shuffles for the lookup).
    * @return (id, n_features, dsir_x10k) for docs with ≥1 token
    */
  def dsirScoreAgainst(df: DataFrame, lambda: DataFrame, idCol: String,
                       textCol: String, nBuckets: Int = 1024): DataFrame =
    scoreAgainstLambda(hashedFeatures(df, idCol, textCol, nBuckets), lambda)

  private[graft] def scoreAgainstLambda(feats: DataFrame,
                                        lambda: DataFrame): DataFrame =
    feats.join(broadcast(lambda), Seq("bucket"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_features"), sum(col("lam")).as("dsir_x10k"))

  /** DSIR's actual selection mode: GUMBEL-TOP-K resampling — taking the
    * k largest `log w(x) + Gumbel_x` draws a sample WITHOUT replacement
    * with P(x) ∝ w(x) (the Gumbel-max trick), which is the paper's
    * importance resampling rather than deterministic top-scores (that
    * cut would take near-duplicates of the single most target-like
    * mode). The Gumbel noise derives from the portable hash of the id
    * ([[weightedSample]]'s u = (h+1)/2^60 convention — deterministic,
    * seed- and partitioning-independent, reproducible in any engine)
    * and is fixed-pointed to the SAME tenth-millinat scale as the
    * score, so the sort key is an exact integer sum. One stateless
    * projection on top of [[dsirScore]]; top-k is a distributed
    * TakeOrdered.
    *
    * @return the k resampled rows: (id, n_features, dsir_x10k, key_x10k)
    */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, k: Int,
                   nBuckets: Int = 1024): DataFrame =
    dsirResampleOn(
      Materialize.spread(raw)
        .select(col(idCol).as("id"), toks(col(textCol)).as("ts")),
      Materialize.spread(target)
        .select(col(idCol).as("id"), toks(col(textCol)).as("ts")),
      k, nBuckets)

  /** [[dsirResample]] from pre-tokenized (id, ts) relations — the
    * single-tokenize share point ([[dsirScoreOn]]'s contract). */
  private[graft] def dsirResampleOn(rawPre: DataFrame, tgtPre: DataFrame,
                                    k: Int, nBuckets: Int): DataFrame = {
    val u = (TextOps.portableHash(col("id").cast("string")).cast("double")
      + 1.0) / lit((1L << 60).toDouble)
    dsirScoreOn(rawPre, tgtPre, nBuckets)
      .withColumn("key_x10k", col("dsir_x10k")
        + floor(-log(-log(u)) * 10000 + 0.5).cast("long"))
      .orderBy(col("key_x10k").desc, col("id")).limit(k)
  }

  /** The Gopher rule battery (Rae et al. 2021, table A1) — the canonical
    * heuristic quality filter applied before any model-based scoring:
    * word-count window, mean-word-length window, symbol-to-word ratio,
    * alphabetic-word ratio, and the ≥2-distinct-stopwords fluency check.
    * All ratios are integer basis points over the NORMALIZED text
    * (single-spaced lowercase — so `mean·100 = (chars − (n−1)) · 100
    * div n` is exact), making every rule and the final verdict
    * hash-portable. One stateless projection; no shuffle, no UDFs.
    *
    * (The reference thresholds for the line-shape rules — bullet /
    * ellipsis line ratios — degenerate on single-line corpora and are
    * intentionally omitted; the five implemented rules are the
    * document-shape core.)
    *
    * @return (id, n_words, mean_len_x100, symbol_bp, alpha_bp,
    *         n_stop_distinct, r_wordcount, r_meanlen, r_symbol,
    *         r_alpha, r_stopwords, keep)
    */
  /** Rae et al.'s own 8-word fluency list — [[gopherRules]]'s default;
    * pass a corpus-appropriate list for non-English / synthetic corpora
    * (the rule is "documents devoid of common function words are not
    * prose", and what counts as a function word is corpus-relative). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  stopwords: Seq[String] = GopherStopwords): DataFrame =
    gopherRulesOn(df.select(col(idCol).as("id"),
        TextOps.normalized(col(textCol)).as("t"))
      .withColumn("ts", TextOps.tokens(col("t"))),
      minWords, maxWords, stopwords)

  /** [[gopherRules]] from a pre-normalized/tokenized (id, t, ts)
    * relation (extra columns pass through) — the single-tokenize share
    * point for the admission stage. */
  private[graft] def gopherRulesOn(pre: DataFrame,
                  minWords: Int, maxWords: Int,
                  stopwords: Seq[String]): DataFrame = {
    val gopherStops = stopwords
    pre
      .withColumn("n_words", size(col("ts")).cast("long"))
      .withColumn("mean_len_x100", when(col("n_words") > 0,
        expr("((length(t) - (n_words - 1)) * 100) div n_words"))
        .otherwise(lit(0L)))
      .withColumn("symbol_bp", when(col("n_words") > 0,
        expr("""(((length(t) - length(replace(t, '#', '')))
                 + (length(t) - length(replace(t, '...', ''))) div 3)
                * 10000) div n_words""")).otherwise(lit(0L)))
      .withColumn("__n_alpha",
        size(filter(col("ts"), x => x.rlike("[a-z]"))).cast("long"))
      .withColumn("alpha_bp", when(col("n_words") > 0,
        expr("(__n_alpha * 10000) div n_words")).otherwise(lit(0L)))
      .withColumn("n_stop_distinct",
        size(array_intersect(array_distinct(col("ts")),
          typedlit(gopherStops))).cast("long"))
      .withColumn("r_wordcount",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_meanlen",
        col("mean_len_x100") >= 300 && col("mean_len_x100") <= 1000)
      .withColumn("r_symbol", col("symbol_bp") <= 1000)
      .withColumn("r_alpha", col("alpha_bp") >= 8000)
      .withColumn("r_stopwords", col("n_stop_distinct") >= 2)
      .withColumn("keep", col("r_wordcount") && col("r_meanlen")
        && col("r_symbol") && col("r_alpha") && col("r_stopwords"))
      .drop("t", "ts", "__n_alpha")
  }

  /** The C4 cleaning battery (Raffel et al. 2020, §2.2) — the OTHER
    * published pre-filter next to Gopher's, LINE-granular where
    * Gopher's is document-statistical:
    *
    *  line level (a kept page is REASSEMBLED from its surviving lines):
    *   - keep only lines ending in terminal punctuation (. ! ? ");
    *   - keep only lines with ≥ `minWordsPerLine` words (paper: 5);
    *   - drop lines containing the word "javascript" (case-insensitive);
    *  page level (brace, lorem-ipsum, and bad-word verdicts all on the
    *  RAW page, before line filtering — Raffel et al. drop a page when
    *  the trigger appears anywhere on it, so a phrase sitting on a line
    *  the line rules discard still condemns the page; only the sentence
    *  count is over the surviving text by construction):
    *   - drop pages containing '{' (code);
    *   - drop pages containing "lorem ipsum";
    *   - drop pages whose surviving text has < `minSentences` terminal
    *     punctuation marks (paper: 3 sentences);
    *   - drop pages containing any of `badWords` at word boundaries
    *     (the paper's blocklist; parameterized — pass your list. Words
    *     are lowercased and regex-quoted here, so tokens with
    *     metacharacters ("c++", ".net") never corrupt the alternation —
    *     though a token EDGED by non-word chars matches only where a
    *     `\b` boundary exists, the inherent word-boundary semantics).
    *
    * The paper's remaining step — three-sentence-span dedup — is the
    * passage family ([[graft.ext.Dedup.passageDedup]] /
    * `passageRewrite`), already first-class.
    *
    * Everything is a stateless per-document projection (split → lambda
    * filter → reassemble → integer counts + digest): no shuffle, no
    * state, scan-parallel — the same 100 TB posture as [[gopherRules]].
    * `clean_fp` (md5 of the reassembled text) pins every byte of the
    * line surgery, so the oracle checks the REWRITE, not just the
    * verdict.
    *
    * @return (id, n_lines, n_kept_lines, n_sentences, keep, clean_len,
    *         clean_fp)
    */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
              badWords: Seq[String] = Seq.empty,
              minWordsPerLine: Int = 5,
              minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(TextOps.tokens(l)) >= minWordsPerLine &&
        !contains(lower(l), lit("javascript")))
    val badRe = "\\b(" + badWords.map(w =>
      java.util.regex.Pattern.quote(w.toLowerCase)).mkString("|") + ")\\b"
    df.select(col(idCol).as("id"), col(textCol).as("__raw"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        array_join(kept, "\n").as("__clean"))
      .select(col("id"), col("n_lines"), col("n_kept_lines"),
        col("__raw"), col("__clean"),
        size(regexp_extract_all(col("__clean"), lit("[.!?]"), lit(0)))
          .cast("long").as("n_sentences"))
      .select(col("id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"),
        (col("n_sentences") >= minSentences &&
          !contains(col("__raw"), lit("{")) &&
          !contains(lower(col("__raw")), lit("lorem ipsum")) &&
          (if (badWords.isEmpty) lit(true)
           else !lower(col("__raw")).rlike(badRe))).as("keep"),
        length(col("__clean")).cast("long").as("clean_len"),
        md5(col("__clean")).as("clean_fp"))
  }

  /** Line key for CROSS-DOCUMENT line dedup — CCNet's normalization
    * (Wenzek 2020 §3.1: lowercase, strip digits) plus trim, so date
    * stamps and counters don't hide otherwise-identical boilerplate.
    * Lines that normalize to EMPTY (blank lines, digit-only rules) are
    * structural, not content: both dedup forms exempt them, else every
    * blank line in the corpus would be "a duplicate of the first". */
  private def lineKey(l: Column): Column =
    trim(regexp_replace(lower(l), "[0-9]", ""))

  private def lineRebuild(df: DataFrame, idCol: String, textCol: String,
                          ex: DataFrame, drops: DataFrame): DataFrame = {
    val kept = ex.join(drops, Seq("id", "idx"), "left_anti")
    val rebuilt = kept.groupBy(col("id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("line")))),
        s => s("line")), "\n").as("text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"), col(textCol).isNull.as("__null"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("text"),
        when(col("__null"), lit(0L)).otherwise(col("n_lines"))
          .as("n_lines"),
        when(col("__null"), lit(0L))
          .otherwise(col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  // the cut key is (`k`, `klen`) = (xxhash64, length) of the normalized
  // line — ~96 key bits. The REWRITE operators below delete content
  // irreversibly on key equality, and at the documented 100 TB scale
  // (10¹¹⁺ lines) 64-bit birthday collisions are EXPECTED, each
  // silently deleting a distinct line and diverging from the DuckDB
  // oracle (which groups by the string itself); colliding hashes almost
  // never collide in length too, pushing that probability to
  // negligible. Probe-only paths elsewhere keep the bare-24-byte
  // convention (a probe false positive falls through an exact join; a
  // rewrite has no such net). `struct_` flags the structural
  // (normalize-to-empty) exemption.
  private[graft] def lineExplode(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("__norm", lineKey(col("line")))
      .select(col("id"), col("idx"), col("line"),
        xxhash64(col("__norm")).as("k"),
        length(col("__norm")).as("klen"),
        (col("__norm") === "").as("struct_"))

  /** CROSS-DOCUMENT line dedup, CCNet form (Wenzek 2020 §3.1): every
    * line whose normalized key ([[lineKey]]) already occurred anywhere
    * in the corpus — earlier doc, or earlier line of the same doc — is
    * CUT; the globally first occurrence (minimum (doc id, line index))
    * survives. This is the published first step of the CCNet pipeline:
    * run before any quality scoring, it removes the nav menus, cookie
    * banners and footers that repeat across a site, which both shrinks
    * the corpus and UNMASKS near-duplicate articles the boilerplate
    * was hiding. Structural lines (normalizing to empty) always pass.
    *
    * Per doc: the rebuilt text (surviving lines in original order),
    * original line count, and lines dropped. NULL-text docs pass
    * through with NULL text and zero counts.
    *
    * At 100 TB: the drop DECISION shuffles only (id, idx, hash, len) —
    * ~32 bytes a line, never text — through one keyed window on the
    * widened (hash, length) cut key (see [[lineExplode]]: rewrites
    * delete content, so the key carries ~96 bits against 10¹¹-line
    * birthday collisions; first-arrival, the dedup-ladder convention);
    * line text moves
    * exactly twice, in the verdict anti-join and the by-doc
    * reassembly, which is the floor for any rewrite. The key window's
    * worst skew IS the boilerplate line itself — a nav row repeated in
    * 10⁸ docs lands one partition — so corpora with pathological
    * repetition should run [[lineDedupBoilerplate]] (an aggregate, no
    * per-occurrence window) first and this form on the remainder.
    */
  def lineDedupFirst(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val ex = Materialize.multiScan(lineExplode(df, idCol, textCol))
    val drops = ex.filter(!col("struct_"))
      .select(col("id"), col("idx"), col("k"), col("klen"))
      .withColumn("rn", row_number().over(
        w.partitionBy(col("k"), col("klen"))
          .orderBy(col("id"), col("idx"))))
      .filter(col("rn") > 1).select(col("id"), col("idx"))
    lineRebuild(df, idCol, textCol, ex, drops)
  }

  /** CROSS-DOCUMENT boilerplate-line removal: a line whose normalized
    * key occurs in MORE THAN `maxDocFreq` distinct documents is cut
    * from EVERY document — no canonical occurrence spared (a nav menu
    * has no content value anywhere; contrast [[lineDedupFirst]], which
    * keeps one). The document-frequency threshold is the same dial the
    * shingle probes use (`maxDocFreq`): corpus-wide repetition IS the
    * boilerplate signal.
    *
    * At 100 TB this is the skew-safe form: the decision is one keyed
    * AGGREGATE over (key, doc) pairs — partial map-side collapse, no
    * per-occurrence window — then a semi-join of occurrences against
    * the hot-key set (tiny: keys above the threshold), so the nav row
    * in 10⁸ docs costs a count, not a 10⁸-row partition sort.
    */
  def lineDedupBoilerplate(df: DataFrame, idCol: String, textCol: String,
                           maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    val ex = Materialize.multiScan(lineExplode(df, idCol, textCol))
    val hot = ex.filter(!col("struct_"))
      .select(col("k"), col("klen"), col("id")).distinct()
      .groupBy(col("k"), col("klen")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("k"), col("klen"))
    val drops = ex.filter(!col("struct_"))
      .join(hot, Seq("k", "klen"), "left_semi")
      .select(col("id"), col("idx"))
    lineRebuild(df, idCol, textCol, ex, drops)
  }

  /** The OTHER half of Rae et al. 2021's table A1 — the repetition
    * filters [[gopherRules]] leaves out: duplicate-line / duplicate-
    * paragraph fractions (by occurrence count and by character mass),
    * the top n-gram's character coverage for n ∈ {2,3,4}, and the
    * duplicated-n-gram character mass for n ∈ {5..10}. Together with
    * the document-shape battery this completes the published Gopher
    * pre-filter.
    *
    * Exact integer semantics (hash-portable, like the shape battery):
    *  - a unit (line / paragraph / n-gram) is DUPLICATED when it occurs
    *    ≥ 2 times within the document;
    *  - line/para fractions are basis points over the document's own
    *    unit count (occurrences belonging to a repeated unit / total
    *    units) resp. unit character mass;
    *  - `top{n}_bp` = max over n-grams of `count·chars` (the n-gram
    *    covering the most characters — count ties resolve to the
    *    longer coverage, which is the quantity the filter actually
    *    thresholds), over the normalized text's length;
    *  - `dup{n}_bp` = Σ `count·chars` over duplicated n-grams, over the
    *    text length. Occurrence-weighted (overlaps count multiply),
    *    so both are `least(10000, ·)`-capped — the paper's span-marking
    *    variant needs per-position state; the occurrence-mass form is
    *    a documented upper bound with identical threshold semantics,
    *    computable as a pure aggregation in any engine.
    *
    * Thresholds are table A1's: 30% dup lines/paras, 20% dup char mass,
    * 20/18/16% top-{2,3,4}-gram coverage, 15..10% dup-{5..10}-gram
    * mass; `keep` = every rule passes.
    *
    * Scale shape: ONE exploded unit relation — lines and paragraphs
    * ship as (id, xxhash64(unit), chars) so an arbitrarily long line
    * never crosses an exchange; n-grams hash the joined token slice the
    * same way. One (id, kind, hash) pre-aggregation (key contains the
    * doc id, so no key is hotter than its own document) and one per-doc
    * rollup; the relation is ~Σ(L−n+1) ≈ 9·L rows of ~32 bytes per
    * L-token document — the inherent cost of exact n-gram counting,
    * with `ns` the production dial.
    *
    * @return (id, n_lines, n_paras, total_chars, dup_line_bp,
    *         dup_line_char_bp, dup_para_bp, dup_para_char_bp,
    *         top2_bp..top4_bp, dup5_bp..dup10_bp, keep) — docs with
    *         non-empty normalized text
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10),
                        topBpMax: Map[Int, Long] =
                          Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L),
                        dupBpMax: Map[Int, Long] =
                          Map(5 -> 1500L, 6 -> 1400L, 7 -> 1300L,
                              8 -> 1200L, 9 -> 1100L, 10 -> 1000L)
                       ): DataFrame =
    repetitionSignalsOn(Materialize.spread(df)
      .select(col(idCol).as("id"), col(textCol).as("raw"),
        TextOps.normalized(col(textCol)).as("t")),
      topNs, dupNs, topBpMax, dupBpMax)

  /** [[repetitionSignals]] from a pre-normalized (id, raw, t) relation
    * (extra columns ignored) — the single-tokenize share point. */
  private[graft] def repetitionSignalsOn(pre: DataFrame,
                        topNs: Seq[Int], dupNs: Seq[Int],
                        topBpMax: Map[Int, Long],
                        dupBpMax: Map[Int, Long]): DataFrame = {
    val LINE = 0
    val PARA = 1
    def normUnit(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))
    def unitStructs(kind: Int, arr: Column): Column =
      transform(filter(transform(arr, u => normUnit(u)), u => u =!= ""),
        u => struct(lit(kind).as("k"), xxhash64(u).as("h"),
          length(u).cast("long").as("chars")))

    graft.functions.VectorFunctions.register(pre.sparkSession)
    val base = pre
      .filter(col("t") =!= "")
      .withColumn("tc", length(col("t")).cast("long"))
    // lines/paras: a handful of units per doc — the lambda path is fine.
    // n-grams: ~9 units per token position — the native one-pass
    // NgramUnits expression (rolling polynomial over per-token XXH64s,
    // zero string building; measured below in SCALE.md) replaces one
    // interpreted array_join+xxhash64 transform PER n
    val units = base.select(col("id"), col("tc"), explode(concat(
        unitStructs(LINE, split(col("raw"), "\n")),
        unitStructs(PARA, split(col("raw"), "\n\n")),
        graft.functions.VectorFunctions.ngramUnits(col("t"),
          topNs ++ dupNs))).as("u"))
      .select(col("id"), col("tc"), col("u.k"), col("u.h"), col("u.chars"))
    val counted = units.groupBy(col("id"), col("k"), col("h"))
      .agg(count(lit(1)).as("cnt"), first(col("chars")).as("chars"),
        first(col("tc")).as("tc"))
    def occ(k: Int, dupOnly: Boolean): Column =
      sum(when(col("k") === k &&
        (if (dupOnly) col("cnt") >= 2 else lit(true)), col("cnt"))
        .otherwise(lit(0L)))
    def mass(k: Int, dupOnly: Boolean): Column =
      sum(when(col("k") === k &&
        (if (dupOnly) col("cnt") >= 2 else lit(true)),
        col("cnt") * col("chars")).otherwise(lit(0L)))
    // exact integer basis points — `div`, never IEEE `/` (a double
    // quotient landing epsilon under an integer would floor one off)
    def bp(num: String, den: String): Column =
      expr(s"CASE WHEN $den > 0 THEN least(10000L, ($num * 10000L) div $den) " +
        "ELSE 0L END")
    val aggs: Seq[Column] = Seq(
      max(col("tc")).as("total_chars"),
      occ(LINE, dupOnly = false).as("__nl"),
      occ(PARA, dupOnly = false).as("__np"),
      occ(LINE, dupOnly = true).as("__dl"),
      occ(PARA, dupOnly = true).as("__dp"),
      mass(LINE, dupOnly = false).as("__ml"),
      mass(PARA, dupOnly = false).as("__mp"),
      mass(LINE, dupOnly = true).as("__dml"),
      mass(PARA, dupOnly = true).as("__dmp")) ++
      topNs.map(n =>
        max(when(col("k") === n, col("cnt") * col("chars"))
          .otherwise(lit(0L))).as(s"__top$n")) ++
      dupNs.map(n => mass(n, dupOnly = true).as(s"__dup$n"))
    val perDoc = counted.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val withBp = perDoc
      .withColumn("n_lines", col("__nl"))
      .withColumn("n_paras", col("__np"))
      .withColumn("dup_line_bp", bp("__dl", "__nl"))
      .withColumn("dup_line_char_bp", bp("__dml", "__ml"))
      .withColumn("dup_para_bp", bp("__dp", "__np"))
      .withColumn("dup_para_char_bp", bp("__dmp", "__mp"))
    val withTop = topNs.foldLeft(withBp)((d, n) => d.withColumn(s"top${n}_bp",
      bp(s"__top$n", "total_chars")))
    val withDup = dupNs.foldLeft(withTop)((d, n) => d.withColumn(s"dup${n}_bp",
      bp(s"__dup$n", "total_chars")))
    val keep = (Seq(col("dup_line_bp") <= 3000, col("dup_para_bp") <= 3000,
        col("dup_line_char_bp") <= 2000, col("dup_para_char_bp") <= 2000) ++
      topNs.map(n => col(s"top${n}_bp") <= topBpMax(n)) ++
      dupNs.map(n => col(s"dup${n}_bp") <= dupBpMax(n))).reduce(_ && _)
    withDup.withColumn("keep", keep)
      .select((Seq("id", "n_lines", "n_paras", "total_chars",
        "dup_line_bp", "dup_line_char_bp", "dup_para_bp",
        "dup_para_char_bp") ++
        topNs.map(n => s"top${n}_bp") ++ dupNs.map(n => s"dup${n}_bp") ++
        Seq("keep")).map(col): _*)
  }

  /** Exact top-k frequent tokens via a Misra-Gries candidate sketch +
    * exact recount — the heavy-hitters complement of [[vocabulary]].
    * `vocabulary`'s groupBy shuffles EVERY distinct token (fine for
    * vocab-sized domains); here the sketch aggregation ships at most
    * `capacity` counters per partition regardless of how many distinct
    * items exist (urls, hostnames, error strings at corpus scale), the
    * surviving candidates are recounted EXACTLY in a second pass
    * restricted by a broadcast join, and the final top-k is cut on true
    * counts — so the result is EXACT (and oracle-checkable) whenever
    * every true top-k item survives the sketch, which the Misra-Gries
    * bound guarantees for items with frequency > totalTokens/capacity.
    * Same sketch-for-candidates + exact-verify shape as
    * [[decontaminateBloom]].
    *
    * @return (rank, token, cnt) — [[vocabulary]]'s schema
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int,
                   capacity: Int): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    // the exploded token relation is scanned twice (sketch pass + exact
    // recount) but deliberately NOT cached: it is the one unbounded
    // relation here, and materializing O(total token occurrences) to
    // executor disk would contradict the sketch's whole memory posture —
    // re-tokenizing on the second pass is a scan-shaped cost. MEASURED
    // (200k docs / 12M token occurrences, local[32]): as-is 3.3-3.8 s
    // vs 5.4-6.8 s with the exploded relation persisted for both passes
    // — the cache write+read costs MORE than the codegen'd tokenize,
    // and holds 45 MB (≈ corpus-sized at scale) for nothing
    val rel = Materialize.spread(df)
      .select(explode(toks(col(textCol))).as("token"))
    val cand = rel
      .agg(graft.functions.VectorFunctions.freqSketch(col("token"), capacity))
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    import df.sparkSession.implicits._
    val candDf = cand.toDF("token")
    val counts = rel.join(broadcast(candDf), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    rankedTop(counts, k)
  }

  /** Size switch for [[decontaminateBloom]]'s probe form: filters at or
    * below this many bytes fold into the task binary as a literal
    * ([[graft.functions.BloomContains]] — zero setup, but the driver
    * re-serializes the array per stage and every task deserializes its
    * own copy); larger filters ship once per executor via torrent
    * broadcast ([[graft.functions.BloomContainsBcast]]). 16 MB keeps
    * task binaries comfortably under Spark's ~1 GB task-size ceiling
    * and the per-task deserialization cost negligible, while a 10⁹-key
    * benchmark filter (~1.25 GB at 10 bits/key) rides the broadcast.
    */
  val BloomBroadcastBytes: Long = 16L << 20

  /** Bloom-accelerated decontamination — same RESULT as [[decontaminate]]
    * (bit-identical, which is how the oracle checks it), different scale
    * posture: the benchmark shingle set is first collapsed into a Bloom
    * filter ([[graft.functions.BloomAgg]], one distributed aggregation,
    * nBits/8 bytes total) and the corpus postings are pruned by a
    * codegen'd [[graft.functions.BloomContains]] probe INSIDE the scan
    * stage — no shuffle, no broadcast of the exact set to get the 99%+
    * prune. Only the handful of surviving postings (true matches plus
    * the filter's <1% false positives) reach the exact semi-join that
    * restores exactness.
    *
    * When to prefer this over [[decontaminate]]: the exact benchmark
    * shingle set outgrows the broadcast threshold (a 10M-doc benchmark
    * suite is ~10⁹ distinct shingle hashes = 8 GB exact vs ~1.25 GB of
    * Bloom bits at 10 bits/key — and the prefilter means the exact join
    * only ever shuffles the pruned sliver of the corpus, not 100 TB of
    * postings).
    *
    * @param nBits filter width in bits — size for ~10 bits per distinct
    *              benchmark shingle; @param k probes per key (5 at 10
    *              bits/key ⇒ FPR < 1%)
    * @param broadcastBytes filters above this many bytes ship via
    *              torrent broadcast instead of the task binary
    *              (default [[BloomBroadcastBytes]]; specs lower it to
    *              exercise the broadcast path on small filters)
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         nBits: Int = 1 << 22, k: Int = 5,
                         broadcastBytes: Long = BloomBroadcastBytes): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    // scanned twice (filter build + exact verify): materialize once
    val bench = Materialize.multiScan(
      Dedup.explodedShingles(benchmark, idCol, textCol, n)
        .select(xxhash64(col("shingle")).as("sh64")).distinct())
    val filter = bench
      .agg(graft.functions.VectorFunctions.bloomAgg(col("sh64"), nBits, k))
      .head().getAs[Array[Byte]](0)
    // the size switch the probe expressions document: a small filter
    // rides the task binary as a foldable literal (BloomContains); a
    // GB-scale one would be re-serialized per stage and deserialized
    // per task that way, so above the threshold it ships ONCE per
    // executor via torrent broadcast (BloomContainsBcast) — same probe
    // loop, identical results by construction
    val (probe, handle) =
      if (filter.length <= broadcastBytes)
        (graft.functions.VectorFunctions
           .bloomContains(col("sh64"), filter, nBits, k), None)
      else {
        val bcast = corpus.sparkSession.sparkContext
          .broadcast(graft.functions.Bloom.toWords(filter))
        val h = graft.functions.BloomBroadcasts.put(bcast)
        (graft.functions.VectorFunctions
           .bloomContainsBroadcast(col("sh64"), h, nBits, k), Some(h))
      }
    // probe + prune run INSIDE the corpus scan stage (one tokenize pass);
    // the surviving postings — true matches plus <1% false positives,
    // a sliver of the corpus — are materialized so a rerun of the
    // operator (or any downstream consumer) starts from the pruned
    // relation instead of re-tokenizing 100 TB of text
    val pruned = Materialize.multiScan(
      Dedup.explodedShingles(corpus, idCol, textCol, n)
        .select(col("id"), xxhash64(col("shingle")).as("sh64"))
        .filter(probe))
    // Dataset construction above analyzed the plan, resolving the handle
    // into an embedded Broadcast reference — release the registry entry
    // so the ContextCleaner can reclaim the filter once the plan dies
    handle.foreach(graft.functions.BloomBroadcasts.remove)
    // exact verify removes the false positives; un-hinted join so the
    // planner broadcasts small benchmarks and shuffles the (pruned)
    // postings against genuinely huge ones
    pruned.join(bench, Seq("sh64"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic hash sample: keep a row iff a deterministic hash of
    * its key is below `pct`% of the hash space. Stateless, no shuffle —
    * unlike `df.sample`, which is seed- and partitioning-dependent.
    *
    * `portable = true` (default) uses the md5-based 60-bit hash —
    * reproducible in any engine, which is what makes the sample
    * oracle-checkable. `portable = false` uses codegen'd xxhash64 — the
    * production fast path (no md5 per row; same determinism, Spark-only
    * reproducibility).
    */
  def hashSample(df: DataFrame, keyCols: Seq[String], pct: Int,
                 portable: Boolean = true): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df.filter(keyHash(keyCols, portable) % 100 < pct)
  }

  private def keyHash(keyCols: Seq[String], portable: Boolean): Column =
    TextOps.keyHash(keyCols, portable)

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    * Spirakis A-ES): every row draws an exponential arrival key
    * `−ln(u)/w` from a portable-hash uniform `u ∈ (0,1]`, and the k
    * SMALLEST keys win — inclusion odds proportional to weight, no
    * replacement, no seed or partitioning dependence. The quality-
    * weighted corpus-sampling primitive ("sample documents proportional
    * to quality score") that [[hashSample]]'s uniform threshold can't
    * express.
    *
    * Portability: the key is fixed-pointed to integer micro-units so
    * the rank order — and therefore the exact sample — reproduces in
    * any engine with md5 + ln (ties broken by the id columns
    * identically everywhere). Weights are normalized by their MEAN
    * first (`floor(−ln(u)·w̄/w · 10⁶)`), so granularity is relative to
    * the corpus's typical weight and the key survives any absolute
    * scale (raw view counts, byte sizes): without the normalization, a
    * weight ≥ 10⁶ would floor every key to 0 and the "sample" would
    * silently degrade to lowest-id selection. Keys only saturate when
    * the weight SPREAD itself exceeds ~10⁶ — rows that much heavier
    * than the mean all key to 0 and tie-break by id, which is the
    * correct degenerate answer (they would dominate any sample).
    * Integer (or fixed-point) weights keep the mean exact: sums of
    * integers below 2⁵³ are order-independent in doubles.
    *
    * Top-k is a distributed TakeOrdered: per-partition k-heaps, no
    * global sort; the mean is one narrow single-row aggregate. Nested
    * by construction: the top-j (j < k) of the same keys is a subset
    * of the top-k, so shrinking a sample never reshuffles it.
    *
    * @param weightCol strictly positive weight (rows with w ≤ 0 or null
    *                  are dropped — zero weight means "never sample")
    * @return the k sampled rows plus their `sample_key`
    */
  def weightedSample(df: DataFrame, keyCols: Seq[String], weightCol: Column,
                     k: Int, portable: Boolean = true): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val pos = df.filter(weightCol > 0)
    val stats = pos.agg(sum(weightCol).as("__sum_w"), count(lit(1)).as("__n_w"))
    val u = (keyHash(keyCols, portable).cast("double") + 1.0) /
      lit((1L << 60).toDouble)
    val key = floor(-log(u) * (col("__sum_w").cast("double") / col("__n_w"))
      / weightCol * lit(1e6)).cast("long")
    pos.crossJoin(broadcast(stats))
      .withColumn("sample_key", key)
      .drop("__sum_w", "__n_w")
      .orderBy((col("sample_key").asc +: keyCols.map(c => col(c).asc)): _*)
      .limit(k)
  }

  /** Deterministic mixture sampling — the data-MIXING step of a training
    * run: each stratum (source, language, quality band) keeps its own
    * target percentage of rows, reweighting the corpus toward the
    * desired composition in one stateless pass. Same portable-hash
    * mechanics as [[hashSample]] (seed- and partitioning-independent,
    * nested rates compose: a 20% sample of a stratum is a subset of its
    * 40% sample), so the mix is reproducible in any engine and stable
    * across reruns — no shuffle, fully pushdown-friendly.
    *
    * @param pctByStratum stratum value → keep percentage (0-100); absent
    *                     strata keep `defaultPct`
    */
  def mixtureSample(df: DataFrame, strataCol: String, keyCols: Seq[String],
                    pctByStratum: Map[String, Int], defaultPct: Int = 0,
                    portable: Boolean = true): DataFrame = {
    require((pctByStratum.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "keep percentages must be in 0..100")
    graft.functions.VectorFunctions.register(df.sparkSession)
    val pct = pctByStratum.foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) =>
        when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(keyHash(keyCols, portable) % 100 < pct)
  }

  /** Sorted-neighborhood record linkage candidates: rank rows by a sort
    * key and pair each row with its `window` successors. O(n·window)
    * candidate pairs instead of the blocked join's per-block quadratic —
    * THE classic scale move for fuzzy matching when blocks are too
    * coarse. Deterministic (rank ties broken by id), so downstream
    * distance filters stay oracle-checkable. The global rank is the
    * distributed two-pass scheme ([[Prefix.globalRowNumber]]): range-
    * partitioned by the sort key, per-partition ranks plus broadcast
    * count offsets — no single-partition sort anywhere; the successor
    * pairing is then a parallel shuffle equi-join on the rank.
    */
  def sortedNeighborhood(df: DataFrame, sortCols: Seq[String],
                         idCol: String, window: Int): DataFrame = {
    val ranked = Prefix.globalRowNumber(df,
      (sortCols.map(col) :+ col(idCol)).map(_.asc), "__rn")
    // equi-join on (successor rank - offset), NOT a rank-range predicate:
    // a range join without an equality key plans as a nested loop
    val a = ranked.as("a")
    val b = ranked
      .withColumn("__k", explode(sequence(lit(1), lit(window))))
      .withColumn("__rn_pred", col("__rn") - col("__k"))
      .as("b")
    a.join(b, col("a.__rn") === col("b.__rn_pred"))
  }

  /** Stratified quota sample: exactly `quota` rows per stratum (fewer if
    * the stratum is smaller), chosen by portable-hash order — a
    * deterministic "reservoir" that balances a skewed corpus (the
    * per-source / per-language cap step of corpus curation). One shuffle
    * on the strata; `WindowGroupLimit` prunes each partition to the
    * quota before the final sort.
    */
  /** The v1 curation composite (`q_corpus_prep`'s exact chain, shared
    * with its scale bench): doc-local scoring → language + handcrafted-
    * quality gate → exact-dedup survivors → per-source hash-order quota
    * → per-source token budgets.
    *
    * The scoring projection tokenizes ONCE: the token array binds as an
    * attribute and every count derives from it (`n_tokens` = its size,
    * `n_stop` over its lowercased image — `lower` never alters token
    * boundaries, so this equals tokenizing `lower(text)`), with
    * [[TextOps.langIdFromCounts]] reusing the same counts. The naive
    * column-per-scorer form SPELLS five wholesale `regexp_extract_all`
    * tokenizations per row ([[TextOps.langIdHeuristic]] recomputes the
    * stopword and token counts internally); whole-stage codegen's
    * common-subexpression elimination already collapses the literal
    * duplicates, so the only real work saved is the re-tokenization of
    * `lower(text)` — measured end-to-end at the 10× scale point the
    * delta sits INSIDE the machine's cross-run variance (6.3–8.2 s
    * across repeat runs vs 7.7 s for the naive form, tight intra-run
    * spreads throughout). The standing value is structural: one code
    * path shared by the declared query and its scale bench, and an
    * expression tree whose cost model doesn't depend on CSE firing.
    */
  def prepV1(df: DataFrame, idCol: String, srcCol: String,
             textCol: String, quota: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(textCol).as("text"), TextOps.tokens(col(textCol)).as("__toks"))
    val scored = toks
      .select(col("doc_id"), col("source"), col("text"),
        size(col("__toks")).as("n_tokens"),
        size(filter(transform(col("__toks"), t => lower(t)),
          t => t.isin(TextOps.Stopwords.map(lit): _*))).as("n_stop"),
        TextOps.nPunct(col("text")).as("n_punct"),
        length(col("text")).as("n_chars"),
        TextOps.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_stop"),
        col("n_punct"), col("n_chars"),
        TextOps.langIdFromCounts(col("text"), col("n_stop"),
          col("n_tokens")).as("lang_pred"),
        col("fp"),
        TextOps.qualityFromCounts(col("n_tokens"), col("n_stop"),
          col("n_punct"), col("n_chars")).as("quality"))
    val kept = scored.filter(col("lang_pred") === "en" && col("quality") >= 55)
    val surv = kept.withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id"))
    quotaSample(surv, Seq("source"), Seq("doc_id"), quota)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("budget_tokens"))
  }

  /** The v4 curation composite (`q_corpus_prep_v4`'s exact chain,
    * shared with its scale bench) — Lee et al. 2022's deployment shape
    * for the exact-substring cut: Gopher shape battery FIRST (the
    * policy filter), the recall=1 every-offset cut
    * ([[graft.ext.Dedup.exactSpanRewrite]]) on the surviving slice
    * only — the exact pass's n-windows-per-n-bytes price is paid on
    * the reduced corpus — then byte-budget packing of the REWRITTEN
    * bytes via [[graft.ext.Prefix.globalRunningSum]] (no
    * single-partition window). The rewrite relation is cached once
    * and read by both the pack sizing and the per-pack cut audit.
    *
    * @return (pack_id, n_docs, pack_bytes, cut_bytes)
    */
  def prepV4(df: DataFrame, idCol: String, textCol: String,
             stopwords: Seq[String], minLen: Int = 40,
             budgetBytes: Int = 4000): DataFrame = {
    val keep = gopherRules(df, idCol, textCol, stopwords = stopwords)
      .filter(col("keep")).select(col("id").as(idCol))
    val rewritten = Materialize.multiScan(
      Dedup.exactSpanRewriteBin(df.join(keep, Seq(idCol)),
        idCol, textCol, minLen))
    pack(rewritten, "id", "clean_bin", budget = budgetBytes,
        tokenCounter = c => length(c).cast("long"))
      .join(rewritten.select(col("id"), col("cut_bytes")), Seq("id"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("pack_bytes"),
        sum(col("cut_bytes")).cast("long").as("cut_bytes"))
  }

  def quotaSample(df: DataFrame, strataCols: Seq[String],
                  keyCols: Seq[String], quota: Int,
                  portable: Boolean = true): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val h = keyHash(keyCols, portable)
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy((h +: keyCols.map(col)).map(_.asc): _*)
    // spread before hashing: WindowGroupLimit prunes to `quota` rows
    // per (partition, stratum) map-side, so the hash + prune stage
    // should run at session parallelism, not the scan's (one task for
    // a single-file table); the post-shuffle window only ever sees
    // quota × partitions rows per stratum
    Materialize.spread(df)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quota)
  }

  /** Per-source CORPUS CARD — the data-documentation summary a training
    * corpus release ships (Gebru et al. 2021, "Datasheets for
    * Datasets"): one row per source with volume, exact-duplicate rate,
    * the dominant language and its share, token volume, and EXACT
    * document-length percentiles. NOTE `dup_rate` is WITHIN-source
    * only (distinct fingerprints grouped per source) — two sources
    * sharing a crawl each show 0% here; the cross-source view is
    * [[crossSourceDup]], the matrix a release datasheet pairs with
    * this card. Every statistic is the scale-safe
    * form of machinery this library already owns: dup rate groups
    * 32-byte md5 fingerprints (documents never shuffle), the language
    * mode is a max-struct aggregate (map-side collapsible — no
    * per-source window sort; count ties break to the
    * lexicographically larger lang, documented), and the percentiles
    * come from [[Prefix.groupPercentiles]] (distributed rank — no
    * value-buffering percentile aggregate, no |sources|-task final
    * merge). The per-source relations the final joins combine are
    * source-cardinality sized, so they broadcast at any corpus size.
    *
    * All rounding is the portable floor(x·10^s + 0.5)/10^s (the
    * q_percentiles convention) so every figure is bit-identical across
    * engines; mean_toks divides the exact long sum by the doc count
    * rather than using an engine `avg` (whose accumulation order is
    * not portable).
    *
    * @return (source, n_docs, total_chars, dup_rate, top_lang,
    *         top_lang_share, total_tokens, mean_toks, p50_chars,
    *         p90_chars)
    */
  def corpusCard(df: DataFrame, idCol: String, textCol: String,
                 sourceCol: String = "source", langCol: String = "lang",
                 charsCol: String = "n_chars"): DataFrame = {
    def r(c: Column, s: Int): Column = {
      val f = math.pow(10, s)
      floor(c * f + 0.5) / f
    }
    val base = df.select(col(sourceCol).as("source"), col(langCol).as("lang"),
      col(idCol).as("id"), col(charsCol).as("chars"),
      TextOps.fingerprint(col(textCol)).as("fp"),
      TextOps.nTokens(col(textCol)).as("toks"))
    val agg = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("chars")).as("total_chars"),
      countDistinct(col("fp")).as("distinct_docs"),
      sum(col("toks")).as("total_tokens"))
    val topLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(max(struct(col("c"), col("lang"))).as("t"))
      .select(col("source"), col("t.lang").as("top_lang"),
        col("t.c").as("top_c"))
    val pct = Prefix.groupPercentiles(base, Seq("source"), col("chars"),
      tiebreak = Seq(col("id")), ps = Seq(0.5 -> "p50x", 0.9 -> "p90x"))
    agg.join(topLang, Seq("source")).join(pct, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        r((col("n_docs") - col("distinct_docs")).cast("double") /
          col("n_docs"), 4).as("dup_rate"),
        col("top_lang"),
        r(col("top_c").cast("double") / col("n_docs"), 4)
          .as("top_lang_share"),
        col("total_tokens"),
        r(col("total_tokens").cast("double") / col("n_docs"), 2)
          .as("mean_toks"),
        r(col("p50x"), 2).as("p50_chars"),
        r(col("p90x"), 2).as("p90_chars"))
  }

  /** CROSS-source duplication matrix — the datasheet statistic
    * [[corpusCard]]'s within-source `dup_rate` structurally can't see:
    * two sources that crawled the same pages each report a clean 0%
    * internal dup rate while massively overlapping each other. One row
    * per ORDERED (source, other_source) with ≥1 dup pair between them:
    * how many of `source`'s documents have at least one duplicate
    * partner in `other_source`, and what share of the source that is.
    * The DIAGONAL (source = other_source) is the within-source rate
    * under the same pair relation — comparable on sight with the
    * off-diagonal contamination entries.
    *
    * Generic over the PAIR RELATION: pass any (id_a, id_b) dup-pair
    * frame — [[Dedup.jaccardPairs]] / [[Dedup.minhashCandidates]]
    * (near-dup overlap), [[Dedup.containmentPairs]] (quote-level
    * overlap), or exact-fingerprint pairs — so one matrix operator
    * serves every duplication notion the library computes; the
    * heavy lifting (candidate generation) stays in the pair
    * generators with their scale dials.
    *
    * Scale: the pair relation is already banded/pruned by its
    * generator; the two id-keyed joins attach 8-byte source keys; the
    * per-source totals are source-cardinality (broadcast). Nothing
    * here touches document text.
    *
    * @param pairs (id_a, id_b) dup pairs, each unordered pair once
    * @param docSources (id, source) — EVERY corpus doc (totals come
    *        from here, so docs with no dup partner count in the
    *        denominator)
    * @return (source, other_source, n_docs_dup, dup_share):
    *         n_docs_dup = distinct docs of `source` with a partner in
    *         `other_source`; dup_share = n_docs_dup / |source| in the
    *         portable floor-rounded 4dp form
    */
  def crossSourceDup(pairs: DataFrame, docSources: DataFrame): DataFrame = {
    val src = docSources.select(col("id"), col("source"))
    val tot = src.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val withSrc = pairs.select(col("id_a"), col("id_b"))
      .join(src.select(col("id").as("id_a"), col("source").as("src_a")),
        Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("source").as("src_b")),
        Seq("id_b"))
    // both orientations of each unordered pair: (A's doc vs B) and
    // (B's doc vs A) — the diagonal folds naturally (a within-source
    // pair contributes both its docs to the (S, S) row)
    val directed = withSrc.select(col("src_a").as("source"),
        col("src_b").as("other_source"), col("id_a").as("doc"))
      .unionAll(withSrc.select(col("src_b").as("source"),
        col("src_a").as("other_source"), col("id_b").as("doc")))
    directed.groupBy(col("source"), col("other_source"))
      .agg(countDistinct(col("doc")).as("n_docs_dup"))
      .join(tot, Seq("source"))
      .select(col("source"), col("other_source"), col("n_docs_dup"),
        (floor(col("n_docs_dup").cast("double") / col("n_total") * 10000
          + 0.5) / 10000).as("dup_share"))
  }

  /** The DIRECTED, containment-weighted companion of [[crossSourceDup]]:
    * "how much of source A is QUOTED INSIDE source B". [[crossSourceDup]]
    * treats its pair relation as unordered (both orientations folded),
    * which is right for resemblance but erases exactly what containment
    * carries — direction. Feed it [[Dedup.containmentPairs]]'s ordered
    * (src_id = the contained doc, host_id = the doc containing it) rows
    * and each matrix entry reads: n_docs_quoted of `quoted_source`'s
    * documents are τ-contained in some `host_source` document,
    * quoted_share of that source's volume. The diagonal is within-source
    * quoting. Same scale shape as the unordered matrix: two id-keyed
    * joins, totals broadcast, digests only.
    *
    * @param contPairs (src_id, host_id) with cont ≥ τ, one row per
    *        ORDERED direction (containmentPairs' output contract)
    * @param docSources (id, source) for EVERY corpus doc
    * @return (quoted_source, host_source, n_docs_quoted, quoted_share)
    */
  def crossSourceQuotes(contPairs: DataFrame,
                        docSources: DataFrame): DataFrame = {
    val src = docSources.select(col("id"), col("source"))
    val tot = src.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    contPairs.select(col("src_id"), col("host_id"))
      .join(src.select(col("id").as("src_id"),
        col("source").as("quoted_source")), Seq("src_id"))
      .join(src.select(col("id").as("host_id"),
        col("source").as("host_source")), Seq("host_id"))
      .groupBy(col("quoted_source"), col("host_source"))
      .agg(countDistinct(col("src_id")).as("n_docs_quoted"))
      .join(tot.withColumnRenamed("source", "quoted_source"),
        Seq("quoted_source"))
      .select(col("quoted_source"), col("host_source"),
        col("n_docs_quoted"),
        (floor(col("n_docs_quoted").cast("double") / col("n_total")
          * 10000 + 0.5) / 10000).as("quoted_share"))
  }

  /** Release-to-release corpus diff — the datasheet delta a versioned
    * corpus publishes alongside [[corpusCard]]: per source, how many
    * documents were ADDED (id only in the new snapshot), REMOVED (id
    * only in the old), CHANGED (id in both, content fingerprint
    * differs), UNCHANGED, and the net UTF-8 byte delta. "What moved
    * between v1 and v2" is the first question a training team asks
    * before re-mixing on a new release, and none of the point-in-time
    * cards can answer it.
    *
    * Identity is the id column; change detection is the md5 CONTENT
    * fingerprint (the exact-dedup convention — whitespace-identical
    * re-crawls count as unchanged only if byte-identical). Both
    * snapshots are projected to (id, source, fp, bytes) BEFORE the
    * join, so document text never shuffles — the full-outer join
    * carries 32-byte digests and two longs per row. Per-source output
    * is source-cardinality (broadcastable anywhere downstream).
    *
    * A renamed id with identical content reports as one removal plus
    * one addition — id is identity by contract here; content-level
    * movement across ids is [[crossSourceDup]]'s domain (exact-fp pair
    * relation between the two snapshots).
    *
    * @return (source, n_added, n_removed, n_changed, n_unchanged,
    *         bytes_delta) — source = the new snapshot's source when
    *         present, else the old one's
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String, sourceCol: String = "source"): DataFrame = {
    def proj(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as(s"${tag}_id"),
        col(sourceCol).as(s"${tag}_src"),
        md5(col(textCol)).as(s"${tag}_fp"),
        octet_length(col(textCol)).cast("long").as(s"${tag}_b"))
    val o = proj(oldDf, "o")
    val n = proj(newDf, "n")
    // null-SAFE fingerprint compare: a text transitioning to/from NULL
    // is a CHANGE (md5(NULL) = NULL would make <> fall through to
    // 'unchanged' while bytes_delta reports the shrink — the oracle
    // mirrors with IS DISTINCT FROM)
    val status = when(col("o_id").isNull, lit("added"))
      .when(col("n_id").isNull, lit("removed"))
      .when(!(col("n_fp") <=> col("o_fp")), lit("changed"))
      .otherwise(lit("unchanged"))
    o.join(n, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("n_src"), col("o_src")).as("source"),
        status.as("__st"),
        (coalesce(col("n_b"), lit(0L)) - coalesce(col("o_b"), lit(0L)))
          .as("__db"))
      .groupBy(col("source"))
      .agg(sum(when(col("__st") === "added", 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("__st") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("__st") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("__st") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("__db")).as("bytes_delta"))
  }

  /** Data-mixing plan — the per-source table a training mix publishes
    * (the "sampling proportion / epochs" card of the LLaMA and Pile
    * reports): given target mixture weights and a total token budget,
    * how many tokens each source must contribute and how many EPOCHS
    * of the source that is (epochs > 1 = the source repeats; < 1 = it
    * is subsampled — [[temperatureSample]] / [[mixtureSample]] execute
    * that subsampling, this operator PLANS it).
    *
    * All integer arithmetic: target_tokens = budget·ppm/1e6 computed
    * as `(budget div 1e6)·ppm + ((budget mod 1e6)·ppm) div 1e6` — no
    * long overflow at any budget (both factors stay < 2^63 / 1e6), no
    * float rounding, bit-identical in any engine. Epochs is the one
    * ratio, in the portable floor-4dp form.
    *
    * Targets drive the output rows: a target naming a source absent
    * from the corpus reports NULL avail_tokens/epochs (the "you
    * planned a mix for data you don't have" alert) rather than
    * silently dropping.
    *
    * Scale: one per-source aggregate of the corpus (map-side
    * collapsible sum) joined to a target-cardinality literal relation
    * — broadcast at any scale; document text is never read.
    * Cardinality assumption (the explicit-gate discipline): `sourceCol`
    * is a source/domain-style column (≤ ~[[StrataDriverWarn]] distinct
    * values) — the per-source table is BROADCAST, so a per-key column
    * here would blow the broadcast, exactly as at [[temperatureSample]].
    *
    * @param tokensCol per-document token count column (whitespace
    *        tokens, learned-BPE counts via [[Bpe.encode]], or bytes —
    *        the budget's unit follows)
    * @param targets (source, ppm-weight), weights sum to 1e6
    * @param budget total training tokens to plan for
    */
  def mixingPlan(df: DataFrame, sourceCol: String, tokensCol: String,
                 targets: Seq[(String, Int)], budget: Long): DataFrame = {
    require(targets.nonEmpty, "at least one target source required")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate target sources in ${targets.map(_._1)}")
    require(targets.forall(_._2 > 0),
      s"target weights must be positive ppm, got $targets")
    require(targets.map(_._2.toLong).sum == 1000000L,
      s"target weights must sum to 1000000 ppm, got ${targets.map(_._2).sum}")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(tokensCol)).cast("long").as("avail_tokens"))
    val t = targets.toDF("source", "target_ppm")
    val bq = budget / 1000000L
    val br = budget % 1000000L
    // avail is source-cardinality (broadcastable at any scale); it is
    // also the only broadcastable side of a left join preserving t
    t.join(broadcast(avail), Seq("source"), "left")
      .withColumn("target_tokens",
        expr(s"${bq}L * target_ppm + (${br}L * target_ppm) div 1000000L"))
      .withColumn("epochs",
        when(col("avail_tokens") > 0,
          floor(col("target_tokens").cast("double")
            / col("avail_tokens") * 10000 + 0.5) / 10000))
      .select(col("source"), col("target_ppm"), col("avail_tokens"),
        col("target_tokens"), col("epochs"))
  }

  /** EXECUTE a mixing plan — the epoch-expansion step between
    * [[mixingPlan]]'s table and a training run: per source with target
    * epochs e (in exact ppm), every document is replicated
    * floor(e) times and gets one further copy with probability
    * frac(e), decided by the portable hash (salted with ":ep" so the
    * fractional admission is independent of [[hashSample]]-family
    * decisions on the same keys). The expanded corpus hits the
    * planned token budget in expectation exactly; e < 1e6 ppm
    * degenerates to deterministic subsampling (some docs get zero
    * copies and vanish), e ≥ 1e6 to repetition with a deterministic
    * fractional remainder — one operator for both sides of the mix.
    *
    * Sources absent from `epochsPpm` are NOT in the mix and are
    * dropped (the mirror of [[mixingPlan]]'s NULL-avail alert for the
    * opposite mismatch).
    *
    * Scale: stateless — a broadcast of the source-cardinality rate
    * table, a per-row hash, and a lateral explode of at most
    * ceil(e) copy indices. No shuffle, no state; the output order
    * column `copyCol` (0-based) lets a loader interleave epochs.
    *
    * @param epochsPpm (source, epochs in ppm: 2_500_000 = 2.5 epochs)
    * @return input rows × their copy count, + `copyCol` (0-based)
    */
  def expandEpochs(df: DataFrame, sourceCol: String, keyCols: Seq[String],
                   epochsPpm: Seq[(String, Long)],
                   copyCol: String = "epoch_copy",
                   portable: Boolean = true): DataFrame = {
    require(epochsPpm.nonEmpty, "at least one source rate required")
    require(epochsPpm.map(_._1).distinct.size == epochsPpm.size,
      s"duplicate sources in ${epochsPpm.map(_._1)}")
    require(epochsPpm.forall(_._2 >= 0),
      s"epochs must be >= 0 ppm, got $epochsPpm")
    graft.functions.VectorFunctions.register(df.sparkSession)
    val spark = df.sparkSession
    import spark.implicits._
    val rates = epochsPpm.toDF("__ep_src", "__ep_ppm")
    val key = concat(concat_ws(":", keyCols.map(col): _*), lit(":ep"))
    val h =
      if (portable) TextOps.portableHash(key)
      else pmod(xxhash64(key), lit(1L << 60))
    val nCopies = expr("__ep_ppm div 1000000L") +
      when(h % 1000000L < col("__ep_ppm") % 1000000L, 1L).otherwise(0L)
    df.join(broadcast(rates), df(sourceCol) === col("__ep_src"))
      .withColumn("__ep_n", nCopies)
      .withColumn(copyCol,
        explode(when(col("__ep_n") > 0,
          sequence(lit(0L), col("__ep_n") - 1, lit(1L)))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__ep_src", "__ep_ppm", "__ep_n")
  }

  /** Novelty of a release's ADDITIONS — the statistic [[corpusDiff]]'s
    * id-keyed classes structurally can't see: a v2 that "adds 10M
    * documents" of which 40% are near-duplicates of v1 content (same
    * pages re-crawled under new ids, syndicated copies) has added far
    * less training signal than the diff card suggests. Per source of
    * the ADDED slice (ids in new only): how many added docs have a
    * near-dup (shingle-Jaccard ≥ tau) ANYWHERE in the old corpus, how
    * many are genuinely novel, and the novel share.
    *
    * Scale: the added slice comes from one id-keyed anti-join (ids
    * only); the near-dup check is [[Dedup.jaccardAgainst]] — the
    * batch-vs-corpus inverted index with its `maxDocFreq` skew dial,
    * never a corpus self-join; the aggregate is source-cardinality.
    * Exactly the shape of an admission tick, run retrospectively over
    * a release pair.
    *
    * @return (source, n_added, n_added_neardup, n_added_novel,
    *         novel_share) — source from the NEW snapshot, floor-4dp
    *         share
    */
  def diffNovelty(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                  textCol: String, sourceCol: String = "source",
                  n: Int = 3, tau: Double = 0.25,
                  maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // the added slice feeds BOTH the near-dup postings build and the
    // final aggregate — materialize once
    val added = Materialize.multiScan(
      newDf.join(oldDf.select(col(idCol)), Seq(idCol), "left_anti"))
    val nearDup = Dedup.jaccardAgainst(added, oldDf, idCol, textCol,
        n, tau, maxDocFreq)
      .select(col("batch_id").as(idCol)).distinct()
      .withColumn("__nd", lit(1L))
    added.select(col(idCol), col(sourceCol).as("source"))
      .join(nearDup, Seq(idCol), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_added"),
        sum(when(col("__nd").isNotNull, 1L).otherwise(0L))
          .as("n_added_neardup"))
      .withColumn("n_added_novel", col("n_added") - col("n_added_neardup"))
      .withColumn("novel_share",
        floor(col("n_added_novel").cast("double") / col("n_added")
          * 10000 + 0.5) / 10000)
  }
}
