package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exactness baseline: a broadcast of
  * the (small) query set against a scan of the corpus — one pass, no
  * shuffle of the corpus, embarrassingly parallel, so it scales to any
  * corpus size at O(corpus × queries × dim).
  *
  * The scale path is sign-random-projection LSH: corpus and queries are
  * bucketed by signature prefix, so each query only scores its bucket.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * precision with index-order accumulation — identical IEEE sequence
    * to any sequential external implementation, so oracles agree
    * bit-for-bit. Backed by the codegen'd [[graft.functions.CosineSim]]
    * expression (a fused primitive loop; the `zip_with`+`aggregate`
    * formulation interprets lambdas per element, ~50× slower).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  private def ensureRegistered(df: DataFrame): Unit =
    graft.functions.VectorFunctions.register(df.sparkSession)

  /** Exact top-k neighbors for each query row.
    *
    * @param corpus  (id, embedding)
    * @param queries (id, embedding) — must be small; it is broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    ensureRegistered(corpus)
    val c = corpus.select(col("id").as("nn_id"), col("embedding").as("c_emb"))
    val q = queries.select(col("id").as("query_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("c_emb"), col("q_emb")), 3))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("sim"))
  }

  /** Signature for sign-random-projection LSH: bit i of the signature is
    * the sign of ⟨v, h_i⟩ where h_i is a deterministic ±1 hyperplane
    * derived from md5 of (table, plane, dim) — reproducible everywhere,
    * no RNG state. `nBits` planes ⇒ `nBits`-bit bucket id per table.
    */
  def srpSignature(emb: Column, dim: Int, nBits: Int, table: Int = 0): Column =
    graft.functions.VectorFunctions.srpSig(emb, dim, nBits, table)

  /** Approximate top-k via multi-table LSH buckets: `nTables`
    * independent hyperplane sets; a candidate is scored if it shares the
    * query's bucket (or a hamming-1 neighbor bucket) in ANY table. More
    * tables = higher recall at linear candidate cost — the standard
    * recall/cost dial. At 100 TB the corpus is written bucketed by
    * (table, sig), so a query touches a handful of partitions, never the
    * full corpus.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int, nBits: Int, nTables: Int = 4): DataFrame = {
    require(nBits > 0 && nBits < 63 && nTables > 0,
      s"nBits $nBits must fit a long signature; nTables $nTables > 0")
    ensureRegistered(corpus)
    val c = corpus.select(col("id").as("nn_id"), col("embedding").as("c_emb"))
      .withColumn("tsig", explode(array((0 until nTables).map(tb =>
        struct(lit(tb).as("t"),
          srpSignature(col("c_emb"), dim, nBits, tb).as("s"))): _*)))
    // probe the query's own bucket and all hamming-1 buckets in each table
    val q = queries.select(col("id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("tsig0", explode(array((0 until nTables).map(tb =>
        struct(lit(tb).as("t"),
          srpSignature(col("q_emb"), dim, nBits, tb).as("s"))): _*)))
      .withColumn("tsig", explode(concat(array(col("tsig0")),
        transform(sequence(lit(0), lit(nBits - 1)),
          i => struct(col("tsig0.t").as("t"),
            col("tsig0.s").bitwiseXOR(call_function("shiftleft", lit(1L), i)).as("s"))))))
      .drop("tsig0")
    val scored = c.join(broadcast(q), Seq("tsig"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"), col("c_emb"), col("q_emb"))
      .distinct() // a pair may collide in several tables/probes
      .withColumn("sim", round(cosine(col("c_emb"), col("q_emb")), 3))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.select(col("query_id"), col("nn_id"), col("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("sim"))
  }

  /** Nearest-centroid cell id (argmax cosine, lowest id breaks ties).
    * Native [[graft.functions.NearestCentroid]]: the centroid matrix is
    * ONE reference object and the argmax one fused codegen'd loop — the
    * expression tree is O(1) in the centroid count, where the round-2
    * formulation inlined one struct expression (embedding a full vector
    * literal) per centroid: fine at k=8, a plan blowup at k≈1000.
    */
  private def cellOf(emb: Column, cents: Array[(Long, Array[Float])]): Column =
    graft.functions.VectorFunctions.nearestCentroid(emb, cents)

  /** The `nProbe` nearest cell ids, best first (cosine desc, id asc). */
  private def probeCells(emb: Column, cents: Array[(Long, Array[Float])],
                         nProbe: Int): Column =
    graft.functions.VectorFunctions.probeCentroids(emb, cents, nProbe)

  /** IVF (inverted-file) approximate top-k: the other scale path.
    * Coarse quantization: every corpus vector is assigned to its nearest
    * centroid (argmax cosine, centroid id breaks ties); a query probes
    * only the `nProbe` centroid cells nearest to it. At 100 TB the
    * corpus is written partitioned by cell, so a query reads
    * nProbe/nCentroids of the data.
    *
    * Centroids: `trainIters` = 0 picks the lowest-id corpus vectors —
    * deterministic, so external oracles can replicate the full
    * assignment; `trainIters` > 0 runs Lloyd k-means ([[kmeansCentroids]])
    * for honest cells at scale (cell ids are then centroid indexes).
    * Assignment cost is one shuffle-free scan either way; the centroid
    * set rides along as a single array literal ([[centScores]]).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int, trainIters: Int = 0): DataFrame = {
    require(nCentroids > 0 && nProbe > 0 && nProbe <= nCentroids,
      s"need 0 < nProbe ($nProbe) <= nCentroids ($nCentroids)")
    ensureRegistered(corpus)
    val cents: Array[(Long, Array[Float])] =
      if (trainIters > 0)
        kmeansCentroids(corpus, nCentroids, trainIters)
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      else corpus.orderBy(col("id")).limit(nCentroids)
        .select(col("id").as("cid"), col("embedding").as("cent"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // spread: the corpus-side scoring (cosine per probed pair after the
    // broadcast join) is the heavy narrow stage and otherwise runs with
    // the scan's single-split partitioning
    val c = Materialize.spread(
        corpus.select(col("id").as("nn_id"), col("embedding").as("c_emb")))
      .withColumn("cell", cellOf(col("c_emb"), cents))
    val q = queries.select(col("id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("cell", explode(probeCells(col("q_emb"), cents, nProbe)))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("c_emb"), col("q_emb")), 3))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.select(col("query_id"), col("nn_id"), col("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("sim"))
  }

  /** Materialize the IVF layout: the corpus written `partitionBy("cell")`
    * under `path`, one directory per coarse cell. This is the physical
    * half of the 100 TB story in [[ivfTopK]]: a probe query filters on
    * a literal cell list, so the parquet source prunes whole partition
    * directories and reads ~nProbe/nCentroids of the data — proven by
    * `LayoutSpec`'s numFiles assertion.
    */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    cents: Array[(Long, Array[Float])]): Unit = {
    ensureRegistered(corpus)
    corpus.withColumn("cell", cellOf(col("embedding"), cents))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Driver-side probe-cell selection for ONE query vector: the `nProbe`
    * centroid ids nearest by cosine (ties to the lower id) — the same
    * ordering [[graft.functions.ProbeCentroids]] computes per row, here
    * as plain Scala so the result can be used as partition-pruning
    * literals before any job runs.
    */
  def probeCellsLocal(q: Array[Float], cents: Array[(Long, Array[Float])],
                      nProbe: Int): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cents.map { case (id, c) => (id, cos(q, c)) }
      .sortBy { case (id, s) => (-s, id) }.take(nProbe).map(_._1).toSeq
  }

  /** Partition-pruned scan of an IVF-written corpus ([[writeIvfIndex]])
    * for one query vector: only the `nProbe` probed cell directories are
    * read (`cell` is a partition column and the filter is a literal IN).
    */
  def readIvfProbes(spark: org.apache.spark.sql.SparkSession, path: String,
                    q: Array[Float], cents: Array[(Long, Array[Float])],
                    nProbe: Int): DataFrame = {
    val cells = probeCellsLocal(q, cents, nProbe)
    spark.read.parquet(path).filter(col("cell").isin(cells: _*))
  }

  /** Cluster-balanced (diversity) sampling: assign every vector to its
    * nearest coarse cell, then take a deterministic per-cell quota — the
    * embedding-space complement of [[Corpus.quotaSample]]'s per-source
    * balancing. A corpus dominated by one semantic region (boilerplate,
    * one language, one template) gets capped per REGION, which
    * per-source strata can't see. Deterministic end-to-end: cells come
    * from the lowest-id centroids (the [[ivfTopK]] untrained
    * convention, so external engines replicate the assignment) and the
    * quota is portable-hash order — fully oracle-checkable.
    *
    * Shape: one shuffle-free assignment scan (centroid matrix as one
    * reference object) + the quota's single stratum shuffle with
    * WindowGroupLimit map-side pruning. Swap the centroid list for
    * [[kmeansCentroids]] output for trained regions at scale.
    */
  def diversitySample(corpus: DataFrame, idCol: String, embCol: String,
                      nCells: Int, quota: Int): DataFrame = {
    ensureRegistered(corpus)
    val cents = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cid"), col(embCol).as("cent"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // spread: the assignment scan feeds the quota window's exchange and
    // otherwise runs in the scan's single input split
    val assigned = Materialize.spread(
        corpus.select(col(idCol).as("id"), col(embCol).as("emb")))
      .withColumn("cell", cellOf(col("emb"), cents))
    Corpus.quotaSample(assigned, Seq("cell"), Seq("id"), quota)
      .select(col("cell"), col("sample_rank"), col("id"))
  }

  /** Lloyd k-means over an embedding column with cosine assignment —
    * the clustering step behind diversity sampling / cluster-balanced
    * corpus curation. Deterministic init (lowest-id vectors, as in
    * [[ivfTopK]]); ties in assignment break toward the lowest centroid
    * index. Each iteration is one scan + one k×dim aggregate: centroids
    * live on the driver (k·dim floats), the corpus is never shuffled —
    * the [[graft.functions.VecSumCount]] vector-sum aggregate does the
    * update map-side in one double[dim] buffer per cell, so this scales
    * to any corpus size AND to production embedding dims (1024-4096) at
    * O(iters · corpus · k · dim).
    *
    * @return (id, embedding, cell) — final assignment
    */
  def kmeans(corpus: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val cents = kmeansCentroids(corpus, k, maxIter)
    corpus.withColumn("cell", cellOf(col("embedding"), indexed(cents)).cast("int"))
  }

  private def indexed(cents: Array[Array[Float]]): Array[(Long, Array[Float])] =
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  /** The trained centroid matrix itself (k × dim floats — driver-sized at
    * any corpus scale). Shared by [[kmeans]] and [[ivfTopK]]'s trained
    * mode.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, maxIter: Int): Array[Array[Float]] =
    kmeansFit(corpus, k, maxIter, trace = false)._1

  /** Lloyd fit with the per-iteration objective trace: trace(t) =
    * Σ_x cos(x, nearest centroid under the t-th centroid set), t = 0
    * being the deterministic lowest-id init. Spherical-k-means
    * monotonicity — the assignment step maximizes each term, and since
    * cosine is scale-invariant the mean update points along the
    * normalized-sum direction, so both half-steps are non-decreasing —
    * makes the trace a checkable correctness property of the whole
    * Lloyd machinery (q_kmeans asserts it per iteration). The trace
    * costs one extra aggregate scan per recorded point; `trace = false`
    * ([[kmeansCentroids]]) skips it.
    */
  def kmeansFit(corpus: DataFrame, k: Int, maxIter: Int,
                trace: Boolean = true): (Array[Array[Float]], Seq[Double]) = {
    ensureRegistered(corpus)
    // the loop scans the SAME (id, embedding) relation maxIter(+trace)
    // times: persist it once — and spread it first, because every
    // iteration's assignment + vector-sum aggregate is a narrow pass
    // that otherwise runs in the scan's single input split (one task
    // per iteration on a one-file table, O(iters · corpus · k · dim)
    // of serial work)
    val rel = Materialize.multiScan(Materialize.spread(
      corpus.select(col("id"), col("embedding"))))
    val first = rel.select(col("embedding")).head()
    val dim = first.getSeq[Float](0).length
    var cents: Array[Array[Float]] = rel.orderBy(col("id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val objs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def objective(cs: Array[Array[Float]]): Double =
      rel.agg(sum(graft.functions.VectorFunctions
        .bestCentroidSim(col("embedding"), indexed(cs))).as("obj"))
        .head().getDouble(0)
    if (trace) objs += objective(cents)
    var iter = 0
    while (iter < maxIter) {
      val assigned = rel.withColumn("cell",
        cellOf(col("embedding"), indexed(cents)).cast("int"))
      // ONE vector-sum aggregate (double[dim] buffer + count, map-side
      // partial merge) instead of dim separate avg(embedding[i])
      // expressions — the expression-per-dimension form blows up the
      // plan and the per-row update cost at production dims (1024-4096).
      // The division happens here on the driver: k×dim doubles.
      val updated = assigned.groupBy(col("cell"))
        .agg(graft.functions.VectorFunctions
          .vecSumCount(col("embedding"), dim).as("sc"))
        .select(col("cell"), col("sc.sum"), col("sc.n")).collect()
        .map { r =>
          val s = r.getSeq[Double](1)
          val n = r.getLong(2).toDouble
          r.getInt(0) -> Array.tabulate(dim)(i => (s(i) / n).toFloat)
        }.toMap
      cents = Array.tabulate(k)(i => updated.getOrElse(i, cents(i)))
      if (trace) objs += objective(cents)
      iter += 1
    }
    (cents, objs.toSeq)
  }

  /** Per-vector symmetric int8 quantization: q_i = round(x_i · 127 / m)
    * with m = max|x_i| — the standard 4× storage/IO shrink for embedding
    * columns at corpus scale (dequantize as q_i · m / 127, max error
    * m/254). Pure builtins in double precision with floor(x+0.5)
    * rounding, so any engine reproduces the exact int8 values — the
    * quantizer itself is oracle-checkable. Zero vectors quantize to
    * zeros (m = 0 guard).
    *
    * @return array<int> column (int8 range; int-typed for portability)
    */
  def quantizeInt8(emb: Column): Column = {
    val m = array_max(transform(emb, x => abs(x.cast("double"))))
    when(m === 0.0, transform(emb, _ => lit(0)))
      .otherwise(transform(emb,
        x => floor(x.cast("double") * 127.0 / m + 0.5).cast("int")))
  }

  /** Inverse of [[quantizeInt8]] given the original max-abs scale. */
  def dequantizeInt8(q: Column, maxAbs: Column): Column =
    transform(q, v => (v.cast("double") * maxAbs / 127.0).cast("float"))

  /** Near-duplicate pairs by embedding cosine ≥ tau, blocked by a
    * category column (same-label pairs only) so the pair space is
    * per-block quadratic instead of globally quadratic. At larger scale
    * swap the blocking key for an SRP signature — [[nearDupPairsSrp]],
    * same join shape.
    */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
                   blockCol: String, tau: Double): DataFrame = {
    ensureRegistered(df)
    val t = df.select(col(idCol).as("id"), col(embCol).as("emb"), col(blockCol).as("blk"))
    val a = t.as("a")
    val b = t.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("sim", round(cosine(col("a.emb"), col("b.emb")), 3))
      .filter(col("sim") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** Semantic benchmark decontamination: flag corpus vectors whose
    * cosine to ANY benchmark vector reaches tau — the embedding
    * complement of [[Corpus.decontaminate]]'s n-gram overlap (catches
    * paraphrased contamination that shares no shingle). Benchmark sets
    * are small by nature, so the join is a broadcast against a single
    * corpus scan — no shuffle of the corpus, linear at any scale; at
    * extreme benchmark sizes swap in the SRP bucket join of
    * [[nearDupPairsSrp]].
    *
    * Corpus and benchmark are treated as SEPARATE datasets: every
    * (corpus, benchmark) vector pair is compared, including pairs whose
    * ids happen to collide — the two id namespaces are unrelated, so an
    * id-inequality guard would silently skip real comparisons. For
    * self-decontamination (benchmark drawn from the corpus itself),
    * exclude the benchmark rows from the corpus argument instead.
    *
    * @return (id, n_matches, max_sim) — one row per contaminated doc
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, embCol: String,
                            tau: Double): DataFrame = {
    ensureRegistered(corpus)
    // spread: the corpus × benchmark scoring scan is the whole operator
    // and otherwise runs with the scan's single-split partitioning
    val c = Materialize.spread(
      corpus.select(col(idCol).as("id"), col(embCol).as("emb")))
    val b = benchmark.select(col(idCol).as("b_id"), col(embCol).as("b_emb"))
    c.crossJoin(broadcast(b))
      .withColumn("sim", round(cosine(col("emb"), col("b_emb")), 3))
      .filter(col("sim") >= tau)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"), max(col("sim")).as("max_sim"))
  }

  /** The label-free scale path for embedding near-dup: blocking key =
    * SRP-LSH bucket (table, signature). Cosine-close vectors land in the
    * same bucket in SOME table with high probability, so candidate pairs
    * come from per-bucket joins — never all-pairs, no label needed.
    * More tables = higher recall, linearly more candidates (the standard
    * LSH dial); within-bucket pairs are verified with exact cosine, so
    * reported pairs are TRUE near-dups (recall<1, precision=1 wrt τ).
    * Deterministic end-to-end (md5-derived hyperplanes), which keeps
    * even this approximate operator oracle-checkable.
    */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster embeddings into k coarse cells, find
    * cosine near-duplicates WITHIN each cell only, group them into
    * connected components, and keep one survivor per component — the
    * member FARTHEST from its cell centroid (the paper's low-centroid-
    * similarity pick, which retains the least-typical exemplar), ties
    * to the lowest id.
    *
    * Why cells first: all-pairs cosine is quadratic in the corpus; the
    * k cells bound the pair space to Σ n_c² ≈ n²/k for balanced cells —
    * the clustering IS the blocking key, so the near-dup join is
    * per-cell quadratic and embarrassingly parallel across cells. A
    * semantic duplicate pair is cosine-close by definition, so both
    * members land in the same cell except exactly at a cell boundary —
    * the paper's own accepted approximation.
    *
    * Deterministic end-to-end at `trainIters = 0` (lowest-id centroid
    * seeds, the [[ivfTopK]] convention): cell assignment, within-cell
    * pairs, components, and the survivor pick all replay in external
    * SQL, so even the composite is oracle-checkable. `trainIters > 0`
    * runs Lloyd k-means ([[kmeansCentroids]]) for honest cells at scale.
    *
    * Shape: one shuffle-free assignment scan (centroid matrix rides as
    * one reference object + a broadcast join for the per-cell centroid
    * vector), the per-cell self-join on the cached assignment, then
    * component/survivor work on the PAIR LIST — orders of magnitude
    * smaller than the corpus.
    *
    * @return (id, cell, cluster_id, cent_sim, keep) — one row per doc;
    *         `keep` marks singletons and cluster survivors
    */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
                    k: Int, tau: Double, trainIters: Int = 0,
                    collapseExact: Boolean = true): DataFrame = {
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
    val cents: Array[(Long, Array[Float])] =
      if (trainIters > 0)
        indexed(kmeansCentroids(
          base.select(col("id"), col("emb").as("embedding")), k, trainIters))
      else indexed(base.orderBy(col("id")).limit(k)
        .select(col("emb")).collect().map(_.getSeq[Float](0).toArray))
    import spark.implicits._
    val centsDf = cents.toSeq.map { case (c, v) => (c.toInt, v) }
      .toDF("cell", "cent")
    // spread before the persist: assignment + the per-cell pair join run
    // with the scan's partitioning otherwise (single task on a one-file
    // table) — the cellNeighbors fix, same mechanism
    val assigned = Materialize.multiScan(
      Materialize.spread(base)
        .withColumn("cell", cellOf(col("emb"), cents).cast("int"))
        .join(broadcast(centsDf), Seq("cell"))
        .withColumn("cent_sim", round(cosine(col("emb"), col("cent")), 3))
        .drop("cent"))
    // Exact-duplicate pre-collapse (default): a cell dominated by
    // IDENTICAL vectors (scraped boilerplate embedded n times) makes
    // the within-cell pair join quadratic in the duplicate count.
    // Identical vectors are cosine-1 pairs at any tau (zero-norm
    // excepted: cosine is defined 0 there), so pairing ONE
    // representative per distinct vector and star-connecting the rest
    // yields exactly the same connected components — SCALE.md
    // "Adversarial skew" records the blowup this removes (the
    // semanticDedup hostile shape); the dedup_semantic oracle pins output
    // identity to the all-pairs formulation.
    val pairs =
      if (!collapseExact) nearDupPairs(assigned, "id", "emb", "cell", tau)
      else {
        val withFp = Materialize.multiScan(assigned.withColumn("efp",
          md5(concat_ws(",", col("emb").cast("array<string>")))))
        val reps = Materialize.multiScan(
          withFp.groupBy(col("cell"), col("efp"))
            .agg(min(col("id")).as("id"), first(col("emb")).as("emb")))
        val repPairs = nearDupPairs(reps, "id", "emb", "cell", tau)
          .select(col("id_a"), col("id_b"))
        val starPairs = withFp
          .join(reps.select(col("cell"), col("efp"), col("id").as("rep_id")),
            Seq("cell", "efp"))
          .filter(col("id") =!= col("rep_id") &&
            round(cosine(col("emb"), col("emb")), 3) >= tau)
          .select(col("rep_id").as("id_a"), col("id").as("id_b"))
        repPairs.unionByName(starPairs)
      }
    val clusters = Dedup.connectedComponents(pairs)
    // survivor = max score = MIN centroid similarity (ties → min id)
    val surv = Dedup.survivors(clusters,
      assigned.select(col("id"), (-col("cent_sim")).as("score")))
    assigned.join(clusters.select(col("id"), col("cluster")), Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col("id")))
      .join(surv.select(col("cluster_id"), col("survivor_id")),
        Seq("cluster_id"), "left")
      .withColumn("keep",
        col("survivor_id").isNull || col("survivor_id") === col("id"))
      .select(col("id"), col("cell"), col("cluster_id"),
        col("cent_sim"), col("keep"))
  }

  def nearDupPairsSrp(df: DataFrame, idCol: String, embCol: String,
                      tau: Double, dim: Int, nBits: Int,
                      nTables: Int = 4): DataFrame = {
    ensureRegistered(df)
    // self-join: compute the signatures once (lazy cache — see Materialize)
    val t = Materialize.multiScan(
      Materialize.spread(df).select(col(idCol).as("id"), col(embCol).as("emb"))
        .withColumn("tsig", explode(array((0 until nTables).map(tb =>
          struct(lit(tb).as("t"),
            srpSignature(col("emb"), dim, nBits, tb).as("s"))): _*))))
    val a = t.as("a")
    val b = t.as("b")
    a.join(b, col("a.tsig") === col("b.tsig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.emb").as("ea"), col("b.emb").as("eb"))
      .distinct() // a pair may collide in several tables
      .withColumn("sim", round(cosine(col("ea"), col("eb")), 3))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Per-label EMBEDDING CARD — the vector-space sibling of
    * [[Corpus.corpusCard]]: one row per label with volume, dimension
    * consistency (a mixed-dim label is an ingestion bug every
    * downstream ANN index would hit), zero-vector count (cosine is
    * defined 0 against them — they poison near-dup verification),
    * and the norm distribution (mean + exact p50/p90 via
    * [[Prefix.groupPercentiles]] — no value-buffering percentile
    * aggregate). The mean norm crosses engines as an INTEGER: each
    * row's norm rounds to 1e-4 units first and the longs sum exactly,
    * so no accumulation-order-sensitive double sum exists anywhere
    * (the per-row norm itself is an index-order fold, the same
    * accumulation [[graft.functions.CosineSim]] uses, which DuckDB's
    * `list_dot_product` reproduces).
    *
    * @return (label, n_vecs, dim, n_dims, zero_vecs, mean_norm_x1e4,
    *         p50_norm, p90_norm)
    */
  /** Frozen reference for the EMBEDDING-space streaming drift monitor —
    * [[embeddingCard]] wired into the [[DataQuality.PsiProfile]]
    * freeze-then-tick shape: per label, the reference centroid and
    * dispersion (mean Euclidean distance to the centroid), computed
    * ONCE at stream startup and applied to every micro-batch by
    * [[embeddingDriftTick]]. The profile is label-cardinality ×
    * dim doubles — broadcastable at any corpus scale.
    */
  final case class LabelDriftRef(n: Long, centroid: Seq[Double],
                                 dispersion: Double)
  final case class EmbeddingDriftProfile(dim: Int,
                                         labels: Map[String, LabelDriftRef])

  /** Build an [[EmbeddingDriftProfile]]: one vector-sum aggregate pass
    * for the per-label centroids ([[graft.functions.VectorFunctions
    * .vecSumCount]] — double[dim] buffer, map-side partial merge, NOT
    * dim separate avg() expressions), then one distance pass for the
    * dispersions (centroids broadcast back). Vectors must share one
    * dimension — mixed-dim labels are the ingestion bug
    * [[embeddingCard]]'s `n_dims` column exists to flag; run the card
    * first.
    */
  def embeddingDriftProfile(ref: DataFrame, vecCol: String,
                            labelCol: String): EmbeddingDriftProfile = {
    ensureRegistered(ref)
    // null labels are excluded like null vectors (a NULL group would
    // survive the centroid aggregate but never match the dispersion
    // join — SQL null equality — and crash the profile assembly);
    // monitor labeled data, or constant-label the column first
    val r1 = ref.filter(col(vecCol).isNotNull &&
      col(labelCol).isNotNull)
    val head = r1.select(col(vecCol)).take(1)
    require(head.nonEmpty,
      "embeddingDriftProfile: reference snapshot has no non-null " +
        "vectors — a drift monitor needs a populated reference")
    val dim = head(0).getSeq[Float](0).length
    val spark = ref.sparkSession
    import spark.implicits._
    val cents = r1.groupBy(col(labelCol).cast("string").as("label"))
      .agg(graft.functions.VectorFunctions
        .vecSumCount(col(vecCol), dim).as("sc"))
      .select(col("label"), col("sc.sum"), col("sc.n")).collect()
      .map { r =>
        val s = r.getSeq[Double](1); val n = r.getLong(2)
        (r.getString(0), s.map(_ / n), n)
      }
    val centDf = cents.toSeq.map { case (l, c, _) => (l, c) }
      .toDF("label", "__cent")
    val disp = r1
      .select(col(labelCol).cast("string").as("label"),
        col(vecCol).as("__v"))
      .join(broadcast(centDf), Seq("label"))
      .select(col("label"),
        sqrt(aggregate(
          zip_with(col("__v"), col("__cent"),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, z) => acc + z)).as("__d"))
      .groupBy(col("label"))
      .agg(sum(col("__d")).as("sd"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        r.getDouble(1) / r.getLong(2)).toMap
    EmbeddingDriftProfile(dim, cents.map { case (l, c, n) =>
      l -> LabelDriftRef(n, c, disp(l)) }.toMap)
  }

  /** One embedding-drift TICK against the frozen profile: per label in
    * the batch, the batch-centroid's distance to the frozen centroid in
    * DISPERSION units — score s means "the batch mean sits s reference
    * mean-radii away from where this label lived at freeze time" (a
    * same-distribution batch of b vectors concentrates near
    * dispersion/√b, so scores ≪ 1; a real mean shift scores ≥ 1
    * regardless of batch size). Stateless: ONE vector-sum aggregate
    * over the batch, then label-cardinality driver arithmetic — the
    * [[DataQuality.psiTick]] posture for vector columns.
    *
    * @return label → (n_vecs, score); a label UNSEEN at freeze time
    *         scores NaN (no reference — callers alert on new-label
    *         rather than reading a distance into nothing); a
    *         zero-dispersion reference label (degenerate single point)
    *         scores 0 at distance 0 and +∞ otherwise; an empty batch
    *         returns an empty map
    */
  def embeddingDriftTick(profile: EmbeddingDriftProfile, batch: DataFrame,
                         vecCol: String,
                         labelCol: String): Map[String, (Long, Double)] = {
    ensureRegistered(batch)
    batch.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(labelCol).cast("string").as("label"))
      .agg(graft.functions.VectorFunctions
        .vecSumCount(col(vecCol), profile.dim).as("sc"))
      .select(col("label"), col("sc.sum"), col("sc.n")).collect()
      .map { r =>
        val label = r.getString(0)
        val s = r.getSeq[Double](1); val n = r.getLong(2)
        val score = profile.labels.get(label) match {
          case None => Double.NaN
          case Some(ref) =>
            val dist = math.sqrt(ref.centroid.indices.map { i =>
              val d = s(i) / n - ref.centroid(i); d * d }.sum)
            if (ref.dispersion == 0.0) {
              if (dist == 0.0) 0.0 else Double.PositiveInfinity
            } else dist / ref.dispersion
        }
        label -> ((n, score))
      }.toMap
  }

  /** kNN LABEL AGREEMENT — the confident-learning-style label-noise
    * audit (Northcutt et al.'s intuition, reduced to its distributed
    * core): for each audited vector, the fraction of its k nearest
    * neighbors (cosine, self excluded) sharing its label, in integer
    * basis points. A correctly-labeled point in a coherent class sits
    * among same-label neighbors; agreement ≪ 50% marks a likely
    * mislabel or a class-boundary straddler — the rows a training-set
    * audit reads FIRST, because label noise is invisible to every
    * text/dedup signal in this library.
    *
    * This is the EXACT probe-audit form: `probes` (the audit slice) is
    * broadcast against the full corpus — linear in corpus × |probes|,
    * the [[bruteForceTopK]] shape. Auditing the ENTIRE corpus this way
    * is the n² trap; use [[labelAgreementCells]] for the full-corpus
    * scale path.
    *
    * Denominator is the ACTUAL neighbor count (min(k, n−1)), so a
    * smaller-than-k corpus still yields honest basis points; all
    * arithmetic integer (floor `div`), oracle-replayable.
    *
    * @return (vec_id, label, n_same, n_nbrs, agreement_bp)
    */
  def labelAgreement(corpus: DataFrame, idCol: String, embCol: String,
                     labelCol: String, k: Int,
                     probes: DataFrame): DataFrame = {
    val topk = bruteForceTopK(
      corpus.select(col(idCol).as("id"), col(embCol).as("embedding")),
      probes.select(col(idCol).as("id"), col(embCol).as("embedding")), k)
    agreementOf(topk
      .select(col("query_id"), col("nn_id")), corpus, idCol, labelCol)
  }

  /** Full-corpus label agreement restricted to IVF cells: every vector
    * is assigned to its nearest of `nCells` deterministic centroids
    * (lowest-id vectors, cosine ties to the lower centroid id — the
    * [[diversitySample]] convention) and neighbors are searched WITHIN
    * the cell only. Approximate where a true neighbor lives across a
    * cell boundary, but the audit signal survives: a mislabeled point's
    * cell-mates are still overwhelmingly the other class.
    *
    * Scale rule — nCells ∝ √n, the true IVF rule (same as [[ivfTopK]]):
    * the centroid table is a bounded O(√n) driver collect that rides
    * into every task as ONE array literal (at 10⁹ vectors that is ~3·10⁴
    * centroids, a few MB — the corpus itself is never collected or
    * broadcast), and assignment is one shuffle-free fused-codegen scan
    * at O(n·√n·dim). Balanced cells then hold ~√n members, so the
    * un-dialed within-cell join is Σ|cell|² ≈ n·√n — at scale SET
    * `maxCellPool`, which caps it at O(n·maxCellPool) = linear and
    * doubles as the mega-cell skew defense (see [[cellNeighbors]]).
    * Do NOT run nCells ∝ n: that makes the driver collect O(n) and the
    * assignment scan quadratic. Vectors alone in their cell have no
    * neighbors and are absent from the output (no evidence either way).
    *
    * @return (vec_id, label, n_same, n_nbrs, agreement_bp)
    */
  def labelAgreementCells(corpus: DataFrame, idCol: String, embCol: String,
                          labelCol: String, k: Int, nCells: Int,
                          maxCellPool: Int = Int.MaxValue): DataFrame =
    agreementOf(cellNeighbors(corpus, idCol, embCol, k, nCells, maxCellPool),
      corpus, idCol, labelCol)

  /** The cell-restricted kNN relation shared by [[labelAgreementCells]]
    * and [[labelConfusion]]: deterministic lowest-id centroids, cosine
    * cell assignment, within-cell top-k by (rounded sim desc, id asc).
    *
    * `maxCellPool` is the MEGA-CELL skew dial AND the linearity dial at
    * scale: under the nCells ∝ √n rule balanced cells hold ~√n members
    * (so the dial turns n·√n pair work into n·pool), and regardless of
    * the centroid count no split breaks up a blob of
    * near-identical vectors (the boilerplate-embedded-n-times shape) —
    * one cell holds the blob and Σ|cell|² goes quadratic. The dial
    * caps each cell's CANDIDATE POOL at the `maxCellPool` members with
    * the smallest (xxhash64(id), id) — a deterministic sample; every
    * vector is still audited (the query side is never restricted), its
    * neighbors are just drawn from the sampled pool. In exactly the
    * mega-cell case the sample is statistically safe: pool members are
    * near-identical to the excluded ones, so the k nearest from the
    * pool carry the same labels a full search would return.
    * Cost: |cell|·min(|cell|, maxCellPool) instead of |cell|². A
    * loose dial (≥ max cell size) is a measured NO-OP (spec'd).
    *
    * @return (query_id, nn_id)
    */
  private def cellNeighbors(corpus: DataFrame, idCol: String,
                            embCol: String, k: Int, nCells: Int,
                            maxCellPool: Int = Int.MaxValue): DataFrame = {
    ensureRegistered(corpus)
    val cents = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cid"), col(embCol).as("cent"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // spread before the persist: the cell assignment AND the within-cell
    // scoring join below otherwise inherit the scan's partitioning — one
    // task for a single-file table, i.e. the whole |cell|² cosine pass
    // runs serially (measured: one 1.0 s single-task stage dominating
    // label_kappa's warm run)
    val assigned = Materialize.multiScan(
      Materialize.spread(corpus.select(col(idCol).as("id"),
          col(embCol).as("emb")))
        .withColumn("cell", cellOf(col("emb"), cents)))
    val pool = if (maxCellPool == Int.MaxValue) assigned else {
      val pw = Window.partitionBy(col("cell"))
        .orderBy(xxhash64(col("id")), col("id"))
      assigned.withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= maxCellPool).drop("pr")
    }
    val a = assigned.as("a")
    val b = pool.as("b")
    val scored = a.join(b,
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("nn_id"),
        round(cosine(col("a.emb"), col("b.emb")), 3).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"))
  }

  /** kNN-predicted-label CONFUSION MATRIX on the cell-restricted scale
    * path: each vector's predicted label is the MAJORITY label of its
    * k within-cell neighbors (ties to the highest count, then the
    * smaller label — fully deterministic), cross-tabulated against the
    * given label. Where [[labelAgreement]] scores points one at a time,
    * the confusion matrix shows the STRUCTURE of the noise: a hot
    * off-diagonal cell (i, j) means class i systematically bleeds into
    * class j — a merge candidate or an annotation-guideline defect, not
    * random noise. Vectors alone in their cell have no neighbors and
    * are absent (consistent with [[labelAgreementCells]]).
    *
    * @return (label, predicted_label, n)
    */
  def labelConfusion(corpus: DataFrame, idCol: String, embCol: String,
                     labelCol: String, k: Int, nCells: Int,
                     maxCellPool: Int = Int.MaxValue): DataFrame = {
    val labels = corpus.select(col(idCol).as("id"), col(labelCol).as("l"))
    val voted = cellNeighbors(corpus, idCol, embCol, k, nCells, maxCellPool)
      .join(labels.select(col("id").as("query_id"), col("l").as("label")),
        Seq("query_id"))
      .join(labels.select(col("id").as("nn_id"), col("l").as("nn_label")),
        Seq("nn_id"))
      .groupBy(col("query_id"), col("label"), col("nn_label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("nn_label").asc)
    voted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label"), col("nn_label").as("predicted_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohen's kappa over a [[labelConfusion]] matrix, integer micros end
    * to end: po = observed agreement, pe = chance agreement from the
    * row×column margins, κ = (po − pe)/(1 − pe). All divisions are
    * integral (`div`, truncation toward zero — DuckDB's `//` agrees on
    * negatives, so a worse-than-chance negative κ replays exactly);
    * κ is clamped to 10⁶ when pe saturates (single-class degenerate
    * matrix, where κ is undefined and agreement is trivially perfect).
    * κ corrects the "accuracy looks fine because one class dominates"
    * failure of a raw agreement rate — the number to gate a labeled
    * corpus on. Long arithmetic bounds the audited count at
    * n ≤ ~3·10⁶ (10⁶·n² must fit a long); audit a sample beyond that.
    *
    * @return one row (n_total, n_agree, po_micro, pe_micro, kappa_micro)
    */
  def labelKappaCard(conf0: DataFrame): DataFrame = {
    // persist the (labels × labels)-sized matrix: the totals, row-margin
    // and column-margin aggregates below are three consumers, and
    // without the share point each re-runs the ENTIRE upstream confusion
    // pipeline — the |cell|² kNN self-join — once per consumer
    val conf = Materialize.multiScan(conf0)
    val tot = conf.agg(sum(col("n")).as("n_total"),
      sum(when(col("label") === col("predicted_label"), col("n"))
        .otherwise(0L)).as("n_agree"))
    val rowm = conf.groupBy(col("label")).agg(sum(col("n")).as("rn_"))
    val colm = conf.groupBy(col("predicted_label").as("label"))
      .agg(sum(col("n")).as("cn_"))
    val rc = rowm.join(colm, Seq("label"))
      .agg(coalesce(sum(expr("rn_ * cn_")), lit(0L)).as("rc"))
    tot.crossJoin(rc)
      .withColumn("po_micro", expr("(1000000 * n_agree) div n_total"))
      .withColumn("pe_micro", expr("(1000000 * rc) div (n_total * n_total)"))
      .select(col("n_total"), col("n_agree"), col("po_micro"),
        col("pe_micro"),
        when(col("pe_micro") >= 1000000L, lit(1000000L))
          .otherwise(expr(
            "(1000000 * (po_micro - pe_micro)) div (1000000 - pe_micro)"))
          .as("kappa_micro"))
  }

  /** (query_id, nn_id) neighbor relation → per-query agreement stats
    * against the corpus labels: two id-keyed label joins + one keyed
    * aggregate, integer basis points.
    */
  private def agreementOf(nbrs: DataFrame, corpus: DataFrame,
                          idCol: String, labelCol: String): DataFrame = {
    val labels = corpus.select(col(idCol).as("id"), col(labelCol).as("l"))
    nbrs
      .join(labels.select(col("id").as("query_id"), col("l").as("label")),
        Seq("query_id"))
      .join(labels.select(col("id").as("nn_id"), col("l").as("nn_label")),
        Seq("nn_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(sum(when(col("nn_label") === col("label"), 1L).otherwise(0L))
          .as("n_same"),
        count(lit(1)).as("n_nbrs"))
      .select(col("query_id").as("vec_id"), col("label"), col("n_same"),
        col("n_nbrs"),
        expr("(10000 * n_same) div n_nbrs").as("agreement_bp"))
  }

  /** Per-label roll-up of [[labelAgreementCells]]: audited count, mean
    * agreement (integer bp), and the suspect count (< 50% agreement) —
    * the one-glance "which class has dirty labels" card.
    *
    * @return (label, n_audited, mean_agreement_bp, n_suspect)
    */
  def labelAgreementCard(agreement: DataFrame): DataFrame =
    agreement.groupBy(col("label")).agg(
      count(lit(1)).as("n_audited"),
      expr("sum(agreement_bp) div count(1)").as("mean_agreement_bp"),
      sum(when(col("agreement_bp") < 5000, 1L).otherwise(0L)).as("n_suspect"))

  def embeddingCard(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    def r(c: Column, s: Int): Column = {
      val f = math.pow(10, s)
      floor(c * f + 0.5) / f
    }
    val base = df.select(col(labelCol).as("label"), col(idCol).as("id"),
      size(col(vecCol)).as("dim"),
      sqrt(aggregate(col(vecCol), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("nrm"))
    val agg = base.groupBy(col("label")).agg(
      count(lit(1)).as("n_vecs"),
      max(col("dim")).as("dim"),
      countDistinct(col("dim")).as("n_dims"),
      count(when(col("nrm") === 0.0, 1)).as("zero_vecs"),
      sum(floor(col("nrm") * 1e4 + 0.5).cast("long")).as("__s"))
    val pct = Prefix.groupPercentiles(base, Seq("label"), col("nrm"),
      tiebreak = Seq(col("id")), ps = Seq(0.5 -> "p50x", 0.9 -> "p90x"))
    agg.join(pct, Seq("label"))
      .select(col("label"), col("n_vecs"), col("dim"), col("n_dims"),
        col("zero_vecs"),
        floor(col("__s").cast("double") / col("n_vecs") + 0.5).cast("long")
          .as("mean_norm_x1e4"),
        r(col("p50x"), 4).as("p50_norm"), r(col("p90x"), 4).as("p90_norm"))
  }
}
