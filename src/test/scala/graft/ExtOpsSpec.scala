package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextOps}

/** Extension operators validated on the sf0.001 tables plus synthetic
  * edge cases: MinHash-LSH recall against exact Jaccard, SimHash and SRP
  * sanity, text heuristics on known inputs.
  */
class ExtOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("minhash-LSH candidates recall high-jaccard pairs") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)).collect().toSet
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 16)
    val cands = Dedup.minhashCandidates(sigs, k = 16, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)).collect().toSet
    // banding with b=4,r=4 catches ~all pairs at J>=0.5 (P ~ 1-(1-J^4)^4)
    if (exact.nonEmpty) {
      val recall = exact.count(cands.contains).toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} true pairs")
    }
    assert(cands.nonEmpty)
  }

  test("OPH signatures: identical docs collide, densification is exact") {
    import spark.implicits._
    val k = 16
    val c = (1L << 32) / k + 1
    // identical text -> identical signature (the property banding needs)
    val twins = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here entirely unrelated"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesOph(twins, "doc_id", "text", n = 3, k = k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs.values.forall(_.length == k))
    // single-shingle doc: ONE native bin j holds mv, every other
    // position borrows cyclically -> the value set is EXACTLY
    // {mv + h*C : h in 0..k-1} (each borrow distance occurs once)
    val solo = Seq((9L, "one two three")).toDF("doc_id", "text") // 1 trigram
    val s = Dedup.minhashSignaturesOph(solo, "doc_id", "text", n = 3, k = k)
      .collect().head.getSeq[Long](1).toVector
    val mv = s.min
    assert(s.toSet == (0 until k).map(h => mv + h * c).toSet,
      s"densified value set wrong: $s")
    // OPH signatures run through the SAME banding machinery and recall
    // high-jaccard pairs on the fixture
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignaturesOph(docs, "doc_id", "text", n = 3, k = k),
      k = k, bands = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.count(cands.contains).toDouble / exact.size
      assert(recall >= 0.7, s"OPH-LSH recall $recall over ${exact.size} true pairs")
    }
    assert(cands.nonEmpty)
  }

  test("b-bit minwise: twins estimate 1.0, chance correction, recall") {
    import spark.implicits._
    val twins = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here entirely unrelated"))
      .toDF("doc_id", "text")
    val bsigs = Dedup.bbitSignatures(
      Dedup.minhashSignatures(twins, "doc_id", "text", n = 3, k = 64), b = 1)
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val est = Dedup.bbitEstimates(cands, bsigs, k = 64, b = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs: all 64 bits agree -> corrected estimate exactly 1
    assert(est((1L, 2L)) == 1.0)
    // unrelated pair: raw bit agreement ~1/2 corrects to ~0
    assert(est((1L, 3L)) < 0.6, s"far pair too similar: ${est((1L, 3L))}")
    // signatures are b-bit: every value in {0, 1}
    assert(bsigs.collect().forall(_.getSeq[Long](1).forall(v => v == 0L || v == 1L)))
    // full pipeline recall on the fixture: full-width LSH candidates,
    // b-bit estimate filter, vs exact pairs at tau=0.5 (deterministic)
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshCands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 16),
      k = 16, bands = 4)
    val kept = Dedup.bbitEstimates(lshCands,
      Dedup.bbitSignatures(
        Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 64), b = 1),
      k = 64, b = 1)
      .filter(col("est_jacc") >= 0.25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.count(kept.contains).toDouble / exact.size
      assert(recall >= 0.6, s"b-bit recall $recall over ${exact.size} true pairs")
    }
  }

  test("lshPlan: factorization completeness and S-curve monotonicity") {
    val plan = Dedup.lshPlan(spark, 16).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(6))).toMap
    assert(plan.keySet == Set((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)))
    // more bands (fewer rows) -> lower threshold, higher p everywhere
    val byBands = plan.toSeq.sortBy(_._1._1)
    assert(byBands.map(_._2._1) == byBands.map(_._2._1).sorted.reverse,
      "s50 must fall as bands grow")
    assert(byBands.map(_._2._2) == byBands.map(_._2._2).sorted,
      "p(0.3) must rise as bands grow")
    // hand-checked corners: b=16,r=1 -> p = 1-(1-s)^16; at s=0.9 ~ 1.0
    assert(plan((16, 1))._3 == 1.0)
    // b=4,r=4: s50 = (1/4)^(1/4) = 0.7071
    assert(math.abs(plan((4, 4))._1 - 0.7071) < 1e-9)
  }

  test("prefix-filtered jaccard route is row-identical to the full index") {
    val docs = Tables.documents(spark, sf)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (tau <- Seq(0.25, 0.5, 0.8)) {
      val full = rows(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = tau))
      val pref = rows(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 3, tau = tau))
      assert(pref == full, s"tau=$tau: prefix route diverged " +
        s"(only-full=${(full -- pref).take(3)}, only-prefix=${(pref -- full).take(3)})")
    }
    // maxDocFreq composes with the same under-approximation semantics
    val fullCap = rows(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      tau = 0.25, maxDocFreq = 5))
    val prefCap = rows(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 3,
      tau = 0.25, maxDocFreq = 5))
    assert(prefCap == fullCap)
  }

  test("prefix filter keeps pairs sitting exactly on the threshold") {
    import spark.implicits._
    // 1-shingles = words: set overlaps are constructed exactly.
    // J({a,b,c},{a,b,d}) = 2/4 = 0.5 — equality at tau must survive the
    // float-slacked prefix length and positional bound.
    // J({a,b},{a,b,c,d}) = 0.5 hits the length-ratio boundary m_a = tau*m_b.
    // {x1} vs {x1} (J=1, m=1: prefix length 1-1+1=1) pins the tiny-set path.
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"),
      (3L, "a b"), (4L, "a b c d"),
      (5L, "x1"), (6L, "x1"),
      (7L, "q r s t u v w x")).toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.25, 0.75, 1.0)) {
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 1, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"tau=$tau: $pref vs $full")
    }
    // fuzz: seeded random word-sets across a vocabulary small enough to
    // force heavy overlap — route equivalence on adversarial densities
    val rnd = new scala.util.Random(7)
    val fuzz = (0L until 60L).map { i =>
      val sz = 1 + rnd.nextInt(12)
      (i, Seq.fill(sz)(s"w${rnd.nextInt(20)}").distinct.mkString(" "))
    }.toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.6, 0.9)) {
      val full = Dedup.jaccardPairs(fuzz, "doc_id", "text", n = 1, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.jaccardPairsPrefix(fuzz, "doc_id", "text", n = 1, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"fuzz tau=$tau diverged")
    }
  }

  test("prefix candidate generation strictly undercuts the full index") {
    val docs = Tables.documents(spark, sf)
    val (full, pref) = Dedup.jaccardCandidateCounts(docs, "doc_id", "text",
      n = 3, tau = 0.25)
    // exactness means both candidate sets contain every true pair; the
    // reduction is pure avoided verification work
    val truePairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.25)
      .count()
    assert(pref >= truePairs, "candidates must cover every true pair")
    assert(pref <= full, "prefix candidates are a subset relation in count")
    assert(pref < full,
      s"fixture must show a real reduction (full=$full pref=$pref)")
  }

  test("containment catches the embedded quote that jaccard misses") {
    import spark.implicits._
    // host: 120 distinct words with a 20-word passage embedded; src: the
    // passage alone. J = 18/(118+18-18) ≈ 0.15 (3-shingles) — invisible
    // at τ=0.25 — while C(src→host) = 1.0.
    val passage = (0 until 20).map(i => s"quote$i").mkString(" ")
    val host = ((0 until 50).map(i => s"pre$i") ++ Seq(passage) ++
      (0 until 50).map(i => s"post$i")).mkString(" ")
    val other = (0 until 40).map(i => s"alien$i").mkString(" ")
    val docs = Seq((1L, host), (2L, passage), (3L, other))
      .toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.25)
      .collect()
    assert(jac.isEmpty, "resemblance must NOT see the embedded quote")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.keySet == Set((2L, 1L)), s"got ${cont.keySet}")
    assert(cont((2L, 1L)) == 1.0, "every src shingle occurs in the host")
    // direction matters: the host is NOT contained in the quote
    val both = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      tau = 0.1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both.contains((1L, 2L)) && both.contains((2L, 1L)))
    // stop-shingle cap: capping at docFreq 1 removes the shared
    // postings entirely -> no pairs (under-approximation, never a
    // false positive)
    assert(Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      tau = 0.5, maxDocFreq = 1).collect().isEmpty)
    // batch-vs-corpus form: arriving quote flagged against the admitted
    // host in the cont_batch direction, host NOT contained in the quote
    for (cache <- Seq(true, false)) {
      val adm = Dedup.containmentAgainst(
          docs.filter(col("doc_id") === 2L), docs.filter(col("doc_id") =!= 2L),
          "doc_id", "text", n = 3, tau = 0.5, cacheCorpus = cache)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      assert(adm.keySet == Set((2L, 1L)), s"cache=$cache: ${adm.keySet}")
      assert(adm((2L, 1L))._1 == 1.0 && adm((2L, 1L))._2 < 0.5)
    }
  }

  test("embeddingCard: norms, zero vectors, dim mismatch, exact percentiles") {
    import spark.implicits._
    // label 1: norms 3,4,5 (3-4-5 triangles) -> p50 = 4.0, p90 = 4.8,
    // mean_x1e4 = (30000+40000+50000)/3 = 40000; label 2: a zero vector
    // and a 2-dim stray among 3-dim rows -> n_dims = 2, zero_vecs = 1
    val rows = Seq(
      (1L, Seq(3f, 0f, 0f), 1),
      (2L, Seq(0f, 4f, 0f), 1),
      (3L, Seq(0f, 0f, 5f), 1),
      (4L, Seq(0f, 0f, 0f), 2),
      (5L, Seq(1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val card = graft.ext.Similarity
      .embeddingCard(rows, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r).toMap
    val a = card(1)
    assert(a.getLong(1) == 3L && a.getInt(2) == 3 && a.getLong(3) == 1L)
    assert(a.getLong(4) == 0L && a.getLong(5) == 40000L)
    assert(a.getDouble(6) == 4.0 && a.getDouble(7) == 4.8)
    val b = card(2)
    assert(b.getLong(1) == 2L && b.getLong(3) == 2L && b.getLong(4) == 1L,
      "mixed dims and the zero vector are both flagged")
  }

  test("identical texts: simhash distance 0, fingerprints equal, exact dedup groups") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "THE  Quick brown FOX"),
      (3L, "utterly different content here")).toDF("doc_id", "text")
    val fps = df.select(TextOps.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2)) // normalization: case+ws
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 2L, 3L -> 1L))
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .orderBy("id").select("sig").as[Long].collect()
    assert(sigs(0) == sigs(1)) // normalization-equal docs: identical simhash
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) > 5)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash signature matches an independent driver-side md5 computation") {
    import spark.implicits._
    val text = "the quick brown Fox  jumps over the lazy dog end"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    // reference implementation, straight from the definition
    def hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val toks = text.toLowerCase.trim.split("\\s+").toSeq
    val sums = new Array[Int](60)
    toks.foreach { t =>
      val h = hash60(t)
      (0 until 60).foreach(j => sums(j) += (if (((h >> j) & 1L) == 1L) 1 else -1))
    }
    val expected = (0 until 60).map(j => if (sums(j) > 0) 1L << j else 0L).sum
    val got = Dedup.simhashSignatures(df, "doc_id", "text")
      .select("sig").as[Long].head()
    assert(got == expected, "one-pass aggregate must equal the definition")
  }

  test("brute-force ANN: self-similarity 1, LSH recalls most true neighbors") {
    val e = Tables.embeddings(spark, sf)
    val corpus = e.select(col("vec_id").as("id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 3).select(col("vec_id").as("id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(corpus, queries, 10)
    val bruteSet = brute.select("query_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bruteSet.size == 30)
    // this corpus has weak neighbors (top-10 cosine ≈ 0.25-0.4 ⇒ per-bit
    // agreement ≈ 0.6), so recall needs few bits + many tables
    val lsh = Similarity.lshTopK(corpus, queries, 10, dim = 64, nBits = 4, nTables = 8)
    val lshSet = lsh.select("query_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bruteSet.count(lshSet.contains).toDouble / bruteSet.size
    assert(recall >= 0.5, s"LSH@10 recall $recall") // multiprobe 1-bit flips
    // cosine sanity: a vector is perfectly similar to itself
    import spark.implicits._
    val v = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val sim = v.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-12)
    // the expression is also a first-class SQL function (GraftExtensions)
    val sqlSim = spark.sql(
      "SELECT cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").as[Double].head()
    assert(math.abs(sqlSim - 1.0) < 1e-12)
  }

  test("zero-norm vectors are cosine-0, never NaN, never near-dups of anything") {
    import spark.implicits._
    // unguarded 0/0 is NaN, and BOTH Spark and DuckDB order NaN above
    // every number — NaN >= tau is TRUE, so a zero embedding would
    // pair with every candidate it meets in every cosine operator
    val z = Seq((Array(0f, 0f), Array(1f, 2f)),
      (Array(0f, 0f), Array(0f, 0f))).toDF("a", "b")
    val sims = z.select(Similarity.cosine(col("a"), col("b")))
      .as[Double].collect()
    assert(sims.toSeq == Seq(0.0, 0.0), s"zero-norm must be 0: ${sims.toSeq}")
    val df = Seq(
      (1L, Array(1f, 0f), "x"), (2L, Array(0.99f, 0.14f), "x"),
      (3L, Array(0f, 0f), "x"), (4L, Array(0f, 0f), "x"))
      .toDF("id", "embedding", "label")
    val pairs = Similarity.nearDupPairs(df, "id", "embedding", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"zero vectors must pair with nothing (not even each other): $pairs")
    val flagged = Similarity.semanticDecontaminate(
        df.filter(col("id") < 3), df.filter(col("id") >= 3),
        "id", "embedding", tau = 0.5)
      .select("id").as[Long].collect()
    assert(flagged.isEmpty,
      s"a zero-vector benchmark must contaminate nothing: ${flagged.toSeq}")
  }

  test("multimodal decode path: media schema, per-partition batching, stub features") {
    import spark.implicits._
    import graft.ext.Multimodal
    val docs = Tables.documents(spark, sf).limit(50)
    val media = Multimodal.asMedia(docs, "doc_id", "text", "text/plain")
    assert(media.schema("content").dataType.typeName == "binary")
    assert(media.schema("media_meta").dataType.typeName == "struct")
    val typed = media.select(col("media_id"), col("content"))
      .withColumn("kind", lit("text/plain"))
      .as[Multimodal.MediaRow]
    val decoded = Multimodal.decodeStub(typed).collect()
    assert(decoded.length == 50)
    // stub features agree with the expression-based fake decode
    val viaExpr = media.select(col("media_id"),
        Multimodal.fakeDecodeMeta(col("content")).as("d"))
      .select(col("media_id"), col("d.width"), col("d.height"), col("d.n_frames"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    decoded.foreach { d =>
      assert(viaExpr(d.media_id) == ((d.width, d.height, d.n_frames)))
      assert(d.sha.length == 32 && d.n_bytes > 0)
    }
  }

  test("text heuristics on known inputs") {
    import spark.implicits._
    val df = Seq(
      "the cat sat on the mat and it was in the sun",
      "xyzzy plugh qwerty",
      "你好 世界").toDF("text")
    val langs = df.select(TextOps.langIdHeuristic(col("text"))).as[String].collect()
    assert(langs.toSeq == Seq("en", "und", "zh"))
    val toks = df.select(TextOps.nTokens(col("text"))).as[Int].collect()
    assert(toks.toSeq == Seq(12, 3, 2))
    val bpe = Seq("don't stop2x!").toDF("text")
      .select(TextOps.nBpeTokens(col("text"))).as[Int].head()
    // don / ' / t / stop / 2 / x / !
    assert(bpe == 7)
    val q = Seq("").toDF("text").select(TextOps.qualityScore(col("text"))).as[Long].head()
    assert(q >= 0 && q <= 100)
  }

  test("jaccardAgainst: batch-vs-corpus pairs only, agrees with the self-join") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // near-dup of 1 (corpus-internal)
      (3L, "one two three four five")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact dup of corpus 1
      (11L, "alpha beta gamma delta eta"),     // near-dup of 1 and 2
      (12L, "totally unrelated words here"),
      (13L, "totally unrelated words here")).toDF("doc_id", "text") // dup of 12, batch-internal
    val out = Dedup.jaccardAgainst(batch, corpus, "doc_id", "text",
      n = 2, tau = 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // batch-vs-corpus only: the corpus-internal pair (1,2) and the
    // batch-internal pair (12,13) must NOT appear
    assert(out == Set((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L)), s"got $out")
    // and each reported pair matches what the self-join over the union
    // finds across the two sides
    val self = Dedup.jaccardPairs(batch.unionByName(corpus), "doc_id", "text",
      n = 2, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val crossFromSelf = self.collect {
      case (a, b) if a <= 3 && b >= 10 => (b, a)
      case (a, b) if b <= 3 && a >= 10 => (a, b)
    }
    assert(out == crossFromSelf, s"A-vs-B $out != self-join cross pairs $crossFromSelf")
  }

  test("minhashCandidatesAgainst equals the cross-side slice of the self-join") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    def sigs(side: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(side, "doc_id", "text", n = 3, k = 16)
    val isBatch = (id: Long) => id % 7 == 0
    val ab = Dedup.minhashCandidatesAgainst(
      sigs(docs.filter(col("doc_id") % 7 === 0)),
      sigs(docs.filter(col("doc_id") % 7 =!= 0)), k = 16, bands = 4)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val self = Dedup.minhashCandidates(sigs(docs), k = 16, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val crossFromSelf = self.collect {
      case (a, b) if isBatch(a) && !isBatch(b) => (a, b)
      case (a, b) if isBatch(b) && !isBatch(a) => (b, a)
    }
    assert(ab == crossFromSelf,
      s"A-vs-B ${ab.size} pairs != self-join cross slice ${crossFromSelf.size}")
    assert(ab.nonEmpty, "fixture produced no cross-side candidates")
  }

  test("simhashAgainst equals the cross-side slice of the self-join") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    def sigs(side: org.apache.spark.sql.DataFrame) =
      Dedup.simhashSignatures(side, "doc_id", "text")
    val isBatch = (id: Long) => id % 7 == 0
    val ab = Dedup.simhashAgainst(
      sigs(docs.filter(col("doc_id") % 7 === 0)),
      sigs(docs.filter(col("doc_id") % 7 =!= 0)), maxDist = 5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val self = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val crossFromSelf = self.collect {
      case (a, b) if isBatch(a) && !isBatch(b) => (a, b)
      case (a, b) if isBatch(b) && !isBatch(a) => (b, a)
    }
    assert(ab == crossFromSelf,
      s"A-vs-B ${ab.size} pairs != self-join cross slice ${crossFromSelf.size}")
  }

  test("incremental-dedup operational loop: in-batch and cross-batch drops, index grows") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val aText = "apple banana cherry dates elder fig grape honey ice jam kiwi lemon"
    val bText = "wolf bear lynx otter moose raven heron crane stork finch robin wren"
    val cText = "iron zinc gold lead tin silver nickel cobalt copper chrome neon argon"
    // tick 1: doc 3 is an in-batch duplicate of doc 1
    val t1 = IncrementalDedup.admitBatch(
      Seq((1L, aText), (2L, bText), (3L, aText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, maxDist = 3, batchId = 0L)
    assert(t1 == ((2L, 1L, 0L)), s"tick1 $t1")
    // tick 2: doc 10 duplicates the ADMITTED doc 1 (cross-batch, via the
    // index); doc 12 duplicates doc 11 in-batch
    val t2 = IncrementalDedup.admitBatch(
      Seq((10L, aText), (11L, cText), (12L, cText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, maxDist = 3, batchId = 1L)
    assert(t2 == ((1L, 1L, 1L)), s"tick2 $t2")
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 11L), s"corpus $corpus")
    val index = spark.read.parquet(indexDir)
      .select("id").as[Long].collect().toSet
    assert(index == corpus, "index must track exactly the admitted docs")
    // SAME-ID replay (failed-attempt recovery): the tick's own
    // partitions are excluded from the probe and overwritten in place —
    // identical counts, no duplicate corpus rows
    val r2 = IncrementalDedup.admitBatch(
      Seq((10L, aText), (11L, cText), (12L, cText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, maxDist = 3, batchId = 1L)
    assert(r2 == t2, s"same-id replay $r2 != $t2")
    val corpusR = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(corpusR == Seq(1L, 2L, 11L), s"replay dup'd corpus: $corpusR")
  }

  test("winnowing: selection matches an independent reference (ties " +
      "rightmost), and the span guarantee holds where anchors miss") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    // reference winnow over the same 3-point hash, O(n*k) brute force
    def refSelect(t: String, win: Int, k: Int): Set[Int] = {
      val b = t.getBytes("UTF-8")
      val nPos = b.length - win + 1
      if (nPos <= 0) return Set.empty
      def h(p: Int) = (b(p) & 0xff) * 4 + (b(p + 3) & 0xff) * 2 + (b(p + 7) & 0xff)
      def amin(lo: Int, hi: Int) =
        (lo to hi).foldLeft(lo)((best, j) => if (h(j) <= h(best)) j else best)
      if (nPos <= k) Set(amin(0, nPos - 1) + 1)
      else (0 to nPos - k).map(j => amin(j, j + k - 1) + 1).toSet
    }
    // low-alphabet strings force hash ties; lengths straddle nPos<k
    val cases = (1 to 12).map(i =>
      (1 to (30 + i * 7)).map(j => "ab".charAt((i * j * 2654435761L % 2).toInt)).mkString +
        "cdefgh".take(i % 6 + 1))
    for (t <- cases) {
      val got = Seq(t).toDF("t")
        .select(explode(graft.functions.VectorFunctions
          .winnowWindows(col("t"), 20, 7)).as("w"))
        .select(col("w.p")).as[Int].collect().toSet
      assert(got == refSelect(t, 20, 7), s"selection mismatch on '$t'")
    }
    // the guarantee: a shared span of win+k-1 bytes is detected at
    // EVERY alignment; the anchor scheme misses some of these
    val win = 40; val k = 15
    val span = "qwertyuiopasdfghjklzxcvbnmqwertyuiopasdfghjklzxcvbnmqw" // 54 = win+k-1
    assert(span.length == win + k - 1)
    def filler(seed: Int, n: Int) =
      (1 to n).map(j => "mno".charAt((seed * 31 + j * 7) % 3)).mkString
    var anchorHits = 0
    for (off <- 0 until 12) {
      val docs = Seq(
        (1L, filler(off, 60 + off) + span + filler(off + 1, 55)),
        (2L, filler(off + 2, 90 - off) + span + filler(off + 3, 50)))
        .toDF("doc_id", "text")
      val w = Dedup.substringDupSpansWinnowed(docs, "doc_id", "text", win, k)
      assert(w.count() >= 1,
        s"winnowing must detect the ${span.length}-byte span at offset $off")
      if (Dedup.substringDupSpans(docs, "doc_id", "text", win, 8).count() >= 1)
        anchorHits += 1
    }
    // contrast, not luck: the CDC rule's probabilistic recall actually
    // misses at least one of these alignments on this fixture
    assert(anchorHits < 12,
      "fixture must exhibit an anchor miss for the guarantee contrast")
  }

  test("dedup ladder: rungs apply sequentially over survivors only, " +
      "and the URL rung is skippable") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "http://a.com/p1"),
      // 2 is a crawl variant of 1's page -> url-dropped
      (2L, "totally different text here", "HTTP://A.COM/p1"),
      // 3 has 2's exact TEXT but its own page: with 2 already
      // url-dropped, 3's exact group is a singleton and SURVIVES —
      // running exact over the full corpus would wrongly drop it
      (3L, "totally different text here", "http://b.com/x"),
      (4L, "one two three four five six seven eight", "http://c.com/1"),
      (5L, "one two three four five six seven nine", "http://c.com/2"),
      // 6 is an exact copy of 5 -> exact-dropped before the near rung
      (6L, "one two three four five six seven nine", "http://c.com/3"))
      .toDF("doc_id", "text", "url")
    val v = Dedup.ladder(docs, "doc_id", "text", Some("url"),
        n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(1L -> None, 2L -> Some("url"), 3L -> None,
      4L -> None, 5L -> Some("near"), 6L -> Some("exact")), s"got $v")
    // without the URL rung, 2 survives and 3 becomes the exact-dup
    val v2 = Dedup.ladder(docs, "doc_id", "text", None, n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(v2(2L).isEmpty && v2(3L) == Some("exact"), s"got $v2")
  }

  test("registeredDomain: longest-suffix match, private registries, " +
      "PSL edge conventions") {
    import spark.implicits._
    val cases = Seq(
      // multi-label registry suffix: last-two-labels would say 'co.uk'
      ("a.b.site.co.uk", "site.co.uk"),
      ("site.co.uk", "site.co.uk"),
      // plain TLD
      ("www.example.com", "example.com"),
      ("example.com", "example.com"),
      // private hosting suffix: every subdomain a different registrant
      ("proj.github.io", "proj.github.io"),
      ("deep.proj.github.io", "proj.github.io"),
      // host IS a public suffix: no registrable part, maps to itself
      ("co.uk", "co.uk"),
      ("com", "com"),
      // no rule matches: implicit '*' rule, eTLD+1 = last two labels
      ("node1.cluster.internal", "cluster.internal"),
      ("localhost", "localhost"))
    val got = cases.map(_._1).toDF("h")
      .select(Dedup.registeredDomain(col("h")).as("d")).as[String].collect()
    cases.zip(got).foreach { case ((in, want), d) =>
      assert(d == want, s"registeredDomain('$in') = '$d', want '$want'")
    }
  }

  test("registeredDomainFromRules: full PSL semantics — wildcard and " +
      "exception rules, most-labels prevail, both fallbacks; equals the " +
      "scalar form under the embedded subset") {
    import spark.implicits._
    val rules = (Dedup.publicSuffixes ++ Seq("*.ck", "!www.ck"))
      .toDF("rule")
    val cases = Seq(
      // wildcard: every single label under ck is a public suffix
      ("shop.stores.ck", "shop.stores.ck"),
      ("deep.shop.stores.ck", "shop.stores.ck"),
      // host IS a (wildcard-derived) public suffix: maps to itself
      ("stores.ck", "stores.ck"),
      // bare ck: the wildcard needs a preceding label, no rule matches
      // a single label — implicit-* single-label fallback
      ("ck", "ck"),
      // exception carves www.ck back out: registrable itself
      ("www.ck", "www.ck"),
      ("sub.www.ck", "www.ck"),
      // the scalar contract still holds through the table form
      ("a.b.site.co.uk", "site.co.uk"),
      ("proj.github.io", "proj.github.io"),
      ("co.uk", "co.uk"),
      ("node1.cluster.internal", "cluster.internal"),
      ("localhost", "localhost"))
    val got = Dedup.registeredDomainFromRules(
        cases.map(_._1).toDF("h"), "h", rules)
      .select(col("h"), col("reg_domain")).as[(String, String)]
      .collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"psl('$in') = '${got(in)}', want '$want'")
    }
    // parity: under the embedded subset (no wildcard/exception rules)
    // the table form and the scalar form agree on every fixture host
    val hosts = cases.map(_._1).filterNot(_.endsWith("ck")).toDF("h")
    val table = Dedup.registeredDomainFromRules(hosts, "h",
        Dedup.publicSuffixes.toDF("rule"))
      .select(col("h"), col("reg_domain")).as[(String, String)]
      .collect().toMap
    val scalar = hosts.select(col("h"),
        Dedup.registeredDomain(col("h")).as("d"))
      .as[(String, String)].collect().toMap
    assert(table == scalar, s"table $table != scalar $scalar")
  }

  test("urlRegisteredDomainCard: the mirror farm host-level rollups " +
      "miss concentrates into one eTLD+1 row") {
    import spark.implicits._
    // farm.co.uk serves 3 pages from each of 4 subdomain shards (12
    // crawl rows, every host-level row unremarkable); one normal site
    val urls = (0 until 4).flatMap(s => (0 until 3).map(p =>
        s"http://s$s.farm.co.uk/p/$p")) ++
      Seq("http://www.site.com/a", "http://www.site.com/a?utm_source=x")
    val docs = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val hostCard = Dedup.urlHostCard(docs, "doc_id", "url")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // host level: four farm hosts, each 3 crawls / 3 pages, dup_bp 0 —
    // nothing to block
    (0 until 4).foreach { s =>
      assert(hostCard(s"s$s.farm.co.uk") == ((s"s$s.farm.co.uk", 3L, 3L, 0L)))
    }
    val domCard = Dedup.urlRegisteredDomainCard(docs, "doc_id", "url")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // eTLD+1 level: the farm is ONE row with all the mass and 4 hosts
    assert(domCard("farm.co.uk") == (("farm.co.uk", 4L, 12L, 12L, 0L)),
      s"got ${domCard.get("farm.co.uk")}")
    // the normal site: utm variant collapsed at the page level first
    assert(domCard("site.com") == (("site.com", 1L, 2L, 1L, 5000L)))
    assert(domCard.size == 2, s"got ${domCard.keySet}")
  }

  test("composed admission ladder: one batch through admitBatchLadder " +
      "is verdict-identical to Dedup.ladder") {
    import spark.implicits._
    import graft.ext.IngestLadder
    val root = java.nio.file.Files.createTempDirectory("graft_lad1").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta", "http://a.com/p1"),
      (2L, "totally different text here", "HTTP://A.COM/p1"),
      (3L, "totally different text here", "http://b.com/x"),
      (4L, "one two three four five six seven eight", "http://c.com/1"),
      (5L, "one two three four five six seven nine", "http://c.com/2"),
      (6L, "one two three four five six seven nine", "http://c.com/3"))
      .toDF("doc_id", "text", "url")
    val composed = IngestLadder.admitBatch(docs, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    val batch = Dedup.ladder(docs, "doc_id", "text", Some("url"),
        n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(composed == batch, s"composed $composed != batch $batch")
    assert(composed == Map(1L -> None, 2L -> Some("url"), 3L -> None,
      4L -> None, 5L -> Some("near"), 6L -> Some("exact")))
  }

  test("composed admission ladder: two ticks match the batch ladder " +
      "rung for rung; indexes give rung-stable provenance; replay is " +
      "idempotent") {
    import spark.implicits._
    import graft.ext.IngestLadder
    val root = java.nio.file.Files.createTempDirectory("graft_lad2").toString
    val tick1 = Seq(
      (1L, "alpha beta gamma delta", "http://a.com/p1"),
      (2L, "totally different text here", "HTTP://A.COM/p1"),
      (3L, "totally different text here", "http://b.com/x"),
      (4L, "one two three four five six seven eight", "http://c.com/1"),
      (5L, "one two three four five six seven nine", "http://c.com/2"),
      (6L, "one two three four five six seven nine", "http://c.com/3"))
      .toDF("doc_id", "text", "url")
    val tick2 = Seq(
      // near-dup of ADMITTED 4 -> postings probe drops it at 'near'
      (11L, "one two three four five six seven ten", "http://d.com/1"),
      // re-crawl of doc 5's page: 5 was near-DROPPED but its key passed
      // the url rung, so the url index still turns the re-crawl away
      (12L, "whatever the mirror serves today", "HTTP://C.COM/2"),
      // exact copy of ADMITTED 3's text on a fresh url -> fp index
      (13L, "totally different text here", "http://d.com/2"),
      // exact copy of near-dropped 5's text: fp passed the exact rung
      // in tick 1, so it drops at 'exact' (one rung before 'near')
      (14L, "one two three four five six seven nine", "http://d.com/3"),
      (15L, "red green blue yellow purple orange pink black", "http://d.com/4"),
      // in-batch near pair with 15 (both probe survivors, min id keeps)
      (16L, "red green blue yellow purple orange pink white", "http://d.com/5"))
      .toDF("doc_id", "text", "url")
    val v1 = IngestLadder.admitBatch(tick1, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    val v2 = IngestLadder.admitBatch(tick2, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    // the batch ladder over the UNION (ids are arrival-ordered, no
    // near chain crosses ticks through a dropped doc) must agree
    val batch = Dedup.ladder(tick1.unionByName(tick2), "doc_id", "text",
        Some("url"), n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(v1 ++ v2 == batch, s"composed ${v1 ++ v2} != batch $batch")
    assert(v2 == Map(11L -> Some("near"), 12L -> Some("url"),
      13L -> Some("exact"), 14L -> Some("exact"), 15L -> None,
      16L -> Some("near")), s"tick2 verdicts $v2")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 3L, 4L, 15L), s"corpus $corpus")
    // REPLAY of tick 2 (same batch id): same verdicts, no corpus dups,
    // verdict partition overwritten in place
    val r2 = IngestLadder.admitBatch(tick2, "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(r2 == v2, s"replay $r2 != $v2")
    val corpusR = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(corpusR == Seq(1L, 3L, 4L, 15L), s"replay dup'd corpus: $corpusR")
    // verdicts are durable provenance: re-read from disk, both ticks
    val stored = spark.read.parquet(s"$root/verdicts")
      .select("id", "dropped_at")
      .as[(Long, Option[String])].collect().toMap
    assert(stored == v1 ++ v2)
  }

  test("composed admission ladder: documented divergence — a cross-" +
      "tick near chain through a DROPPED doc admits the tail (only " +
      "corpus content can vouch for a drop)") {
    import spark.implicits._
    import graft.ext.IngestLadder
    val root = java.nio.file.Files.createTempDirectory("graft_lad3").toString
    // x (1) admitted; y (2) ~ x dropped near; z (11) ~ y but z !~ x:
    // overlap windows of 8-word texts — y shares 5/7 shingles with x
    // and with z, x and z share only 3 words (2 redundant shingles)
    val tick1 = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val tick2 = Seq(
      (11L, "w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text")
    val v1 = IngestLadder.admitBatch(tick1, "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    val v2 = IngestLadder.admitBatch(tick2, "doc_id", "text",
        None, Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(v1 == Map(1L -> None, 2L -> Some("near")), s"tick1 $v1")
    // batch ladder would CC {1,2,11} and drop 11; the composed ladder
    // ADMITS 11 — nothing in the corpus is within τ of it
    assert(v2 == Map(11L -> None), s"tick2 $v2")
    val batch = Dedup.ladder(tick1.unionByName(tick2), "doc_id", "text",
        None, n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(batch(11L) == Some("near"),
      "fixture must make the batch ladder drop 11 transitively")
    // RECONCILIATION closes the divergence: CC over the stored postings
    // (admitted + near-dropped evidence) finds the x—y—z chain and
    // emits exactly z as the delta; the dropped middle y is never
    // re-verdicted, the clean survivor x never flagged
    val delta = graft.ext.IncrementalDedup.reconcileNear(spark, root,
        tau = 0.5)
      .as[(Long, String)].collect().toMap
    assert(delta == Map(11L -> "near"), s"reconcile delta $delta")
  }

  test("maintainLadder: N ticks fold to batch=-1 per subtree, contents " +
      "byte-stable, probes and reconciliation read the folded state") {
    import spark.implicits._
    import graft.ext.{IncrementalDedup, IngestLadder}
    val root = java.nio.file.Files.createTempDirectory("graft_ladm").toString
    val mkTick = (ids: Seq[Long]) => ids.map(i =>
      (i, s"doc body $i unique words here", s"http://m.com/p/$i"))
      .toDF("doc_id", "text", "url")
    // three ticks, each writing all six subtrees
    for ((ids, b) <- Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)).zipWithIndex)
      IngestLadder.admitBatch(mkTick(ids), "doc_id", "text",
        Some("url"), Nil, root, n = 3, tau = 0.5, batchId = b.toLong)
    def snapshot(sub: String): Set[String] =
      spark.read.parquet(s"$root/$sub").drop("batch")
        .collect().map(_.toString).toSet
    // the ladder's own subtrees; domain_counts (quota rung) and
    // line_index (ingest lines rung) are on the fold surface but never
    // written by this operator -> fold 0, no dir
    val optional = Set("domain_counts", "line_index")
    val written = IncrementalDedup.LadderSubtrees.filterNot(optional)
    val before = written.map(s => s -> snapshot(s)).toMap
    val folded = IncrementalDedup.maintainLadder(spark, root,
      committedBelow = 3L)
    assert(written.forall(s => folded(s) == 3) &&
      optional.forall(folded(_) == 0), s"fold counts $folded")
    for (s <- written) {
      val dirs = new java.io.File(s"$root/$s").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == Set("batch=-1"), s"$s partitions after fold: $dirs")
      assert(snapshot(s) == before(s), s"$s contents changed by fold")
    }
    // the folded indexes still vouch: a re-crawl of a folded page key
    // and an exact copy of a folded doc's text are turned away
    val v = IngestLadder.admitBatch(
      Seq((10L, "fresh content for this tick", "HTTP://M.COM/p/1"),
        (11L, "doc body 3 unique words here", "http://m.com/new"),
        (12L, "wholly novel page text body", "http://m.com/p/99"))
        .toDF("doc_id", "text", "url"),
      "doc_id", "text", Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 3L)
      .as[(Long, Option[String])].collect().toMap
    assert(v == Map(10L -> Some("url"), 11L -> Some("exact"), 12L -> None),
      s"post-fold tick $v")
    // a second maintain folds the new tick's partitions into the pile
    val folded2 = IncrementalDedup.maintainLadder(spark, root,
      committedBelow = 4L)
    assert(written.forall(s => folded2(s) == 2), s"refold counts $folded2")
    val corpus = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 3L, 4L, 5L, 6L, 12L), s"corpus $corpus")
  }

  test("maintainLadder folds doc_shingles id-sorted: the folded files " +
      "hold disjoint id ranges") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_ladsort").toString
    // three committed partitions with interleaved ids, and no postings
    // tree, so no reaper rewrite re-sorts the fold afterwards
    for (b <- 0 until 3)
      (0 until 600).map(i => (3L * i + b, 4, Seq(i.toLong, b.toLong)))
        .toDF("id", "m", "shs").coalesce(1)
        .write.parquet(s"$root/doc_shingles/batch=$b")
    def parts(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    val bytes = (0 until 3).flatMap(b => parts(s"$root/doc_shingles/batch=$b"))
      .map(_.length).sum
    val folded = IncrementalDedup.maintainLadder(spark, root,
      committedBelow = 3L, targetBytes = bytes / 4)
    assert(folded("doc_shingles") == 3, s"fold counts $folded")
    val files = parts(s"$root/doc_shingles/batch=-1")
    assert(files.size > 1, s"fold wrote ${files.size} file(s)")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sorted
    assert(ranges.zip(ranges.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
      s"overlapping id ranges: $ranges")
    assert(spark.read.parquet(s"$root/doc_shingles").count() == 1800)
  }

  test("LadderRungMonitor: per-rung drop-rate CUSUM over observe " +
      "counters catches an injected url-drop spike, no extra scans") {
    import spark.implicits._
    import graft.ext.{IngestLadder, LadderRungMonitor}
    val root = java.nio.file.Files.createTempDirectory("graft_ladmon").toString
    // steady state ~0 bp drops; alarm when the cumulative excess over
    // (mu + kappa) = 1500 bp passes h = 4000 bp — a 50% url-drop storm
    // (5000 bp/tick excess 3500) alarms on its second tick
    val mon = new LadderRungMonitor(mu = 0L, kappa = 1500L, h = 4000L)
    def tick(ids: Seq[Long], dupUrl: Boolean, b: Long) =
      IngestLadder.admitBatch(
        ids.map(i => (i, s"text body $i distinct words",
          if (dupUrl && i % 2 == 0) "http://s.com/same"
          else s"http://s.com/p/$i")).toDF("doc_id", "text", "url"),
        "doc_id", "text", Some("url"), Nil, root, n = 3, tau = 0.5,
        batchId = b, monitor = Some(mon))
    tick(Seq(1L, 2L, 3L, 4L), dupUrl = false, b = 0L)
    tick(Seq(11L, 12L, 13L, 14L), dupUrl = false, b = 1L)
    assert(mon.ticks.size == 2 && mon.ticks.forall(_.alarmUp.isEmpty),
      s"steady ticks must not alarm: ${mon.ticks}")
    assert(mon.ticks.forall(t => t.n == 4 && t.dropBp("url") == 0L))
    // re-crawl storm: half of each batch collapses onto one url key
    tick(Seq(21L, 22L, 23L, 24L), dupUrl = true, b = 2L)
    assert(mon.latest.get.dropBp("url") == 2500L &&
      mon.latest.get.alarmUp.isEmpty, s"one storm tick: ${mon.latest}")
    tick(Seq(31L, 32L, 33L, 34L), dupUrl = true, b = 3L)
    tick(Seq(41L, 42L, 43L, 44L), dupUrl = true, b = 4L)
    assert(mon.latest.get.alarmUp == Set("url"),
      s"sustained storm must alarm the url rung: ${mon.latest}")
    assert(mon.ticks.forall(t => t.alarmUp.subsetOf(Set("url"))),
      s"no other rung may alarm: ${mon.ticks}")
  }

  test("LadderRungMonitor: a hand-built metrics map missing a rung's " +
      "n_<rung> key observes 0 for it (configured-off semantics), " +
      "never throws") {
    import graft.ext.LadderRungMonitor
    // default rung set spans all six built-ins; feed only url+exact
    val mon = new LadderRungMonitor(mu = 100L, kappa = 0L, h = 1L)
    val t = mon.tick(0L, Map("n" -> 10L, "n_url" -> 5L, "n_exact" -> 0L))
    assert(t.dropBp("url") == 5000L && t.dropBp("near") == 0L &&
      t.dropBp("domain") == 0L, s"missing rungs observe 0: $t")
    // absent rungs never became active, so the down-CUSUM stays gated
    (1L to 5L).foreach(b =>
      mon.tick(b, Map("n" -> 10L, "n_url" -> 0L)))
    assert(mon.ticks.forall(t => !t.alarmDown.exists(
        Set("lines", "near", "containment", "domain"))),
      s"absent rungs must stay silent: ${mon.ticks.map(_.alarmDown)}")
  }

  test("URL admission loop: stored canonical-key index, variants " +
      "collapse in-batch, seen pages turned away cross-batch") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_incurl").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    // tick 1: docs 1 and 3 are crawl variants of ONE page (min id wins)
    val t1 = IncrementalDedup.admitBatchUrl(
      Seq((1L, "http://a.com/p/1"), (2L, "http://a.com/p/2"),
        (3L, "HTTPS://A.COM/p/1/")).toDF("doc_id", "url"),
      "doc_id", "url", corpusDir, indexDir, batchId = 0L)
    assert(t1 == ((2L, 1L, 0L)), s"tick1 $t1")
    // tick 2: doc 10 re-crawls page 1 with tracking junk (index drop);
    // docs 11+12 are in-batch variants of a new page
    val batch2 = Seq((10L, "http://a.com:80/p/1?utm_source=x"),
      (11L, "http://a.com/p/3?id=3"),
      (12L, "http://a.com/p/3/?id=3#frag")).toDF("doc_id", "url")
    val t2 = IncrementalDedup.admitBatchUrl(
      batch2, "doc_id", "url", corpusDir, indexDir, batchId = 1L)
    assert(t2 == ((1L, 1L, 1L)), s"tick2 $t2")
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 11L), s"corpus $corpus")
    val index = spark.read.parquet(indexDir)
      .select("keep_id").as[Long].collect().toSet
    assert(index == corpus, "index must track exactly the admitted pages")
    // REPLAY of tick 2 (redelivered batch, same batch id — the failure-
    // recovery path): the per-batch Overwrite partitions make the tick
    // idempotent — same verdict counts, no duplicate corpus rows, and
    // the batch's own index partition does not turn its replay away
    val replay = IncrementalDedup.admitBatchUrl(
      batch2, "doc_id", "url", corpusDir, indexDir, batchId = 1L)
    assert(replay == t2, s"replay $replay != $t2")
    val corpusR = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(corpusR == Seq(1L, 2L, 11L),
      s"replayed tick must not duplicate corpus rows: $corpusR")
  }

  test("URL rungs: NULL addresses PASS — batch ladder, composed ladder " +
      "and url admission all treat a NULL canonical key as a survivor, " +
      "never as 'the same page as every other address-less row'") {
    import spark.implicits._
    import graft.ext.{IncrementalDedup, IngestLadder}
    val root = java.nio.file.Files.createTempDirectory("graft_nullurl").toString
    // two NULL-address docs with unrelated text: before the fix the url
    // window grouped them into one NULL partition and dropped doc 3
    val docs = Seq(
      (1L, "alpha beta gamma delta", Option("http://a.com/p1")),
      (2L, "totally different text here", Option.empty[String]),
      (3L, "third unrelated document body", Option.empty[String]),
      (4L, "fourth unrelated content words", Option("HTTP://A.COM/p1")))
      .toDF("doc_id", "text", "url")
    val expected = Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some("url"))
    val batch = Dedup.ladder(docs, "doc_id", "text", Some("url"),
        n = 3, tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(batch == expected, s"batch ladder $batch")
    val composed = IngestLadder.admitBatch(docs, "doc_id",
        "text", Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    assert(composed == expected, s"composed ladder $composed")
    // NULL keys never enter the key index — they identify no page
    val ix = spark.read.parquet(s"$root/url_index")
    assert(ix.filter(col("url_key").isNull).count() == 0,
      "url index must hold no NULL key")
    // a later tick of address-less docs must pass whole, not be turned
    // away by any stored NULL key
    val v2 = IngestLadder.admitBatch(
      Seq((11L, "more new content entirely", Option.empty[String]),
        (12L, "even newer page text body", Option.empty[String]))
        .toDF("doc_id", "text", "url"),
      "doc_id", "text", Some("url"), Nil, root, n = 3, tau = 0.5, batchId = 1L)
      .as[(Long, Option[String])].collect().toMap
    assert(v2 == Map(11L -> None, 12L -> None), s"tick2 $v2")
    // the standalone url admission tick: NULL rows admitted outside the
    // key accounting, keyed rows keep the first-arrival contract
    val root2 = java.nio.file.Files.createTempDirectory("graft_nullurl2")
      .toString
    val t1 = IncrementalDedup.admitBatchUrl(
      Seq((1L, Option("http://a.com/1")), (2L, Option.empty[String]),
        (3L, Option.empty[String])).toDF("doc_id", "url"),
      "doc_id", "url", s"$root2/corpus", s"$root2/index", batchId = 0L)
    assert(t1 == ((3L, 0L, 0L)), s"tick1 $t1")
    val t2 = IncrementalDedup.admitBatchUrl(
      Seq((10L, Option.empty[String]), (11L, Option("http://a.com/1")))
        .toDF("doc_id", "url"),
      "doc_id", "url", s"$root2/corpus", s"$root2/index", batchId = 1L)
    assert(t2 == ((1L, 0L, 1L)), s"tick2 $t2")
    val corpus = spark.read.parquet(s"$root2/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 3L, 10L), s"corpus $corpus")
  }

  test("exact rungs: NULL text PASSES — batch and composed ladders " +
      "never collapse text-less rows onto one survivor, and NULL " +
      "fingerprints stay out of the fp index") {
    import spark.implicits._
    import graft.ext.IngestLadder
    val root = java.nio.file.Files
      .createTempDirectory("graft_nulltext").toString
    val docs = Seq((1L, Option("real content words here")),
      (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val expected = Map[Long, Option[String]](1L -> None, 2L -> None,
      3L -> None)
    val batch = Dedup.ladder(docs, "doc_id", "text", None, n = 3,
        tau = 0.5)
      .as[(Long, Option[String])].collect().toMap
    assert(batch == expected, s"batch ladder $batch")
    val composed = IngestLadder.admitBatch(docs, "doc_id",
        "text", None, Nil, root, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    assert(composed == expected, s"composed ladder $composed")
    assert(spark.read.parquet(s"$root/fp_index")
      .filter(col("fp").isNull).count() == 0, "no NULL fp in the index")
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_nulltext2").toString
    val ingest = IngestLadder.admitBatch(docs, "doc_id", "text", None,
        Seq.empty, root2, n = 3, tau = 0.5, batchId = 0L)
      .as[(Long, Option[String])].collect().toMap
    assert(ingest == expected, s"ingest ladder $ingest")
  }

  test("containment admission loop: stored postings index, embedded quotes turned away, probe == recompute") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_inccont").toString
    val (corpusDir, postingsDir) = (s"$root/corpus", s"$root/postings")
    // host page H: 30 words; quotes are 10-word contiguous passages of
    // it — 8 of H's 28 3-shingles, so cont(quote→H) = 1.0 while
    // J = 8/28 ≈ 0.29: invisible to any resemblance pass at τ=0.5
    val hWords = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi",
      "psi", "omega", "one", "two", "three", "four", "five", "six")
    val hText = hWords.mkString(" ")
    val quote1 = hWords.slice(2, 12).mkString(" ")
    val quote2 = hWords.slice(15, 25).mkString(" ")
    val bText = "wolf bear lynx otter moose raven heron crane stork finch robin wren"
    val cText = "iron zinc gold lead tin silver nickel cobalt copper chrome neon argon"
    // superset of B: contains every B shingle (cont_corpus = 1.0) but is
    // long enough that cont_batch = 10/28 < τ — novel content, admitted
    val superB = (bText.split(" ").toSeq ++ Seq("oak", "elm", "ash",
      "birch", "pine", "cedar", "maple", "willow", "alder", "rowan",
      "hazel", "beech", "fir", "yew", "holly", "plane", "lime", "box"))
      .mkString(" ")
    // tick 1: 3 is an embedded quote of in-batch host 1 (one-directional
    // → drops regardless of id); 4 is a mutual near-copy of 2 (min id
    // survives)
    val t1 = IncrementalDedup.admitBatchContainment(
      Seq((1L, hText), (2L, bText), (3L, quote1), (4L, bText))
        .toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, postingsDir, n = 3, tau = 0.5,
      batchId = 0L)
    assert(t1 == ((2L, 2L, 0L)), s"tick1 $t1")
    // tick 2: 10 quotes the ADMITTED host 1 (cross-batch, via the stored
    // postings index — turned away); 11 is novel; 12 SWALLOWS admitted
    // doc 2 (cont_corpus = 1.0): the reverse direction must NOT drop
    val t2 = IncrementalDedup.admitBatchContainment(
      Seq((10L, quote2), (11L, cText), (12L, superB))
        .toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, postingsDir, n = 3, tau = 0.5,
      batchId = 1L)
    assert(t2 == ((2L, 0L, 1L)), s"tick2 $t2")
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 11L, 12L), s"corpus $corpus")
    val index = spark.read.parquet(postingsDir)
    assert(index.select("id").distinct().as[Long].collect().toSet == corpus,
      "postings index must track exactly the admitted docs")
    // THE steady-state equivalence: probing the PERSISTED index scores
    // row-for-row what recompute-from-text scores against the admitted
    // corpus — the stored path loses nothing
    val probeBatch = Seq((20L, quote1), (21L, cText), (22L, "brand new words entirely"))
      .toDF("doc_id", "text")
    val viaIndex = Dedup.containmentProbe(
      Dedup.shinglePostings(probeBatch, "doc_id", "text", 3),
      index, tau = 0.5)
      .as[(Long, Long, Double, Double)].collect().toSet
    val viaText = Dedup.containmentAgainst(probeBatch,
      spark.read.parquet(corpusDir), "doc_id", "text", n = 3, tau = 0.5)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(viaIndex == viaText, s"index probe $viaIndex != recompute $viaText")
    assert(viaIndex.exists { case (b, c, cb, _) => b == 20L && c == 1L && cb == 1.0 },
      "quote1 must be fully contained in the admitted host")
    // redelivery under a NEW id (cross-restart at-least-once): the
    // batch re-probes the index, finds itself at containment 1.0, and
    // admits nothing
    val replay = IncrementalDedup.admitBatchContainment(
      Seq((1L, hText), (2L, bText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, postingsDir, n = 3, tau = 0.5,
      batchId = 2L)
    assert(replay == ((0L, 0L, 2L)), s"replayed batch must admit nothing: $replay")
    // SAME-ID replay (failed-attempt recovery): the tick's own
    // partitions are excluded and overwritten in place — identical
    // counts, no duplicate corpus rows
    val r2 = IncrementalDedup.admitBatchContainment(
      Seq((10L, quote2), (11L, cText), (12L, superB))
        .toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, postingsDir, n = 3, tau = 0.5,
      batchId = 1L)
    assert(r2 == t2, s"same-id replay $r2 != $t2")
    val corpusR = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(corpusR == Seq(1L, 2L, 11L, 12L), s"replay dup'd corpus: $corpusR")
  }

  test("containment admission: an index-dropped doc cannot vouch for an in-batch drop (no recall-loss cascade)") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    // τ-containment is not transitive for τ < 1: y ⊂τ H and x ⊂τ y do
    // NOT imply x ⊂τ H. Construct exactly that: H admitted in tick 1;
    // tick 2 brings y = half-H ++ novel-run (cont(y→H) = 0.5, dropped
    // by the index) and x = the novel-run alone (cont(x→y) = 1.0,
    // cont(x→H) = 0). Dropping x "for y" would lose x's content with
    // nothing admitted containing it — x must be ADMITTED.
    val w = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi",
      "psi", "omega", "one", "two", "three", "four", "five", "six")
    val nov = Seq("wolf", "bear", "lynx", "otter", "moose", "raven",
      "heron", "crane", "stork", "finch")
    val hText = w.mkString(" ")                       // 28 3-shingles
    val yText = (w.take(12) ++ nov).mkString(" ")     // 20 shingles: 10 H + 2 boundary + 8 novel
    val xText = nov.mkString(" ")                     // 8 shingles, all ⊂ y, none ⊂ H
    val root = java.nio.file.Files.createTempDirectory("graft_cascade").toString
    val (c, p) = (s"$root/corpus", s"$root/postings")
    val t1 = IncrementalDedup.admitBatchContainment(
      Seq((1L, hText)).toDF("doc_id", "text"),
      "doc_id", "text", c, p, n = 3, tau = 0.5, batchId = 0L)
    assert(t1 == ((1L, 0L, 0L)), s"tick1 $t1")
    val t2 = IncrementalDedup.admitBatchContainment(
      Seq((10L, yText), (11L, xText)).toDF("doc_id", "text"),
      "doc_id", "text", c, p, n = 3, tau = 0.5, batchId = 1L)
    assert(t2 == ((1L, 0L, 1L)),
      s"y drops vs index, x must be admitted (not cascade-dropped): $t2")
    val corpus = spark.read.parquet(c).select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 11L), s"corpus $corpus")
    // INVARIANT behind the rule: every dropped doc is τ-contained in
    // some ADMITTED doc (recall safety)
    val viaText = Dedup.containmentAgainst(
      Seq((10L, yText)).toDF("doc_id", "text"),
      spark.read.parquet(c), "doc_id", "text", n = 3, tau = 0.5)
    assert(viaText.filter(col("cont_batch") >= 0.5).count() >= 1,
      "the index-dropped y must itself be contained in an admitted doc")
  }

  test("containment admission in-batch rule fuzz: survivors == pair-relation rule, one survivor per mutual group") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    // The declared in-batch semantics, computed from containmentPairs —
    // the id-ordered SELF-JOIN path, not the probe the loop itself
    // uses: doc x drops iff ∃ y with cont(x→y) ≥ τ and NOT (mutual ∧
    // x < y). Random doc mix: exact copies (mutual groups), contiguous
    // quotes (one-directional), fresh docs.
    val vocab = (0 until 40).map(i => s"tok$i")
    val rnd = new scala.util.Random(42L)
    for (trial <- 1 to 5) {
      val base = (0 until 6).map { _ =>
        (0 until (12 + rnd.nextInt(10))).map(_ =>
          vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      val docs = (0 until 12).map { i =>
        val t = rnd.nextInt(10) match {
          case 0 | 1 => base(rnd.nextInt(base.length)) // exact copy
          case 2 | 3 => // contiguous quote of a base doc
            val w = base(rnd.nextInt(base.length)).split(" ")
            val s = rnd.nextInt(math.max(1, w.length - 6))
            w.slice(s, s + 6 + rnd.nextInt(3)).mkString(" ")
          case _ => (0 until 10 + rnd.nextInt(8)).map(_ =>
            vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
        (i.toLong, t)
      }
      val df = docs.toDF("doc_id", "text")
      val tau = 0.5
      val pairs = Dedup.containmentPairs(df, "doc_id", "text", 3, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // cont(x→y) keyed both ways from the ordered output
      val cont = pairs.map { case (s, h, c) => (s, h) -> c }.toMap
      val expectDrop = docs.map(_._1).filter { x =>
        docs.map(_._1).exists { y =>
          y != x && cont.getOrElse((x, y), 0.0) >= tau &&
            !(cont.getOrElse((y, x), 0.0) >= tau && x < y)
        }
      }.toSet
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_contfuzz$trial").toString
      val (adm, inBatch, vsIndex) = IncrementalDedup.admitBatchContainment(
        df, "doc_id", "text", s"$root/c", s"$root/p", n = 3, tau = tau,
        batchId = 0L)
      assert(vsIndex == 0L, "no index yet: nothing can drop cross-batch")
      val admitted = spark.read.parquet(s"$root/c")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == docs.map(_._1).toSet -- expectDrop,
        s"trial $trial: admitted $admitted, expected drops $expectDrop")
      assert(adm == admitted.size.toLong && inBatch == expectDrop.size.toLong)
      // every mutual-containment (near-identical) group keeps EXACTLY
      // its minimum member
      val mutual = pairs.collect { case (s, h, c)
        if c >= tau && cont.getOrElse((h, s), 0.0) >= tau => Set(s, h) }
      mutual.foreach { g =>
        assert(admitted.intersect(g).subsetOf(Set(g.min)),
          s"trial $trial: mutual group $g kept ${admitted.intersect(g)}")
      }
      // the offline batch form applies the IDENTICAL rule: survivors
      // of the retroactive pass == the tick's admitted set
      val offline = Dedup.containmentSurvivors(df, "doc_id", "text",
          3, tau).select("doc_id").as[Long].collect().toSet
      assert(offline == admitted,
        s"trial $trial: containmentSurvivors $offline != tick $admitted")
    }
  }

  test("incremental-dedup streaming e2e: checkpoint restart, nothing re-admitted") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_incdedup_stream").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val ckpt = s"$root/ckpt"
    val aText = "apple banana cherry dates elder fig grape honey ice jam kiwi lemon"
    val bText = "wolf bear lynx otter moose raven heron crane stork finch robin wren"
    val cText = "iron zinc gold lead tin silver nickel cobalt copper chrome neon argon"
    val dText = "oak elm ash birch pine cedar maple willow alder rowan hazel beech"
    val in = MemoryStream[(Long, String)]
    // the production wiring: admitBatch as a foreachBatch body behind a
    // real checkpoint — foreachBatch serializes ticks and replays only
    // uncommitted batches after a restart
    def start() = in.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        IncrementalDedup.admitBatch(batch, "doc_id", "text",
          corpusDir, indexDir, maxDist = 3, batchId = id); ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    in.addData((1L, aText), (2L, bText)) // batch: both admitted
    q1.processAllAvailable()
    in.addData((3L, aText), (4L, cText)) // 3 dups indexed 1; 4 admitted
    q1.processAllAvailable()
    q1.stop()
    // restart FROM THE CHECKPOINT: the committed batches must not replay
    val q2 = start()
    in.addData((5L, bText), (6L, dText)) // 5 dups PRE-restart doc 2; 6 admitted
    q2.processAllAvailable()
    q2.stop()
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 4L, 6L),
      s"admitted set wrong after 3 ticks + restart: $corpus")
    val index = spark.read.parquet(indexDir).select("id").as[Long].collect().toSet
    assert(index == corpus, "index must track exactly the admitted docs")
    // replay safety beyond the ledger: if a FAILED (uncommitted) batch is
    // re-delivered by foreachBatch, every row's signature is already in
    // the index at distance 0, so re-admission drops it — the dedup
    // semantics themselves make the tick idempotent
    val replay = IncrementalDedup.admitBatch(
      Seq((1L, aText), (2L, bText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, maxDist = 3, batchId = 99L)
    assert(replay == ((0L, 0L, 2L)), s"replayed batch must admit nothing: $replay")
    assert(spark.read.parquet(corpusDir).count() == 4,
      "replay must not append to the corpus")
  }

  test("incremental-ANN streaming e2e: checkpoint restart, nothing re-admitted") {
    import spark.implicits._
    import graft.ext.IncrementalAnn
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_incann_stream").toString
    val indexDir = s"$root/index"
    val ckpt = s"$root/ckpt"
    val cents: Array[(Long, Array[Float])] = Array(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f))
    val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
    val e3 = Seq(0f, 0f, 1f, 0f); val e4 = Seq(0f, 0f, 0f, 1f)
    val in = MemoryStream[(Long, Seq[Float])]
    def start() = in.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        IncrementalAnn.admitBatch(batch, "vec_id", "embedding",
          indexDir, cents, tau = 0.95, nProbe = 2); ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    in.addData((1L, e1), (2L, e2)) // both admitted
    q1.processAllAvailable()
    in.addData((3L, Seq(0.99f, 0.01f, 0f, 0f)), (4L, e3)) // 3 dups indexed 1
    q1.processAllAvailable()
    q1.stop()
    // restart FROM THE CHECKPOINT: committed batches must not replay
    val q2 = start()
    in.addData((5L, Seq(0.01f, 0.99f, 0f, 0f)), (6L, e4)) // 5 dups PRE-restart 2
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(indexDir).select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L, 6L),
      s"index set wrong after 3 ticks + restart: $ids")
    // replay safety: a re-delivered committed batch finds its own vectors
    // in the index at cosine 1 and admits nothing — the tick is
    // idempotent by the dedup semantics themselves
    val replay = IncrementalAnn.admitBatch(
      Seq((1L, e1), (2L, e2)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, cents, tau = 0.95, nProbe = 2)
    assert(replay == ((0L, 0L, 2L)), s"replayed batch must admit nothing: $replay")
    assert(spark.read.parquet(indexDir).count() == 4,
      "replay must not append to the index")
  }

  test("incremental-dedup maintenance: compaction bounds files across 6 ticks") {
    import spark.implicits._
    import graft.ext.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_incdedup_maint").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val rnd = new scala.util.Random(11)
    val vocabPool = (0 until 400).map(i => s"word${i}x$i")
    def text(): String =
      rnd.shuffle(vocabPool).take(12).mkString(" ")
    val firstText = text()
    val texts = firstText +: (1 until 12).map(_ => text())
    // 6 ticks x 2 unique docs; compact every 2nd tick INSIDE the
    // serialized window, exactly as a foreachBatch body would
    (0 until 6).foreach { t =>
      val batch = Seq((t * 10L, texts(2 * t)), (t * 10L + 1, texts(2 * t + 1)))
        .toDF("doc_id", "text")
      IncrementalDedup.admitBatch(batch, "doc_id", "text",
        corpusDir, indexDir, maxDist = 0, batchId = t.toLong)
      // fold COMMITTED partitions only (the current tick keeps its own)
      if (t % 2 == 1)
        IncrementalDedup.maintain(spark, corpusDir, indexDir,
          committedBelow = t.toLong)
    }
    // bounded: 6 ticks wrote 6 partitions each; the folds collapsed all
    // committed ones into batch=-1, leaving it + the final tick's own
    def partDirs(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(partDirs(corpusDir) == Set("batch=-1", "batch=5"),
      s"corpus partitions ${partDirs(corpusDir)}")
    assert(partDirs(indexDir) == Set("batch=-1", "batch=5"),
      s"index partitions ${partDirs(indexDir)}")
    // content preserved: all 12 admitted, and the compacted index still
    // drops a cross-batch duplicate
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus.size == 12, s"corpus after compaction: $corpus")
    val replay = IncrementalDedup.admitBatch(
      Seq((99L, firstText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, maxDist = 0, batchId = 6L)
    assert(replay == ((0L, 0L, 1L)),
      s"folded index must still drop duplicates: $replay")
  }

  test("incremental-ANN maintenance: per-cell compaction keeps pruning layout") {
    import spark.implicits._
    import graft.ext.IncrementalAnn
    val root = java.nio.file.Files.createTempDirectory("graft_incann_maint").toString
    val indexDir = s"$root/index"
    val dim = 16
    def oneHot(k: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == k) 1f else 0f)
    val cents: Array[(Long, Array[Float])] =
      Array.tabulate(4)(k => k.toLong -> oneHot(k).toArray)
    // 6 ticks x 2 pairwise-orthogonal vectors: e_0..e_3 land in their
    // matching cells, e_4.. tie to cell 0 (lowest id)
    (0 until 6).foreach { t =>
      val batch = Seq((2L * t, oneHot(2 * t)), (2L * t + 1, oneHot(2 * t + 1)))
        .toDF("vec_id", "embedding")
      IncrementalAnn.admitBatch(batch, "vec_id", "embedding",
        indexDir, cents, tau = 0.95, nProbe = 2)
      if (t % 2 == 1) IncrementalAnn.maintain(spark, indexDir)
    }
    val cellDirs = new java.io.File(indexDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).toSeq
    assert(cellDirs.map(_.getName).toSet == Set("cell=0", "cell=1", "cell=2", "cell=3"),
      s"cells: ${cellDirs.map(_.getName)}")
    cellDirs.foreach { d =>
      val n = d.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
      assert(n == 1, s"${d.getName} has $n part files after maintenance")
    }
    // content + pruning semantics preserved: all 12 vectors, replay drops
    val ids = spark.read.parquet(indexDir).select("id").as[Long].collect().toSet
    assert(ids == (0 until 12).map(_.toLong).toSet, s"ids $ids")
    val replay = IncrementalAnn.admitBatch(
      Seq((99L, oneHot(0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, cents, tau = 0.95, nProbe = 2)
    assert(replay == ((0L, 0L, 1L)),
      s"compacted index must still drop duplicates: $replay")
  }

  test("incremental coverage guard: cross-batch span admission, checkpoint restart") {
    import spark.implicits._
    import graft.ext.IncrementalCoverage
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inccov").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/spans")
    val ckpt = s"$root/ckpt"
    val rnd = new scala.util.Random(5)
    val alpha = "abcdefghijklmnopqrstuvwxyz    "
    def filler(n: Int): String =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val (aText, bText, cText, dText, eText) =
      (filler(200), filler(200), filler(200), filler(200), filler(300))
    val in = MemoryStream[(Long, String)]
    def start() = in.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        IncrementalCoverage.admitBatch(batch, "doc_id", "text",
          corpusDir, indexDir, winBytes = 40, anchorMod = 4); ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    in.addData((1L, aText), (2L, bText)) // unique: both admitted
    q1.processAllAvailable()
    // 3 is ~83% doc-1 content -> dropped vs the SPAN INDEX; 4 unique
    in.addData((3L, s"${filler(40)} $aText"), (4L, cText))
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: span state must survive via the index
    val q2 = start()
    // 5 repeats PRE-restart doc 1 verbatim; 6 unique; 7 below the window
    in.addData((5L, aText), (6L, dText), (7L, "tiny"))
    q2.processAllAvailable()
    q2.stop()
    val corpus = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 4L, 6L, 7L),
      s"admitted set wrong after 3 ticks + restart: $corpus")
    // in-batch semantics: two copies of the same boilerplate-dominated
    // doc BOTH fail the coverage policy (guard, not first-wins dedup)
    val both = IncrementalCoverage.admitBatch(
      Seq((8L, eText), (9L, eText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(both == ((0L, 2L)), s"in-batch copies must both drop: $both")
    // replay idempotence: a re-delivered committed batch scores 10000 bp
    // against its own indexed spans and admits nothing
    val replay = IncrementalCoverage.admitBatch(
      Seq((1L, aText), (2L, bText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(replay == ((0L, 2L)), s"replayed batch must admit nothing: $replay")
    assert(spark.read.parquet(corpusDir).count() == 5,
      "replay must not append to the corpus")
    // ...including docs BELOW the window length, which have no anchor
    // windows to score — their document fingerprint catches redelivery
    val tinyReplay = IncrementalCoverage.admitBatch(
      Seq((7L, "tiny")).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(tinyReplay == ((0L, 1L)),
      s"sub-window replay must admit nothing: $tinyReplay")
    assert(spark.read.parquet(corpusDir).count() == 5,
      "sub-window replay must not append to the corpus")
    // the index stores DISTINCT fingerprints only
    val fps = spark.read.parquet(indexDir).select("fp").as[String].collect()
    assert(fps.length == fps.distinct.length, "span index must stay distinct")
    // --- bucketed-store contract -----------------------------------
    // the store is a CLUSTERED BY (fp) table: a membership probe joins
    // with NO exchange on the store side — only the probe side shuffles
    // (forced off broadcast so the bucket path is what's proven)
    val idx = spark.table(IncrementalCoverage.tableName(spark, indexDir))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq.tabulate(64)(i => s"probe_$i").toDF("fp")
        .join(idx, Seq("fp"), "left_semi")
      val plan = probe.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllIn(plan).length
      assert(nExchanges == 1,
        s"store-side join must not exchange the store ($nExchanges):\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed"),
        s"store scan must be bucket-aware:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    // per-tick appends accumulate small bucket files; maintainIndex
    // bin-packs to one file per non-empty bucket WITHOUT scrambling the
    // bucket layout (file names carry the bucket id)
    val before = spark.table(IncrementalCoverage.tableName(spark, indexDir))
      .select("fp").as[String].collect().sorted
    IncrementalCoverage.maintainIndex(spark, indexDir, indexBuckets = 32)
    val idxFiles = new java.io.File(indexDir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    val bucketIds = idxFiles.map(_.getName.split("_")(1).take(5))
    assert(bucketIds.length == bucketIds.distinct.length,
      s"one file per bucket after maintenance: ${idxFiles.map(_.getName).toSeq}")
    val after = spark.table(IncrementalCoverage.tableName(spark, indexDir))
      .select("fp").as[String].collect().sorted
    assert(after.toSeq == before.toSeq, "maintenance must preserve the store")
    // ...and the compacted store still drops a replayed batch
    val postMaint = IncrementalCoverage.admitBatch(
      Seq((1L, aText), (2L, bText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(postMaint == ((0L, 2L)),
      s"compacted index must still drop replays: $postMaint")
    // JVM-restart path: the in-memory catalog loses the table but the
    // bucketed FILES remain — re-registration from DDL must attach the
    // bucket spec to them and keep semantics (simulated via DROP TABLE,
    // which leaves an external table's files in place)
    spark.sql(s"DROP TABLE ${IncrementalCoverage.tableName(spark, indexDir)}")
    val postRestart = IncrementalCoverage.admitBatch(
      Seq((1L, aText), (10L, filler(220))).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(postRestart == ((1L, 1L)),
      s"re-registered store must drop the replay, admit the new doc: $postRestart")
  }

  test("incremental coverage store: legacy migration, path spellings, swap recovery") {
    import spark.implicits._
    import graft.ext.IncrementalCoverage
    val root = java.nio.file.Files.createTempDirectory("graft_inccov2").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/spans")
    val rnd = new scala.util.Random(11)
    val alpha = "abcdefghijklmnopqrstuvwxyz    "
    def filler(n: Int): String =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val aText = filler(200)
    // --- legacy store migration ------------------------------------
    // a pre-bucketed store: plain-parquet appended fingerprints (file
    // names without bucket ids). Seed it with doc 1's fingerprints by
    // admitting through a THROWAWAY bucketed store, then re-writing the
    // fps as a plain parquet dir — the pre-r9 on-disk format.
    IncrementalCoverage.admitBatch(Seq((1L, aText)).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/seedcorpus", s"$root/seedidx",
      winBytes = 40, anchorMod = 4)
    spark.read.parquet(s"$root/seedidx").select("fp")
      .coalesce(1).write.parquet(indexDir)
    val legacyFiles = new java.io.File(indexDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName)
    assert(legacyFiles.nonEmpty && legacyFiles.forall(!_.matches(".*_\\d{5}\\.c\\d+.*")),
      s"fixture must be a plain (bucket-id-less) store: ${legacyFiles.toSeq}")
    // first registration must detect + migrate, then behave bucketed:
    // the replayed doc drops, a fresh doc admits
    val afterLegacy = IncrementalCoverage.admitBatch(
      Seq((1L, aText), (2L, filler(220))).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(afterLegacy == ((1L, 1L)),
      s"migrated store must keep its fingerprints working: $afterLegacy")
    val migratedFiles = new java.io.File(indexDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName)
    assert(migratedFiles.forall(_.matches(".*_\\d{5}\\.c\\d+.*")),
      s"store must be fully bucketed after migration: ${migratedFiles.toSeq}")
    // a bucket-aware probe over the migrated store must not throw
    // 'Invalid bucket file' and must stay exchange-free on the store side
    val idx = spark.table(IncrementalCoverage.tableName(spark, indexDir))
    assert(idx.count() > 0)
    // --- path spelling canonicalization ----------------------------
    // trailing-slash and scheme-qualified spellings are the SAME store:
    // same catalog entry, and a replay through the other spelling drops
    assert(IncrementalCoverage.tableName(spark, indexDir) ==
      IncrementalCoverage.tableName(spark, indexDir + "/"))
    assert(IncrementalCoverage.tableName(spark, indexDir) ==
      IncrementalCoverage.tableName(spark, "file:" + indexDir))
    val viaSlash = IncrementalCoverage.admitBatch(
      Seq((1L, aText)).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir + "/", winBytes = 40, anchorMod = 4)
    assert(viaSlash == ((0L, 1L)),
      s"other spelling of the store must see the fingerprints: $viaSlash")
    // --- interrupted-swap recovery ---------------------------------
    // simulate a crash BETWEEN the two renames: live store moved aside,
    // shadow never moved in. The next tick must heal (rename the aside
    // dir back) and keep all fingerprints.
    spark.sql(s"DROP TABLE ${IncrementalCoverage.tableName(spark, indexDir)}")
    val live = new java.io.File(indexDir)
    val old = new java.io.File(s"$root/.apply-old-spans")
    assert(live.renameTo(old), "fixture rename failed")
    val healed = IncrementalCoverage.admitBatch(
      Seq((1L, aText), (3L, filler(240))).toDF("doc_id", "text"),
      "doc_id", "text", corpusDir, indexDir, winBytes = 40, anchorMod = 4)
    assert(healed == ((1L, 1L)),
      s"healed store must reject the replay and admit the new doc: $healed")
    assert(!old.exists(), "recovery must consume the aside dir")
  }

  test("incremental quality admission: frozen tables, restart, replay, batch parity") {
    import spark.implicits._
    import graft.ext.{Corpus, IncrementalQuality, IngestLadder, Materialize}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_incqual").toString
    val (corpusDir, ckpt) = (s"$root/corpus", s"$root/ckpt")
    // frozen tables: a hash-derived weight table (the q_quality_score
    // fixture form) and a λ trained once on a reference pair whose
    // target is "alpha beta" content
    val weights = spark.range(64).select(col("id").as("bucket"),
      (pmod(graft.ext.TextOps.portableHash(col("id").cast("string")),
        lit(21L)) - 10).as("w"))
    val refRaw = Seq((100L, "the dog is by the river delta omega"),
      (101L, "the cat is on the mat alpha beta"),
      (102L, "a bird in a tree gamma sigma")).toDF("doc_id", "text")
    val refTgt = Seq((200L, "alpha beta alpha beta the alpha"),
      (201L, "beta alpha on the beta")).toDF("doc_id", "text")
    val lam = Materialize.multiScan(
      Corpus.dsirLambda(refRaw, refTgt, "doc_id", "text", nBuckets = 64))
    lam.count()
    // unigram LM frozen on the same reference corpus; the admission
    // boundary plays the ladder's frozen tercile edge. Margins are
    // bound-safe: reference n_total = 24 tokens => any SEEN token's
    // surprisal <= ln(24)*1e4 ~ 31800, so an on-target doc (3 unseen of
    // 11 tokens) means at most (3*200000 + 8*31800)/11 ~ 77700 < 120000,
    // while the surprisal-trip doc (8 unseen of 10) means >= 160000
    val lmTable = Materialize.multiScan(Corpus.unigramLm(
      refRaw.union(refTgt), "doc_id", "text"))
    lmTable.count()
    // docs exercising each gate: on-target english (pass), off-target
    // english (dsir drop), stopword-less gibberish (gopher drop), plus
    // whatever the hash weights decide (quality gate at -2000 admits
    // the bulk — parity below is the real check)
    def onTgt(i: Long) = (i, s"the cat and the mat of alpha beta alpha beta x$i")
    def offTgt(i: Long) = (i, s"the dog and the river of delta omega rho x$i")
    def gibber(i: Long) = (i, s"zzq qqw wwe eer rrt tty yyu uui x$i")
    // on-target content that loops one phrase: passes every other gate,
    // trips ONLY the repetition battery's dup-5-gram mass. The battery's
    // dials are frozen FIXTURE-appropriate (published dials assume
    // real-length documents: on an 11-token doc ANY repeated bigram
    // covers >20% of chars) — the dial-freezing contract itself
    val repTop = Map(2 -> 5000L, 3 -> 5000L, 4 -> 5000L)
    val repDup = (5 to 10).map(_ -> 3000L).toMap
    def loopy(i: Long) = (i, ("the cat is alpha beta " * 5) + s"x$i")
    // stopworded enough for Gopher, on-vocab enough for nothing: 8 of
    // 10 tokens unknown to the frozen LM — trips ONLY the surprisal gate
    def weird(i: Long) = (i, s"the of zzq wwx qqv ppu uut rrw eez t$i")
    val ticks = Seq(
      Seq(onTgt(1), offTgt(2), gibber(3), onTgt(4)),
      Seq(onTgt(5), offTgt(6), gibber(7), loopy(8)),
      Seq(onTgt(9), offTgt(10), weird(11), loopy(12)))
    def admit(b: org.apache.spark.sql.DataFrame, id: Long) =
      IncrementalQuality.admitBatch(b, id, "doc_id", "text", corpusDir,
        IngestLadder.frozenGates(weights, nBuckets = 64, thrMilli = -2000L,
          lambda = Some(lam), dsirThrX10k = 0L, minWords = 5,
          repetition = true, repTopBpMax = repTop, repDupBpMax = repDup,
          lm = Some(lmTable), maxMeanSurprisalX10k = 120000L))
    val in = MemoryStream[(Long, String)]
    def start() = in.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => admit(b, id); () }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    in.addData(ticks(0): _*); q1.processAllAvailable()
    in.addData(ticks(1): _*); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: zero scorer state to rebuild — the
    // frozen tables ARE the state
    val q2 = start()
    in.addData(ticks(2): _*); q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    // gates are discriminative: every gibberish doc dropped (gopher),
    // every off-target doc dropped (dsir), on-target docs admitted
    assert(Set(3L, 7L).intersect(streamed).isEmpty,
      s"gopher must drop the gibberish: $streamed")
    assert(Set(2L, 6L, 10L).intersect(streamed).isEmpty,
      s"the frozen-lambda gate must drop off-target docs: $streamed")
    assert(Set(8L, 12L).intersect(streamed).isEmpty,
      s"the repetition battery must drop the phrase-loop docs: $streamed")
    assert(!streamed.contains(11L),
      s"the frozen-LM surprisal gate must drop the off-vocab doc: $streamed")
    assert(Set(1L, 4L, 5L).subsetOf(streamed),
      s"on-target docs must be admitted: $streamed")
    // batch parity: doc-local scores against frozen tables make the
    // streamed admission equal the batch ladder over the union
    val union = ticks.flatten.toDF("doc_id", "text")
    val gB = Corpus.gopherRules(union, "doc_id", "text", minWords = 5)
      .filter(col("keep")).select(col("id"))
    val rB = Corpus.repetitionSignals(union, "doc_id", "text",
        topBpMax = repTop, dupBpMax = repDup)
      .filter(col("keep")).select(col("id"))
    val qB = Corpus.qualityScore(union, "doc_id", "text", weights, 64, -2000L)
      .filter(col("keep")).select(col("id"))
    val dB = Corpus.dsirScoreAgainst(union, lam, "doc_id", "text", 64)
      .filter(col("dsir_x10k") >= 0L).select(col("id"))
    val sB = Corpus.surprisalAgainst(union, lmTable, "doc_id", "text")
      .filter(col("mean_surprisal_x10k") <= 120000L).select(col("id"))
    val batchSet = gB.join(rB, Seq("id")).join(qB, Seq("id"))
      .join(dB, Seq("id")).join(sB, Seq("id")).as[Long].collect().toSet
    assert(streamed == batchSet,
      s"stream/batch divergence: stream=$streamed batch=$batchSet")
    // replay idempotence: a redelivered committed batch overwrites its
    // own per-batch directory — corpus unchanged
    val before = spark.read.parquet(corpusDir).count()
    admit(ticks(0).toDF("doc_id", "text"), 0L)
    val after = spark.read.parquet(corpusDir).count()
    assert(after == before, s"replay must not grow the corpus: $before -> $after")
  }

  test("non-ASCII battery: text operators keep char and byte units consistent") {
    import spark.implicits._
    import graft.ext.{Corpus, TextOps}
    // mixed scripts with different UTF-8 widths: CJK 3 B/char, Cyrillic
    // 2 B/char, accents 2 B/char — any char/byte mix shows up as a
    // factor-of-width error somewhere below
    val cjk = "深度学习模型需要海量高质量的训练数据支持"
    val ru = "море волнуется раз море волнуется два"
    val mixed = "état café über naïve 深度学习 résumé"
    val df = Seq((1L, cjk), (2L, ru), (3L, mixed)).toDF("doc_id", "text")
    def cp(s: String): Int = s.codePointCount(0, s.length)

    val stats = df.select(col("doc_id"),
        TextOps.nTokens(col("text")).as("nt"),
        TextOps.nPunct(col("text")).as("np"),
        length(col("text")).as("nc"),
        octet_length(col("text")).as("nb"),
        TextOps.meanTokenLen(col("text")).as("mtl"),
        TextOps.langIdHeuristic(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // length() is CHARACTERS (code points), octet_length is BYTES —
    // and they must differ by the script's width, not agree
    assert(stats(1L).getInt(3) == cp(cjk), "length must count code points")
    assert(stats(1L).getInt(4) == cjk.getBytes("UTF-8").length)
    assert(stats(1L).getInt(4) == 3 * cp(cjk), "CJK is 3 bytes/char here")
    assert(stats(2L).getInt(3) == cp(ru) && stats(2L).getInt(4) > cp(ru))
    // whitespace tokenization is byte-free: unspaced CJK is ONE token,
    // and every CJK char counts as punct-class (outside [A-Za-z0-9])
    assert(stats(1L).getInt(1) == 1 && stats(1L).getInt(2) == cp(cjk))
    // meanTokenLen is chars per token — for the single CJK token,
    // exactly the code-point count, NOT the byte count
    assert(stats(1L).getDouble(5) == cp(cjk).toDouble,
      s"meanTokenLen must be char-based: ${stats(1L)}")
    assert(stats(1L).getString(6) == "zh" && stats(2L).getString(6) == "ru")

    // chunking is token-granular: reassembling chunks loses nothing on
    // any script (same unit on both the split and slice sides)
    val re = Corpus.chunk(df, "doc_id", "text", chunkSize = 3, overlap = 0)
      .select("id", "chunk_no", "chunk_text")
      .as[(Long, Int, String)].collect().groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).mkString(" ") }
    val want = df.select(col("doc_id"),
        TextOps.normalized(col("text")).as("w"))
      .as[(Long, String)].collect().toMap
    assert(re == want, "chunk reassembly must cover every token on every script")

    // hashing operates on UTF-8 BYTES in every engine: fingerprint ==
    // JVM md5 of the normalized string's UTF-8 bytes, and the native
    // md5-prefix hash == its builtin (hex substring) form
    val fps = df.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.portableHash(col("text")).as("h"),
        TextOps.portableHashBuiltin(col("text")).as("hb"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def jvmMd5(s: String): String = org.apache.commons.codec.binary.Hex
      .encodeHexString(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")))
    Seq(1L -> cjk, 2L -> ru, 3L -> mixed).foreach { case (id, t0) =>
      val want = jvmMd5(t0.toLowerCase.trim.replaceAll("\\s+", " "))
      assert(fps(id).getString(1) == want, s"fingerprint bytes-unit: doc $id")
      assert(fps(id).getLong(2) == fps(id).getLong(3),
        s"native vs builtin portable hash on non-ASCII: doc $id")
    }
  }

  test("jaccard stop-shingle cap: subset of exact pairs, no-op when loose") {
    val docs = Tables.documents(spark, sf)
    def pairs(cap: Int) =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.25, maxDocFreq = cap)
        .select("id_a", "id_b").as[(Long, Long)](
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong)).collect().toSet
    val exact = pairs(Int.MaxValue)
    assert(pairs(1000000) == exact, "loose cap must change nothing")
    val capped = pairs(3)
    assert(capped.subsetOf(exact),
      "capping intersections can only shrink scores - no new pairs")
  }

  test("NFC normalization: composed and decomposed unicode collapse to one group") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val composed = "caf\u00e9 menu" // e-acute as one codepoint
    val decomposed = "cafe\u0301 menu" // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "cafe menu"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        md5(graft.functions.VectorFunctions.nfcNormalize(
          TextOps.normalized(col("text")))).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L),
      "NFC must collapse composed/decomposed forms to one fingerprint")
    assert(fps(1L) != fps(3L), "accent-free text is a DIFFERENT document")
    // without NFC the same pair hashes apart — the gap this closes
    val raw = df.select(col("doc_id"),
        md5(TextOps.normalized(col("text"))).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(raw(1L) != raw(2L))
    // ASCII passthrough: NFC is an identity on already-normal text
    val ascii = df.filter(col("doc_id") === 3)
      .select(graft.functions.VectorFunctions.nfcNormalize(col("text")))
      .as[String].head()
    assert(ascii == "cafe menu")
  }

  test("diversity sample: per-cell cap, deterministic at any partitioning") {
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    def sample(df: org.apache.spark.sql.DataFrame) =
      Similarity.diversitySample(df, "id", "embedding", nCells = 4, quota = 5)
        .select("cell", "sample_rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val base = sample(e)
    val perCell = base.groupBy(_._1).view.mapValues(_.size)
    assert(perCell.values.forall(_ <= 5), "quota must cap every cell")
    assert(perCell.keys.size > 1, "sampling must span multiple cells")
    assert(sample(e.repartition(13)) == base,
      "portable-hash quota must be partitioning-independent")
  }

  test("passage dedup: canonical first occurrence survives, later copies drop") {
    import spark.implicits._
    val boiler = (1 to 4).map(i => s"license$i").mkString(" ") // one 4-token passage
    val df = Seq(
      (1L, s"$boiler alpha beta gamma delta"), // passages: [boiler][alpha..delta]
      (2L, s"$boiler unique words entirely here"), // shares passage 0 with doc 1
      (3L, s"$boiler $boiler") // internal repeat: chunk 1 dups chunk 0
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "doc_id", "text", passageTokens = 4)
      .select("id", "chunk_no", "n_occ", "keep")
      .as[(Long, Int, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // boiler appears at (1,0), (2,0), (3,0), (3,1): only (1,0) survives
    assert(out(1L -> 0) == ((4L, true)))
    assert(out(2L -> 0) == ((4L, false)))
    assert(out(3L -> 0) == ((4L, false)) && out(3L -> 1) == ((4L, false)))
    // unique passages all survive
    assert(out(1L -> 1) == ((1L, true)) && out(2L -> 1) == ((1L, true)))

    // the rewrite reassembles each doc from its kept passages in chunk
    // order; a doc whose every passage was dropped disappears entirely
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rw = Dedup.passageRewrite(df, "doc_id", "text", passageTokens = 4)
      .select("id", "n_kept", "clean_fp")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rw(1L) == ((2L, md5hex(s"$boiler alpha beta gamma delta"))))
    assert(rw(2L) == ((1L, md5hex("unique words entirely here"))))
    assert(!rw.contains(3L), "doc with zero kept passages must vanish")
  }

  test("survivors: argmax score per cluster, min-id tie-break, drop accounting") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (10L, 10L), (11L, 10L)) // cluster 10
      .toDF("id", "cluster")
    val scores = Seq((1L, 40), (2L, 90), (3L, 90), // tie on 90 -> keep id 2
      (10L, 7), (11L, 7), (99L, 5)) // 99 is unclustered: ignored
      .toDF("id", "score")
    val out = Dedup.survivors(clusters, scores)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out == Map(
      1L -> ((2L, 3L, 130L)), // survivor 2 (tie vs 3), dropped 40+90
      10L -> ((10L, 2L, 7L)))) // tie on 7 -> min id 10
  }

  test("connected components: driver union-find and distributed loop agree") {
    import spark.implicits._
    // two chains and a singleton edge: {1,2,3,4}, {10,11}, {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    val viaDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.connectedComponents(pairs, driverLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == expected)
    assert(viaLoop == expected)
  }

  test("canonicalUrl: adversarial forms normalize per the documented rules") {
    import spark.implicits._
    val cases = Seq(
      // case-shifted scheme+host; path case preserved
      ("HTTP://ExAmPlE.CoM/Path/X", "example.com/Path/X"),
      // default ports stripped per original scheme; others kept
      ("http://a.com:80/x", "a.com/x"),
      ("https://a.com:443/x", "a.com/x"),
      ("http://a.com:8080/x", "a.com:8080/x"),
      ("https://a.com:80/x", "a.com:80/x"), // 80 is NOT https' default
      // scheme-insensitive key: http and https crawls collide
      ("https://a.com/x", "a.com/x"),
      ("ftp://A.com/x", "a.com/x"), // any scheme strips; no port rule
      // tracking params in every position; kept params keep order
      ("http://a.com/x?utm_source=f&id=1&utm_campaign=c", "a.com/x?id=1"),
      ("http://a.com/x?id=1&gclid=abc", "a.com/x?id=1"),
      ("http://a.com/x?utm_a=1&utm_b=2", "a.com/x"),
      ("http://a.com/x?fbclid=9", "a.com/x"),
      ("http://a.com/x?b=2&a=1", "a.com/x?b=2&a=1"),
      // fragment, trailing slash (also before the query), both
      ("http://a.com/x#sec", "a.com/x"),
      ("http://a.com/x/", "a.com/x"),
      ("http://a.com/x/?id=1", "a.com/x?id=1"),
      ("http://a.com/", "a.com"),
      // COMPONENT ANCHORING: a literal '&utm_x=' inside a PATH segment
      // and '/?' or trailing '/' inside a query VALUE are page identity,
      // not decoration — rewriting them would collide distinct pages
      ("http://a.com/x&utm_source=1/y", "a.com/x&utm_source=1/y"),
      ("http://a.com/x?next=/p/?y=1", "a.com/x?next=/p/?y=1"),
      ("http://a.com/x?next=/", "a.com/x?next=/"),
      // userinfo is case-sensitive (RFC 3986 §3.2.1): kept verbatim
      // while host folds and the default port strips
      ("http://UsEr:Pw@A.com:80/x", "UsEr:Pw@a.com/x"),
      // scheme-less input: no port strip (unknown scheme), host lowered
      ("A.com/X", "a.com/X"),
      // IDN policy: compared as-is, no punycode folding
      ("http://münchen.example/x", "münchen.example/x"),
      ("  http://a.com/x ", "a.com/x"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalUrl(col("url")).as("k"))
      .as[String].collect()
    cases.zip(got).foreach { case ((in, want), k) =>
      assert(k == want, s"canonicalUrl('$in') = '$k', want '$want'")
    }
  }

  test("canonicalUrl IDNA opt-in: mixed IDN/punycode crawls collapse " +
      "under the flag; the default stays as-is; ports/ASCII untouched") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    def keys(flag: Boolean, urls: String*): Seq[String] =
      urls.toDF("url")
        .select(TextOps.canonicalUrl(col("url"), idnaFold = flag).as("k"))
        .as[String].collect().toSeq
    // the flag folds the IDN host onto its punycode twin
    val folded = keys(true,
      "http://münchen.example/x", "http://xn--mnchen-3ya.example/x")
    assert(folded.distinct.size == 1, s"must collapse: $folded")
    assert(folded.head == "xn--mnchen-3ya.example/x")
    // default (as-is policy): the two crawls stay distinct keys
    val asIs = keys(false,
      "http://münchen.example/x", "http://xn--mnchen-3ya.example/x")
    assert(asIs.distinct.size == 2, s"default must not fold: $asIs")
    // explicit port excluded from the fold and preserved; ASCII hosts
    // and the rest of the chain unchanged under the flag
    assert(keys(true, "http://münchen.example:8080/x")
      == Seq("xn--mnchen-3ya.example:8080/x"))
    assert(keys(true, "HTTP://A.com:80/p/?id=1&utm_source=f")
      == keys(false, "HTTP://A.com:80/p/?id=1&utm_source=f"))
    // malformed host: kept as-is, scan must not throw
    assert(keys(true, "http://bad..ühost../x").nonEmpty)
  }

  test("urlGroups: six crawl variants of one page collapse to one key") {
    import spark.implicits._
    val docs = Seq(
      (1L, "http://site7.com/p/9?id=9"),
      (2L, "HTTPS://SITE7.COM/p/9?id=9"),
      (3L, "https://site7.com:443/p/9?id=9"),
      (4L, "http://site7.com:80/p/9?utm_source=feed&id=9&utm_campaign=x"),
      (5L, "http://site7.com/p/9?id=9#frag"),
      (6L, "http://site7.com/p/9/?id=9"),
      (7L, "http://site7.com/p/10?id=10")).toDF("doc_id", "url")
    val g = Dedup.urlGroups(docs, "doc_id", "url")
      .as[(String, Long, Long)].collect()
      .map { case (k, i, n) => k -> ((i, n)) }.toMap
    assert(g == Map("site7.com/p/9?id=9" -> (1L, 6L),
      "site7.com/p/10?id=10" -> (7L, 1L)))
  }

  test("urlHostCard: hostname rollup strips ports, counts crawls vs " +
      "pages, flags the mirror host") {
    import spark.implicits._
    val docs = Seq(
      // mirror.com: 4 crawls of ONE page (variants) -> dup_bp 7500
      (1L, "http://mirror.com/p/1"),
      (2L, "HTTP://MIRROR.COM/p/1"),
      (3L, "http://mirror.com:80/p/1"),
      (4L, "http://mirror.com/p/1/"),
      // healthy.com: 2 crawls, 2 pages -> dup 0; port 8080 is PART of
      // the authority but NOT of the host rollup
      (5L, "http://healthy.com/a"),
      (6L, "http://healthy.com:8080/b")).toDF("doc_id", "url")
    val card = Dedup.urlHostCard(docs, "doc_id", "url")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(card == Map(
      "mirror.com" -> ((4L, 1L, 7500L)),
      "healthy.com" -> ((2L, 2L, 0L))), s"got $card")
  }

  test("connected components: star contraction collapses a 3000-link " +
      "chain (diameter >> 25 — the shape label propagation cannot finish)") {
    import spark.implicits._
    // a chain is the hostile graph for any propagation scheme: its
    // diameter equals its length, so the r13 min-label loop needed
    // 2999 rounds and would have stopped silently wrong at maxIter=25.
    // Star contraction is O(log n) rounds: default maxIter must succeed.
    val n = 3000L
    val pairs = spark.range(1, n)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val labels = Dedup.connectedComponents(pairs, driverLimit = 0L)
      .as[(Long, Long)].collect()
    assert(labels.length == n)
    assert(labels.forall(_._2 == 1L),
      s"all chain nodes must label to min id 1, got ${labels.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("connected components: star contraction fuzz-agrees with the " +
      "driver union-find on random graphs") {
    import spark.implicits._
    // deterministic pseudo-random edge sets of varying density — the
    // equivalence oracle is the driver fast path itself
    for (seed <- Seq(1, 2, 3)) {
      val nNodes = 120L
      val nEdges = 150
      val es = (0 until nEdges).map { i =>
        val a = math.abs((i * 2654435761L + seed * 40503L) % nNodes)
        val b = math.abs((i * 1597334677L + seed * 69069L) % nNodes)
        (a, b)
      }.filter { case (a, b) => a != b }
      val pairs = es.toDF("id_a", "id_b")
      val viaDriver = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val viaStars = Dedup.connectedComponents(pairs, driverLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(viaStars == viaDriver, s"seed $seed mismatch")
    }
  }

  test("connected components: star contraction handles string ids " +
      "(generic orderable key, no integral fast path)") {
    import spark.implicits._
    val pairs = Seq(("b", "a"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, driverLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("connected components: reliable-checkpoint mode writes rounds and agrees") {
    import spark.implicits._
    // executor loss mid-fixpoint with localCheckpoint loses both the
    // blocks and the truncated lineage; the opt-in reliable path must
    // produce the same labels while writing each round durably — and
    // keep at most the final round's files (earlier rounds deleted as
    // the loop advances, so a long ingest loop can't fill the fs)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    val result = Dedup.connectedComponents(pairs, driverLimit = 0L,
      checkpointDir = Some(dir.toString))
    val out = result.as[(Long, Long)].collect().toMap
    assert(out == expected)
    val roundDirs = new java.io.File(dir.toString).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("round_"))
    assert(roundDirs.length == 1,
      s"exactly the final round's files should remain, got ${roundDirs.toSeq}")
    // the returned labels are backed by those durable files — a fresh
    // read of the final round agrees
    val reread = spark.read.parquet(s"$dir/${roundDirs.head}")
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(reread == expected)
  }

  test("incremental-ANN loop: in-batch and cross-batch drops, cell-partitioned index") {
    import spark.implicits._
    import graft.ext.IncrementalAnn
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString + "/index"
    // coarse cells = the four basis directions
    val cents: Array[(Long, Array[Float])] = Array(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f))
    def df(rows: (Long, Array[Float])*) =
      rows.toSeq.toDF("vec_id", "embedding")
    // tick 1: four distinct directions, empty index -> all admitted
    val t1 = IncrementalAnn.admitBatch(
      df(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(0f, 1f, 0f, 0f),
         3L -> Array(0f, 0f, 1f, 0f), 4L -> Array(0f, 0f, 0f, 1f)),
      "vec_id", "embedding", dir, cents, tau = 0.95, nProbe = 2)
    assert(t1 == ((4L, 0L, 0L)), s"tick1 $t1")
    // the index landed partitioned by cell (one dir per coarse cell)
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(cellDirs == Set("cell=0", "cell=1", "cell=2", "cell=3"), s"$cellDirs")
    // tick 2: 10 near-dups indexed vector 1 (vs-index drop); 12 and 13
    // are near each other (in-batch: 13 collapses into 12) AND near
    // indexed vector 3 (so 12 also drops vs index); 11 is ~45 degrees
    // from everything (cos ~= 0.707 < tau) and survives
    val t2 = IncrementalAnn.admitBatch(
      df(10L -> Array(0.99f, 0.01f, 0f, 0f), 11L -> Array(0.7f, 0.7f, 0f, 0f),
         12L -> Array(0f, 0f, 0.99f, 0.01f), 13L -> Array(0f, 0f, 0.98f, 0.02f)),
      "vec_id", "embedding", dir, cents, tau = 0.95, nProbe = 2)
    assert(t2 == ((1L, 1L, 2L)), s"tick2 $t2")
    val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 11L), s"index holds $ids")
  }

  test("jaccardAgainst cacheCorpus=false: same pairs, zero cached relations") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta eta"),
      (12L, "totally unrelated words here")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val df = Dedup.jaccardAgainst(batch, corpus, "doc_id", "text",
      n = 2, tau = 0.5, cacheCorpus = false)
    // the memory-bounded form holds no corpus-sized cache anywhere —
    // postings stream from the text scans into the join
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val rels = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r }
    assert(rels.isEmpty, s"cacheCorpus=false must cache nothing, got ${rels.length}")
    val out = df.select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val cached = Dedup.jaccardAgainst(batch, corpus, "doc_id", "text",
      n = 2, tau = 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(out == cached, s"uncached form diverged: $out vs $cached")
    spark.catalog.clearCache()
  }

  test("substring dup spans: alignment-free detection, sub-window spans unseen") {
    import spark.implicits._
    // the shared 60-char span sits at DIFFERENT offsets in docs 1 and 2:
    // fixed-stride sampling at stride s only matches when the offset
    // delta ≡ 0 mod s; content-defined anchors must catch it regardless
    val span = "the exact same sixty character long span of text appears here"
    val df = Seq(
      (1L, s"prefix one $span and then doc one trails off differently"),
      (2L, s"a much longer and differently sized prefix two $span tail"),
      (3L, "entirely unrelated content with no shared spans at all in it " +
        "padded to clear the window length floor")).toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(df, "doc_id", "text",
        winBytes = 40, anchorMod = 4)
      .select("fp", "n_docs", "n_occ", "first_doc")
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty, "shared span at misaligned offsets must be found")
    assert(out.forall(r => r._2 == 2L && r._4 == 1L),
      s"every dup span is shared by docs 1+2 with first_doc=1: ${out.toSeq}")
    // doc 3 shares nothing: no fingerprint may involve it — implied by
    // n_docs==2 ∧ first_doc==1 above plus this pair-level recheck
    val withDoc3 = Dedup.substringDupSpans(
      df.filter(col("doc_id") =!= 2L), "doc_id", "text",
      winBytes = 40, anchorMod = 4).count()
    assert(withDoc3 == 0L, "docs 1 and 3 share no 40-char span")
  }

  test("substring coverage: overlapping dup windows union, unique docs score 0") {
    import spark.implicits._
    val shared = "this entire document is one long repeated span of text " +
      "that keeps going for quite a while longer than any single window"
    val df = Seq(
      (1L, shared), (2L, shared),
      (3L, "a totally unique document with no repeated spans anywhere " +
        "in the corpus and comfortably past the window length")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupCoverage(df, "doc_id", "text",
        winBytes = 40, anchorMod = 4, dropAtBp = 5000)
      .select("id", "n_bytes", "n_dup_windows", "covered_bytes", "cov_bp", "drop")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 3)
    val (_, n1, w1, c1, bp1, drop1) = out(1L)
    // identical docs: every window is duplicated; overlapping windows
    // must UNION, not sum — covered < n_windows * win but spans the text
    assert(w1 >= 2 && c1 < w1 * 40, s"overlap not collapsed: $w1 wins, $c1 chars")
    assert(c1 <= n1, "coverage cannot exceed the document")
    assert(bp1 >= 5000 && drop1, s"near-total dup must drop: $bp1 bp")
    assert(out(2L)._4 == c1 && out(2L)._5 == bp1, "identical docs score identically")
    assert(out(3L)._3 == 0L && out(3L)._4 == 0L && !out(3L)._6,
      s"unique doc must score 0: ${out(3L)}")
  }

  test("substring coverage: non-ASCII units are byte-consistent, cov_bp <= 10000") {
    import spark.implicits._
    // CJK is ~3 UTF-8 bytes/char: a char-counted denominator under byte
    // positions would inflate cov_bp up to ~3x (and past 10000). Both
    // sides must count BYTES of the normalized text.
    val cjk = "机器学习模型的训练数据质量直接决定了模型的泛化能力和下游任务表现，" +
      "因此大规模语料去重是预训练流程中不可或缺的一个环节，重复文本会浪费算力。"
    val df = Seq(
      (1L, cjk), (2L, cjk),                      // full duplicates
      (3L, "独一无二的文档内容，与语料库中的其他任何文档都不存在共享片段，" +
        "篇幅足以超过窗口长度下限，确保覆盖率评分路径被完整执行。"),
      (4L, s"état café über naïve $cjk façade jalapeño résumé")  // mixed accents + CJK
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupCoverage(df, "doc_id", "text",
        winBytes = 40, anchorMod = 4, dropAtBp = 5000)
      .select("id", "n_bytes", "n_dup_windows", "covered_bytes", "cov_bp", "drop")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 4)
    // denominator is the UTF-8 byte length of the normalized text, not chars
    def normBytes(s: String): Long =
      s.toLowerCase.trim.replaceAll("\\s+", " ").getBytes("UTF-8").length.toLong
    assert(out(1L)._2 == normBytes(cjk), s"${out(1L)._2} vs ${normBytes(cjk)}")
    assert(out(1L)._2 > cjk.length, "CJK must be > 1 byte/char")
    // the unit-mix bug made cov_bp read up to ~3x true coverage (>10000
    // on a fully-duplicated CJK doc); with consistent units it's bounded
    out.values.foreach { r =>
      assert(r._5 <= 10000L, s"cov_bp must be basis points: $r")
      assert(r._4 <= r._2, s"covered bytes cannot exceed the document: $r")
    }
    // identical CJK docs: spans found, both score identically and drop
    assert(out(1L)._4 > 0L, s"duplicated CJK span must be covered: ${out(1L)}")
    assert(out(1L)._5 >= 5000L && out(1L)._6, s"full dup must drop: ${out(1L)}")
    assert(out(2L)._4 == out(1L)._4 && out(2L)._5 == out(1L)._5)
    // unique CJK doc scores 0; the mixed doc shares the cjk span only
    assert(out(3L)._4 == 0L && !out(3L)._6, s"unique doc: ${out(3L)}")
    assert(out(4L)._4 > 0L && out(4L)._4 < out(4L)._2, s"partial dup: ${out(4L)}")
  }

  test("exactDupSpans: planted spans recovered exactly (recall 1, byte-precise bounds)") {
    import spark.implicits._
    // pre-normalized docs (lowercase, single-spaced) so byte offsets are
    // knowable; filler tokens carry a doc-unique prefix so NO window
    // repeats except inside the planted span; the chars flanking the
    // span DIFFER between the two docs, so the recovered island must be
    // exactly [a, a+len) — one byte of slop either way fails
    def filler(doc: Int, n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < n) { sb.append(s"d${doc}w$i "); i += 1 }
      sb.toString.substring(0, n)
    }
    val span = (0 until 6).map(i => s"sharedspanword$i").mkString(" ")
    assert(span.length == 95)
    // every filler stream gets its own doc index — reusing one would
    // plant a SELF-duplicated region
    val pre1 = filler(11, 100); val pre2 = filler(21, 150)
    val doc1 = pre1 + "1" + span + "2" + filler(12, 80)
    val doc2 = pre2 + "3" + span + "4" + filler(22, 60)
    val doc3 = filler(33, 300) // nothing shared
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val spans = Dedup.exactDupSpans(df, "doc_id", "text", minLen = 40)
      .as[(Long, Int, Int, Int)].collect().toSet
    val a1 = pre1.length + 2 // 1-based start of span in doc1 (after the '1')
    val a2 = pre2.length + 2
    assert(spans == Set(
      (1L, a1, a1 + span.length, span.length),
      (2L, a2, a2 + span.length, span.length)),
      s"expected exact planted spans, got $spans")
    // consistency: interval mass == substringDupCoverage at anchorMod=1
    val cov = Dedup.substringDupCoverage(df, "doc_id", "text",
        winBytes = 40, anchorMod = 1, dropAtBp = 5000)
      .select("id", "covered_bytes").as[(Long, Long)].collect().toMap
    assert(cov(1L) == span.length && cov(2L) == span.length && cov(3L) == 0L,
      s"coverage must equal the exact span mass: $cov")
  }

  test("cms: estimates always >= exact, equal when the grid is collision-free") {
    import spark.implicits._
    val items = Seq.tabulate(600)(i => s"tok${i % 30}").toDF("item")
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("exact_n"))
    // wide grid: 30 distinct items over 4x512 cells — no collisions, so
    // every estimate equals the exact count
    val wide = graft.ext.Sketch.cmsEstimate(items, "item", exact, "item",
        depth = 4, width = 512)
      .select("item", "exact_n", "cms_n").as[(String, Long, Long)].collect()
    assert(wide.length == 30 && wide.forall(r => r._3 == r._2), wide.toSeq)
    // tiny grid: 30 items into 4x4 cells — collisions guaranteed; the
    // CMS one-sided error bound (est >= exact, never under) must hold
    val tiny = graft.ext.Sketch.cmsEstimate(items, "item", exact, "item",
        depth = 4, width = 4)
      .select("exact_n", "cms_n").as[(Long, Long)].collect()
    assert(tiny.forall(r => r._2 >= r._1), tiny.toSeq)
    assert(tiny.exists(r => r._2 > r._1), "4x4 over 30 items must collide")
  }

  test("cms: out-of-corpus probes survive and read untouched cells as 0") {
    import spark.implicits._
    val items = Seq.tabulate(600)(i => s"tok${i % 30}").toDF("item")
    // probes the corpus never saw: the decontamination-lookup shape.
    // With a collision-free grid every addressed cell is untouched, so
    // the estimate must be exactly 0 — and the row must NOT vanish
    // (an inner join against touched cells would drop it).
    val probes = Seq("absent_a", "absent_b", "tok0").toDF("item")
    val out = graft.ext.Sketch.cmsEstimate(items, "item", probes, "item",
        depth = 4, width = 2048)
      .select("item", "cms_n").as[(String, Long)].collect().toMap
    assert(out.size == 3, s"probe rows lost: $out")
    assert(out("absent_a") == 0L && out("absent_b") == 0L, out)
    assert(out("tok0") == 20L, out)
    // tiny grid: an absent probe may collide with corpus cells, but the
    // min over depth rows must still include any untouched (zero) cell
    val tinyAbsent = graft.ext.Sketch.cmsEstimate(items, "item",
        Seq("absent_a").toDF("item"), "item", depth = 4, width = 4)
      .select("cms_n").as[Long].collect()
    assert(tinyAbsent.length == 1 && tinyAbsent(0) >= 0L)
  }
}
