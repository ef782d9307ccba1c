package graft
// (compaction + salting layout tools)

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Layout

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bucketed tables join with zero exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    Layout.writeBucketed(orders, "b_orders", s"$wh/b_orders", 8, Seq("o_orderkey"))
    Layout.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", s"$wh/b_lineitem", 8, Seq("o_orderkey"))
    val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    assert(joined.count() == lineitem.count())
    // correctness identical to the plain join
    val plain = orders.join(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
    assert(joined.count() == plain.count())
  }

  test("bucketed postings index: the containment probe shuffles ONLY the batch side") {
    import graft.ext.Dedup
    // the steady-state claim at 100 TB: the stored index is the BIG
    // side — bucket it by the join key (sh64) at admission time and a
    // probe's shuffle volume is the batch's postings alone, the index
    // never moves. Proven relatively: same probe against the bucketed
    // table plans exactly ONE fewer hash exchange than against the
    // flat parquet, with identical output. Broadcast is disabled so
    // the fixture-scale optimizer can't hide the exchange being
    // asserted about.
    val wh = Files.createTempDirectory("graft_bpost").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 11 =!= 0)
    val batch = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 11 === 0)
    val posts = Dedup.shinglePostings(corpus, "doc_id", "text", 3)
    posts.write.parquet(s"$wh/flat")
    Layout.writeBucketed(posts, "b_postings", s"$wh/b_postings", 8, Seq("sh64"))
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def probe(index: org.apache.spark.sql.DataFrame) =
        Dedup.containmentProbe(
          Dedup.shinglePostings(batch, "doc_id", "text", 3), index, 0.5)
      val flat = probe(spark.read.parquet(s"$wh/flat"))
      val bucketed = probe(spark.table("b_postings"))
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(exchanges(bucketed) == exchanges(flat) - 1,
        s"bucketing must remove exactly the index-side exchange: " +
          s"flat=${exchanges(flat)} bucketed=${exchanges(bucketed)}")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
      val (rf, rb) = (rows(flat), rows(bucketed))
      assert(rf == rb && rf.nonEmpty,
        s"layout must never change the answer: ${rf.size} vs ${rb.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("compactParquetDir bin-packs small files, keeps every row, swaps atomically") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate streaming ingest: 64 tiny part files
    spark.range(20000).select(col("id"), (col("id") % 7).as("g"))
      .repartition(64).write.parquet(dir)
    def partFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles() == 64)
    val before = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    val n = Layout.compactParquetDir(spark, dir, targetBytes = 1L << 30)
    assert(n == 1 && partFiles() == 1, s"expected 1 packed file, got ${partFiles()}")
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == before,
      "compaction must preserve every row")
    // target smaller than total -> multiple output files
    val n2 = Layout.compactParquetDir(spark, dir, targetBytes = 40000L)
    assert(n2 > 1 && partFiles() == n2)
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("hasParquetData: footer-less trees read as no-data, real data (even nested) as data") {
    val root = Files.createTempDirectory("graft_haspq").toString
    assert(!Layout.hasParquetData(spark, s"$root/never_created"))
    // exists but empty
    val empty = s"$root/empty"; new java.io.File(empty).mkdirs()
    assert(!Layout.hasParquetData(spark, empty))
    // the all-rejected-first-batch shape: a batch=0 partition dir
    // holding only a _SUCCESS marker — non-empty by listStatus, zero
    // parquet footers; a bare-directory probe would hand this to
    // spark.read.parquet and die on schema inference
    val marker = s"$root/ix/batch=0"; new java.io.File(marker).mkdirs()
    Files.createFile(java.nio.file.Paths.get(s"$root/ix/batch=0/_SUCCESS"))
    assert(!Layout.hasParquetData(spark, s"$root/ix"))
    // real data nested one level down IS found
    import spark.implicits._
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$root/ix/batch=1")
    assert(Layout.hasParquetData(spark, s"$root/ix"))
  }

  test("compactParquetDir aborts cleanly when a concurrent writer slips in") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_compact_race").toString + "/t"
    spark.range(5000).select(col("id")).repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).count()
    def partFiles() = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val nBefore = partFiles().length
    // a "concurrent writer" lands one more part file between the
    // compacted write and the swap — the listing re-check must abort,
    // leave the live dir untouched, and discard the compacted output
    val ex = intercept[IllegalStateException] {
      Layout.compactParquetDir(spark, dir, 1L << 30, () => {
        val src = partFiles().head.toPath
        java.nio.file.Files.copy(src,
          src.resolveSibling("part-concurrent-writer.parquet"))
        ()
      })
    }
    assert(ex.getMessage.contains("concurrent writer"))
    assert(partFiles().length == nBefore + 1, "live dir must be untouched")
    assert(spark.read.parquet(dir).count() > before, "new rows must survive")
    assert(!new java.io.File(dir).getParentFile.listFiles()
      .exists(_.getName.startsWith(".apply-tmp-")),
      "aborted compacted output must be cleaned up")
  }

  /** A ladder root whose `postings` tree holds `batch=b` partitions of
    * ten distinct ids each (b*10 until b*10+10, b = -1 for a prior
    * fold). */
  private def foldTree(parts: Seq[Int]): (String, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_foldcrash").toString
    val tree = s"$root/postings"
    parts.foreach { b =>
      val lo = (b + 1) * 10L
      (lo until lo + 10).toDF("id").write.parquet(s"$tree/batch=$b")
    }
    (root, tree)
  }

  private def ids(tree: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(tree).select("id").as[Long].collect().toSeq.sorted
  }

  private def hiddenDirs(tree: String): Seq[String] =
    new java.io.File(tree).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("."))
      .map(_.getName).toSeq

  private def writeRecord(dir: String, sources: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, Layout.FoldRecord),
      sources.mkString("\n").getBytes("UTF-8"))

  test("foldBatchPartitions: a crash mid-write or before the source " +
      "deletes recovers with every row exactly once") {
    import graft.ext.IncrementalDedup
    // (a) mid-write: a prior fold holds batch=-1; the crashed fold's tmp
    // has its source record and one part file, but no commit witness
    val (rootA, treeA) = foldTree(Seq(-1, 0, 1, 2))
    spark.read.parquet(s"$treeA/batch=0").write
      .parquet(s"$treeA/.apply-tmp-batch=-1")
    new java.io.File(s"$treeA/.apply-tmp-batch=-1/_SUCCESS").delete()
    writeRecord(s"$treeA/.apply-tmp-batch=-1",
      Seq("batch=0", "batch=1"))
    IncrementalDedup.recoverLadderEntry(spark, rootA)
    assert(ids(treeA) == (0L until 40L), "recovery must drop the partial fold")
    assert(hiddenDirs(treeA).isEmpty, s"hidden: ${hiddenDirs(treeA)}")
    assert(Layout.foldBatchPartitions(spark, treeA, 2L) == 3)
    assert(ids(treeA) == (0L until 40L), "refold must keep every row once")
    // (a') a first-ever fold whose write finished (the committer's
    // _SUCCESS is there) but whose witness and rename were lost: the
    // tmp is promoted, so its record must already name the sources
    val (rootP, treeP) = foldTree(Seq(0, 1))
    spark.read.parquet(s"$treeP/batch=0", s"$treeP/batch=1").write
      .parquet(s"$treeP/.apply-tmp-batch=-1")
    writeRecord(s"$treeP/.apply-tmp-batch=-1", Seq("batch=0", "batch=1"))
    IncrementalDedup.recoverLadderEntry(spark, rootP)
    assert(ids(treeP) == (10L until 30L), "promoted fold: every row once")
    assert(Layout.batchValues(spark, treeP) == Seq(-1L))
    // (b) after the swap, before the source deletes: the new batch=-1
    // and its still-present sources both hold rows 10..29. Healed by
    // the entry the containment gate runs before its probe.
    val (_, treeB) = foldTree(Seq(0, 1, 2))
    spark.read.parquet(s"$treeB/batch=0", s"$treeB/batch=1").write
      .parquet(s"$treeB/batch=-1")
    Files.createFile(java.nio.file.Paths.get(s"$treeB/batch=-1/_graft_commit"))
    writeRecord(s"$treeB/batch=-1", Seq("batch=0", "batch=1"))
    Layout.recoverFold(spark, treeB)
    assert(ids(treeB) == (10L until 40L), "recovery must finish the deletes")
    assert(Layout.batchValues(spark, treeB) == Seq(-1L, 2L))
    assert(!new java.io.File(s"$treeB/batch=-1/${Layout.FoldRecord}").exists)
    assert(Layout.foldBatchPartitions(spark, treeB, 3L) == 2)
    assert(ids(treeB) == (10L until 40L), "refold must keep every row once")
    // a fold that runs to the end leaves no record and no hidden dir
    Seq(treeA, treeP, treeB).foreach { t =>
      assert(hiddenDirs(t).isEmpty, s"$t hidden: ${hiddenDirs(t)}")
      assert(!new java.io.File(s"$t/batch=-1/${Layout.FoldRecord}").exists)
    }
  }

  test("foldBatchPartitions: a tree left by the rename-aside fold's crash " +
      "after one .fold-old rename recovers every row") {
    import graft.ext.IncrementalDedup
    // that fold wrote its output to .fold-<uuid>, then renamed each
    // source aside in name order — batch=-1 first — then the output
    // into batch=-1. Crash after the first rename: batch=-1's rows
    // live only in the aside dir.
    val (root, tree) = foldTree(Seq(-1, 0, 1))
    spark.read.parquet(s"$tree/batch=-1", s"$tree/batch=0",
      s"$tree/batch=1").write
      .parquet(s"$tree/.fold-${java.util.UUID.randomUUID()}")
    Files.move(java.nio.file.Paths.get(tree, "batch=-1"),
      java.nio.file.Paths.get(tree,
        s".fold-old-batch=-1-${java.util.UUID.randomUUID()}"))
    IncrementalDedup.recoverLadderEntry(spark, root)
    Layout.foldBatchPartitions(spark, tree, 2L)
    assert(ids(tree) == (0L until 30L), s"rows after recovery: ${ids(tree)}")
    assert(hiddenDirs(tree).isEmpty, s"hidden: ${hiddenDirs(tree)}")
  }

  test("IVF layout: a probe query reads only the probed cell directories") {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ivf").toString + "/ivf"
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding")).coalesce(1)
    val nCentroids = 8
    val cents = e.orderBy(col("id")).limit(nCentroids).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    Similarity.writeIvfIndex(e, dir, cents)
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length == nCentroids, s"expected $nCentroids cell dirs")
    val totalFiles = cellDirs.map(_.listFiles()
      .count(_.getName.endsWith(".parquet"))).sum
    // probe with a real corpus vector, 2 of 8 cells
    val q = e.filter(col("id") === 42).select("embedding")
      .head().getSeq[Float](0).toArray
    val probed = Similarity.probeCellsLocal(q, cents, nProbe = 2)
    val pruned = Similarity.readIvfProbes(spark, dir, q, cents, nProbe = 2)
    // execute pruned's own QueryExecution so its scan metrics populate
    val rows = pruned.collect()
    val cellIdx = pruned.schema.fieldIndex("cell")
    assert(rows.nonEmpty &&
      rows.map(_.get(cellIdx).toString.toLong).toSet == probed.toSet,
      "pruned read must return exactly the probed cells")
    // the scan's own metric: files touched = files of the probed dirs,
    // i.e. ~nProbe/nCentroids of the table (the 100 TB proof-point)
    val plan = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
    val filesRead = scan.metrics("numFiles").value
    val expected = cellDirs
      .filter(d => probed.map(c => s"cell=$c").contains(d.getName))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesRead == expected && filesRead <= totalFiles * 2 / nCentroids,
      s"filesRead=$filesRead expected=$expected total=$totalFiles")
  }

  test("int8 quantization round-trips within the m/254 bound") {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val checked = e.select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding")).as("q8"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("m"))
      .select(col("vec_id"), col("m"),
        array_max(transform(col("q8"), v => abs(v))).as("qmax"),
        aggregate(zip_with(col("embedding"),
            Similarity.dequantizeInt8(col("q8"), col("m")),
            (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, d) => greatest(acc, d)).as("max_err"))
    import spark.implicits._
    checked.select("m", "qmax", "max_err").as[(Double, Int, Double)].collect()
      .foreach { case (m, qmax, err) =>
        assert(qmax <= 127, "int8 range exceeded")
        assert(err <= m / 254.0 + 1e-6, s"round-trip error $err > ${m / 254.0}")
      }
  }

  test("operational loop: repeated merges then a compaction tick") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft_oploop").toString
    val sink = new graft.sink.ParquetMergeSink(root)
    // ten micro-batches; the sink writes each rewrite as right-sized
    // files, so the tick has nothing to shrink but must stay a no-op on
    // contents and leave a table the merge loop keeps working on
    (1 to 10).foreach { i =>
      val b = Seq((s"k$i", i.toLong, "u", s"v$i"), ("k0", i.toLong, "u", s"v0-$i"))
        .toDF("pk", "ts", "op", "payload")
      sink.merge("db", "t", b, "pk", "op", "d")
    }
    val dir = sink.targetPath("db", "t")
    val before = spark.read.parquet(dir)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(before.size == 11 && before("k0") == "v0-10", s"got $before")
    val n = graft.ext.Layout.compactParquetDir(spark, dir, targetBytes = 1L << 30)
    assert(n == 1)
    val after = spark.read.parquet(dir)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(after == before, "compaction tick must not change table contents")
    // and the merge loop keeps working on the compacted table
    sink.merge("db", "t", Seq(("k0", 99L, "d", "x")).toDF("pk", "ts", "op", "payload"),
      "pk", "op", "d")
    assert(spark.read.parquet(dir).count() == 10)
  }

  test("salted join equals plain join, with salted shuffle keys in the plan") {
    import spark.implicits._
    val large = (1 to 10000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", 1), ("k5", 2)).toDF("key", "w")
    val salted = Layout.saltedJoin(large, small, "key", salts = 8)
    val plain = large.join(small, "key")
    assert(salted.count() == plain.count())
    assert(salted.select("key", "v", "w").except(plain.select("key", "v", "w")).isEmpty)
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"), "salt key absent from the plan")
  }

  test("fileSizeCard: counts, percentile, small-file threshold; refuses an empty dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fszcard").toString
    // 5 part files of very different row counts -> different byte sizes
    (1L to 4000L).toDF("id")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id"))
      .write.mode("overwrite").parquet(dir)
    spark.range(1).toDF("id").write.mode("append").parquet(dir)
    val r = Layout.fileSizeCard(spark, dir, smallBytes = 1L << 20)
      .collect().head
    val sizes = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length).sorted
    assert(r.getAs[Long]("n_files") == sizes.length.toLong)
    assert(r.getAs[Long]("total_bytes") == sizes.sum)
    assert(r.getAs[Long]("p50_bytes") == sizes(sizes.length / 2))
    assert(r.getAs[Long]("max_bytes") == sizes.last)
    // every local test file is far under 1 MB -> all "small"
    assert(r.getAs[Long]("n_small") == sizes.length.toLong)
    assert(r.getAs[Long]("small_ppm") == 1000000L)
    // a generous threshold flips none small
    val r2row = Layout.fileSizeCard(spark, dir, smallBytes = 1L)
      .collect().head
    assert(r2row.getAs[Long]("n_small") == 0L &&
      r2row.getAs[Long]("small_ppm") == 0L)
    val empty = java.nio.file.Files.createTempDirectory("fszempty").toString
    intercept[IllegalArgumentException] {
      Layout.fileSizeCard(spark, empty)
    }
  }

  test("fileSizeCard: recurses into partitioned (nested) layouts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fszpart").toString
    (1L to 100L).map(i => (i, i % 3)).toDF("id", "p")
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    // data files live under p=0/, p=1/, p=2/ — a flat listStatus sees
    // only directories and would refuse a valid table
    val r = Layout.fileSizeCard(spark, dir).collect().head
    assert(r.getAs[Long]("n_files") >= 3L,
      s"expected >=3 nested part files, card saw ${r}")
    assert(r.getAs[Long]("total_bytes") > 0L)
  }

  test("skewCard: hand-computed shares, exact percentiles of the key-count distribution") {
    import spark.implicits._
    // one hot key with 8 rows, seven singletons: counts sorted
    // [1,1,1,1,1,1,1,8]; p50 = 1.0; p99 at h = 6.93 interpolates
    // (7-6.93)*1 + (6.93-6)*8; skew_ratio = 8/1
    val df = (Seq.fill(8)("hot") ++ Seq("a", "b", "c", "d", "e", "f", "g"))
      .toDF("k")
    val r = Layout.skewCard(df, Seq("k")).collect().head
    assert(r.getAs[Long]("n_rows") == 15L)
    assert(r.getAs[Long]("n_keys") == 8L)
    assert(r.getAs[Long]("max_key_n") == 8L)
    assert(r.getAs[Long]("top1_share_ppm") == 8L * 1000000L / 15L)
    assert(r.getAs[Double]("p50_key_n") == 1.0)
    val h = 0.99 * 7
    val p99 = (math.ceil(h) - h) * 1.0 + (h - math.floor(h)) * 8.0
    assert(r.getAs[Double]("p99_key_n") ==
      math.floor(p99 * 100 + 0.5) / 100)
    assert(r.getAs[Double]("skew_ratio") == 8.0)
    intercept[IllegalArgumentException] {
      Layout.skewCard(df, Seq.empty)
    }
  }
}
