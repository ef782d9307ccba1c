package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.envelope.PgCdc
import graft.pipeline.CdcPipeline
import graft.sink.{MergeSink, ParquetMergeSink}

/** End-to-end micro-batch pipeline test: MemoryStream of Debezium-PG
  * envelope JSON → CdcPipeline → ParquetMergeSink, verifying multi-table
  * fanout, latest-wins compaction, deletes, and cross-batch merge.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  def pgEvent(table: String, id: Int, ts: Long, op: String, name: String): String = {
    val row = s"""{\\"id\\": $id, \\"name\\": \\"$name\\"}"""
    val after = if (op == "d") "null" else s""""$row""""
    val before = if (op == "d") s""""$row"""" else "null"
    s"""{"before":$before,"after":$after,
       |"source":{"ts_ms":$ts,"db":"shop","table":"$table"},
       |"op":"$op","ts_ms":$ts}""".stripMargin.replace("\n", "")
  }

  test("streaming pipeline: fanout, compaction, delete, cross-batch merge") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val sink = new ParquetMergeSink(root)
    val pipeline = new CdcPipeline(PgCdc, sink, tableParallelism = 4,
      tiebreaker = Some("offset"))

    val stream = MemoryStream[(String, Long)]
    val df = stream.toDF().toDF("value", "offset")
    val q = pipeline.start(df, ckpt, windowSize = "1 seconds")

    // batch 1: two tables; k1 updated twice in-batch (latest wins);
    stream.addData(
      (pgEvent("users", 1, 100L, "c", "ann"), 0L),
      (pgEvent("users", 1, 100L, "u", "ann2"), 1L), // same ts — offset breaks tie
      (pgEvent("users", 2, 101L, "c", "bob"), 2L),
      (pgEvent("items", 7, 100L, "c", "hammer"), 3L))
    q.processAllAvailable()

    val users1 = spark.read.parquet(s"$root/shop/users")
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(users1.keySet == Set("1", "2"))
    assert(users1("1").contains("ann2"))

    // batch 2: delete user 1, update user 2, insert user 3
    stream.addData(
      (pgEvent("users", 1, 200L, "d", "ann2"), 4L),
      (pgEvent("users", 2, 201L, "u", "bob2"), 5L),
      (pgEvent("users", 3, 202L, "c", "cat"), 6L))
    q.processAllAvailable()
    q.stop()

    val users2 = spark.read.parquet(s"$root/shop/users")
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(users2.keySet == Set("2", "3"), s"got $users2")
    assert(users2("2").contains("bob2"))
    val items = spark.read.parquet(s"$root/shop/items")
      .select("pk").as[String].collect().toSet
    assert(items == Set("7"))
  }

  def dmsEvent(table: String, ts: String, op: String, data: String): String =
    s"""{"data":"${data.replace("\"", "\\\"")}",
       |"metadata":{"timestamp":"$ts","record-type":"data",
       |"operation":"$op","schema-name":"crm","table-name":"$table"}}"""
      .stripMargin.replace("\n", "")

  test("DMS typed path e2e: inferred explosion, timestamp coercion, schema evolution") {
    import spark.implicits._
    val url = "jdbc:derby:memory:dmspipe;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    val pipeline = new CdcPipeline(graft.envelope.DmsCdc(), sink,
      tableParallelism = 2,
      payloadExplosion = Some(new graft.pipeline.SchemaInference()))

    // batch 1: typed payload (long id, string name, ISO timestamp)
    val b1 = Seq(
      dmsEvent("leads", "2024-05-01T08:00:00.000001Z", "insert",
        """{"id": 1, "name": "ann", "gmt_created": "2024-05-01T08:00:00Z"}"""),
      dmsEvent("leads", "2024-05-01T08:00:01.000001Z", "insert",
        """{"id": 2, "name": "bob", "gmt_created": "2024-05-01T08:00:01Z"}"""))
      .toDF("value")
    pipeline.processBatch(b1, 0L)
    val t1 = spark.read.jdbc(url, "crm_leads", props)
    assert(t1.columns.toSet.map((s: String) => s.toLowerCase)
      .intersect(Set("id", "name", "gmt_created", "pk", "ts_ms")) ==
      Set("id", "name", "gmt_created", "pk", "ts_ms"),
      s"typed columns missing: ${t1.columns.mkString(",")}")
    assert(t1.count() == 2)
    // inferred LongType landed as a numeric column, coerced ts as TIMESTAMP
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      def typeOf(c: String): String = {
        val rs = conn.getMetaData.getColumns(null, null, "CRM_LEADS", c)
        try { assert(rs.next(), s"$c missing"); rs.getString("TYPE_NAME") }
        finally rs.close()
      }
      assert(typeOf("id") == "BIGINT", typeOf("id"))
      assert(typeOf("gmt_created") == "TIMESTAMP", typeOf("gmt_created"))
    } finally conn.close()

    // batch 2: payload drift — a NEW field appears; update 1, delete 2
    val b2 = Seq(
      dmsEvent("leads", "2024-05-01T09:00:00.000001Z", "update",
        """{"id": 1, "name": "ann2", "gmt_created": "2024-05-01T08:00:00Z", "score": 9}"""),
      dmsEvent("leads", "2024-05-01T09:00:01.000001Z", "delete",
        """{"id": 2, "name": "bob", "gmt_created": "2024-05-01T08:00:01Z"}"""))
      .toDF("value")
    pipeline.processBatch(b2, 1L)
    val t2 = spark.read.jdbc(url, "crm_leads", props)
    val cols2 = t2.columns.map(_.toLowerCase).toSet
    assert(cols2.contains("score"), s"evolved column absent: $cols2")
    val rows = t2.selectExpr("CAST(id AS LONG) AS id", "name", "CAST(score AS LONG) AS score")
      .as[(Long, String, Option[Long])].collect()
      .map { case (i, n, sc) => i -> (n, sc) }.toMap
    assert(t2.count() == 1, "delete must remove id=2")
    assert(rows(1L)._1 == "ann2" && rows(1L)._2.contains(9L), s"got $rows")
  }

  test("partial table failure: batch retry applies only the failed table") {
    import spark.implicits._
    val url = "jdbc:derby:memory:partialfail;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val real = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    // one transient failure on the items table — the reference silently
    // swallows per-table failures (executor.map); here the batch fails,
    // foreachBatch replays it, and the applied-batch ledger turns the
    // replay into "only the missing table"
    var failures = 0
    val flaky = new graft.sink.MergeSink {
      def merge(db: String, tb: String, batch: org.apache.spark.sql.DataFrame,
                keyCol: String, opCol: String, deleteMarker: String,
                keys: Option[Seq[Any]]): Unit =
        real.merge(db, tb, batch, keyCol, opCol, deleteMarker, keys)
      override def mergeOnce(pid: String, bid: Long, db: String, tb: String,
                             batch: org.apache.spark.sql.DataFrame, keyCol: String,
                             opCol: String, deleteMarker: String,
                             keys: Option[Seq[Any]]): Unit = {
        if (tb == "items" && failures == 0) {
          failures += 1
          throw new RuntimeException("transient warehouse hiccup")
        }
        real.mergeOnce(pid, bid, db, tb, batch, keyCol, opCol, deleteMarker, keys)
      }
    }
    val pipeline = new CdcPipeline(PgCdc, flaky, tableParallelism = 1,
      tiebreaker = Some("offset"), pipelineId = Some("pf"))
    val batch = Seq(
      (pgEvent("users", 1, 100L, "c", "ann"), 0L),
      (pgEvent("items", 7, 100L, "c", "hammer"), 1L))
      .toDF("value", "offset")
    // parallelism 1 + deterministic target order is not guaranteed, so
    // tolerate either table failing first: the invariant under test is
    // the retry outcome, not the failure order
    intercept[Exception](pipeline.processBatch(batch, 0L))
    pipeline.processBatch(batch, 0L) // foreachBatch replay of batch 0
    assert(failures == 1, "exactly one injected failure")
    val users = spark.read.jdbc(url, "shop_users", props)
    val items = spark.read.jdbc(url, "shop_items", props)
    assert(users.count() == 1 && items.count() == 1)
    val ledger = spark.read.jdbc(url, "graft_applied_batches", props)
    assert(ledger.count() == 2, "each (batch, table) applied exactly once")
  }

  test("file-based envelope stream drives the same pipeline (Kafka-free path)") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_files").toString
    val root = Files.createTempDirectory("graft_sink3").toString
    val ckpt = Files.createTempDirectory("graft_ckpt3").toString
    Files.writeString(java.nio.file.Paths.get(s"$src/batch1.json"),
      Seq(
        pgEvent("users", 1, 100L, "c", "ann"),
        pgEvent("users", 2, 101L, "c", "bob"),
        pgEvent("users", 2, 102L, "d", "bob")).mkString("\n"))
    val pipeline = new CdcPipeline(PgCdc, new ParquetMergeSink(root),
      tiebreaker = None) // file streams have no offset; ts orders versions
    val q = pipeline.start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q.processAllAvailable()
    q.stop()
    val users = spark.read.parquet(s"$root/shop/users")
      .select("pk").as[String].collect().toSet
    assert(users == Set("1")) // 2 was created then deleted
  }

  test("checkpoint restart: stream resumes where it left off, ledger blocks double-apply") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_files_ck").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_ck").toString
    val url = "jdbc:derby:memory:ckpttest;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    def newPipeline() = new CdcPipeline(PgCdc, sink, tiebreaker = None)

    Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      Seq(pgEvent("accts", 1, 100L, "c", "ann"),
          pgEvent("accts", 2, 101L, "c", "bob")).mkString("\n"))
    val q1 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q1.processAllAvailable(); q1.stop()

    // new file lands while the query is DOWN; a fresh pipeline instance
    // restarts from the same checkpoint
    Files.writeString(java.nio.file.Paths.get(s"$src/b2.json"),
      Seq(pgEvent("accts", 1, 200L, "u", "ann2"),
          pgEvent("accts", 3, 201L, "c", "cat")).mkString("\n"))
    val q2 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.jdbc(url, "shop_accts", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(rows.keySet == Set("1", "2", "3"))
    assert(rows("1").contains("ann2"), "restart must process the new batch")
    // ledger carries one row per (pipeline, batch, table): restart did
    // NOT re-apply batch 0 (same ids resumed from the checkpoint)
    val ledger = spark.read.jdbc(url, "graft_applied_batches", props)
      .select("batch_id").as[Long].collect().toSeq.sorted
    assert(ledger == ledger.distinct, s"double-applied batch ids: $ledger")
  }

  test("AvailableNow backfill drains the source, then a live run resumes cleanly") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_files_an").toString
    val root = Files.createTempDirectory("graft_sink_an").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_an").toString
    Files.writeString(java.nio.file.Paths.get(s"$src/history.json"),
      Seq(pgEvent("logs", 1, 100L, "c", "old1"),
          pgEvent("logs", 2, 101L, "c", "old2")).mkString("\n"))
    val pipeline = new CdcPipeline(PgCdc, new ParquetMergeSink(root), tiebreaker = None)
    // backfill: AvailableNow terminates by itself once the dir is drained
    val backfill = pipeline.start(CdcPipeline.fileSource(spark, src), ckpt,
      availableNow = true)
    assert(backfill.awaitTermination(60000), "AvailableNow must self-terminate")
    assert(spark.read.parquet(s"$root/shop/logs")
      .select("pk").as[String].collect().toSet == Set("1", "2"))
    // live tail from the same checkpoint sees only the new file
    Files.writeString(java.nio.file.Paths.get(s"$src/live.json"),
      pgEvent("logs", 3, 200L, "c", "new3"))
    val live = pipeline.start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    live.processAllAvailable(); live.stop()
    assert(spark.read.parquet(s"$root/shop/logs")
      .select("pk").as[String].collect().toSet == Set("1", "2", "3"))
  }

  test("quality admission stage e2e: envelope stream → compact → admit → merge, checkpoint restart") {
    import spark.implicits._
    // documents carry a text field in the row payload; admission scores
    // get_json_object(payload, '$.text') against the frozen gates
    def docEvent(table: String, id: Int, ts: Long, op: String, text: String): String = {
      val row = s"""{\\"id\\": $id, \\"text\\": \\"$text\\"}"""
      val after = if (op == "d") "null" else s""""$row""""
      val before = if (op == "d") s""""$row"""" else "null"
      s"""{"before":$before,"after":$after,
         |"source":{"ts_ms":$ts,"db":"shop","table":"$table"},
         |"op":"$op","ts_ms":$ts}""".stripMargin.replace("\n", "")
    }
    val goodText = "the quick brown fox jumps over that lazy dog of mine"
    val src = Files.createTempDirectory("graft_adm_src").toString
    val ckpt = Files.createTempDirectory("graft_adm_ckpt").toString
    val rejectDir = Files.createTempDirectory("graft_adm_rej").toString
    val weightsDir = Files.createTempDirectory("graft_adm_w").toString + "/weights"
    // frozen weight table: all-zero weights + thr 0 → quality gate passes
    // everything; the Gopher shape gate (min_words=5) does the turning away
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val cfg = graft.config.AdmissionConf(
      text_expr = "get_json_object(payload, '$.text')",
      weights_path = weightsDir,
      min_words = 5,
      rejected_dir = Some(rejectDir))
    val url = "jdbc:derby:memory:admitpipe;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    def newPipeline() = new CdcPipeline(PgCdc, sink, tiebreaker = None,
      pipelineId = Some("adm"),
      admission = Some(graft.pipeline.QualityAdmission.fromConfig(
        spark, cfg, PgCdc.deleteMarker)))

    // batch 1: doc 1 passes the gates; doc 2 is too short (turned away);
    // a non-document table row (no text field → NULL) passes through
    Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      Seq(docEvent("docs", 1, 100L, "c", goodText),
          docEvent("docs", 2, 101L, "c", "ok go"),
          pgEvent("items", 7, 102L, "c", "hammer")).mkString("\n"))
    val q1 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q1.processAllAvailable(); q1.stop()

    val docs1 = spark.read.jdbc(url, "shop_docs", props)
      .select("pk").as[String].collect().toSet
    assert(docs1 == Set("1"), s"low-quality doc must be turned away, got $docs1")
    assert(spark.read.jdbc(url, "shop_items", props).count() == 1,
      "NULL-text rows bypass the gates")
    val rejected1 = spark.read.parquet(s"$rejectDir/batch=0")
      .select("pk").as[String].collect().toSet
    assert(rejected1 == Set("2"), s"audit trail records the turn-away: $rejected1")

    // batch 2 lands while the query is DOWN; restart from the same
    // checkpoint: the DELETE of doc 1 must pass the gates (deletes are
    // never scored) and doc 3 is admitted
    Files.writeString(java.nio.file.Paths.get(s"$src/b2.json"),
      Seq(docEvent("docs", 1, 200L, "d", goodText),
          docEvent("docs", 3, 201L, "c", goodText)).mkString("\n"))
    val q2 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q2.processAllAvailable(); q2.stop()

    val docs2 = spark.read.jdbc(url, "shop_docs", props)
      .select("pk").as[String].collect().toSet
    assert(docs2 == Set("3"), s"delete passed + new doc admitted, got $docs2")
    // ledger: no double-apply across the restart — one row per
    // (batch, target); batch 0 legitimately touched two tables
    val ledger = spark.read.jdbc(url, "graft_applied_batches", props)
      .select("batch_id", "target").as[(Long, String)].collect().toSeq.sorted
    assert(ledger == ledger.distinct, s"double-applied (batch, target): $ledger")
  }

  test("containment admission gate e2e: quoted passage turned away vs the admitted index, replay probes prior batches only") {
    import spark.implicits._
    def docEvent(table: String, id: Int, ts: Long, op: String, text: String): String = {
      val row = s"""{\\"id\\": $id, \\"text\\": \\"$text\\"}"""
      val after = if (op == "d") "null" else s""""$row""""
      val before = if (op == "d") s""""$row"""" else "null"
      s"""{"before":$before,"after":$after,
         |"source":{"ts_ms":$ts,"db":"shop","table":"$table"},
         |"op":"$op","ts_ms":$ts}""".stripMargin.replace("\n", "")
    }
    // host page: 30 words of prose (every doc here must CLEAR the
    // doc-local gates — ≥2 distinct Gopher stopwords, mean-length
    // window — so the turn-away is attributable to containment alone);
    // the quote is a 10-word contiguous passage: cont(quote→host) = 1.0
    // while J ≈ 0.29 — a resemblance gate at any usable τ admits it,
    // the containment gate must not
    val hostWords = Seq("the", "storm", "rolled", "over", "that",
      "quiet", "harbor", "and", "every", "boat", "strained", "with",
      "the", "tide", "while", "old", "sailors", "watched", "from",
      "that", "long", "pier", "under", "dark", "clouds", "gathered",
      "over", "distant", "water", "tonight")
    val hostText = hostWords.mkString(" ")
    val quoteText = hostWords.slice(10, 20).mkString(" ")
    val novelText = "a hungry wolf and the brown bear wandered near that frozen river"
    val src = Files.createTempDirectory("graft_cont_src").toString
    val ckpt = Files.createTempDirectory("graft_cont_ckpt").toString
    val rejectDir = Files.createTempDirectory("graft_cont_rej").toString
    val ixDir = Files.createTempDirectory("graft_cont_ix").toString + "/postings"
    val weightsDir = Files.createTempDirectory("graft_cont_w").toString + "/weights"
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val cfg = graft.config.AdmissionConf(
      text_expr = "get_json_object(payload, '$.text')",
      weights_path = weightsDir,
      min_words = 5,
      containment_index_dir = Some(ixDir),
      containment_n = 3,
      containment_tau_x10k = 5000L,
      rejected_dir = Some(rejectDir))
    val url = "jdbc:derby:memory:contpipe;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    def newPipeline() = new CdcPipeline(PgCdc, sink, tiebreaker = None,
      pipelineId = Some("cont"),
      admission = Some(graft.pipeline.QualityAdmission.fromConfig(
        spark, cfg, PgCdc.deleteMarker)))

    // batch 0: the host is admitted (empty index — nothing to contain it)
    Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      docEvent("docs", 1, 100L, "c", hostText))
    val q1 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.jdbc(url, "shop_docs", props)
      .select("pk").as[String].collect().toSet == Set("1"))

    // batch 1 (restart from checkpoint): the quote clears every doc-local
    // gate but is contained in the ADMITTED host → turned away; the
    // novel doc is admitted and its postings join the index
    Files.writeString(java.nio.file.Paths.get(s"$src/b2.json"),
      Seq(docEvent("docs", 2, 200L, "c", quoteText),
          docEvent("docs", 3, 201L, "c", novelText)).mkString("\n"))
    val q2 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q2.processAllAvailable(); q2.stop()
    val docs2 = spark.read.jdbc(url, "shop_docs", props)
      .select("pk").as[String].collect().toSet
    assert(docs2 == Set("1", "3"), s"quote must be turned away: $docs2")
    assert(spark.read.parquet(s"$rejectDir/batch=1")
      .select("pk").as[String].collect().toSet == Set("2"),
      "containment turn-away lands in the same audit trail as the gates'")
    // the index tracks exactly the admitted docs, one partition per batch
    val ix = spark.read.parquet(ixDir)
    assert(ix.select("batch").distinct().as[Long].collect().toSet == Set(0L, 1L))
    assert(ix.select("id").distinct().count() == 2,
      "postings for host + novel doc only — the rejected quote writes none")

    // replay discipline: re-admitting batch 1 (failed-attempt shape: its
    // own batch=1 postings are ALREADY on disk) must not turn the novel
    // doc away against its own prior write
    val compacted = Seq(("shop", "docs", "3", "c",
        s"""{"id": 3, "text": "$novelText"}"""))
      .toDF("db_name", "tb_name", "pk", "op", "payload")
    val weights = spark.read.parquet(weightsDir)
    val replayed = graft.pipeline.QualityAdmission.admit(compacted, 1L,
      cfg, PgCdc.deleteMarker, weights, None, None)
    assert(replayed.select("pk").as[String].collect().toSet == Set("3"),
      "replay must probe PRIOR batches only, never its own failed write")
    replayed.unpersist()

    // maintenance mid-stream: fold batches 0 and 1 (both committed) and
    // keep ingesting — the gate must keep turning quotes away against
    // the FOLDED index (batch=-1 rows survive every replay exclusion)
    assert(graft.pipeline.QualityAdmission.maintainPostingsIndex(
      spark, ixDir, committedBelow = 2L) == 2)
    val quote2Text = hostWords.slice(0, 10).mkString(" ")
    Files.writeString(java.nio.file.Paths.get(s"$src/b3.json"),
      Seq(docEvent("docs", 4, 300L, "c", quote2Text),
          docEvent("docs", 5, 301L, "c",
            "every tired fox slept near the old stone wall with that grey cat"))
        .mkString("\n"))
    val q3 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q3.processAllAvailable(); q3.stop()
    val docs3 = spark.read.jdbc(url, "shop_docs", props)
      .select("pk").as[String].collect().toSet
    assert(docs3 == Set("1", "3", "5"),
      s"quote vs the folded index must still be turned away: $docs3")
    val ixAfter = spark.read.parquet(ixDir)
    assert(ixAfter.select("batch").distinct().as[Long].collect().toSet
      == Set(-1L, 2L), "folded partition + the new batch's own")
  }

  test("url admission gate (gate 0): re-crawled address turned away " +
      "before any text gate, NULL urls pass the rung, replay probes " +
      "prior batches only") {
    import spark.implicits._
    def docEvent(id: Int, ts: Long, text: String,
                 url: Option[String]): String = {
      val urlField = url.map(u => s""", \\"url\\": \\"$u\\"""").getOrElse("")
      val row = s"""{\\"id\\": $id, \\"text\\": \\"$text\\"$urlField}"""
      s"""{"before":null,"after":"$row",
         |"source":{"ts_ms":$ts,"db":"shop","table":"pages"},
         |"op":"c","ts_ms":$ts}""".stripMargin.replace("\n", "")
    }
    // every text clears the doc-local gates, so a turn-away is
    // attributable to the URL rung alone
    val textA = "the storm rolled over that quiet harbor and every boat strained"
    val textB = "a hungry wolf and the brown bear wandered near that frozen river"
    val textC = "every tired fox slept near the old stone wall with that grey cat"
    val textD = "old sailors watched from the long pier and that dark cloud tonight"
    val src = Files.createTempDirectory("graft_url_src").toString
    val ckpt = Files.createTempDirectory("graft_url_ckpt").toString
    val rejectDir = Files.createTempDirectory("graft_url_rej").toString
    val ixDir = Files.createTempDirectory("graft_url_ix").toString + "/urlkeys"
    val weightsDir = Files.createTempDirectory("graft_url_w").toString + "/weights"
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val cfg = graft.config.AdmissionConf(
      text_expr = "get_json_object(payload, '$.text')",
      weights_path = weightsDir,
      min_words = 5,
      url_expr = Some("get_json_object(payload, '$.url')"),
      url_index_dir = Some(ixDir),
      rejected_dir = Some(rejectDir))
    val url = "jdbc:derby:memory:urlpipe;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sink.JdbcMergeSink(url, props, graft.sink.AnsiDialect)
    def newPipeline() = new CdcPipeline(PgCdc, sink, tiebreaker = None,
      pipelineId = Some("urlgate"),
      admission = Some(graft.pipeline.QualityAdmission.fromConfig(
        spark, cfg, PgCdc.deleteMarker)))

    // batch 0: page P admitted; its canonical key lands in batch=0
    Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      docEvent(1, 100L, textA, Some("http://a.com/p1")))
    val q1 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.jdbc(url, "shop_pages", props)
      .select("pk").as[String].collect().toSet == Set("1"))
    assert(spark.read.parquet(s"$ixDir/batch=0")
      .select("url_key").as[String].collect().toSeq == Seq("a.com/p1"))

    // batch 1: a DECORATED re-crawl of P (different text — no content
    // gate could turn it away) drops at the rung; a new page and a
    // NULL-url row are admitted
    Files.writeString(java.nio.file.Paths.get(s"$src/b2.json"),
      Seq(docEvent(2, 200L, textB,
          Some("HTTPS://A.COM/p1/?utm_source=feed")),
        docEvent(3, 201L, textC, Some("http://a.com/p2")),
        docEvent(4, 202L, textD, None)).mkString("\n"))
    val q2 = newPipeline().start(CdcPipeline.fileSource(spark, src), ckpt, "1 seconds")
    q2.processAllAvailable(); q2.stop()
    val pks = spark.read.jdbc(url, "shop_pages", props)
      .select("pk").as[String].collect().toSet
    assert(pks == Set("1", "3", "4"), s"re-crawl must be turned away: $pks")
    assert(spark.read.parquet(s"$rejectDir/batch=1")
      .select("pk").as[String].collect().toSet == Set("2"),
      "url turn-away lands in the same audit trail as the gates'")
    // batch 1's key partition: the new page only (the NULL-url row has
    // no key; the turned-away re-crawl writes none)
    assert(spark.read.parquet(s"$ixDir/batch=1")
      .select("url_key").as[String].collect().toSeq == Seq("a.com/p2"))

    // replay discipline: re-admitting batch 1 with its OWN batch=1 keys
    // already on disk must not turn the new page away
    val compacted = Seq(("shop", "pages", "3", "c",
        s"""{"id": 3, "text": "$textC", "url": "http://a.com/p2"}"""))
      .toDF("db_name", "tb_name", "pk", "op", "payload")
    val weights = spark.read.parquet(weightsDir)
    val replayed = graft.pipeline.QualityAdmission.admit(compacted, 1L,
      cfg, PgCdc.deleteMarker, weights, None, None)
    assert(replayed.select("pk").as[String].collect().toSet == Set("3"),
      "replay must probe PRIOR batches only, never its own failed write")
    replayed.unpersist()
  }

  test("containment gate: a footer-less prior postings partition reads as 'no index yet', not a poisoned stream") {
    import spark.implicits._
    // the all-rejected-first-batch shape: batch 0 committed only a
    // _SUCCESS marker under its postings partition (no parquet footer
    // anywhere) — every later batch's prior-index probe must treat the
    // tree as empty instead of dying on schema inference forever
    val ixDir = Files.createTempDirectory("graft_cont_hollow").toString + "/postings"
    new java.io.File(s"$ixDir/batch=0").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$ixDir/batch=0/_SUCCESS"), "")
    val weightsDir = Files.createTempDirectory("graft_cont_hw").toString + "/w"
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val cfg = graft.config.AdmissionConf(
      text_expr = "get_json_object(payload, '$.text')",
      weights_path = weightsDir,
      min_words = 5,
      containment_index_dir = Some(ixDir),
      containment_n = 3,
      containment_tau_x10k = 5000L)
    val compacted = Seq(("shop", "docs", "9", "c",
      """{"id": 9, "text": "a hungry wolf and the brown bear wandered near that frozen river"}"""))
      .toDF("db_name", "tb_name", "pk", "op", "payload")
    val weights = spark.read.parquet(weightsDir)
    val out = graft.pipeline.QualityAdmission.admit(compacted, 1L, cfg,
      PgCdc.deleteMarker, weights, None, None)
    assert(out.select("pk").as[String].collect().toSet == Set("9"),
      "an empty prior partition must admit the batch, not fail it")
    out.unpersist()
    // this batch's own postings landed, so the index recovers normally
    assert(spark.read.parquet(s"$ixDir/batch=1").count() > 0)
  }

  test("learned-language admission gate: off-language docs turned away, " +
      "deletes and null-text rows still bypass, replay identical") {
    import spark.implicits._
    // frozen model trained on two-language seeds; zero-weight quality
    // table so the lang gate is the only discriminating gate
    val weightsDir = Files.createTempDirectory("graft_lgw").toString + "/w"
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val modelDir = Files.createTempDirectory("graft_lgm").toString + "/m"
    graft.ext.Corpus.langIdTrain(Seq(
        ("en", "the quick brown fox jumps over the lazy dog and runs into the forest with the other animals of the green hills"),
        ("de", "der schnelle braune fuchs springt über den faulen hund und läuft in den grünen wald zu den anderen tieren davon"))
        .toDF("lang", "text"), "text", "lang")
      .write.parquet(modelDir)
    val cfg = graft.config.AdmissionConf(
      text_expr = "payload",
      weights_path = weightsDir,
      min_words = 3,
      lang_model_path = Some(modelDir),
      allowed_langs = List("en"))
    val weights = spark.read.parquet(weightsDir)
    val model = spark.read.parquet(modelDir)
    // every doc carries >= 2 distinct Gopher stopwords so the gopher
    // gate passes and the LANG gate is the only discriminator (the
    // German doc embeds 'the'/'of' tokens — trigram mass still names
    // it de, which is exactly the short-mixed-doc case the stopword
    // heuristic gets wrong)
    val compacted = Seq(
      ("db", "t", "1", "c", "the lazy dog sleeps near the brown fox and waits in the forest of the hills"),
      ("db", "t", "2", "c", "der faule hund the schläft neben dem of braunen fuchs im wald und den tieren"),
      ("db", "t", "3", "d", null), // delete: bypasses (null text)
      ("db", "t", "4", "c", "the green animals run over the quick hills and jump with the dog of the forest"))
      .toDF("db_name", "tb_name", "pk", "op", "payload")
    def run() = {
      val out = graft.pipeline.QualityAdmission.admit(compacted, 0L, cfg,
        "d", weights, None, None, Some(model))
      val pks = out.select("pk").as[String].collect().toSet
      out.unpersist(); pks
    }
    val admitted = run()
    assert(admitted == Set("1", "3", "4"),
      s"en docs + delete bypass expected, got $admitted")
    assert(run() == admitted, "replay must admit the identical subset")
  }

  test("postings-index maintenance: committed partitions fold to batch=-1, rows preserved, uncommitted untouched") {
    import spark.implicits._
    import graft.pipeline.QualityAdmission
    val dir = Files.createTempDirectory("graft_postfold").toString + "/ix"
    def rows(b: Int) = (0 until 5).map(i =>
      (s"doc${b}_$i", 10L + i, b * 1000L + i))
    for (b <- 0 to 2)
      rows(b).toDF("id", "m", "sh64").write.parquet(s"$dir/batch=$b")
    def layout() = spark.read.parquet(dir)
      .select("batch").distinct().as[Long].collect().toSet
    def all() = spark.read.parquet(dir)
      .select("id", "m", "sh64").as[(String, Long, Long)].collect().toSet
    val before = all()
    // batches 0 and 1 are committed; 2 may still replay — untouched
    assert(QualityAdmission.maintainPostingsIndex(spark, dir, 2L) == 2)
    assert(layout() == Set(-1L, 2L), s"got ${layout()}")
    assert(all() == before, "fold must preserve every row")
    // idempotent: nothing newly committed -> nothing to fold (a lone
    // prior batch=-1 is not re-folded)
    assert(QualityAdmission.maintainPostingsIndex(spark, dir, 2L) == 0)
    // batch 2 commits; the next fold absorbs it AND the prior fold
    assert(QualityAdmission.maintainPostingsIndex(spark, dir, 3L) == 2)
    assert(layout() == Set(-1L) && all() == before)
    // a fresh tick after maintenance lands beside the fold and the
    // replay exclusion semantics still hold: folded rows (batch=-1)
    // can never match a real batch id >= 0
    rows(7).toDF("id", "m", "sh64").write.parquet(s"$dir/batch=7")
    assert(layout() == Set(-1L, 7L))
    assert(spark.read.parquet(dir).filter(col("batch") =!= 7L).count() == 15,
      "a batch-7 replay probes exactly the folded committed rows")
    // missing dir: no-op
    assert(QualityAdmission.maintainPostingsIndex(spark,
      dir + "_nope", 5L) == 0)
  }

  test("auto-maintenance cadence: containment_maintain_every folds committed partitions from inside the tick") {
    import spark.implicits._
    import graft.pipeline.QualityAdmission
    val weightsDir = Files.createTempDirectory("graft_amw").toString + "/w"
    Seq((0L, 0L)).toDF("bucket", "w").write.parquet(weightsDir)
    val ixDir = Files.createTempDirectory("graft_amix").toString + "/ix"
    val cfg = graft.config.AdmissionConf(
      text_expr = "payload",
      weights_path = weightsDir,
      min_words = 3,
      containment_index_dir = Some(ixDir),
      containment_n = 2,
      containment_maintain_every = Some(2L))
    val weights = spark.read.parquet(weightsDir)
    def batch(id: Int, text: String) =
      Seq(("db", "t", s"$id", "c", text))
        .toDF("db_name", "tb_name", "pk", "op", "payload")
    def admit(b: org.apache.spark.sql.DataFrame, id: Long) = {
      val out = QualityAdmission.admit(b, id, cfg, "d", weights, None, None)
      val pks = out.select("pk").as[String].collect().toSet
      out.unpersist(); pks
    }
    def layout() = spark.read.parquet(ixDir)
      .select("batch").distinct().as[Long].collect().toSet
    val host = "the quick brown fox jumps over that lazy dog of mine today"
    assert(admit(batch(1, host), 0L) == Set("1"))
    assert(layout() == Set(0L), "batch 0: no fold yet (0 % 2 != 1)")
    val other = "a completely different and quite unrelated piece of text here"
    assert(admit(batch(2, other), 1L) == Set("2"))
    assert(layout() == Set(-1L, 1L),
      s"batch 1 triggers the fold of batch 0: ${layout()}")
    // the folded index still gates: a quote of the FOLDED host doc.
    // Slice 4..9 ("jumps over that lazy dog of") keeps >= 2 distinct
    // Gopher stopwords (that, of), so the doc-local gates PASS it and
    // the turn-away is attributable to containment alone
    val quote = host.split(" ").slice(4, 10).mkString(" ")
    assert(admit(batch(3, quote), 2L).isEmpty,
      "quote of a folded-partition host must still be turned away")
    assert(layout() == Set(-1L, 1L),
      "a fully-rejected batch writes an empty partition set worth of postings")
    // next cadence point folds everything below it
    assert(admit(batch(4, "yet another body of text with plenty of fresh words"),
      3L) == Set("4"))
    assert(layout() == Set(-1L, 3L), s"batch 3 refolds: ${layout()}")
  }

  test("replaying a batch through processBatch converges (idempotent merge)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sink2").toString
    val sink = new ParquetMergeSink(root)
    val pipeline = new CdcPipeline(PgCdc, sink, tiebreaker = Some("offset"))
    val batch = Seq(
      (pgEvent("t", 1, 10L, "c", "x"), 0L),
      (pgEvent("t", 2, 11L, "c", "y"), 1L),
      (pgEvent("t", 2, 12L, "d", "y"), 2L)).toDF("value", "offset")
    val report = pipeline.processBatch(batch, 0L)
    assert(report == CdcPipeline.BatchReport(0L, compactedRows = 2,
      dlqRows = -1, tables = 1)) // 3 events compact to 2 keys, one table
    val first = spark.read.parquet(s"$root/shop/t").select("pk").as[String].collect().toSet
    pipeline.processBatch(batch, 0L) // replay after failure-before-checkpoint
    val second = spark.read.parquet(s"$root/shop/t").select("pk").as[String].collect().toSet
    assert(first == Set("1") && second == Set("1"))
  }

  test("unroutable envelopes without a DLQ hook leave no null-pk rows and no phantom table") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sink_unroutable").toString
    val pipeline = new CdcPipeline(PgCdc, new ParquetMergeSink(root),
      tiebreaker = Some("offset"))
    val pkless = pgEvent("t", 0, 10L, "c", "nokey").replace("""\"id\": 0, """, "")
    assert(!pkless.contains("id"))
    Seq(0L, 1L).foreach { b =>
      val batch = Seq(
        (pgEvent("t", b.toInt + 1, 10L + b, "c", s"x$b"), 3 * b),
        (pkless, 3 * b + 1),
        ("{not json", 3 * b + 2)).toDF("value", "offset")
      val report = pipeline.processBatch(batch, b)
      assert(report.compactedRows == 1 && report.tables == 1, s"batch $b: $report")
    }
    val t = spark.read.parquet(s"$root/shop/t")
    assert(t.filter(col("pk").isNull).count() == 0, "null-pk rows reached the target")
    assert(t.select("pk").as[String].collect().toSet == Set("1", "2"))
    def visible(dir: String): Set[String] =
      new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet
    assert(visible(root) == Set("shop"))
    assert(visible(s"$root/shop") == Set("t"))
  }

  /** A sink that records the tables it was asked to merge, before
    * forwarding to `real`. */
  final class RecordingSink(real: MergeSink) extends MergeSink {
    val merged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def merge(db: String, tb: String, batch: DataFrame, keyCol: String,
              opCol: String, deleteMarker: String, keys: Option[Seq[Any]]): Unit = {
      merged.add(s"$db.$tb")
      real.merge(db, tb, batch, keyCol, opCol, deleteMarker, keys)
    }
  }

  test("empty and all-unroutable batches: no admission call, no sink target, " +
      "0 rows and 0 tables, with and without a DLQ hook") {
    import spark.implicits._
    // pipeline on `DataFrame` (value, offset) → report, with the hook calls
    // it made and the tables it merged
    def run(withDlq: Boolean, rows: Seq[(String, Long)]) = {
      val root = Files.createTempDirectory("graft_sink_empty").toString
      val sink = new RecordingSink(new ParquetMergeSink(root))
      val dlqRows = new java.util.concurrent.atomic.AtomicLong(-1L)
      val admitted = new java.util.concurrent.atomic.AtomicInteger(0)
      val pipeline = new CdcPipeline(PgCdc, sink, tiebreaker = Some("offset"),
        dlq = if (withDlq) Some((bad: DataFrame, _: Long) => dlqRows.set(bad.count()))
              else None,
        admission = Some { (df: DataFrame, _: Long) =>
          admitted.incrementAndGet()
          val p = df.persist(); p.count(); p
        })
      val report = pipeline.processBatch(rows.toDF("value", "offset"), 0L)
      assert(new java.io.File(root).list().isEmpty, s"sink root written: $report")
      (report, dlqRows.get, admitted.get, sink.merged.size)
    }
    val pkless = pgEvent("t", 0, 10L, "c", "nokey").replace("""\"id\": 0, """, "")
    val unroutable = Seq((pkless, 0L), ("{not json", 1L))
    for (withDlq <- Seq(false, true)) {
      val (empty, emptyDlq, emptyAdmits, emptyMerges) = run(withDlq, Nil)
      assert(empty.compactedRows == 0 && empty.tables == 0, s"dlq=$withDlq: $empty")
      assert(emptyDlq == -1L && emptyAdmits == 0 && emptyMerges == 0,
        s"dlq=$withDlq: empty batch called dlq=$emptyDlq admission=$emptyAdmits " +
          s"merges=$emptyMerges")
      if (withDlq) assert(empty.dlqRows == 0, s"$empty")
      val (bad, badDlq, badAdmits, badMerges) = run(withDlq, unroutable)
      assert(bad.compactedRows == 0 && bad.tables == 0, s"dlq=$withDlq: $bad")
      assert(badAdmits == 0 && badMerges == 0, s"dlq=$withDlq: $bad")
      if (withDlq) assert(badDlq == 2 && bad.dlqRows == 2, s"dlq wrote $badDlq: $bad")
    }
  }

  test("one key pass: a 3-table batch runs at most 3 jobs outside its table " +
      "merges, and no merge plan broadcasts a scan of the compacted cache") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft_sink_jobs").toString
    val group = s"graft-keypass-${java.util.UUID.randomUUID()}"
    val mergeGroup = s"$group-merge"
    // the pool threads the fan-out creates inherit the batch's job
    // group; each table merge moves its own thread to `mergeGroup`
    val real = new ParquetMergeSink(root)
    val sink = new MergeSink {
      def merge(db: String, tb: String, batch: DataFrame, keyCol: String,
                opCol: String, deleteMarker: String, keys: Option[Seq[Any]]): Unit = {
        sc.setJobGroup(mergeGroup, "table merge")
        try real.merge(db, tb, batch, keyCol, opCol, deleteMarker, keys)
        finally sc.setJobGroup(group, "batch")
      }
    }
    def pipeline(sink: MergeSink) = new CdcPipeline(PgCdc, sink,
      tableParallelism = 3, tiebreaker = Some("offset"))
    def batch(b: Int) = Seq("users", "items", "orders").flatMap { t =>
      Seq(pgEvent(t, 1, 10L * b, "u", s"$t$b"), pgEvent(t, b + 2, 10L * b, "c", s"x$b"),
        pgEvent(t, 2, 10L * b + 1, if (b == 0) "c" else "d", "y"))
    }.zipWithIndex.map { case (v, i) => (v, 100L * b + i) }.toDF("value", "offset")
    pipeline(real).processBatch(batch(0), 0L) // the targets exist from here on
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    val t0 = System.nanoTime()
    val report = try {
      sc.setJobGroup(group, "batch")
      try pipeline(sink).processBatch(batch(1), 1L) finally sc.clearJobGroup()
    } finally {
      org.apache.spark.TestListenerBus.drain(sc)
      spark.listenerManager.unregister(listener)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(report.tables == 3 && report.compactedRows == 9, s"$report")
    val outside = sc.statusTracker.getJobIdsForGroup(group).length
    val inside = sc.statusTracker.getJobIdsForGroup(mergeGroup).length
    info(f"$outside jobs outside the table merges, $inside inside, batch $secs%.1f s")
    val helper = new AdaptiveSparkPlanHelper {}
    // nothing is broadcast, the compacted cache least of all: the key
    // set rides inside each target's filter
    val broadcasts = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap { p =>
      helper.collect(p) { case b: BroadcastExchangeExec => b }
    }
    assert(plans.size > 0, "the listener saw no plan")
    assert(broadcasts.isEmpty, s"${broadcasts.size} broadcasts in the batch's plans:\n" +
      broadcasts.mkString("\n"))
    assert(outside <= 3,
      f"$outside jobs outside the table merges ($inside inside), batch took $secs%.1f s")
    // each table merge is one job, its write
    assert(inside == 3, s"$inside jobs inside the 3 table merges, not one each")
    val users = spark.read.parquet(s"$root/shop/users")
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(users.keySet == Set("1", "3") && users("1").contains("users1"), s"$users")
  }

  test("file sizing: a table's rewrite counts its own slice, not the whole batch") {
    // the session's maxPartitionBytes sits between a table's rewrite
    // estimate (its target T plus its ~T slice) and the same target plus
    // the whole 3-table batch's plan estimate (~3T): each table must be
    // rewritten as one part file
    val session = spark.newSession()
    import session.implicits._
    val root = Files.createTempDirectory("graft_sink_size").toString
    val tables = Seq("users", "items", "orders")
    val rows = 300
    val rnd = new scala.util.Random(11)
    def batch(b: Int) = tables.flatMap { t =>
      (1 to rows).map(id => pgEvent(t, id, 10L * b, "u", rnd.alphanumeric.take(2000).mkString))
    }.zipWithIndex.map { case (v, i) => (v, 10000L * b + i) }.toDF("value", "offset")
    val pipeline = new CdcPipeline(PgCdc, new ParquetMergeSink(root),
      tableParallelism = 3, tiebreaker = Some("offset"))
    def parts(t: String) = new java.io.File(s"$root/shop/$t").listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    pipeline.processBatch(batch(0), 0L)
    val targetBytes = tables.map(t => parts(t).map(_.length).sum).max
    session.conf.set("spark.sql.files.maxPartitionBytes", (targetBytes * 5 / 2).toString)
    assert(pipeline.processBatch(batch(1), 1L).tables == 3)
    val counts = tables.map(t => t -> parts(t).size).toMap
    assert(counts.values.forall(_ == 1),
      s"part files per table $counts, target bytes $targetBytes before the batch")
    assert(session.read.parquet(s"$root/shop/users").count() == rows)
  }
}
