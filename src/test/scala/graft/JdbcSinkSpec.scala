package graft

import java.util.Properties

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{AnsiDialect, JdbcMergeSink, RedshiftDialect, SinkTypes, StagingConf}

/** JDBC merge sink against embedded Derby: the portable stand-in for the
  * reference's Redshift stage-table + postactions transaction (K1-K5).
  */
class JdbcSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  val url = "jdbc:derby:memory:grafttest;create=true"
  val props = new Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

  test("stage write + delete-insert merge transaction on Derby") {
    import spark.implicits._
    val sink = new JdbcMergeSink(url, props, AnsiDialect)
    // batch 1
    sink.merge("shop", "users",
      Seq(("1", 100L, "u", "ann"), ("2", 101L, "u", "bob"))
        .toDF("pk", "ts_ms", "op", "payload"),
      keyCol = "pk", opCol = "op", deleteMarker = "d")
    val after1 = spark.read.jdbc(url, "shop_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(after1 == Map("1" -> "ann", "2" -> "bob"))
    // batch 2: update 1, delete 2, insert 3 — and replay it (idempotency)
    val b2 = Seq(("1", 200L, "u", "ann2"), ("2", 201L, "d", "bob"),
      ("3", 202L, "u", "cat")).toDF("pk", "ts_ms", "op", "payload")
    sink.merge("shop", "users", b2, "pk", "op", "d")
    sink.merge("shop", "users", b2, "pk", "op", "d")
    val after2 = spark.read.jdbc(url, "shop_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(after2 == Map("1" -> "ann2", "3" -> "cat"))
  }

  test("mergeOnce skips a replayed batch id even when its data differs") {
    import spark.implicits._
    val sink = new JdbcMergeSink(url, props, AnsiDialect)
    val b1 = Seq(("1", 100L, "u", "ann")).toDF("pk", "ts_ms", "op", "payload")
    sink.mergeOnce("pipe", 7L, "ledger", "users", b1, "pk", "op", "d")
    // checkpoint-restore scenario: same batch id, recomputed DIFFERENT data
    val b1x = Seq(("1", 100L, "u", "EVIL-REWRITE")).toDF("pk", "ts_ms", "op", "payload")
    sink.mergeOnce("pipe", 7L, "ledger", "users", b1x, "pk", "op", "d")
    val rows = spark.read.jdbc(url, "ledger_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(rows == Map("1" -> "ann"), "replayed batch id must be a no-op")
    // a NEW batch id still applies
    val b2 = Seq(("1", 200L, "u", "ann2")).toDF("pk", "ts_ms", "op", "payload")
    sink.mergeOnce("pipe", 8L, "ledger", "users", b2, "pk", "op", "d")
    val rows2 = spark.read.jdbc(url, "ledger_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(rows2 == Map("1" -> "ann2"))
    // a different pipeline id with the same batch id also applies
    val b3 = Seq(("9", 300L, "u", "zoe")).toDF("pk", "ts_ms", "op", "payload")
    sink.mergeOnce("otherpipe", 8L, "ledger", "users", b3, "pk", "op", "d")
    val rows3 = spark.read.jdbc(url, "ledger_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(rows3 == Map("1" -> "ann2", "9" -> "zoe"))
  }

  test("concurrent first-batch mergeOnce to different tables survives the ledger race") {
    import spark.implicits._
    val freshUrl = "jdbc:derby:memory:ledgerrace;create=true"
    val sink = new JdbcMergeSink(freshUrl, props, AnsiDialect)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val work = Future.traverse(Seq("t1", "t2", "t3", "t4")) { tb =>
      Future {
        val b = Seq(("1", 100L, "u", s"row-$tb")).toDF("pk", "ts_ms", "op", "payload")
        sink.mergeOnce("race", 0L, "db", tb, b, "pk", "op", "d")
      }
    }
    Await.result(work, Duration.Inf) // no thread may throw
    Seq("t1", "t2", "t3", "t4").foreach { tb =>
      assert(spark.read.jdbc(freshUrl, s"db_$tb", props).count() == 1)
    }
    assert(spark.read.jdbc(freshUrl, "graft_applied_batches", props).count() == 4)
  }

  test("sink-type metadata drives stage DDL (P10): SUPER/CHAR/VARCHAR land as annotated") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the reference's pg projection, annotated via Column.as(name, Metadata)
    // (src/glue_pg_redshift_cdc.py:139-145)
    val batch = Seq(("1", "shopdb", "users", """{"id":1}""", "u"))
      .toDF("pk", "db_name", "tb_name", "payload", "op")
      .select(
        SinkTypes.as(col("pk"), "pk", "INT4"),
        SinkTypes.as(col("db_name"), "db_name", "VARCHAR(120)"),
        SinkTypes.as(col("tb_name"), "tb_name", "VARCHAR(120)"),
        SinkTypes.as(col("payload"), "payload", "SUPER"),
        SinkTypes.as(col("op"), "op", "CHAR(2)"))
    // Redshift: metadata verbatim
    val rsDdl = RedshiftDialect.createStage("stage_t", batch.schema)
    assert(rsDdl == """CREATE TABLE stage_t ("pk" INT4, "db_name" VARCHAR(120), """ +
      """"tb_name" VARCHAR(120), "payload" SUPER, "op" CHAR(2))""", rsDdl)
    // portable/Derby: SUPER widens to max VARCHAR; a numeric annotation
    // over a string column degrades to text (row-wise inserts can't coerce)
    val ansiDdl = AnsiDialect.createStage("stage_t", batch.schema)
    assert(ansiDdl.contains(""""payload" VARCHAR(32672)""") &&
      ansiDdl.contains(""""pk" VARCHAR(64)""") &&
      ansiDdl.contains(""""op" CHAR(2)"""), ansiDdl)
    // unannotated columns fall back to the default mapping
    val plain = Seq((1L, "x")).toDF("ts_ms", "payload")
    assert(AnsiDialect.createStage("s", plain.schema) ==
      """CREATE TABLE s ("ts_ms" BIGINT, "payload" VARCHAR(4096))""")
  }

  test("annotated batch merges on Derby; target inherits declared widths, not CLOB") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sink = new JdbcMergeSink(url, props, AnsiDialect)
    val batch = Seq(("1", 100L, "u", """{"n":"ann"}"""), ("2", 101L, "d", """{"n":"bob"}"""))
      .toDF("pk", "ts_ms", "op", "payload")
      .select(
        SinkTypes.as(col("pk"), "pk", "INT4"),
        col("ts_ms"),
        SinkTypes.as(col("op"), "op", "CHAR(2)"),
        SinkTypes.as(col("payload"), "payload", "SUPER"))
    sink.merge("meta", "users", batch, "pk", "op", "d")
    val rows = spark.read.jdbc(url, "meta_users", props)
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(rows == Map("1" -> """{"n":"ann"}"""))
    // the target (created from the explicit stage) carries VARCHAR(32672),
    // not the CLOB the JDBC writer's default Derby mapping would pick
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "META_USERS", "payload")
      assert(rs.next(), "payload column missing")
      assert(rs.getString("TYPE_NAME") == "VARCHAR" && rs.getInt("COLUMN_SIZE") == 32672,
        s"got ${rs.getString("TYPE_NAME")}(${rs.getInt("COLUMN_SIZE")})")
      rs.close()
    } finally conn.close()
  }

  test("staged CSV bulk load: executors write parts, warehouse imports them") {
    import spark.implicits._
    val tmpdir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    // Derby's file-import procedure stands in for Redshift COPY — a REAL
    // file-based bulk load, same statement-per-staged-file shape
    object DerbyImportDialect extends graft.sink.MergeDialect {
      def createTarget(target: String, stage: String, cols: Seq[String]): Seq[String] =
        AnsiDialect.createTarget(target, stage, cols)
      def mergeStatements(target: String, stage: String, key: String,
                          insertCols: Seq[String], opCol: String,
                          deleteMarker: String): Seq[String] =
        AnsiDialect.mergeStatements(target, stage, key, insertCols, opCol, deleteMarker)
      override def columnDdl(f: org.apache.spark.sql.types.StructField): String =
        AnsiDialect.columnDdl(f)
      override def copyFromStaging(stage: String, file: String,
                                   iamRole: Option[String]): Option[String] =
        Some(s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '${stage.toUpperCase}', '$file', NULL, NULL, NULL, 0)")
    }
    val sink = new JdbcMergeSink(url, props, DerbyImportDialect,
      staging = Some(StagingConf(tmpdir)))
    // row 4 carries a NULL payload (a delete event's empty body): the
    // staged-CSV path must land SQL NULL, matching the row-wise path
    val b1 = Seq(("1", 100L, "u", "ann"), ("2", 101L, "u", "bob"),
        ("4", 102L, "u", null))
      .toDF("pk", "ts_ms", "op", "payload")
    sink.merge("bulk", "users", b1, "pk", "op", "d")
    val b2 = Seq(("2", 201L, "d", "bob"), ("3", 202L, "u", "cat"))
      .toDF("pk", "ts_ms", "op", "payload")
    sink.merge("bulk", "users", b2, "pk", "op", "d")
    val rows = spark.read.jdbc(url, "bulk_users", props)
      .select("pk", "payload").as[(String, Option[String])].collect().toMap
    assert(rows == Map("1" -> Some("ann"), "3" -> Some("cat"), "4" -> None),
      s"null payload must stay SQL NULL through the bulk path: $rows")
    // successful COPYs clean their staged CSV directory up — a
    // continuously running pipeline must not accumulate one UUID dir
    // per batch under tmpdir forever
    val staged = new java.io.File(tmpdir).listFiles()
    assert(staged != null && staged.isEmpty,
      s"staged CSV dirs must be removed after a successful COPY: ${staged.toSeq}")
    // Redshift flavor of the same hook carries tempdir + IAM role, and
    // the NULL token matching the staged CSV write
    assert(RedshiftDialect.copyFromStaging("stage_t", "s3://b/x/part-0.csv",
      Some("arn:aws:iam::1:role/load")) ==
      Some("COPY stage_t FROM 's3://b/x/part-0.csv' IAM_ROLE 'arn:aws:iam::1:role/load'" +
        " FORMAT AS CSV NULL AS '\\N'"))
  }

  test("numeric sink type over a string column survives the row-wise JDBC path") {
    import spark.implicits._
    // a dialect that KEEPS the numeric DDL (as Redshift does) instead of
    // AnsiDialect's text degrade: the stage gets pk INTEGER while the
    // Spark column is a string — the round-3 advice scenario where the
    // JDBC fallback's varchar bind was rejected on the first batch
    object NumericKeepingDialect extends graft.sink.MergeDialect {
      private def q(id: String) = "\"" + id + "\""
      override def translateSinkType(t: String): String =
        AnsiDialect.translateSinkType(t)
      def createTarget(target: String, stage: String, cols: Seq[String]): Seq[String] =
        AnsiDialect.createTarget(target, stage, cols)
      def mergeStatements(target: String, stage: String, key: String,
                          insertCols: Seq[String], opCol: String,
                          deleteMarker: String): Seq[String] = Seq(
        s"DELETE FROM $target WHERE ${q(key)} IN (SELECT ${q(key)} FROM $stage)",
        s"INSERT INTO $target (${insertCols.map(q).mkString(", ")}) " +
          s"SELECT ${insertCols.map(q).mkString(", ")} FROM $stage " +
          s"WHERE ${q(opCol)} <> '$deleteMarker'",
        s"DROP TABLE $stage")
    }
    val sink = new JdbcMergeSink(url, props, NumericKeepingDialect)
    def batch(rows: Seq[(String, Long, String, String)]) = SinkTypes.annotate(
      rows.toDF("pk", "ts_ms", "op", "payload"), Map("pk" -> "INT4"))
    sink.merge("nk", "users", batch(Seq(("7", 100L, "u", "ann"), ("8", 101L, "u", "bob"))), "pk", "op", "d")
    sink.merge("nk", "users", batch(Seq(("8", 201L, "d", "bob"), ("9", 202L, "u", "cat"))), "pk", "op", "d")
    val out = spark.read.jdbc(url, "nk_users", props)
    // the stage/target really carry the annotated numeric type...
    assert(out.schema("pk").dataType == org.apache.spark.sql.types.IntegerType,
      s"pk landed as ${out.schema("pk").dataType}")
    // ...and both merge batches applied through the row-wise path
    assert(out.select("pk", "payload").as[(Int, String)].collect().toMap ==
      Map(7 -> "ann", 9 -> "cat"))
  }

  test("redshift dialect emits the reference's postactions shape") {
    val create = RedshiftDialect.createTarget("shop_users", "stage_shop_users", Seq("pk"))
    assert(create.head ==
      "CREATE TABLE IF NOT EXISTS shop_users sortkey(ts_date) AS SELECT * FROM stage_shop_users WHERE 1=3")
    val stmts = RedshiftDialect.mergeStatements("t", "s", "pk",
      Seq("pk", "payload"), "op", "delete")
    assert(stmts == Seq(
      "DELETE FROM t USING s WHERE t.pk = s.pk",
      "INSERT INTO t (pk, payload) SELECT pk, payload FROM s WHERE op <> 'delete'",
      "DROP TABLE s"))
  }
}
