package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.envelope.{DmsCdc, MongoCdc, PgCdc}

class EnvelopeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // FIXTURES.md §A sample records
  val mongoJson =
    """{"_id":"{\"_data\":\"826..\"}", "operationType":"insert",
      | "fullDocument":"{\"_id\": {\"$oid\": \"64a1\"}, \"name\": \"alice\", \"qty\": 3}",
      | "source":{"ts_ms":1690000000000,"snapshot":"false"},
      | "ts_ms":1690000000123, "ns":{"db":"shop","coll":"orders"},
      | "documentKey":"{\"_id\": {\"$oid\": \"64a1\"}}"}""".stripMargin.replace("\n", "")

  val pgJson =
    """{"before":null,
      | "after":"{\"id\": 42, \"name\": \"widget\", \"price\": 9.5}",
      | "source":{"version":"1.9","connector":"postgresql","name":"pg1",
      |           "ts_ms":1690000000000,"snapshot":"false","db":"shop",
      |           "schema":"public","table":"products","txId":771,"lsn":372036},
      | "op":"c","ts_ms":1690000000200,"transaction":null}""".stripMargin.replace("\n", "")

  val dmsJson =
    """{"data":"{\"id\": 7, \"name\": \"bob\"}",
      | "control":null,
      | "metadata":{"timestamp":"2023-07-02T01:02:03.123456Z","record-type":"data",
      |             "operation":"update","partition-key-type":"schema-table",
      |             "schema-name":"shop","table-name":"users"}}""".stripMargin.replace("\n", "")

  test("mongo envelope normalizes: pk from documentKey $._id, route from ns") {
    val out = MongoCdc.normalize(Seq(mongoJson).toDF("value")).collect().head
    assert(out.getAs[String]("db_name") == "shop")
    assert(out.getAs[String]("tb_name") == "orders")
    assert(out.getAs[String]("pk") == """{"$oid":"64a1"}""")
    assert(out.getAs[Long]("ts_ms") == 1690000000123L)
    assert(out.getAs[String]("op") == "insert")
    assert(out.getAs[String]("payload").contains("alice"))
  }

  test("pg envelope normalizes: pk from after.id, ts from SOURCE ts_ms") {
    val out = PgCdc.normalize(Seq(pgJson).toDF("value")).collect().head
    assert(out.getAs[String]("db_name") == "shop")
    assert(out.getAs[String]("tb_name") == "products")
    assert(out.getAs[String]("pk") == "42")
    assert(out.getAs[Long]("ts_ms") == 1690000000000L) // source.ts_ms, not envelope
    assert(out.getAs[String]("op") == "c")
  }

  test("pg delete event: pk falls back to before.id, payload to before") {
    val del = """{"before":"{\"id\": 9}","after":null,
      |"source":{"ts_ms":1,"db":"shop","table":"products"},"op":"d"}"""
      .stripMargin.replace("\n", "")
    val out = PgCdc.normalize(Seq(del).toDF("value")).collect().head
    assert(out.getAs[String]("pk") == "9")
    assert(out.getAs[String]("op") == PgCdc.deleteMarker)
    assert(out.getAs[String]("payload") == """{"id": 9}""")
  }

  test("dms envelope normalizes and parses the metadata timestamp") {
    val out = DmsCdc().normalize(Seq(dmsJson).toDF("value")).collect().head
    assert(out.getAs[String]("db_name") == "shop")
    assert(out.getAs[String]("tb_name") == "users")
    assert(out.getAs[String]("pk") == "7")
    assert(out.getAs[String]("op") == "update")
    // 2023-07-02T01:02:03.123456Z == 1688259723123 ms
    assert(out.getAs[Long]("ts_ms") == 1688259723123L)
  }

  test("dms control records are dropped; record_id_key is configurable") {
    val ctl = dmsJson.replace("\"record-type\":\"data\"", "\"record-type\":\"control\"")
    assert(DmsCdc().normalize(Seq(ctl).toDF("value")).isEmpty)
    val out = DmsCdc(recordIdKey = "name").normalize(Seq(dmsJson).toDF("value")).collect().head
    assert(out.getAs[String]("pk") == "bob")
  }

  test("normalizeWithDlq routes malformed/unroutable records with raw value") {
    import spark.implicits._
    val good = """{"after":"{\"id\":1}","source":{"db":"d","table":"t","ts_ms":5},"op":"u","ts_ms":5}"""
    val mangled = good.dropRight(8)
    val noTable = """{"after":"{\"id\":2}","source":{"db":"d","ts_ms":6},"op":"u","ts_ms":6}"""
    val df = Seq((good, 1L), (mangled, 2L), (noTable, 3L)).toDF("value", "off")
    val (ok, dlq) = PgCdc.splitFlagged(
      PgCdc.normalizeFlagged(df, passthrough = Seq("off")), passthrough = Seq("off"))
    assert(ok.select("pk").as[String].collect().toSeq == Seq("1"))
    assert(ok.columns.toSeq.contains("off") && !ok.columns.contains("value"))
    val dead = dlq.select("value", "off", "dlq_reason")
      .as[(String, Long, String)].collect().sortBy(_._2)
    assert(dead.map(_._2).toSeq == Seq(2L, 3L), "mangled + unroutable go to DLQ")
    assert(dead.head._1 == mangled, "raw value preserved for replay")
    assert(dead.forall(_._3 == "unroutable_pg_envelope"))
  }

  test("malformed JSON yields null envelope fields, not a crash") {
    val out = PgCdc.normalize(Seq("{not json").toDF("value")).collect().head
    assert(out.getAs[String]("db_name") == null)
    assert(out.getAs[String]("pk") == null)
  }

  test("passthrough columns survive normalization") {
    val df = Seq((pgJson, 17L)).toDF("value", "offset")
    val out = PgCdc.normalize(df, passthrough = Seq("offset")).collect().head
    assert(out.getAs[Long]("offset") == 17L)
  }
}
