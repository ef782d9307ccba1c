package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.envelope.PgCdc
import graft.ext.Layout
import graft.pipeline.CdcPipeline
import graft.sink.ParquetMergeSink

/** [[ParquetMergeSink]] file sizing and edge cases: a rewrite is written
  * as `ceil(bytes / maxPartitionBytes)` files, an emptied table stays a
  * readable table, and a batch whose columns differ from the target's
  * fails loudly instead of dropping a column.
  */
class ParquetMergeSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def sinkRoot(): String = Files.createTempDirectory("graft_pms").toString

  private def partFiles(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-")).toSeq
  }

  private def rows(s: SparkSession, events: (String, Long, String, String)*): DataFrame = {
    import s.implicits._
    events.toDF("pk", "ts_ms", "op", "payload")
  }

  private def state(dir: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(dir).select("pk", "payload").as[(String, String)]
      .collect().toMap
  }

  test("ten merges into one table leave exactly one part file") {
    val sink = new ParquetMergeSink(sinkRoot())
    (1 to 10).foreach { i =>
      sink.merge("db", "t", rows(spark, (s"k$i", i.toLong, "u", s"v$i"),
        ("k0", i.toLong, "u", s"v0-$i")), "pk", "op", "d")
    }
    val dir = sink.targetPath("db", "t")
    assert(partFiles(dir).size == 1, partFiles(dir).mkString(", "))
    assert(state(dir) == (1 to 10).map(i => s"k$i" -> s"v$i").toMap + ("k0" -> "v0-10"))
  }

  test("a table larger than maxPartitionBytes is written as ceil(bytes / maxPartitionBytes) files") {
    // a session of its own: the lowered split size stays out of every
    // other suite sharing the context
    val s = spark.newSession()
    val sink = new ParquetMergeSink(sinkRoot())
    val dir = sink.targetPath("db", "big")
    s.range(20000).select(col("id").cast("string").as("pk"), col("id").as("ts_ms"),
        sha2(col("id").cast("string"), 256).as("payload"))
      .repartition(8).write.mode(SaveMode.Overwrite).parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = partFiles(dir).map(fs.getFileStatus(_).getLen).sum
    // three splits' worth, with headroom for the one-row batch's estimate
    val maxPartitionBytes = bytes / 3 + 4096
    s.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
    sink.merge("db", "big", rows(s, ("7", 20000L, "u", "seven")), "pk", "op", "d")
    val expected = Layout.fileCount(bytes, maxPartitionBytes)
    assert(expected == 3)
    assert(partFiles(dir).size == expected, partFiles(dir).mkString(", "))
    val after = state(dir)
    assert(after.size == 20000 && after("7") == "seven")
  }

  test("a batch deleting every key leaves an empty readable table that keeps its schema") {
    val sink = new ParquetMergeSink(sinkRoot())
    val dir = sink.targetPath("db", "t")
    sink.merge("db", "t", rows(spark, ("1", 1L, "c", "a"), ("2", 2L, "c", "b")),
      "pk", "op", "d")
    val schema = spark.read.parquet(dir).schema
    sink.merge("db", "t", rows(spark, ("1", 3L, "d", null), ("2", 4L, "d", null)),
      "pk", "op", "d")
    val emptied = spark.read.parquet(dir)
    assert(emptied.count() == 0)
    assert(emptied.schema == schema)
    sink.merge("db", "t", rows(spark, ("2", 5L, "c", "b2"), ("3", 6L, "c", "c")),
      "pk", "op", "d")
    assert(state(dir) == Map("2" -> "b2", "3" -> "c"))
  }

  test("a batch whose columns differ from the target's fails and leaves the target unchanged") {
    import spark.implicits._
    def envelope(id: Int, ts: Long, name: String): String = {
      val row = s"""{\\"id\\": $id, \\"name\\": \\"$name\\"}"""
      s"""{"before":null,"after":"$row","source":{"ts_ms":$ts,"db":"db",""" +
        s""""table":"t"},"op":"c","ts_ms":$ts}"""
    }
    def batch(from: Int, ts: Long) = (from until from + 3)
      .map(i => (envelope(i, ts + i, s"n$i"), ts + i)).toDF("value", "offset")
    // the target is written with the offset tiebreaker, then merged by a
    // pipeline built without it — and the reverse
    Seq(Some("offset") -> None, None -> Some("offset")).foreach { case (first, second) =>
      val root = sinkRoot()
      val sink = new ParquetMergeSink(root)
      new CdcPipeline(PgCdc, sink, tiebreaker = first).processBatch(batch(1, 100L), 0L)
      val dir = sink.targetPath("db", "t")
      val before = spark.read.parquet(dir)
      val (beforeCols, beforeRows) = (before.columns.toSeq, before.collect().toSet)
      assert(beforeCols.contains("offset") == first.isDefined)
      intercept[Exception] {
        new CdcPipeline(PgCdc, sink, tiebreaker = second).processBatch(batch(2, 200L), 1L)
      }
      val after = spark.read.parquet(dir)
      assert(after.columns.toSeq == beforeCols, s"$first -> $second")
      assert(after.collect().toSet == beforeRows, s"$first -> $second")
    }
  }
}
