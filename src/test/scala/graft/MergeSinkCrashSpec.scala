package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.envelope.PgCdc
import graft.pipeline.CdcPipeline
import graft.sink.ParquetMergeSink

/** [[ParquetMergeSink]] under crashes: each case fabricates the
  * filesystem state a merge leaves when it dies at one step of the
  * directory swap, then the batch is replayed and the table must equal
  * latest-per-key over the whole event history. Plus concurrent merges
  * of two tables whose `<db>_<tb>` spellings coincide.
  */
class MergeSinkCrashSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  type Event = (String, Long, String, String) // pk, ts_ms, op, payload
  private val batch1: Seq[Event] = Seq(
    ("1", 10L, "c", "a1"), ("2", 11L, "c", "b1"), ("3", 12L, "c", "c1"))
  private val batch2: Seq[Event] = Seq(
    ("2", 20L, "u", "b2"), ("3", 21L, "d", "c1"), ("4", 22L, "c", "d2"))

  /** The model: the latest event per key, deletes dropped. */
  private def latestPerKey(history: Seq[Event]): Map[String, String] =
    history.groupBy(_._1).values.map(_.maxBy(_._2))
      .collect { case (pk, _, op, payload) if op != "d" => pk -> payload }
      .toMap

  private def merge(sink: ParquetMergeSink, events: Seq[Event]): Unit = {
    import spark.implicits._
    sink.merge("db", "t", events.toDF("pk", "ts_ms", "op", "payload"),
      keyCol = "pk", opCol = "op", deleteMarker = "d")
  }

  private def table(dir: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(dir).select("pk", "payload")
      .as[(String, String)].collect().toSeq
  }

  /** The table content after `history`, merged into a scratch sink. */
  private def merged(history: Seq[Event]*): String = {
    val sink = new ParquetMergeSink(
      Files.createTempDirectory("graft_crash_ref").toString)
    history.foreach(merge(sink, _))
    sink.targetPath("db", "t")
  }

  private def copy(fs: FileSystem, from: String, to: Path): Unit =
    assert(FileUtil.copy(fs, new Path(from), fs, to, false,
      spark.sparkContext.hadoopConfiguration))

  private def commit(fs: FileSystem, dir: Path): Unit =
    fs.create(new Path(dir, "_graft_commit"), true).close()

  /** (name, crash fixture): the fixture gets the sink, its filesystem
    * and the target's live / tmp / aside paths, and leaves the state of
    * a merge of `batch2` — or, for the first-ever target, of `batch1` —
    * that died mid-swap. */
  type Crash = (ParquetMergeSink, FileSystem, Path, Path, Path) => Unit
  private val crashes: Seq[(String, Crash)] = Seq(
    "tmp written, live untouched" -> { (sink, fs, _, tmp, _) =>
      merge(sink, batch1)
      copy(fs, merged(batch1, batch2), tmp)
      commit(fs, tmp)
    },
    "live moved aside, tmp not yet renamed in" -> { (sink, fs, live, tmp, aside) =>
      merge(sink, batch1)
      copy(fs, merged(batch1, batch2), tmp)
      commit(fs, tmp)
      assert(fs.rename(live, aside))
    },
    "tmp renamed in, aside not yet deleted" -> { (sink, fs, live, _, aside) =>
      merge(sink, batch1)
      assert(fs.rename(live, aside))
      copy(fs, merged(batch1, batch2), live)
    },
    "first-ever target whose rename was lost" -> { (_, fs, _, tmp, _) =>
      copy(fs, merged(batch1), tmp)
      commit(fs, tmp)
    })

  crashes.foreach { case (name, crash) =>
    test(s"ParquetMergeSink crash recovery: $name") {
      val root = Files.createTempDirectory("graft_crash").toString
      val sink = new ParquetMergeSink(root)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new Path(sink.targetPath("db", "t"))
      val tmp = new Path(live.getParent, ".apply-tmp-t")
      val aside = new Path(live.getParent, ".apply-old-t")
      crash(sink, fs, live, tmp, aside)
      // the replay of batch 2 (the batch in flight, or the next one
      // after a first-ever batch 1 whose rename was lost)
      merge(sink, batch2)
      val got = table(live.toString)
      assert(got.map(_._1).distinct.size == got.size, s"duplicate keys: $got")
      assert(got.toMap == latestPerKey(batch1 ++ batch2))
      assert(!fs.exists(tmp) && !fs.exists(aside), "swap siblings left behind")
    }
  }

  test("concurrent merges of tables (a_b, c) and (a, b_c) both come out correct") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_crash_pair").toString
    def event(db: String, tb: String, id: Int, ts: Long, name: String): String = {
      val row = s"""{\\"id\\": $id, \\"name\\": \\"$name\\"}"""
      s"""{"before":null,"after":"$row","source":{"ts_ms":$ts,"db":"$db",""" +
        s""""table":"$tb"},"op":"c","ts_ms":$ts}"""
    }
    val pipeline = new CdcPipeline(PgCdc, new ParquetMergeSink(root),
      tableParallelism = 2)
    val batch = (1 to 20).flatMap(i => Seq(
      event("a_b", "c", i, 100L + i, s"left$i"),
      event("a", "b_c", 100 + i, 200L + i, s"right$i"))).toDF("value")
    pipeline.processBatch(batch, 0L)
    def pks(db: String, tb: String): Set[String] =
      spark.read.parquet(s"$root/$db/$tb").select("pk").as[String]
        .collect().toSet
    assert(pks("a_b", "c") == (1 to 20).map(_.toString).toSet)
    assert(pks("a", "b_c") == (101 to 120).map(_.toString).toSet)
  }
}
