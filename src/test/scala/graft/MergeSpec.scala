package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.compact.Compaction
import graft.sink.Merge

/** Properties of the CDC merge semantics (SURVEY.md §5.2): applying event
  * batches through compaction+merge must equal the naive "latest
  * non-delete version per key" model, and must be invariant to how the
  * event log is split into batches. Hand-rolled property loop with a
  * fixed seed (no scalatest-scalacheck bridge in the offline cache).
  */
case class Ev(pk: String, ts: Long, off: Long, op: String, v: String)

class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Event log generator. `ts` is non-decreasing in log (offset) order —
    * the CDC source contract (a key's changes arrive in commit order).
    * Under that contract batch-split invariance must hold; with
    * time-travelling timestamps the reference's last-batch-wins merge
    * (and ours) would legitimately diverge from a global latest-ts rule.
    * `ts = off/3` still forces plenty of equal-ts ties to exercise the
    * tiebreaker.
    */
  def genEvents(rnd: Random): List[Ev] = {
    val n = rnd.nextInt(40)
    List.tabulate(n) { i =>
      Ev(pk = s"p${rnd.nextInt(4)}",
        ts = (i / 3).toLong,
        off = i.toLong,
        op = if (rnd.nextInt(5) == 0) "d" else "u",
        v = s"v${rnd.nextInt(1000)}")
    }
  }

  /** Reference model: per key the event with highest (ts, off); keep it
    * unless it is a delete. */
  def model(evs: List[Ev]): Map[String, String] =
    evs.groupBy(_.pk).flatMap { case (pk, es) =>
      val last = es.maxBy(e => (e.ts, e.off))
      if (last.op == "d") None else Some(pk -> last.v)
    }

  def emptyState = spark.emptyDataset[Ev].toDF().drop("op")

  def run(batches: List[List[Ev]]): Map[String, String] = {
    var state = emptyState
    for (b <- batches if b.nonEmpty) {
      val c = Compaction.latestPerKey(b.toDF(), Seq("pk"), Seq("ts", "off"))
      state = Merge.applyBatch(state, c, "pk", "op", "d")
    }
    state.select("pk", "v").as[(String, String)].collect().toMap
  }

  test("batched merge equals the naive model; invariant under batch split") {
    val rnd = new Random(42)
    for (iter <- 1 to 25) {
      val evs = genEvents(rnd)
      val whole = run(List(evs))
      assert(whole == model(evs), s"iter $iter: single batch != model")
      if (evs.length >= 2) {
        val cut = 1 + rnd.nextInt(evs.length - 1)
        val (b1, b2) = evs.splitAt(cut)
        assert(run(List(b1, b2)) == whole, s"iter $iter: split at $cut diverged")
        val third = evs.length / 3
        if (third > 0) {
          val s3 = run(List(evs.take(third), evs.slice(third, 2 * third), evs.drop(2 * third)))
          assert(s3 == whole, s"iter $iter: 3-way split diverged")
        }
      }
    }
  }

  test("replaying the same batch is idempotent") {
    val evs = List(Ev("a", 1, 0, "u", "x"), Ev("b", 1, 1, "u", "y"),
      Ev("a", 2, 2, "d", ""), Ev("c", 1, 3, "u", "z"))
    val c = Compaction.latestPerKey(evs.toDF(), Seq("pk"), Seq("ts", "off"))
    val once = Merge.applyBatch(emptyState, c, "pk", "op", "d")
    val twice = Merge.applyBatch(once, c, "pk", "op", "d")
    assert(once.select("pk", "v").as[(String, String)].collect().toSet ==
      twice.select("pk", "v").as[(String, String)].collect().toSet)
    assert(once.select("pk", "v").as[(String, String)].collect().toMap ==
      Map("b" -> "y", "c" -> "z")) // a was deleted by its latest event
  }

  test("a target row with a null key survives a merge, as under the anti-join") {
    import org.apache.spark.sql.functions.{col, element_at, lit, typedlit}
    val rows = Seq[(String, String)](("a", "x"), (null, "n"), ("b", "y"))
    // a local target folds the filter through its interpreted eval, a
    // range-backed one runs it as generated code
    val generated = spark.range(rows.size).select(
      element_at(typedlit(rows.map(_._1)), col("id").cast("int") + 1).as("pk"),
      element_at(typedlit(rows.map(_._2)), col("id").cast("int") + 1).as("v"))
    val c = Compaction.latestPerKey(
      List(Ev("a", 1, 0, "u", "x2"), Ev("b", 1, 1, "d", "")).toDF(), Seq("pk"), Seq("ts", "off"))
      .drop("ts", "off")
    for (target <- Seq(rows.toDF("pk", "v"), generated)) {
      val merged = Merge.applyBatch(target, c, "pk", "op", "d")
        .as[(String, String)].collect().toSet
      assert(merged == Set(("a", "x2"), (null, "n")), s"$merged")
    }
  }

  test("a 100k-key merge: formatted explain under 4 KB naming the key count") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val n = 100000
    // target keys k0, k20000, …, k180000: the first five are in the batch
    val target = spark.range(10).select(concat(lit("k"), col("id") * 20000).as("pk"),
      lit("old").as("v"))
    val updates = spark.range(n).select(concat(lit("k"), col("id")).as("pk"),
      lit("new").as("v"), when(col("id") >= 0, "d").as("op"))
    val merged = Merge.applyBatch(target, updates, "pk", "op", "d",
      Some((0 until n).map(i => s"k$i")))
    val plan = merged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.length < 4096 && plan.contains(s"NOT IN <$n keys>"),
      s"${plan.length} chars:\n${plan.take(4096)}")
    assert(merged.select("pk").as[String].collect().toSet ==
      (5 until 10).map(i => s"k${i * 20000}").toSet)
  }
}
