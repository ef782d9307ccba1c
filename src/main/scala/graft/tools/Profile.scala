package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

/** Profile of declared queries, the "which part is the time" lens an
  * optimization pass needs before touching a query (measure first; the
  * Spark UI is disabled in the bench session, this is its batch
  * stand-in). For each named query it prints:
  *
  *  - the cold run split into build (analysis, and any eager driver
  *    work inside the query function), plan (optimization + physical
  *    planning, no task runs) and exec;
  *  - the walls of `Bench.WarmRuns` warm runs and their median;
  *  - every stage of the last warm run: wall, executor task time,
  *    tasks, shuffle read/write and input records;
  *  - the `explain("formatted")` plan of that run (the final adaptive
  *    plan, since it has executed).
  *
  * Runs follow Bench's protocol: each executes the query's own plan
  * (`toRdd`), caches persist across one query's runs and are released
  * between queries, so a warm line here is the run Bench times.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_CPUS=n]
  * sbt "runMain graft.tools.Profile <query>..."`
  */
object Profile {
  final case class StageRow(id: Int, name: String, wallMs: Long,
                            taskMs: Long, tasks: Int,
                            shufReadMB: Double, shufWriteMB: Double,
                            inRecords: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query>...")
    val queries = graft.SparkEntry.queries
    val fns = args.map(n => n -> queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query: $n")))
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "SPARK_GRAFT_SF_DIR must name an sf directory"))
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors())))

    val stages = TrieMap.empty[Int, StageRow]
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (capture) {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages(si.stageId) = StageRow(
            si.stageId, si.name,
            (for {s <- si.submissionTime; c <- si.completionTime} yield c - s)
              .getOrElse(-1L),
            m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.recordsRead)
        }
    })
    // listener events are delivered asynchronously: settle the bus
    // before every capture toggle so trailing stages of the profiled
    // run are counted and late events of the run before it are not
    // misattributed (listenerBus.waitUntilEmpty is private[spark], so a
    // fixed sleep stands in)
    def settle(): Unit = Thread.sleep(400)
    def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

    fns.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val coldDf = fn(spark, sf)
      val t1 = System.nanoTime()
      coldDf.queryExecution.executedPlan
      val t2 = System.nanoTime()
      coldDf.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      println(f"[profile] $name cold build=${secs(t0, t1)}%.3fs " +
        f"plan=${secs(t1, t2)}%.3fs exec=${secs(t2, t3)}%.3fs")

      // the last warm run is the profiled one
      val warms = (1 to graft.Bench.WarmRuns).map { i =>
        if (i == graft.Bench.WarmRuns) {
          settle(); stages.clear(); capture = true
        }
        val w0 = System.nanoTime()
        val df = fn(spark, sf)
        df.queryExecution.toRdd.count()
        (secs(w0, System.nanoTime()), df)
      }
      settle()
      capture = false
      val walls = warms.map(_._1)
      println(f"[profile] $name warm ${walls.map(w => f"$w%.3fs").mkString(" ")}" +
        f" median=${walls.sorted.apply(walls.size / 2)}%.3fs")

      val rows = stages.values.toSeq.sortBy(-_.wallMs)
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_rec"}%10s  name")
      rows.foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.taskMs}%8d ${r.tasks}%6d " +
          f"${r.shufReadMB}%9.2f ${r.shufWriteMB}%9.2f ${r.inRecords}%10d  " +
          r.name.take(90))
      }
      println(f"[profile] $name warm stages=${rows.size} " +
        f"wall sum ${rows.map(_.wallMs).sum}%d ms, " +
        f"task sum ${rows.map(_.taskMs).sum}%d ms")
      println(warms.last._2.queryExecution.explainString(FormattedMode))

      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
