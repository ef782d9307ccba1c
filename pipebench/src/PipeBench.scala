package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.CdcPipeline

/** Replays seeded CDC envelope batches through `CdcPipeline.processBatch`
  * in one process: a closed loop with one client, each batch submitted
  * when the previous one returns (`foreachBatch` under
  * `Trigger.AvailableNow` backfill). Launched by `pipebench/run.py`,
  * which builds the classpath; see `pipebench/NOTES.md`.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --scale X --dir WORKDIR --out RESULT.json --spans SPANS.jsonl
  *       --launch-ms EPOCH_MS
  */
object PipeBench {
  val Tiebreaker = "offset"
  val SetupReps = 3
  val MinTimed = 3
  /** Untimed warm-up after the cold batch: JIT and Spark's planner warm
    * by query count more than by rows, and per-batch walls settle only
    * after about six batches, so the warm-up runs several quarter-size
    * batches. */
  val WarmupBatches = 4
  val WarmupFrac = 0.25

  private val InputSchema = StructType(Seq(
    StructField("value", StringType), StructField(Tiebreaker, LongType)))
  private val EventSchema = StructType(Seq(
    StructField("table", StringType), StructField("pk", StringType),
    StructField("ts_ms", LongType), StructField(Tiebreaker, LongType),
    StructField("delete", BooleanType), StructField("payload", StringType)))

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    try run(o)
    catch {
      case e: Throwable =>
        System.err.println(s"[pipebench] run failed: $e")
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Host CPU-steal ticks (/proc/stat cpu line, column 9, USER_HZ = 100);
    * -1 where the file is unavailable. */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case NonFatal(_) => -1L }

  /** One timed phase: per-batch walls, records, CPU and steal. */
  final class Phase {
    val walls = ArrayBuffer.empty[Double]
    val batches = ArrayBuffer.empty[Batch]
    var records = 0L
    private var cpu0, steal0, gc0 = 0L
    var cpuS, stealS, gcS = 0.0
    def start(): Unit = { cpu0 = cpuNs(); steal0 = stealTicks(); gc0 = gcMs() }
    def stop(): Unit = {
      cpuS = (cpuNs() - cpu0) / 1e9
      val st = stealTicks()
      stealS = if (st < 0 || steal0 < 0) -1.0 else (st - steal0) / 100.0
      gcS = (gcMs() - gc0) / 1e3
    }
    def wall: Double = walls.sum
    def recPerS: Double = records / wall
    /** Interquartile spread of batch walls over their median. */
    def spread: Double =
      if (walls.size < 2) 0.0
      else (quantile(walls.toSeq, 0.75) - quantile(walls.toSeq, 0.25)) / median(walls.toSeq)
  }

  private def run(o: Map[String, String]): Unit = {
    val launchMs = o("launch-ms").toLong
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val dir = o("dir")
    val wl = Workload(o("workload"), o("seed").toLong, o.getOrElse("scale", "1").toDouble)

    val spark = graft.Sessions.local(cores.toString)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    // set-up (generators, sink, frozen tables, snapshot preload) is
    // repeated into fresh directories and the median kept; the last
    // set-up is the one the stream runs against
    var st: Setup = null
    val setupTimes = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      st = wl.setup(spark, s"$dir/setup$r")
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setupTimes)
    val pid = s"pipebench_${wl.name}"
    val pipeline = new CdcPipeline(wl.format, st.sink, tableParallelism = cores,
      tiebreaker = Some(Tiebreaker), pipelineId = Some(pid),
      payloadExplosion = st.inference, admission = st.admission)

    val history = ArrayBuffer.empty[Batch]
    var attempted, failed, lost = 0
    var next = 0
    def frame(b: Batch): DataFrame = spark.createDataFrame(
      sc.parallelize(b.values.indices.map(k => Row(b.values(k), b.offsets(k))), cores),
      InputSchema)
    /** A failed batch is replayed once under the same id, as
      * `foreachBatch` does after a restart. */
    def runBatch(process: (DataFrame, Long) => Unit, frac: Double = 1.0): (Batch, Double) = {
      val b = wl.batch(next, frac); next += 1
      val df = frame(b)
      def attempt(): Boolean = {
        attempted += 1
        try { process(df, b.id); true }
        catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[pipebench] batch ${b.id} failed: $e")
            false
        }
      }
      val t0 = System.nanoTime()
      if (!attempt() && !attempt()) lost += 1
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[pipebench] batch ${b.id} records ${b.records} wall $wall%.3f s")
      history += b
      (b, wall)
    }
    val elapsed = () => (System.currentTimeMillis() - launchMs) / 1e3
    def timed(process: (DataFrame, Long) => Unit, deadline: Double): Phase = {
      val ph = new Phase
      ph.start()
      while ((ph.wall < seconds || ph.walls.size < MinTimed) &&
             !(ph.walls.nonEmpty && elapsed() > deadline)) {
        val (b, w) = runBatch(process)
        ph.walls += w; ph.batches += b; ph.records += b.records
      }
      ph.stop()
      ph
    }

    val untraced: (DataFrame, Long) => Unit = (df, id) => { pipeline.processBatch(df, id); () }
    val cold = runBatch(untraced)._2
    val warm = (1 to WarmupBatches).map(_ => runBatch(untraced, WarmupFrac)._2).sum
    val steady = timed(untraced, 100)
    val steadyEnd = elapsed()

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val e2e = Seq(
      "rec_per_s" -> (steady.recPerS, "rec/s"),
      "batch_p50_s" -> (median(steady.walls.toSeq), "s"),
      "cold_batch_s" -> (cold, "s"),
      "cpu_s_per_krec" -> (steady.cpuS / (steady.records / 1000.0), "s/krec"),
      "setup_s" -> (setupS, "s"))

    var tracedPhase: Option[(Phase, Tracer, Seq[TracedCounts], Int)] = None
    if (trace) {
      val tracer = new Tracer(spark)
      sc.addSparkListener(tracer.Listener)
      val tp = new TracedPipeline(wl.format, st.sink, cores, Tiebreaker, pid,
        st.inference, st.admission, tracer)
      val counts = ArrayBuffer.empty[TracedCounts]
      val failedBefore = failed
      val ph = timed((df, id) => { counts += tp.processBatch(df, id); () }, 140)
      tracer.drain()
      sc.removeSparkListener(tracer.Listener)
      tracer.write(o("spans"))
      tracedPhase = Some((ph, tracer, counts.toSeq, failed - failedBefore))
    }

    // independent state check: latest-per-key over the whole generated
    // history with a row_number window (not Compaction), against what
    // the sink holds
    val evRows = history.iterator.flatMap(_.events).filter(wl.kept).map(e =>
      Row(e.table, e.pk, e.tsMs, e.offset, e.delete, e.payload)).toSeq
    val evDf = spark.createDataFrame(sc.parallelize(evRows, cores), EventSchema)
    val hist = st.snapshot.fold(evDf)(_.unionByName(evDf))
    val expected = hist.withColumn("__rn", row_number().over(
        Window.partitionBy("table", "pk").orderBy(col("ts_ms").desc, col(Tiebreaker).desc)))
      .filter(col("__rn") === 1 && !col("delete"))
      .select(col("table"), col("pk"), col("ts_ms").as("e_ts"), col("payload").as("e_payload"))
    val actual = st.readState().select(col("table"), col("pk"),
      col("ts_ms").as("a_ts"), col("payload").as("a_payload")).cache()
    val differs = col("e_ts").isNull || col("a_ts").isNull || col("e_ts") =!= col("a_ts") ||
      (if (wl.comparePayload) !(col("e_payload") <=> col("a_payload")) else lit(false))
    val wrong = expected.join(actual, Seq("table", "pk"), "full_outer").filter(differs).cache()
    wrong.limit(5).collect().foreach(r => System.err.println(s"[pipebench] state mismatch: $r"))
    val mismatch = wrong.count() +
      actual.groupBy("table", "pk").count().filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1), lit(0L))).head().getLong(0)
    val targetRows = actual.count()
    val failedFrac = failed.toDouble / attempted

    // run-quality markers of the phase whose metrics are reported
    def markers(ph: Phase) = Seq(
      "failed_batch_frac" -> (failedFrac, "ratio"),
      "state_mismatch_rows" -> (mismatch.toDouble, "rows"),
      "run.steal_s" -> (ph.stealS, "s"),
      "run.batch_spread" -> (ph.spread, "ratio"))
    report("run.timed_batches") = (steady.walls.size.toDouble, "count")
    report("run.setup_reps_s") = (setupTimes.sum, "s")
    report("run.session_s") = (sessionS, "s")
    report("run.warmup_s") = (warm, "s")
    report("run.timed_end_s") = (steadyEnd, "s")
    report("run.check_end_s") = (elapsed(), "s")

    tracedPhase match {
      case None =>
        metrics ++= e2e
        report ++= markers(steady)
      case Some((ph, tracer, counts, retries)) =>
        report ++= e2e
        metrics ++= layers(wl, cores, ph, tracer, counts, steady, targetRows, retries)
        metrics ++= markers(ph)
    }

    def obj(m: collection.Map[String, (Double, String)]): String = m.map { case (k, (v, u)) =>
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val json = s"""{"correct":${mismatch == 0 && lost == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${obj(metrics)},"report":${obj(report)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(o("out")), json.getBytes(UTF_8))
    spark.stop()
  }

  /** Per-layer metrics of the traced phase, summed over its batches. */
  private def layers(wl: Workload, cores: Int, ph: Phase, tracer: Tracer,
                     counts: Seq[TracedCounts], untraced: Phase, targetRows: Long,
                     retries: Int): Seq[(String, (Double, String))] = {
    // a ratio over a layer the workload does not use reads 0
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val ids = ph.batches.map(_.id).toSet
    val spans = tracer.spans.asScala.toSeq.filter(s => ids.contains(s.batch))
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(_.seconds).sum
    def work(ss: Seq[Span], f: SpanWork => Long): Double =
      ss.flatMap(s => Option(tracer.work.get(s.id))).map(f).sum.toDouble
    def taskS(n: String) = work(named(n), _.taskMs.get) / 1e3
    def util(n: String) = ratio(taskS(n), wall(n) * cores)
    val rowsIn = ph.records.toDouble
    val rowsOut = counts.map(_.rowsOut).sum.toDouble
    val compacted = counts.map(_.compacted).sum.toDouble
    val admitted = counts.map(_.admitted).sum.toDouble
    val batchWall = wall("batch")
    val roots = named("batch").map(_.id).toSet
    val topLevel = spans.filter(s => roots.contains(s.parent)).map(_.seconds).sum
    val mergeMax = named("sink.merge").groupBy(_.batch).values.map(_.map(_.seconds).max).sum
    // bytes of the merged slices: the latest kept version per key of
    // each batch, from the generated events
    val sliceBytes = ph.batches.map { b =>
      b.events.filter(wl.kept).groupBy(e => (e.table, e.pk)).values
        .map(_.maxBy(e => (e.tsMs, e.offset)))
        .map(e => Option(e.payload).fold(0)(_.getBytes(UTF_8).length) + e.pk.length).sum.toLong
    }.sum.toDouble
    val written = work(named("sink.merge"), _.writtenBytes.get)
    Seq(
      "envelope.wall_s" -> (wall("envelope"), "s"),
      "envelope.task_s" -> (taskS("envelope"), "s"),
      "envelope.rows_in" -> (rowsIn, "rows"),
      "envelope.rows_out" -> (rowsOut, "rows"),
      "envelope.in_bytes" -> (ph.batches.map(_.bytes).sum.toDouble, "bytes"),
      "envelope.core_util" -> (util("envelope"), "ratio"),
      "compact.wall_s" -> (wall("compact"), "s"),
      "compact.task_s" -> (taskS("compact"), "s"),
      "compact.rows_out" -> (compacted, "rows"),
      "compact.keep_ratio" -> (ratio(compacted, rowsOut), "ratio"),
      "compact.shuffle_bytes" -> (work(named("compact"), _.shuffleBytes.get), "bytes"),
      "compact.core_util" -> (util("compact"), "ratio"),
      "pipeline.probe_s" -> (wall("pipeline.probe"), "s"),
      "pipeline.targets_s" -> (wall("pipeline.targets"), "s"),
      "pipeline.tables" -> (counts.map(_.tables).sum.toDouble, "count"),
      "pipeline.infer_s" -> (wall("pipeline.infer"), "s"),
      "pipeline.infer_jobs" -> (work(named("pipeline.infer"), _.jobs.get), "count"),
      "pipeline.admit_s" -> (wall("pipeline.admit"), "s"),
      "pipeline.admit_task_s" -> (taskS("pipeline.admit"), "s"),
      "pipeline.admit_jobs" -> (work(named("pipeline.admit"), _.jobs.get), "count"),
      "pipeline.admit_ratio" -> (ratio(admitted, compacted), "ratio"),
      "pipeline.admit_core_util" -> (util("pipeline.admit"), "ratio"),
      "pipeline.fanout_s" -> (wall("pipeline.fanout"), "s"),
      "pipeline.fanout_overlap" -> (ratio(wall("sink.merge"), wall("pipeline.fanout")), "ratio"),
      "pipeline.report_s" -> (wall("pipeline.report"), "s"),
      "sink.merge_s" -> (wall("sink.merge"), "s"),
      "sink.merge_max_s" -> (mergeMax, "s"),
      "sink.task_s" -> (taskS("sink.merge"), "s"),
      "sink.bytes_read" -> (work(named("sink.merge"), _.readBytes.get), "bytes"),
      "sink.bytes_written" -> (written, "bytes"),
      "sink.write_amp" -> (ratio(written, sliceBytes), "ratio"),
      "sink.target_rows" -> (targetRows.toDouble, "rows"),
      "sink.retries" -> (retries.toDouble, "count"),
      "spark.jobs" -> (work(spans, _.jobs.get), "count"),
      "spark.stages" -> (work(spans, _.stages.get), "count"),
      "spark.tasks" -> (work(spans, _.tasks.get), "count"),
      "spark.shuffle_bytes" -> (work(spans, _.shuffleBytes.get), "bytes"),
      "spark.spill_bytes" -> (work(spans, _.spillBytes.get), "bytes"),
      "spark.gc_s" -> (ph.gcS, "s"),
      "trace.batches" -> (ph.walls.size.toDouble, "count"),
      "trace.batch_wall_s" -> (batchWall, "s"),
      "trace.layer_frac" -> (ratio(topLevel, batchWall), "ratio"),
      "trace.rec_per_s" -> (ph.recPerS, "rec/s"),
      "trace.untraced_rec_per_s" -> (untraced.recPerS, "rec/s"),
      "trace.overhead_frac" -> (1 - ph.recPerS / untraced.recPerS, "ratio"))
  }
}
