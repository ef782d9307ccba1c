package pipebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.compact.Compaction
import graft.envelope.CdcFormat
import graft.pipeline.SchemaInference
import graft.sink.{MergeSink, SinkTypes}

/** One traced call: `parent` is 0 for a batch's root span. */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SpanWork {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskMs = new AtomicLong; val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong; val readBytes = new AtomicLong
  val writtenBytes = new AtomicLong
}

/** In-memory span recorder. The active span id rides a Spark local
  * property, so every job a layer call launches (on any thread that
  * inherits or sets the property) is attributed to it by [[Listener]]. */
final class Tracer(spark: SparkSession) {
  val Key = "pipebench.span"
  private val ids = new AtomicInteger
  val spans = new ConcurrentLinkedQueue[Span]
  val work = new ConcurrentHashMap[Int, SpanWork]
  private val stageSpan = new ConcurrentHashMap[Int, Int]

  def span[A](name: String, batch: Long, parent: Int)(f: Int => A): A = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      spans.add(Span(id, name, parent, batch, t0, System.nanoTime()))
      sc.setLocalProperty(Key, prev)
    }
  }

  private def of(id: Int) = work.computeIfAbsent(id, _ => new SpanWork)

  @volatile private var barrierJob = -1
  @volatile private var barrierEnd = new java.util.concurrent.CountDownLatch(1)

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(ps => Option(ps.getProperty(Key))) match {
        case Some("barrier") => barrierJob = e.jobId
        case Some(s) =>
          val id = s.toInt
          of(id).jobs.incrementAndGet()
          e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
        case None => ()
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == barrierJob) barrierEnd.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => of(id).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val w = of(id)
        w.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          w.taskMs.addAndGet(m.executorRunTime)
          w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          w.readBytes.addAndGet(m.inputMetrics.bytesRead)
          w.writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  /** Waits until the listener has seen every event posted so far: the
    * bus delivers in order, so a marker job's end arrives last. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    barrierEnd = new java.util.concurrent.CountDownLatch(1)
    sc.setLocalProperty(Key, "barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, prev)
    barrierEnd.await(60, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val w = Option(work.get(s.id))
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""batch":${s.batch},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${w.map(_.jobs.get).getOrElse(0L)},"tasks":${w.map(_.tasks.get).getOrElse(0L)},""" +
        s""""task_ms":${w.map(_.taskMs.get).getOrElse(0L)}}""")
    } finally out.close()
  }
}

/** Counts one traced batch produced, beside its spans. */
final case class TracedCounts(rowsOut: Long, compacted: Long, admitted: Long,
                              tables: Int)

/** `CdcPipeline.processBatch` re-traced from outside: the same public
  * layer calls in the same order, with a persist and count between
  * layers so each layer's self time is its own span. */
final class TracedPipeline(format: CdcFormat, sink: MergeSink,
                           tableParallelism: Int, tiebreaker: String,
                           pid: String, inference: Option[SchemaInference],
                           admission: Option[(DataFrame, Long) => DataFrame],
                           tracer: Tracer) {

  def processBatch(batch: DataFrame, batchId: Long): TracedCounts =
    tracer.span("batch", batchId, 0) { root =>
      def span[A](name: String)(f: => A): A = tracer.span(name, batchId, root)(_ => f)
      if (span("pipeline.probe")(batch.isEmpty)) TracedCounts(0, 0, 0, 0)
      else {
        val (norm, rowsOut) = span("envelope") {
          val n = format.normalize(batch, passthrough = Seq(tiebreaker))
            .persist(StorageLevel.MEMORY_AND_DISK)
          (n, n.count())
        }
        val (compacted, compactedRows) = span("compact") {
          val c = SinkTypes.annotate(
            Compaction.latestPerKeyAgg(norm, Seq("db_name", "tb_name", "pk"),
              Seq("ts_ms", tiebreaker))
              .withColumn("ts_date", to_date(from_unixtime(col("ts_ms") / 1000))),
            format.sinkTypes).persist(StorageLevel.MEMORY_AND_DISK)
          (c, c.count())
        }
        norm.unpersist()
        try {
          val gated = admission.map(f => span("pipeline.admit")(f(compacted, batchId)))
          try {
            val work0 = gated.getOrElse(compacted)
            val tables = span("pipeline.targets") {
              Compaction.targets(work0, Seq("db_name", "tb_name")).collect()
                .map(r => (r.getString(0), r.getString(1)))
            }
            tracer.span("pipeline.fanout", batchId, root) { fan =>
              val pool = Executors.newFixedThreadPool(math.max(1, math.min(tableParallelism, tables.length)))
              implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
              try {
                val all = Future.traverse(tables.toSeq) { case (db, tb) =>
                  Future {
                    tracer.span("pipeline.table", batchId, fan) { tid =>
                      val base = work0.filter(col("db_name") === db && col("tb_name") === tb)
                        .drop("db_name", "tb_name")
                      val slice = inference match {
                        case Some(inf) =>
                          val keep = base.columns.filterNot(_ == "payload").toSeq
                          val exploded = tracer.span("pipeline.infer", batchId, tid)(_ =>
                            inf.explodePayload(base, db, tb, "payload", keep))
                          SchemaInference.coerceTimestamps(exploded,
                            Seq("gmt_created", "gmt_modified"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
                        case None => base
                      }
                      tracer.span("sink.merge", batchId, tid)(_ =>
                        sink.mergeOnce(pid, batchId, db, tb, slice, keyCol = "pk",
                          opCol = "op", deleteMarker = format.deleteMarker))
                    }
                  }
                }
                Await.result(all, Duration.Inf)
              } finally pool.shutdown()
            }
            val admitted = span("pipeline.report") {
              compacted.count(); gated.map(_.count()).getOrElse(compactedRows)
            }
            TracedCounts(rowsOut, compactedRows, admitted, tables.length)
          } finally gated.foreach(_.unpersist())
        } finally compacted.unpersist()
      }
    }
}
