package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, Properties, SplittableRandom}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.AdmissionConf
import graft.envelope.{CdcFormat, DmsCdc, MongoCdc, PgCdc}
import graft.pipeline.{QualityAdmission, SchemaInference}
import graft.sink.{AnsiDialect, JdbcMergeSink, MergeSink, ParquetMergeSink}

/** One generated change event: the ground truth the state check
  * replays with a `row_number` window, independently of the pipeline. */
final case class Ev(table: String, pk: String, tsMs: Long, offset: Long,
                    delete: Boolean, payload: String)

/** One generated micro-batch: the envelope records the pipeline sees
  * (`value` plus the Kafka-style `offset` tiebreaker) and the events
  * they encode. */
final class Batch(val id: Long, val values: Array[String],
                  val offsets: Array[Long], val events: Array[Ev]) {
  def records: Int = values.length
  def bytes: Long = values.iterator.map(_.getBytes(UTF_8).length.toLong).sum
}

/** What one set-up produces: the sink and hooks the pipeline is built
  * from, the snapshot rows already in the target (ground truth too),
  * and a reader of the sink's final state as (table, pk, ts_ms, payload). */
final case class Setup(sink: MergeSink,
                       inference: Option[SchemaInference],
                       admission: Option[(DataFrame, Long) => DataFrame],
                       snapshot: Option[DataFrame],
                       readState: () => DataFrame)

/** A CDC workload: a seeded, unbounded stream of envelope batches.
  * Batch `i` is a pure function of (seed, i), so every run with one
  * seed replays identical inputs. Event times are strictly increasing
  * across batches and shuffled within one, so per-key order across
  * batches holds (the partition-ordering guarantee the pipeline relies
  * on) while in-batch compaction still has to order versions. */
abstract class Workload(val name: String, val seed: Long, val scale: Double) {
  def format: CdcFormat
  def db: String
  def tables: Seq[String]
  /** Compare payload text too (file sinks keep the raw payload; the
    * JDBC sink explodes it into typed columns). */
  def comparePayload: Boolean = true
  /** Events the target should reflect (all but the admission workload's
    * rejected half). */
  def kept(e: Ev): Boolean = true
  def setup(spark: SparkSession, dir: String): Setup
  /** Batch `i`; `frac` < 1 shrinks it (the untimed warm-up batches). */
  def batch(i: Int, frac: Double): Batch

  protected def scaled(n: Int): Int = math.max(4, math.round(n * scale).toInt)
  protected def part(n: Int, frac: Double): Int = math.max(1, math.round(n * frac).toInt)

  protected def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(Workload.mix(seed * 31 + stream, i))

  /** Strictly increasing per batch: batch i owns [base + i·W, base + (i+1)·W). */
  protected def tsIn(i: Int, r: SplittableRandom): Long =
    Workload.BaseTs + i.toLong * Workload.WindowMs + r.nextLong(Workload.WindowMs)

  /** In-batch arrival order: a seeded shuffle of the generated events. */
  protected def shuffled(evs: Array[(Ev, String)], r: SplittableRandom): Array[(Ev, String)] = {
    var k = evs.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1)
      val t = evs(k); evs(k) = evs(j); evs(j) = t
      k -= 1
    }
    evs
  }

  protected def assemble(i: Int, evs: Array[(Ev, String)]): Batch = {
    val offs = Array.tabulate(evs.length)(k => i.toLong * 10000000L + k)
    val events = evs.indices.map(k => evs(k)._1.copy(offset = offs(k))).toArray
    new Batch(i.toLong, evs.map(_._2), offs, events)
  }

  protected def parquetState(spark: SparkSession, root: String): () => DataFrame = () => {
    val parts = tables.flatMap { tb =>
      val p = new java.io.File(s"$root/$db/$tb")
      if (!p.isDirectory) None
      else Some(spark.read.parquet(p.getPath)
        .select(lit(tb).as("table"), col("pk"), col("ts_ms"), col("payload")))
    }
    parts.reduceOption(_ unionByName _).getOrElse(Workload.emptyState(spark))
  }
}

object Workload {
  val BaseTs = 1704067200000L // 2024-01-01T00:00:00Z
  val WindowMs = 60000L

  val StateSchema: StructType = StructType(Seq(
    StructField("table", StringType), StructField("pk", StringType),
    StructField("ts_ms", LongType), StructField("payload", StringType)))

  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StateSchema)

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A JSON string literal. */
  def js(s: String): String = {
    val b = new StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def money(r: SplittableRandom, hi: Int): String =
    String.format(Locale.ROOT, "%.2f", Double.box(1 + r.nextInt(hi * 100) / 100.0))

  def apply(name: String, seed: Long, scale: Double): Workload = name match {
    case "pg_hot_upsert" => new HotUpsert(seed, scale)
    case "parquet_trickle" => new Trickle(seed, scale)
    case "dms_jdbc_typed" => new DmsTyped(seed, scale)
    case "pg_doc_admission" => new DocAdmission(seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload.{js, money}

/** Debezium-PG upserts shaped like `CdcDemo`'s `events` replay: a small
  * hot key space (users × event-type tables), so each batch compacts to
  * about 0.29 of its records and the target stays small. */
final class HotUpsert(seed: Long, scale: Double)
    extends Workload("pg_hot_upsert", seed, scale) {
  val format: CdcFormat = PgCdc
  val db = "appdb"
  val tables = Seq("view", "click", "purchase", "search", "signup")
  private val users = scaled(500)
  private val perBatch = scaled(8000)

  def setup(spark: SparkSession, dir: String): Setup =
    Setup(new ParquetMergeSink(dir), None, None, None, parquetState(spark, dir))

  def batch(i: Int, frac: Double): Batch = {
    val r = rng(1, i)
    val evs = Array.fill(part(perBatch, frac)) {
      val tb = tables(r.nextInt(tables.size))
      val user = r.nextInt(users)
      val del = r.nextInt(20) == 0
      val ts = tsIn(i, r)
      val row = s"""{"id": $user, "v": ${money(r, 500)}, "k": ${r.nextInt(100)}}"""
      val env = s"""{"before":${if (del) js(row) else "null"},""" +
        s""""after":${if (del) "null" else js(row)},""" +
        s""""source":{"version":"2.5.0","connector":"postgresql","name":"pg",""" +
        s""""ts_ms":$ts,"snapshot":"false","db":"$db","schema":"public",""" +
        s""""table":"$tb","txId":${ts / 7},"lsn":${ts * 3}},""" +
        s""""op":"${if (del) "d" else "u"}","ts_ms":${ts + 3},"transaction":null}"""
      (Ev(tb, user.toString, ts, 0L, del, row), env)
    }
    assemble(i, shuffled(evs, r))
  }
}

/** Mongo change-stream trickle into a preloaded `lineitem`-shaped
  * target: each batch updates a few thousand seeded random keys spread
  * over every table, so the file sink rewrites far more than it merges.
  * Every tenth batch (index ≡ 2 mod 10) also deletes. */
final class Trickle(seed: Long, scale: Double)
    extends Workload("parquet_trickle", seed, scale) {
  val format: CdcFormat = MongoCdc
  val db = "tpch"
  val tables: Seq[String] = (0 until 6).map(k => s"lineitem_$k")
  private val rows = scaled(60000)
  private val perBatch = scaled(1000)
  private val modes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")

  private def doc(id: Int, r: SplittableRandom, rev: Int): String =
    s"""{"_id": $id, "l_orderkey": ${id / 4}, "l_linenumber": ${id % 4 + 1}, """ +
      s""""l_quantity": ${1 + r.nextInt(50)}, "l_extendedprice": ${money(r, 900)}, """ +
      s""""l_discount": 0.0${r.nextInt(10)}, "l_returnflag": "${"ARN".charAt(r.nextInt(3))}", """ +
      s""""l_shipmode": "${modes(r.nextInt(modes.size))}", "rev": $rev}"""

  def setup(spark: SparkSession, dir: String): Setup = {
    // the snapshot is bulk-written in the sink's own layout (the
    // columns ParquetMergeSink keeps: pk, ts_ms, payload, offset,
    // ts_date), as an initial load would land before the stream starts
    val s = seed
    val snap = spark.range(rows).select(
      concat(lit("lineitem_"), (col("id") % 6).cast("string")).as("table"),
      col("id").cast("string").as("pk"),
      (lit(Workload.BaseTs - 86400000L) + col("id")).as("ts_ms"),
      to_json(struct(
        col("id").as("_id"), (col("id") / 4).cast("long").as("l_orderkey"),
        (col("id") % 4 + 1).as("l_linenumber"),
        (pmod(xxhash64(lit(s), col("id")), lit(50)) + 1).as("l_quantity"),
        (pmod(xxhash64(lit(s + 1), col("id")), lit(90000)) / 100.0 + 1).as("l_extendedprice"),
        lit("N").as("l_returnflag"), lit(0).as("rev"))).as("payload"),
      (col("id") - rows).as("offset"))
      .withColumn("ts_date", to_date(from_unixtime(col("ts_ms") / 1000)))
    // one partitioned write, then each `table=<tb>` directory becomes
    // the sink's `<db>/<tb>` target
    snap.write.mode("overwrite").partitionBy("table").parquet(s"$dir/$db")
    tables.foreach { tb =>
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/$db/table=$tb"),
        java.nio.file.Paths.get(s"$dir/$db/$tb"))
    }
    Setup(new ParquetMergeSink(dir), None, None,
      Some(snap.select(col("table"), col("pk"), col("ts_ms"), col("offset"),
        lit(false).as("delete"), col("payload"))),
      parquetState(spark, dir))
  }

  def batch(i: Int, frac: Double): Batch = {
    val r = rng(2, i)
    val deletes = i % 10 == 2
    val evs = Array.fill(part(perBatch, frac)) {
      val id = r.nextInt(rows)
      val tb = s"lineitem_${id % 6}"
      val del = deletes && r.nextInt(5) == 0
      val ts = tsIn(i, r)
      val row = doc(id, r, i + 1)
      val env = s"""{"_id":${js(s"""{"_data": "${java.lang.Long.toHexString(ts)}$id"}""")},""" +
        s""""operationType":"${if (del) "delete" else "update"}",""" +
        s""""fullDocument":${if (del) "null" else js(row)},""" +
        s""""source":{"ts_ms":$ts,"snapshot":"false"},"ts_ms":$ts,""" +
        s""""ns":{"db":"$db","coll":"$tb"},"documentKey":${js(s"""{"_id": $id}""")}}"""
      (Ev(tb, id.toString, ts, 0L, del, row), env)
    }
    assemble(i, shuffled(evs, r))
  }
}

/** AWS DMS `orders` feed into embedded Derby through `JdbcMergeSink`
  * with payload explosion: every order is inserted, and each batch
  * also updates a third and deletes a tenth as many earlier orders.
  * The target grows by about 0.9 × inserts per batch. */
final class DmsTyped(seed: Long, scale: Double)
    extends Workload("dms_jdbc_typed", seed, scale) {
  val format: CdcFormat = DmsCdc("id")
  val db = "sales"
  val tables: Seq[String] = (1 to 5).map(p => s"orders_p$p")
  override val comparePayload = false
  private val inserts = scaled(1500)
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'000Z'")
    .withZone(ZoneOffset.UTC)
  private val second = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  private var url = ""
  private val props = new Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

  private def priority(id: Long): Int = java.lang.Math.floorMod(Workload.mix(seed, id), 5L).toInt

  def setup(spark: SparkSession, dir: String): Setup = {
    url = s"jdbc:derby:memory:${new java.io.File(dir).getName};create=true"
    val sink = new JdbcMergeSink(url, props, AnsiDialect)
    Setup(sink, Some(new SchemaInference()), None, None, () => {
      val conn = java.sql.DriverManager.getConnection(url, props)
      val present = try tables.filter(tb => sink.tableExists(conn, AnsiDialect.targetName(db, tb)))
        finally conn.close()
      present.map { tb =>
        spark.read.jdbc(url, AnsiDialect.targetName(db, tb), props)
          .select(lit(tb).as("table"), col("pk").cast("string").as("pk"), col("ts_ms"),
            lit(null).cast("string").as("payload"))
      }.reduceOption(_ unionByName _).getOrElse(Workload.emptyState(spark))
    })
  }

  def batch(i: Int, frac: Double): Batch = {
    val r = rng(3, i)
    // keys are allotted per batch index, so a shrunken batch leaves a gap
    val earlier = i.toLong * inserts
    val n = part(inserts, frac)
    def event(id: Long, op: String): (Ev, String) = {
      val ts = tsIn(i, r)
      val p = priority(id)
      val row = s"""{"id": $id, "o_custkey": ${1 + r.nextInt(1500)}, """ +
        s""""o_orderstatus": "${"OFP".charAt(r.nextInt(3))}", "o_totalprice": ${money(r, 4000)}, """ +
        s""""o_orderdate": "199${r.nextInt(8)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)}", """ +
        s""""o_orderpriority": "${priorities(p)}", "o_shippriority": 0, """ +
        s""""gmt_modified": "${second.format(Instant.ofEpochMilli(ts))}"}"""
      val tb = tables(p)
      val env = s"""{"data":${js(row)},"control":null,"metadata":{""" +
        s""""timestamp":"${stamp.format(Instant.ofEpochMilli(ts))}","record-type":"data",""" +
        s""""operation":"$op","partition-key-type":"schema-table",""" +
        s""""schema-name":"$db","table-name":"$tb"}}"""
      (Ev(tb, id.toString, ts, 0L, op == "delete", row), env)
    }
    val ins = (0 until n).map(k => event(earlier + k, "insert"))
    val upd = if (i == 0) Nil else (0 until n / 3).map(_ =>
      event(r.nextLong(earlier), "update"))
    val del = if (i == 0) Nil else (0 until n / 10).map(_ =>
      event(r.nextLong(earlier), "delete"))
    assemble(i, shuffled((ins ++ upd ++ del).toArray, r))
  }
}

/** Debezium-PG document revisions through the quality admission hook
  * (Gopher shape and repetition gates). A seeded half of the documents
  * carries common English function words and passes every gate; the
  * other half has none and fails the stopword rule, so the expected
  * state is latest-per-key over the admitted half only. */
final class DocAdmission(seed: Long, scale: Double)
    extends Workload("pg_doc_admission", seed, scale) {
  val format: CdcFormat = PgCdc
  val db = "corpus"
  val tables: Seq[String] = (0 until 4).map(k => s"docs_$k")
  private val docs = scaled(1000)
  private val perBatch = scaled(1000)
  private val stops = Seq("the", "of", "and", "to", "with", "that")

  /** Fixed pseudo-word vocabulary: 3–9 letters, none of them a Gopher
    * stopword, so only the inserted function words can pass that rule. */
  private val vocab: Array[String] = {
    val r = new SplittableRandom(7)
    val cons = "bcdfgklmnprstvz"; val vows = "aeiou"
    Iterator.continually {
      val n = 2 + r.nextInt(3)
      val w = (0 until n).map(_ => s"${cons.charAt(r.nextInt(cons.length))}${vows.charAt(r.nextInt(5))}").mkString
      if (r.nextBoolean()) w + cons.charAt(r.nextInt(cons.length)) else w
    }.filterNot(Set("the", "be", "to", "of", "and", "that", "have", "with"))
      .distinct.take(400).toArray
  }

  def admitted(doc: Int): Boolean = (Workload.mix(seed + 5, doc) & 1L) == 0L

  override def kept(e: Ev): Boolean = admitted(e.pk.toInt)

  def setup(spark: SparkSession, dir: String): Setup = {
    import spark.implicits._
    val weights = s"$dir/frozen/weights"
    // all-zero frozen quality weights at threshold 0: the classifier
    // admits everything, so the verdict rests on the shape gates
    Seq((0L, 0L)).toDF("bucket", "w").write.mode("overwrite").parquet(weights)
    val cfg = AdmissionConf(
      text_expr = "get_json_object(payload, '$.text')",
      weights_path = weights, min_words = 20, repetition = true)
    val hook = QualityAdmission.fromConfig(spark, cfg, PgCdc.deleteMarker)
    Setup(new ParquetMergeSink(s"$dir/sink"), None, Some(hook), None,
      parquetState(spark, s"$dir/sink"))
  }

  private def text(doc: Int, r: SplittableRandom): String = {
    val words = Array.fill(40 + r.nextInt(30))(vocab(r.nextInt(vocab.length)))
    if (admitted(doc)) {
      val picked = stops.filter(_ => r.nextInt(2) == 0)
      // distinct positions, so every picked function word survives
      val at = scala.collection.mutable.LinkedHashSet.empty[Int]
      val use = if (picked.size >= 3) picked else stops.take(3)
      while (at.size < use.size) at += r.nextInt(words.length)
      use.zip(at).foreach { case (s, k) => words(k) = s }
    }
    words.mkString(" ")
  }

  def batch(i: Int, frac: Double): Batch = {
    val r = rng(4, i)
    val evs = Array.fill(part(perBatch, frac)) {
      val doc = r.nextInt(docs)
      val tb = tables(doc % tables.size)
      val ts = tsIn(i, r)
      val row = s"""{"id": $doc, "rev": $ts, "text": ${js(text(doc, r))}}"""
      val env = s"""{"before":null,"after":${js(row)},""" +
        s""""source":{"version":"2.5.0","connector":"postgresql","name":"pg",""" +
        s""""ts_ms":$ts,"snapshot":"false","db":"$db","schema":"public",""" +
        s""""table":"$tb","txId":${ts / 7},"lsn":${ts * 3}},""" +
        s""""op":"u","ts_ms":${ts + 3},"transaction":null}"""
      (Ev(tb, doc.toString, ts, 0L, delete = false, row), env)
    }
    assemble(i, shuffled(evs, r))
  }
}
