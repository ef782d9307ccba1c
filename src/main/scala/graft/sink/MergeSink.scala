package graft.sink

import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

import graft.ext.Layout

/** A merge sink applies one compacted per-table batch (upserts + deletes)
  * atomically to the target table identified by (db, tb).
  *
  * Mirrors the reference's warehouse-as-state design: Spark stays
  * stateless per batch; the target table is the materialized state, and
  * idempotency comes from delete-by-key-then-insert-latest
  * (src/glue_pg_redshift_cdc.py:179-190).
  */
trait MergeSink {
  /** @param batch compacted slice: exactly one row per key
    * @param keyCol equality merge key column name
    * @param opCol  op column; rows with op == deleteMarker remove keys
    * @param keys   the batch's `keyCol` values when the caller already
    *               holds them on the driver (the pipeline's key pass);
    *               the file sink filters the target by them instead of
    *               collecting them from `batch`, a JDBC sink ignores them
    */
  def merge(db: String, tb: String, batch: DataFrame,
            keyCol: String, opCol: String, deleteMarker: String,
            keys: Option[Seq[Any]] = None): Unit

  /** Exactly-once variant: apply the batch only if (pipelineId, batchId,
    * target) has not been applied before. The default forwards to
    * [[merge]] — at-least-once delivery, which the delete-then-insert
    * merge already makes idempotent for REPLAYS OF THE SAME DATA; sinks
    * with a transactional ledger (see [[JdbcMergeSink]]) also protect
    * against a replayed batch id carrying DIFFERENT data (foreachBatch's
    * contract after a checkpoint restore).
    */
  def mergeOnce(pipelineId: String, batchId: Long,
                db: String, tb: String, batch: DataFrame,
                keyCol: String, opCol: String, deleteMarker: String,
                keys: Option[Seq[Any]] = None): Unit =
    merge(db, tb, batch, keyCol, opCol, deleteMarker, keys)
}

/** Warehouse SQL dialect for the stage-table merge transaction. */
trait MergeDialect {
  def stageName(db: String, tb: String): String = s"stage_${db}_$tb"
  def targetName(db: String, tb: String): String = s"${db}_$tb"
  /** Statements creating the target iff absent, given an existing stage. */
  def createTarget(target: String, stage: String, cols: Seq[String]): Seq[String]
  /** The transactional merge: delete matched keys, insert non-deletes. */
  def mergeStatements(target: String, stage: String, key: String,
                      insertCols: Seq[String], opCol: String,
                      deleteMarker: String): Seq[String]

  /** The resolved DDL type of a field: [[SinkTypes]] metadata (reference
    * P10, src/glue_pg_redshift_cdc.py:139-145) wins — translated for
    * this engine — else the default type mapping. The row-wise insert
    * path consults the SAME resolution ([[JdbcMergeSink]] casts columns
    * to match), so stage DDL and JDBC binds cannot diverge.
    */
  def resolvedType(f: types.StructField): String =
    SinkTypes.of(f).map(translateSinkType).getOrElse(defaultType(f.dataType))

  /** Column DDL for explicit stage creation. Identifiers are
    * double-quoted to match the Spark JDBC writer. */
  def columnDdl(f: types.StructField): String =
    "\"" + f.name + "\" " + resolvedType(f)

  /** Adapt a Redshift-flavored metadata type to this engine (identity on
    * Redshift itself). */
  def translateSinkType(t: String): String = t

  /** Fallback Spark→SQL mapping when a column carries no sink type. */
  def defaultType(dt: types.DataType): String = dt match {
    case types.StringType => "VARCHAR(4096)"
    case types.IntegerType => "INTEGER"
    case types.ShortType => "SMALLINT"
    case types.LongType => "BIGINT"
    case types.DoubleType => "DOUBLE PRECISION"
    case types.FloatType => "REAL"
    case types.BooleanType => "BOOLEAN"
    case types.DateType => "DATE"
    case _: types.TimestampType => "TIMESTAMP"
    case d: types.DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => "VARCHAR(4096)"
  }

  /** Full stage DDL honoring sink-type metadata. The target then inherits
    * these types through [[createTarget]]'s create-from-stage. */
  def createStage(stage: String, schema: types.StructType): String =
    s"CREATE TABLE $stage (${schema.fields.map(columnDdl).mkString(", ")})"

  /** Schema-evolution DDL: a column that appeared in the batch but not
    * the target (payload drift, SURVEY §7.4#2 — the reference would
    * break here) is added as nullable; old rows read NULL. */
  def addColumn(target: String, f: types.StructField): String =
    s"ALTER TABLE $target ADD COLUMN ${columnDdl(f)}"

  /** Bulk-load statement pulling one staged file into the stage table —
    * the S3-COPY analogue (reference K1, src/glue_pg_redshift_cdc.py:
    * 192-203 `tempdir`/`tempformat CSV`/`aws_iam_role`). None (default)
    * = engine has no bulk path; the sink falls back to JDBC inserts.
    */
  def copyFromStaging(stage: String, file: String,
                      iamRole: Option[String]): Option[String] = None

  /** The NULL token the staged CSV writes, matched by this dialect's
    * COPY statement. None (default) keeps Spark's empty-field nulls —
    * correct for loaders that read unquoted empty as NULL (Derby's
    * import does); Redshift needs an explicit token because its CSV
    * COPY loads empty fields as empty STRINGS for character columns.
    * Keeping the pair dialect-scoped is what guarantees the bulk and
    * row-wise load paths agree on NULL contents.
    */
  def csvNullToken: Option[String] = None
}

/** Redshift-flavored SQL — the reference's strategy (K1, K3):
  * `DELETE ... USING`, sortkey DDL, `DROP` of the per-batch stage.
  */
object RedshiftDialect extends MergeDialect {
  def createTarget(target: String, stage: String, cols: Seq[String]): Seq[String] =
    Seq(MergeSql.createLike(target, stage, sortKey = Some("ts_date")))
  def mergeStatements(target: String, stage: String, key: String,
                      insertCols: Seq[String], opCol: String,
                      deleteMarker: String): Seq[String] =
    MergeSql.deleteInsertMerge(target, stage, key, insertCols, opCol, deleteMarker)
  // redshift_type metadata is already Redshift DDL — verbatim (inherited
  // translateSinkType), so SUPER/CHAR(2)/VARCHAR(120) land as declared
  // NULL AS matches csvNullToken: without it Redshift loads Spark's
  // empty null fields as empty STRINGS for character columns, so the
  // two stage-load paths would disagree on NULL contents
  override def csvNullToken: Option[String] = Some("\\N")
  override def copyFromStaging(stage: String, file: String,
                               iamRole: Option[String]): Option[String] =
    Some(s"COPY $stage FROM '$file'" +
      iamRole.map(r => s" IAM_ROLE '$r'").getOrElse("") +
      " FORMAT AS CSV NULL AS '\\N'")
}

/** Portable ANSI dialect (works on embedded Derby in tests, and any
  * JDBC engine without DELETE..USING): same delete-then-insert
  * semantics via an IN-subquery. Column identifiers are double-quoted
  * to match the Spark JDBC writer's quoted (case-preserving) column
  * DDL; table names stay unquoted, as the writer emits them.
  */
object AnsiDialect extends MergeDialect {
  private def q(id: String) = "\"" + id + "\""
  /** Redshift-flavored metadata types mapped to portable/Derby DDL:
    * SUPER (semi-structured) has no ANSI analogue and degrades to the
    * widest VARCHAR; Redshift's int aliases map to standard names. */
  override def translateSinkType(t: String): String = t.trim.toUpperCase match {
    case "SUPER" => "VARCHAR(32672)"
    case "INT4" => "INTEGER"
    case "INT8" => "BIGINT"
    case "INT2" => "SMALLINT"
    case other => other
  }

  /** Like the base rule, but writability-aware: a numeric sink type over
    * a STRING Spark column (the reference's `pk_id INT4` over a
    * `get_json_object` string) lands as text here and the numeric
    * intent stays warehouse-side — Derby's strict DML would otherwise
    * need a lossy text-to-number cast on every load path. (Dialects
    * that keep the numeric DDL, e.g. Redshift, instead get the batch
    * column cast before the row-wise insert — see
    * [[JdbcMergeSink.bindCompatible]].) */
  override def resolvedType(f: types.StructField): String =
    SinkTypes.of(f).map(translateSinkType) match {
      case Some("INTEGER" | "BIGINT" | "SMALLINT")
          if f.dataType == types.StringType => "VARCHAR(64)"
      case Some(x) => x
      case None => defaultType(f.dataType)
    }
  def createTarget(target: String, stage: String, cols: Seq[String]): Seq[String] =
    Seq(s"CREATE TABLE $target AS SELECT * FROM $stage WITH NO DATA")
  def mergeStatements(target: String, stage: String, key: String,
                      insertCols: Seq[String], opCol: String,
                      deleteMarker: String): Seq[String] = Seq(
    // CASTs let the comparison work even when the writer mapped strings
    // to a non-comparable type (Derby: CLOB)
    s"DELETE FROM $target WHERE CAST(${q(key)} AS VARCHAR(512)) IN " +
      s"(SELECT CAST(${q(key)} AS VARCHAR(512)) FROM $stage)",
    s"INSERT INTO $target (${insertCols.map(q).mkString(", ")}) " +
      s"SELECT ${insertCols.map(q).mkString(", ")} FROM $stage " +
      s"WHERE CAST(${q(opCol)} AS VARCHAR(64)) <> '$deleteMarker'",
    s"DROP TABLE $stage")
}

/** File-staging configuration for bulk loads — the reference's
  * `tmpdir` + `aws_iam_role` contract (config readme.md:18-19,
  * src/glue_pg_redshift_cdc.py:170,199-202): batches are written as CSV
  * under `tmpdir` and ingested via the dialect's COPY statement.
  */
final case class StagingConf(tmpdir: String, iamRole: Option[String] = None)

/** JDBC merge sink: load the batch into a stage table, then run the
  * merge transaction on a single driver connection — the reference's
  * staged-COPY + postactions design (K1, src/glue_pg_redshift_cdc.py:
  * 192-203).
  *
  * Stage loading has two paths:
  *   - `staging` configured AND the dialect supports COPY: executors
  *     write CSV part files under `tmpdir` in parallel, the warehouse
  *     bulk-ingests each part — the reference's actual load mechanism
  *     (S3 tempdir + `tempformat CSV` + `aws_iam_role`);
  *   - otherwise the Spark JDBC writer inserts row-wise (portable
  *     fallback; BASELINE sanctions "JDBC sink to Redshift").
  * Either way, a batch carrying [[SinkTypes]] metadata gets its stage
  * created from dialect-generated DDL, so SUPER/VARCHAR widths land as
  * annotated instead of whatever the JDBC writer's default mapping picks.
  */
final class JdbcMergeSink(url: String, props: Properties,
                          dialect: MergeDialect,
                          staging: Option[StagingConf] = None) extends MergeSink {

  private def withConnection[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** Table-existence probe (K5) via JDBC metadata — replaces the
    * reference's `pg_tables` catalog query
    * (src/glue_pg_redshift_cdc.py:104-114).
    */
  def tableExists(conn: Connection, name: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
    // Derby upper-cases unquoted identifiers; Redshift lower-cases.
  } || {
    val rs = conn.getMetaData.getTables(null, null, name, null)
    try rs.next() finally rs.close()
  }

  /** The stage load reads `batch` anyway, so `keys` is ignored. */
  def merge(db: String, tb: String, batch: DataFrame,
            keyCol: String, opCol: String, deleteMarker: String,
            keys: Option[Seq[Any]]): Unit =
    mergeImpl(None, db, tb, batch, keyCol, opCol, deleteMarker)

  /** Ledger-gated exactly-once: the applied-batch record commits IN THE
    * SAME TRANSACTION as the merge, so "applied" and "marked applied"
    * cannot diverge; a replayed (pipeline, batch, target) is skipped
    * even if the recomputed batch differs (non-deterministic upstream).
    */
  override def mergeOnce(pipelineId: String, batchId: Long,
                         db: String, tb: String, batch: DataFrame,
                         keyCol: String, opCol: String, deleteMarker: String,
                         keys: Option[Seq[Any]]): Unit =
    mergeImpl(Some((pipelineId, batchId)), db, tb, batch, keyCol, opCol, deleteMarker)

  private val LedgerTable = "graft_applied_batches"

  private def ensureLedger(conn: Connection): Unit =
    if (!tableExists(conn, LedgerTable)) {
      val st = conn.createStatement()
      // per-table merges run CONCURRENTLY on the driver pool: two threads
      // can both miss the probe on the very first batch and race the
      // CREATE — the loser's failure is benign iff the table now exists
      try st.executeUpdate(
        s"""CREATE TABLE $LedgerTable (
           |  pipeline_id VARCHAR(128) NOT NULL,
           |  batch_id BIGINT NOT NULL,
           |  target VARCHAR(256) NOT NULL,
           |  PRIMARY KEY (pipeline_id, batch_id, target))""".stripMargin)
      catch {
        case e: java.sql.SQLException =>
          if (!tableExists(conn, LedgerTable)) throw e
      } finally st.close()
    }

  /** Lower-cased column names of an existing table (JDBC metadata;
    * tolerant of the engine's identifier case folding). */
  private def targetColumns(conn: Connection, table: String): Set[String] = {
    def cols(name: String): Set[String] = {
      val rs = conn.getMetaData.getColumns(null, null, name, null)
      val b = Set.newBuilder[String]
      try { while (rs.next()) b += rs.getString("COLUMN_NAME").toLowerCase }
      finally rs.close()
      b.result()
    }
    val upper = cols(table.toUpperCase)
    if (upper.nonEmpty) upper else cols(table)
  }

  private def alreadyApplied(conn: Connection, pid: String, bid: Long,
                             target: String): Boolean = {
    val ps = conn.prepareStatement(
      s"SELECT 1 FROM $LedgerTable WHERE pipeline_id = ? AND batch_id = ? AND target = ?")
    try {
      ps.setString(1, pid); ps.setLong(2, bid); ps.setString(3, target)
      val rs = ps.executeQuery()
      try rs.next() finally rs.close()
    } finally ps.close()
  }

  /** Stage via files + warehouse COPY: executors write CSV parts under
    * `tmpdir` in parallel (at deployment tmpdir is an s3:// URI and this
    * is the reference's exact load shape); the driver then runs one COPY
    * per part file. Local paths are passed plain (Derby's import
    * procedure wants a filesystem path), remote ones as full URIs
    * (Redshift COPY wants s3://...).
    */
  private def bulkLoad(batch: DataFrame, stage: String): Unit = {
    val conf = staging.get
    val dir = s"${conf.tmpdir.stripSuffix("/")}/$stage-${java.util.UUID.randomUUID()}"
    // null token paired with the dialect's COPY statement — see
    // MergeDialect.csvNullToken
    val writer = batch.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
    dialect.csvNullToken.foreach(writer.option("nullValue", _))
    writer.csv(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    withConnection { conn =>
      conn.setAutoCommit(true)
      val st = conn.createStatement()
      try parts.foreach { p =>
        val loc = if (p.toUri.getScheme == "file" || p.toUri.getScheme == null)
          p.toUri.getPath else p.toString
        dialect.copyFromStaging(stage, loc, conf.iamRole).foreach(st.execute(_))
      } finally st.close()
    }
    // a continuously running pipeline would otherwise accumulate one
    // UUID directory per batch under tmpdir forever; kept on failure
    // (any exception above skips this) for debugging the failed load
    fs.delete(path, true)
  }

  /** Row-wise JDBC binds must match the explicitly-created stage DDL: a
    * numeric annotation over a string Spark column (the reference's
    * `pk INT4` over `get_json_object`) loads fine through Redshift's
    * CSV COPY, which coerces text, but a JDBC parameter bound as
    * VARCHAR into an INT4 column is rejected — so the columns the
    * dialect resolves to numeric DDL are cast before the insert.
    * Under ANSI mode a non-numeric value fails loudly here instead of
    * landing NULL in a merge key.
    */
  private def bindCompatible(batch: DataFrame): DataFrame =
    batch.schema.fields.foldLeft(batch) { (df, f) =>
      if (f.dataType != types.StringType) df
      else SinkTypes.numericSparkType(dialect.resolvedType(f)) match {
        case Some(t) => df.withColumn(f.name, col(f.name).cast(t))
        case None => df
      }
    }

  private def mergeImpl(once: Option[(String, Long)], db: String, tb: String,
                        batch: DataFrame, keyCol: String, opCol: String,
                        deleteMarker: String): Unit = {
    val stage = dialect.stageName(db, tb)
    val target = dialect.targetName(db, tb)
    // 0. replay probe BEFORE the (expensive) stage write
    once.foreach { case (pid, bid) =>
      val skip = withConnection { conn =>
        conn.setAutoCommit(true); ensureLedger(conn)
        alreadyApplied(conn, pid, bid, target)
      }
      if (skip) return
    }
    // 1. stage load. Explicit dialect DDL when the batch carries
    // sink-type metadata (P10) or when bulk-loading (COPY needs the
    // table to pre-exist); else the JDBC writer creates the stage itself.
    val bulk = staging.isDefined &&
      dialect.copyFromStaging(stage, "<probe>", None).isDefined
    if (bulk || SinkTypes.hasAny(batch.schema)) {
      withConnection { conn =>
        conn.setAutoCommit(true)
        val st = conn.createStatement()
        try {
          if (tableExists(conn, stage)) st.executeUpdate(s"DROP TABLE $stage")
          st.executeUpdate(dialect.createStage(stage, batch.schema))
        } finally st.close()
      }
      if (bulk) bulkLoad(batch, stage)
      else bindCompatible(batch).write.mode(SaveMode.Append).jdbc(url, stage, props)
    } else batch.write.mode(SaveMode.Overwrite).jdbc(url, stage, props)
    // 2. merge transaction (driver connection)
    withConnection { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (!tableExists(conn, target))
          dialect.createTarget(target, stage, batch.columns.toSeq).foreach(st.executeUpdate)
        else {
          // schema evolution: batch columns the target lacks (payload
          // drift grew the schema — SchemaInference only ever widens)
          // are added as nullable BEFORE the merge statements reference
          // them; existing rows read NULL for the new columns
          val existing = targetColumns(conn, target)
          batch.schema.fields
            .filterNot(f => existing.contains(f.name.toLowerCase))
            .foreach(f => st.executeUpdate(dialect.addColumn(target, f)))
        }
        val insertCols = batch.columns.toSeq // op column kept for audit? no:
        // the reference excludes op_type from the insert list (P13,
        // src/glue_pg_redshift_cdc.py:174-175) — but then filters on it in
        // the WHERE; we keep op in the stage and insert all columns except it.
        dialect.mergeStatements(target, stage, keyCol,
          insertCols.filterNot(_ == opCol), opCol, deleteMarker)
          .foreach(st.executeUpdate)
        once.foreach { case (pid, bid) =>
          // the PRIMARY KEY makes a concurrent duplicate apply fail the
          // transaction rather than double-apply
          val ps = conn.prepareStatement(
            s"INSERT INTO $LedgerTable (pipeline_id, batch_id, target) VALUES (?, ?, ?)")
          try { ps.setString(1, pid); ps.setLong(2, bid); ps.setString(3, target); ps.executeUpdate() }
          finally ps.close()
        }
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    }
  }
}

/** Parquet-directory merge sink for tests and file-based deployments:
  * target state lives at `<root>/<db>/<tb>`; each batch rewrites the
  * table via key-set filter + union ([[Merge.applyBatch]]) and swaps it
  * in through [[graft.ext.Layout.swapDir]]: the new table is written to
  * `<root>/<db>/.apply-tmp-<tb>`, the live table is renamed aside to
  * `.apply-old-<tb>`, the new one renamed into place, the aside
  * deleted. Every merge first runs [[graft.ext.Layout.recoverSwapDir]]
  * on its target, so after a crash at any step the next merge sees the
  * table's full pre-batch or full post-batch state — never a missing
  * table — and replaying the batch converges to latest-per-key. The
  * swap dirs are per table, so concurrent merges of different tables
  * (CdcPipeline's `tableParallelism`) never share one.
  *
  * The target is read from the part files the merge has just listed,
  * with the schema of the first one's footer, read on the driver
  * through the session's Hadoop conf: what Spark's inference reads,
  * without the job it launches or a second listing. A batch whose
  * columns (bar the op column) differ from the target's fails the
  * merge before anything is written.
  *
  * File sizing: each rewrite writes `ceil(bytes / maxPartitionBytes)`
  * files ([[graft.ext.Layout.fileCount]]; `spark.sql.files.
  * maxPartitionBytes`, 128 MB by default), where `bytes` is the
  * target's listed part-file bytes plus the batch's key count times the
  * target's bytes per row in that footer. (A first write into a missing
  * target has no footer and takes the batch's plan-statistics size.)
  * The rewrite is coalesced to that count — no shuffle — so a table
  * never accretes small files and needs no compaction tick, while a
  * large table still writes (and reads) one task per
  * ~maxPartitionBytes.
  *
  * Key set: the target keeps the rows whose key is not among the
  * batch's keys. Given `keys` (the pipeline passes each table's keys
  * from its one key pass), no merge plan re-scans the batch for them;
  * without `keys` the merge collects `batch.select(keyCol)` first, as
  * for a direct call. A merge of an existing table is then one Spark
  * job, the write.
  *
  * At real scale the same semantics come from a transactional table
  * format; the plan shape (a narrow filter of the target) is the
  * scalable one for the CDC regime — batch ≪ target. Every key of the
  * batch is held on the driver, so driver memory bounds a batch's key
  * count: a bulk BACKFILL batch larger than that should go through
  * `Trigger.AvailableNow` rate limiting (many small batches) or a
  * plain-join rewrite, not one giant batch.
  */
final class ParquetMergeSink(rootDir: String) extends MergeSink {

  def targetPath(db: String, tb: String) = s"$rootDir/$db/$tb"

  def merge(db: String, tb: String, batch: DataFrame,
            keyCol: String, opCol: String, deleteMarker: String,
            keys: Option[Seq[Any]]): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(targetPath(db, tb))
    val fs = path.getFileSystem(conf)
    Layout.recoverSwapDir(fs, path)
    val parts =
      if (!fs.exists(path)) Array.empty[FileStatus]
      else fs.listStatus(path)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
    val (next, bytes) = parts.headOption match {
      case Some(first) =>
        // the no-conf open builds a fresh Configuration, which re-parses
        // the *-site.xml resources on every merge
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf),
          HadoopReadOptions.builder(conf).build())
        val footer = try reader.getFooter finally reader.close()
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
        val keyValues = keys.getOrElse(Merge.keysOf(batch, keyCol))
        val target = spark.read.schema(schema).parquet(parts.map(_.getPath.toString).toSeq: _*)
        (Merge.applyBatch(target, batch, keyCol, opCol, deleteMarker, Some(keyValues)),
          BigInt(parts.map(_.getLen).sum) +
            BigInt(keyValues.size) * (first.getLen / math.max(rows, 1L)))
      case None => (batch.filter(col(opCol) =!= deleteMarker).drop(opCol),
        batch.queryExecution.optimizedPlan.stats.sizeInBytes)
    }
    val files = Layout.fileCount(bytes, spark.sessionState.conf.filesMaxPartitionBytes)
    Layout.swapDir(fs, path)(tmp =>
      next.coalesce(files).write.mode(SaveMode.Overwrite).parquet(tmp.toString))
  }
}
