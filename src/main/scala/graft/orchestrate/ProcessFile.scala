package graft.orchestrate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ingest.{Detect, Reader}
import graft.analyze.{Analyze, Ddl}
import graft.load.Loader
import graft.ledger.Ledger

/** The single-file job (reference `process_file`
  * src/file-to-sql-loader.py:1386-1500): detect → read → profile → infer →
  * table-mode handling → load → stats → lifecycle move. Every data-touching
  * step is a distributed DataFrame op; only sniffing, DDL and ledger writes
  * run on the driver. */
object ProcessFile {

  final case class FileJob(
      jobRunId: String,
      sourceFile: String,
      targetTable: String,
      result: LoadResult,
      ddl: String)

  /** @param moveOnFailure quarantine the file to error/ on failure; the
    *        batch runner passes false for non-final retry attempts so the
    *        source file is still in place for the next attempt.
    * @param sink where loaded tables land — the session catalog by
    *        default, or a [[graft.load.JdbcSink]] for the reference's
    *        SQL-Server target. */
  def run(spark: SparkSession, filePath: String, config: EngineConfig,
      batchJobId: Option[String] = None, moveOnFailure: Boolean = true,
      sink: graft.load.TableSink = graft.load.CatalogSink): FileJob = {
    val jobRunId = java.util.UUID.randomUUID().toString
    val start = new java.sql.Timestamp(System.currentTimeMillis())
    val fmt = Detect.detect(spark, filePath)
    val raw = Reader.read(spark, filePath, fmt)

    val stem = Ddl.tableName(filePath)
    val overrides = config.overridesFor(stem)
    val table = overrides.overrideTableName.getOrElse(stem)

    // A6: empty input — upsert ⇒ success no-op, others ⇒ fail (:1420-1432)
    if (raw.isEmpty || raw.columns.isEmpty) {
      val (status, err) =
        if (config.tableMode == TableMode.Upsert) ("Completed", None)
        else ("Failed", Some("empty input file"))
      val result = LoadResult(status, 0, 0, 0, 0, err)
      finish(spark, filePath, jobRunId, table, start, result, config, batchJobId, None,
        moveOnFailure)
      return FileJob(jobRunId, filePath, table, result, "")
    }

    val samples = Analyze.sampleValues(raw)
    val profiles = Analyze.profile(raw, samples)
    val notNull = config.notNullColumns.getOrElse(table, Nil)
    val inferred = Analyze.inferSchema(profiles, overrides, notNull)
    val types = inferred.map { case (p, t, _) => (p.name, t) }
    val ddl = Ddl.render(table, inferred.map { case (p, t, n) => (p.name, t, n) })

    // ONE cast-and-split feeds both the load and the error log. Lazy so
    // that it is first built inside the try below, after prepareTable:
    // zipWithIndex runs a job on multi-partition reads, and a failure there
    // is a load failure like any other.
    lazy val (good, bad) = Loader.split(
      Analyze.castPlan(Reader.withRowIndex(raw),
        types :+ ("_row_idx" -> InferredType.BigIntType)),
      notNull)

    val result =
      try {
        Loader.prepareTable(spark, table, config.tableMode, sink)
        val strict = config.transactionMode == TransactionMode.Strict
        config.tableMode match {
          case TableMode.Upsert =>
            Loader.loadUpsert(spark, good, bad, table,
              pk = config.primaryKeyFor(table), ordinalCol = "_row_idx",
              strict = strict, maxRowErrors = config.maxRowErrors, sink = sink)
          case m =>
            val goodOut = good.drop("_row_idx")
            if (strict) Loader.loadStrict(spark, goodOut, bad, table, m, sink)
            else Loader.loadTolerant(spark, goodOut, bad, table, m, config.maxRowErrors, sink)
        }
      } catch {
        case e: Exception =>
          LoadResult("Failed", -1, 0, 0, -1, Some(e.getMessage))
      }

    finish(spark, filePath, jobRunId, table, start, result, config, batchJobId,
      if (result.rowsErrored > 0) Some(bad) else None, moveOnFailure)
    FileJob(jobRunId, filePath, table, result, ddl)
  }

  private def finish(spark: SparkSession, filePath: String, jobRunId: String,
      table: String, start: java.sql.Timestamp, result: LoadResult,
      config: EngineConfig, batchJobId: Option[String],
      badRows: Option[DataFrame], moveOnFailure: Boolean = true): Unit = {
    val end = new java.sql.Timestamp(System.currentTimeMillis())

    if (config.jobStatisticsEnabled)
      Ledger.writeJobStats(spark, JobStats(
        JobRunID = jobRunId, JobStartTime = start, JobEndTime = end,
        JobDurationSeconds = (end.getTime - start.getTime) / 1000,
        JobStatus = result.status, SourceFile = filePath, TargetTable = table,
        RowsRead = result.rowsRead, RowsInserted = result.rowsInserted,
        RowsUpdated = result.rowsUpdated, RowsFailed = result.rowsErrored,
        ErrorMessage = result.errorMessage, BatchJobID = batchJobId,
        TableMode = config.tableMode.name, TransactionMode = config.transactionMode.name))

    if (config.errorLoggingEnabled) badRows.foreach { bad =>
      val errs = bad.select(
        expr("uuid()").as("ErrorID"),
        lit(jobRunId).as("JobRunID"),
        lit(table).as("TableName"),
        lit("").as("ColumnName"),
        lit("constraint_violation").as("ErrorType"),
        lit("NOT NULL constraint violated").as("ErrorMessage"),
        current_timestamp().as("ErrorTimestamp"),
        lit(filePath).as("SourceFile"),
        col("_row_idx").as("RowNumber"),
        to_json(struct(bad.columns.filterNot(_ == "_row_idx").map(col).toSeq: _*))
          .as("RawValue"))
      Ledger.writeErrors(spark, errs)
      // row-level quarantine dump (reference logs/<stem>_<jobrun>.txt :1049-1058)
      moveTargetDir(spark, filePath, "logs").foreach { logs =>
        bad.write.mode("overwrite").json(s"$logs/${Ddl.tableName(filePath)}_$jobRunId")
      }
    }

    // J5: per-file log artifact — the greppable processing trace the
    // reference writes via setup_file_specific_logging
    // (src/file-to-sql-loader.py:69-101: process_<stem>_<id>.log in the
    // logs dir next to the source). Driver-side, tiny, best-effort.
    writeFileLog(spark, filePath, jobRunId, table, start, end, result, batchJobId)

    // I10: file lifecycle — success ⇒ processed/, failure ⇒ error/
    // (skipped for non-final retry attempts)
    if (result.status != "Failed") moveFile(spark, filePath, "processed")
    else if (moveOnFailure) moveFile(spark, filePath, "error")
  }

  private def writeFileLog(spark: SparkSession, filePath: String, jobRunId: String,
      table: String, start: java.sql.Timestamp, end: java.sql.Timestamp,
      result: LoadResult, batchJobId: Option[String]): Unit =
    try {
      moveTargetDir(spark, filePath, "logs").foreach { logs =>
        val stem = Ddl.tableName(filePath)
        val dir = new Path(logs)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) fs.mkdirs(dir)
        val lines = Seq(
          s"$start INFO job_run_id=$jobRunId",
          s"$start INFO source_file=$filePath",
          s"$start INFO target_table=$table" +
            batchJobId.map(b => s" batch_job_id=$b").getOrElse(""),
          s"$end ${if (result.status == "Failed") "ERROR" else "INFO"} " +
            s"status=${result.status} rows_read=${result.rowsRead} " +
            s"rows_inserted=${result.rowsInserted} rows_updated=${result.rowsUpdated} " +
            s"rows_failed=${result.rowsErrored}" +
            result.errorMessage.map(m => s" error=$m").getOrElse(""),
          s"$end INFO duration_seconds=${(end.getTime - start.getTime) / 1000}")
        val out = fs.create(new Path(dir, s"process_${stem}_$jobRunId.log"), true)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
    } catch {
      // the per-file log must never fail the job, but its loss is reported
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"per-file log not written for job_run_id=$jobRunId file=$filePath", e)
    }

  private def moveTargetDir(spark: SparkSession, filePath: String, sub: String)
      : Option[String] = {
    val p = new Path(filePath)
    Option(p.getParent).map(parent => new Path(parent, sub).toString)
  }

  private def moveFile(spark: SparkSession, filePath: String, sub: String): Unit = {
    val p = new Path(filePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(p.getParent).foreach { parent =>
      val dir = new Path(parent, sub)
      if (!fs.exists(dir)) fs.mkdirs(dir)
      fs.rename(p, new Path(dir, p.getName))
    }
  }
}
