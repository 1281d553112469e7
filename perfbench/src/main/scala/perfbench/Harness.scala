package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import graft.core._
import graft.ledger.Ledger
import graft.orchestrate.{BatchRunner, ProcessFile}

/** The benchmark's JVM side. `run.py` writes a spec (workload, inputs,
  * passes of operations, config) and reads back the report this writes:
  *
  *   Harness <spec.json> <report.json>
  *
  * It builds the session the way `orchestrate.Main` does (Hive metastore
  * included) several times over fresh warehouse and metastore dirs, timing
  * each through `Ledger.ensureTables`; then it drives the program's entry
  * points (`ProcessFile.run`, `BatchRunner.run`, `SparkEntry.queries`) pass
  * by pass until the time budget is spent. Between operations, outside the
  * timed span, it snapshots the tables an operation wrote and its ledger
  * rows, which `run.py` checks against the generator's expectations. With
  * tracing on, a [[Trace]] listener attributes every Spark job to a module. */
object Harness {

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = json.readTree(new File(args(0)))
    val report = json.createObjectNode()
    val work = Paths.get(spec.get("work").asText)
    val cores = spec.get("cores").asInt
    val setups = spec.get("setups").asInt

    val setupTimes = report.putArray("setup_s")
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work.resolve(s"setup_$i"))
      Ledger.ensureTables(spark)
      setupTimes.add((System.nanoTime() - t0) / 1e9)
    }

    val trace =
      if (spec.get("trace").asBoolean) {
        val modules = moduleMap(Paths.get(spec.get("src").asText))
        val t = new Trace(modules.get)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None

    try {
      val config = engineConfig(spec.get("config"), spark)
      val runner = new Runner(spark, config, work, spec, trace)
      val opsOut = report.putArray("ops")
      spec.get("prepare").elements().asScala.foreach(op => opsOut.add(runner.run(op, timed = false)))
      val passes = spec.get("passes").elements().asScala.map(_.elements().asScala.toSeq).toSeq
      val deadline = System.nanoTime() + (spec.get("seconds").asDouble * 1e9).toLong
      val cycle = spec.get("cycle").asBoolean
      var p = 0
      while ((p == 0 || System.nanoTime() < deadline) && (cycle || p < passes.size)) {
        passes(p % passes.size).foreach(op => opsOut.add(runner.run(op, timed = true, pass = p)))
        p += 1
      }
      val oracle = report.putObject("oracle")
      if (spec.has("sf_dir")) {
        val sql = graft.SparkEntry.oracleSqlFor(spec.get("sf_dir").asText)
        passes.flatten.map(_.get("name").asText).distinct.foreach(n => oracle.put(n, sql(n)))
      }
    } finally spark.stop()
    json.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), report)
  }

  /** CPU time of every thread of this JVM so far. */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Session built with `orchestrate.Main`'s confs, shuffle partitions
    * set to the core count (as `SPARK_GRAFT_CPUS` does there). Warehouse,
    * metastore and Hive scratch all live under `dir`. */
  def session(cores: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${dir.resolve("metastore_db")};create=true")
      .config("spark.hadoop.hive.exec.scratchdir", dir.resolve("hive-scratch").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", dir.resolve("hive-local").toString)
      .config("spark.hadoop.hive.downloaded.resources.dir", dir.resolve("hive-res").toString)
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def engineConfig(c: JsonNode, spark: SparkSession): EngineConfig = {
    def tableLists(key: String): Map[String, Seq[String]] =
      c.get(key).fields().asScala.map(e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText).toSeq).toMap
    EngineConfig.default.copy(
      warehouseDir = spark.conf.get("spark.sql.warehouse.dir"),
      tableMode = TableMode.fromName(c.get("table_mode").asText),
      transactionMode = TransactionMode.fromName(c.get("transaction_mode").asText),
      maxRowErrors = c.get("max_row_errors").asInt,
      notNullColumns = tableLists("not_null"),
      tables = tableLists("pk").map { case (t, pk) => t -> TableOverride(None, pk, Map.empty) })
  }

  /** Source file name → module, from the program's source tree: a file
    * under `graft/<module>/` belongs to that module. */
  def moduleMap(srcRoot: Path): Map[String, String] = {
    val graft = srcRoot.resolve("graft")
    Files.walk(graft).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getParent != graft)
      .map(p => p.getFileName.toString -> graft.relativize(p).getName(0).toString)
      .toMap
  }

  private final class Runner(spark: SparkSession, config: EngineConfig, work: Path,
      spec: JsonNode, trace: Option[Trace]) {
    private var seq = 0
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    private def ledgerFiles(): Int =
      Seq(Ledger.JobStatsTable, Ledger.JobErrorTable, Ledger.BatchStatsTable).map { t =>
        dataFiles(tableDir(t)).size
      }.sum

    private def tableDir(t: String): Path = Paths.get(
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location)

    def run(op: JsonNode, timed: Boolean, pass: Int = -1): ObjectNode = {
      val k = seq; seq += 1
      val kind = op.get("kind").asText
      val out = json.createObjectNode()
      out.put("op", k).put("pass", pass).put("kind", kind)
      val land = work.resolve("land").resolve(s"op_$k")
      Files.createDirectories(land)
      // staging, outside the timed span
      val staged: Seq[Path] = kind match {
        case "file" => Seq(copyInto(Paths.get(op.get("src").asText), land))
        case "batch" =>
          op.get("reset").elements().asScala.foreach(t =>
            spark.sql(s"DROP TABLE IF EXISTS `${t.asText}`"))
          Files.list(Paths.get(op.get("src").asText)).iterator().asScala.toSeq.sorted
            .map(copyInto(_, land))
        case _ => Nil
      }
      val ledgerBefore = ledgerFiles()
      BenchBridge.drainListeners(spark.sparkContext)
      trace.foreach(_.take(0L, Long.MaxValue))
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val w0 = System.currentTimeMillis()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()

      val (tables, jobIds, batchId) = kind match {
        case "file" =>
          val job = ProcessFile.run(spark, staged.head.toString, config)
          (Seq(job.targetTable), Seq(job.jobRunId), None)
        case "batch" =>
          val b = BatchRunner.run(spark, land.toString, config)
          (b.jobs.map(_.targetTable).filter(_.nonEmpty).distinct, Nil, Some(b))
        case "query" =>
          val name = op.get("name").asText
          out.put("name", name)
          val df = graft.SparkEntry.queries(name)(spark, spec.get("sf_dir").asText)
          spark.sparkContext.setLocalProperty(Trace.LayerProperty, "query")
          try df.coalesce(1).write.mode("overwrite")
            .parquet(work.resolve("results").resolve(s"op_$k").toString)
          finally spark.sparkContext.setLocalProperty(Trace.LayerProperty, null)
          (Nil, Nil, None)
      }

      val wall = (System.nanoTime() - t0) / 1e9
      out.put("cpu_s", (cpuNanos() - c0) / 1e9)
      val w1 = System.currentTimeMillis()
      out.put("wall_s", wall).put("timed", timed)
      out.put("gc_s", (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3)
      out.put("heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      if (kind == "query")
        out.put("result", work.resolve("results").resolve(s"op_$k").toString)
      batchId.foreach(b => out.put("batch_status", b.status).put("batch_id", b.batchJobId))
      out.set[JsonNode]("input_files", json.valueToTree(staged.map(_.getFileName.toString).asJava))

      // ledger rows of this operation
      val ledger = out.putArray("ledger")
      if (kind != "query") {
        val stats = Ledger.jobStats(spark)
        val mine = batchId match {
          case Some(b) => stats.filter(col("BatchJobID") === b.batchJobId)
          case None => stats.filter(col("JobRunID").isin(jobIds: _*))
        }
        mine.collect().foreach { r =>
          ledger.addObject()
            .put("file", Paths.get(r.getAs[String]("SourceFile")).getFileName.toString)
            .put("table", r.getAs[String]("TargetTable"))
            .put("status", r.getAs[String]("JobStatus"))
            .put("read", r.getAs[Long]("RowsRead"))
            .put("inserted", r.getAs[Long]("RowsInserted"))
            .put("updated", r.getAs[Long]("RowsUpdated"))
            .put("failed", r.getAs[Long]("RowsFailed"))
        }
      }

      // table snapshots for the content check
      val snaps = out.putObject("tables")
      tables.foreach { t =>
        val loc = tableDir(t)
        val dst = work.resolve("snap").resolve(s"op_$k").resolve(t)
        copyTree(loc, dst)
        snaps.putObject(t).put("dir", dst.toString).put("bytes", dataBytes(dst))
      }
      out.put("ledger_files_before", ledgerBefore).put("ledger_files", ledgerFiles())

      trace.foreach { tr =>
        BenchBridge.drainListeners(spark.sparkContext)
        val byModule = tr.take(w0, w1)
        val tn = out.putObject("trace")
        tn.put("all_busy_s", Trace.unionMs(byModule.values.flatMap(_.spans).toSeq) / 1e3)
        byModule.foreach { case (m, a) =>
          tn.putObject(m)
            .put("busy_s", Trace.unionMs(a.spans.toSeq) / 1e3)
            .put("jobs", a.jobs).put("tasks", a.tasks)
            .put("exec_run_s", a.runMs / 1e3).put("wait_s", a.waitMs / 1e3)
            .put("bytes_read", a.bytesRead).put("shuffle_bytes", a.shuffleWrite)
            .put("records_written", a.recordsWritten).put("spill_bytes", a.spill)
            .put("task_failures", a.failures)
        }
      }
      out
    }
  }

  private def copyInto(src: Path, dir: Path): Path =
    Files.copy(src, dir.resolve(src.getFileName), StandardCopyOption.REPLACE_EXISTING)

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Data files of a table dir: hidden and marker files excluded. */
  private def dataFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq

  private def dataBytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum
}
