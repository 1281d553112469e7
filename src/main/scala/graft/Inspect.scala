package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The measurement tool over the registered `SparkEntry` queries, and
  * the one local-session builder that `Bench`, `Verify`, `StressGen`
  * and `ScaleStress` share. The subcommands are tools, outside the
  * `SparkEntry` contract.
  *
  * Usage: runMain graft.Inspect <subcommand> ...
  *  - `profile <sfDir> <reps> <qname>...`: per-stage profile — where do
  *    the seconds go, which stage, how many tasks, how many shuffle
  *    bytes. Each query: one warmup at sf0.001, then `reps` timed runs at
  *    sfDir with the SQL cache cleared between runs (the Bench
  *    methodology); stage rows printed for the LAST run only.
  *  - `plans <sfDir> <outDir> <suffix> [qname...]`: writes
  *    `.explain("formatted")` output per query to
  *    `outDir/<q>_<suffix>.txt` (no qnames = all) — the optimization
  *    evidence trail under `plans/`. Memo-backed queries may run small
  *    measurement jobs during construction; the plan itself is not
  *    executed.
  *  - `joins [sfDir]`: one line per registered query with its join
  *    strategies and exchange count — catches accidental cartesians and
  *    redundant shuffles across the whole contract surface.
  *  - `curve <base> <reps> <qname>...`: scaling curve over whichever of
  *    `base/x1`, `x3`, `x10`, `x100` exist (`StressGen` writes them):
  *    median-of-reps wall time per scale, the least-squares exponent of
  *    t ∝ n^e per query, and the worst exponent. One scale present =
  *    times only. A query that fails is reported and skipped, so a stale
  *    corpus costs one query, not the run. */
object Inspect {

  /** Warmup corpus: JIT + codegen compile land here, not on the first
    * timed query. */
  val WarmDir = "/root/testdata/sf0.001"

  /** The local session every tool and benchmark main runs on:
    * `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, AQE on, UTC, no UI, WARN logging. `orchestrate.Main`
    * (Hive, warehouse dir) and `PipelineMain` (`SPARK_MASTER`) build
    * their own. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = args.toList match {
    case "profile" :: sf :: reps :: names if names.nonEmpty =>
      run(profile(_, sf, reps.toInt, names))
    case "plans" :: sf :: out :: suffix :: names =>
      run(plans(_, sf, out, suffix,
        if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted))
    case "joins" :: rest if rest.size <= 1 =>
      run(joins(_, rest.headOption.getOrElse(WarmDir)))
    case "curve" :: base :: reps :: names if names.nonEmpty =>
      run(curve(_, base, reps.toInt, names))
    case _ =>
      System.err.println(
        """usage: graft.Inspect profile <sfDir> <reps> <qname>...
          |       graft.Inspect plans <sfDir> <outDir> <suffix> [qname...]
          |       graft.Inspect joins [sfDir]
          |       graft.Inspect curve <base> <reps> <qname>...""".stripMargin)
      sys.exit(1)
  }

  private def run(body: SparkSession => Unit): Unit = {
    val spark = session()
    try body(spark) finally spark.stop()
  }

  /** Looks each name up in the registry; unknown names are reported
    * under `tag` and dropped. */
  private def lookup(tag: String, names: Seq[String]): Seq[(String, Query)] = {
    val qs = SparkEntry.queries
    names.flatMap { n =>
      val fn = qs.get(n)
      if (fn.isEmpty) println(s"$tag unknown query $n")
      fn.map(n -> _)
    }
  }

  /** One warmup at [[WarmDir]]; a failure here is not the measurement's
    * business (the timed runs report their own). */
  private def warm(spark: SparkSession, fn: Query): Unit = {
    try fn(spark, WarmDir).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()
  }

  /** One cold-cache run: wall seconds and result row count. */
  private def timedRun(spark: SparkSession, fn: Query, dir: String): (Double, Long) = {
    val t0 = System.nanoTime()
    try {
      val rows = fn(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    } finally spark.catalog.clearCache()
  }

  def profile(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    case class St(id: Int, name: String, ms: Long, tasks: Int,
                  shRead: Long, shWrite: Long, input: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
          stages.add(St(si.stageId, si.name.takeWhile(_ != '\n').take(90), ms,
            si.numTasks, si.taskMetrics.shuffleReadMetrics.totalBytesRead,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.taskMetrics.inputMetrics.bytesRead))
        }
    })
    lookup("PROFILE", names).foreach { case (name, fn) =>
      warm(spark, fn)
      (1 to reps).foreach { i =>
        val timed = i == reps
        if (timed) { stages.clear(); record = true }
        val (sec, _) = try timedRun(spark, fn, sfDir) finally if (timed) record = false
        println(f"PROFILE $name rep$i $sec%.3f s")
      }
      val rows = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"PROFILE $name stages=${rows.size} stageMsSum=${rows.map(_.ms).sum}")
      rows.take(25).foreach { s =>
        println(f"  stage ${s.id}%5d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
          f"shR=${s.shRead / 1024}%8dK shW=${s.shWrite / 1024}%8dK in=${s.input / 1024}%8dK  ${s.name}")
      }
    }
  }

  def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    lookup("PLANS", names).foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(outDir, s"${name}_$suffix.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.write(txt) finally w.close()
        println(s"PLANS wrote $f (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          println(s"PLANS $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  def joins(spark: SparkSession, dir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        def n(s: String) = s.r.findAllIn(p).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(k => k -> n(k)).filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(",")
        println(s"JOINS $name exch=${n("Exchange hashpartitioning")}+${n("Exchange rangepartitioning")}r " +
          s"joins=[$joins] agg=${n("HashAggregate")} sort=${n("Sort ")}")
      } catch { case e: Throwable => println(s"JOINS $name ERROR ${e.getMessage}") }
    }

  def curve(spark: SparkSession, base: String, reps: Int, names: Seq[String]): Unit = {
    val scales = Seq(1, 3, 10, 100).filter(n => new java.io.File(s"$base/x$n").isDirectory)
    require(scales.nonEmpty,
      s"no x1/x3/x10/x100 corpora under $base — a mistyped base must fail " +
        "loudly, not record an empty green run")
    println(s"CURVE scales=${scales.mkString(",")}")
    val qs = lookup("CURVE", names)
    qs.foreach { case (_, fn) => warm(spark, fn) }
    val exponents = qs.flatMap { case (name, fn) =>
      try {
        val pts = scales.map { n =>
          val runs = (1 to reps).map(_ => timedRun(spark, fn, s"$base/x$n"))
          val sec = runs.map(_._1).sorted.apply(reps / 2)
          println(f"CURVE $name x$n%-3d $sec%.2fs rows=${runs.head._2}")
          (math.log(n.toDouble), math.log(sec))
        }
        if (pts.size < 2) None
        else {
          // least-squares slope of ln t vs ln n
          val xm = pts.map(_._1).sum / pts.size; val ym = pts.map(_._2).sum / pts.size
          val e = pts.map { case (x, y) => (x - xm) * (y - ym) }.sum /
            pts.map { case (x, _) => (x - xm) * (x - xm) }.sum
          println(f"CURVE $name exponent=$e%.2f")
          Some(name -> e)
        }
      } catch {
        // NonFatal only: after an OOM/VM error the timings are meaningless
        case NonFatal(e) =>
          val msg = Option(e.getMessage).iterator
            .flatMap(_.linesIterator).find(_.nonEmpty).getOrElse(e.toString)
          println(s"CURVE $name FAILED ${e.getClass.getSimpleName}: $msg " +
            "(stale corpus? regenerate with StressGen)")
          None
      }
    }
    if (exponents.nonEmpty) {
      val (worst, e) = exponents.maxBy(_._2)
      println(f"CURVE worst $worst exponent=$e%.2f")
    }
  }
}
