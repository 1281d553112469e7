package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job trace recorded from outside the program: a listener the harness
  * registers on the session, with no hook inside the loader.
  *
  * Each Spark job is keyed to the call site of the SQL execution that
  * issued it (`spark.sql.execution.id` → the execution's description, e.g.
  * `head at Analyze.scala:83`). Stage names alone would not do: jobs that
  * AQE and broadcast exchanges submit from other threads are named after
  * `CompletableFuture.java`, but they carry their execution's id. Jobs
  * outside any SQL execution (RDD actions) fall back to their final
  * stage's call site. The call site's source file maps to the program
  * module that holds it. A query's lazy plan runs from the harness's own
  * call site; those jobs take the layer the harness names in
  * [[Trace.LayerProperty]]. Anything else is "unattributed". */
final class Trace(moduleOfFile: String => Option[String]) extends SparkListener {

  final class Acc {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var waitMs = 0L
    var bytesRead = 0L
    var shuffleWrite = 0L
    var recordsWritten = 0L
    var spill = 0L
    var failures = 0
    val spans = mutable.ArrayBuffer[(Long, Long)]()
  }

  private final class Job(val module: String, val start: Long) { var end = -1L }
  private final class Stage(val job: Int) {
    var submitted = -1L
    var firstLaunch = Long.MaxValue
  }

  private val execModule = mutable.Map[Long, String]()
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val accs = mutable.Map[Int, Acc]() // per job

  private val SiteFile = """\(?([A-Za-z0-9_$]+\.(?:scala|java))[:)]""".r

  /** First call-site frame whose file belongs to a program module. */
  def moduleOfSite(site: String): String =
    SiteFile.findAllMatchIn(site).flatMap(m => moduleOfFile(m.group(1))).nextOption()
      .getOrElse("unattributed")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val short = moduleOfSite(s.description)
      execModule(s.executionId) =
        if (short != "unattributed") short else moduleOfSite(s.details)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = exec.flatMap(execModule.get).getOrElse {
      val last = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      moduleOfSite(last)
    }
    val module =
      if (site != "unattributed") site
      else Option(j.properties).flatMap(p => Option(p.getProperty(Trace.LayerProperty)))
        .getOrElse(site)
    jobs(j.jobId) = new Job(module, j.time)
    accs(j.jobId) = new Acc
    j.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(s.stageInfo.stageId).foreach { st =>
      if (st.submitted < 0) st.submitted = s.stageInfo.submissionTime.getOrElse(-1L)
    }
  }

  override def onTaskStart(t: SparkListenerTaskStart): Unit = synchronized {
    stages.get(t.stageId).foreach { st =>
      st.firstLaunch = math.min(st.firstLaunch, t.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(t.stageId).flatMap(st => accs.get(st.job)).foreach { a =>
      a.tasks += 1
      if (t.reason != Success) a.failures += 1
      Option(t.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.recordsWritten += m.outputMetrics.recordsWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Per-module totals of the jobs that started in [t0, t1], then forget
    * them. Call after the listener bus has drained. */
  def take(t0: Long, t1: Long): Map[String, Acc] = synchronized {
    val out = mutable.Map[String, Acc]()
    stages.foreach { case (_, st) =>
      accs.get(st.job).foreach { a =>
        if (st.submitted >= 0 && st.firstLaunch != Long.MaxValue)
          a.waitMs += st.firstLaunch - st.submitted
      }
    }
    jobs.foreach { case (id, j) =>
      if (j.start >= t0 && j.start <= t1) {
        val a = accs(id)
        val o = out.getOrElseUpdate(j.module, new Acc)
        o.jobs += 1
        o.tasks += a.tasks; o.runMs += a.runMs; o.waitMs += a.waitMs
        o.bytesRead += a.bytesRead; o.shuffleWrite += a.shuffleWrite
        o.recordsWritten += a.recordsWritten; o.spill += a.spill
        o.failures += a.failures
        o.spans += ((j.start, if (j.end >= 0) j.end else t1))
      }
    }
    jobs.clear(); stages.clear(); accs.clear(); execModule.clear()
    out.toMap
  }
}

object Trace {
  /** Local property naming the layer of jobs the harness itself issues on
    * the program's behalf (materialising a query's lazy plan). */
  val LayerProperty = "perfbench.layer"

  /** Wall time covered by at least one span, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
