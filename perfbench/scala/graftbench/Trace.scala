package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One call the benchmark makes into the engine, timed on the driver. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest (a round inside a crawl pass); with
  * `tagJobs` on, each span also becomes the Spark job group of the calling
  * thread, so the listener can attribute every job to the innermost span.
  * Threads created inside a span (CrawlRound's write pool) inherit the group.
  */
final class Spans(sc: SparkContext, val runId: String) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var tagJobs = false

  def group(s: Span): String = s"$runId/${s.id}"

  def apply[T](name: String)(body: => T): T = timed(name)(body)._1

  def timed[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    all += s
    stack = s :: stack
    // no job description: SQL executions then keep their action's call site
    if (tagJobs) sc.setJobGroup(group(s), null, interruptOnCancel = false)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (tagJobs) stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), null, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum
  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  def toJson: String = all.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "self_s" -> selfS(s))
  }.mkString("[\n", ",\n", "\n]")
}

/** Totals of the Spark work attributed to a set of job groups. */
final case class Work(jobs: Int, tasks: Long, cpuS: Double,
                      gcS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                      spillBytes: Long, outputRecords: Long,
                      maxTaskShuffleRecords: Long, singleTaskStages: Int,
                      longestStageSkew: Double, busyS: Double)

/** Listener that totals task metrics per job group (= per span). */
final class LayerListener extends SparkListener {

  final class StageAgg {
    var group: String = null
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var outRecords = 0L; var maxTaskRecords = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var submitMs = 0L; var doneMs = 0L
  }
  final case class JobRec(id: Int, group: String, site: String, startMs: Long, var endMs: Long)

  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  // SQL execution id -> short call site of the action that started it; jobs
  // that AQE submits from its own threads carry the execution id, not the
  // action's call site
  private val execSite = mutable.HashMap.empty[Long, String]
  private val stageAggs = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.rootExecutionId.flatMap(execSite.get).getOrElse(s.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    // otherwise the result stage carries the job's short call site
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobRecs(e.jobId) = JobRec(e.jobId, groupOf(e.properties), site, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stageAggs.getOrElseUpdate((e.stageInfo.stageId, e.stageInfo.attemptNumber()), new StageAgg)
    a.group = groupOf(e.properties)
    a.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageAggs.get((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      .foreach(_.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.outRecords += m.outputMetrics.recordsWritten
      a.maxTaskRecords = math.max(a.maxTaskRecords, m.shuffleReadMetrics.recordsRead)
    }
  }

  def jobs: Seq[JobRec] = synchronized(jobRecs.values.toSeq)

  /** Jobs whose group is not one of `known` (no group, or a foreign one). */
  def unattributed(known: Set[String]): Seq[JobRec] = jobs.filterNot(j => known.contains(j.group))

  def work(groups: Set[String]): Work = synchronized {
    val ss = stageAggs.values.filter(a => groups.contains(a.group)).toSeq
    val js = jobRecs.values.filter(j => groups.contains(j.group)).toSeq
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(a => a.doneMs - a.submitMs))
    val skew = longest.filter(_.taskMs.nonEmpty).map { a =>
      val med = Stats.median(a.taskMs.map(_.toDouble).toSeq)
      if (med > 0) a.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    Work(
      jobs = js.size, tasks = ss.map(_.tasks).sum, cpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1e3,
      shuffleReadBytes = ss.map(_.shuffleRead).sum, shuffleWriteBytes = ss.map(_.shuffleWrite).sum,
      spillBytes = ss.map(_.spill).sum, outputRecords = ss.map(_.outRecords).sum,
      maxTaskShuffleRecords = if (ss.isEmpty) 0L else ss.map(_.maxTaskRecords).max,
      singleTaskStages = ss.count(_.tasks == 1), longestStageSkew = skew,
      busyS = Stats.unionS(js.map(j => (j.startMs, j.endMs))))
  }
}

object Trace {
  /** "count at CrawlRound.scala:173" -> "count-CrawlRound" (line dropped,
    * characters kept to what metric names allow).
    */
  def siteKey(site: String): String = {
    val parts = site.split(" at ", 2)
    val action = parts(0).trim
    val file = if (parts.length > 1) parts(1).split(':')(0).stripSuffix(".scala").trim else "?"
    s"$action-$file".replaceAll("[^A-Za-z0-9_.-]", "_")
  }
}
