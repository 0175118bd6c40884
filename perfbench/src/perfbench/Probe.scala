package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-metric totals of one job group. */
final class Counters {
  var jobs, stages, tasks, tasksFailed = 0L
  var shReadBytes, shReadRecords, shWriteBytes, shWriteRecords = 0L
  var scanRows, spillBytes, gcMs, cpuNs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    shReadBytes += o.shReadBytes; shReadRecords += o.shReadRecords
    shWriteBytes += o.shWriteBytes; shWriteRecords += o.shWriteRecords
    scanRows += o.scanRows; spillBytes += o.spillBytes; gcMs += o.gcMs; cpuNs += o.cpuNs
  }

  /** counters that must repeat exactly on equal inputs */
  def exact: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "tasks_failed" -> tasksFailed, "shuffle_write_records" -> shWriteRecords,
    "shuffle_read_records" -> shReadRecords, "scan_rows" -> scanRows)

  def all: Seq[(String, Double)] = exact.map { case (k, v) => k -> v.toDouble } ++ Seq(
    "shuffle_write_bytes" -> shWriteBytes.toDouble, "shuffle_read_bytes" -> shReadBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "gc_ms" -> gcMs.toDouble,
    "executor_cpu_s" -> cpuNs / 1e9)
}

/** Spark-side counters and spans, measured from outside the engine: every
  * job an op starts carries the op's job group (`<op>#plan` or
  * `<op>#exec`), and this listener files jobs, stages and task metrics
  * under that group. Attached only in traced passes.
  */
final class Probe extends SparkListener {

  /** closed interval in epoch milliseconds */
  final case class Span(id: Int, group: String, start: Long, var end: Long)

  private val counters = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, (String, Int)]() // stage -> (group, job)
  private val jobSpans = mutable.LinkedHashMap[Int, Span]()
  private val stageSpans = mutable.ArrayBuffer[(Span, Int)]() // (stage span, job id)

  private def of(group: String): Counters = counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    jobSpans(e.jobId) = Span(e.jobId, g, e.time, e.time)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = (g, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val (g, job) = stageGroup.getOrElse(si.stageId, ("", -1))
    of(g).stages += 1
    for (a <- si.submissionTime; b <- si.completionTime)
      stageSpans += ((Span(si.stageId, g, a, b), job))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.get(e.stageId).map(_._1).getOrElse(""))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shReadRecords += m.shuffleReadMetrics.recordsRead
      c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.scanRows += m.inputMetrics.recordsRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.cpuNs += m.executorCpuTime
    }
  }

  def countersOf(groups: Seq[String]): Counters = synchronized {
    val c = new Counters
    groups.foreach(g => counters.get(g).foreach(c.add))
    c
  }

  def jobsOf(group: String): Seq[Span] = synchronized { jobSpans.values.filter(_.group == group).toSeq }

  def stagesOfJob(job: Int): Seq[Span] = synchronized { stageSpans.collect { case (s, j) if j == job => s }.toSeq }
}

object Probe {

  /** total length of the union of `spans` clipped to [from, to] */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
