package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** The benchmark's own view of Spark's work, registered only for traced
  * passes. Every job, stage and task is attributed to the span that
  * launched it through the `perfbench.span` local property the harness
  * sets around each phase ("<query span>/<phase>").
  *
  * Two reads are kept apart that Spark's task `inputMetrics` mixes:
  * rows produced by file scans (`io.scan_rows`, from the scan nodes' own
  * "number of output rows" metric) and bytes read back from materialized
  * RDD blocks (`storage.read_mb`: the input bytes of tasks that ran no
  * file scan). */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageTasks = mutable.Map[(String, Int), mutable.ArrayBuffer[Long]]()
  private val scanRowAccs = mutable.Set[Long]()
  private val perSpan = mutable.Map[String, Counters]()
  private val liveBlocks = mutable.Map[String, Long]()
  private var liveBytes = 0L
  private var peakBytes = 0L
  private var blocksPut = 0L

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
  private def counters(span: String) = perSpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, spanOf(e.properties), e.time)
    jobs += j; jobById(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageInfo.stageId, "")
    counters(span).stages += 1
    // skew: slowest over median task run time, stages with >= cores tasks
    stageTasks.remove((span, e.stageInfo.stageId)).foreach { ts =>
      if (ts.size >= math.max(2, cores)) {
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        val c = counters(span)
        c.skew = c.skew.max(s.last.toDouble / med)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, "")
    val c = counters(span)
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      stageTasks.getOrElseUpdate((span, e.stageId), mutable.ArrayBuffer()) +=
        m.executorRunTime
      val scanned = e.taskInfo.accumulables.iterator
        .filter(a => scanRowAccs.contains(a.id))
        .flatMap(_.update).map(_.toString.toLong).sum
      c.scanRows += scanned
      if (scanned == 0) c.blockRead += m.inputMetrics.bytesRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case id: RDDBlockId =>
        val key = id.name
        liveBlocks.remove(key).foreach(liveBytes -= _)
        if (b.storageLevel.isValid) {
          val size = b.memSize + b.diskSize
          liveBlocks(key) = size; liveBytes += size; blocksPut += 1
          peakBytes = peakBytes.max(liveBytes)
        }
      case _ =>
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => addScans(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addScans(u.sparkPlanInfo)
    case _ =>
  }
  private def addScans(p: SparkPlanInfo): Unit = synchronized {
    if (p.metadata.contains("Location"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(scanRowAccs += _.accumulatorId)
    p.children.foreach(addScans)
  }

  @volatile var cores: Int = 1

  /** Everything recorded since the last call, then forgotten (except the
    * blocks still resident, whose bytes carry into the next window). */
  def take(): Window = synchronized {
    val w = Window(jobs.toList, perSpan.toMap, blocksPut, peakBytes)
    jobs.clear(); jobById.clear(); perSpan.clear(); stageTasks.clear()
    blocksPut = 0; peakBytes = liveBytes
    w
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, span: String, start: Long) {
    var end: Long = start
  }

  final class Counters {
    var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var scanRows = 0L; var blockRead = 0L
    var skew = 0.0
    def +=(o: Counters): Unit = {
      stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      runMs += o.runMs; cpuNs += o.cpuNs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; scanRows += o.scanRows; blockRead += o.blockRead
      skew = skew.max(o.skew)
    }
  }

  final case class Window(jobs: List[JobRec], perSpan: Map[String, Counters],
                          blocksPut: Long, peakBlockBytes: Long) {
    /** Counters of every span under `prefix` (a query span or a pass). */
    def under(prefix: String): Counters = {
      val c = new Counters
      perSpan.foreach { case (k, v) => if (k.startsWith(prefix)) c += v }
      c
    }
    def jobsUnder(prefix: String): List[JobRec] = jobs.filter(_.span.startsWith(prefix))
  }

  /** Wall time covered by at least one of the jobs (ms). */
  def busyMs(js: Seq[JobRec]): Long = {
    var covered = 0L; var curS = -1L; var curE = -1L
    js.map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}
