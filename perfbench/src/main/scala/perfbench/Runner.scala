package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Harness.{Phases, Step, Workload}
import Runner.StepRec

/** Runs a workload's passes: the check pass, then the timed closed loop. */
final class Runner(spark: SparkSession, w: Workload, cores: Int) {
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  tracer.cores = cores
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val MB = 1024.0 * 1024.0

  /** Spans and ledger rows of the traced passes, written at run end. */
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  val ledger = mutable.ArrayBuffer[Map[String, Any]]()

  private def runStep(step: Step, span: String): StepRec = {
    val ph = new Phases(spark, span)
    val c0 = os.getProcessCpuTime; val g0 = gcMs; val w0 = System.currentTimeMillis()
    val ok =
      try { step.run(ph); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${step.name} failed: $e"); false
      }
    val rec = StepRec(step.name, span, ok, ph.times.toMap,
      (os.getProcessCpuTime - c0) / 1e9, (gcMs - g0) / 1e3, w0,
      System.currentTimeMillis(), ph.spans.toSeq)
    Runner.cleanup(spark)
    rec
  }

  /** One pass over the workload's steps. Wall, CPU and GC count only the
    * steps themselves, never the cleanup between them. */
  private def pass(idx: Int, traced: Boolean): Map[String, Any] = {
    if (traced) { Tracer.drain(sc); sc.addSparkListener(tracer); tracer.take() }
    val recs = w.steps(idx).zipWithIndex.map { case (s, i) =>
      runStep(s, f"p$idx%02d.s$i%02d")
    }
    val (outBytes, outFiles) = w.afterPass(idx)
    val ok = recs.filter(_.ok)
    val wall = ok.map(_.latency).sum
    val base = Map[String, Any](
      "traced" -> traced, "wall_s" -> wall, "cpu_s" -> ok.map(_.cpuS).sum,
      "latencies" -> ok.map(_.latency), "attempted" -> recs.size,
      "failed" -> recs.count(!_.ok))
    if (!traced) base
    else {
      Tracer.drain(sc); sc.removeSparkListener(tracer)
      val win = tracer.take()
      record(idx, recs, win)
      val c = win.under("")
      val busy = Tracer.busyMs(win.jobs) / 1e3
      val construct = recs.map(_.phase("construct")).sum
      val byStep = ok.map(r => r.name -> r.latency).toMap
      val writers = Seq("io.write_partitioned", "io.write_parquet",
        "quality.check", "ops.lsh_build", "ops.lsh_append", "ops.lsh_verdicts",
        "ops.ivfpq_build", "ops.ivfpq_append")
        .map(n => s"${n}_s" -> byStep.getOrElse(n, 0.0))
      base + ("layers" -> (Map[String, Any](
        "entry.construct_s" -> construct,
        "entry.construct_jobs" -> win.jobs.count(_.span.endsWith("/construct")),
        "entry.construct_share" -> (if (wall > 0) construct / wall else 0.0),
        "catalyst.plan_s" -> recs.map(_.phase("plan")).sum,
        "spark.jobs" -> win.jobs.size, "spark.stages" -> c.stages,
        "spark.tasks" -> c.tasks, "spark.busy_s" -> busy,
        "spark.idle_s" -> (wall - busy).max(0.0),
        "spark.task_run_s" -> c.runMs / 1e3, "spark.task_cpu_s" -> c.cpuNs / 1e9,
        "spark.parallelism" -> (if (busy > 0) c.runMs / 1e3 / busy else 0.0),
        "spark.failed_tasks" -> c.failedTasks,
        "shuffle.write_mb" -> c.shuffleWrite / MB, "shuffle.read_mb" -> c.shuffleRead / MB,
        "shuffle.spill_mb" -> c.spill / MB, "shuffle.skew" -> c.skew,
        "storage.blocks" -> win.blocksPut,
        "storage.block_mb_peak" -> win.peakBlockBytes / MB,
        "storage.read_mb" -> c.blockRead / MB,
        "io.scan_rows" -> c.scanRows, "io.output_mb" -> outBytes / MB,
        "io.output_files" -> outFiles,
        "jvm.gc_s" -> ok.map(_.gcS).sum) ++ writers))
    }
  }

  /** Spans (query → phase → job, one id per query) and ledger rows. */
  private def record(idx: Int, recs: Seq[StepRec], win: Tracer.Window): Unit = {
    recs.foreach { r =>
      spans += Map("id" -> r.span, "parent" -> None, "kind" -> "query",
        "name" -> r.name, "start_ms" -> r.startMs, "end_ms" -> r.endMs)
      r.phaseSpans.foreach { case (p, s, e) =>
        spans += Map("id" -> s"${r.span}/$p", "parent" -> r.span, "query" -> r.span,
          "kind" -> "phase", "name" -> p, "start_ms" -> s, "end_ms" -> e)
      }
      val js = win.jobsUnder(r.span + "/")
      js.foreach { j =>
        spans += Map("id" -> s"job-${j.id}", "parent" -> j.span, "query" -> r.span,
          "kind" -> "job", "name" -> s"job ${j.id}", "start_ms" -> j.start,
          "end_ms" -> j.end)
      }
      val c = win.under(r.span + "/")
      ledger += Map("pass" -> idx, "query" -> r.name, "span" -> r.span, "ok" -> r.ok,
        "construct_s" -> r.phase("construct"), "plan_s" -> r.phase("plan"),
        "execute_s" -> r.phase("execute"), "latency_s" -> r.latency,
        "jobs" -> js.size, "construct_jobs" -> js.count(_.span.endsWith("/construct")),
        "busy_s" -> Tracer.busyMs(js) / 1e3, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
        "shuffle_write_mb" -> c.shuffleWrite / MB, "shuffle_read_mb" -> c.shuffleRead / MB,
        "spill_mb" -> c.spill / MB, "scan_rows" -> c.scanRows,
        "block_read_mb" -> c.blockRead / MB, "gc_s" -> r.gcS)
    }
  }

  /** Peak resident set of this JVM while `body` runs, sampled every 10 ms. */
  private def peakRss[T](body: => T): (T, Double) = {
    @volatile var peak = 0L
    @volatile var on = true
    def rssKb(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }
    val t = new Thread(() => while (on) { peak = peak.max(rssKb()); Thread.sleep(10) })
    t.setDaemon(true); t.start()
    val r = try body finally { on = false; t.join() }
    (r, peak.max(rssKb()) / 1024.0)
  }

  def run(passes: Int, warm: Int, traced: Boolean,
          jvmStartMs: Long): Map[String, Any] = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val c0 = System.nanoTime()
    val (checkAttempted, checkFailures) = w.check()
    val checkS = (System.nanoTime() - c0) / 1e9
    (0 until warm).foreach(i => pass(-1 - i, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // `passes` timed passes (about `--seconds` of work). A fixed count, not
    // a time limit checked after every pass: that flips between two counts
    // whenever a pass takes about seconds / k. Traced runs alternate
    // untraced and traced passes, starting and ending untraced, so every
    // traced pass has an untraced pass on each side and the tracing
    // overhead is measured inside one run.
    val total = if (traced) math.max(3, passes | 1) else passes
    val t0 = System.nanoTime()
    val (recs, rssMb) = peakRss {
      val ps = mutable.ArrayBuffer[Map[String, Any]]()
      while (ps.size < total) ps += pass(ps.size, traced && ps.size % 2 == 1)
      ps.toSeq
    }
    Map("setup_jvm_s" -> setupS, "session_s" -> sessionS, "check_s" -> checkS,
      "check_attempted" -> checkAttempted, "check_failures" -> checkFailures,
      "passes" -> recs, "peak_rss_mb" -> rssMb,
      "timed_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

object Runner {
  final case class StepRec(name: String, span: String, ok: Boolean,
      phases: Map[String, Double], cpuS: Double, gcS: Double,
      startMs: Long, endMs: Long, phaseSpans: Seq[(String, Long, Long)]) {
    def latency: Double = phases.values.sum
    def phase(p: String): Double = phases.getOrElse(p, 0.0)
  }


  /** graft.Bench's untimed cleanup between queries: drop cached relations
    * and persisted RDDs, drop broadcast blocks synchronously, then GC, so
    * no query inherits another query's blocks. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    org.apache.spark.graftbridge.BlockResidue.dropAllBroadcastBlocks(spark.sparkContext)
    System.gc()
  }

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case t: Product => render(t.productIterator.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
  }
}
