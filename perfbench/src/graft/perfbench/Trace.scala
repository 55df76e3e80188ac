package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Traced-run recorder. Off, it only runs the wrapped calls. On, it records:
  *
  *  - a span (name, layer, start, end, parent, op id) around every benchmark
  *    call into a layer, and a Spark job group per span, so each job is tied
  *    to the call that launched it;
  *  - jobs and their completed stages through a `SparkListener`. A job
  *    belongs to the layer whose source file its call site names; a job
  *    whose call site is the benchmark's own action (or a file of no
  *    measured layer) belongs to the layer of the calling span;
  *  - driver self time per layer by sampling the driver threads every
  *    [[SampleMillis]] ms: a RUNNABLE thread is charged to the innermost
  *    program frame of a measured layer (the benchmark's own frames charge
  *    the calling span's layer). Threads waiting on a Spark job, a future or
  *    a lock are not running and are not charged, so self time is the driver
  *    time between and around the jobs, nested layers included (ingest code
  *    run by the streaming watcher is ingest time, not streaming time).
  *
  * Spans are kept in memory and written out once, at the end of the run.
  */
final class Trace(val enabled: Boolean, layerOfFile: Map[String, String]) {
  import Trace._

  final case class Span(id: Int, name: String, layer: String, op: Int,
      parent: Int, startNs: Long, var endNs: Long = -1L, var failed: Boolean = false) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val span: Span, val file: String,
      val startMs: Long) {
    var endMs: Long = -1L
    var failed = false
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    def layer: String = layerOfFile.get(file).filter(Layers.contains).getOrElse(span.layer)
    def wallS: Double = (endMs - startMs) / 1e3
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var openLayer: String = null
  private var nextOp = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val sqlCallSite = mutable.Map.empty[Long, String]
  private val selfNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var spark: SparkSession = _
  private var sampler: Thread = _
  @volatile private var sampling = false

  /** Run `f` as one benchmark call into `layer`. */
  def span[A](layer: String, name: String)(f: => A): A = {
    if (!enabled || spark == null) return f
    val parent = open.headOption
    val s = Span(spans.size, name, layer, parent.map(_.op).getOrElse { nextOp += 1; nextOp },
      parent.map(_.id).getOrElse(-1), System.nanoTime())
    synchronized(spans += s)
    open = s :: open
    openLayer = layer
    val sc = spark.sparkContext
    sc.setJobGroup(s"$GroupPrefix${s.id}", null)
    try f
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"$GroupPrefix${p.id}", null); openLayer = p.layer
        case None => sc.clearJobGroup(); openLayer = null
      }
    }
  }

  /** Start recording on `session`: register the listener and the sampler.
    * Calls before this (set-up, warm-up) are not recorded. */
  def start(session: SparkSession): Unit = if (enabled) {
    spark = session
    session.sparkContext.addSparkListener(listener)
    sampling = true
    val mainId = Thread.currentThread().getId
    sampler = new Thread(() => sample(mainId), "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Stop the sampler and wait for every listener event to be delivered. */
  def stop(): Unit = if (enabled) {
    sampling = false
    sampler.join()
    PerfBenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark = null
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith(GroupPrefix)) {
        val span = spans(group.stripPrefix(GroupPrefix).toInt)
        // A job submitted off the calling thread (AQE stages, writes) names
        // a JDK frame as its call site; the SQL execution it belongs to
        // still carries the caller's.
        val sites = Seq(
          e.stageInfos.maxByOption(_.stageId).map(_.name),
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => sqlCallSite.get(id.toLong))).flatten
        val files = sites.flatMap(s => CallSiteFile.findFirstMatchIn(s).map(_.group(1)))
        val file = files.find(_.endsWith(".scala")).orElse(files.headOption).getOrElse("")
        val j = new Job(e.jobId, span, file, e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized(sqlCallSite(s.executionId) = s.description)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { j =>
        j.stages += 1
        j.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def sample(mainId: Long): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    val skip = mutable.Set.empty[Long]
    var last = System.nanoTime()
    while (sampling) {
      Thread.sleep(SampleMillis)
      val now = System.nanoTime()
      val dt = now - last
      last = now
      val layerNow = openLayer
      if (layerNow != null) {
        val ids = mx.getAllThreadIds.filterNot(skip)
        val charged = mutable.Map.empty[String, Long].withDefaultValue(0L)
        mx.getThreadInfo(ids, StackDepth).foreach { info =>
          if (info != null) {
            val name = info.getThreadName
            if (name.startsWith("Executor task launch") || name == "perfbench-sampler")
              skip += info.getThreadId
            else if (info.getThreadState == Thread.State.RUNNABLE) {
              val l = attribute(info.getStackTrace,
                if (info.getThreadId == mainId) layerNow else null)
              if (l != null) charged(l) += dt
            }
          }
        }
        synchronized(charged.foreach { case (l, ns) => selfNs(l) += ns })
      }
    }
  }

  /** Innermost program frame of a measured layer; `benchLayer` for the
    * benchmark's own frames (null off the main thread). */
  private def attribute(stack: Array[StackTraceElement], benchLayer: String): String = {
    var i = 0
    while (i < stack.length) {
      val c = stack(i).getClassName
      if (c.startsWith("graft.")) {
        if (c.startsWith("graft.perfbench.")) return benchLayer
        val seg = c.substring(6, math.max(6, c.indexOf('.', 6)))
        if (Layers.contains(seg)) return seg
      }
      i += 1
    }
    null
  }

  /** Spans of calls into `layer` whose name satisfies `p`. */
  def spansOf(layer: String, p: String => Boolean = _ => true): Seq[Span] =
    spans.filter(s => s.layer == layer && p(s.name)).toSeq

  /** Jobs launched inside the given spans (any layer). */
  def jobsIn(ss: Seq[Span]): Seq[Job] = synchronized {
    val ids = ss.map(_.id).toSet
    jobs.values.filter(j => ids(j.span.id)).toSeq
  }

  /** The per-layer metrics every workload reports (zeros where a layer was
    * not used). */
  def layerMetrics: Map[String, Double] = synchronized {
    Layers.flatMap { l =>
      val ss = spans.filter(_.layer == l)
      val js = jobs.values.filter(_.layer == l)
      Seq(
        s"$l.calls" -> ss.size.toDouble,
        s"$l.wall_s" -> ss.map(_.wallS).sum,
        s"$l.self_s" -> selfNs(l) / 1e9,
        s"$l.jobs" -> js.size.toDouble,
        s"$l.stages" -> js.map(_.stages).sum.toDouble,
        s"$l.tasks" -> js.map(_.tasks).sum.toDouble,
        s"$l.job_wall_s" -> js.map(_.wallS).sum,
        s"$l.exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"$l.shuffle_mb" -> js.map(_.shuffleBytes).sum / Mb,
        s"$l.input_mb" -> js.map(_.inputBytes).sum / Mb,
        s"$l.output_mb" -> js.map(_.outputBytes).sum / Mb,
        s"$l.failed" -> (ss.count(_.failed) + js.count(_.failed)).toDouble)
    }.toMap
  }

  /** The whole trace as JSON-ready values: spans, jobs and self time. */
  def dump: Map[String, Any] = synchronized {
    def ms(ns: Long) = (ns + epochOffsetNs) / 1e6
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs), "failed" -> s.failed)).toSeq,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span.id,
        "layer" -> j.layer, "call_site_file" -> j.file,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "failed" -> j.failed,
        "stages" -> j.stages, "tasks" -> j.tasks, "exec_cpu_ms" -> j.cpuNs / 1e6,
        "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes)).toSeq,
      "self_s" -> Layers.map(l => l -> selfNs(l) / 1e9).toMap)
  }
}

object Trace {
  /** The program's modules the benchmark measures, named by their package. */
  val Layers: Seq[String] = Seq("ingest", "streaming", "gold", "lake", "queries", "plans")
  val SampleMillis = 10L
  private val StackDepth = 96
  private val GroupPrefix = "perfbench-span-"
  private val CallSiteFile = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r
  private val Mb = 1024.0 * 1024.0

  /** Source file name → the package directory it lives in, for the program
    * tree rooted at `graftSrc` (`src/main/scala/graft`). */
  def layerOfFiles(graftSrc: java.io.File): Map[String, String] =
    Option(graftSrc.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap { d =>
      Option(d.listFiles).toSeq.flatten.map(_.getName -> d.getName)
    }.toMap
}
