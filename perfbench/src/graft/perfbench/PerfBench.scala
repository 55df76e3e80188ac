package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** In-process runner of one benchmark run: set up, measure one workload in
  * a closed loop, check its outputs, and write the raw result as JSON.
  *
  * {{{
  * PerfBench --workload drop_ingest --seed 1 --seconds 10 --trace 0
  *   --cpus 4 --tmp <scratch dir> --src <program's src/main/scala/graft>
  *   --out <result.json> [--data <generated tables>] [--tiny 1]
  * }}}
  *
  * The session is the program's own `GraftSession` configuration: its
  * settings are part of what is measured. Only deployment paths (warehouse,
  * local scratch) are pointed into `--tmp`.
  */
object PerfBench {

  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val tmp = a("tmp")
    val seed = a("seed").toLong
    val tiny = a.get("tiny").contains("1")
    val trace = new Trace(a("trace") == "1",
      Trace.layerOfFiles(new java.io.File(a("src"))))
    val w: Workload = a("workload") match {
      case "drop_ingest" => new DropIngest(seed, tiny, tmp, trace)
      case "analyst_queries" => new AnalystQueries(seed, a("data"), tmp, trace)
      case "lake_churn" => new LakeChurn(seed, a("data"), tmp, trace)
      case other => sys.error(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val dir = s"$tmp/setup$r"
      spark = GraftSession.builder(s"local[$cpus]", cpus)
        .appName("perfbench")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("spark.local.dir", s"$tmp/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      w.prepare(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val warmupS = seconds(w.warmup(spark))

    trace.start(spark)
    val (cpu0, jit0, gc0) = (processCpuNs, jitMs, gcMs)
    val loopT0 = System.nanoTime()
    var cycles = 0
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    while (cycles == 0 || System.nanoTime() - loopT0 < budgetNs) {
      w.cycle(spark, cycles)
      cycles += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val (loopCpuS, loopJitS, loopGcS) =
      ((processCpuNs - cpu0) / 1e9, (jitMs - jit0) / 1e3, (gcMs - gc0) / 1e3)
    trace.stop()

    val checkT0 = System.nanoTime()
    val errors = w.check(spark)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val layer = if (trace.enabled) trace.layerMetrics ++ w.layerExtras(spark) else Map.empty
    a.get("trace-out").filter(_ => trace.enabled).foreach { p =>
      Files.write(Paths.get(p), Json.render(trace.dump).getBytes("UTF-8"))
    }
    val result = Map(
      "workload" -> a("workload"),
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "loop_cpu_s" -> loopCpuS,
      "loop_jit_s" -> loopJitS,
      "loop_gc_s" -> loopGcS,
      "cycles" -> cycles,
      "check_s" -> checkS,
      "ops" -> w.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds, "cpu_s" -> o.cpuSeconds,
        "foreground" -> o.foreground, "ok" -> o.ok, "rows" -> o.rows)).toSeq,
      "metrics" -> w.metrics(spark),
      "per_layer" -> layer,
      "errors" -> errors,
      "peak_rss_mb" -> peakRssMb,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    spark.stop()
    Files.write(Paths.get(a("out")), Json.render(result).getBytes("UTF-8"))
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of every regular file under `p` (0 when absent). */
  def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.walk(path)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** CPU time of every thread of this JVM, in nanoseconds. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Milliseconds the JIT compilers have spent compiling in this JVM. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Milliseconds this JVM's collectors have spent in collections. */
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** This JVM's high-water resident set (VmHWM), in MiB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One timed operation of a workload's loop. Foreground operations are the
  * ones a user waits on; maintenance is not. `cpuSeconds` is the CPU time of
  * the whole JVM while it ran: driver, executor tasks, JIT and collector. */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double,
    foreground: Boolean, ok: Boolean, rows: Long = 0L)

/** A closed-loop workload: one client that issues its next operation only
  * after the previous one completed. */
trait Workload {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty

  /** Fresh state for one set-up repetition, in `dir`, on a fresh session. */
  def prepare(spark: SparkSession, dir: String): Unit

  /** Untimed-by-the-loop first use of every code path the loop runs. */
  def warmup(spark: SparkSession): Unit

  /** One cycle: a fixed multiset of operations in seeded order. The loop
    * runs whole cycles until the run's seconds are spent. */
  def cycle(spark: SparkSession, index: Int): Unit

  /** Output checks after the loop; each mismatch is one message. */
  def check(spark: SparkSession): Seq[String]

  /** Workload-specific end-to-end figures, after the checks. */
  def metrics(spark: SparkSession): Map[String, Double] = Map.empty

  /** Workload-specific per-layer figures (traced runs only). */
  def layerExtras(spark: SparkSession): Map[String, Double]

  /** Time `f` as one operation; a thrown exception is a failed operation. */
  protected def timed[A](kind: String, foreground: Boolean = true,
      rows: Long = 0L)(f: => A): Option[A] = {
    val c0 = PerfBench.processCpuNs
    val t0 = System.nanoTime()
    val r =
      try Some(f)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $kind failed: $e")
          None
      }
    ops += Op(kind, (System.nanoTime() - t0) / 1e9, (PerfBench.processCpuNs - c0) / 1e9,
      foreground, r.isDefined, rows)
    r
  }
}

/** Minimal JSON writer for the run's result and trace dump. */
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
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
