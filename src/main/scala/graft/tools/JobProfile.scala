package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level wall-clock profiler for a single declared query (guide §1:
  * measure first). Lifecycle queries (streaming micro-batches, snapshot
  * commits) run dozens of internal Spark jobs before returning their final
  * frame, so `explain` on the result says nothing about where time goes.
  * This main attaches a listener, runs the query end-to-end with the same
  * noop-sink action Bench uses, and prints every job's duration, call site
  * and stage breakdown, slowest first.
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir] [passes]
  * (the profile goes to stdout; redirect it to keep it).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: JobProfile <queryName> [sfDir] [passes]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val spark = graft.GraftSession.get("graft-jobprofile")

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = -1,
      var stages: List[String] = Nil)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    // stage → owning job from SparkListenerJobStart.stageIds, so
    // concurrent jobs never double-count each other's stages
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // a batch job's description is often blank: fall back to its
        // call site, then to its first stage's name, so every row names it
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).filter(_.trim.nonEmpty)
        val desc = prop("spark.job.description")
          .orElse(prop("callSite.short"))
          .orElse(e.stageInfos.minByOption(_.stageId).map(_.name))
          .getOrElse("")
          // a micro-batch's description spans lines (`\nid = …\nrunId =
          // …\nbatch = N`): fold them so each job prints on one line
          .linesIterator.map(_.trim).filter(_.nonEmpty).mkString(" ")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val rec = s"stage${si.stageId} '${si.name.take(60)}' tasks=${si.numTasks} " +
          f"run=${m.executorRunTime}%dms cpu=${m.executorCpuTime / 1000000}%dms " +
          s"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}K " +
          s"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}K " +
          s"in=${m.inputMetrics.bytesRead / 1024}K"
        Option(stageJob.get(si.stageId))
          .flatMap(jid => Option(jobs.get(jid)))
          .foreach(j => if (j.stages.size < 40) j.stages = rec :: j.stages)
      }
    }

    // warmup pass (uncounted) mirrors Bench's min-of-two discipline
    for (p <- 1 to passes) {
      spark.catalog.clearCache()
      jobs.clear(); order.clear(); stageJob.clear()
      if (p == passes) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      println(f"== pass $p wall=$wall%.2fs ==")
      if (p == passes) {
        import scala.jdk.CollectionConverters._
        val recs = order.asScala.flatMap(id => Option(jobs.get(id))).toSeq
        val total = recs.map(j => math.max(0L, j.end - j.start)).sum
        println(f"jobs=${recs.size} sum-of-job-wall=${total / 1000.0}%.2fs")
        val slow = recs.sortBy(j => -(j.end - j.start)).take(30)
        slow.foreach { j =>
          println(f"  job${j.id}%4d ${(j.end - j.start) / 1000.0}%7.2fs  ${j.desc.take(110)}")
          j.stages.reverse.take(6).foreach(s => println(s"        $s"))
        }
        // histogram: every job bucketed by its first stage's call site —
        // job COUNT is the contention-insensitive lever (each job costs
        // ~20-30ms of driver planning/scheduling besides its tasks)
        val hist = recs.groupBy(_.stages.lastOption
            .map(_.replaceAll("^stage\\d+ ", "").split("' ")(0) + "'")
            .getOrElse("(no-stage)"))
          .map { case (k, js) =>
            (k, js.size, js.map(j => math.max(0L, j.end - j.start)).sum) }
          .toSeq.sortBy(-_._3)
        println("  -- jobs by first-stage call site --")
        hist.foreach { case (k, n, ms) =>
          println(f"  $n%4d jobs ${ms / 1000.0}%7.2fs  $k") }
        // gap analysis: time between consecutive jobs = driver-side work
        val sorted = recs.sortBy(_.start)
        val gaps = sorted.sliding(2).collect {
          case Seq(a, b) if b.start - a.end > 200 =>
            (a.id, b.id, b.start - a.end, b.desc.take(80))
        }.toSeq.sortBy(-_._3).take(15)
        if (gaps.nonEmpty) {
          println("  -- driver gaps >200ms between jobs --")
          gaps.foreach { case (a, b, ms, d) =>
            println(f"  job$a%4d -> job$b%4d ${ms / 1000.0}%6.2fs before '$d'") }
        }
      }
    }
    spark.stop()
  }
}
