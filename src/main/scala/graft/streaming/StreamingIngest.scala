package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.ingest.BronzeToSilver
import graft.lake.{FileOps, LakeLayout}

/** Event-driven micro-batch file ingest — the reference's S3-event → Lambda
  * → Glue trigger model (`docs/dataflow.md:77-101`) re-expressed as a
  * polling watcher over the raw zone: each discovered file runs the full
  * preflight → bronze→silver pipeline exactly once.
  *
  * Per-file schema discovery (delimiter + header live on the driver) rules
  * out a single long-running Structured Streaming query over the raw text —
  * the dynamic select-list must be rebuilt per file, which is precisely the
  * reference's one-job-per-file design. The watcher keeps that contract;
  * the *event analytics* side is genuinely streaming (see EventStreams).
  */
object StreamingIngest {

  final case class Tick(
      ingested: Seq[(String, BronzeToSilver.Result)],
      rejected: Seq[(String, BronzeToSilver.IngestReject)])

  /** Process every file currently in the raw zone, then return. Call in a
    * loop (or from a scheduler) for continuous ingest; files are moved out
    * of raw/ on pickup, so re-processing is structurally impossible. */
  def pollOnce(spark: SparkSession, layout: LakeLayout,
      strictNullDq: Boolean = true,
      notifier: graft.lake.Notifier = graft.lake.Notifier.Log): Tick = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(layout.raw), spark.sparkContext.hadoopConfiguration)
    val rawPath = new org.apache.hadoop.fs.Path(layout.raw)
    if (!fs.exists(rawPath)) return Tick(Nil, Nil)
    val files = fs.listStatus(rawPath).filter(_.isFile)
      .map(_.getPath.toString).sorted.toSeq
    val (ok, bad) = files.map { f =>
      f -> BronzeToSilver.ingestFile(spark, f, layout, strictNullDq, notifier)
    }.partition(_._2.isRight)
    val tick = Tick(
      ok.collect { case (f, Right(r)) => f -> r },
      bad.collect { case (f, Left(e)) => f -> e })
    tick.ingested.foreach { case (f, r) =>
      notifier.notify("DATA QUALITY REPORT",
        graft.lake.Notifier.dqSummary(f, r.totalRows, r.goodRows, r.rejectsByReason))
    }
    // system failures already alerted from inside ingestFile (the reference's
    // move_to_system_reject publishes directly); only structural here
    tick.rejected.foreach {
      case (f, e: BronzeToSilver.IngestReject.Structural) =>
        notifier.notify("STRUCTURAL REJECT", s"$f: ${e.detail}")
      case _ => ()
    }
    tick
  }
}
