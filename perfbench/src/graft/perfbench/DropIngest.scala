package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gold.GoldCompaction
import graft.ingest.BronzeToSilver
import graft.lake.{LakeLayout, Notifier}
import graft.queries.LakeCatalog
import graft.streaming.StreamingIngest

import PerfBench.dirBytes

/** `drop_ingest`: the paper's pipeline, one file at a time. Each operation
  * drops a generated messy sales CSV into `raw/`, polls the watcher
  * (preflight → bronze → silver) and compacts the file's silver dates into
  * gold with the catalog refresh on; the next file drops only after that.
  *
  * A cycle is two accepted files, one from the middle of each half of a
  * log-uniform 1k–30k row count (≈2.3k and ≈12.8k rows, seeded jitter of
  * ±2% of a stratum), small file first, so every run sees a small and a
  * large file at the same points and per-run figures stay comparable across
  * seeds. About one cycle in five adds, at a seeded position, a structurally
  * bad file the preflight gate rejects. The warm-up runs one such cycle (with
  * a rejected file) and one more small file, with inputs of its own, on a
  * lake of its own.
  * Each file is the next day's sales; ~5% of its rows arrive late for the
  * 1–3 previous days, so every compaction rewrites up to four gold dates.
  */
final class DropIngest(seed: Long, tiny: Boolean, tmp: String, trace: Trace)
    extends Workload {

  private val Strata = 2
  private val rnd = new Random(seed)
  private val source = new MessyCsv.Source(seed)
  private val firstDay = LocalDate.of(2024, 1, 1).plusDays(Math.floorMod(seed, 300L))
  private var day = 0
  private var layout: LakeLayout = _
  private val notifier = new Notifier.Buffering

  private final case class Dropped(file: MessyCsv.File,
      outcome: Option[Either[BronzeToSilver.IngestReject, BronzeToSilver.Result]])
  private val dropped = mutable.ArrayBuffer.empty[Dropped]
  private var silverBytesAdded = 0L
  private var goldBytesWritten = 0L
  private var goldPartitions = 0

  private def lake(root: String): LakeLayout = {
    val l = LakeLayout(root)
    Seq(l.raw, l.goldFactSales, s"$root/inbox").foreach(d => Files.createDirectories(Paths.get(d)))
    l
  }

  def prepare(spark: SparkSession, dir: String): Unit = {
    layout = lake(s"$dir/lake")
    LakeCatalog.registerFactSales(spark, layout)
  }

  def warmup(spark: SparkSession): Unit = {
    val warm = lake(s"$tmp/warmup/lake")
    LakeCatalog.registerFactSales(spark, warm)
    val wrnd = new Random(seed ^ 0x5eedL)
    val src = new MessyCsv.Source(seed ^ 0x5eedL)
    (plan(wrnd, structural = true) ++ plan(wrnd, structural = false).take(1)).zipWithIndex.foreach {
      case ((n, structural), i) => drop(spark, warm, src.next(firstDay.minusDays(30 - i), n, structural))
    }
    LakeCatalog.registerFactSales(spark, layout)
  }

  /** The files of one cycle, in order: (rows, structurally bad). */
  private def plan(r: Random, structural: Boolean): Seq[(Int, Boolean)] = {
    val sizes = (0 until Strata).map { j =>
      val u = (j + 0.5 + (r.nextDouble() - 0.5) * 0.04) / Strata
      if (tiny) 50 + (u * 400).toInt else math.round(1000 * math.pow(30, u)).toInt
    }.map(n => (n, false))
    if (structural) {
      val at = r.nextInt(sizes.size + 1)
      (sizes.take(at) :+ ((if (tiny) 50 else 200) + r.nextInt(200), true)) ++ sizes.drop(at)
    } else sizes
  }

  def cycle(spark: SparkSession, index: Int): Unit = {
    plan(rnd, structural = rnd.nextDouble() < 0.2).foreach { case (n, structural) =>
      val f = source.next(firstDay.plusDays(day), n, structural)
      day += 1
      val silverBefore = if (trace.enabled) dirBytes(layout.processed) else 0L
      val outcome = timed(if (structural) "structural_file" else "file",
          foreground = !structural, rows = f.rows) {
        drop(spark, layout, f)
      }.flatten
      dropped += Dropped(f, outcome)
      if (trace.enabled) outcome.collect { case Right(r) =>
        silverBytesAdded += dirBytes(layout.processed) - silverBefore
        goldPartitions += r.silverDates.size
        goldBytesWritten += r.silverDates.map(d => dirBytes(layout.goldDate(d))).sum
      }
    }
  }

  /** Drop one file and run the pipeline until its gold dates are committed
    * and the catalog is refreshed. */
  private def drop(spark: SparkSession, l: LakeLayout, f: MessyCsv.File)
      : Option[Either[BronzeToSilver.IngestReject, BronzeToSilver.Result]] = {
    val staged = Paths.get(l.root, "inbox", f.name)
    Files.write(staged, f.bytes)
    Files.move(staged, Paths.get(l.raw, f.name), StandardCopyOption.ATOMIC_MOVE)
    val tick = trace.span("streaming", "StreamingIngest.pollOnce") {
      StreamingIngest.pollOnce(spark, l, notifier = notifier)
    }
    val outcome = tick.ingested.headOption.map(x => Right(x._2))
      .orElse(tick.rejected.headOption.map(x => Left(x._2)))
    outcome.collect { case Right(r) if r.silverDates.nonEmpty =>
      val summary = trace.span("gold", "GoldCompaction.run") {
        GoldCompaction.run(spark, GoldCompaction.Conf(l, forceDates = r.silverDates))
      }
      val bad = summary.results.filter(_.status != "written")
      if (bad.nonEmpty) sys.error(s"gold compaction failed: ${bad.map(_.error)}")
    }
    outcome
  }

  def check(spark: SparkSession): Seq[String] = {
    val perFile = dropped.toSeq.flatMap { case Dropped(f, outcome) =>
      (f.structural, outcome) match {
        case (true, Some(Left(_: BronzeToSilver.IngestReject.Structural))) => Nil
        case (false, Some(Right(r))) =>
          val want = f.expectedRouting
          val got = r.rejectsByReason.filter(_._2 > 0) + (MessyCsv.Good -> r.goodRows)
          val wantAll = want.filter(_._2 > 0) + (MessyCsv.Good -> want.getOrElse(MessyCsv.Good, 0L))
          (if (r.totalRows != f.rows) Seq(s"${f.name}: ${r.totalRows} rows accounted, ${f.rows} written") else Nil) ++
            (if (got != wantAll) Seq(s"${f.name}: routing $got, planted $wantAll") else Nil)
        case (s, o) => Seq(s"${f.name}: structural=$s but outcome $o")
      }
    }
    // Gold holds exactly one row per distinct accepted transaction id, per date.
    import spark.implicits._
    val expected = dropped.toSeq.filter(!_.file.structural).flatMap(_.file.goodIds.toSeq)
      .flatMap { case (d, ids) => ids.map(id => (d.toString, id)) }
      .toDF("date", "transaction_id")
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("date").cast("string").as("date"))
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("transaction_id")).as("ids"),
          sum(pmod(xxhash64(col("transaction_id")), lit(1000000007L))).as("h"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = digest(expected.distinct())
    val gold = digest(spark.read.parquet(layout.goldFactSales))
    val goldErrors =
      if (gold == want) Nil
      else (want.keySet ++ gold.keySet).toSeq.sorted
        .filter(d => gold.get(d) != want.get(d))
        .take(5).map(d => s"gold date $d: (rows, ids, hash) ${gold.get(d)}, expected ${want.get(d)}")
    val catalogRows = spark.table(LakeCatalog.factSalesTable).count()
    val goldRows = gold.values.map(_._1).sum
    val catalogErrors =
      if (catalogRows == goldRows) Nil
      else Seq(s"catalog table sees $catalogRows rows, gold holds $goldRows")
    perFile ++ goldErrors ++ catalogErrors
  }


  def layerExtras(spark: SparkSession): Map[String, Double] = {
    val accepted = dropped.count(_.outcome.exists(_.isRight))
    val ingestJobs = trace.jobsIn(trace.spansOf("streaming")).count(_.layer == "ingest")
    val goldJobs = trace.jobsIn(trace.spansOf("gold")).size
    Map(
      "ingest.jobs_per_file" -> ratio(ingestJobs, accepted),
      "gold.jobs_per_partition" -> ratio(goldJobs, goldPartitions),
      "gold.rewrite_amp" -> ratio(goldBytesWritten, silverBytesAdded))
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}
