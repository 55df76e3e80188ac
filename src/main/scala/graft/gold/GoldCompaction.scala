package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{FileOps, Json, LakeLayout}
import graft.model.{PartitionMetrics, Schemas}

/** Silver→gold incremental compaction: per-date dedup/compact into
  * `gold/fact_sales/date=…` + audit metrics.
  *
  * Spark-native re-expression of
  * `scripts/incremental_auto_compaction.py:89-303`, with:
  *  - partition discovery via Hadoop FS listing with a *working* date regex
  *    (the reference's raw-string regex never matches, SURVEY §2.G Q2);
  *  - all post-dedup metrics in ONE aggregation pass over the window
  *    instead of five separate count jobs (E4 note) — at 100 TB each extra
  *    count is a full partition re-scan;
  *  - per-partition overwrite preserved (idempotent re-runs,
  *    `docs/gold_job.md:33-34`).
  */
object GoldCompaction {

  final case class Conf(
      layout: LakeLayout,
      maxPartitions: Int = 10,
      reprocess: Boolean = false,
      forceDates: Seq[String] = Nil,
      coalesceFiles: Int = 4,
      /** Date partitions compacted concurrently. Each partition is an
        * independent Spark job writing its own directory, so they pipeline
        * through the scheduler; the reference processes dates strictly
        * sequentially (SURVEY §7 "hard parts"). */
      concurrency: Int = 4,
      /** Catalog table to refresh after new partitions land — the Spark form
        * of the reference's optional post-run crawler trigger
        * (`incremental_auto_compaction.py:311-325`). Matches
        * `LakeCatalog.factSalesTable` (kept a literal so the gold layer does
        * not depend on the query layer). `None` disables. */
      refreshTable: Option[String] = Some("retail_db.fact_sales"),
      /** Commit each partition through [[ManifestCommit]] instead of the
        * in-place overwrite: data lands in a job-unique `_commits/c-<id>`
        * dir and a small `_manifest.json` is published last, so the write
        * is crash/S3-safe without relying on rename atomicity. Readers
        * must resolve the manifest ([[ManifestCommit.readCommitted]]);
        * the default stays the directory-layout write the catalog table
        * and oracles read. */
      s3SafeCommit: Boolean = false)

  final case class RunSummary(
      processedPartitions: Seq[String],
      results: Seq[PartitionMetrics])

  /** E10 — incremental partition selection: force ∩ processed, or
    * processed − gold (or all under reprocess), ascending, capped. */
  def selectPartitions(processedDates: Seq[String], goldDates: Seq[String],
      conf: Conf): Seq[String] = {
    val selected =
      if (conf.forceDates.nonEmpty)
        conf.forceDates.filter(processedDates.contains).sorted
      else if (conf.reprocess) processedDates.sorted
      else processedDates.filterNot(goldDates.toSet).sorted
    selected.take(conf.maxPartitions)
  }

  /** D6 + E5 + E6 — defensive re-clean, row hash, latest-wins dedup.
    * Exposed for tests; pure plan construction. */
  def compactFrame(df: DataFrame): DataFrame =
    latestPerTransaction(df).drop(SourceRows)

  /** Survivor column of [[latestPerTransaction]]: how many source rows its
    * transaction id had, so summing it over the survivors gives the
    * partition's source total without a second pass. */
  private val SourceRows = "_source_rows"

  private def latestPerTransaction(df: DataFrame): DataFrame = {
    // pad expected columns (mergeSchema drift tolerance, :194-202)
    val expected = Schemas.silver.fields.map(_.name)
    val padded = expected.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(StringType)))

    // D6: defensive numeric re-normalization (strings may arrive via drift)
    val cleaned = padded
      .withColumn("quantity",
        regexp_replace(col("quantity").cast(StringType), "[^0-9-]", "")
          .try_cast(LongType))
      .withColumn("unit_price",
        regexp_replace(col("unit_price").cast(StringType), "[^0-9.\\-()]", "")
          .try_cast(DoubleType))
      .withColumn("revenue",
        regexp_replace(col("revenue").cast(StringType), "[^0-9.\\-()]", "")
          .try_cast(DoubleType))

    // E5: md5 row hash — column order is part of the contract
    val hashed = cleaned.withColumn("row_hash",
      md5(concat_ws("||",
        Schemas.rowHashColumns.map(c =>
          coalesce(col(c).cast(StringType), lit(""))): _*)))

    // E6: latest-wins dedup by transaction_id on ingest_ts, scoped to this
    // date partition. A missing ingest_ts sorts first, as the reference's
    // fallback to the compaction time does (no ingest_ts is later than
    // now); ordering on nulls instead of a folded `current_timestamp()`
    // keeps a per-run literal out of the generated code.
    val byTxn = Window.partitionBy("transaction_id")
    hashed
      .withColumn("rn", row_number().over(
        byTxn.orderBy(to_timestamp(col("ingest_ts")).desc_nulls_first)))
      .withColumn(SourceRows, count(lit(1)).over(byTxn))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Compact one date partition; returns its audit metrics. */
  def compactPartition(spark: SparkSession, date: String, conf: Conf): PartitionMetrics = {
    val inputPath = conf.layout.processedDate(date)
    val outputPath = conf.layout.goldDate(date)
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val now = java.time.Instant.now().toString

    def metrics(status: String, total: Long = 0, after: Long = 0,
        nullTs: Long = 0, nullStore: Long = 0, dq: Long = 0,
        error: Option[String] = None) =
      PartitionMetrics(date, inputPath, outputPath, total, after,
        total - after, nullTs, nullStore, dq, now, status, error)

    if (!fileOps.exists(inputPath)) return metrics("no_input")

    try {
      val df = spark.read.option("mergeSchema", "true").parquet(inputPath)
      // one pass: total, survivors, null/dq metrics over survivors (E4)
      val deduped = latestPerTransaction(df).persist()
      try {
        val agg = deduped.agg(
          coalesce(sum(col(SourceRows)), lit(0L)).as("total"),
          count(lit(1)).as("after"),
          sum(when(col("timestamp").isNull, 1L).otherwise(0L)).as("null_ts"),
          sum(when(col("store_id").isNull, 1L).otherwise(0L)).as("null_store"),
          sum(when(col("revenue").isNotNull && col("quantity").isNotNull &&
            (abs(col("revenue") - col("quantity") * col("unit_price")) > 0.01),
            1L).otherwise(0L)).as("dq")).collect()(0)
        val after = agg.getAs[Long]("after")

        // A4: sorted, compacted, idempotent per-partition overwrite (E7).
        // `date` is dropped from the files: the partition directory carries
        // it (the reference instead embeds an all-null date column that
        // collides with partition inference on read-back).
        val sorted = deduped.drop("date", SourceRows).orderBy(col("transaction_id"))
          .coalesce(conf.coalesceFiles)
        if (conf.s3SafeCommit)
          ManifestCommit.commit(spark, fileOps, sorted, outputPath, after)
        else
          sorted.write.mode("overwrite").parquet(outputPath)

        val m = metrics("written", agg.getAs[Long]("total"), after,
          agg.getAs[Long]("null_ts"), agg.getAs[Long]("null_store"),
          agg.getAs[Long]("dq"))
        fileOps.writeString(conf.layout.auditMetrics(date), renderMetrics(m))
        m
      } finally deduped.unpersist()
    } catch {
      case e: Exception =>
        val m = metrics("failed", error = Some(e.toString))
        fileOps.writeString(conf.layout.auditMetrics(date), renderMetrics(m))
        m
    }
  }

  /** EP2 — full run: discover, select, compact each, write run summary. */
  def run(spark: SparkSession, conf: Conf): RunSummary = {
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val processedDates = fileOps.listPartitionDates(conf.layout.processed)
    val goldDates = fileOps.listPartitionDates(conf.layout.goldFactSales)
    val selected = selectPartitions(processedDates, goldDates, conf)
    val results = compactAll(spark, selected, conf)
    val summary = RunSummary(selected, results)
    fileOps.writeString(conf.layout.auditSummary, Json.render(Map(
      "run_ts_utc" -> java.time.Instant.now().toString,
      "processed_partitions_count" -> selected.size,
      "results" -> results.map(metricsMap))))
    // F1 epilogue — partition discovery for newly-written dates, so a
    // registered analyst table never goes stale (the reference optionally
    // re-triggers the crawler: `incremental_auto_compaction.py:311-325`).
    // MSCK only scans the partition directory listing, not the data.
    // Best-effort like the reference's try/except: a refresh failure (e.g.
    // the table points at another lake whose files are gone) must not fail
    // the compaction that already committed.
    if (results.exists(_.status == "written"))
      conf.refreshTable.filter(spark.catalog.tableExists).foreach { t =>
        try spark.sql(s"MSCK REPAIR TABLE $t")
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[gold] catalog refresh of $t failed: $e")
        }
      }
    summary
  }

  /** Compact the selected dates `conf.concurrency` at a time; results come
    * back in input order. Partitions are disjoint output dirs, so
    * concurrent jobs never conflict. */
  private def compactAll(spark: SparkSession, dates: Seq[String],
      conf: Conf): Seq[PartitionMetrics] =
    if (dates.size <= 1 || conf.concurrency <= 1)
      dates.map(compactPartition(spark, _, conf))
    else {
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = Executors.newFixedThreadPool(conf.concurrency)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try
        Await.result(
          Future.sequence(dates.map(d => Future(compactPartition(spark, d, conf)))),
          Duration.Inf)
      finally pool.shutdown()
    }

  private def metricsMap(m: PartitionMetrics): Map[String, Any] = Map(
    "target_date" -> m.target_date,
    "input_partition" -> m.input_partition,
    "output_partition" -> m.output_partition,
    "total_rows_in_source_partition" -> m.total_rows_in_source_partition,
    "rows_after_dedup" -> m.rows_after_dedup,
    "duplicate_rows_removed" -> m.duplicate_rows_removed,
    "null_timestamp" -> m.null_timestamp,
    "null_store" -> m.null_store,
    "dq_balance_issues" -> m.dq_balance_issues,
    "processed_at_utc" -> m.processed_at_utc,
    "status" -> m.status,
    "error" -> m.error)

  private def renderMetrics(m: PartitionMetrics): String =
    Json.render(metricsMap(m))
}
