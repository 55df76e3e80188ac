package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.lake.{FileOps, Json, LakeLayout}
import graft.model.{PartitionMetrics, Schemas}

/** Silver→gold incremental compaction: dedup/compact the selected dates
  * into `gold/fact_sales/date=…` + audit metrics.
  *
  * Spark-native re-expression of
  * `scripts/incremental_auto_compaction.py:89-303`, with:
  *  - partition discovery via Hadoop FS listing with a *working* date regex
  *    (the reference's raw-string regex never matches, SURVEY §2.G Q2);
  *  - every selected date compacted in ONE plan where the reference loops
  *    date by date: a declared-schema read of the selected date directories
  *    (no footer-merge job, no listing of the other dates), one exchange
  *    that the latest-wins window reuses, and one partitioned write;
  *  - every date's metrics in ONE aggregation over the deduped frame
  *    instead of five count jobs per date (E4 note) — at 100 TB each extra
  *    count is a full re-scan;
  *  - each written date replaced whole (idempotent re-runs,
  *    `docs/gold_job.md:33-34`).
  */
object GoldCompaction {

  final case class Conf(
      layout: LakeLayout,
      maxPartitions: Int = 10,
      reprocess: Boolean = false,
      forceDates: Seq[String] = Nil,
      coalesceFiles: Int = 4,
      /** Catalog table to refresh after new partitions land — the Spark form
        * of the reference's optional post-run crawler trigger
        * (`incremental_auto_compaction.py:311-325`). Matches
        * `LakeCatalog.factSalesTable` (kept a literal so the gold layer does
        * not depend on the query layer). `None` disables. */
      refreshTable: Option[String] = Some("retail_db.fact_sales"))

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
    * date's source total without a second pass. */
  private val SourceRows = "_source_rows"

  /** D6 targets: column, type, and the characters the re-clean strips. */
  private val Numerics = Seq(
    ("quantity", LongType, "[^0-9-]"),
    ("unit_price", DoubleType, "[^0-9.\\-()]"),
    ("revenue", DoubleType, "[^0-9.\\-()]"))

  private def latestPerTransaction(df: DataFrame): DataFrame = {
    // D6: defensive numeric re-normalization of string drift. A typed
    // column is only cast: Spark renders a double ≥1e7 or <1e-3 in
    // scientific notation, which the regex would corrupt.
    val cleaned = Numerics.foldLeft(df) { case (d, (c, t, junk)) =>
      d.withColumn(c,
        if (d.schema(c).dataType == StringType)
          regexp_replace(col(c), junk, "").try_cast(t)
        else col(c).cast(t))
    }

    // E5: md5 row hash — column order is part of the contract
    val hashed = cleaned.withColumn("row_hash",
      md5(concat_ws("||",
        Schemas.rowHashColumns.map(c =>
          coalesce(col(c).cast(StringType), lit(""))): _*)))

    // E6: latest-wins dedup by transaction_id on ingest_ts, scoped to its
    // date when the frame has one. A missing ingest_ts sorts first, as the
    // reference's fallback to the compaction time does (no ingest_ts is
    // later than now); ordering on nulls instead of a folded
    // `current_timestamp()` keeps a per-run literal out of the generated
    // code.
    val byTxn = Window.partitionBy(
      Seq("date", "transaction_id").filter(df.columns.contains).map(col): _*)
    hashed
      .withColumn("rn", row_number().over(
        byTxn.orderBy(to_timestamp(col("ingest_ts")).desc_nulls_first)))
      .withColumn(SourceRows, count(lit(1)).over(byTxn))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** EP2 — full run: discover, select, compact, write run summary. */
  def run(spark: SparkSession, conf: Conf): RunSummary = {
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val processedDates = fileOps.listPartitionDates(conf.layout.processed)
    val goldDates = fileOps.listPartitionDates(conf.layout.goldFactSales)
    val selected = selectPartitions(processedDates, goldDates, conf)
    val results = compact(spark, fileOps, selected, conf)
    val summary = RunSummary(selected, results)
    fileOps.writeString(conf.layout.auditSummary, Json.render(Map(
      "run_ts_utc" -> java.time.Instant.now().toString,
      "processed_partitions_count" -> selected.size,
      "results" -> results.map(metricsMap))))
    // F1 epilogue — register the written dates, so a registered analyst
    // table never goes stale (the reference optionally re-triggers the
    // crawler: `incremental_auto_compaction.py:311-325`) without listing
    // the other gold dates; ADD PARTITION also refreshes the table's cached
    // file listing of a rewritten date. Best-effort like the reference's
    // try/except: a refresh failure (e.g. the table points at another lake
    // whose files are gone) must not fail the compaction that committed.
    val written = results.filter(_.status == "written").map(_.target_date)
    if (written.nonEmpty)
      conf.refreshTable.filter(spark.catalog.tableExists).foreach { t =>
        try spark.sql(s"ALTER TABLE $t ADD IF NOT EXISTS " +
          written.map(d => s"PARTITION (date = '$d')").mkString(" "))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[gold] catalog refresh of $t failed: $e")
        }
      }
    summary
  }

  /** Compact every selected date in one plan; metrics come back in `dates`
    * order. A date whose silver directory is gone or empty is `no_input`.
    * Any failure fails every date of the run: the default sink commits all
    * dates in one job, so nothing of the run is visible and the previous
    * gold of each date stays as it was. */
  private def compact(spark: SparkSession, fileOps: FileOps,
      dates: Seq[String], conf: Conf): Seq[PartitionMetrics] = {
    val layout = conf.layout
    val now = java.time.Instant.now().toString
    def metrics(date: String, status: String, total: Long = 0,
        after: Long = 0, nullTs: Long = 0, nullStore: Long = 0, dq: Long = 0,
        error: Option[String] = None) =
      PartitionMetrics(date, layout.processedDate(date), layout.goldDate(date),
        total, after, total - after, nullTs, nullStore, dq, now, status, error)
    def audited(m: PartitionMetrics): PartitionMetrics = {
      fileOps.writeString(layout.auditMetrics(m.target_date), renderMetrics(m))
      m
    }

    val inputs = dates.filter(d => fileOps.exists(layout.processedDate(d)))
    if (inputs.isEmpty) return dates.map(metrics(_, "no_input"))
    try {
      // The declared schema reads an absent column as null: no footer
      // merge. One range exchange on (date, transaction_id) feeds the window
      // and cuts the input into ordered runs (E7), one per advisory size of
      // silver and at most `coalesceFiles`; a single run samples nothing.
      val silver = spark.read.schema(Schemas.silver)
        .option("basePath", layout.processed)
        .parquet(inputs.map(layout.processedDate): _*)
      val runs = (silver.queryExecution.optimizedPlan.stats.sizeInBytes /
        spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
        .min(conf.coalesceFiles).toInt
      val deduped = latestPerTransaction(silver.repartitionByRange(
        runs, col("date"), col("transaction_id"))).persist()
      try {
        // E4: every date's metrics in one pass over the survivors
        val byDate = deduped.groupBy(col("date").cast(StringType)).agg(
          sum(col(SourceRows)),
          count(lit(1)),
          count_if(col("timestamp").isNull),
          count_if(col("store_id").isNull),
          count_if(abs(col("revenue") - col("quantity") * col("unit_price")) > 0.01))
          .collect().map(r => r.getString(0) -> r).toMap
        val results = dates.map(d => byDate.get(d).fold(metrics(d, "no_input")) { r =>
          metrics(d, "written", r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
        })

        // A4: sorted, compacted, idempotent overwrite of each written date.
        // `date` is not stored in the files: the partition directory
        // carries it (the reference instead embeds an all-null date column
        // that collides with partition inference on read-back).
        val gold = deduped.drop(SourceRows)
        if (byDate.nonEmpty)
          gold.sortWithinPartitions("date", "transaction_id").write
            .mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("date").parquet(layout.goldFactSales)
        results.map(m => if (m.status == "written") audited(m) else m)
      } finally deduped.unpersist()
    } catch {
      case e: Exception =>
        dates.map(d => audited(metrics(d, "failed", error = Some(e.toString))))
    }
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
