package graft.ingest

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{FileOps, LakeLayout, Naming}
import graft.model.RejectRow

/** The bronze→silver ETL: messy delimited text → cleaned, typed,
  * date-partitioned parquet + row-level rejects.
  *
  * Spark-native re-expression of the reference Glue job
  * (`scripts/glue_job_raw_to_processed.py:95-392`): schema is discovered
  * per file on the driver (bounded 20-line sample + header row), the rest
  * is one declarative column pipeline Catalyst can optimize end-to-end.
  * Two actions total (one count-aggregation, one per sink) versus the
  * reference's five.
  *
  * Deliberate fixes over the reference (SURVEY §2.G):
  *  - Q1: delimiter fallback implements the intended "zero occurrences →
  *    comma" rule (the original NameErrors whenever the sniffer succeeds).
  *  - Q3: the delimiter is regex-quoted before `split` (`|` would otherwise
  *    split every character).
  *  - Q4: the business-DQ predicate is null-safe by default — rows whose
  *    numerics clean to null are routed to BUSINESS_LOGIC_FAIL instead of
  *    silently vanishing under 3VL. `strictNullDq = false` restores the
  *    reference's row-dropping behavior for count parity.
  *  - Q6: the silver write goes through a staging directory committed by
  *    rename, so a failed job leaves no partial partitions behind.
  */
object BronzeToSilver {

  final case class Conf(
      layout: LakeLayout,
      ingestRunId: String,
      sourceFile: String,
      strictNullDq: Boolean = true,
      sampleLines: Int = 20)

  final case class Result(
      totalRows: Long,
      goodRows: Long,
      rejectsByReason: Map[String, Long],
      silverDates: Seq[String])

  /** File-level reject outcome of [[ingestFile]] (B3). Structural = the
    * preflight gate said no (`lambda_validator.py:60-105`); SystemFailure =
    * the ETL itself threw and the file was routed to `rejected/system/`
    * (`glue_job_raw_to_processed.py:421-443`). */
  sealed trait IngestReject { def kind: String; def detail: String }
  object IngestReject {
    final case class Structural(errors: Seq[String]) extends IngestReject {
      val kind = "STRUCTURAL"; def detail: String = errors.mkString(";")
    }
    final case class SystemFailure(reason: String) extends IngestReject {
      val kind = "SYSTEM"; def detail: String = reason
    }
  }

  /** Full job: read validated file → transform → write silver + rejects. */
  def run(spark: SparkSession, inputPath: String, conf: Conf): Result = {
    // A1 + C1: raw text lines, invisible-char scrub, blank filter
    val clean = scrubbedLines(spark.read.text(inputPath))

    // C2: driver-side delimiter detection over a bounded sample
    val sample = clean.limit(conf.sampleLines).collect().map(_.getString(0)).toSeq
    val delimiter = Delimiters.detectFromSample(sample)

    // C3/C4: header extraction + canonical resolution
    val headerLine = clean.first().getString(0)
    val finalHeaders = Headers.resolveHeader(
      Delimiters.splitKeepingEmpty(headerLine, delimiter))

    val (goodPlan, rejectsPlan) =
      transform(clean, delimiter, headerLine, Headers.indexMap(finalHeaders), conf)
    // The two frames feed four sinks/actions; persist so the text parse +
    // clean + dedup pipeline runs once, not once per action (the reference
    // re-executes it five times).
    val good = goodPlan.persist()
    val rejects = rejectsPlan.persist()

    try {

    // E4 as one aggregation pass instead of five separate counts
    val counts = good.select(lit(null).cast(StringType).as("reject_reason"))
      .unionAll(rejects.select(col("reject_reason")))
      .groupBy("reject_reason").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("GOOD") -> r.getLong(1))
      .toMap
    val goodCount = counts.getOrElse("GOOD", 0L)
    val rejectCounts = counts.removed("GOOD")

    // A5/A6: reject sinks (machine JSON + single-file analyst CSV)
    if (rejectCounts.values.sum > 0) {
      rejects.write.mode("append").json(conf.layout.rejectedDqJson)
      rejects.coalesce(1).write.mode("append")
        .option("header", true).csv(conf.layout.rejectedDqCsv)
    }

    // A3 via staging commit (Q6): partitioned silver append
    val staging = s"${conf.layout.processed}/_staging_${conf.ingestRunId}"
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val dates =
      try {
        good.write.mode("overwrite").partitionBy("date").parquet(staging)
        val written = fileOps.listPartitionDates(staging)
        written.foreach { d =>
          fileOps.moveChildrenInto(s"$staging/date=$d", conf.layout.processedDate(d))
        }
        written
      } finally fileOps.delete(staging)

    Result(goodCount + rejectCounts.values.sum, goodCount, rejectCounts, dates)

    } finally {
      good.unpersist()
      rejects.unpersist()
      ()
    }
  }

  /** C1 — strip BOM/zero-width/nbsp, drop blank lines
    * (`glue_job_raw_to_processed.py:101-104`). */
  def scrubbedLines(raw: DataFrame): DataFrame =
    raw.withColumn("value",
        regexp_replace(col("value"), "[\\uFEFF\\u200B\\u00A0]", ""))
      .filter(trim(col("value")) =!= "")

  /** The declarative transform: (good silver frame, aligned rejects frame).
    * Pure plan construction — callable from tests without touching disk. */
  def transform(clean: DataFrame, delimiter: Char, headerLine: String,
      indexMap: Map[String, Int], conf: Conf): (DataFrame, DataFrame) = {

    // C5: drop (re-embedded) header lines, split into cells — regex-quoted (Q3)
    val split_df = clean.filter(col("value") =!= headerLine)
      .withColumn("cols",
        split(col("value"), Pattern.quote(delimiter.toString), -1))

    // C6: positional projection onto the canonical schema. `get` (not
    // `getItem`/`element_at`) so a short row — e.g. a `;`-joined line in a
    // comma file that split to one field — yields nulls for the missing
    // positions (→ structural reject) instead of erroring under ANSI.
    def extr(name: String): Column =
      indexMap.get(name)
        .map(i => get(col("cols"), lit(i)))
        .getOrElse(lit(null).cast(StringType))

    val extracted = split_df.select(
      extr("transaction_id").as("transaction_id"),
      extr("store_id").as("store_id"),
      extr("timestamp").as("timestamp_raw"),
      extr("item_id").as("item_id"),
      extr("item_category").as("item_category"),
      extr("quantity").as("quantity"),
      extr("unit_price").as("unit_price"),
      extr("revenue").as("revenue"),
      extr("payment_method").as("payment_method"),
      extr("customer_id").as("customer_id"),
      col("value").as("raw_row"))

    // D1: structural gate — any required field null
    val missingReq = Headers.required.toSeq.sorted
      .map(c => col(if (c == "timestamp") "timestamp_raw" else c).isNull)
      .reduce(_ || _)
    val structRejects = extracted.filter(missingReq)
      .withColumn("reject_reason", lit(RejectRow.reasonMissingRequired))
    val structGood = extracted.filter(!missingReq)

    // D2: regex-gated multi-format timestamp parse
    val parsed = structGood.withColumn("timestamp_parsed",
      Timestamps.parseMultiFormat(col("timestamp_raw")))
    val tsRejects = parsed.filter(col("timestamp_parsed").isNull)
      .withColumn("reject_reason", lit(RejectRow.reasonInvalidTimestamp))
    val tsGood = parsed.filter(col("timestamp_parsed").isNotNull)

    // D3/D4: numeric cleaning (try_cast keeps reference null-on-garbage
    // semantics under ANSI); E1: lineage columns
    val enriched = tsGood
      .withColumn("unit_price", Numerics.cleanCurrency(col("unit_price")))
      .withColumn("revenue", Numerics.cleanCurrency(col("revenue")))
      .withColumn("quantity", Numerics.cleanQuantity(col("quantity")))
      .withColumn("timestamp", col("timestamp_parsed"))
      .withColumn("ingest_run_id", lit(conf.ingestRunId))
      .withColumn("source_file", lit(conf.sourceFile))
      .withColumn("ingest_ts", current_timestamp())
      .withColumn("date", to_date(col("timestamp")))
      // E2: full-row dedup — only kills exact intra-file duplicates because
      // raw_row + lineage participate (semantics preserved from :298)
      .dropDuplicates()

    // D5: business DQ rule, null-safe by default (Q4)
    val dqExpr =
      col("timestamp").isNull ||
        (abs(col("revenue") - col("quantity") * col("unit_price")) > 0.01)
    val dqBad = if (conf.strictNullDq) coalesce(dqExpr, lit(true)) else dqExpr
    val dqRejects = enriched.filter(dqBad)
      .withColumn("raw_row", lit(null).cast(StringType))
      .withColumn("reject_reason", lit(RejectRow.reasonBusinessLogic))
    val good = enriched.filter(if (conf.strictNullDq) !dqBad else !dqExpr)
      .select("transaction_id", "store_id", "timestamp", "item_id",
        "item_category", "quantity", "unit_price", "revenue",
        "payment_method", "customer_id", "ingest_run_id", "source_file",
        "ingest_ts", "date")

    // E3: align to the fixed 13-column reject schema and union
    val rejects = Seq(structRejects, tsRejects, dqRejects)
      .map(alignRejectSchema)
      .reduce(_.unionByName(_))

    (good, rejects)
  }

  /** E3 — pad to the 13 reject columns (strings except timestamp_parsed),
    * preserving the reference's column order. */
  def alignRejectSchema(df: DataFrame): DataFrame = {
    val cols = RejectRow.columns.map {
      case "timestamp_parsed" =>
        (if (df.columns.contains("timestamp_parsed")) col("timestamp_parsed")
         else lit(null).cast(TimestampType)).as("timestamp_parsed")
      case c =>
        (if (df.columns.contains(c)) col(c).cast(StringType)
         else lit(null).cast(StringType)).as(c)
    }
    df.select(cols: _*)
  }

  /** EP1 orchestration: preflight + routing + ETL for one raw file.
    *
    * B3 failure half: any ETL exception routes the validated file to
    * `rejected/system/` with a `_reason.json` sidecar and a notifier alert
    * (`glue_job_raw_to_processed.py:421-443`, `move_to_system_reject` at
    * `:64-88`). The staging commit in [[run]] already guarantees no partial
    * silver partitions survive the failure; this adds the routing+alerting
    * half so the file is never stranded in `validated/` (the watcher only
    * picks up `raw/`, so a stranded file would otherwise be lost forever). */
  def ingestFile(spark: SparkSession, rawFile: String, layout: LakeLayout,
      strictNullDq: Boolean = true,
      notifier: graft.lake.Notifier = graft.lake.Notifier.Log): Either[IngestReject, Result] = {
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val origName = rawFile.split('/').last
    val runId = Naming.newRunId()

    // archive raw with traceable name (B4), sniff head (A7), validate (B1-B3)
    val archived = s"${layout.archiveRaw}/${Naming.withTag(origName, "archived_raw", uuid8 = runId)}"
    fileOps.move(rawFile, archived)
    val decision = Preflight.check(fileOps.readHead(archived))
    decision.route match {
      case Preflight.ToStructuralReject =>
        val dst = s"${layout.rejectedStructural}/${Naming.withTag(origName, "structural", uuid8 = runId)}"
        fileOps.move(archived, dst)
        fileOps.writeString(dst + "_reason.json",
          graft.lake.Json.render(Map("errors" -> decision.errors)))
        Left(IngestReject.Structural(decision.errors))
      case Preflight.ToValidated =>
        val validatedName = Naming.withTag(origName, "validated", uuid8 = runId)
        val validated = s"${layout.validated}/$validatedName"
        fileOps.move(archived, validated)
        try {
          val result = run(spark, validated,
            Conf(layout, runId, validatedName, strictNullDq))
          //18: archive the validated file after a successful run
          fileOps.move(validated, s"${layout.archiveValidated}/$validatedName")
          Right(result)
        } catch {
          case scala.util.control.NonFatal(e) =>
            val dst = s"${layout.rejectedSystem}/$validatedName"
            // move is best-effort (reference swallows the copy error too:
            // the reason sidecar + alert must land even if the move fails)
            try fileOps.move(validated, dst)
            catch { case scala.util.control.NonFatal(_) => () }
            fileOps.writeString(dst + "_reason.json",
              graft.lake.Json.render(Map(
                "source_file" -> validatedName,
                "ingest_run_id" -> runId,
                "error" -> e.toString)))
            notifier.notify("SYSTEM FAILURE",
              s"$validatedName: ${e.toString}")
            Left(IngestReject.SystemFailure(e.toString))
        }
    }
  }
}
