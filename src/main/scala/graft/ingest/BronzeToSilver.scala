package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{FileOps, LakeLayout, Naming}
import graft.model.RejectRow

/** The bronze→silver ETL: messy delimited text → cleaned, typed,
  * date-partitioned parquet + row-level rejects.
  *
  * Spark-native re-expression of the reference Glue job
  * (`scripts/glue_job_raw_to_processed.py:95-392`): schema is discovered
  * per file on the driver from one bounded sample whose first line is the
  * header. The rest is one declarative [[parse]] — each distinct line split,
  * projected and timestamp-parsed once, cached — and a [[route]] that
  * filters the cache on its `reject_reason`. After the sample, one
  * count aggregation and one action per sink (JSON, CSV, silver) read the
  * cache; the reference re-executes its whole pipeline for each of five
  * actions.
  *
  * Deliberate fixes over the reference (SURVEY §2.G):
  *  - Q1: delimiter fallback implements the intended "zero occurrences →
  *    comma" rule (the original NameErrors whenever the sniffer succeeds).
  *  - Q3: the delimiter is regex-escaped before `split` (`|` would
  *    otherwise split every character).
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

    // C2: driver-side delimiter detection over a bounded sample, whose
    // first line is the header (C3/C4: extraction + canonical resolution)
    val sample = clean.limit(conf.sampleLines).collect().map(_.getString(0)).toSeq
    val headerLine = sample.headOption.getOrElse(throw new IllegalArgumentException(
      s"$inputPath has no non-blank line, so no header"))
    val delimiter = Delimiters.detectFromSample(sample)
    val finalHeaders = Headers.resolveHeader(
      Delimiters.splitKeepingEmpty(headerLine, delimiter))

    // The count and the three sinks below read one cached parse: every
    // distinct line is split, projected and timestamp-parsed once, and the
    // routing filters read its `reject_reason` instead of re-deriving it.
    val parsed = parse(clean, delimiter, headerLine,
      Headers.indexMap(finalHeaders), conf).persist()

    try {
    val (good, rejects) = route(parsed, conf)

    // E4 as one aggregation pass over the cache instead of five separate
    // counts
    val counts = parsed.filter(col("sink_rows") > 0)
      .groupBy("reject_reason").agg(sum("sink_rows"))
      .collect()
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
      parsed.unpersist()
      ()
    }
  }

  /** C1 — strip BOM/zero-width/nbsp, drop blank lines
    * (`glue_job_raw_to_processed.py:101-104`). */
  def scrubbedLines(raw: DataFrame): DataFrame =
    raw.withColumn("value",
        regexp_replace(col("value"), "[\\uFEFF\\u200B\\u00A0]", ""))
      .filter(trim(col("value")) =!= "")

  /** Rows the reference's null-unsafe DQ predicate (`strictNullDq = false`)
    * loses under 3VL: [[route]] sends them to no sink. */
  private val droppedByNullDq = "DROPPED_BY_NULL_DQ"

  private val lineRejectReasons =
    Seq(RejectRow.reasonMissingRequired, RejectRow.reasonInvalidTimestamp)

  /** One row per distinct data line: its cells, typed values, the reason
    * it is rejected (null for a good row) and how many sink rows it
    * becomes (`sink_rows`). Nothing per-file is inlined into generated
    * code — the delimiter regex and the header line are string literals
    * and the header positions one array literal, all reference objects —
    * so every file layout reuses one compiled stage. */
  def parse(clean: DataFrame, delimiter: Char, headerLine: String,
      indexMap: Map[String, Int], conf: Conf): DataFrame = {

    // E2: dedup on the line itself — every other column is a function of
    // it and of per-file constants, so this equals a full-row dedup.
    // `copies` keeps how often the line was sent.
    val lines = clean.filter(col("value") =!= headerLine)
      .groupBy(col("value").as("raw_row"))
      .agg(count(lit(1)).as("copies"))

    // C5: split once, on a fast-path regex (Q3); C6: positional projection
    // onto the canonical schema, positions as data (-1 = column absent).
    // `get` (not `getItem`/`element_at`) so a short row — e.g. a `;`-joined
    // line in a comma file that split to one field — yields nulls for the
    // missing positions (→ structural reject) instead of erroring under ANSI.
    // The `size` bound repeats what `get` does, but gives the split a second
    // consumer: with one, the optimizer inlines it into the lambda, where
    // it would run once per position instead of once per line.
    val positions = typedLit(Headers.canonical.map(indexMap.getOrElse(_, -1)))
    val cols = col("cols")
    val cells = lines
      .withColumn("cols", split(col("raw_row"), Delimiters.regex(delimiter), -1))
      .select(col("raw_row"), col("copies"), functions.transform(positions,
        p => when(p < size(cols), get(cols, p))).as("cells"))
    val extracted = cells.select(
      Seq(col("raw_row"), col("copies")) ++ Headers.canonical.zipWithIndex.map {
        case (name, i) =>
          get(col("cells"), lit(i)).as(if (name == "timestamp") "timestamp_raw" else name)
      }: _*)

    // D1: structural gate — any required field null
    val missingReq = Headers.required.toSeq.sorted
      .map(c => col(if (c == "timestamp") "timestamp_raw" else c).isNull)
      .reduce(_ || _)

    // D2: regex-gated multi-format timestamp parse; D3/D4: numeric
    // cleaning (try_cast keeps reference null-on-garbage semantics under
    // ANSI) into `clean_*`, the raw cells staying for the reject record
    val typed = extracted
      .withColumn("missing_required", missingReq)
      .withColumn("timestamp_parsed", when(!col("missing_required"),
        Timestamps.parseMultiFormat(col("timestamp_raw"))))
      .withColumn("clean_quantity", Numerics.cleanQuantity(col("quantity")))
      .withColumn("clean_unit_price", Numerics.cleanCurrency(col("unit_price")))
      .withColumn("clean_revenue", Numerics.cleanCurrency(col("revenue")))

    // D5: business DQ rule, null-safe by default (Q4)
    val dqExpr =
      abs(col("clean_revenue") - col("clean_quantity") * col("clean_unit_price")) > 0.01
    val dqBad = if (conf.strictNullDq) coalesce(dqExpr, lit(true)) else dqExpr
    val reason = when(col("missing_required"), lit(RejectRow.reasonMissingRequired))
      .when(col("timestamp_parsed").isNull, lit(RejectRow.reasonInvalidTimestamp))
      .when(dqBad, lit(RejectRow.reasonBusinessLogic))
      .when(dqBad.isNull, lit(droppedByNullDq))
    // How many sink rows the line becomes: a line reject keeps its raw
    // cells and is reported once per copy, as the reference does; an
    // accepted line once (E2); a line the null-unsafe DQ drops, never.
    val sinkRows = when(col("reject_reason").isin(lineRejectReasons: _*), col("copies"))
      .when(col("reject_reason").eqNullSafe(droppedByNullDq), lit(0L))
      .otherwise(lit(1L))
    typed
      .withColumn("date", to_date(col("timestamp_parsed")))
      .withColumn("reject_reason", reason)
      .withColumn("sink_rows", sinkRows)
      .drop("missing_required")
  }

  /** Routes a [[parse]]d frame: (good silver frame, aligned rejects frame).
    * Each sink is one filter on `reject_reason`. */
  def route(parsed: DataFrame, conf: Conf): (DataFrame, DataFrame) = {
    val reason = col("reject_reason")

    // E1: lineage columns, added after the dedup
    val good = parsed.filter(reason.isNull)
      .select(col("transaction_id"), col("store_id"),
        col("timestamp_parsed").as("timestamp"), col("item_id"),
        col("item_category"), col("clean_quantity").as("quantity"),
        col("clean_unit_price").as("unit_price"),
        col("clean_revenue").as("revenue"), col("payment_method"),
        col("customer_id"), lit(conf.ingestRunId).as("ingest_run_id"),
        lit(conf.sourceFile).as("source_file"),
        current_timestamp().as("ingest_ts"), col("date"))

    // E3: every reject, `sink_rows` times, in the fixed 13-column schema;
    // D5 rejects carry the cleaned numerics and no raw row
    val dq = reason === RejectRow.reasonBusinessLogic
    def cleanedIfDq(c: String) = when(dq, col(s"clean_$c").cast(StringType)).otherwise(col(c))
    val rejects = alignRejectSchema(parsed
      .filter(reason.isNotNull && col("sink_rows") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("sink_rows"))))
      .withColumn("raw_row", when(!dq, col("raw_row")))
      .withColumn("quantity", cleanedIfDq("quantity"))
      .withColumn("unit_price", cleanedIfDq("unit_price"))
      .withColumn("revenue", cleanedIfDq("revenue")))

    (good, rejects)
  }

  /** E3 — the 13 reject columns in the reference's order, strings except
    * timestamp_parsed. Every [[route]]d reject frame carries all of them. */
  def alignRejectSchema(df: DataFrame): DataFrame =
    df.select(RejectRow.columns.map {
      case c @ "timestamp_parsed" => col(c)
      case c => col(c).cast(StringType).as(c)
    }: _*)

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
