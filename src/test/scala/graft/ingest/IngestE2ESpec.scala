package graft.ingest

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.gold.GoldCompaction
import graft.lake.{FileOps, LakeLayout}

/** Golden end-to-end: the 5 adversarial reference sample CSVs through
  * preflight → bronze→silver → gold compaction, with frozen counts
  * (FIXTURES.md §2: "golden counts to be generated by the first
  * implementation run and frozen" — these are that freeze; spot-checked
  * against an independent line-level audit of the CSVs).
  */
class IngestE2ESpec extends SparkTestBase with BeforeAndAfterAll {

  private val sampleDir = "/root/reference/sample_csv_files"
  private val sampleFiles = Seq(
    "sales_2024-10-16.csv", "sales_2024-12-07.csv", "sales_2025-06-12.csv",
    "sales_2025-09-03.csv", "sales_2025-10-18.csv")

  private lazy val lakeRoot =
    Files.createTempDirectory("graft_lake_").toString
  private lazy val layout = LakeLayout(lakeRoot)

  private lazy val results: Map[String, BronzeToSilver.Result] = {
    Files.createDirectories(Paths.get(layout.raw))
    sampleFiles.map { f =>
      Files.copy(Paths.get(s"$sampleDir/$f"), Paths.get(s"${layout.raw}/$f"),
        StandardCopyOption.REPLACE_EXISTING)
      val Right(r) = BronzeToSilver.ingestFile(spark, s"${layout.raw}/$f", layout)
      f -> r
    }.toMap
  }

  test("all five sample files pass preflight and ingest") {
    assert(results.size == 5)
    results.foreach { case (f, r) => assert(r.totalRows > 1000, f) }
  }

  test("golden per-file good/reject counts") {
    def m(f: String) = {
      val r = results(f)
      (r.totalRows, r.goodRows,
        r.rejectsByReason.getOrElse("MISSING_REQUIRED_COLUMN", 0L),
        r.rejectsByReason.getOrElse("INVALID_TIMESTAMP_FORMAT", 0L),
        r.rejectsByReason.getOrElse("BUSINESS_LOGIC_FAIL", 0L))
    }
    // (total, good, missing_required, invalid_ts, business_logic)
    val golden = Map(
      "sales_2024-10-16.csv" -> (1241L, 828L, 0L, 406L, 7L),
      "sales_2024-12-07.csv" -> (1500L, 1032L, 24L, 437L, 7L),
      "sales_2025-06-12.csv" -> (1646L, 1119L, 33L, 484L, 10L),
      "sales_2025-09-03.csv" -> (1459L, 964L, 21L, 462L, 12L),
      "sales_2025-10-18.csv" -> (1699L, 1110L, 38L, 539L, 12L))
    val actual = sampleFiles.map(f => f -> m(f)).toMap
    info(actual.toSeq.sortBy(_._1).map { case (f, t) => s"$f -> $t" }.mkString("\n"))
    assert(actual == golden)
  }

  test("silver layout is date-partitioned parquet with the full schema") {
    val silver = spark.read.parquet(layout.processed)
    val cols = silver.columns.toSet
    assert(graft.model.Schemas.silver.fields.map(_.name).forall(cols.contains))
    assert(silver.count() == results.values.map(_.goodRows).sum)
  }

  test("gold compaction dedups, writes audit metrics, and is idempotent") {
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val conf = GoldCompaction.Conf(layout, maxPartitions = 100)
    val s1 = GoldCompaction.run(spark, conf)
    assert(s1.processedPartitions.nonEmpty)
    assert(s1.results.forall(_.status == "written"))
    val goldCount = spark.read.parquet(layout.goldFactSales).count()
    assert(goldCount <= results.values.map(_.goodRows).sum)
    // every gold row carries a 32-hex row_hash
    val gold = spark.read.parquet(layout.goldFactSales)
    assert(gold.columns.contains("row_hash"))
    // audit sidecars exist
    s1.processedPartitions.foreach { d =>
      assert(fileOps.exists(layout.auditMetrics(d)), d)
    }
    assert(fileOps.exists(layout.auditSummary))
    // incremental: nothing left to do on a second run
    val s2 = GoldCompaction.run(spark, conf)
    assert(s2.processedPartitions.isEmpty)
    // idempotent: reprocess rewrites identical row counts
    val s3 = GoldCompaction.run(spark, conf.copy(reprocess = true))
    assert(spark.read.parquet(layout.goldFactSales).count() == goldCount)
    assert(s3.results.map(_.rows_after_dedup).sum == goldCount)
  }

  test("reject sinks carry the fixed 13-column schema (JSON + single CSV)") {
    // force materialization of results first
    assert(results.size == 5)
    val json = spark.read.json(layout.rejectedDqJson)
    assert(graft.model.RejectRow.columns.toSet.subsetOf(json.columns.toSet))
    val csv = spark.read.option("header", true).csv(layout.rejectedDqCsv)
    assert(csv.columns.toSeq == graft.model.RejectRow.columns)
    // CSV coalesce(1): one part file per ingest run
    val csvFiles = new java.io.File(layout.rejectedDqCsv)
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(csvFiles == 5)
    val reasons = json.select("reject_reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons == Set("MISSING_REQUIRED_COLUMN",
      "INVALID_TIMESTAMP_FORMAT", "BUSINESS_LOGIC_FAIL"))
  }

  test("reference null-DQ mode (strictNullDq=false) silently drops null-numeric rows") {
    // SURVEY §2.G Q4: under 3VL the reference loses rows whose numerics
    // clean to null; our default routes them to BUSINESS_LOGIC_FAIL.
    val root = Files.createTempDirectory("graft_q4_").toString
    val l2 = LakeLayout(root)
    Files.createDirectories(Paths.get(l2.raw))
    val f = "sales_2024-10-16.csv" // has 3 N/A quantities
    Files.copy(Paths.get(s"$sampleDir/$f"), Paths.get(s"${l2.raw}/$f"))
    val Right(ref) = BronzeToSilver.ingestFile(spark, s"${l2.raw}/$f", l2,
      strictNullDq = false)
    val strict = results(f)
    // reference mode: fewer accounted rows — the difference is exactly the
    // silently-vanished null-numeric rows
    assert(ref.totalRows < strict.totalRows)
    assert(ref.goodRows == strict.goodRows)
    val vanished = strict.totalRows - ref.totalRows
    assert(vanished ==
      strict.rejectsByReason("BUSINESS_LOGIC_FAIL") -
        ref.rejectsByReason.getOrElse("BUSINESS_LOGIC_FAIL", 0L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("F1-F3: SQL surface over the registered gold table") {
    import graft.queries.LakeCatalog
    LakeCatalog.registerFactSales(spark, layout)
    val daily = LakeCatalog.dailyRevenue(spark).collect()
    assert(daily.nonEmpty)
    // dates arrive descending and revenue sums are finite
    val dates = daily.map(_.getDate(0).toString)
    assert(dates.sameElements(dates.sorted.reverse))
    val top = LakeCatalog.topProducts(spark).collect()
    assert(top.length <= 10 && top.nonEmpty)
    val revs = top.map(_.getDouble(1))
    assert(revs.sameElements(revs.sorted.reverse))
  }

  test("F1: fact_sales is a catalog table — external, new-session visible, partition-pruned") {
    import graft.queries.LakeCatalog
    LakeCatalog.registerFactSales(spark, layout)
    // catalog-level registration, not a temp view: an EXTERNAL table whose
    // drop never touches data, visible from a fresh session (temp views
    // are not) — the analyst-reconnect semantics of the reference's
    // Athena DDL; on a metastore-backed catalog the same DDL survives
    // process restarts
    val tbl = spark.catalog.getTable(LakeCatalog.db, "fact_sales")
    assert(tbl.tableType == "EXTERNAL")
    val fresh = spark.newSession()
    assert(fresh.sql(s"SELECT count(*) FROM ${LakeCatalog.factSalesTable}")
      .collect()(0).getLong(0) > 0)
    // MSCK discovered the hive-style date partitions
    val parts = spark.sql(s"SHOW PARTITIONS ${LakeCatalog.factSalesTable}")
      .collect().map(_.getString(0))
    assert(parts.length == 5 && parts.forall(_.startsWith("date=")))
    // a date-filtered read prunes at the partition level
    import org.apache.spark.sql.functions.col
    val oneDate = java.sql.Date.valueOf("2024-10-16")
    val pruned = spark.table(LakeCatalog.factSalesTable)
      .filter(col("date") === oneDate)
    assert(pruned.count() == 828)
    val scan = pruned.queryExecution.executedPlan.toString
    // the PartitionFilters bracket itself must carry the date predicate —
    // a bare contains("date") is vacuous for a date-partitioned scan
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(pf.contains("date"), scan)
  }

  test("gold dedup removes duplicate transaction_ids within a date") {
    import org.apache.spark.sql.functions._
    val gold = spark.read.parquet(layout.goldFactSales)
    val dups = gold.groupBy("date", "transaction_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("B3 failure half: ETL exception routes file to rejected/system with sidecar + alert") {
    val root = Files.createTempDirectory("graft_sysrej_").toString
    val l2 = LakeLayout(root)
    Files.createDirectories(Paths.get(l2.raw))
    val f = "sales_2024-10-16.csv"
    Files.copy(Paths.get(s"$sampleDir/$f"), Paths.get(s"${l2.raw}/$f"))
    // inject a mid-job failure: the processed zone is an unwritable plain
    // file, so the silver staging write throws after preflight passed
    Files.writeString(Paths.get(l2.processed), "not a directory")
    val notifier = new graft.lake.Notifier.Buffering
    val res = BronzeToSilver.ingestFile(spark, s"${l2.raw}/$f", l2,
      notifier = notifier)
    // typed system reject, not structural
    assert(res.isLeft)
    val Left(rej: BronzeToSilver.IngestReject.SystemFailure) = res
    assert(rej.kind == "SYSTEM")
    // the file landed in rejected/system/ under its traceable validated name
    val sysDir = new java.io.File(l2.rejectedSystem)
    val moved = sysDir.listFiles().filter(_.getName.endsWith(".csv"))
    assert(moved.length == 1 && moved.head.getName.contains("validated"))
    // reason sidecar exists and carries the error + run id
    val sidecar = new java.io.File(l2.rejectedSystem,
      moved.head.getName + "_reason.json")
    assert(sidecar.exists())
    val reason = Files.readString(sidecar.toPath)
    assert(reason.contains("error") && reason.contains("ingest_run_id"))
    // alert fired
    assert(notifier.sent.map(_._1) == Seq("SYSTEM FAILURE"))
    assert(notifier.sent.head._2.contains("validated"))
    // nothing stranded in validated/, nothing left in raw/
    val validatedDir = new java.io.File(l2.validated)
    assert(!validatedDir.exists() || validatedDir.listFiles().isEmpty)
    assert(new java.io.File(l2.raw).listFiles().forall(!_.isFile))
    // no partial silver: no staging remnants anywhere under the root
    def walk(d: java.io.File): Seq[java.io.File] =
      if (!d.isDirectory) Seq(d)
      else d.listFiles().toSeq.flatMap(walk) :+ d
    assert(walk(new java.io.File(root)).forall(!_.getName.startsWith("_staging_")))
    // the watcher reports it as a system reject and does NOT double-alert
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("system failure via the watcher: single alert, reported as SYSTEM") {
    val root = Files.createTempDirectory("graft_sysrej2_").toString
    val l2 = LakeLayout(root)
    Files.createDirectories(Paths.get(l2.raw))
    Files.copy(Paths.get(s"$sampleDir/sales_2024-12-07.csv"),
      Paths.get(s"${l2.raw}/sales_2024-12-07.csv"))
    Files.writeString(Paths.get(l2.processed), "not a directory")
    val notifier = new graft.lake.Notifier.Buffering
    val tick = graft.streaming.StreamingIngest.pollOnce(spark, l2,
      notifier = notifier)
    assert(tick.ingested.isEmpty && tick.rejected.size == 1)
    assert(tick.rejected.head._2.kind == "SYSTEM")
    // exactly one SYSTEM FAILURE alert (from ingestFile), no structural echo
    assert(notifier.sent.map(_._1) == Seq("SYSTEM FAILURE"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("gold reads as the typed Dataset[FactSale] boundary") {
    import spark.implicits._
    // runs after compaction (suite is sequential); row_hash is extra and
    // ignored by the encoder, date comes from partition discovery
    val ds = spark.read.parquet(layout.goldFactSales).as[graft.model.FactSale]
    val rows = ds.take(10)
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.transaction_id.nonEmpty && r.timestamp != null))
    // typed filters compile and execute over the full table
    assert(ds.filter(f => f.quantity.exists(_ >= 0)).count() > 0)
  }

  test("F1 epilogue: compaction registers its dates in the catalog table") {
    import graft.queries.LakeCatalog
    import org.apache.spark.sql.functions.col
    LakeCatalog.registerFactSales(spark, layout)
    val before = spark.sql(s"SHOW PARTITIONS ${LakeCatalog.factSalesTable}")
      .collect().map(_.getString(0)).toSet
    // a new silver date lands (clone an existing date's files)
    val newDate = "2031-01-01"
    val src = new java.io.File(layout.processedDate("2024-10-16"))
    val dst = new java.io.File(layout.processedDate(newDate))
    org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    // compact it — run()'s epilogue must refresh the catalog, NOT the test
    val s = GoldCompaction.run(spark,
      GoldCompaction.Conf(layout, maxPartitions = 100))
    assert(s.processedPartitions == Seq(newDate))
    val after = spark.sql(s"SHOW PARTITIONS ${LakeCatalog.factSalesTable}")
      .collect().map(_.getString(0)).toSet
    assert(!before.contains(s"date=$newDate"))
    assert(after == before + s"date=$newDate")
    // the analyst query path sees the new date without re-registering,
    // and still prunes at the partition level
    val pruned = spark.table(LakeCatalog.factSalesTable)
      .filter(col("date") === java.sql.Date.valueOf(newDate))
    assert(pruned.count() == s.results.head.rows_after_dedup)
    val scan = pruned.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(pf.contains("date"), scan)
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lakeRoot))
    ()
  }
}
