package graft.gold

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.{FileOps, LakeLayout}
import graft.model.FactSale

/** Gold compaction compacts every selected date in one plan (one read, one
  * window, one partitioned write) where the reference loops date by date. */
class GoldCompactionSpec extends SparkTestBase {
  import spark.implicits._

  private def sale(txn: String, date: String, qty: Long, price: Double,
      ingestTs: String): FactSale =
    FactSale(txn, s"S1", Timestamp.valueOf(s"$date 12:00:00"), "I1",
      Some("cat"), Some(qty), Some(price), Some(qty * price), Some("Card"),
      Some("CUST0001"), "deadbeef", s"sales_$date.csv",
      Timestamp.valueOf(ingestTs), Date.valueOf(date))

  /** A fresh lake under a temp dir, deleted after `body`. */
  private def withLake[A](prefix: String)(body: (LakeLayout, FileOps) => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(LakeLayout(root), new FileOps(spark.sparkContext.hadoopConfiguration))
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** `n` silver rows of `date` (ids `T<date>-1..n`) plus a later re-send of
    * id 1, written into the date's processed directory. */
  private def writeSilver(layout: LakeLayout, d: String, n: Int): Unit =
    ((1 to n).map(j => sale(s"T$d-$j", d, j.toLong, 2.0, s"$d 01:00:00")) :+
      sale(s"T$d-1", d, 1L, 2.0, s"$d 02:00:00"))
      .toDS().toDF().drop("date")
      .write.mode("overwrite").parquet(layout.processedDate(d))

  test("four dates compact in one plan: metrics exact, order kept") {
    val root = java.nio.file.Files.createTempDirectory("graft_goldconc_").toString
    val layout = LakeLayout(root)
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val dates = Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04")
    try {
      dates.zipWithIndex.foreach { case (d, i) =>
        val rows = (1 to 50 + i).map(j => sale(s"T$d-$j", d, j.toLong, 2.0,
          s"$d 01:00:00")) ++
          // one duplicate transaction_id per date with a later ingest_ts —
          // latest-wins dedup must keep exactly one survivor
          Seq(sale(s"T$d-1", d, 1L, 2.0, s"$d 02:00:00"))
        rows.toDS().toDF().drop("date")
          .write.mode("overwrite").parquet(layout.processedDate(d))
      }
      val summary = GoldCompaction.run(spark, GoldCompaction.Conf(layout,
        maxPartitions = 100, refreshTable = None))
      // results return in input (ascending-date) order
      assert(summary.results.map(_.target_date) == dates)
      summary.results.zipWithIndex.foreach { case (m, i) =>
        assert(m.status == "written", s"${m.target_date}: ${m.error}")
        assert(m.total_rows_in_source_partition == 51L + i)
        assert(m.rows_after_dedup == 50L + i)
        assert(m.duplicate_rows_removed == 1L)
        assert(fileOps.exists(layout.auditMetrics(m.target_date)))
      }
      // every gold partition is independently readable with the survivors
      dates.zipWithIndex.foreach { case (d, i) =>
        val gold = spark.read.parquet(layout.goldDate(d))
        assert(gold.count() == 50L + i)
        // the dup key's survivor carries the LATER ingest_ts
        val surv = gold.filter(col("transaction_id") === s"T$d-1")
          .select(col("ingest_ts")).collect()
        assert(surv.length == 1 &&
          surv(0).getTimestamp(0) == Timestamp.valueOf(s"$d 02:00:00"))
      }
      assert(fileOps.exists(layout.auditSummary))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("latest-wins: a row with no ingest_ts outranks every stamped row, as the compaction time would") {
    val stamped = Seq("2024-03-01 01:00:00", "2024-03-01 02:00:00")
      .map(ts => sale("T1", "2024-03-01", 1L, 2.0, ts))
    val df = (stamped.toDF().withColumn("source_file", lit("stamped")) union
      Seq(sale("T1", "2024-03-01", 1L, 2.0, "2024-03-01 00:00:00")).toDF()
        .withColumn("source_file", lit("unstamped"))
        .withColumn("ingest_ts", lit(null).cast("timestamp")))
    val survivors = GoldCompaction.compactFrame(df).select("source_file").as[String].collect()
    assert(survivors.toSeq == Seq("unstamped"))
    val latest = GoldCompaction.compactFrame(stamped.toDF())
      .select(col("ingest_ts").cast("string")).as[String].collect()
    assert(latest.toSeq == Seq("2024-03-01 02:00:00"))
  }

  test("typed doubles pass through unchanged: no scientific-notation re-clean") {
    withLake("graft_goldd6_") { (layout, _) =>
      val d = "2024-08-01"
      // 12345678.0 and 0.0005 print as 1.2345678E7 and 5.0E-4
      Seq(
        sale("T1", d, 1L, 12345678.0, s"$d 01:00:00"),
        sale("T2", d, 2L, 0.0005, s"$d 01:00:00").copy(revenue = Some(0.001)))
        .toDS().toDF().drop("date")
        .write.mode("overwrite").parquet(layout.processedDate(d))
      val m = GoldCompaction.run(spark, GoldCompaction.Conf(layout,
        refreshTable = None)).results.head
      assert(m.status == "written", m.error)
      assert(m.dq_balance_issues == 0L)
      val gold = spark.read.parquet(layout.goldDate(d))
        .select("transaction_id", "unit_price", "revenue").as[(String, Double, Double)]
        .collect().sortBy(_._1).toSeq
      assert(gold == Seq(("T1", 12345678.0, 12345678.0), ("T2", 0.0005, 0.001)))
    }
  }

  test("an unreadable silver file fails every date; earlier gold stays") {
    withLake("graft_goldfail_") { (layout, fileOps) =>
      val dates = Seq("2024-09-01", "2024-09-02")
      dates.foreach(writeSilver(layout, _, 20))
      val conf = GoldCompaction.Conf(layout, refreshTable = None)
      assert(GoldCompaction.run(spark, conf).results.forall(_.status == "written"))
      fileOps.writeString(s"${layout.processedDate(dates(1))}/part-bad.parquet",
        "not a parquet file")
      val failed = GoldCompaction.run(spark, conf.copy(reprocess = true)).results
      assert(failed.map(_.target_date) == dates)
      failed.foreach { m =>
        assert(m.status == "failed" && m.error.nonEmpty, m)
        val audit = graft.lake.Json.parseObject(
          fileOps.readString(layout.auditMetrics(m.target_date)))
        assert(audit("status") == "failed", audit)
      }
      dates.foreach(d => assert(spark.read.parquet(layout.goldDate(d)).count() == 20L))
    }
  }

  test("a forced date with no silver rows is no_input, with no audit file") {
    withLake("graft_goldnoin_") { (layout, fileOps) =>
      val (d1, d2) = ("2024-10-01", "2024-10-02")
      writeSilver(layout, d1, 5)
      new java.io.File(layout.processedDate(d2)).mkdirs()
      val results = GoldCompaction.run(spark, GoldCompaction.Conf(layout,
        forceDates = Seq(d1, d2), refreshTable = None)).results
      assert(results.map(m => m.target_date -> m.status) ==
        Seq(d1 -> "written", d2 -> "no_input"))
      assert(fileOps.exists(layout.auditMetrics(d1)))
      assert(!fileOps.exists(layout.auditMetrics(d2)))
      assert(!fileOps.exists(layout.goldDate(d2)))
    }
  }

  test("E7: each gold date is at most coalesceFiles files, sorted in name order") {
    withLake("graft_goldsort_") { (layout, _) =>
      val dates = Seq("2024-11-01", "2024-11-02")
      val rnd = new scala.util.Random(7)
      dates.foreach { d =>
        rnd.shuffle((1 to 3000).toList)
          .map(j => sale(f"T$j%05d", d, 1L, 2.0, s"$d 01:00:00"))
          .toDS().toDF().drop("date").repartition(5)
          .write.mode("overwrite").parquet(layout.processedDate(d))
      }
      // a small advisory size makes this input worth more than 3 runs
      val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      spark.conf.set(advisory, "16k")
      try GoldCompaction.run(spark, GoldCompaction.Conf(layout,
        coalesceFiles = 3, refreshTable = None))
      finally spark.conf.unset(advisory)
      dates.foreach { d =>
        val files = new java.io.File(layout.goldDate(d)).listFiles()
          .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
        assert(files.size > 1 && files.size <= 3, files)
        val ids = files.flatMap(f =>
          spark.read.parquet(f).select("transaction_id").as[String].collect())
        assert(ids.size == 3000 && ids == ids.sorted, d)
      }
    }
  }

  test("job budget: four dates compact in at most six Spark jobs") {
    withLake("graft_goldjobs_") { (layout, _) =>
      val dates = Seq("2024-12-01", "2024-12-02", "2024-12-03", "2024-12-04")
      dates.foreach(writeSilver(layout, _, 30))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.currentTimeMillis() // the silver writes' jobs start before
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.time >= t0) jobs.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val s = GoldCompaction.run(spark,
          GoldCompaction.Conf(layout, refreshTable = None))
        Thread.sleep(500) // let job-start events drain to the listener
        assert(s.results.map(_.status) == Seq.fill(4)("written"))
        assert(jobs.get() <= 6, s"4-date compaction ran ${jobs.get()} Spark jobs")
      } finally spark.sparkContext.removeSparkListener(l)
    }
  }

  test("catalog refresh: a rewritten and a new date are visible in the session") {
    import graft.queries.LakeCatalog
    val table = LakeCatalog.factSalesTable
    withLake("graft_goldcat_") { (layout, _) =>
      val (d1, d2) = ("2025-01-01", "2025-01-02")
      writeSilver(layout, d1, 10)
      GoldCompaction.run(spark, GoldCompaction.Conf(layout))
      LakeCatalog.registerFactSales(spark, layout)
      try {
        assert(spark.table(table).count() == 10L) // caches the file listing
        // d1 gains rows (new ids) and d2 lands: one run rewrites one
        // registered date and adds one
        (11 to 14).map(j => sale(s"T$d1-$j", d1, 1L, 2.0, s"$d1 03:00:00"))
          .toDS().toDF().drop("date")
          .write.mode("append").parquet(layout.processedDate(d1))
        writeSilver(layout, d2, 7)
        GoldCompaction.run(spark, GoldCompaction.Conf(layout,
          forceDates = Seq(d1, d2)))
        val byDate = spark.table(table).groupBy(col("date").cast("string"))
          .count().as[(String, Long)].collect().toMap
        assert(byDate == Map(d1 -> 14L, d2 -> 7L))
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
