package graft.gold

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.{FileOps, LakeLayout}
import graft.model.FactSale

/** Concurrent per-date compaction: dates are disjoint output directories,
  * so `Conf.concurrency` jobs pipeline through the scheduler instead of
  * running strictly sequentially (the reference's loop) — at 100 TB the
  * small/straggler partitions overlap instead of serializing. */
class GoldCompactionSpec extends SparkTestBase {
  import spark.implicits._

  private def sale(txn: String, date: String, qty: Long, price: Double,
      ingestTs: String): FactSale =
    FactSale(txn, s"S1", Timestamp.valueOf(s"$date 12:00:00"), "I1",
      Some("cat"), Some(qty), Some(price), Some(qty * price), Some("Card"),
      Some("CUST0001"), "deadbeef", s"sales_$date.csv",
      Timestamp.valueOf(ingestTs), Date.valueOf(date))

  test("four dates compact concurrently: all written, metrics exact, order kept") {
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
        maxPartitions = 100, concurrency = 4, refreshTable = None))
      // results return in input (ascending-date) order despite concurrency
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

  test("manifest commit: same rows as overwrite mode, invisible to dir listings") {
    val root = java.nio.file.Files.createTempDirectory("graft_goldman_").toString
    val layout = LakeLayout(root)
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val d = "2024-05-01"
    try {
      val rows = (1 to 40).map(j => sale(s"T$j", d, j.toLong, 2.0, s"$d 01:00:00")) ++
        Seq(sale("T1", d, 1L, 2.0, s"$d 02:00:00"))
      rows.toDS().toDF().drop("date")
        .write.mode("overwrite").parquet(layout.processedDate(d))
      val summary = GoldCompaction.run(spark, GoldCompaction.Conf(layout,
        maxPartitions = 100, refreshTable = None, s3SafeCommit = true))
      assert(summary.results.map(_.status) == Seq("written"))
      val m = ManifestCommit.read(fileOps, layout.goldDate(d)).get
      assert(m.rowCount == 40L && m.files.nonEmpty)
      // the committed view has exactly the dedup survivors
      val committed = ManifestCommit
        .readCommitted(spark, fileOps, layout.goldDate(d)).get
      assert(committed.count() == 40L)
      assert(committed.filter(col("transaction_id") === "T1")
        .select(col("ingest_ts")).collect()
        .map(_.getTimestamp(0)).toSeq == Seq(Timestamp.valueOf(s"$d 02:00:00")))
      // _commits/_manifest are underscore-hidden: a directory-listing read
      // of the partition sees NO data files — no reader can half-see a
      // commit (it either resolves a manifest or nothing)
      val listed = spark.read.schema(committed.schema)
        .parquet(layout.goldDate(d))
      assert(listed.count() == 0L)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("kill between data write and publish leaves the previous commit visible") {
    val root = java.nio.file.Files.createTempDirectory("graft_goldkill_").toString
    val layout = LakeLayout(root)
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val dir = s"${layout.goldFactSales}/date=2024-06-01"
    try {
      val v1 = (1 to 10).map(j => (j.toLong, s"v1-$j")).toDF("id", "payload")
      val m1 = ManifestCommit.commit(spark, fileOps, v1, dir, 10L)
      // second writer dies AFTER staging its data, BEFORE the manifest
      // swap — the exact window rename-based commits get wrong on S3
      intercept[RuntimeException] {
        val v2 = (1 to 99).map(j => (j.toLong, s"v2-$j")).toDF("id", "payload")
        ManifestCommit.commit(spark, fileOps, v2, dir, 99L,
          beforePublish = () => throw new RuntimeException("injected crash"))
      }
      val after = ManifestCommit.read(fileOps, dir).get
      assert(after.commitId == m1.commitId && after.rowCount == 10L)
      val rows = ManifestCommit.readCommitted(spark, fileOps, dir).get
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      assert(rows.size == 10 && rows.forall(_.startsWith("v1-")))
      // vacuum reclaims the crashed stage, keeps every live file
      ManifestCommit.vacuum(spark, fileOps, dir)
      assert(ManifestCommit.readCommitted(spark, fileOps, dir).get.count() == 10L)
      val commitDirs = new java.io.File(s"$dir/_commits".stripPrefix("file:"))
        .listFiles().map(_.getName).toSeq
      assert(commitDirs == Seq(s"c-${m1.commitId}"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("concurrent committers: last manifest wins wholesale, never interleaved") {
    val root = java.nio.file.Files.createTempDirectory("graft_goldrace_").toString
    val layout = LakeLayout(root)
    val fileOps = new FileOps(spark.sparkContext.hadoopConfiguration)
    val dir = s"${layout.goldFactSales}/date=2024-07-01"
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val fa = Future(ManifestCommit.commit(spark, fileOps,
        (1 to 7).map(j => (j.toLong, "a")).toDF("id", "tag"), dir, 7L))
      val fb = Future(ManifestCommit.commit(spark, fileOps,
        (1 to 13).map(j => (j.toLong, "b")).toDF("id", "tag"), dir, 13L))
      val (ma, mb) = (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
      val fin = ManifestCommit.read(fileOps, dir).get
      // the surviving manifest is exactly ONE committer's, wholesale
      assert(fin.commitId == ma.commitId || fin.commitId == mb.commitId)
      val winner = if (fin.commitId == ma.commitId) ma else mb
      assert(fin.files == winner.files && fin.rowCount == winner.rowCount)
      val rows = ManifestCommit.readCommitted(spark, fileOps, dir).get
        .select("tag").distinct().collect().map(_.getString(0)).toSeq
      assert(rows.size == 1) // one writer's rows only, never a mixture
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
