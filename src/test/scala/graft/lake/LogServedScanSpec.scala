package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** r18 optimization pins: the log-served scan fast path (zero listing /
  * zero schema inference — manifest sizes + dir schemas feed the scan
  * directly) must (1) actually engage on a uniform-schema table,
  * (2) serve byte-identical rows to the path-based read, (3) engage on
  * schema-divergent (additively evolved) eras too, serving their merged
  * log schema with the older eras' rows null in the added column,
  * (4) the KMV sketch single-pass rewrite must emit the same bottom-k
  * sets and null counts the per-column passes did, and (5) the V2
  * catalog table serves the log's schema, properties and a log-fed scan
  * for uniform, additively evolved and stats-pruned versions alike. */
class LogServedScanSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  import LogServedScanSpec.scanIndex

  test("log-served scan engages on a uniform table and matches the data") {
    val t = freshDir("logscan") + "/t"
    val df = (1L to 500L).map(i => (i, s"name$i", i % 7))
      .toDF("id", "name", "grp")
    Snapshots.append(spark, t, df.filter($"id" % 2 === 0))
    Snapshots.append(spark, t, df.filter($"id" % 2 === 1))
    val before = Snapshots.logServedScans.get()
    val served = Snapshots.readLatest(spark, t).get
    assert(Snapshots.logServedScans.get() == before + 1,
      "uniform-schema read must take the log-served fast path")
    // plan leaf must be a FileSourceScan (full pushdown machinery) over
    // the log-fed index — the one the DSv2 catalog table serves too
    val leaves = served.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      s"expected FileSourceScanExec leaf, got $leaves")
    assert(scanIndex(served) == "LogFedFileIndex")
    val root = t.stripSuffix("/t")
    val cat = s"lss_${Integer.toHexString(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val sql = spark.sql(s"SELECT * FROM $cat.t")
    assert(scanIndex(sql) == "LogFedFileIndex")
    assert(sql.count() == 500L)
    // identical rows to the raw path-based read of the same files
    val files = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get.files
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => s"$t/$f"): _*)
    assert(served.exceptAll(raw).isEmpty && raw.exceptAll(served).isEmpty)
    // pushdown still reaches the scan through the fast path
    val filtered = Snapshots.readLatest(spark, t).get.filter($"id" === 42L)
    val fscan = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(fscan.metadata("PushedFilters").contains("IsNotNull(id)"),
      s"pushed filters lost: ${fscan.metadata("PushedFilters")}")
    assert(filtered.count() == 1L)
  }

  test("a table dropped and re-created in one JVM reads log-served") {
    val t = freshDir("logscan_recreate") + "/t"
    Snapshots.append(spark, t, (1L to 50L).toDF("id"))
    assert(Snapshots.readLatest(spark, t).get.count() == 50L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    // the new incarnation restarts at version 1 over different files
    Snapshots.append(spark, t, (100L to 120L).toDF("id"))
    val before = Snapshots.logServedScans.get()
    val served = Snapshots.readLatest(spark, t).get
    assert(Snapshots.logServedScans.get() == before + 1,
      "the re-created table's read must take the log-served fast path")
    assert(served.as[Long].collect().sorted.toSeq == (100L to 120L))
  }

  test("schema-divergent eras read log-fed under their merged schema") {
    val t = freshDir("logscan_evo") + "/t"
    Snapshots.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
    Snapshots.append(spark, t,
      Seq((2L, "b", 9L)).toDF("id", "name", "extra"))
    val before = Snapshots.logServedScans.get()
    val served = Snapshots.readLatest(spark, t).get
    assert(served.count() == 2L)
    assert(Snapshots.logServedScans.get() == before + 1,
      "divergent-era read must take the log-served fast path")
    assert(served.filter($"extra".isNull).count() == 1L)
  }

  test("the V2 table serves the log's schema, properties and scan: uniform, additive, #pruned") {
    import scala.jdk.CollectionConverters._
    val root = freshDir("logscan_v2")
    val t = s"$root/t"
    val cat = s"lsv2_${Integer.toHexString(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def band(lo: Long, hi: Long) = (lo to hi).toDF("id")
      .withColumn("name", concat(lit("n"), $"id"))
    Snapshots.append(spark, t, band(1L, 100L), statsCols = Seq("id"))
    val vUniform = Snapshots.setTableProperties(spark, t,
      Map("owner" -> "lake", "tier" -> "gold"))
    val vAdditive = Snapshots.append(spark, t,
      band(101L, 200L).withColumn("extra", $"id" % 7), statsCols = Seq("id"))
    for ((label, v, where) <- Seq(
        ("uniform", vUniform, ""),
        ("additive", vAdditive, ""),
        ("#pruned", vAdditive, " WHERE id > 150"))) {
      val df = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v$where")
      val table = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.relation.table
      }.get.asInstanceOf[SnapshotReadTable]
      val s = Snapshots.snapshot(spark, t, v).get
      assert(table.name().contains("#pruned") == (label == "#pruned") &&
        table.prunedFiles.forall(_.size < s.files.size),
        s"$label: table ${table.name()}")
      assert(table.schema() == Snapshots.readAt(spark, t, v).get.schema,
        s"$label: schema")
      assert(scanIndex(df) == "LogFedFileIndex", s"$label: scan index")
      assert(s.properties.nonEmpty &&
        table.properties().asScala.toMap == s.properties, s"$label: properties")
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(s.files.map(f => s"$t/$f"): _*)
        .where(if (where.isEmpty) "true" else where.stripPrefix(" WHERE "))
        .select(df.columns.map(col): _*)
      assert(raw.count() > 0 &&
        df.exceptAll(raw).isEmpty && raw.exceptAll(df).isEmpty, s"$label: rows")
    }
  }

  test("single-pass KMV sketches equal the independent per-column answer") {
    val t = freshDir("kmv") + "/t"
    val df = Seq[(java.lang.Long, String)](
      (1L, "x"), (2L, "y"), (3L, null), (null, "x"), (2L, "z"))
      .toDF("k", "s")
    Snapshots.createTable(spark, t,
      Seq(("k", "BIGINT", None), ("s", "STRING", None)),
      properties = Map(Snapshots.SketchColumnsKey -> "k,s"))
    Snapshots.append(spark, t, df)
    val v = Snapshots.latestVersion(spark, t).get
    // ndvAt must serve exact counts below k=64 (sketch is exact there):
    // distinct non-null k = {1,2,3} → 3; distinct s = {x,y,z} → 3
    assert(Snapshots.ndvAt(spark, t, v, "k").contains(3L))
    assert(Snapshots.ndvAt(spark, t, v, "s").contains(3L))
  }

  test("BottomKDistinct is the sorted distinct bottom-k, nulls skipped") {
    val df = Seq[java.lang.Long](9L, 1L, 5L, 1L, null, 3L, 5L, 2L)
      .toDF("v").withColumn("g", lit(1))
    val got = df.groupBy("g")
      .agg(graft.functions.BottomKDistinct.column(col("v"), 3).as("bk"))
      .head().getSeq[Long](1)
    assert(got == Seq(1L, 2L, 3L), s"got $got")
  }
}

object LogServedScanSpec {

  /** Simple class name of the file index under `df`'s one scan leaf —
    * V1 FileSourceScan or DSv2 FileScan alike. */
  def scanIndex(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan] =>
        b.scan.asInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileScan].fileIndex
    }.map(_.getClass.getSimpleName).getOrElse(throw new AssertionError(
      s"no file scan leaf in ${df.queryExecution.sparkPlan}"))
}
