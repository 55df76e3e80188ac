package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[SnapshotCatalog]] contracts the q179 gate can't see: V2 pushdown
  * through the catalog scan, merge-on-read/rename refusal (never wrong
  * rows), read-only DDL, and version routing. */
class SnapshotCatalogSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def orders = graft.queries.Tables(spark, sfDir, "orders")

  private def freshCatalog(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft_snapcat_$tag").toString
    val cat = s"sc_${tag}_${System.nanoTime().toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("VERSION AS OF routes to the pinned version; bare name is latest") {
    val (cat, root) = freshCatalog("vers")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    val n1 = orders.filter(col("o_orderkey") % 3 === 0).count()
    val n12 = orders.filter(col("o_orderkey") % 3 <= 1).count()
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").count() == n1)
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").count() == n12)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == n12)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("TIMESTAMP AS OF resolves through recorded commit timestamps") {
    val (cat, root) = freshCatalog("ts")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    val n1 = orders.filter(col("o_orderkey") % 3 === 0).count()
    val n12 = orders.filter(col("o_orderkey") % 3 <= 1).count()
    val ts1 = Snapshots.snapshot(spark, t, 1).get.commitTs
    val ts2 = Snapshots.snapshot(spark, t, 2).get.commitTs
    assert(ts2 > ts1, "commit timestamps must be strictly increasing")
    def lit(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    assert(spark.sql(
      s"SELECT * FROM $cat.t TIMESTAMP AS OF '${lit(ts1)}'").count() == n1)
    assert(spark.sql(
      s"SELECT * FROM $cat.t TIMESTAMP AS OF '${lit(ts2)}'").count() == n12)
    // before the first commit: no resolvable version
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t TIMESTAMP AS OF '${lit(ts1 - 1)}'").count())
    assert(e != null)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("catalog scans push filters and prune columns like a native V2 table") {
    val (cat, root) = freshCatalog("push")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders)
    val df = spark.sql(
      s"SELECT o_orderkey FROM $cat.t WHERE o_orderkey = 5")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,5)]")
      || plan.contains("EqualTo(o_orderkey,5)"), plan.take(2000))
    // column pruning: the scan reads only the selected column
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      plan.take(2000))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("merge-on-read snapshots serve SQL reads: tombstones never resurrect") {
    val (cat, root) = freshCatalog("mor")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(200))
    Snapshots.deleteWhere(spark, t, col("o_totalprice") < 50000)
    // SQL over the MoR version == the era-aware DataFrame read, row for row
    val sql = spark.sql(s"SELECT * FROM $cat.t")
    val api = Snapshots.readLatest(spark, t).get
    assert(sql.exceptAll(api).isEmpty && api.exceptAll(sql).isEmpty)
    // the pre-delete version still serves as a plain V2 parquet scan
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").count() == 200)
    // and VERSION AS OF the MoR version routes through the rewrite too
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
      .head().getLong(0) == api.count())
    // an OPTIMIZEd (rewritten) table keeps serving
    Snapshots.optimize(spark, t)
    val live = spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
    assert(live == Snapshots.readLatest(spark, t).get.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("renamed and widened snapshots serve SQL under current names/types") {
    val (cat, root) = freshCatalog("ren")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(100))
    Snapshots.renameColumn(spark, t, "o_orderpriority", "o_prio")
    val sql = spark.sql(s"SELECT o_prio, count(*) AS n FROM $cat.t GROUP BY 1")
    assert(sql.columns.contains("o_prio"))
    assert(sql.agg(sum(col("n"))).head().getLong(0) == 100)
    // time travel below the rename keeps the era's own name
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .columns.contains("o_orderpriority"))
    // int→long widened eras: SQL serves the widened union type
    val t2 = s"$root/t2"
    Snapshots.append(spark, t2, orders.limit(50)
      .withColumn("units", (col("o_orderkey") % 100).cast("int")))
    Snapshots.append(spark, t2, orders.limit(50)
      .withColumn("units", col("o_orderkey").cast("long") + 10000000000L))
    val w = spark.sql(s"SELECT sum(units) AS s FROM $cat.t2")
    assert(w.schema("s").dataType.typeName == "long")
    assert(w.head().getLong(0) ==
      Snapshots.readAt(spark, t2, 2).get
        .agg(sum(col("units"))).head().getLong(0))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("MoR rewrite keeps column pruning: scans read only referenced columns") {
    val (cat, root) = freshCatalog("morprune")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(200))
    Snapshots.deleteWhere(spark, t, col("o_totalprice") < 50000)
    val df = spark.sql(s"SELECT o_orderkey FROM $cat.t WHERE o_orderkey = 5")
    val plan = df.queryExecution.executedPlan.toString
    // the data-side scan must NOT read the full orders schema — just the
    // projected key plus what the tombstone anti-join needs (row ordinals
    // come from _metadata, not data columns)
    assert(!plan.contains("o_orderpriority"), plan.take(3000))
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(o_orderkey,5)"), plan.take(3000))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("SQL DML routes to the log: DELETE / UPDATE / MERGE INTO") {
    val (cat, root) = freshCatalog("dml")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(200))
    // DELETE
    spark.sql(s"DELETE FROM $cat.t WHERE o_totalprice < 50000")
    val wantDel = orders.limit(200).filter(col("o_totalprice") >= 50000)
    assert(Snapshots.latestVersion(spark, t).contains(2))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      wantDel.count())
    // UPDATE (multi-SET, RHS sees pre-update values)
    spark.sql(s"UPDATE $cat.t SET o_totalprice = o_totalprice + 100000, " +
      s"o_orderpriority = '9-SQL' WHERE o_totalprice >= 200000")
    val updated = spark.sql(
      s"SELECT count(*) FROM $cat.t WHERE o_orderpriority = '9-SQL'")
      .head().getLong(0)
    assert(updated ==
      wantDel.filter(col("o_totalprice") >= 200000).count())
    // MERGE INTO (upsert): halve prices for even keys + insert fresh rows
    orders.limit(300).withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("dml_src")
    spark.sql(s"""MERGE INTO $cat.t AS tgt USING dml_src AS src
      ON tgt.o_orderkey = src.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val after = spark.sql(s"SELECT * FROM $cat.t")
    // every source key now carries the doubled price (latest wins)...
    val src = orders.limit(300)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    assert(after.join(src.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
      .exceptAll(src).isEmpty)
    // ...and rows outside the source kept their updated state
    assert(after.count() == 300 +
      spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 3").head().getLong(0) -
      spark.sql(s"""SELECT count(*) FROM $cat.t VERSION AS OF 3 WHERE
        o_orderkey IN (SELECT o_orderkey FROM dml_src)""").head().getLong(0))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("SQL INSERT INTO appends; OVERWRITE replaces; partial overwrite refused") {
    val (cat, root) = freshCatalog("ins")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    orders.createOrReplaceTempView("ins_spec_src")
    spark.sql(s"INSERT INTO $cat.t " +
      "SELECT * FROM ins_spec_src WHERE o_orderkey % 2 = 1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      orders.count())
    assert(Snapshots.latestVersion(spark, t).contains(2))
    // the pre-insert version stays travelable
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    spark.sql(s"INSERT OVERWRITE $cat.t " +
      "SELECT * FROM ins_spec_src WHERE o_totalprice >= 100000")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      orders.filter(col("o_totalprice") >= 100000).count())
    assert(Snapshots.latestVersion(spark, t).contains(3))
    // a filtered (partitioned-style) overwrite is refused with the reason
    val e = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $cat.t PARTITION (o_orderstatus = 'O') " +
        "SELECT * FROM ins_spec_src"))
    assert(e != null)
    // INSERT INTO a table carrying merge-on-read state (the MoR marker
    // table, not the parquet fast path) still routes to the log
    spark.sql(s"DELETE FROM $cat.t WHERE o_orderkey % 3 = 0")
    val afterDelete = spark.sql(s"SELECT count(*) FROM $cat.t")
      .head().getLong(0)
    spark.sql(s"INSERT INTO $cat.t " +
      "SELECT * FROM ins_spec_src WHERE o_totalprice < 100000")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      afterDelete + orders.filter(col("o_totalprice") < 100000).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("bare count(*) is metadata-only; filtered/MoR counts still scan right") {
    val (cat, root) = freshCatalog("cnt")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1))
    val live = spark.sql(s"SELECT count(*) FROM $cat.t")
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected a metadata-only count plan, got:\n$plan")
    assert(live.head().getLong(0) == orders.count())
    // time travel stays metadata-only too
    val v1 = spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
    assert(v1.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(v1.head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // a filtered count must NOT collapse — and must stay exact
    val filtered = spark.sql(
      s"SELECT count(*) FROM $cat.t WHERE o_orderkey % 3 = 0")
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.head().getLong(0) ==
      orders.filter(col("o_orderkey") % 3 === 0).count())
    // count(col) skips nulls — never metadata-answered
    val colCount = spark.sql(s"SELECT count(o_orderpriority) FROM $cat.t")
    assert(colCount.queryExecution.executedPlan.toString.contains("BatchScan"))
    // a version with positional deletes declines: rowCountAt is None and
    // the (MoR-lowered) scan still counts the LIVE rows
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 5 === 0)
    assert(Snapshots.rowCountAt(spark, t,
      Snapshots.latestVersion(spark, t).get).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      orders.filter(col("o_orderkey") % 5 =!= 0).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("history/files metadata tables serve the log over SQL, no data scan") {
    val (cat, root) = freshCatalog("meta")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1))
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 7 === 0)
    val hist = spark.sql(
      s"SELECT version, op, n_deletes, row_count FROM $cat.t.history")
    // lowered to the driver-built local relation — never a file scan
    assert(!hist.queryExecution.executedPlan.toString.contains("BatchScan"))
    val rows = hist.collect().sortBy(_.getInt(0))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("append", "append", "delete"))
    assert(rows(0).getLong(3) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(rows(1).getLong(3) == orders.count())
    assert(rows(2).getLong(3) == -1L && rows(2).getInt(2) > 0)
    // files: manifest-exact row counts, version-pinned via AS OF
    assert(spark.sql(s"SELECT SUM(rows) FROM $cat.t.files VERSION AS OF 1")
      .head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // commit timestamps strictly increase
    val ts = spark.sql(s"SELECT commit_ts FROM $cat.t.history ORDER BY version")
      .collect().map(_.getLong(0))
    assert(ts.sliding(2).forall(p => p(0) < p(1)))
    // DML aimed at a metadata table must not convert to a log commit
    intercept[Exception](spark.sql(
      s"DELETE FROM $cat.t.history WHERE version = 1"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("min/max from manifest stats; unstated columns and MoR decline") {
    val (cat, root) = freshCatalog("mm")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0),
      statsCols = Seq("o_totalprice"))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1),
      statsCols = Seq("o_totalprice"))
    val mm = spark.sql(
      s"SELECT min(o_totalprice), max(o_totalprice) FROM $cat.t")
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val expected = orders.agg(min("o_totalprice"), max("o_totalprice")).head()
    assert(mm.head() == expected)
    // no stats for o_orderkey (and it is LONG) → scan, still exact
    val un = spark.sql(s"SELECT min(o_orderkey) FROM $cat.t")
    assert(un.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(un.head().getLong(0) == orders.agg(min("o_orderkey")).head().getLong(0))
    // a filtered min must not collapse
    val f = spark.sql(
      s"SELECT min(o_totalprice) FROM $cat.t WHERE o_orderkey % 3 = 0")
    assert(f.queryExecution.executedPlan.toString.contains("BatchScan"))
    // after a delete the stats range may overstate → decline to the scan
    Snapshots.deleteWhere(spark, t, col("o_totalprice") >= 100000)
    val afterDel = spark.sql(s"SELECT max(o_totalprice) FROM $cat.t")
    assert(afterDel.head().getDouble(0) ==
      orders.filter(col("o_totalprice") < 100000)
        .agg(max("o_totalprice")).head().getDouble(0))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("scan pruning drops banded files but never stats-less ones") {
    val (cat, root) = freshCatalog("prune")
    val t = s"$root/t"
    // band-clustered commits WITH stats...
    Snapshots.append(spark, t, orders.filter(col("o_totalprice") < 100000),
      statsCols = Seq("o_totalprice"))
    Snapshots.append(spark, t, orders.filter(col("o_totalprice") >= 100000),
      statsCols = Seq("o_totalprice"))
    // ...plus one commit with NO stats whose rows span both bands
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 97 === 0))
    val q = spark.sql(
      s"SELECT count(*) FROM $cat.t WHERE o_totalprice >= 100000")
    assert(q.queryExecution.executedPlan.toString.contains("#pruned"),
      "expected the low band pruned away")
    // the stats-less file survives pruning, so rich rows from it count
    val expected = orders.filter(col("o_totalprice") >= 100000).count() +
      orders.filter(col("o_orderkey") % 97 === 0 &&
        col("o_totalprice") >= 100000).count()
    assert(q.head().getLong(0) == expected)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("CTAS creates; IF NOT EXISTS no-ops; REPLACE shapes are policed") {
    val (cat, root) = freshCatalog("ctas")
    orders.createOrReplaceTempView("ctas_spec_src")
    spark.sql(s"CREATE TABLE $cat.t AS SELECT * FROM ctas_spec_src " +
      "WHERE o_orderkey % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // plain CREATE over an existing table fails; IF NOT EXISTS no-ops
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t AS SELECT * FROM ctas_spec_src"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.t AS " +
      "SELECT * FROM ctas_spec_src")
    assert(Snapshots.latestVersion(spark, s"$root/t").contains(1))
    // REPLACE overwrites, pre-replace version stays travelable
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t AS " +
      "SELECT * FROM ctas_spec_src WHERE o_orderkey % 2 = 1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 1).count())
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .head().getLong(0) ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // REPLACE of a missing table without OR CREATE is an error
    intercept[Exception](spark.sql(
      s"REPLACE TABLE $cat.missing AS SELECT * FROM ctas_spec_src"))
    // a STRING identity partition column is legal: the write clusters
    // by the raw string, and since q258 the column records the
    // order-preserving prefix RANK as its double bounds (never an ANSI
    // string→double crash) — so string equality predicates prune
    spark.sql(s"CREATE TABLE $cat.t2 PARTITIONED BY (o_orderstatus) AS " +
      "SELECT * FROM ctas_spec_src")
    val s2 = Snapshots.snapshot(spark, s"$root/t2",
      Snapshots.latestVersion(spark, s"$root/t2").get).get
    assert(s2.partitionSpec == Seq("o_orderstatus"))
    assert(s2.files.nonEmpty &&
      s2.files.forall(f => s2.stats.get(f).exists(_.contains("o_orderstatus"))))
    s2.files.foreach { f =>
      val (lo, hi) = s2.stats(f)("o_orderstatus")
      assert(lo >= 0 && hi <= 130 * 130 * 130, "rank-space bounds")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) ==
      orders.count())
    // un-honorable shapes are refused with the reason
    val e = intercept[UnsupportedOperationException](spark.sql(
      s"CREATE TABLE $cat.t3 PARTITIONED BY (years(o_orderdate)) AS " +
        "SELECT * FROM ctas_spec_src"))
    assert(e.getMessage.contains("PARTITIONED BY"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("conditional multi-clause MERGE: UPDATE exprs, DELETE, routed INSERT") {
    val (cat, root) = freshCatalog("condmerge")
    val t = s"$root/t"
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "g", "p")
    Snapshots.append(spark, t, base)
    Seq((1L, "upd", 100.0), (2L, "del", 0.0), (4L, "noop", 5.0),
      (5L, "new", 50.0), (6L, "skip", -1.0)).toDF("k", "g", "p")
      .createOrReplaceTempView("cm_src")
    spark.sql(s"""MERGE INTO $cat.t AS tgt USING cm_src AS src
      ON tgt.k = src.k
      WHEN MATCHED AND src.g = 'del' THEN DELETE
      WHEN MATCHED AND src.g = 'upd' THEN
        UPDATE SET p = src.p + tgt.p, g = src.g
      WHEN NOT MATCHED AND src.p > 0 THEN
        INSERT (k, g, p) VALUES (src.k, src.g, src.p * 2)""")
    val got = spark.sql(s"SELECT k, g, p FROM $cat.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq(
      (1L, "upd", 110.0), // conditional UPDATE, expr sees both sides
      // 2 deleted by the DELETE clause
      (3L, "c", 30.0),    // unmatched target row untouched
      (4L, "d", 40.0),    // matched, but no clause condition true
      (5L, "new", 100.0)  // conditional INSERT with expression
      // 6 filtered by the INSERT condition
    ), got.toString)
    // the SQL cardinality rule: a target row hit twice is refused
    Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k", "g", "p")
      .createOrReplaceTempView("cm_dup")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.t AS tgt USING cm_dup AS src ON tgt.k = src.k
        WHEN MATCHED AND src.p > 0 THEN UPDATE SET p = src.p"""))
    def all(x: Throwable): String =
      if (x == null) "" else x.getMessage + all(x.getCause)
    assert(all(e).contains("ambiguous"), all(e))
    // NOT MATCHED BY SOURCE (full-sync family): target rows whose key
    // the source lacks route by TARGET-only conditions — first-true
    // wins: k=3 (p=30 < 35) deletes, k=4 (p=40) marks stale
    Seq((1L, "t", 0.0), (5L, "t", 0.0)).toDF("k", "g", "p")
      .createOrReplaceTempView("cm_sync")
    spark.sql(s"""MERGE INTO $cat.t AS tgt USING cm_sync AS src
      ON tgt.k = src.k
      WHEN NOT MATCHED BY SOURCE AND tgt.p < 35.0 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET g = 'stale'""")
    val got2 = spark.sql(s"SELECT k, g, p FROM $cat.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(got2 == Seq(
      (1L, "upd", 110.0), // matched by source: untouched
      (4L, "stale", 40.0), // by-source, condition false → second clause
      (5L, "new", 100.0)   // matched by source: untouched
      // 3 deleted by the conditional by-source DELETE
    ), got2.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("a zero-file version fails at resolution with the real reason") {
    val (cat, root) = freshCatalog("zero")
    val t = s"$root/t"
    // DML on a never-committed table publishes a version with no files;
    // the log has no schema to serve, so the catalog must say so rather
    // than throw parquet's misleading inference error at scan time
    Snapshots.deleteWhere(spark, t, col("k") === 1)
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("no data files"), msg)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("the catalog is read-only: DDL fails, commits go through Snapshots") {
    val (cat, root) = freshCatalog("ro")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(50))
    val e = intercept[Exception](
      spark.sql(s"DROP TABLE $cat.t"))
    assert(e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")),
      e.getMessage)
    // still readable after the refused DDL
    assert(spark.sql(s"SELECT * FROM $cat.t").count() == 50)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("ref DDL SQL: branch/tag lifecycle + fast forward, WAP end-to-end") {
    val (cat, root) = freshCatalog("refddl")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(40))
    // create at explicit version and at the (default) main head
    assert(spark.sql(s"ALTER TABLE $cat.t CREATE TAG pinned AS OF VERSION 1")
      .head().getLong(0) == 1L)
    assert(spark.sql(s"ALTER TABLE $cat.t CREATE BRANCH audit")
      .head().getLong(0) == 1L)
    // write to the branch, read it by name, publish, drop — all SQL-visible
    Snapshots.appendToBranch(spark, t, "audit", orders.limit(60).except(orders.limit(40)))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head.getLong(0) == 40)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t VERSION AS OF 'audit'")
      .head.getLong(0) == 60)
    val vPub = spark.sql(s"ALTER TABLE $cat.t FAST FORWARD BRANCH audit")
      .head().getLong(0)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head.getLong(0) == 60)
    assert(spark.sql(s"SELECT version FROM $cat.t.refs " +
      "WHERE ref_name = 'main'").head.getInt(0).toLong == vPub)
    assert(spark.sql(s"ALTER TABLE $cat.t DROP BRANCH audit")
      .head().getLong(0) >= 1L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.refs " +
      "WHERE ref_type = 'branch'").head.getLong(0) == 1) // main only
    assert(spark.sql(s"ALTER TABLE $cat.t DROP TAG pinned")
      .head().getLong(0) == 1L)
    // dropping a missing ref reports -1, not an exception (idempotent ops)
    assert(spark.sql(s"ALTER TABLE $cat.t DROP TAG pinned")
      .head().getLong(0) == -1L)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("maintenance SQL: intercept is full-match only; errors are loud") {
    val (cat, root) = freshCatalog("maint")
    val t = s"$root/t"
    Snapshots.append(spark, t, orders.limit(60))
    // the three statements round-trip and return versions
    assert(spark.sql(s"CREATE TABLE $cat.c SHALLOW CLONE $cat.t")
      .head().getLong(0) == 1L)
    assert(spark.sql(s"OPTIMIZE $cat.c").head().getLong(0) == 2L)
    assert(spark.sql(s"VACUUM $cat.c RETAIN 1 VERSIONS")
      .head().getLong(0) == 2L)
    assert(spark.sql(s"SELECT * FROM $cat.c").count() == 60)
    // ALTER ... SET PARTITION SPEC evolves the spec as a metadata-only
    // commit; whitespace inside transform args is tolerated, and the
    // empty spec () clears it
    assert(spark.sql(s"ALTER TABLE $cat.c SET PARTITION SPEC " +
      "(bucket(4, o_custkey), days(o_orderdate))").head().getLong(0) == 3L)
    assert(Snapshots.currentPartitionSpec(spark, s"$root/c") ==
      Seq("bucket(4,o_custkey)", "days(o_orderdate)"))
    spark.sql(s"ALTER TABLE $cat.c SET PARTITION SPEC ()")
    assert(Snapshots.currentPartitionSpec(spark, s"$root/c").isEmpty)
    // a malformed transform is refused by the shared validator
    val eSpec = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.c SET PARTITION SPEC (years(o_orderdate))"))
    assert(eSpec.getMessage.contains("malformed partition spec"))
    // full-match only: the keywords inside larger statements stay
    // Spark's problem (alias named optimize parses as standard SQL);
    // standard ALTER TABLE forms delegate verbatim too
    assert(spark.sql("SELECT 1 AS optimize").head().getInt(0) == 1)
    // SET/UNSET TBLPROPERTIES is the one alterTable shape the catalog
    // serves natively (q252): a versioned metadata commit, not readOnly
    spark.sql(s"ALTER TABLE $cat.c SET TBLPROPERTIES ('x'='y')")
    assert(Snapshots.tableProperties(spark, s"$root/c") == Map("x" -> "y"))
    spark.sql(s"ALTER TABLE $cat.c UNSET TBLPROPERTIES ('x')")
    assert(Snapshots.tableProperties(spark, s"$root/c").isEmpty)
    // an unregistered catalog name errors loudly at parse time
    val e = intercept[Exception](spark.sql("OPTIMIZE nocat.t"))
    assert(e.getMessage.contains("not a registered snapshot catalog"))
    // unqualified names are refused, not resolved against a guess
    val e2 = intercept[Exception](spark.sql("OPTIMIZE bare"))
    assert(e2.getMessage.contains("catalog-qualified"))
    // column DEFAULT DDL: additive column + SET DEFAULT fills the old
    // era over SQL; DROP DEFAULT reads null again. Unlike the other
    // intercepts Spark HAS grammar for this form — an unregistered
    // catalog must fall through to Spark (its error, not ours)
    Snapshots.append(spark, s"$root/c",
      orders.limit(5).withColumn("chan", lit("web")))
    spark.sql(s"ALTER TABLE $cat.c ALTER COLUMN chan SET DEFAULT 'store'")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.c " +
      "WHERE chan = 'store'").head().getLong(0) == 60)
    spark.sql(s"ALTER TABLE $cat.c ALTER COLUMN chan DROP DEFAULT")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.c " +
      "WHERE chan IS NULL").head().getLong(0) == 60)
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE nocat.t ALTER COLUMN x SET DEFAULT 1"))
    assert(!e3.getMessage.contains("not a registered snapshot catalog"),
      s"must delegate to Spark, got: ${e3.getMessage}")
    // time-based retention: a 1000h horizon covers every commit, so
    // nothing is reaped and every version stays travelable
    val vLatest = Snapshots.latestVersion(spark, s"$root/c").get
    spark.sql(s"VACUUM $cat.c RETAIN 1000 HOURS")
    assert(Snapshots.readAt(spark, s"$root/c", vLatest).isDefined)
    // a zero-hour horizon keeps only the latest (cutoff = now)
    spark.sql(s"VACUUM $cat.c RETAIN 0 HOURS")
    assert(Snapshots.readLatest(spark, s"$root/c").get.count() == 65)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }
}
