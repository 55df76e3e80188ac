package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.{SnapshotCatalog, Snapshots}

/** SHOW CREATE TABLE edges the q315 gate row doesn't reach: generated +
  * identity columns riding their properties through the round trip,
  * reserved Spark property names surviving via the lift prefix, and
  * expression-valued constant defaults. */
class ShowCreateSpec extends SparkTestBase {

  private def freshCatalog(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft_showc_$tag").toString
    val cat = s"showc_${tag}_${System.nanoTime().toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("generated + identity declarations survive the DDL round trip") {
    import spark.implicits._
    val (cat, root) = freshCatalog("genid")
    val t = s"$root/t"
    Snapshots.createTable(spark, t, Seq(
      ("k", "BIGINT", None), ("v", "BIGINT", None),
      ("band", "STRING", None), ("note", "BIGINT", Some("1 + 2"))))
    Snapshots.setGeneratedColumn(spark, t, "band",
      "CASE WHEN v < 10 THEN 'lo' ELSE 'hi' END")
    Snapshots.setIdentityColumn(spark, t, "rid")
    Snapshots.setTableProperties(spark, t,
      Map("owner" -> "pipeline-team"))
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.t").head.getString(0)
    assert(ddl.contains("graft.generated.band") &&
      ddl.contains("graft.identity.rid") &&
      ddl.contains("graft.props.owner"), ddl)
    spark.sql(ddl.replace(s"$cat.t", s"$cat.t2"))
    val t2 = s"$root/t2"
    // declared surface equal (identity hwm carries verbatim)
    assert(Snapshots.tableProperties(spark, t2)
      == Snapshots.tableProperties(spark, t))
    val s1 = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
    val s2 = Snapshots.snapshot(spark, t2,
      Snapshots.latestVersion(spark, t2).get).get
    assert(s2.defaults.toSet == s1.defaults.toSet)
    // and the re-created table BEHAVES: generated computes on write,
    // identity allocates, constant default fills
    Snapshots.append(spark, t2, Seq((1L, 5L), (2L, 50L)).toDF("k", "v"))
    val live = Snapshots.readLatest(spark, t2).get
    assert(live.filter(col("band") === "lo" && col("k") === 1L).count() == 1)
    assert(live.select("rid").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    assert(live.filter(col("note") === 3L).count() == 2)
  }

  test("SHOW CREATE TABLE job count is CONSTANT as the table grows") {
    // the statement may pay the bounded schema-resolution footer read
    // (O(1) tasks), but never work proportional to the table: pin the
    // job count equal at 1 append and at 11
    val (cat, root) = freshCatalog("constjob")
    val t = s"$root/t"
    Snapshots.createTable(spark, t, Seq(
      ("k", "BIGINT", None), ("v", "STRING", Some("'x'"))),
      partitionSpec = Seq("bucket(4,k)"),
      properties = Map("team" -> "graft"),
      constraints = Seq("k_pos" -> "k >= 0"))
    import spark.implicits._
    def jobsOf(body: => Unit): Int = jobsDuring(body)._2
    Snapshots.append(spark, t, Seq(1L, 2L).toDF("k"))
    spark.sql(s"SHOW CREATE TABLE $cat.t").collect() // warm lazy caches
    val small = jobsOf(
      spark.sql(s"SHOW CREATE TABLE $cat.t").collect(): Unit)
    (1 to 10).foreach(i =>
      Snapshots.append(spark, t, Seq(i * 10L, i * 10L + 1).toDF("k")))
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.t").head.getString(0)
    assert(ddl.contains("PARTITIONED BY (bucket(4,k))"), ddl)
    val big = jobsOf(
      spark.sql(s"SHOW CREATE TABLE $cat.t").collect(): Unit)
    assert(big <= small,
      s"SHOW CREATE TABLE grew from $small to $big jobs with table " +
        "size — it must answer from KB log objects at any scale")
  }
}
