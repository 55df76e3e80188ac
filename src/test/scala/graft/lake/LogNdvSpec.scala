package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** q323 — log-served NDV invariants beyond the gate's raw-row replay:
  * zero Spark jobs at serve time, honest declines (pre-declaration
  * commits), file-layout independence across compaction, and the
  * documented upper-bound behavior under MoR deletes. */
class LogNdvSpec extends SparkTestBase {

  private def freshTable(tag: String): String =
    s"${Files.createTempDirectory(s"graft_ndv_$tag").toString}/t"

  private def corpus(lo: Int, hi: Int) =
    spark.range(lo, hi).select(col("id"),
      (col("id") % 97).as("k"),
      concat(lit("g"), (col("id") % 13).cast("string")).as("grp"))

  test("NDV serves from the log with ZERO Spark jobs") {
    val t = freshTable("zerojob")
    Snapshots.createTable(spark, t,
      Seq(("id", "BIGINT", None), ("k", "BIGINT", None),
        ("grp", "STRING", None)),
      properties = Map(Snapshots.SketchColumnsKey -> "k,grp"))
    Snapshots.append(spark, t, corpus(0, 5000))
    Snapshots.append(spark, t, corpus(5000, 9000))
    val v = Snapshots.latestVersion(spark, t).get
    // warm the driver-side snapshot/manifest caches, then pin zero jobs
    assert(Snapshots.ndvAt(spark, t, v, "k").contains(64L) ||
      Snapshots.ndvAt(spark, t, v, "k").nonEmpty)
    val ((k, g), jobs) = jobsDuring(
      (Snapshots.ndvAt(spark, t, v, "k"), Snapshots.ndvAt(spark, t, v, "grp")))
    assert(k.nonEmpty && g.nonEmpty)
    // small-set-exact branch: 97 and 13 true distincts, both ≥/< k
    assert(g.contains(13L), s"grp ndv=$g")
    assert(jobs == 0, s"NDV serve ran $jobs Spark jobs — must be log-only")
  }

  test("pre-declaration commits decline; declared ones serve") {
    val t = freshTable("decline")
    Snapshots.append(spark, t, corpus(0, 1000)) // no declaration yet
    Snapshots.setTableProperties(spark, t,
      Map(Snapshots.SketchColumnsKey -> "grp"))
    Snapshots.append(spark, t, corpus(1000, 2000))
    val v = Snapshots.latestVersion(spark, t).get
    // the first commit's files carry no sketch — the version declines
    assert(Snapshots.ndvAt(spark, t, v, "grp").isEmpty)
    // undeclared column always declines
    assert(Snapshots.ndvAt(spark, t, v, "k").isEmpty)
    // a full rewrite re-stages every file under the declaration: serves
    Snapshots.overwrite(spark, t,
      Snapshots.readLatest(spark, t).get)
    val v2 = Snapshots.latestVersion(spark, t).get
    assert(Snapshots.ndvAt(spark, t, v2, "grp").contains(13L))
  }

  test("file-layout independence: compaction preserves the served value") {
    val t = freshTable("layout")
    Snapshots.createTable(spark, t,
      Seq(("id", "BIGINT", None), ("k", "BIGINT", None),
        ("grp", "STRING", None)),
      properties = Map(Snapshots.SketchColumnsKey -> "k,grp"))
    for (i <- 0 until 6)
      Snapshots.append(spark, t,
        corpus(i * 500, (i + 1) * 500).coalesce(1))
    val v = Snapshots.latestVersion(spark, t).get
    val before = Snapshots.ndvAt(spark, t, v, "k").get
    // the stage chokepoint re-records sketches on the rewritten file,
    // and merged bottom-k is the global bottom-k either way
    assert(Snapshots.optimizeSmallFiles(spark, t, 64L << 20).nonEmpty)
    val v2 = Snapshots.latestVersion(spark, t).get
    assert(Snapshots.ndvAt(spark, t, v2, "k").contains(before))
    assert(Snapshots.ndvAt(spark, t, v2, "grp").contains(13L))
  }

  test("MoR deletes: files' NDV serves unchanged (documented upper bound)") {
    val t = freshTable("mor")
    Snapshots.createTable(spark, t,
      Seq(("id", "BIGINT", None), ("k", "BIGINT", None),
        ("grp", "STRING", None)),
      properties = Map(Snapshots.SketchColumnsKey -> "grp"))
    Snapshots.append(spark, t, corpus(0, 2000))
    val before = Snapshots.ndvAt(spark, t,
      Snapshots.latestVersion(spark, t).get, "grp").get
    Snapshots.deleteWhere(spark, t, col("grp") =!= "g0")
    val v = Snapshots.latestVersion(spark, t).get
    assert(Snapshots.ndvAt(spark, t, v, "grp").contains(before))
    assert(Snapshots.readLatest(spark, t).get
      .select(countDistinct(col("grp"))).head.getLong(0) == 1L)
  }
}
