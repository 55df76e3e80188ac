package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A DECLARED bloom column (`graft.stats.bloomColumns`) applies to every
  * staged write, DML restages included: the files UPDATE and MERGE
  * restage record the table's blooms in their manifests, so point
  * lookups keep pruning them after DML — and stay exact. */
class DeclaredBloomRestageSpec extends SparkTestBase {
  import spark.implicits._

  test("update and merge restages record the declared blooms") {
    val root = Files.createTempDirectory("graft_bloomdml").toString
    val t = s"$root/t"
    val df = (1L to 2000L).map(i => (i, i % 97, s"v$i")).toDF("id", "k", "v")
    Snapshots.append(spark, t, df)
    Snapshots.setTableProperties(spark, t,
      Map(Snapshots.BloomColumnsKey -> "k"))
    val v0 = Snapshots.latestVersion(spark, t).get
    val initial = Snapshots.snapshot(spark, t, v0).get.files.toSet
    Snapshots.updateWhere(spark, t, col("k") === 5L, Map("v" -> lit("upd")))
    Snapshots.merge(spark, t,
      df.filter(col("k") === 7L).withColumn("v", lit("mrg")), Seq("id"))
    val v = Snapshots.latestVersion(spark, t).get
    val s = Snapshots.snapshot(spark, t, v).get
    val restaged = s.files.filterNot(initial)
    assert(restaged.nonEmpty)
    val unbloomed =
      restaged.filterNot(f => s.blooms.get(f).exists(_.contains("k")))
    assert(unbloomed.isEmpty, s"restaged files without a k bloom: $unbloomed")
    // the pruned point lookup serves exactly the live rows of each key
    for ((key, value) <- Seq(5L -> Some("upd"), 7L -> Some("mrg"),
        11L -> None)) {
      val got = Snapshots.readAtKey(spark, t, v, "k", key).get
        .select("id", "v").as[(Long, String)].collect().sorted.toSeq
      val want = (1L to 2000L).filter(_ % 97 == key)
        .map(i => (i, value.getOrElse(s"v$i")))
      assert(got == want, s"key $key")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
