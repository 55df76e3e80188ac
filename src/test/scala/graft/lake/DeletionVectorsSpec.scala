package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[DeletionVectors]] mechanics the q153 gate can't see: byte-immutability
  * of data files under delete, idempotent re-delete, vector union across
  * operations, and the compaction fold. */
class DeletionVectorsSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def freshTable(tag: String): String = {
    val t = s"${Files.createTempDirectory(s"graft_dv_$tag").toString}/t"
    graft.queries.Tables(spark, sfDir, "orders")
      .repartition(3, col("o_orderkey"))
      .write.mode("overwrite").parquet(t)
    t
  }

  private def dataFileHashes(table: String): Map[String, Long] =
    new File(table).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getName -> {
        val b = Files.readAllBytes(f.toPath)
        b.foldLeft(1125899906842597L)((h, x) => 31 * h + x)
      }).toMap

  test("delete writes sidecars only — data files stay byte-identical") {
    val t = freshTable("immutable")
    val before = dataFileHashes(t)
    val n = DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    assert(n > 0)
    assert(dataFileHashes(t) == before, "a data file changed under DELETE")
    assert(DeletionVectors.hasVectors(spark, t))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("merge-on-read scan subtracts exactly the predicate rows; re-delete is a no-op") {
    val t = freshTable("read")
    val total = spark.read.parquet(t).count()
    val hit = spark.read.parquet(t).filter(col("o_totalprice") < 30000).count()
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    assert(DeletionVectors.read(spark, t).count() == total - hit)
    // same logical delete again: content-addressed sidecar overwrites
    // itself, anti join semantics unchanged
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    assert(DeletionVectors.read(spark, t).count() == total - hit)
    // overlapping second delete unions
    val hit2 = spark.read.parquet(t)
      .filter(col("o_totalprice") < 30000 || col("o_orderstatus") === "F")
      .count()
    DeletionVectors.delete(spark, t, col("o_orderstatus") === "F")
    assert(DeletionVectors.read(spark, t).count() == total - hit2)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("deleted keys never resurface; surviving rows keep exact content") {
    val t = freshTable("content")
    val goneKeys = spark.read.parquet(t)
      .filter(col("o_totalprice") < 30000)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    val after = DeletionVectors.read(spark, t)
    assert(after.filter(col("o_orderkey").isInCollection(goneKeys)).count() == 0)
    val expect = spark.read.parquet(t)
      .filter(!(col("o_totalprice") < 30000))
      .agg(sum(graft.queries.Num.cents(col("o_totalprice")))).head().getLong(0)
    val got = after
      .agg(sum(graft.queries.Num.cents(col("o_totalprice")))).head().getLong(0)
    assert(got == expect)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("compaction folds vectors into clean files and drops sidecars") {
    val t = freshTable("compact")
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    val want = DeletionVectors.read(spark, t)
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    DeletionVectors.compact(spark, t)
    assert(!DeletionVectors.hasVectors(spark, t), "sidecars survived compaction")
    // post-compaction the merge-on-read scan and a PLAIN scan agree
    val plain = spark.read.parquet(t)
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    val mor = DeletionVectors.read(spark, t)
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    assert(plain == want && mor == want)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("vectors are table-relative: a relocated table keeps its deletes") {
    val t = freshTable("move")
    val want = spark.read.parquet(t)
      .filter(col("o_totalprice") >= 30000).count()
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    assert(DeletionVectors.read(spark, t).count() == want)
    // relocate the whole table directory — an absolute-URI sidecar would
    // now match nothing and silently resurrect every deleted row
    val moved = s"${new File(t).getParent}/moved_t"
    assert(new File(t).renameTo(new File(moved)), "relocation rename failed")
    assert(DeletionVectors.read(spark, moved).count() == want,
      "deletes lost after table relocation")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(moved).getParentFile)
  }

  test("a file://-spelled table path keeps its deletes and compacts them") {
    val t = freshTable("qualified")
    val q = s"file://$t"
    val want = spark.read.parquet(t)
      .filter(col("o_totalprice") >= 30000).count()
    assert(DeletionVectors.delete(spark, q, col("o_totalprice") < 30000) > 0)
    assert(DeletionVectors.hasVectors(spark, q))
    assert(DeletionVectors.read(spark, q).count() == want,
      "deleted rows served again through the qualified path")
    DeletionVectors.compact(spark, q)
    assert(!DeletionVectors.hasVectors(spark, q), "sidecars survived compaction")
    assert(spark.read.parquet(t).count() == want,
      "compaction did not fold the deletes")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("plain readers skip the _dv directory (graceful degradation)") {
    val t = freshTable("skip")
    val total = spark.read.parquet(t).count()
    DeletionVectors.delete(spark, t, col("o_totalprice") < 30000)
    // a DV-unaware reader sees the full undeleted table — never sidecar
    // rows mixed into the schema
    assert(spark.read.parquet(t).count() == total)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }
}
