package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Manifest-SHARDED resolution (VERDICT r14 task 6 — the driver-memory
  * bound): pruned lookups resolve the log OBJECT (KB) plus only the
  * manifests their predicate touches; manifests whose manifest-list
  * summary proves every file misses are never materialized. On a
  * 10M-file / 10k-manifest table this retires the O(table) per-lookup
  * driver bite — here pinned on a synthetic many-manifest table via the
  * materialization counter. */
class ManifestShardingSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def touched[T](body: => T): (T, Long) = {
    val d0 = Snapshots.manifestsTouched.get()
    val r = body
    (r, Snapshots.manifestsTouched.get() - d0)
  }

  test("pruned lookups materialize only the manifests they touch") {
    val root = Files.createTempDirectory("graft_shard").toString
    val t = s"$root/t"
    val orders = graft.queries.Tables(spark, sfDir, "orders")
    // 8 commits = 8 manifests with DISJOINT o_orderkey ranges
    val max = orders.agg(org.apache.spark.sql.functions.max(
      col("o_orderkey"))).head.getLong(0)
    val w = max / 8 + 1
    for (i <- 0 until 8)
      Snapshots.append(spark, t,
        orders.filter(col("o_orderkey") >= i * w &&
          col("o_orderkey") < (i + 1) * w),
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
    val v = Snapshots.latestVersion(spark, t).get
    // a range inside shard 2's interval touches exactly ONE manifest;
    // the other seven are skipped from the log object alone
    val lo = 2 * w + 1
    val hi = 2 * w + w / 2
    val (files, n1) = touched(
      Snapshots.prunedFilesAt(spark, t, v, "o_orderkey",
        lo.toDouble, hi.toDouble).get)
    assert(n1 == 1, s"range lookup touched $n1 manifests, expected 1")
    // and the sharded selection equals the eager per-file filtering
    val s = Snapshots.snapshot(spark, t, v).get
    val eager = s.files.filter(f =>
      s.stats.get(f).flatMap(_.get("o_orderkey")) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      })
    assert(files == eager)
    // a POINT lookup inside shard 5 touches only shard 5's manifest
    // (summary interval excludes the rest; blooms refine within)
    val k = 5 * w + 1
    val (kf, n2) = touched(
      Snapshots.prunedFilesForKey(spark, t, v, "o_orderkey", k).get)
    assert(n2 == 1, s"point lookup touched $n2 manifests, expected 1")
    assert(kf.nonEmpty)
    // the read opens ONLY that manifest, scan construction included:
    // with the seven excluded manifest objects moved away and this
    // JVM's cached metadata dropped, the lookup must still resolve
    val lite = Snapshots.readLite(spark, t, v).get
    val excluded = lite.manifests.filterNot(id =>
      lite.summaries(id).get("o_orderkey")
        .exists { case (mn, mx) => k >= mn && k <= mx })
    assert(excluded.size == 7)
    val away = new File(s"$root/away")
    excluded.foreach(id =>
      org.apache.commons.io.FileUtils.moveFileToDirectory(
        new File(s"$t/_log/m-$id.json"), away, true))
    Snapshots.invalidate(t)
    // the sharded read is exact
    val (rows, n3) = touched(
      Snapshots.readAtKey(spark, t, v, "o_orderkey", k).get.count())
    assert(n3 == 1)
    assert(rows == orders.filter(col("o_orderkey") === k).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("summaries carry by reference, follow renames, and stay honest " +
      "about incomplete columns") {
    val root = Files.createTempDirectory("graft_shard2").toString
    val t = s"$root/t"
    val orders = graft.queries.Tables(spark, sfDir, "orders")
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0),
      statsCols = Seq("o_orderkey"))
    // second commit records NO stats: its summary must stay empty so
    // the manifest is always touched (a summary-level skip would drop
    // stats-less files — unknown never prunes, at every level)
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1))
    val v2 = Snapshots.latestVersion(spark, t).get
    val lite2 = Snapshots.readLite(spark, t, v2).get
    assert(lite2.summaries.keySet == lite2.manifests.toSet)
    assert(lite2.summaries.count(_._2.contains("o_orderkey")) == 1)
    val (_, n) = touched(Snapshots.prunedFilesAt(spark, t, v2,
      "o_orderkey", -10d, -5d).get)
    assert(n == 1, "the stats-less manifest must always be touched")
    // a rename maps the summary keys on read: pruning by the NEW name
    // still skips the out-of-range manifest
    Snapshots.renameColumn(spark, t, "o_orderkey", "okey")
    val v3 = Snapshots.latestVersion(spark, t).get
    val (_, n4) = touched(Snapshots.prunedFilesAt(spark, t, v3,
      "okey", -10d, -5d).get)
    assert(n4 == 1)
    // carried by reference: v3's log object still summarizes v1's
    // manifest without any manifest re-read at resolution time
    // (summaries live in the log object itself)
    assert(Snapshots.readLite(spark, t, v3).get.summaries.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("sharded reads: zero kept files keep the schema, a zero-file " +
      "snapshot reads empty") {
    val root = Files.createTempDirectory("graft_shard3").toString
    val t = s"$root/t"
    val z = s"$root/z"
    val orders = graft.queries.Tables(spark, sfDir, "orders")
    // every file records o_orderkey stats and blooms, and bucket 0 only
    Snapshots.appendPartitioned(spark, t,
      orders.filter(pmod(xxhash64(col("o_custkey")), lit(4)) === 0),
      Seq("bucket(4,o_custkey)"), numFiles = 2,
      statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
    val v = Snapshots.latestVersion(spark, t).get
    val schema = Snapshots.readAt(spark, t, v).get.schema
    val otherBucket = (1L to 100L).find(Snapshots.bucketValueOf(4, _) != 0d).get
    assert(Snapshots.prunedFilesAt(spark, t, v, "o_orderkey", -9d, -8d)
      .get.isEmpty)
    assert(Snapshots.prunedFilesForKey(spark, t, v, "o_orderkey", -7L)
      .get.isEmpty)
    val reads = Seq(
      Snapshots.readAtPruned(spark, t, v, "o_orderkey", -9d, -8d).get,
      Snapshots.readAtKey(spark, t, v, "o_orderkey", -7L).get,
      Snapshots.readAtBucketPoint(spark, t, v, "bucket(4,o_custkey)",
        otherBucket).get)
    reads.foreach { df =>
      assert(df.schema == schema)
      assert(df.count() == 0)
    }
    // deleteWhere on a never-committed table publishes a zero-file version
    val vz = Snapshots.deleteWhere(spark, z, col("o_orderkey") === 1)
    assert(Snapshots.snapshot(spark, z, vz).get.files.isEmpty)
    Seq(Snapshots.readAtPruned(spark, z, vz, "o_orderkey", 0d, 9d).get,
      Snapshots.readAtKey(spark, z, vz, "o_orderkey", 1L).get,
      Snapshots.readAtBucketPoint(spark, z, vz, "bucket(4,o_custkey)", 1L).get)
      .foreach { df =>
        assert(df.schema.isEmpty)
        assert(df.count() == 0)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }
}
