package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Vacuum's orphan grace (`graft.vacuum.graceMs`): unreferenced _snap
  * dirs are vacuumed-version debris or crashed stagings (reap) — or a
  * concurrent writer's staged-but-uncommitted files (must survive).
  * Age disambiguates, the Delta retention-threshold discipline. */
class VacuumGraceSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def orders = graft.queries.Tables(spark, sfDir, "orders")

  test("grace reaps old orphans, protects fresh stagings; 0 reaps both") {
    val t = s"${Files.createTempDirectory("graft_vgrace").toString}/t"
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1))
    val total = Snapshots.readLatest(spark, t).get.count()

    def fakeStaging(name: String, ageMs: Long): File = {
      val dir = new File(s"$t/_snap/$name")
      assert(dir.mkdirs())
      val f = new File(dir, "part-00000.parquet")
      Files.writeString(f.toPath, "crashed staging bytes")
      assert(dir.setLastModified(System.currentTimeMillis() - ageMs))
      dir
    }
    val oldOrphan = fakeStaging("c-crashed-old", 24L * 3600 * 1000)
    val inflight = fakeStaging("c-inflight-fresh", 0L)

    Snapshots.setTableProperties(spark, t,
      Map("graft.vacuum.graceMs" -> "3600000"))
    // the dry run applies the same grace: it forecasts the old orphan,
    // not the fresh staging, and equals what the vacuum then removes
    def tree(): Set[String] = {
      val base = new File(t).toPath
      val out = Set.newBuilder[String]
      Files.walk(base).forEach { p =>
        val rel = base.relativize(p).toString
        if (Files.isRegularFile(p) && !rel.endsWith(".crc") &&
          !rel.endsWith("_latest")) { out += rel; () }
      }
      out.result()
    }
    val dry = Snapshots.vacuumDryRun(spark, t, keepFrom = 1)
    assert(dry.contains("_snap/c-crashed-old"), dry.toString)
    assert(!dry.exists(_.contains("c-inflight-fresh")),
      s"dry run forecasts reaping a fresh staging: $dry")
    val forecast = dry.flatMap { p =>
      if (new File(t, p).isDirectory) tree().filter(_.startsWith(s"$p/"))
      else Seq(p)
    }.toSet
    val before = tree()
    Snapshots.vacuum(spark, t, keepFrom = 1)
    assert(before -- tree() == forecast, "dry run != what vacuum removed")
    assert(!oldOrphan.exists(), "day-old crashed staging must reap")
    assert(inflight.exists(), "fresh staging must survive the grace")
    assert(Snapshots.readLatest(spark, t).get.count() == total,
      "live data untouched")

    // property unset → grace 0 → current behavior: everything
    // unreferenced reaps immediately
    Snapshots.unsetTableProperties(spark, t, Seq("graft.vacuum.graceMs"))
    Snapshots.vacuum(spark, t, keepFrom = 1)
    assert(!inflight.exists(), "grace 0 reaps fresh orphans too")
    assert(Snapshots.readLatest(spark, t).get.count() == total)
  }
}
