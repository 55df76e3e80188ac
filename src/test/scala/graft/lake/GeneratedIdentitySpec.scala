package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Write-side generated + identity columns (r17) — the contracts the
  * q314 gate row cannot see from its aggregate: identity allocation
  * under a LOST COMMIT RACE (re-staged from the winner's mark, never
  * interleaved or reused), truly concurrent appenders, and generated
  * columns recomputing through UPDATE and merge restages. */
class GeneratedIdentitySpec extends SparkTestBase {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_genid_$tag").toString + "/t"

  test("identity: a lost race re-stages ZERO data files (reserve-then-stage)") {
    import spark.implicits._
    val t = fresh("race")
    Snapshots.createTable(spark, t, Seq(("k", "BIGINT", None)))
    Snapshots.setIdentityColumn(spark, t, "rid")
    val a = (1L to 40L).toDF("k")
    val b = (101L to 130L).toDF("k")
    // deterministic interleave: append A claims ids 1..40 in its
    // METADATA-ONLY reservation commit and stages its files; before
    // A's data commit publishes, append B lands entirely (claim 41..70
    // + data). A's data commit then retries only the KB-sized log
    // publish — its claimed ids can never collide — and must land with
    // the files of its FIRST (only) staging: zero re-stage, zero
    // orphaned staging dirs.
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.append(spark, t, a, beforePublish = () =>
      if (raced.compareAndSet(false, true)) {
        Snapshots.append(spark, t, b): Unit
      })
    assert(raced.get, "the interleaving never fired")
    val live = Snapshots.readLatest(spark, t).get
      .select(col("k"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(live.length == 70)
    val rids = live.map(_._2)
    assert(rids.distinct.length == 70 && rids.min == 1L && rids.max == 70L,
      s"ids not a contiguous 1..70: ${rids.sorted.mkString(",")}")
    // RESERVATION order defines id order: A claimed before B published
    val aRids = live.filter(_._1 < 101L).map(_._2)
    val bRids = live.filter(_._1 >= 101L).map(_._2)
    assert(aRids.min == 1L && aRids.max == 40L,
      "first claimant's ids must start at the first reserved base")
    assert(bRids.min == 41L && bRids.max == 70L)
    // ZERO RE-STAGE pin: every staged parquet file on disk is referenced
    // by some committed version — a re-stage would have orphaned the
    // loser's first staging dir
    val latest = Snapshots.latestVersion(spark, t).get
    val referenced = (1 to latest)
      .flatMap(v => Snapshots.snapshot(spark, t, v))
      .flatMap(_.files).toSet
    val root = java.nio.file.Paths.get(t)
    val onDisk = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString).toSet
      } finally s.close()
    }
    assert(onDisk == referenced,
      s"orphaned staged files (a re-stage happened): " +
        s"${(onDisk -- referenced).mkString(", ")}")
  }

  test("identity: a writer storm larger than the retry cap all lands") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // 24 concurrent appenders — MORE writers than MaxCommitAttempts
    // (20) — each needing TWO commits (claim + data). Lost races are
    // free retries under the progress-aware commit loop (every failed
    // publish is paired with another writer's success), so all 24 must
    // land with unique, per-commit-contiguous ids; under the old
    // per-race full re-stage this storm both exceeded the cap and paid
    // up to 20× the batch write I/O.
    val t = fresh("storm")
    Snapshots.createTable(spark, t, Seq(("batch", "BIGINT", None)))
    Snapshots.setIdentityColumn(spark, t, "rid")
    val fs = (0 until 24).map(bn => Future {
      Snapshots.append(spark, t, Seq.fill(5)(bn.toLong).toDF("batch"))
    })
    Await.result(Future.sequence(fs), 10.minutes)
    val rows = Snapshots.readLatest(spark, t).get
      .select(col("batch"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rids = rows.map(_._2)
    assert(rows.length == 120 && rids.distinct.length == 120 &&
      rids.min == 1L && rids.max == 120L,
      s"storm ids broken: ${rids.sorted.take(30).mkString(",")}…")
    rows.groupBy(_._1).foreach { case (bn, rs) =>
      val ids = rs.map(_._2)
      assert(ids.max - ids.min + 1 == ids.length,
        s"batch $bn ids not contiguous: ${ids.sorted.mkString(",")}")
    }
  }

  test("identity: concurrent appenders never interleave or reuse ids") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = fresh("conc")
    Snapshots.createTable(spark, t, Seq(("batch", "BIGINT", None)))
    Snapshots.setIdentityColumn(spark, t, "rid")
    val fs = (0 until 4).map(bn => Future {
      Snapshots.append(spark, t,
        Seq.fill(25)(bn.toLong).toDF("batch"))
    })
    Await.result(Future.sequence(fs), 5.minutes)
    val rows = Snapshots.readLatest(spark, t).get
      .select(col("batch"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rids = rows.map(_._2)
    assert(rows.length == 100 && rids.distinct.length == 100 &&
      rids.min == 1L && rids.max == 100L,
      s"concurrent ids broken: ${rids.sorted.take(20).mkString(",")}…")
    // each commit's block is contiguous: span == count per batch
    rows.groupBy(_._1).foreach { case (bn, rs) =>
      val ids = rs.map(_._2)
      assert(ids.max - ids.min + 1 == ids.length,
        s"batch $bn ids not contiguous: ${ids.sorted.mkString(",")}")
    }
  }

  test("SQL CREATE declares generated + identity columns natively") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_genid_sql").toString
    val cat = s"genidsql_${System.nanoTime().toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.t (
      k BIGINT, v BIGINT,
      band STRING GENERATED ALWAYS AS (
        CASE WHEN v < 10 THEN 'lo' ELSE 'hi' END),
      rid BIGINT GENERATED ALWAYS AS IDENTITY)""")
    val t = s"$root/t"
    Snapshots.append(spark, t, Seq((1L, 5L), (2L, 50L)).toDF("k", "v"))
    val live = Snapshots.readLatest(spark, t).get
    assert(live.filter(col("k") === 1L).select("band").head.getString(0)
      == "lo")
    assert(live.select("rid").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // a liar and an explicit id are both refused
    intercept[IllegalArgumentException](Snapshots.append(spark, t,
      Seq((3L, 1L, "hi")).toDF("k", "v", "band")))
    intercept[IllegalArgumentException](Snapshots.append(spark, t,
      Seq((3L, 1L, 9L)).toDF("k", "v", "rid")))
    // BY DEFAULT and non-unit start/step refuse loudly at DDL
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.t2 " +
      "(k BIGINT, rid BIGINT GENERATED BY DEFAULT AS IDENTITY)"))
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.t3 (k BIGINT, " +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10))"))
  }

  test("generated columns: provided-value validation costs zero extra jobs") {
    import spark.implicits._
    val t = fresh("jobs")
    Snapshots.createTable(spark, t, Seq(
      ("k", "BIGINT", None), ("v", "BIGINT", None),
      ("band", "STRING", None)))
    Snapshots.setGeneratedColumn(spark, t, "band",
      "CASE WHEN v < 10 THEN 'lo' ELSE 'hi' END")
    def jobsOf(body: => Unit): Int = jobsDuring(body)._2
    // warm lazy caches on both shapes once
    Snapshots.append(spark, t, Seq((0L, 1L)).toDF("k", "v"))
    Snapshots.append(spark, t,
      Seq((0L, 1L, "lo")).toDF("k", "v", "band"))
    val omitted = jobsOf(Snapshots.append(spark, t,
      Seq((1L, 5L), (2L, 50L)).toDF("k", "v")): Unit)
    val provided = jobsOf(Snapshots.append(spark, t,
      Seq((3L, 5L, "lo"), (4L, 50L, "hi")).toDF("k", "v", "band")): Unit)
    assert(provided <= omitted,
      s"validating provided generated values must ride the write pass, " +
        s"not add jobs: omitted=$omitted provided=$provided")
    // and the folded guard still refuses a liar with the declared
    // contract: IllegalArgumentException, no version burned
    val before = Snapshots.latestVersion(spark, t).get
    val e = intercept[IllegalArgumentException](Snapshots.append(spark, t,
      Seq((9L, 1L, "hi")).toDF("k", "v", "band")))
    assert(e.getMessage.contains("GENERATED ALWAYS AS"), e.getMessage)
    assert(Snapshots.latestVersion(spark, t).contains(before))
  }

  test("generated columns: update and merge restages recompute") {
    import spark.implicits._
    val t = fresh("regen")
    Snapshots.createTable(spark, t, Seq(
      ("k", "BIGINT", None), ("v", "BIGINT", None),
      ("band", "STRING", None)))
    Snapshots.setGeneratedColumn(spark, t, "band",
      "CASE WHEN v < 10 THEN 'lo' ELSE 'hi' END")
    Snapshots.append(spark, t,
      Seq((1L, 5L), (2L, 50L)).toDF("k", "v"))
    def bandOf(k: Long): String = Snapshots.readLatest(spark, t).get
      .filter(col("k") === k).select("band").head.getString(0)
    assert(bandOf(1L) == "lo" && bandOf(2L) == "hi")
    // UPDATE recomputes the derived value from the post-SET row
    Snapshots.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(100L)))
    assert(bandOf(1L) == "hi", "update restage did not recompute")
    // upsert merge: computed for both the replaced and the new row
    Snapshots.merge(spark, t,
      Seq((2L, 3L), (3L, 7L)).toDF("k", "v"), Seq("k"))
    assert(bandOf(2L) == "lo" && bandOf(3L) == "lo")
    // a lying writer is refused with no version burned
    val before = Snapshots.latestVersion(spark, t).get
    val e = intercept[IllegalArgumentException](
      Snapshots.append(spark, t,
        Seq((9L, 1L, "hi")).toDF("k", "v", "band")))
    assert(e.getMessage.contains("GENERATED ALWAYS AS"), e.getMessage)
    assert(Snapshots.latestVersion(spark, t).contains(before))
  }
}
