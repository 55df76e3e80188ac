package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Snapshots]] log mechanics the q154 gate can't see: structural
  * file-sharing between versions, immutability under later commits,
  * change-feed diffs, and vacuum retention. */
class SnapshotsSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def fresh(tag: String): String =
    s"${Files.createTempDirectory(s"graft_snap_$tag").toString}/t"

  private def orders = graft.queries.Tables(spark, sfDir, "orders")

  test("CHECK constraints: update/merge refuse violations, NULL passes") {
    val t = fresh("ck")
    Snapshots.append(spark, t, orders.filter(col("o_totalprice") < 100000))
    Snapshots.addConstraint(spark, t, "cheap", "o_totalprice < 100000")
    // UPDATE that would push rows over the band is refused, no version
    val before = Snapshots.latestVersion(spark, t).get
    val e = intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, t, col("o_orderkey") % 2 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + lit(200000.0)))))
    assert(e.getMessage.contains("cheap"))
    assert(Snapshots.latestVersion(spark, t).contains(before))
    // MERGE with violating source rows is refused too
    intercept[IllegalArgumentException](
      Snapshots.merge(spark, t,
        orders.filter(col("o_totalprice") >= 100000).limit(5),
        Seq("o_orderkey")))
    // NULL is unknown, not a violation (SQL CHECK semantics)
    Snapshots.addConstraint(spark, t, "null_passes",
      "CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE true END")
    Snapshots.append(spark, t, orders.filter(col("o_totalprice") < 100000)
      .limit(3))
    // time travel below a drop still shows the constraint in force
    Snapshots.dropConstraint(spark, t, "cheap")
    val atAdd = Snapshots.snapshot(spark, t, before).get
    assert(atAdd.constraints.exists(_._1 == "cheap"))
    assert(!Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
      .constraints.exists(_._1 == "cheap"))
  }

  test("append shares prior files by reference; commit writes only its delta") {
    val t = fresh("share")
    val v1 = Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    val s1 = Snapshots.snapshot(spark, t, v1).get
    val v2 = Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    val s2 = Snapshots.snapshot(spark, t, v2).get
    assert(s1.files.toSet.subsetOf(s2.files.toSet), "v2 dropped carried files")
    assert(Snapshots.newFilesBetween(spark, t, v1, v2).toSet ==
      s2.files.toSet -- s1.files.toSet)
    // all fresh v2 files live in v2's own run-unique commit dir —
    // nothing rewritten, nothing staged into v1's dir
    val freshDirs = Snapshots.newFilesBetween(spark, t, v1, v2)
      .map(_.split("/").dropRight(1).mkString("/")).distinct
    assert(freshDirs.size == 1 && freshDirs.head.startsWith("_snap/c-"),
      freshDirs.toString)
    assert(!s1.files.exists(_.startsWith(freshDirs.head + "/")))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("time travel is stable: v1's rows never change as history grows") {
    val t = fresh("stable")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    def v1Sum = Snapshots.readAt(spark, t, 1).get
      .agg(sum(graft.queries.Num.cents(col("o_totalprice")))).head().getLong(0)
    val want = v1Sum
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    Snapshots.overwrite(spark, t, orders.filter(col("o_orderkey") % 3 === 2))
    assert(v1Sum == want)
    // and v1's physical bytes are untouched
    val c1 = new File(t,
      Snapshots.snapshot(spark, t, 1).get.files.head).getParentFile
    assert(c1.exists() && c1.listFiles().nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("overwrite replaces the view; prior versions stay readable until vacuum") {
    val t = fresh("ow")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    val v3 = Snapshots.overwrite(spark, t, orders.filter(col("o_orderkey") % 3 === 2))
    val n3 = orders.filter(col("o_orderkey") % 3 === 2).count()
    val n12 = orders.filter(col("o_orderkey") % 3 =!= 2).count()
    assert(Snapshots.readLatest(spark, t).get.count() == n3)
    assert(Snapshots.readAt(spark, t, 2).get.count() == n12)
    // vacuum keeping only v3: old commit dirs reclaimed, v3 unharmed
    val oldDirs = Snapshots.snapshot(spark, t, 2).get.files
      .map(f => new File(t, f).getParentFile).distinct
    Snapshots.vacuum(spark, t, keepFrom = v3)
    oldDirs.foreach(d => assert(!d.exists(), s"vacuum left $d"))
    assert(Snapshots.readAt(spark, t, v3).get.count() == n3)
    assert(Snapshots.snapshot(spark, t, 1).isEmpty, "trimmed log entry survives")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("merge: latest wins, tombstones reach prior delta files, history intact") {
    val t = fresh("merge")
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    Snapshots.append(spark, t, base)
    val b1 = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionAll(orders.filter(col("o_orderkey") % 4 === 1))
    val v2 = Snapshots.merge(spark, t, b1, Seq("o_orderkey"))
    // batch 2 re-updates keys batch 1 itself wrote (both its update half
    // %8==0 and its insert half %8==1): tombstones must hit c-2's files
    val b2 = orders.filter(col("o_orderkey") % 8 <= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    val v3 = Snapshots.merge(spark, t, b2, Seq("o_orderkey"))
    val fin = Snapshots.readAt(spark, t, v3).get.cache()
    // exactly one live copy per key
    assert(fin.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
    val expectKeys = orders
      .filter(col("o_orderkey") % 2 === 0 || col("o_orderkey") % 4 === 1)
      .count()
    assert(fin.count() == expectKeys)
    // a key updated twice carries batch 2's value
    val k0 = fin.filter(col("o_orderkey") % 8 === 0)
    val base0 = orders.filter(col("o_orderkey") % 8 === 0)
    assert(k0.agg(sum(graft.queries.Num.cents(col("o_totalprice")))).head().getLong(0)
      == base0.agg(sum(graft.queries.Num.cents(col("o_totalprice") + 2.0))).head().getLong(0))
    // time travel below the merges still sees the un-merged states
    assert(Snapshots.readAt(spark, t, 1).get.count() == base.count())
    val v2Count = Snapshots.readAt(spark, t, v2).get.count()
    assert(v2Count == expectKeys) // same membership, pre-batch-2 values
    fin.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("merge never rewrites existing files; the delete subtraction broadcasts") {
    val t = fresh("mergeplan")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    def fileHashes: Map[String, Long] = {
      def walk(d: File): Seq[File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      walk(new File(s"$t/_snap"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath)
          .foldLeft(1125899906842597L)((h, x) => 31 * h + x)).toMap
    }
    val before = fileHashes
    Snapshots.merge(spark, t,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    val after = fileHashes
    assert(before.forall { case (p, h) => after.get(p).contains(h) },
      "an existing snapshot file changed under MERGE")
    val mor = Snapshots.readLatest(spark, t).get
    mor.collect()
    val plan = mor.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("streaming snapshot sink: one version per batch, replay is a no-op, restart resumes") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft_snapsink_").toString
    val src = s"$root/src"; val table = s"$root/table"; val ckpt = s"$root/ckpt"
    val ev = graft.queries.Tables.events(spark, sfDir)
    ev.repartition(4).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val writeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, id) =>
          if (Snapshots.latestVersion(spark, table).getOrElse(0) < id + 1)
            Snapshots.append(spark, table, batch)
      val q = stream.writeStream.foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce()
    val vAfter = Snapshots.latestVersion(spark, table).get
    assert(vAfter == 4, s"expected 4 versions (one per file batch), got $vAfter")
    assert(Snapshots.readLatest(spark, table).get.count() == ev.count())
    // a REPLAYED batch (id below the committed frontier) must be a no-op
    val replay = spark.read.parquet(src).limit(10)
    if (Snapshots.latestVersion(spark, table).getOrElse(0) < 0 + 1)
      Snapshots.append(spark, table, replay)
    assert(Snapshots.latestVersion(spark, table).get == vAfter)
    assert(Snapshots.readLatest(spark, table).get.count() == ev.count())
    // RESTART from the same checkpoint with no new input: nothing commits
    runOnce()
    assert(Snapshots.latestVersion(spark, table).get == vAfter)
    // and each intermediate version remains time-travelable
    assert(Snapshots.readAt(spark, table, 2).get.count() > 0)
    assert(Snapshots.readAt(spark, table, 2).get.count() < ev.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("optimize folds merge debt into clean files as a new version") {
    val t = fresh("optimize")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.merge(spark, t,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    val want = Snapshots.readLatest(spark, t).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    val vOpt = Snapshots.optimize(spark, t).get
    val s = Snapshots.snapshot(spark, t, vOpt).get
    assert(s.deletes.isEmpty, "optimize left positional deletes behind")
    val carried = Snapshots.snapshot(spark, t, vOpt - 1).get.files.toSet
    assert(s.files.nonEmpty && !s.files.exists(carried),
      "optimize carried old files by reference instead of compacting")
    val got = Snapshots.readLatest(spark, t).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    assert(got == want)
    // history before the optimize is still travelable
    assert(Snapshots.readAt(spark, t, 1).get.count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("schema evolution: old versions keep the old schema, merged reads widen") {
    val t = fresh("evolve")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    val s1 = Snapshots.readAt(spark, t, 1).get.schema.fieldNames.toSet
    assert(!s1.contains("o_channel"))
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel", lit("web")))
    // v1 read is unchanged — time travel returns the era's own schema
    assert(Snapshots.readAt(spark, t, 1).get.schema.fieldNames.toSet == s1)
    val merged = Snapshots.readLatest(spark, t).get
    assert(merged.schema.fieldNames.contains("o_channel"))
    // pre-evolution rows carry null, post-evolution rows their value
    assert(merged.filter(col("o_channel").isNull).count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(merged.filter(col("o_channel") === "web").count() ==
      orders.filter(col("o_orderkey") % 2 === 1).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("concurrent committers both land: the loser recomputes, no lost update") {
    val t = fresh("occ")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    // deterministic race: while commit A has computed its content against
    // v1 but not yet published, commit B lands v2 — A must detect the
    // claimed version, recompute its carry against B's snapshot, and
    // publish v3 carrying BOTH deltas
    var injected = false
    val vA = Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 3 === 1),
      beforePublish = () => {
        if (!injected) {
          injected = true
          Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 2))
        }
      })
    assert(vA == 3, s"racer should publish v3, got v$vA")
    val want = orders.count()
    assert(Snapshots.readLatest(spark, t).get.count() == want,
      "a concurrent append's files were dropped")
    // and the intermediate versions are each internally consistent
    assert(Snapshots.readAt(spark, t, 2).get.count() ==
      orders.filter(col("o_orderkey") % 3 =!= 1).count())
    // true-parallel hammer: four threads, each appending once — all four
    // versions land, none lost
    val t2 = fresh("occ2")
    Snapshots.append(spark, t2, orders.filter(col("o_orderkey") % 8 === 7))
    val threads = (0 to 3).map { i =>
      new Thread(() => {
        Snapshots.append(spark, t2, orders.filter(col("o_orderkey") % 8 === i))
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshots.latestVersion(spark, t2).contains(5))
    assert(Snapshots.readLatest(spark, t2).get.count() ==
      orders.filter(col("o_orderkey") % 8 <= 3 || col("o_orderkey") % 8 === 7)
        .count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t2).getParentFile)
  }

  test("tombstones are table-relative: a relocated table still subtracts them") {
    val t = fresh("move")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.merge(spark, t,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    val want = Snapshots.readLatest(spark, t).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    // relocate the WHOLE table directory — an absolute-URI tombstone
    // would now match nothing and silently resurrect superseded rows
    val moved = s"${new File(t).getParent}/moved_t"
    assert(new File(t).renameTo(new File(moved)), "relocation rename failed")
    val got = Snapshots.readLatest(spark, moved).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    assert(got == want, s"relocated read drifted: $got != $want")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(moved).getParentFile)
  }

  test("change feed across a rewrite synthesizes deletes — applying it lands on v2") {
    val t = fresh("cdfopt")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.merge(spark, t,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    val v2 = Snapshots.latestVersion(spark, t).get
    val v3 = Snapshots.optimize(spark, t).get
    val feed = Snapshots.changesBetween(spark, t, v2, v3).get.cache()
    // the rewrite window must emit BOTH sides: every v2-live row as a
    // delete (the dropped files) and every v3 row as an insert — an
    // insert-only feed would double-count the whole table downstream
    val v2n = Snapshots.readAt(spark, t, v2).get.count()
    val v3n = Snapshots.readAt(spark, t, v3).get.count()
    assert(feed.filter(col("_change_type") === "delete").count() == v2n)
    assert(feed.filter(col("_change_type") === "insert").count() == v3n)
    // applying the feed to v2's state reproduces v3's state exactly
    val applied = Snapshots.readAt(spark, t, v2).get
      .exceptAll(feed.filter(col("_change_type") === "delete")
        .drop("_change_type"))
      .unionByName(feed.filter(col("_change_type") === "insert")
        .drop("_change_type"))
    val v3State = Snapshots.readAt(spark, t, v3).get
    assert(applied.exceptAll(v3State).isEmpty &&
      v3State.exceptAll(applied).isEmpty)
    feed.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("type widening: int→long across eras, each era keeps its own type") {
    val t = fresh("widen")
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_units", (col("o_orderkey") % 100).cast("int")))
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_units", col("o_orderkey") % 100 + 10000000000L))
    // time travel to the single-era version surfaces the narrow type
    val v1 = Snapshots.readAt(spark, t, 1).get
    assert(v1.schema("o_units").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // plain mergeSchema refuses int-vs-long — the log routes v2 to the
    // era read, which widens
    val wide = Snapshots.readAt(spark, t, 2).get
    assert(wide.schema("o_units").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(wide.count() == orders.count())
    val wantSum = orders.select(
      sum(when(col("o_orderkey") % 2 === 0, col("o_orderkey") % 100)
        .otherwise(col("o_orderkey") % 100 + 10000000000L))).head().getLong(0)
    assert(wide.agg(sum(col("o_units"))).head().getLong(0) == wantSum)
    // readLatest takes the era read too: the log's dir schemas do not
    // merge (int vs long), so the log picks it without trying a scan
    // (and optimize, which reads through it, must keep working)
    assert(Snapshots.readLatest(spark, t).get.count() == orders.count())
    val vOpt = Snapshots.optimize(spark, t).get
    assert(Snapshots.readAt(spark, t, vOpt).get.count() == orders.count())
    // widening composes with ADDITIVE evolution in the same read
    val vAdd = Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0).limit(10)
        .withColumn("o_units", col("o_orderkey") % 100 + 20000000000L)
        .withColumn("o_channel", lit("web")))
    val wide3 = Snapshots.readAt(spark, t, vAdd).get
    assert(wide3.schema("o_units").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(wide3.filter(col("o_channel").isNull).count() == orders.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("widenType ladder: integral widths, fractional promotion, conflicts throw") {
    import org.apache.spark.sql.types._
    assert(Snapshots.widenType(IntegerType, LongType) == LongType)
    assert(Snapshots.widenType(LongType, IntegerType) == LongType)
    assert(Snapshots.widenType(ByteType, ShortType) == ShortType)
    assert(Snapshots.widenType(FloatType, DoubleType) == DoubleType)
    assert(Snapshots.widenType(IntegerType, FloatType) == DoubleType)
    assert(Snapshots.widenType(LongType, DoubleType) == DoubleType)
    assert(Snapshots.widenType(StringType, StringType) == StringType)
    intercept[IllegalArgumentException](
      Snapshots.widenType(StringType, LongType))
  }

  test("log stats prune the file list: out-of-range files are never opened") {
    val t = fresh("stats")
    // range-cluster so per-file [min,max] intervals are narrow slices
    Snapshots.append(spark, t,
      orders.repartitionByRange(8, col("o_totalprice")),
      statsCols = Seq("o_totalprice"))
    val all = Snapshots.snapshot(spark, t, 1).get
    assert(all.files.size >= 8, s"expected >= 8 data files, saw ${all.files.size}")
    assert(all.stats.nonEmpty && all.stats.keySet == all.files.toSet)
    val pruned = Snapshots.prunedFilesAt(spark, t, 1,
      "o_totalprice", 50000.0, 150000.0).get
    assert(pruned.nonEmpty && pruned.size < all.files.size,
      s"no pruning: ${pruned.size} of ${all.files.size} files survive")
    // the pruned read opens ONLY surviving files (inputFiles is the
    // reader's actual file list) and still equals the full-scan filter
    val df = Snapshots.readAtPruned(spark, t, 1,
      "o_totalprice", 50000.0, 150000.0).get
    val opened = df.inputFiles.map(_.split("/_snap/").last).toSet
    assert(opened == pruned.map(_.stripPrefix("_snap/")).toSet,
      s"opened $opened vs pruned $pruned")
    val want = Snapshots.readAt(spark, t, 1).get
      .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 150000.0)
    assert(df.count() == want.count())
    assert(df.agg(sum(col("o_orderkey"))).head().getLong(0) ==
      want.agg(sum(col("o_orderkey"))).head().getLong(0))
    // a no-overlap range opens nothing but keeps the schema;
    // full-domain degrades to all files
    val none = Snapshots.readAtPruned(spark, t, 1,
      "o_totalprice", -2.0, -1.0).get
    assert(none.count() == 0)
    assert(none.columns.sameElements(Snapshots.readAt(spark, t, 1).get.columns))
    assert(Snapshots.prunedFilesAt(spark, t, 1,
      "o_totalprice", 0.0, 1e9).get.size == all.files.size)
    // carried files keep their stats across a later append
    Snapshots.append(spark, t, orders.limit(10), statsCols = Seq("o_totalprice"))
    val s2 = Snapshots.snapshot(spark, t, 2).get
    assert(s2.stats.keySet == s2.files.toSet)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("predicate delete tombstones live rows only; re-delete is a no-op version") {
    val t = fresh("pdel")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    val before = Snapshots.readLatest(spark, t).get.count()
    val v2 = Snapshots.deleteWhere(spark, t, col("o_totalprice") < 50000)
    val want = orders.filter(col("o_orderkey") % 2 === 0 &&
      col("o_totalprice") >= 50000).count()
    assert(v2 == 2)
    assert(Snapshots.readAt(spark, t, v2).get.count() == want)
    // pre-delete version stays travelable, data files untouched
    assert(Snapshots.readAt(spark, t, 1).get.count() == before)
    assert(Snapshots.snapshot(spark, t, v2).get.files ==
      Snapshots.snapshot(spark, t, 1).get.files)
    // deleting the same predicate again publishes a version but changes
    // nothing (no live row matches)
    val v3 = Snapshots.deleteWhere(spark, t, col("o_totalprice") < 50000)
    assert(v3 == 3)
    assert(Snapshots.readAt(spark, t, v3).get.count() == want)
    // the deletion surfaces in the change feed as delete images
    val feed = Snapshots.changesBetween(spark, t, 1, v2).get
    assert(feed.filter(col("_change_type") === "insert").count() == 0)
    assert(feed.filter(col("_change_type") === "delete").count() ==
      before - want)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("a file://-spelled table path keeps its deletes and compacts them") {
    val t = fresh("qualified")
    val q = s"file://$t"
    Snapshots.append(spark, q, orders.repartition(3, col("o_orderkey")))
    val total = orders.count()
    val want = orders.filter(col("o_totalprice") >= 30000).count()
    assert(want < total)
    val vDel = Snapshots.deleteWhere(spark, q, col("o_totalprice") < 30000)
    assert(Snapshots.snapshot(spark, q, vDel).get.deletes.nonEmpty)
    assert(Snapshots.readLatest(spark, q).get.count() == want,
      "deleted rows served again through the qualified path")
    val vOpt = Snapshots.optimize(spark, q).get
    assert(Snapshots.snapshot(spark, q, vOpt).get.deletes.isEmpty,
      "tombstones survived optimize")
    assert(Snapshots.readLatest(spark, t).get.count() == want,
      "optimize did not fold the deletes")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("large tombstone batches shard into multiple delete files; reads unchanged") {
    val t = fresh("shard")
    // 8 data files so tombstones hash-cluster across several targets
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0).repartition(8))
    val before = Snapshots.readLatest(spark, t).get.count()
    // The delete write fans out under AQE by batch VOLUME (advisory
    // partition size): a production-scale tombstone batch splits into
    // ~64MB writer tasks. Shrink the advisory size so this test-sized
    // batch exercises the same multi-file path.
    val keys = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> spark.conf.get(k, "64MB"))
    // both sizes sit below any non-empty partition, so AQE never merges
    // two tombstone partitions into one writer task, however the
    // run-unique file names hash
    keys.foreach(spark.conf.set(_, "1b"))
    val v2 =
      try Snapshots.deleteWhere(spark, t, col("o_totalprice") < 150000)
      finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    val s2 = Snapshots.snapshot(spark, t, v2).get
    assert(s2.deletes.size > 1,
      s"expected a sharded multi-file delete commit, got ${s2.deletes}")
    // each delete file covers a DISJOINT set of target data files
    // (hash-clustered on `file`) — the per-task positional-delete shape
    val covered = s2.deletes.map(d =>
      spark.read.parquet(s"$t/$d").select("file").distinct()
        .collect().map(_.getString(0)).toSet)
    covered.combinations(2).foreach { case Seq(a, b) =>
      assert(a.intersect(b).isEmpty, "delete files overlap data files")
    }
    val want = orders.filter(col("o_orderkey") % 2 === 0 &&
      col("o_totalprice") >= 150000).count()
    assert(Snapshots.readAt(spark, t, v2).get.count() == want)
    assert(Snapshots.readAt(spark, t, 1).get.count() == before)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("column drop: metadata-only, time travel below, re-add is a NEW column") {
    val t = fresh("drop")
    Snapshots.append(spark, t, orders.limit(100)
      .withColumn("units", (col("o_orderkey") % 100).cast("int")))
    val filesBefore = Snapshots.snapshot(spark, t, 1).get.files
    val v2 = Snapshots.dropColumn(spark, t, "units")
    // metadata-only: same files, same bytes
    assert(Snapshots.snapshot(spark, t, v2).get.files == filesBefore)
    // the drop version no longer surfaces the column at all
    assert(!Snapshots.readAt(spark, t, v2).get.columns.contains("units"))
    // time travel below the drop still shows it
    assert(Snapshots.readAt(spark, t, 1).get.columns.contains("units"))
    // re-add as a NEW column with a DIFFERENT (wider) type
    Snapshots.append(spark, t, orders.limit(100)
      .withColumn("units", col("o_orderkey") % 7))
    val v3 = Snapshots.readAt(spark, t, 3).get
    assert(v3.schema("units").dataType.typeName == "long")
    // pre-drop rows read NULL — the dropped era's bytes never resurface
    assert(v3.filter(col("units").isNotNull).count() == 100)
    assert(v3.count() == 200)
    // dropping a non-existent (already dropped under this name) era only:
    // the re-added column CAN be dropped again
    val v4 = Snapshots.dropColumn(spark, t, "units")
    assert(!Snapshots.readAt(spark, t, v4).get.columns.contains("units"))
    // restore below both drops resurrects the original column
    val v5 = Snapshots.restore(spark, t, 1)
    val restored = Snapshots.readAt(spark, t, v5).get
    assert(restored.schema("units").dataType.typeName == "integer")
    assert(restored.filter(col("units").isNotNull).count() == 100)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("drop composes with renames: later renames never resurrect dead eras") {
    val t = fresh("dropren")
    Snapshots.append(spark, t, orders.limit(60)
      .withColumn("u", (col("o_orderkey") % 10).cast("int")))
    // rename u→b, drop b, re-add b, rename b→c: the dropped era spoke
    // 'b' at chain position 1; the final 'c' must resolve ONLY to the
    // re-added era
    Snapshots.renameColumn(spark, t, "u", "b")
    Snapshots.dropColumn(spark, t, "b")
    Snapshots.append(spark, t, orders.limit(40)
      .withColumn("b", lit(5).cast("int")))
    Snapshots.renameColumn(spark, t, "b", "c")
    val live = Snapshots.readLatest(spark, t).get
    assert(live.columns.contains("c") && !live.columns.contains("b"))
    assert(live.filter(col("c").isNotNull).count() == 40)
    assert(live.agg(sum(col("c"))).head().getLong(0) == 200)
    // predicate DML through the evolved table reaches the right rows
    val vDel = Snapshots.deleteWhere(spark, t, col("c") === 5)
    assert(Snapshots.readAt(spark, t, vDel).get.count() == 60)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("latest-version hint: stale and missing hints heal, no wrong answers") {
    val t = fresh("hint")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 2))
    assert(Snapshots.latestVersion(spark, t).contains(3))
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    val hint = s"$t/_log/_latest"
    // a STALE hint (crash between publish and hint write) probes forward
    ops.writeString(hint, "1")
    assert(Snapshots.latestVersion(spark, t).contains(3))
    // a MISSING hint falls back to the listing
    ops.delete(hint)
    assert(Snapshots.latestVersion(spark, t).contains(3))
    // a CORRUPT hint is ignored, not propagated
    ops.writeString(hint, "not-a-number")
    assert(Snapshots.latestVersion(spark, t).contains(3))
    // a hint pointing at a vacuumed (nonexistent) version is ignored
    ops.writeString(hint, "999")
    assert(Snapshots.latestVersion(spark, t).contains(3))
    // and the next commit repairs the hint
    Snapshots.append(spark, t, orders.limit(5))
    assert(ops.readString(hint).trim == "4")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("column rename: metadata-only, versioned with the log, names tombstoned") {
    val t = fresh("rename")
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_chan", lit("web")))
    def dataFilesBytes: Long = Snapshots.snapshot(spark, t,
        Snapshots.latestVersion(spark, t).get).get.files
      .map(f => new File(t, f).length()).sum
    val bytesBefore = dataFilesBytes
    val v2 = Snapshots.renameColumn(spark, t, "o_chan", "o_channel")
    // zero data movement; same files, new name surfaced
    assert(dataFilesBytes == bytesBefore)
    assert(Snapshots.snapshot(spark, t, v2).get.files ==
      Snapshots.snapshot(spark, t, 1).get.files)
    assert(Snapshots.readAt(spark, t, v2).get.columns.contains("o_channel"))
    assert(!Snapshots.readAt(spark, t, v2).get.columns.contains("o_chan"))
    // time travel below the rename keeps the era's own name
    assert(Snapshots.readAt(spark, t, 1).get.columns.contains("o_chan"))
    // later appends use the new name and unify
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel", lit("store")))
    val merged = Snapshots.readLatest(spark, t).get
    assert(merged.filter(col("o_channel") === "web").count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(merged.filter(col("o_channel") === "store").count() ==
      orders.filter(col("o_orderkey") % 2 === 1).count())
    // chained rename resolves transitively; the old name is tombstoned
    Snapshots.renameColumn(spark, t, "o_channel", "o_src")
    assert(Snapshots.readLatest(spark, t).get.columns.contains("o_src"))
    intercept[IllegalArgumentException](
      Snapshots.append(spark, t, orders.limit(1).withColumn("o_chan", lit("x"))))
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "o_src", "o_chan"))
    // renaming a missing column or onto an existing one refuses
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "o_src", "o_orderkey"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("rename keeps log-stats pruning working under the current name") {
    val t = fresh("renstats")
    Snapshots.append(spark, t,
      orders.repartitionByRange(8, col("o_totalprice"))
        .withColumnRenamed("o_totalprice", "o_price"),
      statsCols = Seq("o_price"))
    Snapshots.renameColumn(spark, t, "o_price", "o_amount")
    val v = Snapshots.latestVersion(spark, t).get
    val pruned = Snapshots.prunedFilesAt(spark, t, v,
      "o_amount", 50000.0, 150000.0).get
    val all = Snapshots.snapshot(spark, t, v).get.files
    assert(pruned.nonEmpty && pruned.size < all.size)
    val got = Snapshots.readAtPruned(spark, t, v, "o_amount", 50000.0, 150000.0).get
    val want = orders.filter(col("o_totalprice") >= 50000.0 &&
      col("o_totalprice") <= 150000.0)
    assert(got.count() == want.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("DML on evolved tables: merge keys and delete predicates reach old eras") {
    val t = fresh("evolvedml")
    // era 1: int metric, old column name
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_units", (col("o_orderkey") % 100).cast("int"))
        .withColumnRenamed("o_totalprice", "o_price"))
    Snapshots.renameColumn(spark, t, "o_price", "o_amount")
    // era 2: bigint metric, current column name — widened + renamed mix
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_units", col("o_orderkey") % 100 + 10000000000L)
        .withColumnRenamed("o_totalprice", "o_amount"))
    // a predicate on the CURRENT name must tombstone rows of BOTH eras
    Snapshots.deleteWhere(spark, t, col("o_amount") < 50000)
    val afterDelete = Snapshots.readLatest(spark, t).get
    assert(afterDelete.filter(col("o_amount") < 50000).count() == 0)
    assert(afterDelete.count() ==
      orders.filter(col("o_totalprice") >= 50000).count())
    // a merge keyed on o_orderkey must supersede OLD-era copies too
    val upd = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_units", col("o_orderkey") % 100 + 20000000000L)
      .withColumnRenamed("o_totalprice", "o_amount")
    Snapshots.merge(spark, t, upd, Seq("o_orderkey"))
    val fin = Snapshots.readLatest(spark, t).get.cache()
    assert(fin.groupBy("o_orderkey").count()
      .filter(col("count") > 1).count() == 0,
      "merge missed an old-era live copy (duplicate keys survive)")
    assert(fin.filter(col("o_units") >= 20000000000L).count() ==
      orders.filter(col("o_orderkey") % 4 === 0).count())
    fin.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("commit metadata is O(delta): log objects never inline the file list") {
    val t = fresh("odelta")
    // ten appends: every log object names manifests by reference; none
    // inlines a growing file list, so commit cost is independent of
    // table size
    for (i <- 0 to 9)
      Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 10 === i))
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    val sizes = (1 to 10).map(v =>
      ops.readString(f"$t/_log/v$v%06d.json").length)
    // each log adds one ~12-char manifest ref — growth per version is
    // tiny and linear in COMMITS, not files
    assert(sizes.last < sizes.head + 10 * 40, sizes.toString)
    assert(!ops.readString(f"$t/_log/v${10}%06d.json").contains(".parquet"),
      "log object inlines data file names")
    // resolution still materializes the full accumulated file list
    val s10 = Snapshots.snapshot(spark, t, 10).get
    assert(s10.manifests.size == 10)
    assert(s10.files.nonEmpty &&
      Snapshots.readLatest(spark, t).get.count() == orders.count())
    // vacuum after an overwrite GCs the unreferenced manifests
    val vOw = Snapshots.overwrite(spark, t, orders.limit(100))
    Snapshots.vacuum(spark, t, keepFrom = vOw)
    val manifestsLeft = new File(s"$t/_log").listFiles()
      .map(_.getName).count(n => n.startsWith("m-") && n.endsWith(".json"))
    assert(manifestsLeft == 1, s"manifest GC left $manifestsLeft objects")
    assert(Snapshots.readLatest(spark, t).get.count() == 100)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("small-file optimize rewrites only the tail; bulk carries by reference") {
    val t = fresh("smallopt")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1)) // the bulk file
    Snapshots.deleteWhere(spark, t, col("o_totalprice") < 30000)
    for (i <- 0 to 2) // the small-file tail a streaming ingest accretes
      Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1)
        .limit(5 + i).coalesce(1))
    val vBefore = Snapshots.latestVersion(spark, t).get
    val sBefore = Snapshots.snapshot(spark, t, vBefore).get
    val bulk = sBefore.files.filter(f => new File(t, f).length() >= 10000)
    val tiny = sBefore.files.filterNot(bulk.toSet)
    assert(bulk.nonEmpty && tiny.size == 3, s"unexpected layout: $sBefore")
    val wantAgg = Snapshots.readAt(spark, t, vBefore).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head()
    val vOpt = Snapshots.optimizeSmallFiles(spark, t, minBytes = 10000).get
    val sAfter = Snapshots.snapshot(spark, t, vOpt).get
    // bulk files carried by reference — identical paths, untouched bytes
    assert(bulk.toSet.subsetOf(sAfter.files.toSet))
    // the tiny tail is gone, replaced by fewer compacted files
    assert(!sAfter.files.exists(tiny.toSet))
    assert(sAfter.files.size < sBefore.files.size)
    // tombstones into the carried bulk still apply; data identical
    assert(sAfter.deletes == sBefore.deletes)
    assert(Snapshots.readAt(spark, t, vOpt).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head() == wantAgg)
    // carried stats survive for the bulk file; pre-optimize history intact
    assert(Snapshots.readAt(spark, t, vBefore).get
      .agg(count(lit(1)), sum(graft.queries.Num.cents(col("o_totalprice"))))
      .head() == wantAgg)
    // nothing small enough → a no-op, no version published
    assert(Snapshots.optimizeSmallFiles(spark, t, minBytes = 10).isEmpty)
    assert(Snapshots.latestVersion(spark, t).contains(vOpt))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("log blooms prune point lookups: superset guarantee over a key sample") {
    val t = fresh("bloom")
    Snapshots.append(spark, t,
      orders.repartition(8, col("o_orderkey")),
      bloomCols = Seq("o_orderkey"))
    val s1 = Snapshots.snapshot(spark, t, 1).get
    assert(s1.blooms.keySet == s1.files.toSet)
    val keys = orders.select("o_orderkey").limit(50).collect()
      .map(_.getLong(0))
    var prunedSomething = false
    keys.foreach { k =>
      val pruned = Snapshots.prunedFilesForKey(spark, t, 1,
        "o_orderkey", k).get
      if (pruned.size < s1.files.size) prunedSomething = true
      val got = Snapshots.readAtKey(spark, t, 1, "o_orderkey", k).get
      // the reader opens ONLY the surviving files...
      assert(got.inputFiles.map(_.split("/_snap/").last).toSet
        .subsetOf(pruned.map(_.stripPrefix("_snap/")).toSet))
      // ...and the superset guarantee means no matching row is lost
      assert(got.count() ==
        orders.filter(col("o_orderkey") === k).count(), s"key $k")
    }
    assert(prunedSomething, "blooms never pruned any file for 50 keys")
    // an absent key usually opens nothing (fp leakage allowed, bounded)
    val ghost = Snapshots.prunedFilesForKey(spark, t, 1,
      "o_orderkey", -987654321L).get
    assert(ghost.size < s1.files.size)
    assert(Snapshots.readAtKey(spark, t, 1,
      "o_orderkey", -987654321L).get.count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("plain readers never see snapshot internals") {
    val t = fresh("plain")
    Snapshots.append(spark, t, orders.limit(100))
    // _snap/_log are underscore-invisible: a naive read of the table root
    // finds no parquet data at all rather than mixing versions
    val err = intercept[Exception](spark.read.parquet(t).count())
    assert(err != null)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("predicate update: one version, no rewrite, merge composes on top") {
    val t = fresh("upd")
    import graft.queries.Num
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    val before = Snapshots.readLatest(spark, t).get.count()
    val v2 = Snapshots.updateWhere(spark, t, col("o_totalprice") < 30000,
      Map("o_totalprice" -> (col("o_totalprice") + 5.0)))
    // row count unchanged, every prior file carried by reference
    assert(Snapshots.readAt(spark, t, v2).get.count() == before)
    val s1 = Snapshots.snapshot(spark, t, 1).get
    val s2 = Snapshots.snapshot(spark, t, v2).get
    assert(s1.files.toSet.subsetOf(s2.files.toSet), "update rewrote a file")
    // the pre-update state stays travelable: v1 sum is the raw sum
    def centsSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(Num.cents(col("o_totalprice")))).head().getLong(0)
    assert(centsSum(Snapshots.readAt(spark, t, 1).get) ==
      centsSum(orders.filter(col("o_orderkey") % 2 === 0)))
    // update-then-merge: the merge value wins over the updated value for
    // merged keys; unmerged updated keys keep the update
    Snapshots.merge(spark, t,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", lit(999.0)),
      Seq("o_orderkey"))
    val fin = Snapshots.readLatest(spark, t).get.cache()
    try {
      assert(fin.count() == before)
      assert(fin.filter(col("o_orderkey") % 4 === 0)
        .select(countDistinct(col("o_totalprice"))).head().getLong(0) == 1)
      assert(fin.filter(col("o_orderkey") % 4 === 0)
        .agg(max(col("o_totalprice"))).head().getDouble(0) == 999.0)
      val unmerged = orders.filter(col("o_orderkey") % 4 === 2)
        .withColumn("o_totalprice",
          when(col("o_totalprice") < 30000, col("o_totalprice") + 5.0)
            .otherwise(col("o_totalprice")))
      assert(centsSum(fin.filter(col("o_orderkey") % 4 === 2)) ==
        centsSum(unmerged))
    } finally fin.unpersist()
    // matching zero rows still records a version
    val vNoop = Snapshots.updateWhere(spark, t, lit(false),
      Map("o_totalprice" -> lit(0.0)))
    assert(vNoop == Snapshots.latestVersion(spark, t).get)
    assert(Snapshots.readLatest(spark, t).get.count() == before)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("zorder optimize: fresh files cover sub-rectangles of both domains") {
    val t = fresh("zopt")
    for (r <- 0 until 8)
      Snapshots.append(spark, t,
        orders.filter(col("o_orderkey") % 8 === r).coalesce(1))
    val before = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get.files
    val total = before.map(f => new File(t, f).length()).sum
    val v = Snapshots.optimizeSmallFiles(spark, t, minBytes = total / 6 + 1,
      statsCols = Seq("o_custkey", "o_totalprice"),
      zorderBy = Seq("o_custkey", "o_totalprice")).get
    val s = Snapshots.snapshot(spark, t, v).get
    // live rows preserved bit-for-bit in count and money sum
    import graft.queries.Num
    def centsSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(Num.cents(col("o_totalprice")))).head().getLong(0)
    assert(Snapshots.readAt(spark, t, v).get.count() == orders.count())
    assert(centsSum(Snapshots.readAt(spark, t, v).get) == centsSum(orders))
    // every fresh file records stats for BOTH columns, and the Morton
    // layout gives sub-domain intervals on both dimensions for at least
    // half the files (an unclustered rewrite leaves every interval
    // spanning ~the whole domain)
    assert(s.files.size > 1 && s.files.size < before.size)
    val dom = orders.agg(
      min(col("o_custkey").cast("double")), max(col("o_custkey").cast("double")),
      min(col("o_totalprice")), max(col("o_totalprice"))).head()
    def width(iv: (Double, Double)) = iv._2 - iv._1
    val cw = dom.getDouble(1) - dom.getDouble(0)
    val pw = dom.getDouble(3) - dom.getDouble(2)
    val cSub = s.files.count(f => width(s.stats(f)("o_custkey")) < 0.75 * cw)
    val pSub = s.files.count(f => width(s.stats(f)("o_totalprice")) < 0.75 * pw)
    assert(cSub * 2 >= s.files.size, s"custkey intervals loose: $cSub/${s.files.size}")
    assert(pSub * 2 >= s.files.size, s"price intervals loose: $pSub/${s.files.size}")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("restore republishes a prior version by reference; history intact") {
    val t = fresh("restore")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === 1))
    val n1 = Snapshots.readAt(spark, t, 1).get.count()
    val n2 = Snapshots.readAt(spark, t, 2).get.count()
    val v3 = Snapshots.restore(spark, t, 1)
    val s1 = Snapshots.snapshot(spark, t, 1).get
    val s3 = Snapshots.snapshot(spark, t, v3).get
    // exact content carry, by reference — no new data files staged
    assert(s3.files == s1.files && s3.manifests == s1.manifests)
    assert(Snapshots.readAt(spark, t, v3).get.count() == n1)
    // the rolled-over version stays travelable
    assert(Snapshots.readAt(spark, t, 2).get.count() == n2)
    // restoring a missing version fails loudly
    intercept[IllegalArgumentException](Snapshots.restore(spark, t, 99))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("feed composes across restore-then-re-delete: no spurious deletes") {
    val t = fresh("rrd")
    Snapshots.append(spark, t, orders.limit(400))
    val v2 = Snapshots.deleteWhere(spark, t, col("o_totalprice") < 100000)
    val v3 = Snapshots.restore(spark, t, 1)
    val v4 = Snapshots.deleteWhere(spark, t, col("o_totalprice") < 100000)
    // state at v2 and v4 is identical, so the (v2, v4) feed must be
    // EMPTY — the re-delete's tombstones cover rows already dead at v2,
    // and emitting deletes for them would double-delete downstream
    assert(Snapshots.changesBetween(spark, t, v2, v4).get.count() == 0)
    // the restore window itself still reports its resurrections
    assert(Snapshots.changesBetween(spark, t, v2, v3).get
      .filter(col("_change_type") === "insert").count() ==
      orders.limit(400).filter(col("o_totalprice") < 100000).count())
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("update SET is simultaneous (swap works) and rejects unknown columns") {
    val t = fresh("swap")
    import spark.implicits._
    val df = Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("k", "a", "b")
    Snapshots.append(spark, t, df)
    // the classic swap: both RHS must see PRE-update values
    Snapshots.updateWhere(spark, t, lit(true),
      Map("a" -> col("b"), "b" -> col("a")))
    val got = Snapshots.readLatest(spark, t).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 20.0, 10.0), (2L, 40.0, 30.0)), got.toSeq)
    // a typo'd SET column fails instead of committing schema evolution
    val e = intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, t, lit(true), Map("nope" -> lit(0.0))))
    assert(e.getMessage.contains("nope"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("checkpointed AS-OF resolution: identical answers, stale/corrupt heal") {
    val t = fresh("ckpt")
    for (r <- 0 to 2)
      Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 3 === r))
    val ts = (1 to 3).map(v => Snapshots.snapshot(spark, t, v).get.commitTs)
    def resolveAll() = ts.map(x => Snapshots.versionAtTimestamp(spark, t, x))
    val want = resolveAll()
    assert(want == Seq(Some(1), Some(2), Some(3)))
    Snapshots.checkpoint(spark, t)
    assert(resolveAll() == want)
    // STALE checkpoint: a commit after it must still resolve (forward
    // probe past the checkpointed range)
    Snapshots.append(spark, t, orders.limit(10))
    val ts4 = Snapshots.snapshot(spark, t, 4).get.commitTs
    assert(Snapshots.versionAtTimestamp(spark, t, ts4).contains(4))
    assert(resolveAll() == want)
    // CORRUPT checkpoint degrades to the walk, never fails
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    ops.writeString(s"$t/_log/_ckpt.tmp-x", "{not json")
    ops.move(s"$t/_log/_ckpt.tmp-x", s"$t/_log/_ckpt")
    assert(Snapshots.versionAtTimestamp(spark, t, ts4).contains(4))
    assert(resolveAll() == want)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("AS-OF never resolves to a trimmed version, even from a stale checkpoint") {
    val t = fresh("ckptvac")
    for (r <- 0 to 3)
      Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 4 === r))
    val ts = (1 to 4).map(v => Snapshots.snapshot(spark, t, v).get.commitTs)
    Snapshots.checkpoint(spark, t)
    // simulate a vacuum the checkpoint never saw: v1's log object gone
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    ops.delete(s"$t/_log/v000001.json")
    // the checkpoint still lists v1 — resolution must NOT return it
    // (the caller would find no such snapshot); the walk fallback finds
    // nothing at-or-before ts1 among surviving versions
    assert(Snapshots.versionAtTimestamp(spark, t, ts.head).isEmpty)
    assert(Snapshots.versionAtTimestamp(spark, t, ts(2)).contains(3))
    // a real vacuum refreshes the checkpoint as part of the trim
    Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(Snapshots.versionAtTimestamp(spark, t, ts(1)).isEmpty)
    assert(Snapshots.versionAtTimestamp(spark, t, ts(3)).contains(4))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("legacy inline-files log format fails loudly instead of dropping data") {
    val t = fresh("legacy")
    Snapshots.append(spark, t, orders.limit(100))
    // hand-forge a pre-manifest-format v2 whose file list is inlined:
    // the old shape every commit path would silently drop on carry
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    val files = Snapshots.snapshot(spark, t, 1).get.files
    ops.writeString(s"$t/_log/v000002.json", Json.render(Map(
      "version" -> 2L,
      "files" -> files, "deletes" -> Nil, "renames" -> Nil)))
    val e = intercept[IllegalStateException](Snapshots.readLatest(spark, t))
    assert(e.getMessage.contains("pre-manifest"))
    // a stamp-less object WITHOUT inline files, and a format from a
    // newer build: both refuse reads and commits instead of guessing
    val v1 = Json.parseObject(ops.readString(s"$t/_log/v000001.json"))
    val unstamped = v1 - "format" + ("version" -> 2L)
    val newer = unstamped + ("format" -> (Snapshots.LiteSnapshot.Format + 1))
    for ((forged, phrase) <- Seq(unstamped -> "pre-manifest",
        newer -> "log format")) {
      ops.writeString(s"$t/_log/v000002.json", Json.render(forged))
      val onRead = intercept[IllegalStateException](
        Snapshots.readLatest(spark, t))
      assert(onRead.getMessage.contains(phrase), onRead.getMessage)
      val onAppend = intercept[IllegalStateException](
        Snapshots.append(spark, t, orders.limit(10)))
      assert(onAppend.getMessage.contains(phrase), onAppend.getMessage)
      assert(Snapshots.latestVersion(spark, t).contains(2),
        "no version may commit on top of an unreadable log object")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("non-finite stats values are skipped, not rendered into the manifest") {
    val t = fresh("nan")
    import spark.implicits._
    val df = Seq((1L, 1.5), (2L, Double.NaN), (3L, 2.5))
      .toDF("k", "x").coalesce(1)
    Snapshots.append(spark, t, df, statsCols = Seq("k", "x"))
    // the table must stay fully readable (an unparseable manifest throws
    // here), the NaN column records no stats, the clean column does
    val s = Snapshots.snapshot(spark, t, 1).get
    assert(Snapshots.readLatest(spark, t).get.count() == 3)
    val fileStats = s.stats(s.files.head)
    assert(!fileStats.contains("x"), "NaN-poisoned max must record no entry")
    assert(fileStats("k") == (1.0, 3.0))
    // no stats entry → unknown never prunes: the file survives any range
    assert(Snapshots.prunedFilesAt(spark, t, 1, "x", 100.0, 200.0)
      .get == s.files)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("point/range reads of a zero-file snapshot return empty, not an error") {
    val t = fresh("zerofile")
    // deleteWhere on a never-committed table publishes a version with no
    // files at all — every read form must survive it
    val v = Snapshots.deleteWhere(spark, t, col("k") === 1)
    assert(Snapshots.snapshot(spark, t, v).get.files.isEmpty)
    assert(Snapshots.readAtKey(spark, t, v, "k", 1L).get.count() == 0)
    assert(Snapshots.readAtPruned(spark, t, v, "k", 0.0, 9.0).get.count() == 0)
    assert(Snapshots.readAt(spark, t, v).get.count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("shallow clone: zero-copy birth, tombstones honored, divergence") {
    val t = fresh("clsrc")
    val c = s"${new File(t).getParent}/c"
    Snapshots.append(spark, t, orders.limit(100))
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 3 === 0)
    Snapshots.shallowClone(spark, t, c)
    // zero copy: the clone's only _snap content is the rewritten delete
    // sidecar — no c- data dir exists until the clone itself writes
    val snapDirs = new File(c, "_snap").listFiles().map(_.getName)
    assert(snapDirs.forall(_.startsWith("d-")), snapDirs.mkString(", "))
    val s1 = Snapshots.snapshot(spark, c, 1).get
    assert(s1.files.nonEmpty && s1.files.forall(_.startsWith("/")))
    // carried tombstones subtract on the clone read
    val expect = Snapshots.readLatest(spark, t).get.count()
    assert(Snapshots.readLatest(spark, c).get.count() == expect)
    // divergence: delete on the clone never touches the source
    Snapshots.deleteWhere(spark, c, col("o_orderkey") % 3 === 1)
    assert(Snapshots.readLatest(spark, t).get.count() == expect)
    assert(Snapshots.readLatest(spark, c).get.count() < expect)
    // stats/constraints/schema carried: a second clone OF THE CLONE
    // passes absolute refs through unchanged
    val cc = s"${new File(t).getParent}/cc"
    Snapshots.shallowClone(spark, c, cc)
    assert(Snapshots.readLatest(spark, cc).get.count() ==
      Snapshots.readLatest(spark, c).get.count())
    assert(Snapshots.snapshot(spark, cc, 1).get.files == // same foreign refs
      Snapshots.snapshot(spark, c,
        Snapshots.latestVersion(spark, c).get).get.files)
    // clone into an existing table is refused
    intercept[IllegalStateException](Snapshots.shallowClone(spark, t, c))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("shallow clone: clone vacuum never reaps source files") {
    val t = fresh("clvac")
    val c = s"${new File(t).getParent}/c"
    Snapshots.append(spark, t, orders.limit(80))
    Snapshots.shallowClone(spark, t, c)
    Snapshots.updateWhere(spark, c, col("o_orderkey") % 2 === 0,
      Map("o_orderpriority" -> lit("X")))
    Snapshots.vacuum(spark, c, keepFrom = 2)
    // clone v1 gone, clone live intact, source fully intact
    assert(Snapshots.readAt(spark, c, 1).isEmpty)
    assert(Snapshots.readLatest(spark, c).get.count() == 80)
    assert(Snapshots.readLatest(spark, t).get.count() == 80)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("merge with a new column: eras widen, v1 stays narrow") {
    val t = fresh("mevo")
    Snapshots.append(spark, t, orders.limit(60)
      .select("o_orderkey", "o_totalprice"))
    Snapshots.merge(spark, t, orders.limit(60)
      .filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        lit("fresh").as("o_tag")),
      Seq("o_orderkey"))
    val v2 = Snapshots.readLatest(spark, t).get
    assert(v2.schema.fieldNames.contains("o_tag"))
    assert(v2.count() == 60)
    assert(v2.filter(col("o_tag").isNull).count() ==
      v2.filter(col("o_orderkey") % 4 =!= 0).count())
    assert(!Snapshots.readAt(spark, t, 1).get
      .schema.fieldNames.contains("o_tag"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("optimizeDeletes: one sidecar spanning hot+cold splits correctly") {
    val t = fresh("odsplit")
    // two clustered commits, then ONE delete whose sidecar tombstones
    // rows in BOTH eras: hot-era ratio 1.0, cold-era ratio ~0.2
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 5 === 0).limit(40).coalesce(1))
    Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 5 =!= 0).limit(200).coalesce(1))
    Snapshots.deleteWhere(spark, t,
      col("o_orderkey") % 5 === 0 || col("o_orderkey") % 5 === 1)
    val coldDeleted = Snapshots.readAt(spark, t, 2).get
      .filter(col("o_orderkey") % 5 === 1).count()
    val before = Snapshots.readLatest(spark, t).get.count()
    val v = Snapshots.optimizeDeletes(spark, t, minDeleteRatio = 0.5).get
    val s = Snapshots.snapshot(spark, t, v).get
    // live rows unchanged; retained tombstones all point into cold files
    assert(Snapshots.readAt(spark, t, v).get.count() == before)
    val fileSet = s.files.toSet
    val remaining = spark.read
      .parquet(s.deletes.map(f => s"$t/$f"): _*)
      .select("file").distinct().collect().map(_.getString(0))
    assert(remaining.nonEmpty && remaining.forall(fileSet))
    // rewritten-era rows need no tombstones: exactly the cold-era
    // (%5==1) tombstones survive, the hot era's 40 are gone
    val tombRows = spark.read
      .parquet(s.deletes.map(f => s"$t/$f"): _*).count()
    assert(tombRows == coldDeleted && coldDeleted > 0)
    // nothing qualifies at an impossible threshold → no-op None
    assert(Snapshots.optimizeDeletes(spark, t, minDeleteRatio = 2.0).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("fast-forward round-trips tombstones: no resurrection into source") {
    val t = fresh("wapff")
    val b = s"${new File(t).getParent}/b"
    Snapshots.append(spark, t, orders.limit(100))
    Snapshots.shallowClone(spark, t, b)
    // branch deletes rows that live in the SOURCE's files: the publish
    // must canonicalize those refs back to source-relative or the
    // anti-join misses and deleted rows resurrect
    Snapshots.deleteWhere(spark, b, col("o_orderkey") % 3 === 0)
    val expect = Snapshots.readLatest(spark, b).get.count()
    val v = Snapshots.fastForward(spark, t, b)
    assert(Snapshots.readAt(spark, t, v).get.count() == expect)
    // canonical refs: the published version's source-resident files are
    // RELATIVE again (matching relFileCol), so a later source vacuum
    // tracks them correctly
    val s = Snapshots.snapshot(spark, t, v).get
    assert(s.files.exists(!_.startsWith("/")), s.files.take(3).toString)
    // pre-publish source history intact
    assert(Snapshots.readAt(spark, t, 1).get.count() == 100)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("vacuum is file-granular: dead siblings reaped, live ones kept") {
    val t = fresh("vacfile")
    // one commit dir with several files; targeted compaction rewrites
    // only the tombstoned ones, leaving dead files beside live siblings
    Snapshots.append(spark, t,
      orders.limit(300).repartition(4, col("o_orderkey")))
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 2 === 0)
    val before = Snapshots.readLatest(spark, t).get.count()
    Snapshots.optimizeDeletes(spark, t, minDeleteRatio = 1e-9)
    Snapshots.vacuum(spark, t, Snapshots.latestVersion(spark, t).get)
    // live view intact through the sweep
    assert(Snapshots.readLatest(spark, t).get.count() == before)
    // every parquet file still on disk is referenced by the live version
    val s = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
    val onDisk = Option(new File(t, "_snap").listFiles()).get
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"_snap/${d.getName}/${f.getName}"))
      .toSet
    assert(onDisk == (s.files ++ s.deletes).toSet,
      s"orphans: ${(onDisk -- s.files -- s.deletes).take(3)}")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("tags are immutable, validated, and list correctly") {
    val t = fresh("tags")
    Snapshots.append(spark, t, orders.limit(30))
    Snapshots.append(spark, t, orders.limit(60))
    Snapshots.createTag(spark, t, "a.1", 1)
    Snapshots.createTag(spark, t, "b-2", 2)
    assert(Snapshots.listTags(spark, t) == Seq(("a.1", 1), ("b-2", 2)))
    assert(Snapshots.readAtTag(spark, t, "a.1").get.count() == 30)
    // immutable: re-tagging an existing name is an error, tag unmoved
    intercept[IllegalStateException](Snapshots.createTag(spark, t, "a.1", 2))
    assert(Snapshots.tagVersion(spark, t, "a.1").contains(1))
    // a tag must point at a real version; names are validated
    intercept[IllegalArgumentException](
      Snapshots.createTag(spark, t, "ghost", 9))
    intercept[IllegalArgumentException](
      Snapshots.createTag(spark, t, "bad name", 1))
    // unknown tag reads as None, not an error
    assert(Snapshots.readAtTag(spark, t, "nope").isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("publish leaves no tmp or orphaned .crc sidecars in _log") {
    val t = fresh("crc")
    Snapshots.append(spark, t, orders.limit(50))
    Snapshots.append(spark, t, orders.limit(50))
    val leftovers = new File(t, "_log").listFiles().map(_.getName)
      .filter(n => n.contains(".tmp-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("hidden partitioning: transform stats prune exactly, never wrongly") {
    val t = fresh("hp")
    val spec = Seq("bucket(4,o_custkey)", "days(o_orderdate)")
    // a stats-less commit spans everything: unknown must never prune
    // (committed BEFORE the spec exists — once appendPartitioned has
    // persisted the spec, every later write carries transform stats)
    Snapshots.append(spark, t, orders.limit(7))
    Snapshots.appendPartitioned(spark, t, orders, spec, numFiles = 8)
    val v = Snapshots.latestVersion(spark, t).get
    val s = Snapshots.snapshot(spark, t, v).get
    val statless = s.files.filter(f => !s.stats.contains(f) ||
      !s.stats(f).contains("bucket(4,o_custkey)"))
    assert(statless.nonEmpty, "expected the plain append to carry no transform stats")
    // every key lands in exactly the files its bucket id says, and the
    // point read returns the same rows as a full-scan filter
    val keys = orders.select("o_custkey").distinct().limit(5)
      .collect().map(_.getLong(0))
    for (k <- keys) {
      val b = Snapshots.bucketValueOf(4, k)
      val kept = Snapshots.prunedFilesAt(spark, t, v,
        "bucket(4,o_custkey)", b, b).get
      // stats-less files always survive
      assert(statless.forall(kept.contains))
      val viaPoint = Snapshots.readAtBucketPoint(spark, t, v,
        "bucket(4,o_custkey)", k).get.count()
      val viaScan = Snapshots.readAt(spark, t, v).get
        .filter(col("o_custkey") === k).count()
      assert(viaPoint == viaScan, s"bucket point lookup lost rows for key $k")
    }
    // the writer hash and the reader hash are the same expression: a
    // full partition of the key space by bucket id re-covers the table
    val total = (0 until 4).map { b =>
      Snapshots.readAtBucketPoint(spark, t, v, "bucket(4,o_custkey)", 0L)
      // count rows whose bucket is b via the pruned read + residual
      Snapshots.prunedFilesAt(spark, t, v, "bucket(4,o_custkey)",
        b.toDouble, b.toDouble).get
    }
    assert(total.forall(_.nonEmpty))
    // days transform: a degenerate interval below the corpus prunes all
    // stats-carrying files, keeps the stats-less ones
    val none = Snapshots.prunedFilesAt(spark, t, v, "days(o_orderdate)",
      0.0, 1.0).get
    assert(none.toSet == statless.toSet,
      "an impossible day interval must keep exactly the stats-less files")
  }

  test("persisted partition spec: plain writes cluster; evolution is per-file") {
    val t = fresh("hpspec")
    val specA = Seq("bucket(4,o_custkey)")
    Snapshots.appendPartitioned(spark, t,
      orders.filter(col("o_orderkey") % 3 === 0), specA, numFiles = 4)
    assert(Snapshots.currentPartitionSpec(spark, t) == specA)
    // a PLAIN append now honors the persisted spec: its files carry
    // bucket stats without the caller asking
    val v1 = Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 3 === 1))
    val s1 = Snapshots.snapshot(spark, t, v1).get
    val freshA = s1.files.filterNot(
      Snapshots.snapshot(spark, t, v1 - 1).get.files.toSet)
    assert(freshA.nonEmpty &&
      freshA.forall(f => s1.stats.get(f).exists(_.contains(specA.head))),
      "plain append on a spec'd table must carry the spec's transform stats")
    // spec EVOLUTION: one metadata-only commit, old files untouched
    val specB = Seq("days(o_orderdate)")
    val vSet = Snapshots.setPartitionSpec(spark, t, specB)
    assert(Snapshots.snapshot(spark, t, vSet).get.files == s1.files)
    val v2 = Snapshots.append(spark, t,
      orders.filter(col("o_orderkey") % 3 === 2))
    val s2 = Snapshots.snapshot(spark, t, v2).get
    val freshB = s2.files.filterNot(s1.files.toSet)
    assert(freshB.nonEmpty &&
      freshB.forall(f => s2.stats.get(f).exists(_.contains(specB.head))),
      "appends after evolution must carry the NEW spec's stats")
    // era-A files keep era-A stats: a bucket point-prune still skips them
    assert(freshA.forall(f => s2.stats.get(f).exists(_.contains(specA.head))))
    // reads stay exact across the mixed-spec eras
    val k = orders.agg(min(col("o_custkey"))).head.getLong(0)
    val viaPoint = Snapshots.readAtBucketPoint(spark, t,
      s2.version, "bucket(4,o_custkey)", k).get.count()
    val direct = Snapshots.readAt(spark, t, s2.version).get
      .filter(col("o_custkey") === k).count()
    assert(viaPoint == direct)
    // malformed specs are refused at declaration time
    intercept[IllegalArgumentException] {
      Snapshots.setPartitionSpec(spark, t, Seq("bucket(0,o_custkey)"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.setPartitionSpec(spark, t, Seq("years(o_orderdate)"))
    }
  }

  test("equality deletes: vacuum keeps the live dir whole, reaps it after") {
    val t = fresh("eqvac")
    import spark.implicits._
    Snapshots.append(spark, t, orders.limit(60))
    val keys = orders.limit(60).select(col("o_orderkey")).limit(10)
    val vDel = Snapshots.deleteByKeys(spark, t, keys)
    val eqRef = Snapshots.snapshot(spark, t, vDel).get.deletes
      .find(Snapshots.isEqDelete).get
    val eqDir = new File(s"$t/$eqRef")
    assert(eqDir.isDirectory &&
      new File(eqDir, "scope.json").exists(), "eq dir must carry scope")
    // vacuum with the eq version live: the dir survives INTACT (keys +
    // scope are a unit — a file-granular sweep must not gut it)
    Snapshots.vacuum(spark, t, keepFrom = 1)
    assert(new File(eqDir, "scope.json").exists())
    assert(Snapshots.readLatest(spark, t).get.count() == 50)
    // stacked equality deletes apply independently
    val keys2 = orders.limit(60).select(col("o_orderkey"))
      .orderBy(col("o_orderkey").desc).limit(5)
    Snapshots.deleteByKeys(spark, t, keys2)
    assert(Snapshots.readLatest(spark, t).get.count() >= 45)
    // materialize, then vacuum history: the eq dirs are reaped whole
    Snapshots.materializeEqDeletes(spark, t)
    val latest = Snapshots.latestVersion(spark, t).get
    Snapshots.vacuum(spark, t, keepFrom = latest)
    assert(!eqDir.exists(), "a no-longer-referenced eq dir must be reaped")
    assert(Snapshots.readLatest(spark, t).get.count() ==
      Snapshots.readAt(spark, t, latest).get.count())
  }

  test("deleteWhereInterval: stats-less files scan, prior tombstones compose") {
    val t = fresh("dwi")
    // commit WITHOUT stats: nothing is provable, everything is boundary —
    // the delete must still be exactly right, just unaccelerated
    Snapshots.append(spark, t, orders)
    val keep = orders.filter(col("o_orderkey") % 3 =!= 0)
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 3 === 0)
    val v1files = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get.files
    val cut = java.time.LocalDate.parse("1997-01-01").toEpochDay.toDouble
    val v = Snapshots.deleteWhereInterval(spark, t, "days(o_orderdate)",
      Double.NegativeInfinity, cut - 1)
    val s = Snapshots.snapshot(spark, t, v).get
    assert(s.files == v1files, "stats-less files must never full-drop")
    // prior tombstones compose: only % 3 != 0 rows were live to delete
    val want = keep.filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp")).count()
    assert(Snapshots.readAt(spark, t, v).get.count() == want)
    // a second interval delete over already-tombstoned ground is a no-op
    val v2 = Snapshots.deleteWhereInterval(spark, t, "days(o_orderdate)",
      Double.NegativeInfinity, cut - 1)
    assert(Snapshots.readAt(spark, t, v2).get.count() == want)
  }

  test("deleteWhereInterval: a fully-matching table drops to empty, travelable") {
    val t = fresh("dwi2")
    Snapshots.appendPartitioned(spark, t, orders,
      Seq("days(o_orderdate)"), numFiles = 4)
    val v1 = Snapshots.latestVersion(spark, t).get
    val v = Snapshots.deleteWhereInterval(spark, t, "days(o_orderdate)",
      Double.NegativeInfinity, Double.PositiveInfinity)
    val s = Snapshots.snapshot(spark, t, v).get
    assert(s.files.isEmpty && s.deletes.isEmpty,
      "an all-full delete must be pure metadata: no files, no tombstones")
    assert(Snapshots.readAt(spark, t, v).get.count() == 0)
    assert(Snapshots.readAt(spark, t, v1).get.count() == orders.count())
  }

  test("row ids: repeat optimize stable, merge keeps untouched ids, rename refused") {
    val t = fresh("rowid")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    def idMap(): Map[Long, Long] = {
      val v = Snapshots.latestVersion(spark, t).get
      Snapshots.readAtWithRowIds(spark, t, v).get
        .select(col("o_orderkey"), col("_row_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val m0 = idMap()
    assert(m0.values.toSet.size == m0.size) // unique
    Snapshots.optimizeRowIds(spark, t)
    assert(idMap() == m0, "first optimize moved row ids")
    Snapshots.optimizeRowIds(spark, t)
    assert(idMap() == m0, "second optimize moved materialized row ids")
    // a MERGE rewrites only its matched keys: untouched rows keep ids,
    // rewritten rows are NEW row versions and mint fresh unique ids
    val touched = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    Snapshots.merge(spark, t, touched, Seq("o_orderkey"))
    val m1 = idMap()
    val untouchedKeys = m0.keySet.filter(_ % 10 != 0)
    assert(untouchedKeys.forall(k => m1(k) == m0(k)),
      "merge moved an untouched row's id")
    assert(m1.values.toSet.size == m1.size)
    // renamed tables are out of row-id scope: refused, not wrong
    Snapshots.renameColumn(spark, t, "o_orderpriority", "o_prio")
    intercept[IllegalArgumentException](Snapshots.readAtWithRowIds(spark, t,
      Snapshots.latestVersion(spark, t).get))
  }

  test("cherryPick refuses non-additive and metadata commits, and root picks") {
    val main = fresh("cpm")
    val br = fresh("cpb")
    Snapshots.append(spark, main, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.shallowClone(spark, main, br)
    // a root commit has no parent delta
    intercept[IllegalArgumentException](Snapshots.cherryPick(spark, main, br, 1))
    // overwrite replaces the parent's file list: refused
    val vOw = Snapshots.overwrite(spark, br, orders.limit(10))
    val e = intercept[IllegalArgumentException](
      Snapshots.cherryPick(spark, main, br, vOw))
    assert(e.getMessage.contains("additive"))
    // an append after the overwrite still picks cleanly (delta-only)
    val vApp = Snapshots.append(spark, br,
      orders.filter(col("o_orderkey") % 4 === 1))
    val vPick = Snapshots.cherryPick(spark, main, br, vApp)
    assert(Snapshots.readAt(spark, main, vPick).get.count() ==
      orders.filter(col("o_orderkey") % 2 === 0 ||
        col("o_orderkey") % 4 === 1).count())
    // metadata op: a rename on the branch is whole-table state
    val vRen = Snapshots.renameColumn(spark, br, "o_orderpriority", "o_prio")
    intercept[IllegalArgumentException](
      Snapshots.cherryPick(spark, main, br, vRen))
  }

  test("adoptFiles: refusals, OPTIMIZE migrates off foreign bytes, vacuum-safe") {
    val t = fresh("adopt")
    val legacyDir = Files.createTempDirectory("graft_adopt_legacy").toString
    val legacy = s"$legacyDir/data"
    orders.limit(40).repartition(3).write.parquet(legacy)
    // refusals: a dir under the table root, an empty dir
    Snapshots.append(spark, t, orders.limit(5))
    intercept[IllegalArgumentException](
      Snapshots.adoptFiles(spark, t, s"$t/_snap"))
    intercept[IllegalArgumentException](
      Snapshots.adoptFiles(spark, t, s"$legacyDir/nothing_here"))
    val v = Snapshots.adoptFiles(spark, t, legacy)
    assert(Snapshots.readAt(spark, t, v).get.count() == 45)
    // adopted refs are absolute and constraints see adopted rows
    val s = Snapshots.snapshot(spark, t, v).get
    assert(s.files.exists(_.startsWith(legacy)))
    intercept[IllegalArgumentException](
      Snapshots.addConstraint(spark, t, "impossible", "o_orderkey < 0"))
    // OPTIMIZE migrates the live view into table-owned files: the new
    // version references nothing under the legacy dir, whose bytes and
    // names survive untouched
    val legacyNames = new File(legacy).listFiles().map(_.getName).toSet
    val vOpt = Snapshots.optimize(spark, t).get
    val sOpt = Snapshots.snapshot(spark, t, vOpt).get
    assert(!sOpt.files.exists(_.startsWith(legacy)))
    assert(Snapshots.readAt(spark, t, vOpt).get.count() == 45)
    // vacuum of ALL history never reaps foreign files
    Snapshots.vacuum(spark, t, keepFrom = vOpt)
    assert(new File(legacy).listFiles().map(_.getName).toSet == legacyNames)
    assert(Snapshots.readLatest(spark, t).get.count() == 45)
  }

  test("bucketValueOf matches the distributed xxhash64 the writer records") {
    val t = fresh("hpv")
    Snapshots.appendPartitioned(spark, t, orders,
      Seq("bucket(8,o_custkey)"), numFiles = 4)
    // recompute each file's bucket range with the DataFrame expression
    // and compare against the manifest entries written by collectStats
    val v = Snapshots.latestVersion(spark, t).get
    val s = Snapshots.snapshot(spark, t, v).get
    val keys = orders.select("o_custkey").distinct().limit(32)
      .collect().map(_.getLong(0))
    val viaDf = orders.filter(col("o_custkey").isin(keys: _*))
      .select(col("o_custkey"),
        pmod(xxhash64(col("o_custkey")), lit(8)).as("b"))
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    for (k <- keys)
      assert(Snapshots.bucketValueOf(8, k) == viaDf(k),
        s"driver-side bucket hash diverged from the writer for key $k")
    assert(s.stats.nonEmpty)
  }

  /** One (sorted) fingerprint of a change feed: key, price cents,
    * change type — order-free equality across paths. */
  private def feedFp(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
    df.select(col("o_orderkey"),
        (col("o_totalprice") * 100).cast("long").as("c"),
        col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(identity).toSeq

  test("change feed composes with outstanding equality deletes") {
    val t = fresh("eqcdf")
    val base = orders.limit(60).cache()
    val v1 = Snapshots.append(spark, t, base)
    val keys = base.select(col("o_orderkey")).limit(10)
    val v2 = Snapshots.deleteByKeys(spark, t, keys)
    // feed WITHOUT materializing: 10 full-row delete images
    val feed = Snapshots.changesBetween(spark, t, v1, v2).get
    assert(feed.filter(col("_change_type") === "delete").count() == 10)
    assert(feed.filter(col("_change_type") === "insert").count() == 0)
    // … and it hash-matches the materialize-first path on a twin table
    val t2 = fresh("eqcdf2")
    Snapshots.append(spark, t2, base)
    Snapshots.deleteByKeys(spark, t2, keys)
    val v3b = Snapshots.materializeEqDeletes(spark, t2).get
    assert(feedFp(feed) ==
      feedFp(Snapshots.changesBetween(spark, t2, 1, v3b).get))
    // the materialize window ITSELF is a no-op feed (live view unchanged)
    val v3 = Snapshots.materializeEqDeletes(spark, t).get
    assert(Snapshots.changesBetween(spark, t, v2, v3).get.count() == 0)
    // re-insert after the eq delete: scope protects the new rows — the
    // window spanning delete+reinsert nets to the price-change pair only
    val t3 = fresh("eqcdf3")
    val w1 = Snapshots.append(spark, t3, base)
    Snapshots.deleteByKeys(spark, t3, keys)
    val reins = base.join(keys, Seq("o_orderkey"), "left_semi")
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    val w3 = Snapshots.append(spark, t3, reins)
    val f13 = Snapshots.changesBetween(spark, t3, w1, w3).get.cache()
    assert(f13.filter(col("_change_type") === "delete").count() == 10)
    val ins = f13.filter(col("_change_type") === "insert")
    assert(ins.count() == 10 &&
      ins.join(keys, Seq("o_orderkey"), "left_anti").count() == 0,
      "inserts must be exactly the re-appended keys, live at window end")
    // an eq delete committed AFTER an in-window append scopes it: the
    // appended rows matching the keys must NOT surface as inserts
    val t4 = fresh("eqcdf4")
    val u1 = Snapshots.append(spark, t4, base.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, t4, base.filter(col("o_orderkey") % 2 =!= 0))
    val u3 = Snapshots.deleteByKeys(spark, t4,
      base.filter(col("o_orderkey") % 2 =!= 0).select(col("o_orderkey")))
    val f = Snapshots.changesBetween(spark, t4, u1, u3).get
    assert(f.count() == 0,
      "in-window append fully covered by a later in-window eq delete " +
        "must net to an empty feed")
  }

  test("materializeEqDeletes is era-aware and keeps unseen eq deletes") {
    val t = fresh("eqera")
    val base = orders.limit(60).cache()
    Snapshots.append(spark, t, base)
    Snapshots.renameColumn(spark, t, "o_orderkey", "order_id")
    import spark.implicits._
    val delKeys = base.select(col("o_orderkey").as("order_id")).limit(10)
    Snapshots.deleteByKeys(spark, t, delKeys)
    Snapshots.materializeEqDeletes(spark, t).get
    // live view identical to the never-renamed twin's
    val t2 = fresh("eqera2")
    Snapshots.append(spark, t2, base)
    Snapshots.deleteByKeys(spark, t2,
      base.select(col("o_orderkey")).limit(10))
    val got = Snapshots.readLatest(spark, t).get
      .select(col("order_id")).as[Long].collect().sorted.toSeq
    val want = Snapshots.readLatest(spark, t2).get
      .select(col("o_orderkey")).as[Long].collect().sorted.toSeq
    assert(got == want)
  }

  test("eq-delete keys written BEFORE a rename still match after it") {
    val t = fresh("eqpre")
    val base = orders.limit(60).cache()
    Snapshots.append(spark, t, base)
    import spark.implicits._
    // delete keyed on the ORIGINAL name, then rename the key column:
    // Iceberg identifier fields survive by field id; our name chain
    // must map the stored key column o_orderkey -> order_id on read
    Snapshots.deleteByKeys(spark, t, base.select(col("o_orderkey")).limit(10))
    Snapshots.renameColumn(spark, t, "o_orderkey", "order_id")
    val dead = base.select(col("o_orderkey")).limit(10)
      .as[Long].collect().toSet
    val survivors = base.select(col("o_orderkey")).as[Long].collect()
      .filterNot(dead).sorted.toSeq
    // read path resolves the old-name keys through the chain
    val got = Snapshots.readLatest(spark, t).get
      .select(col("order_id")).as[Long].collect().sorted.toSeq
    assert(got == survivors)
    // materializer resolves them identically (same live view after)
    Snapshots.materializeEqDeletes(spark, t).get
    val got2 = Snapshots.readLatest(spark, t).get
      .select(col("order_id")).as[Long].collect().sorted.toSeq
    assert(got2 == survivors)
  }

  test("null-keyed equality deletes match null rows (Iceberg v2)") {
    val t = fresh("eqnull")
    import spark.implicits._
    val data = Seq((1L, "a"), (2L, null.asInstanceOf[String]),
      (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("id", "grp")
    Snapshots.append(spark, t, data)
    Snapshots.deleteByKeys(spark, t,
      Seq(null.asInstanceOf[String]).toDF("grp"))
    assert(Snapshots.readLatest(spark, t).get
      .select(col("id")).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // materialize honors the null key too
    Snapshots.materializeEqDeletes(spark, t).get
    assert(Snapshots.readLatest(spark, t).get
      .select(col("id")).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("deleteWhereInterval demotes metadata drops under outstanding eq deletes") {
    val t = fresh("eqdwi")
    val base = orders.limit(100).cache()
    Snapshots.append(spark, t, base, statsCols = Seq("o_orderkey"))
    val mid = base.agg(expr("percentile_approx(o_orderkey, 0.5)"))
      .head.getLong(0).toDouble
    Snapshots.deleteByKeys(spark, t,
      base.select(col("o_orderkey")).limit(5))
    val sBefore = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
    val v = Snapshots.deleteWhereInterval(spark, t, "o_orderkey",
      Double.NegativeInfinity, mid)
    val s = Snapshots.snapshot(spark, t, v).get
    // no file drop (manifest list preserved) — eq scope stays readable
    assert(s.files == sBefore.files,
      "full-drop must demote to tombstones while eq deletes outstanding")
    val want = base.filter(col("o_orderkey") > mid)
      .join(base.select(col("o_orderkey")).limit(5),
        Seq("o_orderkey"), "left_anti").count()
    assert(Snapshots.readAt(spark, t, v).get.count() == want)
    // the outstanding eq delete still applies and materializes cleanly
    Snapshots.materializeEqDeletes(spark, t).get
    assert(Snapshots.readLatest(spark, t).get.count() == want)
  }

  test("full DML surface is branch-addressable: mergeWhen/updateWhere/deleteByKeys") {
    val t = fresh("brdml")
    import spark.implicits._
    val base = orders.limit(60).cache()
    val keys = base.select(col("o_orderkey")).as[Long].collect().sorted
    Snapshots.append(spark, t, base)
    Snapshots.createBranch(spark, t, "b", 1)
    // three branch-addressed DML commits main must not see
    Snapshots.updateWhere(spark, t, col("o_orderkey") === keys(0),
      Map("o_totalprice" -> lit(1.0)), branch = "b")
    Snapshots.mergeWhen(spark, t,
      base.filter(col("o_orderkey") === keys(1)),
      Seq("o_orderkey"), Seq(Snapshots.WhenMatchedDelete()), branch = "b")
    Snapshots.deleteByKeys(spark, t,
      Seq(keys(2)).toDF("o_orderkey"), branch = "b")
    val main = Snapshots.readLatest(spark, t).get
    assert(main.count() == 60 &&
      main.filter(col("o_totalprice") === 1.0).count() == 0,
      "main must not see branch-staged DML")
    val br = Snapshots.readAtBranch(spark, t, "b").get
    assert(br.count() == 58)
    assert(br.filter(col("o_orderkey") === keys(0))
      .head.getAs[Double]("o_totalprice") == 1.0)
    // publish and verify the whole staged state lands atomically
    Snapshots.fastForwardMain(spark, t, "b")
    val after = Snapshots.readLatest(spark, t).get
    assert(after.count() == 58 &&
      after.filter(col("o_totalprice") === 1.0).count() == 1)
  }

  test("named in-log branches: WAP on one table directory") {
    val t = fresh("branch")
    val a = orders.filter(col("o_orderkey") % 3 === 0)
    val b = orders.filter(col("o_orderkey") % 3 === 1)
    val c = orders.filter(col("o_orderkey") % 3 === 2)
    val v1 = Snapshots.append(spark, t, a)
    // write: staged on the branch, invisible to main
    Snapshots.createBranch(spark, t, "audit", v1)
    val vb = Snapshots.appendToBranch(spark, t, "audit", b)
    assert(vb > v1)
    assert(Snapshots.readLatest(spark, t).get.count() == a.count(),
      "main must not see branch-staged rows")
    assert(Snapshots.mainHeadVersion(spark, t).contains(v1))
    assert(Snapshots.latestVersion(spark, t).contains(vb))
    assert(Snapshots.branchHead(spark, t, "audit").contains(vb))
    // audit: the branch read serves base + staged
    assert(Snapshots.readAtBranch(spark, t, "audit").get.count() ==
      a.count() + b.count())
    // TIMESTAMP AS OF now resolves main's head, never the branch tip
    assert(Snapshots.versionAtTimestamp(spark, t,
      System.currentTimeMillis() + 60000).contains(v1))
    // publish: fast-forward re-references the branch head's content
    val vm = Snapshots.fastForwardMain(spark, t, "audit")
    assert(Snapshots.readLatest(spark, t).get.count() ==
      a.count() + b.count())
    assert(Snapshots.mainHeadVersion(spark, t).contains(vm))
    Snapshots.dropBranch(spark, t, "audit")
    // a branch whose base main has advanced past cannot fast-forward
    Snapshots.createBranch(spark, t, "stale", v1)
    Snapshots.appendToBranch(spark, t, "stale", c)
    intercept[IllegalStateException](
      Snapshots.fastForwardMain(spark, t, "stale"))
    assert(Snapshots.readLatest(spark, t).get.count() ==
      a.count() + b.count(), "refused publish must not move main")
    // two branches advance independently; listBranches reports heads
    Snapshots.createBranch(spark, t, "exp2", vm)
    val vs2 = Snapshots.appendToBranch(spark, t, "exp2", c)
    assert(Snapshots.listBranches(spark, t).toMap ==
      Map("stale" -> (vs2 - 1), "exp2" -> vs2))
    // ref-name hygiene: collisions and all-digit names are refused
    intercept[IllegalArgumentException](
      Snapshots.createBranch(spark, t, "99", vm))
    Snapshots.createTag(spark, t, "pin", vm)
    intercept[IllegalArgumentException](
      Snapshots.createBranch(spark, t, "pin", vm))
    intercept[IllegalArgumentException](
      Snapshots.createTag(spark, t, "exp2", vm))
    // vacuum pins branch heads like tags; dropping unpins
    Snapshots.vacuum(spark, t, keepFrom = vs2 + 1)
    assert(Snapshots.readAtBranch(spark, t, "exp2").get.count() ==
      a.count() + b.count() + c.count())
    assert(Snapshots.readLatest(spark, t).get.count() ==
      a.count() + b.count(), "vacuum above main head must pin the trunk")
  }

  test("k same-key eq deletes consolidate to ONE join pair, scopes intact") {
    val t = fresh("eqcons")
    import spark.implicits._
    val base = orders.limit(60).cache()
    Snapshots.append(spark, t, base)
    val keys = base.select(col("o_orderkey")).as[Long].collect().sorted
    Snapshots.deleteByKeys(spark, t, keys.slice(0, 5).toSeq.toDF("o_orderkey"))
    Snapshots.deleteByKeys(spark, t, keys.slice(5, 10).toSeq.toDF("o_orderkey"))
    // re-appended rows are protected from BOTH prior deletes' scopes
    Snapshots.append(spark, t,
      base.filter(col("o_orderkey").isin(keys.slice(0, 3).map(Long.box): _*)))
    Snapshots.deleteByKeys(spark, t,
      keys.slice(10, 15).toSeq.toDF("o_orderkey"))
    val df = Snapshots.readLatest(spark, t).get
    assert(df.count() == 60 - 15 + 3)
    val plan = df.queryExecution.executedPlan.toString
    val joins = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(joins == 2,
      s"3 same-key eq deletes must read through ONE consolidated join " +
        s"pair (2 broadcast joins), got $joins:\n${plan.take(3000)}")
    // a rename AFTER the deletes maps every stored key through the
    // chain to the SAME current name — the group stays one join pair
    // (k plans would creep back if mapped names stopped deduplicating)
    Snapshots.renameColumn(spark, t, "o_orderkey", "okey")
    val df2 = Snapshots.readLatest(spark, t).get
    assert(df2.count() == 60 - 15 + 3)
    val plan2 = df2.queryExecution.executedPlan.toString
    val joins2 = "BroadcastHashJoin".r.findAllIn(plan2).length
    assert(joins2 == 2,
      s"consolidation must survive a rename, got $joins2 joins:\n" +
        plan2.take(3000))
  }

  test("clone and manifest rewrite work under outstanding eq deletes") {
    val t = fresh("eqclone")
    import spark.implicits._
    val base = orders.limit(60).cache()
    Snapshots.append(spark, t, base)
    val keys = base.select(col("o_orderkey")).as[Long].collect().sorted
    Snapshots.deleteByKeys(spark, t, keys.take(10).toSeq.toDF("o_orderkey"))
    // reinsert 3 deleted keys AFTER the delete: its scope must protect them
    Snapshots.append(spark, t,
      base.filter(col("o_orderkey").isin(keys.take(3).map(Long.box): _*)))
    val want = 60 - 10 + 3
    assert(Snapshots.readLatest(spark, t).get.count() == want)
    // rewriteManifests under eq debt: the scope rides immutable
    // manifest IDs, not the current list — the fold is safe
    val vR = Snapshots.rewriteManifests(spark, t)
    assert(Snapshots.snapshot(spark, t, vR).get.manifests.size == 1)
    assert(Snapshots.readLatest(spark, t).get.count() == want)
    // vacuum after the rewrite: eq scope manifests are pinned live
    Snapshots.vacuum(spark, t, keepFrom = vR)
    assert(Snapshots.readLatest(spark, t).get.count() == want)
    // clone under eq debt: deletes materialize into the CLONE's own
    // positional tombstones; live view identical, no eq debt carried
    val c = s"${new File(t).getParent}/c"
    Snapshots.shallowClone(spark, t, c)
    assert(Snapshots.readLatest(spark, c).get.count() == want)
    val cs = Snapshots.snapshot(spark, c, 1).get
    assert(cs.deletes.nonEmpty &&
      cs.deletes.forall(f => !Snapshots.isEqDelete(f)))
    // the source still carries its eq delete, untouched by the clone
    assert(Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
      .deletes.exists(Snapshots.isEqDelete))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("targeted compactions run under outstanding eq deletes") {
    val t = fresh("eqopt")
    import spark.implicits._
    val base = orders.limit(60).cache()
    val keys = base.select(col("o_orderkey")).as[Long].collect().sorted
    // three one-file commits so there is a small-file tail to compact
    Seq(keys.slice(0, 20), keys.slice(20, 40), keys.slice(40, 60))
      .foreach { ks =>
        Snapshots.append(spark, t,
          base.filter(col("o_orderkey").isin(ks.map(Long.box): _*))
            .coalesce(1))
      }
    Snapshots.deleteByKeys(spark, t, keys.take(10).toSeq.toDF("o_orderkey"))
    // reinsert 3 deleted keys AFTER the eq delete: its scope protects
    // them, and compaction must keep protecting them
    Snapshots.append(spark, t,
      base.filter(col("o_orderkey").isin(keys.take(3).map(Long.box): _*)))
    // positional debt into the middle file for the ratio decision
    Snapshots.deleteWhere(spark, t, col("o_orderkey") === keys(25))
    val want = 60 - 10 + 3 - 1
    def liveKeys() = Snapshots.readLatest(spark, t).get
      .select(col("o_orderkey")).as[Long].collect().sorted.toSeq
    val wantKeys = liveKeys()
    assert(wantKeys.size == want)
    // delete-ratio compaction: decides from POSITIONAL sidecars only,
    // applies the eq delete in the rewrite, carries it outstanding
    Snapshots.optimizeDeletes(spark, t, minDeleteRatio = 1e-9).get
    assert(liveKeys() == wantKeys)
    assert(Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
      .deletes.exists(Snapshots.isEqDelete))
    // small-file compaction under the same debt
    Snapshots.optimizeSmallFiles(spark, t, minBytes = 10L * 1000 * 1000).get
    assert(liveKeys() == wantKeys)
    // materializing afterwards is a no-op on the live view
    Snapshots.materializeEqDeletes(spark, t)
    assert(liveKeys() == wantKeys)
  }

  test("cherryPick lands a branch UPDATE's positional tombstones on a diverged main") {
    import spark.implicits._
    val main = fresh("pospick")
    val br = s"${new File(main).getParent}/br"
    def rows(t: String): Seq[(Long, Long)] = Snapshots.readLatest(spark, t)
      .get.as[(Long, Long)].collect().sorted.toSeq
    Snapshots.append(spark, main, (1L to 10L).map(i => (i, i)).toDF("id", "v"))
    Snapshots.shallowClone(spark, main, br)
    // main alone carries the constraint (a clone would copy it)
    Snapshots.addConstraint(spark, main, "v_pos", "v > 0")
    // one branch commit carries both halves: tombstones anchored in
    // main's own files and a staged manifest of the updated rows
    val vUp = Snapshots.updateWhere(spark, br, col("id") % 3 === 0,
      Map("v" -> col("v") * 100))
    assert(Snapshots.snapshot(spark, br, vUp).get.deletes.nonEmpty)
    // main diverges, so only a pick (not a fast-forward) publishes it
    Snapshots.append(spark, main, Seq((11L, 11L), (12L, 12L)).toDF("id", "v"))
    val before = rows(main)
    Snapshots.cherryPick(spark, main, br, vUp)
    val want = before.map { case (i, v) =>
      if (i <= 10 && i % 3 == 0) (i, v * 100) else (i, v) }.sorted
    assert(rows(main) == want)
    // main's CHECK constraint validates the picked rows: a branch
    // update main's constraint refuses does not land
    val vNeg = Snapshots.updateWhere(spark, br, col("id") === 1L,
      Map("v" -> -col("v")))
    val at = Snapshots.latestVersion(spark, main).get
    val e = intercept[IllegalArgumentException](
      Snapshots.cherryPick(spark, main, br, vNeg))
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(Snapshots.latestVersion(spark, main).contains(at))
    assert(rows(main) == want)
  }

  test("cherryPick replays an eq-delete commit re-scoped to the target") {
    val t = fresh("eqpick")
    import spark.implicits._
    val base = orders.limit(60).cache()
    val keys = base.select(col("o_orderkey")).as[Long].collect().sorted
    val evens = base.filter(col("o_orderkey") % 2 === 0)
    Snapshots.append(spark, t, evens)
    // branch off, key-delete on the branch (v2 there)
    val br = s"${new File(t).getParent}/br"
    Snapshots.shallowClone(spark, t, br)
    val delKeys = keys.filter(_ % 10 == 0).take(5).toSeq
    val vDel = Snapshots.deleteByKeys(spark, br, delKeys.toDF("o_orderkey"))
    // main diverges: appends odd keys — fast-forward no longer applies
    Snapshots.append(spark, t, base.filter(col("o_orderkey") % 2 === 1))
    // the pick replays the delete re-scoped to MAIN's live manifests:
    // the keys intent transfers, the branch's manifest ids do not
    Snapshots.cherryPick(spark, t, br, vDel)
    val got = Snapshots.readLatest(spark, t).get
      .select(col("o_orderkey")).as[Long].collect().sorted.toSeq
    assert(got == keys.filterNot(delKeys.toSet).toSeq)
    val s = Snapshots.snapshot(spark, t,
      Snapshots.latestVersion(spark, t).get).get
    assert(s.deletes.exists(Snapshots.isEqDelete))
    // rows appended AFTER the pick survive (fresh-deleteByKeys scoping)
    Snapshots.append(spark, t,
      base.filter(col("o_orderkey").isin(delKeys.take(2).map(Long.box): _*)))
    assert(Snapshots.readLatest(spark, t).get.count() ==
      60 - delKeys.size + 2)
    // and the replayed delete materializes on the target
    Snapshots.materializeEqDeletes(spark, t).get
    assert(Snapshots.readLatest(spark, t).get.count() ==
      60 - delKeys.size + 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(t).getParentFile)
  }

  test("column defaults: absent eras fill, travel stays null, rename/drop follow") {
    val t = fresh("coldef")
    import spark.implicits._
    val base = orders.limit(60).cache()
    val evens = base.filter(col("o_orderkey") % 2 === 0)
    val odds = base.filter(col("o_orderkey") % 2 === 1)
      .withColumn("tier", col("o_orderkey") % 3)
    Snapshots.append(spark, t, evens)
    val vPre = Snapshots.append(spark, t, odds)
    // before the default: additive evolution surfaces null for evens
    assert(Snapshots.readAt(spark, t, vPre).get
      .filter(col("tier").isNull).count() == evens.count())
    Snapshots.setColumnDefault(spark, t, "tier", "7")
    val live = Snapshots.readLatest(spark, t).get
    assert(live.filter(col("tier") === 7).count() == evens.count())
    assert(live.filter(col("tier").isNull).count() == 0)
    // odds keep their written values
    assert(live.filter(col("o_orderkey") % 2 === 1 &&
      col("tier") === col("o_orderkey") % 3).count() == odds.count())
    // time travel BELOW the declaration still reads nulls (versioned)
    assert(Snapshots.readAt(spark, t, vPre).get
      .filter(col("tier").isNull).count() == evens.count())
    // rename: the default follows the key
    Snapshots.renameColumn(spark, t, "tier", "loyalty")
    assert(Snapshots.readLatest(spark, t).get
      .filter(col("loyalty") === 7).count() == evens.count())
    // write-side fill: a star MERGE INSERT whose source lacks the
    // defaulted column stages rows that CARRY the default
    val newKey = 9000001L
    val src = base.limit(1).withColumn("o_orderkey", lit(newKey))
    Snapshots.mergeWhen(spark, t, src, Seq("o_orderkey"),
      Seq(Snapshots.WhenNotMatchedInsert()))
    assert(Snapshots.readLatest(spark, t).get
      .filter(col("o_orderkey") === newKey && col("loyalty") === 7)
      .count() == 1)
    // typos refuse; a broken expression refuses at DDL time
    intercept[IllegalArgumentException](
      Snapshots.setColumnDefault(spark, t, "nope", "1"))
    intercept[Exception](
      Snapshots.setColumnDefault(spark, t, "loyalty", "not a ( valid"))
    // drop the column: the default dies with it — a re-added same-named
    // column starts clean (nulls for pre-re-add eras)
    Snapshots.dropColumn(spark, t, "loyalty")
    Snapshots.append(spark, t,
      base.limit(5).withColumn("loyalty", lit(99L)))
    val after = Snapshots.readLatest(spark, t).get
    // 60 base rows + the merged row: ALL pre-drop (the merged row's
    // written loyalty is dead too — the drop ledger is era-scoped)
    assert(after.filter(col("loyalty").isNull).count() == 61)
    assert(after.filter(col("loyalty") === 99).count() == 5)
    // dropColumnDefault: explicit removal reads null again
    val t2 = fresh("coldef2")
    Snapshots.append(spark, t2, evens)
    Snapshots.append(spark, t2, odds)
    Snapshots.setColumnDefault(spark, t2, "tier", "7")
    Snapshots.dropColumnDefault(spark, t2, "tier")
    assert(Snapshots.readLatest(spark, t2).get
      .filter(col("tier").isNull).count() == evens.count())
    // GENERATED-on-read: the default may compute from the row's other
    // stored columns — history materializes the derived value with
    // zero bytes rewritten
    Snapshots.setColumnDefault(spark, t2, "tier",
      "CASE WHEN o_totalprice < 150000 THEN 1 ELSE 2 END")
    val gen = Snapshots.readLatest(spark, t2).get
    assert(gen.filter(col("o_orderkey") % 2 === 0 &&
      col("tier") =!= when(col("o_totalprice") < 150000, 1).otherwise(2))
      .count() == 0)
    assert(gen.filter(col("o_orderkey") % 2 === 0 && col("tier").isNull)
      .count() == 0)
    // odds keep their WRITTEN values — generation fills absence only
    assert(gen.filter(col("o_orderkey") % 2 === 1 &&
      col("tier") === col("o_orderkey") % 3).count() == odds.count())
    // self-reference and references to missing columns refuse at DDL
    intercept[Exception](
      Snapshots.setColumnDefault(spark, t2, "tier", "tier + 1"))
    intercept[Exception](
      Snapshots.setColumnDefault(spark, t2, "tier", "no_such_col * 2"))
    // renaming/dropping a referenced column refuses with the cure
    val eRef = intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t2, "o_totalprice", "price"))
    assert(eRef.getMessage.contains("referenced by the default"))
    val eDrop = intercept[IllegalArgumentException](
      Snapshots.dropColumn(spark, t2, "o_totalprice"))
    assert(eDrop.getMessage.contains("referenced by the default"))
  }

  test("all-digit tag names are refused (version-literal shadowing)") {
    val t = fresh("tagdig")
    Snapshots.append(spark, t, orders.limit(5))
    intercept[IllegalArgumentException](
      Snapshots.createTag(spark, t, "7", 1))
    Snapshots.createTag(spark, t, "v7", 1) // letters are fine
  }

  test("stringRank: monotone over tricky unicode; Column twin identical") {
    // the corpus that broke naive encodings: non-ASCII inside the
    // prefix, NUL, empties, supplementary-plane chars, ties beyond 3
    val corpus = Seq("", " ", "a", "ab", "abc", "abcd", "abce",
      "abé", "ac", "az", "aé", "b", "src1", "src10", "src19",
      "src2", "zz", "é", "éx", "中文", "😀a",
      "en", "es", "fr", "zh")
    // monotone: u <= v  =>  rank(u) <= rank(v)
    val sorted = corpus.sorted
    val ranks = sorted.map(Snapshots.stringRank)
    ranks.sliding(2).foreach { case Seq(x, y) =>
      assert(x <= y, s"rank not monotone at $x > $y") }
    // ties collapse exactly at shared 3-prefixes, never across
    assert(Snapshots.stringRank("src1") == Snapshots.stringRank("src10"))
    assert(Snapshots.stringRank("en") != Snapshots.stringRank("es"))
    // the Column twin must encode bit-identically (pruning compares
    // driver-ranked literals against column-ranked file bounds)
    import spark.implicits._
    val fromCol = corpus.toDF("s")
      .select(col("s"), Snapshots.stringRankCol(col("s")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    corpus.foreach { s =>
      assert(fromCol(s) == Snapshots.stringRank(s),
        s"Column/driver rank mismatch on ${s.codePoints().toArray.toSeq}")
    }
    // NULL stays NULL (all-null files must record no bounds)
    val nr = Seq[String](null).toDF("s")
      .select(Snapshots.stringRankCol(col("s"))).head
    assert(nr.isNullAt(0))
  }

  test("declared stats columns survive DML restages") {
    val t = fresh("decldml")
    Snapshots.append(spark, t, orders)
    Snapshots.setTableProperties(spark, t,
      Map(Snapshots.StatsColumnsKey -> "o_totalprice"))
    // an UPDATE's restaged files must carry the declared bounds —
    // without the chokepoint they'd silently shed skipping metadata
    val v = Snapshots.updateWhere(spark, t, col("o_orderkey") % 5 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
    val s = Snapshots.snapshot(spark, t, v).get
    val restaged = s.files.filterNot(
      Snapshots.snapshot(spark, t, 1).get.files.toSet)
    assert(restaged.nonEmpty && restaged.forall(f =>
      s.stats.get(f).exists(_.contains("o_totalprice"))),
      "restaged files must carry declared stats")
  }

  test("partition spec follows column renames; writes keep clustering") {
    val t = fresh("specren")
    val df = orders.withColumn("o_year", year(col("o_orderdate")))
    Snapshots.appendPartitioned(spark, t, df, Seq("o_year"), numFiles = 8)
    Snapshots.renameColumn(spark, t, "o_year", "yr")
    assert(Snapshots.currentPartitionSpec(spark, t) == Seq("yr"),
      "identity spec entry must be respelled by the rename")
    // a write under the NEW name still engages the spec: honorSpec
    // clusters by (and records stats for) the respelled entry — with
    // the stale name it would silently skip both ("source column
    // missing"), which is exactly the regression this pins. AQE may
    // fold the tiny delta to one file; stats PRESENCE is the signal.
    val df2 = orders.withColumn("yr", year(col("o_orderdate")) + 100)
    val v = Snapshots.append(spark, t, df2)
    val s = Snapshots.snapshot(spark, t, v).get
    val fresh2 = s.files.filterNot(
      Snapshots.snapshot(spark, t, v - 1).get.files.toSet)
    assert(fresh2.nonEmpty && fresh2.forall(f =>
      s.stats.get(f).exists(_.contains("yr"))),
      "post-rename writes must record stats for the respelled spec")
    // transform entries respell too
    val t2 = fresh("specren2")
    Snapshots.appendPartitioned(spark, t2, orders,
      Seq("bucket(4,o_custkey)", "days(o_orderdate)"))
    Snapshots.setTableProperties(spark, t2, Map(
      Snapshots.StatsColumnsKey -> "o_custkey,o_totalprice",
      "graft.maintain.zorderBy" -> "o_custkey"))
    Snapshots.renameColumn(spark, t2, "o_custkey", "cust")
    assert(Snapshots.currentPartitionSpec(spark, t2) ==
      Seq("bucket(4,cust)", "days(o_orderdate)"))
    // declared column-list properties follow the rename as well
    val props = Snapshots.tableProperties(spark, t2)
    assert(props(Snapshots.StatsColumnsKey) == "cust,o_totalprice")
    assert(props("graft.maintain.zorderBy") == "cust")
  }

  test("vacuum dry run forecasts the exact reclamation set") {
    val t = fresh("vacdry")
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, t, orders.filter(col("o_orderkey") % 2 === 1))
    Snapshots.createTag(spark, t, "keepme", 1) // tag pins v1 below horizon
    Snapshots.deleteWhere(spark, t, col("o_orderkey") % 10 === 0)
    Snapshots.optimize(spark, t) // orphans the pre-compact layout
    val latest = Snapshots.latestVersion(spark, t).get
    val keepFrom = latest // retain 1
    def allFiles(): Set[String] = {
      val base = new java.io.File(t).toPath
      val out = scala.collection.mutable.Set.empty[String]
      java.nio.file.Files.walk(base).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val rel = base.relativize(p).toString
          if (!rel.endsWith(".crc") && !rel.endsWith("_latest") &&
            !rel.contains("ckpt")) { out += rel; () }
        }
      }
      out.toSet
    }
    val dry = Snapshots.vacuumDryRun(spark, t, keepFrom)
    // expand whole-dir forecast entries (equality-delete style) into
    // the files a real vacuum's dir delete removes
    val expanded = dry.flatMap { p =>
      val f = new java.io.File(t, p)
      if (f.isDirectory) {
        val base = new java.io.File(t).toPath
        val buf = scala.collection.mutable.Buffer.empty[String]
        java.nio.file.Files.walk(f.toPath).forEach { q =>
          if (java.nio.file.Files.isRegularFile(q)) {
            val rel = base.relativize(q).toString
            if (!rel.endsWith(".crc")) { buf += rel; () }
          }
        }
        buf.toSeq
      } else Seq(p)
    }.toSet
    val before = allFiles()
    Snapshots.vacuum(spark, t, keepFrom)
    val removed = before -- allFiles()
    assert(expanded == removed,
      s"forecast != reality; only-forecast=${expanded -- removed}, " +
        s"only-removed=${removed -- expanded}")
    // the tag-pinned version stayed readable below the horizon
    assert(Snapshots.readAt(spark, t, 1).get.count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("table properties: versioned, restore pins, clone carries") {
    val t = fresh("props")
    Snapshots.append(spark, t, orders.limit(10))
    val vBare = Snapshots.latestVersion(spark, t).get
    Snapshots.setTableProperties(spark, t, Map("a" -> "1", "b" -> "2"))
    Snapshots.setTableProperties(spark, t, Map("b" -> "3")) // merge wins
    assert(Snapshots.tableProperties(spark, t) == Map("a" -> "1", "b" -> "3"))
    // versioned: the pre-set version still shows the empty map
    assert(Snapshots.snapshot(spark, t, vBare).get.properties.isEmpty)
    // unset removes only the named key; absent keys are a no-op
    Snapshots.unsetTableProperties(spark, t, Seq("b", "nope"))
    assert(Snapshots.tableProperties(spark, t) == Map("a" -> "1"))
    // restore pins the TARGET version's map (not the latest)
    Snapshots.restore(spark, t, vBare)
    assert(Snapshots.tableProperties(spark, t).isEmpty,
      "restore must carry the restored version's properties")
    // clone carries the source's map at the cloned version
    Snapshots.setTableProperties(spark, t, Map("c" -> "9"))
    val t2 = fresh("props2")
    Snapshots.shallowClone(spark, t, t2)
    assert(Snapshots.tableProperties(spark, t2) == Map("c" -> "9"))
  }

  test("copyInto: crash replay is exact, concurrent ingest refused") {
    val root = Files.createTempDirectory("graft_ci").toString
    val t = s"$root/t"
    val src = s"$root/incoming"
    orders.limit(40).repartition(2).write.parquet(src)
    // crash BEFORE the claim: nothing recorded, replay loads exactly once
    intercept[RuntimeException](
      Snapshots.copyInto(spark, t, src,
        beforePublish = () => throw new RuntimeException("crash")))
    assert(Snapshots.latestVersion(spark, t).isEmpty, "no version on crash")
    val (v1, n1) = Snapshots.copyInto(spark, t, src)
    assert(v1 == 1 && n1 == 2)
    assert(Snapshots.readLatest(spark, t).get.count() == 40,
      "crash-then-replay must load once, not twice")
    // the ledger belongs to the loading version alone: a later append's
    // log object records none, and vacuuming the loading version ages
    // its entries out
    val v2 = Snapshots.append(spark, t, orders.limit(5))
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    assert(!Json.parseObject(ops.readString(f"$t/_log/v$v2%06d.json"))
      .contains("ingest_sources"), "the ledger must not carry forward")
    assert(Snapshots.loadedSources(spark, t).size == 2)
    Snapshots.vacuum(spark, t, keepFrom = v2)
    assert(Snapshots.loadedSources(spark, t).isEmpty)
    // a racing copy-into that lands the same identities first: the OCC
    // retry re-checks the ledger and refuses instead of double-loading
    val t2 = s"$root/t2"
    var raced = false
    val e = intercept[IllegalStateException](
      Snapshots.copyInto(spark, t2, src, beforePublish = () => {
        if (!raced) { raced = true; Snapshots.copyInto(spark, t2, src) }
      }))
    assert(e.getMessage.contains("lost a race"))
    assert(Snapshots.readLatest(spark, t2).get.count() == 40,
      "the racer's load stands alone — no duplicates")
    // the refused caller's re-run is the documented cure: a clean no-op
    val (_, n2) = Snapshots.copyInto(spark, t2, src)
    assert(n2 == 0)
  }

  test("partitions metadata: NULL bucket, delete decline, unpartitioned") {
    val t = fresh("partm")
    val df = orders.withColumn("o_year", year(col("o_orderdate")))
    // unpartitioned table = one NULL row covering everything, exact count
    Snapshots.append(spark, t, df.limit(20).repartition(2))
    val un = Snapshots.partitionsMetadata(spark, t, 1).collect()
    assert(un.length == 1 && un.head.getString(0) == null &&
      un.head.getLong(2) == 20L, "unpartitioned = one NULL row")
    // declare the spec: clustered writes place cleanly
    val t2 = fresh("partm2")
    Snapshots.appendPartitioned(spark, t2, df, Seq("o_year"), numFiles = 32)
    val placed = Snapshots.partitionsMetadata(spark, t2, 1).collect()
    assert(placed.forall(_.getString(0) != null), "clustered writes place")
    assert(placed.map(_.getLong(2)).sum == df.count(), "counts exact")
    // outstanding tombstones make live count ≠ file count: row_count
    // declines to -1 everywhere rather than overstating
    Snapshots.deleteWhere(spark, t2, col("o_orderkey") % 10 === 0)
    val v = Snapshots.latestVersion(spark, t2).get
    val declined = Snapshots.partitionsMetadata(spark, t2, v).collect()
    assert(declined.forall(_.getLong(2) == -1L),
      "deletes outstanding: metadata declines, never lies")
  }
}
