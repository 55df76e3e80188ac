package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{SnapshotCatalog, Snapshots}

import PerfBench.dirBytes

/** `lake_churn`: writes beside reads on one snapshot table, seeded in set-up
  * from the generated `lineitem`. A cycle interleaves three appends, an upsert
  * merge, a predicate delete and a predicate update (all merge-on-read
  * commits) with two latest reads (DataFrame API and SQL through the
  * snapshot catalog) and two time-travel reads (`readAt` and `VERSION AS
  * OF`) a few versions back; it ends with maintenance, alternating
  * small-file compaction and a full rewrite.
  *
  * Every commit is replayed on a plain-DataFrame reference model; the latest
  * version and a seeded sample of older ones must checksum equal to it.
  */
final class LakeChurn(seed: Long, data: String, tmp: String, trace: Trace)
    extends Workload {

  private val rnd = new Random(seed)
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val Columns = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private val hashSql = s"pmod(xxhash64(${Columns.mkString(", ")}), 1000000007)"
  private val Commits = Seq("append", "merge", "deleteWhere", "updateWhere")
  /** Fixed order, so each read sees the same commit history in every run;
    * the seed picks the rows each commit touches and the versions read. */
  private val Cycle = Seq("append", "read_latest", "merge", "read_latest_sql",
    "append", "delete", "read_at", "update", "read_version_sql", "append")

  /** One snapshot table and its reference model: version → expected rows. */
  private final class Target(val path: String, val sqlName: String) {
    val model = mutable.Map.empty[Int, DataFrame]
    var latest = 0
    var first = 0
    val reads = mutable.ArrayBuffer.empty[(Int, (Long, Long))]
  }

  private var target: Target = _
  private var opNo = 0
  private var bytesAtStart = 0L
  private var bytesWritten = 0L
  private var logServedAtStart = 0L
  private var logServed = 0L
  private val supplied = mutable.ArrayBuffer.empty[DataFrame]

  private def base(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$data/lineitem.parquet")

  private def seedTable(spark: SparkSession, root: String, catalog: String,
      rows: DataFrame): Target = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    val t = new Target(s"$root/li", s"$catalog.li")
    t.latest = Snapshots.append(spark, t.path, rows)
    t.first = t.latest
    t.model(t.latest) = rows
    t
  }

  def prepare(spark: SparkSession, dir: String): Unit =
    target = seedTable(spark, s"$dir/lake", "snap", base(spark))

  def warmup(spark: SparkSession): Unit = {
    val warm = seedTable(spark, s"$tmp/warmup/lake", "warmsnap",
      base(spark).filter(col("l_orderkey") % 10 === 0))
    runCycle(spark, warm, 0)
    Snapshots.optimize(spark, warm.path)
    ops.clear()
  }

  def cycle(spark: SparkSession, index: Int): Unit = {
    if (index == 0) {
      bytesAtStart = dirBytes(target.path)
      logServedAtStart = Snapshots.logServedScans.get()
    }
    runCycle(spark, target, index)
    bytesWritten = dirBytes(target.path) - bytesAtStart
    logServed = Snapshots.logServedScans.get() - logServedAtStart
  }

  private def runCycle(spark: SparkSession, t: Target, index: Int): Unit = {
    Cycle.foreach { kind =>
      opNo += 1
      val s = opNo
      def sample(salt: Long, mod: Int): Column =
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(s * 7919L + salt)), lit(mod)) === 0
      def keyPred(r: Int): Column = pmod(xxhash64(col("l_orderkey"), lit(s.toLong)), lit(100)) === r
      def newKeys(df: DataFrame) = df.withColumn("l_orderkey", col("l_orderkey") + lit(100000000L * s))
      kind match {
        case "append" =>
          val rows = newKeys(base(spark).filter(sample(1, 100)))
          if (t eq target) supplied += rows
          commit(t, "append")(Snapshots.append(spark, t.path, rows))(_.unionByName(rows))
        case "merge" =>
          val changes = base(spark).filter(sample(2, 200))
            .withColumn("l_quantity", col("l_quantity") + 1)
            .unionByName(newKeys(base(spark).filter(sample(3, 400))))
          if (t eq target) supplied += changes
          commit(t, "merge")(Snapshots.merge(spark, t.path, changes, Keys)) { prev =>
            prev.join(changes.select(Keys.map(col): _*), Keys, "left_anti").unionByName(changes)
          }
        case "delete" =>
          val pred = keyPred(0)
          commit(t, "deleteWhere")(Snapshots.deleteWhere(spark, t.path, pred))(_.filter(!pred))
        case "update" =>
          val pred = keyPred(1)
          commit(t, "updateWhere")(
            Snapshots.updateWhere(spark, t.path, pred, Map("l_discount" -> lit(0.11)))) {
            _.withColumn("l_discount", when(pred, lit(0.11)).otherwise(col("l_discount")))
          }
        case "read_latest" =>
          read(t, "readLatest", t.latest)(checksum(Snapshots.readLatest(spark, t.path).get))
        case "read_latest_sql" =>
          read(t, "sql", t.latest)(checksum(spark.sql(s"SELECT * FROM ${t.sqlName}")))
        case "read_at" =>
          val v = older(t)
          read(t, "readAt", v)(checksum(Snapshots.readAt(spark, t.path, v).get))
        case "read_version_sql" =>
          val v = older(t)
          read(t, "sql_version_as_of", v)(
            checksum(spark.sql(s"SELECT * FROM ${t.sqlName} VERSION AS OF $v")))
      }
    }
    val small = index % 2 == 0
    timed(if (small) "optimizeSmallFiles" else "optimize", foreground = false) {
      trace.span("lake", if (small) "Snapshots.optimizeSmallFiles" else "Snapshots.optimize") {
        if (small) Snapshots.optimizeSmallFiles(spark, t.path, 1L << 20)
        else Snapshots.optimize(spark, t.path)
      }
    }.flatten.foreach { v =>
      t.model(v) = t.model(t.latest)
      t.latest = v
    }
  }

  private def commit(t: Target, op: String)(f: => Int)(next: DataFrame => DataFrame): Unit =
    timed(s"commit_$op") {
      trace.span("lake", s"Snapshots.$op")(f)
    }.foreach { v =>
      t.model(v) = next(t.model(t.latest))
      t.latest = v
    }

  private def read(t: Target, how: String, v: Int)(f: => (Long, Long)): Unit =
    timed(s"read_$how") {
      trace.span("lake", s"read.$how")(f)
    }.foreach(c => t.reads += (v -> c))

  /** A version a few commits behind the latest, never before the seed. */
  private def older(t: Target): Int = math.max(t.first, t.latest - 1 - rnd.nextInt(3))

  /** (row count, order-insensitive hash of every row) of one version. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(1)", s"coalesce(sum($hashSql), 0)").head()
    (r.getLong(0), r.getLong(1))
  }

  def check(spark: SparkSession): Seq[String] = {
    val t = target
    val sampled = rnd.shuffle(t.model.keys.filter(_ != t.latest).toSeq.sorted).take(2)
    val want = (t.latest +: sampled).map(v => v -> checksum(t.model(v))).toMap
    val stored = want.toSeq.sortBy(_._1).flatMap { case (v, w) =>
      val got = checksum(Snapshots.readAt(spark, t.path, v).get)
      if (got == w) Nil else Seq(s"version $v: (rows, hash) $got, reference model $w")
    }
    val timedReads = t.reads.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (v, rs) =>
      val seen = rs.map(_._2).distinct
      if (seen.size > 1) Seq(s"version $v read as ${seen.mkString(", ")}")
      else want.get(v).filter(_ != seen.head)
        .map(w => s"version $v read as ${seen.head}, reference model $w").toSeq
    }
    stored ++ timedReads
  }

  override def metrics(spark: SparkSession): Map[String, Double] = {
    val plain = s"$tmp/plain_live"
    Snapshots.readLatest(spark, target.path).get.write.parquet(plain)
    Map("space_amp" -> dirBytes(target.path).toDouble / dirBytes(plain))
  }

  def layerExtras(spark: SparkSession): Map[String, Double] = {
    val commits = trace.spansOf("lake", n => Commits.exists(c => n == s"Snapshots.$c"))
    val reads = trace.spansOf("lake", _.startsWith("read."))
    val suppliedDir = s"$tmp/plain_supplied"
    supplied.reduceOption(_.unionByName(_)).foreach(_.write.parquet(suppliedDir))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "lake.jobs_per_commit" -> ratio(trace.jobsIn(commits).size, commits.size),
      "lake.jobs_per_read" -> ratio(trace.jobsIn(reads).size, reads.size),
      "lake.write_amp" -> ratio(bytesWritten, dirBytes(suppliedDir)),
      "lake.log_bytes" -> dirBytes(s"${target.path}/_log").toDouble,
      "lake.live_files" ->
        Snapshots.snapshot(spark, target.path, target.latest).map(_.files.size).getOrElse(0).toDouble,
      "lake.maintain_s" -> ops.filterNot(_.foreground).map(_.seconds).sum,
      "lake.log_served_ratio" -> ratio(logServed, reads.size))
  }
}
