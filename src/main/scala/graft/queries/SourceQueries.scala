package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TextSources

/** Source-format breadth: CSV and JSON-lines zones round-tripped through
  * the schema'd PERMISSIVE readers (graft.sources.TextSources) and
  * hash-verified against the original parquet content by the DuckDB
  * oracle — a reader that mangled a value, row, type, or null would
  * break the compare. Zone directories are derived deterministically
  * from the data dir, so repeated runs at any scale factor are stable.
  */
object SourceQueries {

  // per-process scratch (pid isolation for concurrent JVMs, shutdown-hook
  // cleanup so repeated runs don't accumulate /tmp dirs)
  private def zoneDir(tag: String, dir: String): String =
    graft.util.Scratch.dir(tag, dir)

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** CSV zone: export `customer` to headered CSV, read it back through
    * the schema'd PERMISSIVE reader. Doubles survive exactly (Java
    * shortest round-trip formatting). */
  def csvCustomerZone(spark: SparkSession, dir: String): DataFrame = {
    val path = zoneDir("csvzone", dir)
    Tables(spark, dir, "customer").write.mode("overwrite")
      .option("header", "true").csv(path)
    // capture off: the zone is wellformed by construction, and the driver
    // smoke-counts this frame (a bare count over a capture read prunes to
    // the corrupt column alone, which Spark rejects)
    TextSources.readCsvZone(spark, path, customerSchema, capture = false)
  }

  private val eventsJsonSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** JSON-lines zone: export `events` with epoch-micros timestamps (the
    * idiomatic event-log JSON shape; ISO-string timestamps would lose
    * sub-millisecond precision under the default writer format), read
    * back schema'd, restore the µs timestamp. */
  def jsonEventsZone(spark: SparkSession, dir: String): DataFrame = {
    val path = zoneDir("jsonzone", dir)
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").json(path)
    TextSources.readJsonZone(spark, path, eventsJsonSchema, capture = false)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** ORC zone: export `orders` to ORC (columnar sibling to the parquet
    * zones — the built-in format a lake migration actually encounters),
    * read it back, hash-verified against the parquet original. Timestamps
    * survive at µs precision; doubles bit-exact (both columnar). */
  def orcOrdersZone(spark: SparkSession, dir: String): DataFrame = {
    val path = zoneDir("orczone", dir)
    Tables(spark, dir, "orders").write.mode("overwrite").orc(path)
    spark.read.orc(path)
  }

  /** Zone-mapped range scan (q99): orders is committed to a snapshot
    * table range-clustered on `o_totalprice` (8 files, near-disjoint
    * slices) with per-file min/max stats recorded in the log
    * ([[graft.lake.Snapshots.append]] `statsCols`), and the range query
    * opens ONLY the files whose interval overlaps [50k, 150k]
    * ([[graft.lake.Snapshots.readAtPruned]]) — at 100 TB this replaces
    * listing+footer-probing every file with one KB-sized log read. The
    * residual predicate over the surviving files restores exactness
    * (boundary files carry out-of-range rows), which is what the plain
    * full-scan oracle verifies; the file-count reduction itself is
    * pinned by SnapshotsSpec. */
  def zoneMapScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    import graft.queries.Num.sumMoney
    val table = zoneDir("zonemap", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    Snapshots.append(spark, table,
      Tables(spark, dir, "orders").repartitionByRange(8, col("o_totalprice")),
      statsCols = Seq("o_totalprice"))
    Snapshots.readAtPruned(spark, table, 1,
        "o_totalprice", 50000.0, 150000.0).get
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("revenue"))
  }

  /** Z-ordered scan (q103): orders committed to a snapshot table laid
    * out on the Morton interleave of (o_totalprice, o_custkey) ranks
    * ([[graft.lake.ZOrder.clusteredN]]), log stats on BOTH columns, then
    * a range query on the SECOND column — the one a single-column
    * clustering would not prune at all. Each file covers a rectangle of
    * the 2-D space, so the custkey predicate skips most files through
    * the log alone; the residual filter restores exactness and the plain
    * full-scan oracle verifies it. Both-column pruning is pinned by
    * ScaleSpecs. */
  def zOrderScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.{Snapshots, ZOrder}
    import graft.queries.Num.sumMoney
    val table = zoneDir("zorder", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val cols = Seq("o_totalprice", "o_custkey")
    Snapshots.append(spark, table,
      ZOrder.clusteredN(Tables(spark, dir, "orders"), 16, cols),
      statsCols = cols)
    Snapshots.readAtPruned(spark, table, 1, "o_custkey", 100.0, 400.0).get
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("revenue"))
  }

  /** Bucketed-table zone (q108): lineitem and orders written as BUCKETED
    * catalog tables (8 buckets on the join key, sorted within buckets),
    * then joined and aggregated — the co-location contract means the
    * join consumes the bucketed layout directly with NO exchange on
    * either side (plan-pinned in ScaleSpecs' bucket test; at 100 TB this
    * converts the recurring fact⋈fact shuffle into a one-time write
    * cost). The gate verifies the bucketed write+read path preserves
    * every row: the aggregate must hash-match the plain parquet join. */
  def bucketedJoinZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Num.sumMoney
    val db = "graft_q108"
    val wh = zoneDir("bucketdb", dir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    Tables(spark, dir, "lineitem").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(s"$db.li")
    Tables(spark, dir, "orders").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(s"$db.ord")
    spark.table(s"$db.li")
      .join(spark.table(s"$db.ord"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sumMoney(col("l_extendedprice")).as("revenue"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q52_csv_zone_roundtrip", csvCustomerZone, Some("""
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer""")),
    QueryDef("q53_json_zone_roundtrip", jsonEventsZone, Some("""
      SELECT event_id, ts, user_id, event_type, value, props
      FROM events""")),
    QueryDef("q76_orc_zone_roundtrip", orcOrdersZone, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders""")),
    QueryDef("q99_zonemap_scan", zoneMapScan, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
        ${graft.queries.Num.sqlSumMoney("o_totalprice")} AS revenue
      FROM orders
      WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
      GROUP BY 1""")),
    QueryDef("q103_zorder_scan", zOrderScan, Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        ${graft.queries.Num.sqlSumMoney("o_totalprice")} AS revenue
      FROM orders
      WHERE o_custkey >= 100 AND o_custkey <= 400
      GROUP BY 1""")),
    QueryDef("q108_bucketed_join", bucketedJoinZone, Some(s"""
      SELECT o_orderpriority, l_returnflag,
        COUNT(*) AS n_lines,
        ${graft.queries.Num.sqlSumMoney("l_extendedprice")} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2""")))
}
