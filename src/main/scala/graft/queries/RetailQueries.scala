package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Num._

/** Core analytic surface: the reference's Athena queries (F1–F3 in
  * SURVEY.md §2) re-expressed over the testdata star schema, plus the join
  * and window operators a retail fact table needs at scale.
  *
  * Scale notes (100 TB): every aggregate here is a hash aggregate with
  * map-side partial aggregation; joins against dimension tables are
  * explicitly broadcast (dims are small by definition); the top-N query
  * compiles to TakeOrderedAndProject, not a global sort.
  */
object RetailQueries {

  /** F2 analog — daily revenue from orders (docs/athena_queries.md:24-28). */
  def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("order_date"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(desc("order_date"))

  /** Discounted revenue per row in exact 10^-4-dollar LONG units: the
    * multiply is primitive codegen; aggregate via [[Num.sumBig]]. */
  private def discRevenue: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** F3 analog — top-10 parts by discounted revenue
    * (docs/athena_queries.md:32-37). Deterministic tiebreak on key. */
  def topProducts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg((sumBig(discRevenue).cast(DoubleType) / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), col("l_partkey"))
      .limit(10)

  /** TPC-H Q1-style pricing summary over lineitem.
    *
    * Explicit two-level formulation instead of `agg(..., countDistinct)`:
    * mixing a distinct with other aggregates makes Catalyst thread every
    * accumulator (including the DECIMAL ones) through the wide
    * (group, orderkey)-keyed phases of its one-distinct rewrite —
    * measured 1.4–1.7 s at sf0.1 vs 1.1 s for this form (best of three
    * noop-sink passes each).
    * Here phase 1 pre-aggregates per (flag, status, orderkey) — the
    * relation the distinct pass shuffles anyway — with ALL-PRIMITIVE long
    * partials (safe at any table size: a single order's lines bound the
    * partial, ≈8·10^11 ≪ 2^63 even at thousands of lines per order), and
    * the final 6-group fold is where the DECIMAL headroom accumulators
    * take over. Single scan (a two-scan split measures faster locally but
    * doubles the dominant cost at 100 TB); `count(lit(1))` at the fold ==
    * countDistinct(orderkey) by construction. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val tax100 = lit(100L) + cents(col("l_tax"))
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"))
      .agg(
        sum(cents(col("l_quantity"))).as("q"),
        sum(cents(col("l_extendedprice"))).as("bp"),
        sum(discRevenue).as("dp"),
        sum(discRevenue * tax100).as("ch"),
        count(lit(1)).as("n"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sumBig(col("q")).cast(DoubleType) / 100.0).as("sum_qty"),
        (sumBig(col("bp")).cast(DoubleType) / 100.0).as("sum_base_price"),
        (sumBig(col("dp")).cast(DoubleType) / 10000.0).as("sum_disc_price"),
        (sumBig(col("ch")).cast(DoubleType) / 1000000.0).as("sum_charge"),
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_orders"))
  }

  /** Broadcast dimension join: revenue by part brand. */
  def brandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg((sumBig(discRevenue).cast(DoubleType) / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Multi-way dim join: order revenue rolled up to region (TPC-H Q5-ish).
    * customer/nation/region are all broadcast — zero shuffles on the
    * dimension side; one hash-agg shuffle on r_name. */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")
    orders
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** E6 analog — latest-wins window dedup: last event per user
    * (`incremental_auto_compaction.py:215-221`), with a deterministic
    * event_id tiebreak. */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
  }

  /** E5 analog — md5 row hash over stable-typed columns
    * (`incremental_auto_compaction.py:210-212`; `docs/gold_job.md:24`).
    * Column order is part of the contract. Only int/string columns are
    * hashed so the string form is engine-independent. */
  def rowHash(spark: SparkSession, dir: String): DataFrame = {
    val hashCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_returnflag", "l_linestatus")
    graft.util.Par.ensure(Tables(spark, dir, "lineitem"))
      .select(col("l_orderkey"), col("l_linenumber"),
        md5(concat_ws("||",
          hashCols.map(c => coalesce(col(c).cast(StringType), lit(""))): _*))
          .as("row_hash"))
  }

  private val discSql =
    s"${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})"

  /** Minimum basket co-occurrence for a q143 rule; interpolated into
    * BOTH sides. The support filter is applied at the aggregate (after
    * the one pair shuffle), and it's what keeps the rule relation tiny
    * relative to the corpus. */
  val RuleMinSupport = 2

  /** q143 — market-basket association rules (the Agrawal–Srikant
    * apriori output surface): directed part→part rules with support,
    * confidence and lift, all in EXACT integer e6 arithmetic.
    *
    * Baskets are order part-SETS (distinct (order, part) first — a
    * part twice in one order is one basket membership). Pair counting
    * is the q142/q130 bounded-expansion shape: per-basket pair fan-out
    * is quadratic only in basket size (TPC-H ≤7 lines; a long-tail
    * corpus caps the basket like q130 caps the term set), then ONE
    * shuffle on the unordered pair key. conf = sup/c(ante) and
    * lift = sup·N/(c(ante)·c(cons)) are floor-e6 rationals — engine-
    * portable where FP ratios are not.
    *
    * Scale shape: the heavy relations (baskets, pairs) shuffle once
    * each on their natural keys; everything post-support-filter is
    * rule-sized. Item counts join onto the FILTERED pair relation
    * (broadcast-eligible both sides), and the scalar basket total N
    * enters as a 1-row broadcast cross join, never a driver constant
    * round-trip. */
  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val n = baskets.agg(countDistinct(col("ok")).as("n_orders"))
    val item = baskets.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = baskets.as("a").join(baskets.as("b"),
        expr("a.ok = b.ok AND a.pk < b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= RuleMinSupport)
    val directed = pairs.select(col("u").as("ante"), col("v").as("cons"), col("sup"))
      .unionByName(
        pairs.select(col("v").as("ante"), col("u").as("cons"), col("sup")))
    directed
      .join(item.select(col("pk"), col("c").as("c_ante")), col("ante") === col("pk"))
      .drop("pk")
      .join(item.select(col("pk"), col("c").as("c_cons")), col("cons") === col("pk"))
      .drop("pk")
      .crossJoin(broadcast(n))
      .select(col("ante"), col("cons"), col("sup"),
        expr("sup * 1000000 DIV c_ante").as("conf_e6"),
        expr("sup * n_orders * 1000000 DIV (c_ante * c_cons)").as("lift_e6"))
  }

  private def basketOracle: String = s"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM baskets),
    item AS (SELECT pk, COUNT(*) AS c FROM baskets GROUP BY 1),
    pairs AS (
      SELECT a.pk AS u, b.pk AS v, COUNT(*) AS sup
      FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= $RuleMinSupport),
    directed AS (
      SELECT u AS ante, v AS cons, sup FROM pairs
      UNION ALL SELECT v, u, sup FROM pairs)
    SELECT d.ante, d.cons, d.sup,
      CAST(d.sup * 1000000 // ia.c AS BIGINT) AS conf_e6,
      CAST(d.sup * n.n_orders * 1000000 // (ia.c * ic.c) AS BIGINT) AS lift_e6
    FROM directed d
    JOIN item ia ON ia.pk = d.ante
    JOIN item ic ON ic.pk = d.cons
    CROSS JOIN n"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q143_basket_rules", basketRules, Some(basketOracle)),
    QueryDef("q01_pricing_summary", pricingSummary, Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${sqlSumMoney("l_quantity")} AS sum_qty,
        ${sqlSumMoney("l_extendedprice")} AS sum_base_price,
        CAST(SUM($discSql) AS DOUBLE) / 10000.0 AS sum_disc_price,
        CAST(SUM($discSql * (100 + ${sqlCents("l_tax")})) AS DOUBLE) / 1000000.0 AS sum_charge,
        COUNT(*) AS n_rows,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    QueryDef("q02_daily_revenue", dailyRevenue, Some(s"""
      SELECT CAST(o_orderdate AS DATE) AS order_date,
        ${sqlSumMoney("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders GROUP BY 1 ORDER BY order_date DESC""")),
    QueryDef("q03_top_products", topProducts, Some(s"""
      SELECT l_partkey, CAST(SUM($discSql) AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem GROUP BY l_partkey
      ORDER BY revenue DESC, l_partkey LIMIT 10""")),
    QueryDef("q04_brand_revenue", brandRevenue, Some(s"""
      SELECT p_brand, CAST(SUM($discSql) AS DOUBLE) / 10000.0 AS revenue,
        COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand""")),
    QueryDef("q05_region_revenue", regionRevenue, Some(s"""
      SELECT r_name, ${sqlSumMoney("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name""")),
    QueryDef("q06_latest_event_per_user", latestEventPerUser, Some("""
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
          row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1""")),
    QueryDef("q07_row_hash", rowHash, Some("""
      SELECT l_orderkey, l_linenumber,
        md5(concat_ws('||',
          coalesce(CAST(l_orderkey AS VARCHAR), ''),
          coalesce(CAST(l_partkey AS VARCHAR), ''),
          coalesce(CAST(l_suppkey AS VARCHAR), ''),
          coalesce(CAST(l_linenumber AS VARCHAR), ''),
          coalesce(l_returnflag, ''),
          coalesce(l_linestatus, ''))) AS row_hash
      FROM lineitem""")))
}
