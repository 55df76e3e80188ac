package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analyst_queries`: the Athena-style SQL surface. A cycle runs every
  * query below once, in seeded order, each from a cleared cache and timed
  * to the end of a noop-sink write (every projected expression evaluated,
  * nothing written). The queries read the generated star-schema tables
  * read-only, so ingest, gold and lake commits are bypassed.
  *
  * The warm-up's first pass writes each query's result, which the runner
  * checks against the query's own oracle SQL under DuckDB; a second pass
  * runs each query as the loop does.
  */
final class AnalystQueries(seed: Long, data: String, tmp: String, trace: Trace)
    extends Workload {

  private val rnd = new Random(seed)

  def prepare(spark: SparkSession, dir: String): Unit = ()

  def warmup(spark: SparkSession): Unit = {
    val out = s"$tmp/results"
    AnalystQueries.Names.foreach { q =>
      SparkEntry.queries(q)(spark, data).write.parquet(s"$out/$q")
    }
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.render(
      AnalystQueries.Names.map(q => q -> SparkEntry.oracleSql(q)).toMap).getBytes("UTF-8"))
    // A second, noop-sink pass: after one pass the JIT is still compiling so
    // much that each further cycle is cheaper than the last, and a run's
    // figure would depend on how many cycles fit in it.
    AnalystQueries.Names.foreach(q => noop(spark, q))
  }

  def cycle(spark: SparkSession, index: Int): Unit =
    rnd.shuffle(AnalystQueries.Names).foreach { q =>
      timed(q) {
        trace.span("queries", q)(noop(spark, q))
      }
    }

  /** Run `q` from a cleared cache to the end of a noop-sink write. */
  private def noop(spark: SparkSession, q: String): Unit = {
    spark.catalog.clearCache()
    val df = SparkEntry.queries(q)(spark, data)
    if (trace.enabled) trace.span("plans", "executedPlan")(df.queryExecution.executedPlan)
    df.write.format("noop").mode("overwrite").save()
  }

  def check(spark: SparkSession): Seq[String] = Nil

  def layerExtras(spark: SparkSession): Map[String, Double] =
    Map("plans.plan_s" -> trace.spansOf("plans").map(_.wallS).sum)
}

object AnalystQueries {
  /** Oracle-declared retail and analytics queries over the star schema:
    * scans, broadcast dimension joins, shuffle aggregates, rollup/cube,
    * windows, exact quantiles, a per-row md5 projection and a self-join. */
  val Names: Seq[String] = Seq(
    "q01_pricing_summary", "q02_daily_revenue", "q03_top_products",
    "q04_brand_revenue", "q05_region_revenue", "q07_row_hash",
    "q28_region_rollup", "q29_customer_windows", "q45_status_priority_cube",
    "q46_order_value_quantiles", "q107_rolling_revenue", "q143_basket_rules")
}
