package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis.{sqlWordHash, wordHash}

/** Deterministic sampling for corpus pipelines.
  *
  * `rand()`-based sampling is irreproducible across runs/planners; keying
  * the decision on a stable hash of an id column makes the sample a pure
  * function of the data — re-runs, retries, and other engines (the DuckDB
  * oracle) select the identical rows. Selection: hash(key) mod 10000 <
  * fraction-in-basis-points.
  */
object Sampling {

  val Denominator = 10000L

  def hashBucket(key: Column): Column =
    pmod(wordHash(key.cast("string")), lit(Denominator))

  /** Per-stratum deterministic sampling: `bpByStratum` maps stratum values
    * to basis-point rates; unlisted strata use `defaultBp`. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
      bpByStratum: Map[String, Int], defaultBp: Int): DataFrame =
    stratifiedHashSample(df, keyCol, col(stratumCol), bpByStratum, defaultBp)

  /** As above with a DERIVED stratum expression (any string-valued Column
    * — a quality bucket, a language group, a length band), so corpus
    * mixing rates can key on computed signals without materializing an
    * extra column first. Selection stays a pure function of (key, stratum
    * value): no randomness anywhere. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratum: Column,
      bpByStratum: Map[String, Int], defaultBp: Int): DataFrame = {
    val rate = bpByStratum.foldLeft(lit(defaultBp)) { case (acc, (s, bp)) =>
      when(stratum === s, lit(bp)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < rate)
  }

  // ---- DuckDB SQL mirrors ----

  def sqlHashBucket(expr: String): String =
    s"(${sqlWordHash(s"CAST($expr AS VARCHAR)")} % $Denominator)"

  def sqlStratumRate(stratumExpr: String, bpByStratum: Map[String, Int],
      defaultBp: Int): String = {
    val cases = bpByStratum
      .map { case (s, bp) => s"WHEN $stratumExpr = '$s' THEN $bp" }
      .mkString(" ")
    s"CASE $cases ELSE $defaultBp END"
  }
}
