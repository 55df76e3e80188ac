package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) clustering: lay a table out so that the snapshot
  * log's per-file min/max stats ([[Snapshots.readAtPruned]]) prune scans
  * on MORE THAN ONE column.
  *
  * Range-clustering on a single column gives that column tight per-file
  * intervals but leaves every other column's interval spanning the whole
  * domain — a predicate on the second column prunes nothing. Interleaving
  * the bits of both columns' ranks into one sort key walks the
  * two-dimensional space in a locality-preserving curve, so each file
  * covers a small RECTANGLE: both columns get usably tight intervals and
  * either predicate prunes. This is the layout lever behind
  * `OPTIMIZE ... ZORDER BY` in lakehouse engines; the skipping mechanism
  * it feeds is the log's recorded file stats.
  *
  * The ranks are 16-bit min/max-scaled positions (bounds from one
  * bounded driver agg), and the interleave is a pure bitwise Column
  * expression — fully codegen'd, no UDF. The write is
  * `repartitionByRange` + in-partition sort on the z-value: one range
  * exchange, the same cost as any clustered write.
  */
object ZOrder {

  /** Morton-interleave N `bits`-bit values (bit i of input j lands at
    * bit `i*N + j`). Inputs must already be in [0, 2^bits). */
  def interleaveN(cols: Seq[Column], bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * cols.size + j))
      }
    }

  /** Min/max-scale a numeric column to a `bits`-bit rank. Degenerate
    * domains (lo == hi) map to 0. */
  def rankBits(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val top = (1L << bits) - 1
    if (hi <= lo) lit(0L)
    else least(lit(top), greatest(lit(0L),
      ((c.cast("double") - lo) / (hi - lo) * top.toDouble).cast(LongType)))
  }

  /** `df` laid out along the Morton curve of `cols` (any arity ≥ 1):
    * `files` range-partitioned, internally z-sorted partitions. Each
    * column gets `min(16, 62/N)` rank bits so the interleaved key stays
    * inside a non-negative Long — at 4 columns that is 15 bits each,
    * still 32k distinct ranks per axis, far finer than file granularity.
    * One bounded driver agg for the domain bounds (2N doubles), one
    * range exchange — the clustering step of a z-ordered append and of
    * the snapshot log's `OPTIMIZE … ZORDER BY`
    * ([[Snapshots.optimizeSmallFiles]]). */
  def clusteredN(df: DataFrame, files: Int, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "z-order needs at least one column")
    val bits = math.min(16, 62 / cols.size)
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    // empty input / all-null column → min/max are null; degrade to the
    // documented degenerate domain (lo == hi) so the rank maps to 0
    def d(i: Int): Double = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
    val z = interleaveN(cols.zipWithIndex.map { case (c, j) =>
      rankBits(col(c), d(2 * j), d(2 * j + 1), bits) }, bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }
}
