package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.gold.IncrementalAgg
import graft.lake.Snapshots

/** Continuously-maintained materialized rollup: each microbatch's partial
  * aggregate merges into the stored rollup ([[graft.gold.IncrementalAgg]]),
  * kept as a [[graft.lake.Snapshots]] table at `root`.
  *
  * This is the streaming form of incremental view maintenance — the q104
  * merge driven by `foreachBatch` instead of a scheduled job. Merge cost
  * per batch is O(|batch agg| + |rollup|), independent of stream
  * history — the property that lets the view run forever.
  *
  * Exactly-once is the snapshot log's, as for every `foreachBatch` sink
  * ([[graft.lake.Snapshots.holdsBatch]]): batch B publishes version B+1
  * with one `overwrite`, so readers always see a complete version, a
  * replayed batch is skipped, and a batch that crashed before its
  * publish left only unreferenced staged files — its retry rewrites
  * them and publishes.
  */
final class IncrementalRollup(root: String, keys: Seq[String],
    measures: Seq[String]) extends Serializable {

  /** The last batch id published, if any. */
  def committedBatch: Option[Long] =
    Snapshots.latestVersion(SparkSession.active, root).map(_ - 1L)

  /** The current rollup (None before any commit). */
  def read(spark: SparkSession): Option[DataFrame] =
    Snapshots.readLatest(spark, root)

  /** Merge one batch's rows into the rollup and publish; no-op if this
    * batchId (or a later one) is already committed. `aggOf` turns raw
    * batch rows into a partial aggregate carrying `keys` + `measures`. */
  def apply(batch: DataFrame, batchId: Long, aggOf: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    if (Snapshots.holdsBatch(spark, root, batchId)) return
    val delta = aggOf(batch)
    val merged = read(spark) match {
      case Some(stored) => IncrementalAgg.merge(stored, delta, keys, measures)
      case None => delta
    }
    // keep the stored schema stable across merges (sum() widens decimals)
    val deltaTypes = delta.schema.fields.map(f => f.name -> f.dataType).toMap
    Snapshots.overwrite(spark, root, merged.select((keys ++ measures).map(c =>
      col(c).cast(deltaTypes(c)).as(c)): _*))
  }
}
