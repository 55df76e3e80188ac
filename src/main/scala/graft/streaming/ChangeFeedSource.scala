package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.lake.Snapshots

/** LOG-DERIVED streaming change-feed source for snapshot tables (the
  * Delta CDF-as-source shape): version windows are discovered from the
  * table's OWN `_log` — no cursor files, no side channel.
  *
  * Spark-first construction: rather than hand-rolling a V2
  * `MicroBatchStream`, the source is Spark's battle-tested FILE SOURCE
  * pointed at the log's version objects (`_log/v*.json`): they are
  * published atomically (fail-if-exists link/rename), densely numbered
  * and zero-padded, so each discovered object is one micro-batch and the
  * file source's checkpointed offset log IS the version frontier —
  * exactly what the Delta source's reservoir offsets record, with
  * restart/replay recovery inherited rather than reimplemented. Glob
  * `v*.json` structurally excludes tmp claims (`*.json.tmp-*`), CRC
  * sidecars (dot-prefixed), manifests (`m-*`), the `_latest` hint and
  * the `_ckpt` index.
  *
  * Each micro-batch maps its version objects to the change windows
  * (v-1, v] via [[Snapshots.changesBetween]]; the stream, the
  * exactly-once append to `feedTable` (feed version k+1 holds batch k,
  * the seed version's empty window included) and the AvailableNow run
  * are [[SnapshotStreamSource]]'s one shared driver — this source is
  * only its change-feed emitter.
  *
  * Scale shape: discovery lists the KB-sized log directory (the Delta
  * source does the same each trigger); each batch reads O(changed files
  * + tombstones) of its window, never a table diff.
  */
object ChangeFeedSource {

  /** Consume every unconsumed log version of `table` (AvailableNow) and
    * append each window's change feed to `feedTable`; checkpoint state
    * (the consumed-version frontier) lives under `checkpoint`. Restart
    * with the same checkpoint to consume only versions committed since
    * the last run. */
  def runOnce(spark: SparkSession, table: String, feedTable: String,
      checkpoint: String): Unit =
    SnapshotStreamSource.drive(spark, table, feedTable, checkpoint,
        versionsPerTrigger = 1) { versions =>
      versions.filter(_ >= 2)
        .map(v => Snapshots.changesBetween(spark, table, v - 1, v).get)
        .reduceOption(_.unionByName(_))
        // the seed version's empty window: the feed's schema, no rows
        .getOrElse(Snapshots.readLatest(spark, table).get.limit(0)
          .withColumn("_change_type", lit("insert")))
    }
}
