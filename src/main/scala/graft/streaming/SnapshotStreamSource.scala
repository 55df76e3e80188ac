package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.lake.Snapshots

/** PLAIN streaming source over a snapshot table — appended ROWS as a
  * stream (the `spark.readStream.format("delta")` read path), as opposed
  * to [[ChangeFeedSource]]'s change-image feed: most consumers of a
  * curated corpus table just want the new rows, without routing through
  * `_change_type` envelopes.
  *
  * Same Spark-first construction as [[ChangeFeedSource]]: Spark's file
  * source pointed at the log's atomically-published, densely-numbered
  * version objects (`_log/v*.json`), so the checkpointed file-source
  * offset log IS the version frontier and restart/replay recovery is
  * inherited, not reimplemented. `maxVersionsPerTrigger` is the rate
  * limit (Delta's `maxFilesPerTrigger` analogue): one micro-batch
  * consumes at most that many versions, so a consumer attaching to a
  * long history catches up in bounded bites instead of one giant batch.
  * `maxBytesPerTrigger` (Delta parity, r17) bounds each batch by the
  * DATA bytes of the versions it consumes — planned from the log's
  * manifest-recorded file sizes, never per-file FS status — because a
  * version cap alone still admits an arbitrarily large batch after one
  * bulk append. The byte cap is soft exactly like Delta's: one
  * oversized version still admits alone, so catch-up never wedges.
  *
  * Semantics per consumed version (all decided from KB log objects —
  * [[Snapshots.appendedVersionRows]]):
  *  - `startingVersion`: versions below it are consumed as empty batches
  *    (their offsets still advance, so the frontier stays dense) — the
  *    Delta `startingVersion` option;
  *  - append-shaped commits emit their new files' rows under the
  *    version's era mapping; branch versions and empty commits emit
  *    nothing;
  *  - a DML/OPTIMIZE/RESTORE version FAILS the stream with the reason
  *    (Delta's default — a row stream cannot represent deletions);
  *    `ignoreChanges=true` skips such versions with the usual caveat
  *    that downstream misses the deletions. The failed batch's offset is
  *    never committed, so the error repeats on restart until the
  *    consumer resolves it deliberately.
  *
  * Both log-fed sources run on ONE driver ([[drive]]): the `_log`
  * stream, the batch's versions, the exactly-once append (sink version
  * k+1 holds batch k — empty windows publish empty versions so the
  * batchId↔version bijection survives replays) and the AvailableNow
  * run. A source is only its per-batch emitter: this one emits the
  * appended rows, [[ChangeFeedSource]] the change feed.
  *
  * Scale shape: discovery lists the KB-sized log dir per trigger; a
  * batch reads O(new files of its versions), never a table diff or scan.
  */
object SnapshotStreamSource {

  /** The per-trigger version-count window honoring a byte cap: the
    * LARGEST k (≤ the version cap) such that EVERY k consecutive
    * versions sum to ≤ `cap` data bytes — every-window because the
    * checkpoint frontier may start a batch at any version, so the
    * ceiling must hold wherever the windows land. A single oversized
    * version admits alone (k ≥ 1 — Delta's soft-cap semantics: progress
    * is never wedged by one bulk append). Versions below the starting
    * frontier are consumed as EMPTY batches and weigh zero. */
  private[streaming] def byteBoundedWindow(bytes: Seq[Long], cap: Long,
      maxVersions: Int): Int = {
    require(cap > 0, s"maxBytesPerTrigger must be positive, got $cap")
    if (bytes.isEmpty) return math.max(1, maxVersions)
    def everyWindowFits(k: Int): Boolean =
      bytes.sliding(k).forall(_.sum <= cap)
    (math.min(maxVersions, bytes.length) to 2 by -1)
      .find(everyWindowFits).getOrElse(1)
  }

  /** Consume every unconsumed log version of `table` (AvailableNow) and
    * append each window's newly-appended rows to `sinkTable`; checkpoint
    * state (the consumed-version frontier) lives under `checkpoint`.
    * Restart with the same checkpoint to consume only versions committed
    * since the last run. */
  def runOnce(spark: SparkSession, table: String, sinkTable: String,
      checkpoint: String, startingVersion: Int = 1,
      maxVersionsPerTrigger: Int = 1,
      ignoreChanges: Boolean = false,
      // Delta's maxBytesPerTrigger beside the version cap: bound each
      // catch-up batch by the DATA bytes of the versions it consumes
      // (log-recorded file sizes — a version cap alone leaves a batch
      // arbitrarily large after one bulk append). Soft in Delta's
      // sense: a single version larger than the cap still admits alone.
      maxBytesPerTrigger: Option[Long] = None,
      // Delta's `startingTimestamp`: consume from the first version
      // committed AFTER the instant (the state AT the instant is the
      // batch-read baseline; the stream carries what came later).
      // Resolved once through the in-commit-timestamp index; wins over
      // `startingVersion` when set.
      startingTimestampMs: Option[Long] = None,
      // per-batch transform applied to the window's rows INSIDE
      // foreachBatch — the hook for stream–static joins with Delta's
      // re-resolution semantics: a closure that reads a snapshot table
      // here sees that table's LATEST version at each batch, not the
      // version pinned when the stream started (q283)
      enrich: Dataset[Row] => Dataset[Row] = identity): Unit = {
    val fromVersion = startingTimestampMs match {
      case Some(ts) =>
        Snapshots.versionAtTimestamp(spark, table, ts).map(_ + 1)
          .getOrElse(1)
      case None => startingVersion
    }
    val versionsPerTrigger = maxBytesPerTrigger match {
      case Some(cap) =>
        val latest = Snapshots.latestVersion(spark, table).getOrElse(0)
        val bytes = (1 to latest).map(v =>
          if (v < fromVersion) 0L // consumed as empty batches
          else Snapshots.appendedVersionBytes(spark, table, v))
        byteBoundedWindow(bytes, cap, maxVersionsPerTrigger)
      case None => maxVersionsPerTrigger
    }
    drive(spark, table, sinkTable, checkpoint, versionsPerTrigger) { versions =>
      enrich(versions.filter(_ >= fromVersion)
        .flatMap(v =>
          Snapshots.appendedVersionRows(spark, table, v, ignoreChanges))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        // empty window (seed, pre-startingVersion, branch or ignored
        // version): the table's schema, no rows
        .getOrElse(Snapshots.readLatest(spark, table).get.limit(0)))
    }
  }

  /** Version number of a log object path (`.../v000042.json` → 42). */
  private def versionOf(path: String): Int =
    path.split("/").last.stripPrefix("v").stripSuffix(".json").toInt

  /** The one driver of both log-fed sources: consume every unconsumed
    * log version of `table` (AvailableNow, at most `versionsPerTrigger`
    * versions per micro-batch) and append `emit(versions)` — the rows
    * of one batch's sorted versions — to `sink`, exactly once
    * ([[Snapshots.holdsBatch]]). Every batch publishes one sink
    * version, an empty window an EMPTY one, so the batchId↔version
    * bijection survives replays (skipping would let a replay of the
    * NEXT batch slip past the frontier). */
  private[streaming] def drive(spark: SparkSession, table: String,
      sink: String, checkpoint: String, versionsPerTrigger: Int)(
      emit: Seq[Int] => DataFrame): Unit = {
    // the version objects' NAMES are the offsets; `_metadata` is
    // projected on the SOURCE side (inside foreachBatch the batch is a
    // plain relation without reader columns)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", versionsPerTrigger)
      .text(s"$table/_log/v*.json")
      .select(col("_metadata.file_path").as("log_object"))
    val writeBatch: (Dataset[Row], Long) => Unit = (batch, id) =>
      if (!Snapshots.holdsBatch(spark, sink, id)) {
        val versions = batch.select(col("log_object")).distinct()
          .collect().map(r => versionOf(r.getString(0))).toSeq.sorted
        Snapshots.append(spark, sink, emit(versions))
      }
    val q = stream.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }
}
