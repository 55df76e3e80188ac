package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETEs via deletion-vector sidecars — the lakehouse
  * mechanism (Delta DVs / Iceberg positional deletes) that makes sparse
  * deletes O(deleted rows) instead of O(table): data files stay
  * byte-immutable, a tiny sidecar relation records (file, row position)
  * tombstones, and the scan subtracts them.
  *
  * Spark-first shape: positions come from the parquet reader's hidden
  * `_metadata.file_path` / `_metadata.row_index` columns (no UDF, no
  * zipWithIndex job — the reader emits ordinals for free), and the scan
  * applies the vector with a BROADCAST LEFT-ANTI join keyed on
  * (file, position). At 100 TB with sparse deletes the DV relation is
  * MBs: the anti join broadcasts, the data side never shuffles, and
  * deletes never trigger a rewrite. Compaction ([[compact]]) is the
  * amortized path that folds accumulated vectors back into clean files
  * and drops the sidecars.
  *
  * Layout: `<table>/_dv/d<n>.parquet` sidecars, each rows of
  * (file: STRING, pos: LONG). Multiple delete operations accumulate as
  * separate sidecar files; application unions them (positions are
  * naturally deduplicated by the anti join, so re-deleting a row is a
  * no-op — idempotent like the reference's reruns). The `_dv` directory
  * underscore-prefix keeps every plain `spark.read.parquet(table)` from
  * picking sidecars up as data (Spark skips `_`/`.` paths), so readers
  * that have not adopted DV semantics degrade to seeing undeleted data,
  * never to schema corruption.
  *
  * Every existence check, listing and rename goes through the table
  * path's Hadoop `FileSystem`, so a qualified table path (`file://`,
  * `s3a://`) keeps its vectors exactly like a plain one.
  */
object DeletionVectors {

  private def dvDir(table: String) = s"$table/_dv"

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The sidecar dirs under `_dv`, listed explicitly (no glob: a
    * concurrent writer's half-staged dir under a glob pattern surfaces
    * as a logged read error). */
  private def sidecars(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(dvDir(table))
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
  }

  /** The hidden-column scan every DV operation builds on. File
    * references are TABLE-RELATIVE ([[LakePaths]]): the same
    * normalization is applied when tombstones are written and when the
    * scan joins against them, so vectors survive a table relocation or
    * a differently-spelled read path — an absolute-URI mismatch would
    * silently resurrect deleted rows. */
  private def withPos(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)
      .withColumn("_dv_file",
        LakePaths.relFileCol(LakePaths.tableRoot(spark, table)))
      .withColumn("_dv_pos", col("_metadata.row_index"))

  /** Record `predicate` rows as a new deletion-vector sidecar WITHOUT
    * touching any data file. Returns the number of newly tombstoned
    * positions (rows matching the predicate, whether or not a prior
    * vector already covered them — the anti join makes overlaps
    * harmless). */
  def delete(spark: SparkSession, table: String, predicate: Column): Long = {
    val dv = withPos(spark, table)
      .filter(predicate)
      .select(col("_dv_file").as("file"), col("_dv_pos").as("pos"))
    // One sidecar per operation: content-addressed name for idempotent
    // re-runs of the same logical delete. The digest is 128 bits over
    // the tombstone SET (two independent xxhash64 XOR folds — the rows
    // are distinct positions, so XOR is a faithful set digest) plus the
    // count; a plain sum of one 32-bit hash (the previous scheme) lets
    // two distinct deletes collide and silently overwrite each other's
    // sidecar.
    val r = dv.agg(
      bit_xor(xxhash64(col("file"), col("pos"))).as("h1"),
      bit_xor(xxhash64(col("pos"), col("file"), lit(0x9e3779b97f4a7c15L)))
        .as("h2"),
      count(lit(1)).as("n")).head()
    val n = r.getLong(2)
    if (n > 0) {
      val tag = java.lang.Long.toHexString(r.getLong(0)) + "-" +
        java.lang.Long.toHexString(r.getLong(1)) + "-" + n
      // hash-clustered on the target data file so the sidecar writes
      // with task parallelism (each part covers disjoint data files —
      // the Iceberg per-task positional-delete shape); a single-task
      // coalesce(1) would funnel a large delete through one writer.
      // [[vectors]] reads the whole dir, so part count is invisible.
      dv.repartition(col("file")).write.mode("overwrite")
        .parquet(s"${dvDir(table)}/d$tag.parquet")
    }
    n
  }

  /** True if the table has any deletion vectors pending. */
  def hasVectors(spark: SparkSession, table: String): Boolean =
    sidecars(spark, table).nonEmpty

  /** All accumulated tombstones as one (file, pos) relation. */
  def vectors(spark: SparkSession, table: String): DataFrame = {
    val dirs = sidecars(spark, table)
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("file", "pos")
    } else spark.read.parquet(dirs: _*).distinct()
  }

  /** Merge-on-read scan: the table minus its deletion vectors. The DV
    * side is broadcast (sparse deletes ⇒ small relation); the data side
    * stays a narrow scan — no shuffle, no rewrite. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val data = withPos(spark, table)
    data.join(broadcast(vectors(spark, table)),
        data("_dv_file") === col("file") && data("_dv_pos") === col("pos"),
        "left_anti")
      .drop("_dv_file", "_dv_pos")
  }

  /** Fold accumulated vectors into clean data files and drop the
    * sidecars — the amortized rewrite that bounds DV accumulation. The
    * rewrite is staged write-then-swap so a crash mid-compaction leaves
    * either the old table+vectors or the new clean table, never a mix. */
  def compact(spark: SparkSession, table: String): Unit = {
    if (!hasVectors(spark, table)) return
    val staged = s"$table.compacting"
    read(spark, table).write.mode("overwrite").parquet(staged)
    val (live, old) = (new Path(table), new Path(s"$table.old"))
    val fs = fsOf(spark, live)
    fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new IllegalStateException(s"swap failed for $table")
    if (!fs.rename(new Path(staged), live)) {
      fs.rename(old, live) // roll back
      throw new IllegalStateException(s"swap-in failed for $table")
    }
    fs.delete(old, true)
    ()
  }
}
