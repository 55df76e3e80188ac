package org.apache.spark.sql

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Column ⇄ Expression / DataFrame ⇄ LogicalPlan bridge for graft's native
  * Catalyst extensions.
  *
  * Spark 4 made the Column↔Expression converters (`classic.ExpressionUtils`)
  * and `Dataset.ofRows` `private[sql]`; third-party expression/operator
  * libraries conventionally host a one-file shim inside the
  * `org.apache.spark.sql` package to reach them. This is the only file in
  * the repo living outside the graft namespace.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan backing a DataFrame (attributes resolved,
    * usable as children of custom logical nodes). */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (already-resolved) logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far has reached `sc`'s
    * listeners (`LiveListenerBus.waitUntilEmpty`, `private[spark]`):
    * what a job count read right after an action needs, in place of a
    * guessed sleep. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The schema a parquet `mergeSchema` footer pass infers over files
    * whose schemas are `schemas`, given in the order that pass folds
    * them — files sorted by path string (`ParquetUtils.splitFiles`) —
    * through the same `StructType.merge` (same case sensitivity), so the
    * merged field order is the footer pass's; None when they do not
    * merge. A pure fold: no job, no file opened. */
  def mergedSchema(spark: SparkSession,
      schemas: Seq[types.StructType]): Option[types.StructType] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    try Some(schemas.foldLeft(new types.StructType())(
      _.merge(_, caseSensitive)))
    catch { case _: SparkException => None }
  }

  /** Production kill-switch for both log-fed builders below:
    * `SPARK_GRAFT_LOG_SERVED_SCAN=off` (or `false`/`0`) makes them read
    * filesystem truth instead — a listing plus a `mergeSchema` footer
    * pass — so a corrupted-manifest incident is mitigable without a code
    * change. Any other value (or absence) keeps the log-fed scans
    * (what `Snapshots.logServedScans` counts). */
  def logServedEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_LOG_SERVED_SCAN")
      .exists(v => v == "off" || v == "false" || v == "0")

  /** The V1 parquet scan of log-recorded files, built ENTIRELY from log
    * metadata — the Delta/Iceberg snapshot-read shape
    * (TahoeLogFileIndex): the manifests record every data file's path,
    * byte size and schema, so the scan serves `schema` over `files`
    * (path → recorded size) with ZERO filesystem listings and ZERO
    * footer probes before its first data byte, where
    * `spark.read.parquet(paths)` pays both on every call (an
    * InMemoryFileIndex listing — a distributed job past the
    * parallel-discovery threshold — plus a footer job); at 100 TB /
    * O(100k files) that is 100k object-store round-trips per query
    * before planning starts. A file that lacks a column or struct leaf
    * of `schema` reads it as null, the per-file mechanism a
    * `mergeSchema` read relies on too. Planning, pushdown, column
    * pruning, `_metadata` columns and vectorized reads all go through
    * the stock ParquetFileFormat / FileSourceStrategy machinery: the
    * physical plan is the same `FileScan parquet` as a path-based read,
    * with a [[LogFedFileIndex]] location. Under the kill-switch it is
    * that path-based read, with `mergeSchema`. */
  def logFileRelation(spark: SparkSession, schema: types.StructType,
      files: Seq[(String, Long)]): DataFrame = {
    if (!logServedEnabled) return spark.read.option("mergeSchema", "true")
      .parquet(files.map(_._1): _*)
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[classic.SparkSession]
    // asNullable: a parquet-inferred schema is all-nullable; serving the
    // writer's schema verbatim could mark fields non-null and change
    // downstream null-handling plans vs the path-based read
    val relation = HadoopFsRelation(new LogFedFileIndex(session, files),
      new types.StructType(), schema.asNullable, None,
      new execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(session)
    classic.Dataset.ofRows(session,
      LogicalRelation(relation, isStreaming = false))
  }

  /** The DataSourceV2 twin of [[logFileRelation]], the building block
    * of the snapshot-log TableCatalog: a parquet Table serving `schema`
    * over `files` (path → recorded size) through Spark's own ParquetTable
    * (full pushdown, column pruning, vectorized read), with its
    * FileIndex built from the log ([[LogFedFileIndex]]) — so `VERSION AS
    * OF` scans plan exactly like a native V2 table, without the one
    * driver-side FS status per path (DataSource.checkAndGlobPathIfNecessary
    * + InMemoryFileIndex) or the footer pass a stock FileTable pays at
    * construction. Under the kill-switch it is the stock ParquetTable
    * over a listing, its schema inferred with `mergeSchema`. Internal
    * constructors, hence bridged here. */
  def parquetTable(name: String, spark: SparkSession,
      schema: types.StructType,
      files: Seq[(String, Long)]): connector.catalog.Table = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val fmt = classOf[execution.datasources.parquet.ParquetFileFormat]
    if (logServedEnabled)
      new LogFedParquetTable(name, session, schema.asNullable, fmt, files)
    else execution.datasources.v2.parquet.ParquetTable(name, session,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("mergeSchema", "true")), files.map(_._1), None, fmt)
  }

  /** [[execution.datasources.v2.parquet.ParquetTable]] whose FileIndex
    * is built ENTIRELY from log metadata (path → recorded byte size):
    * zero FS statuses, zero listings at planning time. Everything else
    * — scan builder, pushdown, vectorized read, write refusal — is the
    * stock ParquetTable behaviour. */
  private final class LogFedParquetTable(
      name: String, session: classic.SparkSession,
      schema: types.StructType,
      fmt: Class[execution.datasources.parquet.ParquetFileFormat],
      sized: Seq[(String, Long)])
    extends execution.datasources.v2.parquet.ParquetTable(name, session,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      sized.map(_._1), Some(schema), fmt) {
    override lazy val fileIndex
        : execution.datasources.PartitioningAwareFileIndex =
      new LogFedFileIndex(session, sized)
  }

  /** A [[execution.datasources.PartitioningAwareFileIndex]] serving a
    * fixed, log-recorded (path, byte size) file list: no partition
    * inference (snapshot data files are flat under run-unique staging
    * dirs), no listing, no refresh (the list IS the version —
    * immutable). Statuses carry blockSize 128 MB / modTime 0; split
    * planning and CBO sizeInBytes read the recorded lengths. */
  private final class LogFedFileIndex(session: classic.SparkSession,
      sized: Seq[(String, Long)])
    extends execution.datasources.PartitioningAwareFileIndex(
      session, Map.empty, None,
      execution.datasources.NoopCache) {
    import org.apache.hadoop.fs.{FileStatus, Path}
    // qualified against the first path's FS once (all snapshot files
    // live under one table root / one filesystem)
    private val statuses: Array[FileStatus] = {
      val fs = new Path(sized.head._1)
        .getFileSystem(session.sparkContext.hadoopConfiguration)
      sized.map { case (p, len) =>
        new FileStatus(len, false, 1, 134217728L, 0L,
          fs.makeQualified(new Path(p)))
      }.toArray
    }
    override def partitionSpec(): execution.datasources.PartitionSpec =
      execution.datasources.PartitionSpec.emptySpec
    override def leafFiles: scala.collection.mutable.LinkedHashMap[
        Path, FileStatus] =
      scala.collection.mutable.LinkedHashMap(
        statuses.map(st => st.getPath -> st).toIndexedSeq: _*)
    override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      statuses.groupBy(_.getPath.getParent)
    override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq
    override def refresh(): Unit = ()
    // serve the file set directly — the base-class implementations walk
    // leafDirToChildrenFiles/rootPaths, which these pins keep equivalent;
    // overriding removes any dependence on base-class traversal details
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression])
        : Seq[execution.datasources.PartitionDirectory] =
      Seq(execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty, statuses))
    override def allFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
      statuses.toIndexedSeq
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString)
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
  }
}
