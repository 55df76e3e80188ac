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
  * the repo living outside the graft namespace. It also builds the one
  * scan of files the snapshot log records, V1 ([[logFileRelation]]) and
  * V2 ([[logFedScans]]), from the log alone: there is no listing path
  * beside it.
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

  /** The schema a parquet `mergeSchema` read serves over files whose
    * schemas are `schemas`, given in the order its footer pass folds
    * them — files sorted by path string (`ParquetUtils.splitFiles`) —
    * through the same `StructType.merge` (same case sensitivity), so the
    * merged field order is the footer pass's, and all-nullable as the
    * read serves it; None when they do not merge. A pure fold: no job,
    * no file opened. */
  def mergedSchema(spark: SparkSession,
      schemas: Seq[types.StructType]): Option[types.StructType] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    try Some(schemas.foldLeft(new types.StructType())(
      _.merge(_, caseSensitive)).asNullable)
    catch { case _: SparkException => None }
  }

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
    * with a [[LogFedFileIndex]] location. */
  def logFileRelation(spark: SparkSession, schema: types.StructType,
      files: Seq[(String, Long)]): DataFrame = {
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

  /** The DataSourceV2 twin of [[logFileRelation]], the scan side of
    * the snapshot-log TableCatalog's read table: scan builders serving
    * `schema` over `files` (path → recorded size) through Spark's own
    * ParquetScanBuilder (full pushdown, column pruning, vectorized
    * read) over one [[LogFedFileIndex]] — what `ParquetTable` builds,
    * without the one driver-side FS status per path
    * (DataSource.checkAndGlobPathIfNecessary + InMemoryFileIndex) or
    * the footer pass a stock FileTable pays at construction. The index
    * is built once, on the first scan, so every scan of one table
    * shares it (equal scans, reusable exchanges). Internal
    * constructors, hence bridged here. */
  def logFedScans(spark: SparkSession, schema: types.StructType,
      files: Seq[(String, Long)])
      : util.CaseInsensitiveStringMap => connector.read.ScanBuilder = {
    val session = spark.asInstanceOf[classic.SparkSession]
    lazy val index = new LogFedFileIndex(session, files)
    options => execution.datasources.v2.parquet.ParquetScanBuilder(
      session, index, schema, schema, options)
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
