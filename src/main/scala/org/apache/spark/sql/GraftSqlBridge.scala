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

  /** Do `schemas` merge under `StructType.merge`, the merge a parquet
    * `mergeSchema` footer pass folds its files' schemas with (same case
    * sensitivity)? A pure check: no job, no file opened. */
  def schemasMerge(spark: SparkSession,
      schemas: Seq[types.StructType]): Boolean = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    try { schemas.reduceOption(_.merge(_, caseSensitive)); true }
    catch { case _: SparkException => false }
  }

  /** A V1 parquet scan built ENTIRELY from log metadata — the
    * Delta/Iceberg snapshot-read shape (TahoeLogFileIndex): the manifest
    * already records every data file's path, byte size and schema, so
    * the scan needs ZERO filesystem listings and ZERO footer/schema
    * probes before its first data byte. `spark.read.parquet(paths)`
    * pays both on every call (an InMemoryFileIndex listing — a
    * distributed job past the parallel-discovery threshold — plus a
    * mergeSchema footer pass); at 100 TB / O(100k files) that is 100k
    * object-store round-trips per query before planning even starts.
    * Planning, pushdown, column pruning, `_metadata` columns and
    * vectorized reads all go through the stock ParquetFileFormat /
    * FileSourceStrategy machinery — the physical plan is the same
    * `FileScan parquet` as a path-based read, just with a
    * [[LogFedFileIndex]] location (the DSv2 table's index). */
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

  /** A DataSourceV2 parquet Table over an EXPLICIT file list — the
    * building block for a snapshot-log TableCatalog: each catalog load
    * resolves a version's file list from the log and serves it through
    * Spark's own ParquetTable (full pushdown, column pruning, vectorized
    * read), so `VERSION AS OF` scans plan exactly like a native V2
    * table. Internal constructor, hence bridged here.
    *
    * When the log also serves every file's BYTE SIZE (`sizes`) the
    * table's FileIndex is served from log metadata — the V2
    * twin of [[logFileRelation]], on the same [[LogFedFileIndex]]: the
    * stock FileTable otherwise pays one driver-side FS status per path
    * at `fileIndex` construction (DataSource.checkAndGlobPathIfNecessary
    * + InMemoryFileIndex), which at 100 TB / O(100k files) is 100k
    * object-store round-trips before the first data byte of every
    * catalog SQL scan. */
  def parquetTable(name: String, spark: SparkSession, paths: Seq[String],
      options: java.util.Map[String, String],
      // log-recorded schema when the manifest can prove one (uniform
      // eras): skips the footer-inference pass a None schema pays
      schema: Option[types.StructType] = None,
      // log-recorded per-file byte sizes (same keys as `paths`; the
      // manifests record every file's) — enables the log-fed FileIndex;
      // None keeps the stock listing path
      sizes: Option[Map[String, Long]] = None): connector.catalog.Table = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(options)
    val fmt = classOf[execution.datasources.parquet.ParquetFileFormat]
    val served = for {
      sch <- schema
      sz <- sizes
    } yield new LogFedParquetTable(name, session, opts, sch.asNullable,
      fmt, paths.map(p => p -> sz(p)))
    served.getOrElse(execution.datasources.v2.parquet.ParquetTable(
      name, session, opts, paths, schema.map(_.asNullable), fmt))
  }

  /** [[execution.datasources.v2.parquet.ParquetTable]] whose FileIndex
    * is built ENTIRELY from log metadata (path → recorded byte size):
    * zero FS statuses, zero listings at planning time. Everything else
    * — scan builder, pushdown, vectorized read, write refusal — is the
    * stock ParquetTable behaviour. */
  private final class LogFedParquetTable(
      name: String, session: classic.SparkSession,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
      schema: types.StructType,
      fmt: Class[execution.datasources.parquet.ParquetFileFormat],
      sized: Seq[(String, Long)])
    extends execution.datasources.v2.parquet.ParquetTable(
      name, session, options, sized.map(_._1), Some(schema), fmt) {
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
