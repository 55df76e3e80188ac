package graft.lake

import java.util

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 TableCatalog over [[Snapshots]] tables — the SQL surface
  * of the snapshot log, completing the F1 catalog story for the lake
  * family: register once
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.root", "/data/lake")
  * }}}
  *
  * and every snapshot table under the root is queryable by name with
  * native time travel:
  *
  * {{{
  * SELECT ... FROM snap.orders                  -- latest version
  * SELECT ... FROM snap.orders VERSION AS OF 2  -- pinned version
  * }}}
  *
  * `VERSION AS OF` routes through `loadTable(ident, version)` — Spark's
  * own time-travel hook, the same contract Delta/Iceberg catalogs
  * implement — and each load resolves ONE KB-sized log object into the
  * version's file list, served through Spark's native V2 parquet table:
  * filter pushdown, column pruning and vectorized reads all plan exactly
  * as for a plain table, and no directory is ever listed (the log IS the
  * listing — at 100 TB the scan starts without a single object-store
  * LIST call).
  *
  * Scope guard: snapshots carrying merge-on-read state (positional
  * deletes) or column renames need the era-aware anti-join read and
  * CANNOT be served as a bare parquet file list — those loads fail
  * loudly, pointing at [[Snapshots.readAt]], rather than silently
  * resurrecting tombstoned rows or surfacing stale names. Additive
  * schema evolution is served log-fed too, under the eras' merged log
  * schema ([[Snapshots.logSchema]]). A read-only catalog: DDL/DML
  * route through [[Snapshots]] commits.
  */
final class SnapshotCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"spark.sql.catalog.$name.root must point at the lake directory")
  }

  override def name(): String = catalogName

  private[graft] def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$root/", "/", "")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path(
      (namespace.toSeq).mkString(s"$root/", "/", ""))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_log")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  /** `cat.t.history` / `cat.t.files` — Iceberg-style METADATA tables: a
    * trailing `history`/`files` name whose NAMESPACE resolves to a
    * snapshot table serves that table's log metadata (lowered by the
    * relation rewrite into the driver-built O(log) relation). A REAL
    * table at the full path always wins — metadata names don't shadow
    * data. */
  private def metaTable(ident: Identifier, v: Option[Int]): Option[Table] = {
    if (ident.namespace().isEmpty) return None
    if (!Seq("history", "files", "refs", "detail", "partitions",
        "properties", "manifests").contains(ident.name()))
      return None
    if (Snapshots.latestVersion(spark, tablePath(ident)).isDefined)
      return None // a real table named history/files shadows the metadata
    val parent = Identifier.of(ident.namespace().dropRight(1),
      ident.namespace().last)
    val t = tablePath(parent)
    Snapshots.latestVersion(spark, t).map { latest =>
      val ver = v.getOrElse(latest)
      val schema = ident.name() match {
        case "history" => Snapshots.HistorySchema
        case "refs" => Snapshots.RefsSchema
        case "detail" => Snapshots.DetailSchema
        case "partitions" => Snapshots.PartitionsSchema
        case "properties" => Snapshots.PropertiesSchema
        case "manifests" => Snapshots.ManifestsSchema
        case _ => Snapshots.FilesSchema
      }
      SnapshotMetaTable(s"${parent.name()}.${ident.name()}@v$ver",
        ident.name(), t, ver, schema)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    metaTable(ident, None).getOrElse {
      val t = tablePath(ident)
      // MAIN head, not global latest: branch-staged commits stay
      // invisible to plain SQL readers until fast-forwarded
      val v = Snapshots.mainHeadVersion(spark, t)
        .getOrElse(throw new NoSuchTableException(ident))
      tableAt(ident, t, v)
    }
  }

  /** `VERSION AS OF n` — Spark passes the version literal as a string.
    * Integers resolve directly; anything else is tried as a NAMED TAG,
    * then a NAMED BRANCH head (the Iceberg `VERSION AS OF 'ref'`
    * semantics over the q221 tag store and the in-log branch refs —
    * tags win because they are immutable pins; all-digit ref names are
    * refused at creation, so the integer precedence can never shadow
    * one). A literal that is none of these is the USER's error, named
    * as such; NoSuchTableException is reserved for genuinely absent
    * tables/versions. */
  private val TxnRef = """txn:(\d+)""".r

  override def loadTable(ident: Identifier, version: String): Table = {
    // `VERSION AS OF 'txn:<seq>'` — the GROUP-TRANSACTION cut (the SQL
    // face of TableGroup.readAll's consistency contract): the member is
    // served at its pin from the newest marker ≤ seq, so facts and
    // summary read at the same marker can never disagree — and a
    // marked-but-unpublished transaction already serves in full (the
    // marker IS the commit point), while mid-transaction states stay
    // invisible. The group is the member's parent directory.
    version match {
      case TxnRef(seqStr) =>
        val t = tablePath(ident)
        val group = (root +: ident.namespace()).mkString("/")
        val v = TableGroup.versionAtMarker(spark, group, ident.name(),
          seqStr.toInt).getOrElse(throw new IllegalArgumentException(
          s"VERSION AS OF '$version' on ${ident.name()}: no published " +
            s"group-transaction marker ≤ ${seqStr.toInt} pins this " +
            "member (is the table a group member, and the seq real?)"))
        return tableAt(ident, t, v)
      case _ => ()
    }
    val v = version.toIntOption
      .orElse(Snapshots.tagVersion(spark, tablePath(ident), version))
      .orElse(Snapshots.branchHead(spark, tablePath(ident), version))
      .orElse(if (version == "main") // the implicit trunk is a ref too
        Snapshots.mainHeadVersion(spark, tablePath(ident)) else None)
      .getOrElse(throw new IllegalArgumentException(
        s"VERSION AS OF '$version' on ${ident.name()}: neither an " +
          "integer snapshot version, a tag, nor a branch of this table"))
    metaTable(ident, Some(v)).getOrElse(tableAt(ident, tablePath(ident), v))
  }

  /** `TIMESTAMP AS OF t` — Spark passes MICROseconds since epoch; the
    * log records millisecond commit timestamps (strictly increasing, so
    * resolution is unique): latest version with commitTs ≤ t. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tablePath(ident)
    val v = Snapshots.versionAtTimestamp(spark, t, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    tableAt(ident, t, v)
  }

  private def tableAt(ident: Identifier, t: String, v: Int): Table = {
    val s = Snapshots.snapshot(spark, t, v)
      .getOrElse(throw new NoSuchTableException(ident))
    // a zero-file version with DECLARED columns (TRUNCATE re-declares
    // the pre-truncate schema; ADD COLUMN declares one) takes the era
    // read below and reads as an empty table with that schema — only a
    // version with no schema at all (a DML on a never-committed table)
    // fails at resolution
    if (s.files.isEmpty && s.addedColumns.isEmpty)
      throw new UnsupportedOperationException(
        s"version $v of ${ident.name()} has no data files (schema unknown " +
          "to the log); read it via Snapshots.readAt, which returns empty")
    if (s.deletes.nonEmpty || Snapshots.needsEraRead(spark, t, s) ||
        // row-id-materialized files carry the hidden physical id column
        // (Snapshots.optimizeRowIds) — a bare parquet scan would surface
        // it to SQL; the readAt plan hides it
        s.dirSchemas.values.exists(_.fieldNames.contains(Snapshots.RowIdCol)))
      // merge-on-read / renamed / widened versions cannot be a bare
      // parquet file list: hand out the marker table whose relation the
      // injected SnapshotRelationRewrite lowers to the era-aware
      // readAt plan (tombstone anti-join + rename chain + widening)
      SnapshotMoRTable(s"${ident.name()}@v$v", t, v,
        Snapshots.readAt(spark, t, v).get.schema, s.properties)
    else {
      // SnapshotReadTable hides the FileTable so INSERT INTO stays a V2
      // AppendData (routed to the log) instead of falling back to a V1
      // file write into the version's file list — see its Scaladoc. The
      // table is log-fed: the merged log schema (defined — the version
      // needs no era read) over the recorded sizes, so the scan plans
      // with zero driver-side per-file statuses and no footer pass.
      SnapshotReadTable(GraftSqlBridge.parquetTable(s"${ident.name()}@v$v",
        spark, Snapshots.logSchema(spark, t, s.dirSchemas, s.files).get,
        s.files.map(f => Snapshots.filePath(t, f) -> s.sizes(f))), t, v,
        logProps = s.properties)
    }
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def tableExists(ident: Identifier): Boolean =
    Snapshots.latestVersion(spark, tablePath(ident)).isDefined

  private def readOnly = new UnsupportedOperationException(
    s"$catalogName is read-only: commit through graft.lake.Snapshots " +
      "(append/merge/updateWhere/deleteWhere), which publishes versioned " +
      "log objects this catalog then serves")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = throw readOnly

  /** `ALTER TABLE cat.t …` — the alterTable shapes this catalog serves:
    *
    *  - SET/UNSET TBLPROPERTIES → property commits (pure log metadata)
    *  - RENAME COLUMN a TO b → [[Snapshots.renameColumn]] (metadata-only
    *    name-chain commit; history below keeps the old name, stats keys
    *    and the partition spec follow — the q171 semantics, now reachable
    *    from plain Spark SQL because the parser routes the native
    *    `ALTER TABLE … RENAME COLUMN` V2 command here)
    *  - DROP COLUMN a → [[Snapshots.dropColumn]] (metadata-only drop
    *    marker; bytes stay for time travel — the q192 semantics)
    *  - ADD COLUMN c T [DEFAULT lit] → [[Snapshots.addColumn]] (declared
    *    metadata-only add; reads fill null or the default until appends
    *    materialize it — the q284 semantics)
    *
    * Everything else (type changes, column positions) still refuses.
    * Mixed change sets containing anything unsupported refuse WHOLE,
    * before any member applies. Supported members are additionally
    * PRE-VALIDATED as a set against the current snapshot (existence,
    * collisions, struct-leaf paths, tombstone recycling — simulated in
    * application order: renames, drops, adds) so the common failure
    * classes also refuse before the first commit; only deep per-member
    * checks that need their own commit's view (default/constraint
    * expression references) can still fail mid-set, and those throw
    * naming the member. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange.{
      AddColumn, DeleteColumn, RemoveProperty, RenameColumn, SetProperty}
    val t = tablePath(ident)
    if (Snapshots.latestVersion(spark, t).isEmpty)
      throw new NoSuchTableException(ident)
    val sets = changes.collect { case s: SetProperty =>
      s.property() -> s.value() }
    val removes = changes.collect { case r: RemoveProperty => r.property() }
    // nested-field DDL (multi-part fieldNames) is leaf-path DDL — the
    // Snapshots API refuses it with the rename-the-struct cure; joining
    // with '.' surfaces that exact message instead of a generic one
    val renames = changes.collect { case r: RenameColumn =>
      r.fieldNames().mkString(".") -> r.newName() }
    val drops = changes.collect { case d: DeleteColumn =>
      d.fieldNames().mkString(".") }
    // ADD COLUMN → the metadata-only declared add; a DEFAULT literal
    // travels in the same commit (initial-default semantics). NOT NULL
    // is unsatisfiable for existing rows without a default and refused
    // like Delta refuses it; FIRST/AFTER positions are cosmetic-only
    // here and refused rather than silently ignored.
    val adds = changes.collect { case a: AddColumn =>
      if (a.position() != null) throw new UnsupportedOperationException(
        "ADD COLUMN … FIRST/AFTER: column positions are not supported")
      val default = Option(a.defaultValue()).map(_.getSql)
      if (!a.isNullable && default.isEmpty)
        throw new UnsupportedOperationException(
          "ADD COLUMN … NOT NULL without DEFAULT cannot be satisfied " +
            "for existing rows")
      (a.fieldNames().mkString("."), a.dataType().sql, default)
    }
    val known =
      sets.size + removes.size + renames.size + drops.size + adds.size
    if (known != changes.size || known == 0) throw readOnly
    // pre-validate the SET against the current snapshot before applying
    // any member — members apply as sequential commits, so a member that
    // would fail must refuse the whole statement BEFORE the first commit
    if (renames.nonEmpty || drops.nonEmpty || adds.nonEmpty) {
      val head = Snapshots.mainHeadVersion(spark, t)
        .flatMap(v => Snapshots.snapshot(spark, t, v)).get
      val live = scala.collection.mutable.LinkedHashSet(
        Snapshots.readLatest(spark, t).get.schema.fieldNames.toSeq: _*)
      val tombstoned =
        scala.collection.mutable.HashSet(head.renames.map(_._1): _*)
      def refuseLeaf(n: String, what: String): Unit = require(
        !n.contains('.'),
        s"$what of struct leaf path '$n' is not supported — operate on " +
          "the whole struct column; leaf names travel with their struct")
      renames.foreach { case (from, to) =>
        refuseLeaf(from, "rename"); refuseLeaf(to, "rename")
        require(live.contains(from), s"no current column named $from")
        require(!live.contains(to), s"column $to already exists")
        require(!tombstoned.contains(to),
          s"$to was renamed away earlier and cannot be recycled")
        live -= from; live += to; tombstoned += from
      }
      drops.foreach { n =>
        refuseLeaf(n, "drop")
        require(live.contains(n), s"no current column named $n")
        live -= n
      }
      adds.foreach { case (n, _, _) =>
        refuseLeaf(n, "add")
        require(!live.contains(n), s"column $n already exists")
        require(!tombstoned.contains(n),
          s"$n was renamed away earlier and cannot be recycled")
        live += n
      }
    }
    if (sets.nonEmpty) Snapshots.setTableProperties(spark, t, sets.toMap)
    if (removes.nonEmpty) Snapshots.unsetTableProperties(spark, t, removes)
    renames.foreach { case (from, to) =>
      Snapshots.renameColumn(spark, t, from, to) }
    drops.foreach(c => Snapshots.dropColumn(spark, t, c))
    adds.foreach { case (name, ddl, default) =>
      Snapshots.addColumn(spark, t, name, ddl, default) }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = throw readOnly

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw readOnly
}
