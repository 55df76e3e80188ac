package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.lake.{SnapshotCatalog, SnapshotMoRTable, SnapshotReadTable, Snapshots}

/** The SQL surface of the snapshot log beyond plain reads, injected via
  * [[GraftExtensions]]:
  *
  *  - [[SnapshotRelationRewrite]] serves merge-on-read / renamed /
  *    widened versions: the catalog hands out a no-capability
  *    [[SnapshotMoRTable]] marker and this rule replaces its relation
  *    during analysis with the era-aware [[Snapshots.readAt]] plan, so
  *    the optimizer sees real parquet leaves (pushdown, column pruning,
  *    broadcast tombstone anti-join) instead of an opaque connector.
  *  - [[SnapshotDmlRewrite]] routes `DELETE FROM` / `UPDATE` /
  *    `MERGE INTO` statements on snapshot-catalog tables to the log's
  *    merge-on-read DML ([[Snapshots.deleteWhere]]/[[Snapshots.updateWhere]]/
  *    [[Snapshots.merge]]) as eagerly-executed commands — the Delta
  *    analyzer-rule shape (DeltaAnalysis rewrites the same three nodes to
  *    RunnableCommands), completing the quartet's SQL half: every DML a
  *    DataFrame caller can commit, a SQL caller can too.
  *
  * Both run in the analyzer's resolution fixed-point; the relation
  * rewrite PROTECTS relations sitting under an unconverted DML node so
  * the DML rule never loses the catalog/identifier it needs.
  */
case class SnapshotRelationRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a relation that is a DML TARGET must stay a relation until
    // SnapshotDmlRewrite consumes the enclosing node (the command
    // carries only the table PATH, not the scan)
    val dmlTargets = plan.collect {
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
      // INSERT targets: the statement's table IS a child until
      // ResolveInsertInto converts it to AppendData/OverwriteByExpression
      // (whose table field is not a child) — keep it a relation meanwhile
      case i: InsertIntoStatement => i.table
    }.flatMap(_.collect { case r: DataSourceV2Relation => r }).toSet
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[SnapshotMoRTable] && !dmlTargets(r) =>
        val t = r.table.asInstanceOf[SnapshotMoRTable]
        val inner = GraftSqlBridge.analyzed(
          Snapshots.readAt(spark, t.path, t.snapVersion).getOrElse(
            throw new IllegalStateException(
              s"${t.name()} vanished between catalog resolution and rewrite")))
        val byName = inner.output.map(a => a.name -> a).toMap
        // re-anchor the inner plan's outputs onto the relation's exprIds
        // so references already resolved against the relation keep binding
        Project(r.output.map { a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        }, inner)
      // metadata tables (history/files/refs) lower to their driver-built
      // O(log) relation — a LocalRelation, never a data scan
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[graft.lake.SnapshotMetaTable] =>
        val t = r.table.asInstanceOf[graft.lake.SnapshotMetaTable]
        val inner = GraftSqlBridge.analyzed(t.kind match {
          case "history" => Snapshots.history(spark, t.path)
          case "refs" => Snapshots.refsMetadata(spark, t.path)
          case "detail" => Snapshots.detailMetadata(spark, t.path,
            t.snapVersion)
          case "partitions" => Snapshots.partitionsMetadata(spark, t.path,
            t.snapVersion)
          case "properties" => Snapshots.propertiesMetadata(spark, t.path,
            t.snapVersion)
          case "manifests" => Snapshots.manifestsMetadata(spark, t.path,
            t.snapVersion)
          case _ => Snapshots.filesMetadata(spark, t.path, t.snapVersion)
        })
        val byName = inner.output.map(a => a.name -> a).toMap
        Project(r.output.map { a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        }, inner)
    }
  }
}

/** Rewrites resolved DML statements over snapshot-catalog tables into
  * eagerly-executed commands against the log. Fires only once the
  * condition/assignments are resolved (the analyzer resolves them against
  * the relation's output in a prior fixed-point iteration); resolved
  * attribute references are then re-spoken BY NAME so the command can
  * re-resolve them against the fresh era-aware scan it drives. */
case class SnapshotDmlRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The log-table path behind a DML target, when (and only when) the
    * target resolves through a [[SnapshotCatalog]]. */
  private def targetPath(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      // data tables only — a DML aimed at a history/files METADATA
      // table must not resolve to a path (it would create a bogus
      // table under the data table's directory)
      case r: DataSourceV2Relation
          if r.catalog.exists(_.isInstanceOf[SnapshotCatalog]) &&
            r.identifier.isDefined &&
            (r.table.isInstanceOf[SnapshotReadTable] ||
              r.table.isInstanceOf[SnapshotMoRTable]) =>
        r.catalog.get.asInstanceOf[SnapshotCatalog]
          .tablePath(r.identifier.get)
    }

  /** Resolved references re-spoken by name: the command's runtime scan is
    * a fresh plan with fresh exprIds, so captured AttributeReferences
    * must not survive into it. */
  private def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** Recognize `col = lit` / `col IN (lits…)` / `col <=> lit` deletes —
    * the GDPR/CDC hot statement — so they route to the ZERO-SCAN
    * equality-delete commit ([[Snapshots.deleteByKeys]], O(keys) write,
    * no table read) instead of [[Snapshots.deleteWhere]]'s locate-scan.
    * Only NON-NULL literals of the column's own type qualify: a NULL
    * literal never matches under SQL `=`/`IN` but WOULD match the
    * equality delete's null-safe key join, and a coerced (Cast-wrapped)
    * column keeps the general path. Returns (column, type, external
    * values). */
  private def keyEqualityDelete(cond: Expression)
      : Option[(String, org.apache.spark.sql.types.DataType, Seq[Any])] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, In}
    // Type coercion shapes both sides before this rule sees the plan:
    // `int_col IN (1, 2)` can arrive as `CAST(int_col AS BIGINT) IN
    // (CAST(1 AS BIGINT), …)`. A Cast on the COLUMN side unwraps when
    // it is a lossless (injective) up-cast; the VALUE side accepts any
    // foldable non-null expression whose value ROUND-TRIPS through the
    // column's type (CAST(col AS W) = v  ⟺  col = down(v) exactly when
    // the up-cast is injective and down(v) maps back to v; a value that
    // does not round-trip keeps the general path).
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    def attrOf(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast => c.child match {
        case a: AttributeReference
            if Cast.canUpCast(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
      case _ => None
    }
    def keyVal(a: AttributeReference, e: Expression): Option[Any] =
      if (!e.foldable) None
      else try {
        val vW = e.eval()
        if (vW == null) None
        else {
          val down = Cast(Literal(vW, e.dataType), a.dataType).eval()
          val back = Cast(Literal(down, a.dataType), e.dataType).eval()
          if (down != null && back != null && back == vW)
            Some(CatalystTypeConverters.convertToScala(down, a.dataType))
          else None
        }
      } catch { case _: Exception => None }
    def one(x: Expression, y: Expression)
        : Option[(String, org.apache.spark.sql.types.DataType, Seq[Any])] =
      attrOf(x).flatMap(a =>
        keyVal(a, y).map(v => (a.name, a.dataType, Seq(v))))
    cond match {
      case EqualTo(x, y) => one(x, y).orElse(one(y, x))
      case EqualNullSafe(x, y) => one(x, y).orElse(one(y, x))
      case In(x, vs) if vs.nonEmpty =>
        attrOf(x).flatMap { a =>
          val vals = vs.map(keyVal(a, _))
          if (vals.forall(_.isDefined))
            Some((a.name, a.dataType, vals.map(_.get)))
          else None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case s @ ShowCreateTable(
          rt: org.apache.spark.sql.catalyst.analysis.ResolvedTable, _, _)
          if rt.catalog.isInstanceOf[SnapshotCatalog] &&
            (rt.table.isInstanceOf[SnapshotReadTable] ||
              rt.table.isInstanceOf[SnapshotMoRTable]) =>
        SnapshotShowCreateCommand(
          rt.catalog.asInstanceOf[SnapshotCatalog].tablePath(rt.identifier),
          s"${rt.catalog.name()}.${rt.identifier.name()}", s.output)
      case d @ DeleteFromTable(target, cond) if cond.resolved =>
        targetPath(target)
          .map(p => keyEqualityDelete(cond)
            .map(ke => SnapshotDeleteByKeysCommand(p, ke._1, ke._2,
              ke._3): LogicalPlan)
            .getOrElse(SnapshotDeleteCommand(p,
              GraftSqlBridge.column(byName(cond))): LogicalPlan))
          .getOrElse(d)
      case u @ UpdateTable(target, assignments, cond)
          if assignments.forall(_.resolved) && cond.forall(_.resolved) =>
        targetPath(target).map { p =>
          val sets = assignments.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case other => throw new UnsupportedOperationException(
                s"UPDATE on a snapshot table sets whole columns; got " +
                  s"${other.sql}")
            }
            name -> GraftSqlBridge.column(byName(a.value))
          }
          SnapshotUpdateCommand(p, GraftSqlBridge.column(byName(cond.getOrElse(
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))),
            sets): LogicalPlan
        }.getOrElse(u)
      case m: MergeIntoTable if m.childrenResolved &&
          m.mergeCondition.resolved &&
          (m.matchedActions ++ m.notMatchedActions).forall(actionResolved) =>
        targetPath(m.targetTable).map(p => convertMerge(m, p)).getOrElse(m)
      // INSERT INTO → append commit. The table field is NOT a child of
      // AppendData (V2WriteCommand.child = query), so the MoR relation
      // rewrite never touches it — no protection needed here.
      // `outputResolved` waits for ResolveOutputRelation to have ALIGNED
      // the query to the table schema (positional reorder + casts), so
      // the command's `query` always carries table-shaped rows
      case a @ AppendData(r: DataSourceV2Relation, query, _, _, _, _)
          if query.resolved && a.outputResolved =>
        targetPath(r).map(p => SnapshotInsertCommand(p, query,
          r.output.map(_.name), overwrite = false): LogicalPlan).getOrElse(a)
      // INSERT OVERWRITE TABLE → overwrite commit (literal-TRUE
      // deleteExpr, the unpartitioned static overwrite Spark plans);
      // INSERT INTO … REPLACE WHERE cond → ONE atomic replace-where
      // commit (tombstones for current matches + the staged insert —
      // Delta's replaceWhere; no reader sees the window half-swapped)
      case o @ OverwriteByExpression(r: DataSourceV2Relation, deleteExpr,
          query, _, _, _, _) if query.resolved && o.outputResolved =>
        targetPath(r).map { p =>
          val isTruncate = deleteExpr match {
            case org.apache.spark.sql.catalyst.expressions.Literal(true,
              org.apache.spark.sql.types.BooleanType) => true
            case _ => false
          }
          if (isTruncate)
            SnapshotInsertCommand(p, query, r.output.map(_.name),
              overwrite = true): LogicalPlan
          else {
            // re-parse by SQL text so the predicate re-resolves by NAME
            // against the era-aware live view inside the commit (the
            // relation's attribute ids mean nothing there) — with
            // QUALIFIERS STRIPPED first: `REPLACE WHERE t.col = …`
            // renders as `t.col`, which would fail to re-resolve against
            // the bare-named live view and the table-shaped insert
            // frame. Resolved refs keep just their own name; for
            // unresolved multi-part refs, keep the WHOLE path if it
            // already walks column+struct-fields in the table schema,
            // else strip to the longest proper suffix that does (a
            // name-set dropWhile would mis-handle an alias spelled like
            // a non-struct column, e.g. alias `o` with predicate
            // `o.o_x` on a table that also has a scalar column `o`).
            val bareSql = SnapshotDmlRewrite
              .stripPredicateQualifiers(r.output, deleteExpr).sql
            SnapshotReplaceWhereCommand(p, query, r.output.map(_.name),
              bareSql): LogicalPlan
          }
        }.getOrElse(o)
      // bare CREATE TABLE (schema, no data) → ONE schema-only commit:
      // every column lands as a declared add, per-column DEFAULTs in the
      // same commit, PARTITIONED BY persists — the table reads as empty
      // WITH its schema (r16; truncate taught zero-file versions to
      // serve a schema, so the log finally has schema-only commits)
      case ct @ org.apache.spark.sql.catalyst.plans.logical.CreateTable(
          org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            cat: SnapshotCatalog, ident), columns, partitioning,
          spec: TableSpec, ignoreIfExists) =>
        ctasShapeCheck(spec, "CREATE TABLE", allowProperties = true)
        // native generated/identity column syntax (r17) maps onto the
        // q314 write-side machinery: `GENERATED ALWAYS AS (expr)`
        // becomes the graft.generated.* property (write-compute +
        // refuse-liars) plus the expression as the column's read-fill
        // default; `GENERATED ALWAYS AS IDENTITY` becomes the
        // graft.identity.* high-water property (two-phase contiguous
        // allocation). BY DEFAULT identity and non-unit start/step are
        // refused — the engine only speaks the strict ALWAYS 1,2,3… form.
        val genCols = scala.collection.mutable
          .ArrayBuffer.empty[(String, String)]
        val identCols = scala.collection.mutable.ArrayBuffer.empty[String]
        val cols = columns.map { c =>
          c.identityColumnSpec.foreach { is =>
            if (is.getStart != 1L || is.getStep != 1L)
              throw new UnsupportedOperationException(
                "identity columns allocate 1,2,3,…: START WITH / " +
                  "INCREMENT BY other than 1 are not supported")
            if (is.isAllowExplicitInsert)
              throw new UnsupportedOperationException(
                "GENERATED BY DEFAULT AS IDENTITY is not supported — " +
                  "identity values are always engine-allocated (ALWAYS)")
            if (c.dataType != org.apache.spark.sql.types.LongType)
              throw new UnsupportedOperationException(
                s"identity column ${c.name} must be BIGINT")
            identCols += c.name
          }
          c.generationExpression.foreach(g => genCols += c.name -> g)
          if (!c.nullable && c.defaultValue.isEmpty &&
              c.identityColumnSpec.isEmpty &&
              c.generationExpression.isEmpty)
            throw new UnsupportedOperationException(
              s"column ${c.name} NOT NULL without DEFAULT: the log " +
                "cannot enforce it on appends — declare nullable and " +
                "add a CHECK constraint")
          (c.name, c.dataType.sql,
            c.generationExpression.orElse(
              c.defaultValue.map(_.originalSQL)))
        }
        // constraints and generation-form defaults round-trip as
        // 'graft.constraints.<n>' / 'graft.defaults.<col>'
        // TBLPROPERTIES (the Delta shape) — lifted back into REAL
        // CHECK constraints and column defaults here, so SHOW CREATE
        // TABLE's emitted DDL re-creates the whole declared surface
        // in one commit
        val conProps = spec.properties.filter(
          _._1.startsWith(SnapshotDmlRewrite.ConstraintPropPrefix))
        val defProps = spec.properties.filter(
          _._1.startsWith(SnapshotDmlRewrite.DefaultPropPrefix))
        val plainProps =
          (spec.properties -- conProps.keys -- defProps.keys).map {
            case (k, v)
                if k.startsWith(SnapshotDmlRewrite.ReservedPropPrefix) =>
              k.stripPrefix(SnapshotDmlRewrite.ReservedPropPrefix) -> v
            case kv => kv
          }
        val unknownDef = defProps.keys
          .map(_.stripPrefix(SnapshotDmlRewrite.DefaultPropPrefix))
          .filterNot(cols.map(_._1).contains)
        if (unknownDef.nonEmpty) throw new IllegalArgumentException(
          s"graft.defaults.* for undeclared column(s): " +
            unknownDef.mkString(", "))
        val liftedCols = cols.map { case (n, t, d) =>
          (n, t,
            defProps.get(SnapshotDmlRewrite.DefaultPropPrefix + n)
              .orElse(d))
        }
        SnapshotCreateTableCommand(cat.tablePath(ident), ident.name(),
          liftedCols, ignoreIfExists,
          transformSpec(partitioning, "CREATE TABLE"),
          plainProps ++
            genCols.map { case (n, g) =>
              (SnapshotDmlRewrite.GeneratedPropPrefix + n) -> g } ++
            identCols.map(n =>
              (SnapshotDmlRewrite.IdentityPropPrefix + n) -> "0"),
          conProps.toSeq.map { case (k, v) =>
            k.stripPrefix(SnapshotDmlRewrite.ConstraintPropPrefix) -> v
          })
      // CREATE TABLE … AS SELECT → first append commit of a NEW table
      // (data defines the schema, as for the DataFrame path's first
      // append; the bare form above covers the schema-first shape)
      case c @ CreateTableAsSelect(
          org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            cat: SnapshotCatalog, ident), partitioning, query,
          spec: TableSpec, _, ignoreIfExists, _) if query.resolved =>
        ctasShapeCheck(spec, "CREATE TABLE ... AS SELECT")
        SnapshotCtasCommand(cat.tablePath(ident), ident.name(), query,
          ignoreIfExists = ignoreIfExists, replace = false, orCreate = false,
          partitionSpec = transformSpec(partitioning,
            "CREATE TABLE ... AS SELECT"))
      // [CREATE OR] REPLACE TABLE … AS SELECT → overwrite commit when the
      // table exists (history stays time-travelable), create otherwise
      case r @ ReplaceTableAsSelect(
          org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            cat: SnapshotCatalog, ident), partitioning, query,
          spec: TableSpec, _, orCreate, _) if query.resolved =>
        ctasShapeCheck(spec, "REPLACE TABLE ... AS SELECT")
        SnapshotCtasCommand(cat.tablePath(ident), ident.name(), query,
          ignoreIfExists = false, replace = true, orCreate = orCreate,
          partitionSpec = transformSpec(partitioning,
            "REPLACE TABLE ... AS SELECT"))
    }

  /** `PARTITIONED BY` transforms → the log's transform-encoded spec
    * strings (HIDDEN PARTITIONING — [[Snapshots.appendPartitioned]]):
    * `bucket(n, col)`, `days(col)` and bare identity columns are the
    * supported transform vocabulary; anything else is refused with the
    * reason rather than silently dropped. */
  private def transformSpec(
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      what: String): Seq[String] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"$what on a snapshot catalog: $why")
    partitioning.map { t =>
      val refs = t.references()
      if (refs.length != 1 || refs(0).fieldNames().length != 1) unsupported(
        s"PARTITIONED BY ${t.describe()} must reference exactly one " +
          "top-level column")
      val c = refs(0).fieldNames()(0)
      t.name() match {
        case "identity" => c
        case "days" => s"days($c)"
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: V2Literal[_] if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(unsupported(
            s"bucket transform ${t.describe()} carries no bucket count"))
          s"bucket($n,$c)"
        case other => unsupported(
          s"PARTITIONED BY transform '$other' (supported: identity " +
            "columns, bucket(n, col), days(col))")
      }
    }
  }

  /** Snapshot tables are flat file-list tables rooted under the catalog
    * root — shapes the log cannot honor are refused with the reason
    * rather than silently dropped. */
  private def ctasShapeCheck(spec: TableSpec, what: String,
      allowProperties: Boolean = false): Unit = {
    def unsupported(why: String) = throw new UnsupportedOperationException(
      s"$what on a snapshot catalog: $why")
    if (spec.location.isDefined) unsupported(
      "LOCATION is not supported (the catalog root determines the path)")
    if (spec.properties.nonEmpty && !allowProperties) unsupported(
      "TBLPROPERTIES are not supported here")
    if (spec.options.nonEmpty) unsupported("OPTIONS are not supported")
    if (spec.provider.exists(p => !p.equalsIgnoreCase("parquet")))
      unsupported(s"USING ${spec.provider.get} — snapshot tables are parquet")
  }

  private def actionResolved(a: MergeAction): Boolean = a match {
    case _: UpdateStarAction | _: InsertStarAction => true
    case other => other.resolved
  }

  /** MERGE INTO conversion. The star shape (`WHEN MATCHED THEN UPDATE
    * SET *` / `WHEN NOT MATCHED THEN INSERT *`, both unconditional)
    * takes the cheap latest-wins path ([[SnapshotMergeCommand]] →
    * [[Snapshots.merge]], which never inner-joins). Everything else —
    * conditional clauses, multiple clauses, `WHEN MATCHED … DELETE`,
    * non-identity assignments, `WHEN NOT MATCHED BY SOURCE` — routes
    * to the full multi-clause semantics ([[SnapshotMergeWhenCommand]]
    * → [[Snapshots.mergeWhen]]). Only non-equi merge conditions are
    * refused, with the precise reason. */
  private def convertMerge(m: MergeIntoTable, path: String): LogicalPlan = {
    def unsupported(why: String) = throw new UnsupportedOperationException(
      s"MERGE INTO on a snapshot table: $why")
    val targetOut = m.targetTable.output
    val sourceOut = m.sourceTable.output
    val targetIds = targetOut.map(_.exprId).toSet
    val sourceIds = sourceOut.map(_.exprId).toSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetIds(a.exprId) && sourceIds(b.exprId) && a.name == b.name =>
        a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if sourceIds(a.exprId) && targetIds(b.exprId) && a.name == b.name =>
        a.name
      case other => unsupported(
        s"merge condition must be equalities of same-named target/source " +
          s"columns, got ${other.sql}")
    }
    // ---- fast path: unconditional star upsert → latest-wins merge
    def identityAssigns(assigns: Seq[Assignment]): Boolean =
      assigns.forall { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name == v.name && targetIds(k.exprId) && sourceIds(v.exprId)
          case _ => false
        }
      }
    val starUpdate = m.matchedActions match {
      case Nil => Some(false)
      case Seq(UpdateStarAction(None)) => Some(true)
      case Seq(UpdateAction(None, assigns, _))
          if identityAssigns(assigns) => Some(true)
      case _ => None
    }
    val starInsert = m.notMatchedActions match {
      case Nil => Some(false)
      case Seq(InsertStarAction(None)) => Some(true)
      case Seq(InsertAction(None, assigns))
          if identityAssigns(assigns) => Some(true)
      case _ => None
    }
    val sourceCoversTarget = targetOut.map(_.name)
      .forall(sourceOut.map(_.name).toSet)
    (starUpdate, starInsert) match {
      case (Some(u), Some(i)) if (u || i) && sourceCoversTarget &&
          m.notMatchedBySourceActions.isEmpty =>
        return SnapshotMergeCommand(path, m.sourceTable,
          targetOut.map(_.name), keys.distinct,
          updateOnly = !i, insertOnly = !u)
      case _ => ()
    }

    // ---- general path: conditional / multi-clause / DELETE / exprs.
    // Resolved references re-spoken by name for the command's runtime
    // plan — SOURCE columns under the `_src_` prefix [[Snapshots
    // .mergeWhen]] serves the joined row's source side as.
    def srcAware(e: Expression) = GraftSqlBridge.column(e.transform {
      case a: AttributeReference if sourceIds(a.exprId) =>
        UnresolvedAttribute(Seq("_src_" + a.name))
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
    def assignMap(assigns: Seq[Assignment],
        what: String): Map[String, org.apache.spark.sql.Column] =
      assigns.map { a =>
        val name = a.key match {
          case k: AttributeReference => k.name
          case other => unsupported(
            s"$what assigns whole columns; got ${other.sql}")
        }
        name -> srcAware(a.value)
      }.toMap
    val matched: Seq[Snapshots.MergeClause] = m.matchedActions.map {
      case UpdateStarAction(cond) =>
        Snapshots.WhenMatchedUpdate(cond.map(srcAware))
      case UpdateAction(cond, assigns, _) =>
        Snapshots.WhenMatchedUpdate(cond.map(srcAware),
          assignMap(assigns, "WHEN MATCHED UPDATE"))
      case DeleteAction(cond) =>
        Snapshots.WhenMatchedDelete(cond.map(srcAware))
      case other => unsupported(s"unsupported matched action $other")
    }
    val notMatched: Seq[Snapshots.MergeClause] = m.notMatchedActions.map {
      case InsertStarAction(cond) =>
        Snapshots.WhenNotMatchedInsert(cond.map(srcAware))
      case InsertAction(cond, assigns) =>
        Snapshots.WhenNotMatchedInsert(cond.map(srcAware),
          assignMap(assigns, "WHEN NOT MATCHED INSERT"))
      case other => unsupported(s"unsupported not-matched action $other")
    }
    // target-only by construction: Spark's analyzer rejects source
    // references inside NOT MATCHED BY SOURCE conditions/assignments,
    // so srcAware's source branch never fires here
    val bySource: Seq[Snapshots.MergeClause] =
      m.notMatchedBySourceActions.map {
        case UpdateAction(cond, assigns, _) =>
          Snapshots.WhenNotMatchedBySourceUpdate(cond.map(srcAware),
            assignMap(assigns, "WHEN NOT MATCHED BY SOURCE UPDATE"))
        case DeleteAction(cond) =>
          Snapshots.WhenNotMatchedBySourceDelete(cond.map(srcAware))
        case other =>
          unsupported(s"unsupported not-matched-by-source action $other")
      }
    if (matched.isEmpty && notMatched.isEmpty && bySource.isEmpty)
      unsupported("at least one WHEN clause is required")
    SnapshotMergeWhenCommand(path, m.sourceTable, keys.distinct,
      matched ++ notMatched ++ bySource)
  }
}

object SnapshotDmlRewrite {

  /** CHECK constraints round-trip through SHOW CREATE TABLE as
    * TBLPROPERTIES under this prefix (the Delta `delta.constraints.*`
    * shape — CREATE TABLE syntax has no CHECK clause); the bare
    * CREATE TABLE conversion lifts them back into real constraints. */
  val ConstraintPropPrefix = "graft.constraints."

  /** Mirrors of the Snapshots-side declaration keys, re-exported here
    * so the CREATE conversion can speak them without reaching into
    * similarity/lake internals. */
  val GeneratedPropPrefix: String = Snapshots.GeneratedPropPrefix
  val IdentityPropPrefix: String = Snapshots.IdentityPropPrefix

  /** Cross-column (generation-form) DEFAULTs round-trip as properties
    * too: Spark's `DEFAULT` clause accepts only CONSTANT expressions
    * (ResolveDefaultColumns refuses column references), so a default
    * that reads the row's other columns must ride TBLPROPERTIES and be
    * lifted back at CREATE. Constant defaults keep the native clause. */
  val DefaultPropPrefix = "graft.defaults."

  /** Keys Spark's CREATE TABLE grammar RESERVES (it refuses them in
    * TBLPROPERTIES) ride under this prefix and are lifted back to
    * their bare names at CREATE — the Scala property API accepts any
    * key, so emitted DDL must survive e.g. a table that set 'owner'. */
  val ReservedPropPrefix = "graft.props."
  private val SparkReservedProps =
    Set("owner", "comment", "location", "provider", "external")

  private def q(s: String): String = s.replace("'", "''")

  /** Round-trippable DDL from the log alone: declared live schema with
    * per-column DEFAULTs, the persisted PARTITIONED BY transforms, and
    * TBLPROPERTIES carrying both the table's own properties and its
    * CHECK constraints under [[ConstraintPropPrefix]]. Executing the
    * emitted statement (under a new name) re-creates an equivalent
    * table in ONE schema-only commit. O(log) driver-side work. */
  def showCreateDdl(spark: SparkSession, path: String,
      fullName: String): String = {
    val v = Snapshots.mainHeadVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no versions of $path"))
    val s = Snapshots.snapshot(spark, path, v).get
    val schema = Snapshots.readAt(spark, path, v).get.schema
    val defaults = s.defaults.toMap
    def constant(e: String): Boolean =
      spark.sessionState.sqlParser.parseExpression(e).collectFirst {
        case _: UnresolvedAttribute => ()
      }.isEmpty
    val colLines = schema.fields.map { f =>
      // no wrapping parens: DEFAULT's originalSQL round-trips verbatim
      // into the re-created table's default ledger
      val d = defaults.get(f.name).filter(constant)
        .map(e => s" DEFAULT $e").getOrElse("")
      s"  `${f.name}` ${f.dataType.sql}$d"
    }
    val partClause =
      if (s.partitionSpec.isEmpty) ""
      else s.partitionSpec.mkString("\nPARTITIONED BY (", ", ", ")")
    val props = s.properties.toSeq.map { case (k, vv) =>
        (if (SparkReservedProps(k)) ReservedPropPrefix + k else k) -> vv
      } ++
      s.constraints.map { case (n, c) => (ConstraintPropPrefix + n) -> c } ++
      defaults.toSeq.collect { case (n, e) if !constant(e) =>
        (DefaultPropPrefix + n) -> e }
    val propClause =
      if (props.isEmpty) ""
      else props.sortBy(_._1)
        .map { case (k, vv) => s"  '${q(k)}' = '${q(vv)}'" }
        .mkString("\nTBLPROPERTIES (\n", ",\n", "\n)")
    s"CREATE TABLE $fullName (\n${colLines.mkString(",\n")}\n)\n" +
      s"USING parquet$partClause$propClause"
  }

  /** True when `parts` walks the target schema as a column name
    * followed by a valid struct-field path — the test for "this
    * multi-part reference is the column itself, not alias-qualified". */
  private def walksSchema(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      parts: Seq[String]): Boolean =
    output.find(_.name.equalsIgnoreCase(parts.head)).exists { a =>
      parts.tail.foldLeft(Option(a.dataType)) {
        case (Some(s: org.apache.spark.sql.types.StructType), f) =>
          s.fields.find(_.name.equalsIgnoreCase(f)).map(_.dataType)
        case _ => None
      }.isDefined
    }

  /** Re-speak a commit-side predicate so it re-resolves by NAME against
    * the bare-named live view: resolved refs keep just their own name;
    * an unresolved multi-part ref keeps its WHOLE path when it already
    * walks column+struct-fields of the target, else strips to the
    * longest proper suffix that does. (A name-SET dropWhile would
    * mis-handle an alias spelled like a non-struct column — alias `o`,
    * predicate `o.o_x`, scalar column `o`: nothing would strip and
    * re-resolution would fail even though `o_x` is the column meant.)
    * A ref no suffix of which resolves is left untouched — the commit
    * fails loudly rather than guessing. */
  private[plans] def stripPredicateQualifiers(
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    pred.transform {
      case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
      case u: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute if u.nameParts.length > 1 =>
        if (walksSchema(output, u.nameParts)) u
        else (1 until u.nameParts.length)
          .find(i => walksSchema(output, u.nameParts.drop(i)))
          .map(i => org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(u.nameParts.drop(i)))
          .getOrElse(u)
    }
}

/** Answers bare `count(*)` / `min` / `max` over a snapshot-catalog
  * table from LOG METADATA instead of a table scan (the Delta
  * optimized-metadata-query shape): a groupless Aggregate whose every
  * output is an unfiltered `count(1)`/`count(*)`, a DOUBLE column's
  * `min`/`max` with manifest stats covering every file (exactly the
  * per-file extremes collectStats records), or a literal, over a
  * [[SnapshotReadTable]] relation collapses to a [[LocalRelation]]
  * carrying the log's answer.
  * At 100 TB this turns the most common sanity query from a
  * million-file scan into O(log objects). Declines — leaving the scan
  * plan untouched — for filtered/grouped/column counts, versions with
  * positional deletes (live ≠ file counts; those versions are served as
  * [[SnapshotMoRTable]] and lowered at analysis anyway), and
  * pre-rowcount manifests. Runs as an operator-optimization rule, BEFORE
  * V2 scan planning, so the relation identity is still visible. */
case class SnapshotMetadataCount(spark: SparkSession)
    extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}

  /** What a select-list expression needs from the log, when this rule
    * can answer it without a scan: the version's row count, a
    * column's stats range (min/max — DOUBLE natively; DATE (stats ARE
    * epoch days, an exact int), and INTEGRAL columns whose bounds are
    * provably exact in double space (|v| well under 2^53) convert
    * back losslessly; strings never answer — their stats are prefix
    * RANKS, sound for pruning but not values), a literal riding
    * along, or nothing it can serve (None → the scan plan stands). */
  private sealed trait MetaAnswer
  private case object NeedCount extends MetaAnswer
  private case class NeedMin(column: String,
      dt: org.apache.spark.sql.types.DataType) extends MetaAnswer
  private case class NeedMax(column: String,
      dt: org.apache.spark.sql.types.DataType) extends MetaAnswer
  private case class Const(value: Any) extends MetaAnswer

  private def rangeAnswerable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, TimestampType}
    dt == DoubleType || dt == DateType || dt == LongType ||
      dt == IntegerType || dt == TimestampType
  }

  /** A stats-space double back in the column's own type — None when
    * the round trip could have lost exactness (a LONG beyond double's
    * integer range, a timestamp so far out that double seconds can't
    * resolve a microsecond). Timestamp stats are epoch seconds
    * rounded to the nearest double: for |sec| < 4e9 (year ~2096) that
    * rounding error is under 0.07 µs, so `rint(sec·1e6)` recovers the
    * original micros EXACTLY — beyond it, decline. */
  private def fromStat(d: Double,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, TimestampType}
    dt match {
      case DoubleType => Some(d)
      case DateType => Some(d.toInt)
      case IntegerType => Some(d.toInt)
      case LongType if d == scala.math.rint(d) && d.abs < (1L << 50)
        .toDouble => Some(d.toLong)
      case TimestampType if d.abs < 4e9 =>
        Some(scala.math.rint(d * 1e6).toLong)
      case _ => None
    }
  }

  private def answerable(e: NamedExpression): Option[MetaAnswer] = e match {
    case Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, None,
        _), _) if l.value != null => Some(NeedCount)
    case Alias(AggregateExpression(Min(a: AttributeReference), _, false,
        None, _), _) if rangeAnswerable(a.dataType) =>
      Some(NeedMin(a.name, a.dataType))
    case Alias(AggregateExpression(Max(a: AttributeReference), _, false,
        None, _), _) if rangeAnswerable(a.dataType) =>
      Some(NeedMax(a.name, a.dataType))
    case Alias(l: Literal, _) => Some(Const(l.value))
    case _ => None
  }

  private def snapshotIdentity(plan: LogicalPlan): Option[(String, Int)] =
    plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotReadTable => Some((t.path, t.snapVersion))
        case _ => None
      }
      // column pruning may have inserted a Project; a projection of BARE
      // attributes keeps names/rows intact (but NEVER skip a Filter, and
      // never a Project that aliases — a renamed column would misbind
      // the stats lookup)
      case Project(ps, r: DataSourceV2Relation)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        snapshotIdentity(r)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      // a groupless Aggregate emits exactly one row whatever the data,
      // so any all-(count|min|max|literal) select list is answerable
      case agg @ Aggregate(Nil, exprs, child, _)
          if exprs.nonEmpty && exprs.forall(answerable(_).isDefined) =>
        snapshotIdentity(child).flatMap { case (path, v) =>
          val needs = exprs.map(e => answerable(e).get)
          val count: Option[Long] =
            if (needs.contains(NeedCount)) Snapshots.rowCountAt(spark, path, v)
            else Some(0L)
          val rangeCols = needs.collect {
            case NeedMin(c, _) => c
            case NeedMax(c, _) => c
          }.distinct
          val ranges = rangeCols.map(c =>
            c -> Snapshots.statsRangeAt(spark, path, v, c)).toMap
          // min/max of ZERO rows is null, not the (absent) stats range —
          // only answer when the version provably has rows
          val nonEmpty = Snapshots.rowCountAt(spark, path, v).exists(_ > 0)
          val answers: Seq[Option[Any]] = needs.map {
            case NeedCount => count
            case NeedMin(c, dt) =>
              ranges(c).flatMap(r => fromStat(r._1, dt))
            case NeedMax(c, dt) =>
              ranges(c).flatMap(r => fromStat(r._2, dt))
            case Const(value) => Some(value)
          }
          if (count.isEmpty || answers.exists(_.isEmpty) ||
              (rangeCols.nonEmpty && !nonEmpty)) None
          else Some(LocalRelation(
            agg.output.map(_.asInstanceOf[AttributeReference]),
            Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
              answers.map(_.get)))))
        }.getOrElse(agg)
    }
}

/** LOG-STATS FILE PRUNING for snapshot-catalog SQL scans (the
  * Delta/Iceberg data-skipping half the SQL surface was missing: the
  * catalog resolves a version to its FULL file list, so without this a
  * `WHERE price > x` read opens every file even when manifest stats
  * could skip almost all of them — at 100 TB the difference between one
  * KB-sized log read and 100k object-store opens). A Filter directly
  * over a [[SnapshotReadTable]] relation has its top-level conjuncts
  * mined for per-DOUBLE-column intervals (`>`, `>=`, `<`, `<=`, `=`
  * against literals, either side); files whose recorded [min,max] can't
  * intersect are dropped and the relation's inner ParquetTable is
  * rebuilt over the survivors — the FULL predicate stays as the
  * residual, so results equal the unpruned scan regardless of
  * clustering (files without stats for a column always survive:
  * unknown never prunes). Runs as an operator-optimization rule; a
  * fixed point is reached when re-pruning removes nothing. */
case class SnapshotScanPruning(spark: SparkSession)
    extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{EqualTo => EQ, GreaterThan => GT, GreaterThanOrEqual => GE, LessThan => LT, LessThanOrEqual => LE, Literal}

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A literal's value in the manifest's double stat space — the same
    * unit conversions collectStats applied at write time (DATE days,
    * TIMESTAMP seconds, STRING prefix rank). */
  private def litToDouble(value: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Double] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    value match {
      case d: java.lang.Double => Some(d)
      case i: java.lang.Integer if dt == DateType => Some(i.toDouble)
      case lg: java.lang.Long if dt == TimestampType =>
        Some(lg.toDouble / 1e6)
      case lg: java.lang.Long if dt == LongType => Some(lg.toDouble)
      case i: java.lang.Integer if dt == IntegerType => Some(i.toDouble)
      case s if dt == StringType && s != null =>
        Some(Snapshots.stringRank(s.toString))
      case _ => None
    }
  }

  /** The manifest stats-key NAME an expression prunes under: a plain
    * column reference, or a struct LEAF reached by a GetStructField
    * chain — spoken as the dot path (`props.country`) collectStats
    * records leaf stats with (the Iceberg leaf-path norm). */
  private def leafName(x: Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.GetStructField
    x match {
      case ar: AttributeReference => Some(ar.name)
      case g: GetStructField =>
        leafName(g.child).map(p => s"$p.${g.extractFieldName}")
      case _ => None
    }
  }

  /** [[leafName]] restricted to the types whose stats translate to the
    * manifest's double space. */
  private def attrOf(x: Expression): Option[(String,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, StringType, TimestampType}
    if (x.dataType == DoubleType || x.dataType == DateType ||
      x.dataType == TimestampType || x.dataType == LongType ||
      x.dataType == IntegerType || x.dataType == StringType)
      leafName(x).map(_ -> x.dataType)
    else None
  }

  /** (column, dataType, lo, hi) per extractable conjunct; closed
    * intervals are conservative for the strict forms, which is all
    * pruning needs. The dataType rides along so TRANSFORM stats
    * (`days(c)` — hidden partitioning) know the native unit to convert
    * from. */
  private def interval(e: Expression)
      : Option[(String, org.apache.spark.sql.types.DataType, Double, Double)] = {
    // DATE literals carry epoch DAYS as an Int and TIMESTAMP literals
    // epoch MICROS as a Long — the manifest records DateType stats in
    // days and TimestampType stats in seconds ([[graft.lake.Snapshots]]
    // collectStats), so each literal converts to its column's unit and
    // time predicates prune through the same double intervals. Type
    // agreement is guaranteed post-analysis (a comparison's sides share
    // a type — a DATE literal against a timestamp column arrives here
    // already constant-folded to a timestamp literal).
    import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, StringType, TimestampType}
    // INTEGRAL columns (join/point-lookup keys) prune through the same
    // double intervals; stats recorded for them are exact for |v|<2^53,
    // far past any realistic key domain. STRING literals prune through
    // the order-preserving prefix rank ([[graft.lake.Snapshots
    // .stringRank]] — the exact expression collectStats recorded, and
    // MONOTONE, so every comparison form stays a sound closed
    // interval: `lang = 'en'`, `status >= 'P'` both skip files).
    def dbl(l: Literal): Option[Double] = litToDouble(l.value, l.dataType)
    def a(x: Expression): Option[(String,
        org.apache.spark.sql.types.DataType)] = attrOf(x)
    e match {
      case GT(x, l: Literal) => for (c <- a(x); v <- dbl(l))
        yield (c._1, c._2, v, Double.PositiveInfinity)
      case GE(x, l: Literal) => for (c <- a(x); v <- dbl(l))
        yield (c._1, c._2, v, Double.PositiveInfinity)
      case LT(x, l: Literal) => for (c <- a(x); v <- dbl(l))
        yield (c._1, c._2, Double.NegativeInfinity, v)
      case LE(x, l: Literal) => for (c <- a(x); v <- dbl(l))
        yield (c._1, c._2, Double.NegativeInfinity, v)
      case EQ(x, l: Literal) => for (c <- a(x); v <- dbl(l))
        yield (c._1, c._2, v, v)
      case GT(l: Literal, x) => interval(LT(x, l))
      case GE(l: Literal, x) => interval(LE(x, l))
      case LT(l: Literal, x) => interval(GT(x, l))
      case LE(l: Literal, x) => interval(GE(x, l))
      case EQ(l: Literal, x) => interval(EQ(x, l))
      case _ => None
    }
  }

  /** The pruned replacement for `r` under filter `cond`, or None when
    * nothing can be dropped (fixed point / no extractable bounds). */
  private def prunedRelation(cond: Expression,
      r: DataSourceV2Relation): Option[LogicalPlan] = {
    val t = r.table match {
      case srt: SnapshotReadTable => srt
      case _ => return None
    }
    val ivs = conjuncts(cond).flatMap(interval(_))
    val bounds = ivs.groupBy(_._1).map { case (c, vs) =>
      c -> (vs.head._2, vs.map(_._3).max, vs.map(_._4).min)
    }
    // equality conjuncts additionally prune through BUCKET transform
    // stats (hidden partitioning): the literal's bucket id is computed
    // with the exact writer expression, driver-side
    import org.apache.spark.sql.catalyst.expressions.{EqualTo => EQC}
    val eqLits: Map[String, Literal] = conjuncts(cond).flatMap {
      case EQC(x, l: Literal) => leafName(x).map(_ -> l)
      case EQC(l: Literal, x) => leafName(x).map(_ -> l)
      case _ => None
    }.toMap
    // IN-lists prune as a UNION of point intervals — a file survives
    // only if SOME member's stat point lands inside its bounds (the
    // min..max fold would keep everything between the extremes). All
    // members must translate or the conjunct is skipped whole.
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, IsNotNull, IsNull, Literal => Lit}
    val inChecks: Seq[(String, Seq[Double])] = conjuncts(cond).flatMap {
      case In(x, lits) => for {
        ar <- attrOf(x)
        if lits.forall(_.isInstanceOf[Lit])
        pts <- Some(lits.map { case l: Lit => litToDouble(l.value, l.dataType) })
        if pts.forall(_.isDefined)
      } yield ar._1 -> pts.map(_.get)
      case InSet(x, hset) => for {
        ar <- attrOf(x)
        pts <- Some(hset.toSeq.map(litToDouble(_, ar._2)))
        if pts.forall(_.isDefined)
      } yield ar._1 -> pts.map(_.get)
      case _ => None
    }
    // OR-trees prune as a DISJUNCTION of interval conjunctions: the
    // file survives the conjunct iff SOME disjunct's intervals all
    // intersect its stats. Every disjunct must translate completely
    // (an untranslatable one is potentially always-true, so the whole
    // conjunct is skipped — sound). Disjuncts may be conjunctions
    // themselves and may speak DIFFERENT columns: `price < lo OR
    // price > hi`, `(d >= a AND d < b) OR status = 'X'` both prune.
    import org.apache.spark.sql.catalyst.expressions.Or
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }
    val orChecks: Seq[Seq[Seq[(String,
        org.apache.spark.sql.types.DataType, Double, Double)]]] =
      conjuncts(cond).flatMap {
        case or @ Or(_, _) =>
          val perDisjunct = disjuncts(or).map(d =>
            conjuncts(d).flatMap(interval(_)))
          if (perDisjunct.forall(_.nonEmpty)) Some(perDisjunct) else None
        case _ => None
      }
    // NULL predicates prune through the manifest's per-file null
    // counts: IS NULL drops files recorded null-free; IS NOT NULL
    // (which the optimizer injects under every filter) drops files
    // recorded ALL-null. Both only fire when the counts are known.
    val nullChecks: Seq[(String, Boolean)] = conjuncts(cond).flatMap {
      case IsNull(x) => leafName(x).map(_ -> true)
      case IsNotNull(x) => leafName(x).map(_ -> false)
      case _ => None
    }
    if (bounds.isEmpty && eqLits.isEmpty && inChecks.isEmpty &&
      nullChecks.isEmpty && orChecks.isEmpty) return None
    Snapshots.snapshot(spark, t.path, t.snapVersion).flatMap { s =>
      val current = t.prunedFiles.getOrElse(s.files)
      // all transform-encoded stats names present anywhere in this
      // snapshot, keyed by source column (the log IS the partition spec)
      val statNames = s.stats.valuesIterator.flatMap(_.keysIterator).toSet
      val bucketChecks: Seq[(String, Double)] = statNames.toSeq.collect {
        case sp @ Snapshots.BucketSpec(n, c) if eqLits.contains(c) =>
          sp -> Snapshots.bucketValueOfExpr(n.toInt, eqLits(c))
      }
      // `days(c)` stats convert the interval from the column's native
      // unit (DATE is already days; timestamp seconds floor to days —
      // floor is monotone, so the converted closed interval stays
      // conservative; ±Infinity floors to itself)
      def toDays(dt: org.apache.spark.sql.types.DataType, v: Double) =
        if (dt == org.apache.spark.sql.types.DateType) v
        else math.floor(v / 86400d)
      def ok(file: String, statName: String, lo: Double, hi: Double) =
        s.stats.get(file).flatMap(_.get(statName)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true // unknown never prunes
        }
      def nullsOf(file: String, c: String): Option[Double] =
        s.stats.get(file).flatMap(_.get(s"nulls($c)")).map(_._1)
      // BLOOM point-lookup pruning (the q175 sidecar, now consulted by
      // SQL scans): an equality literal on a bloom-carrying column
      // drops every file whose filter says the key is definitely
      // absent. Blooms hash the LONG cast of the key, so only integral
      // literals participate; a false positive keeps a file (never
      // wrong, just unpruned), absence of a filter never prunes.
      val bloomKeyChecks: Seq[(String, Long)] = eqLits.toSeq.flatMap {
        case (c, l) => l.value match {
          case i: java.lang.Integer => Some(c -> i.longValue())
          case lg: java.lang.Long => Some(c -> lg.longValue())
          case _ => None
        }
      }
      // filters deserialize ONCE per (file, column) per JVM — the
      // shared-bit-array cache in Snapshots, not a fresh ~15 KB copy
      // per (file, key) per query
      def bloomOk(file: String, c: String, key: Long): Boolean =
        s.blooms.get(file).flatMap(_.get(c)) match {
          case Some(bytes) =>
            Snapshots.deserializedBloom(t.path, file, c, bytes)
              .mightContainLong(key)
          case None => true
        }
      val kept = current.filter { file =>
        bounds.forall { case (c, (dt, lo, hi)) =>
          ok(file, c, lo, hi) &&
            ok(file, s"days($c)", toDays(dt, lo), toDays(dt, hi))
        } && bucketChecks.forall { case (sp, b) => ok(file, sp, b, b) } &&
          inChecks.forall { case (c, pts) =>
            s.stats.get(file).flatMap(_.get(c)) match {
              case Some((mn, mx)) => pts.exists(p => p >= mn && p <= mx)
              case None => true // unknown never prunes
            }
          } &&
          nullChecks.forall { case (c, wantNull) =>
            if (wantNull) !nullsOf(file, c).contains(0d)
            else !(nullsOf(file, c).exists(n => n > 0d) &&
              s.rowCounts.get(file).exists(_.toDouble ==
                nullsOf(file, c).get))
          } &&
          orChecks.forall(_.exists(_.forall { case (c, dt, lo, hi) =>
            ok(file, c, lo, hi) &&
              ok(file, s"days($c)", toDays(dt, lo), toDays(dt, hi))
          })) &&
          bloomKeyChecks.forall { case (c, key) => bloomOk(file, c, key) }
      }
      if (kept.size == current.size) None // fixed point: nothing to drop
      else if (kept.isEmpty) Some(LocalRelation(r.output, Nil))
      else {
        // the relation's resolved schema carries over: the pruned file
        // subset serves the same columns, log-fed like the version
        val inner = GraftSqlBridge.parquetTable(
          s"${t.inner.name()}#pruned${kept.size}", spark, t.inner.schema(),
          kept.map(fl => Snapshots.filePath(t.path, fl) -> s.sizes(fl)))
        // under the kill-switch the subset's schema is inferred from its
        // own footers: prune only when it still serves the relation's
        Option.when(inner.schema() == t.inner.schema())(r.copy(table =
          SnapshotReadTable(inner, t.path, t.snapVersion, Some(kept))))
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, r: DataSourceV2Relation) =>
        prunedRelation(cond, r).map {
          case lr: LocalRelation => Filter(cond, lr)
          case rel => Filter(cond, rel)
        }.getOrElse(f)
      // the column pruner may have slid a bare-attribute Project between
      // the filter and the relation — prune through it, keep it in place
      case f @ Filter(cond, p @ Project(ps, r: DataSourceV2Relation))
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        prunedRelation(cond, r)
          .map(rel => Filter(cond, Project(ps, rel)))
          .getOrElse(f)
    }
}

/** `SELECT … FROM table_changes('cat.t', v1, v2)` — the Delta CDF
  * table-valued function: the row-level change feed between two
  * versions ([[Snapshots.changesBetween]] — inserts, delete images,
  * eq-delete composition, restore resurrection) served as an ordinary
  * FROM-clause relation, so a downstream consumer's incremental
  * refresh is one SQL statement. Spark has no such built-in TVF, so an
  * unresolved `table_changes` with three literal arguments resolves
  * here; anything else keeps Spark's own "could not resolve" error. */
case class TableChangesResolution(spark: SparkSession)
    extends Rule[LogicalPlan] {
  // REGISTRATION, not resolution: Spark's ResolveTableValuedFunctions
  // throws UNRESOLVABLE_TABLE_VALUED_FUNCTION on unknown TVFs in the
  // MAIN resolution batch, before extended rules ever see the node —
  // so this rule's construction (once per session, when the analyzer
  // is built) registers the builder in the session's
  // tableFunctionRegistry and the built-in resolver does the rest.
  TableChangesResolution.register(spark)
  override def apply(plan: LogicalPlan): LogicalPlan = plan
}

object TableChangesResolution {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  private def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    val ident = FunctionIdentifier("table_changes")
    if (reg.functionExists(ident)) return
    val info = new ExpressionInfo(getClass.getName, "table_changes")
    reg.registerFunction(ident, info, (args: Seq[Expression]) =>
      args match {
        case Seq(Literal(name, org.apache.spark.sql.types.StringType),
            a1: Literal, a2: Literal) =>
          val parts = name.toString.split("\\.")
          require(parts.length >= 2, "table_changes needs a " +
            "catalog-qualified table name, got '" + name + "'")
          val root = spark.conf
            .getOption(s"spark.sql.catalog.${parts.head}.root")
            .getOrElse(throw new IllegalArgumentException(
              s"'${parts.head}' is not a registered snapshot catalog"))
          val path = parts.tail.mkString(s"$root/", "/", "")
          // version args: integer literals directly, NAMED REFS
          // (tag / branch / the implicit 'main') resolved like
          // VERSION AS OF — "changes since the last sync tag" is the
          // statement an incremental consumer actually writes — or
          // TIMESTAMP literals (the Delta TVF's timestamp form):
          // each instant resolves through the in-commit-timestamp
          // index ([[Snapshots.versionAtTimestamp]], the q182
          // machinery) to the latest main version committed AT OR
          // BEFORE it, so the window is "state at instant a → state
          // at instant b"; commit timestamps are strictly monotone,
          // making the resolution unambiguous
          def ver(l: Literal): Int = l match {
            case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
            case Literal(us: Long, org.apache.spark.sql.types.TimestampType) =>
              Snapshots.versionAtTimestamp(spark, path,
                Math.floorDiv(us, 1000L)).getOrElse(
                throw new IllegalArgumentException(
                  "table_changes: no version of " + name +
                    " committed at or before the given timestamp"))
            case Literal(s, org.apache.spark.sql.types.StringType)
                if s != null =>
              val ref = s.toString
              Snapshots.tagVersion(spark, path, ref)
                .orElse(Snapshots.branchHead(spark, path, ref))
                .orElse(if (ref == "main")
                  Snapshots.mainHeadVersion(spark, path) else None)
                .getOrElse(throw new IllegalArgumentException(
                  s"table_changes: '$ref' is neither a tag, a branch " +
                    s"nor 'main' on $name"))
            case other => throw new IllegalArgumentException(
              "table_changes version arguments must be integer, " +
                s"timestamp or ref-name literals, got $other")
          }
          val (v1, v2) = (ver(a1), ver(a2))
          val feed = Snapshots.changesBetween(spark, path, v1, v2)
            .getOrElse(throw new IllegalArgumentException(
              s"table_changes: no versions $v1/$v2 of $name"))
          GraftSqlBridge.analyzed(feed)
        case _ => throw new IllegalArgumentException(
          "table_changes takes ('cat.table', fromVersion, toVersion) " +
            "as literals")
      })
  }
}

/** `DELETE FROM t WHERE cond` → [[Snapshots.deleteWhere]].
  *
  * Conditions/SET expressions are carried as [[Column]]s (opaque to
  * TreeNode), not Expressions: they are deliberately UNRESOLVED — spoken
  * by name so the command re-resolves them against its own fresh
  * era-aware scan — and as product Expressions CheckAnalysis would
  * reject them before the command ever ran. */
case class SnapshotDeleteCommand(path: String,
    cond: org.apache.spark.sql.Column) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Snapshots.deleteWhere(session, path, cond)
    Seq.empty
  }
}

/** `DELETE FROM t WHERE k = lit` / `k IN (…)` → the ZERO-SCAN
  * equality-delete commit ([[Snapshots.deleteByKeys]]): the key set is
  * written O(keys) with no table read at all; suppression happens at
  * read time as one broadcast anti-join scoped to the manifests live at
  * the commit. Live view identical to the locate-scan path. A table
  * that prefers positional tombstones (equality deletes defer read
  * work and make clone/cherry-pick refuse until materialized) opts out
  * with TBLPROPERTIES ('delete.eq-routing' = 'off'). */
case class SnapshotDeleteByKeysCommand(path: String, keyCol: String,
    keyType: org.apache.spark.sql.types.DataType,
    values: Seq[Any]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val off = Snapshots.tableProperties(session, path)
      .get("delete.eq-routing").exists(_.equalsIgnoreCase("off"))
    if (off)
      Snapshots.deleteWhere(session, path, col(keyCol).isin(values: _*))
    else {
      val rows = new java.util.ArrayList[Row](values.size)
      values.foreach(v => rows.add(Row(v)))
      val keys = session.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol, keyType))))
      Snapshots.deleteByKeys(session, path, keys)
    }
    Seq.empty
  }
}

/** `UPDATE t SET … WHERE cond` → [[Snapshots.updateWhere]] (all SET
  * right-hand sides see pre-update values, SQL semantics — the log API's
  * own contract). */
case class SnapshotUpdateCommand(path: String,
    cond: org.apache.spark.sql.Column,
    sets: Seq[(String, org.apache.spark.sql.Column)])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Snapshots.updateWhere(session, path, cond, sets.toMap)
    Seq.empty
  }
}

/** `INSERT INTO` / `INSERT OVERWRITE TABLE` → [[Snapshots.append]] /
  * [[Snapshots.overwrite]]: the analyzer has already aligned the query's
  * output to the table schema positionally (ResolveOutputRelation), so
  * the command only restores the table's column NAMES before the commit
  * stages it. One log version per statement, like every DML. */
case class SnapshotInsertCommand(path: String, query: LogicalPlan,
    targetCols: Seq[String], overwrite: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val df = GraftSqlBridge.ofRows(session, query).toDF(targetCols: _*)
    if (overwrite) Snapshots.overwrite(session, path, df)
    else Snapshots.append(session, path, df)
    Seq.empty
  }
}

/** `INSERT INTO … REPLACE WHERE cond` → [[Snapshots.replaceWhere]]:
  * one atomic commit replacing exactly the predicate's rows with the
  * query's (which must all satisfy it — the command surfaces the
  * engine's guard). */
case class SnapshotReplaceWhereCommand(path: String, query: LogicalPlan,
    targetCols: Seq[String], condSql: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val df = GraftSqlBridge.ofRows(session, query).toDF(targetCols: _*)
    Snapshots.replaceWhere(session, path,
      org.apache.spark.sql.functions.expr(condSql), df)
    Seq.empty
  }
}

/** Bare `CREATE TABLE (cols…) [PARTITIONED BY …]` →
  * [[Snapshots.createTable]]: one schema-only commit declaring the
  * columns (+ defaults, + persisted partition spec). `IF NOT EXISTS`
  * over an existing table no-ops; otherwise an existing table refuses
  * with the standard error. */
case class SnapshotCreateTableCommand(path: String, tableName: String,
    cols: Seq[(String, String, Option[String])], ignoreIfExists: Boolean,
    partitionSpec: Seq[String],
    properties: Map[String, String] = Map.empty,
    checks: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (Snapshots.latestVersion(session, path).isDefined) {
      if (!ignoreIfExists) throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(tableName))
    } else Snapshots.createTable(session, path, cols, partitionSpec,
      properties, checks)
    Seq.empty
  }
}

/** `SHOW CREATE TABLE cat.t` → one row of round-trippable DDL emitted
  * from the log ([[SnapshotDmlRewrite.showCreateDdl]]): the
  * discoverability statement every SQL user runs first, and the one
  * whose output must actually re-create the table. */
case class SnapshotShowCreateCommand(path: String, fullName: String,
    override val output: Seq[org.apache.spark.sql.catalyst.expressions
      .Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(SnapshotDmlRewrite.showCreateDdl(session, path, fullName)))
}

/** `CREATE [OR REPLACE] TABLE … AS SELECT` → the table's first
  * [[Snapshots.append]] (create) or an [[Snapshots.replaceTable]] commit
  * (replace of an existing table — prior versions stay time-travelable,
  * exactly like the DataFrame overwrite path). `IF NOT EXISTS` over an
  * existing table is a no-op that never evaluates the query.
  * `PARTITIONED BY` transforms arrive as the log's transform-encoded
  * `partitionSpec` and are PERSISTED: the CTAS data is range-clustered by
  * them, and every later write to the table (SQL INSERT, DataFrame
  * append, CDC apply) clusters by the recorded spec automatically —
  * hidden partitioning end-to-end in SQL. A REPLACE re-declares the
  * spec (absent = the replacement is unpartitioned). */
case class SnapshotCtasCommand(path: String, tableName: String,
    query: LogicalPlan, ignoreIfExists: Boolean, replace: Boolean,
    orCreate: Boolean, partitionSpec: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val exists = Snapshots.latestVersion(session, path).isDefined
    def df = GraftSqlBridge.ofRows(session, query)
    def create(): Unit =
      if (partitionSpec.isEmpty) Snapshots.append(session, path, df)
      else Snapshots.appendPartitioned(session, path, df, partitionSpec)
    if (replace) {
      if (exists) Snapshots.replaceTable(session, path, df, partitionSpec)
      else if (orCreate) create()
      else throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(Seq(tableName))
    } else if (exists) {
      if (!ignoreIfExists) throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(tableName))
    } else create()
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON …` → [[Snapshots.merge]] (latest-wins
  * upsert). `updateOnly` drops source rows with no target match (a
  * broadcast semi-join against the live view); `insertOnly` keeps only
  * unmatched rows (anti-join) so existing keys are never replaced. The
  * semi/anti relation is O(source) — the target side never shuffles. */
case class SnapshotMergeCommand(path: String, source: LogicalPlan,
    targetCols: Seq[String], keyCols: Seq[String],
    updateOnly: Boolean, insertOnly: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val src = GraftSqlBridge.ofRows(session, source)
      .select(targetCols.map(col): _*)
    val changes =
      if (insertOnly || updateOnly) {
        val live = Snapshots.readLatest(session, path).getOrElse(
          throw new IllegalStateException(
            s"MERGE INTO a never-committed snapshot table $path"))
          .select(keyCols.map(col): _*).distinct()
        src.join(live, keyCols, if (insertOnly) "left_anti" else "left_semi")
      } else src
    Snapshots.merge(session, path, changes, keyCols)
    Seq.empty
  }
}

/** General `MERGE INTO` (conditional / multi-clause / DELETE) →
  * [[Snapshots.mergeWhen]]: clause conditions and assignments were
  * re-spoken by name at conversion (source columns under `_src_`), so
  * they resolve against the joined row mergeWhen builds. */
case class SnapshotMergeWhenCommand(path: String, source: LogicalPlan,
    keyCols: Seq[String], clauses: Seq[Snapshots.MergeClause])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Snapshots.mergeWhen(session, path,
      GraftSqlBridge.ofRows(session, source), keyCols, clauses)
    Seq.empty
  }
}
