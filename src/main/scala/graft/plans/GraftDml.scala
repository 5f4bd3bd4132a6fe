package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, Filter, InsertAction, Join, JoinHint, LogicalPlan, MergeIntoTable, OverwritePartitionsDynamic, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.GraftColumnBridge
import graft.sources.{GraftCatalog, GraftSqlTable}

/**
 * SQL `UPDATE` for graft tables, via a resolution rule instead of the
 * DSv2 row-level-operation API: Spark's group-based `ReplaceData` path
 * demands a V2 `BatchWrite` (a from-scratch executor-side parquet commit
 * protocol), while the catalog already has the better primitive —
 * one upsert snapshot holding only the updated rows (merge-on-read),
 * instead of copy-on-write rewriting every group. The analyzed
 * `UpdateTable` node is rewritten to a runnable command that routes back
 * into the owning catalog — the same pattern Delta Lake used for DML
 * before the row-level API existed.
 *
 * Expression plumbing: the analyzed condition and assignment expressions
 * are carried LIVE into the command (inside [[GraftDml.ActionSpec]]-style
 * wrappers that `QueryPlan.expressions` does not traverse, so the leaf
 * command stays opaque to CheckAnalysis and the optimizer), and the
 * matching-rows plan is built at rewrite time over the SAME analyzed
 * relation, so every attribute binds by exprId — no SQL-text round-trip.
 * That is what makes subqueries (`WHERE id IN (SELECT ...)`,
 * `EXISTS (...)`) work in conditions: they travel as resolved
 * SubqueryExpressions inside an ordinary `Filter` plan and are planned
 * by Catalyst when the command executes it.
 */
class GraftUpdateRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case u: UpdateTable if u.resolved =>
      u.table.collectFirst { case r: DataSourceV2Relation => r.table } match {
        case Some(t: GraftSqlTable) if t.coords.isDefined =>
          val (wh, s, tb) = t.coords.get
          val matching = u.condition.map(Filter(_, u.table)).getOrElse(u.table)
          GraftUpdateCommand(wh, s, tb, matching,
            u.assignments.map(a =>
              GraftDml.Assign(GraftDml.nameOf(a.key), a.value)),
            u.table.output, t.basis)
        case _ => u
      }
  }
}

/**
 * SQL `DELETE FROM ... WHERE <condition with subqueries>` for graft PK
 * tables. Spark's DSv2 `SupportsDelete` path only accepts pushable
 * source filters — `DELETE WHERE id IN (SELECT ...)` fails analysis with
 * "Delete by condition with subquery is not supported" (the reference's
 * users get subquery deletes from Trino's engine, which computes the row
 * set and hands the connector row ids). Rewrite strategy mirrors
 * [[GraftUpdateRewrite]]: intercept ONLY when the condition carries a
 * subquery (simple conditions keep the existing pushdown path and its
 * zone/DV pruning). PK tables: victims land as key tombstones — one
 * merge-on-read snapshot, subqueries of any shape. Append-only DV
 * tables: the condition re-binds by name onto the positional frame, so
 * UNCORRELATED subqueries work (their resolved plans are self-contained)
 * while correlated ones refuse with a clear message.
 */
/**
 * SQL dynamic partition overwrite (`INSERT OVERWRITE` under
 * `partitionOverwriteMode=dynamic`, or `DataFrameWriterV2
 * .overwritePartitions()`): Spark's `OverwritePartitionsDynamic` demands
 * a full V2 `BatchWrite` (the capability check rejects V1-fallback
 * writers), while the catalog already has the exact primitive —
 * [[GraftCatalog.overwriteDynamic]]'s replace-subset snapshot. Rewrite
 * the resolved node to a command routing back into the owning catalog,
 * the same pattern as the UPDATE/DELETE/MERGE rules above.
 */
class GraftDynamicOverwriteRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case o: OverwritePartitionsDynamic if o.resolved =>
      o.table.collectFirst { case r: DataSourceV2Relation => r.table } match {
        case Some(t: GraftSqlTable) if t.coords.isDefined =>
          val (wh, s, tb) = t.coords.get
          GraftDynamicOverwriteCommand(wh, s, tb, o.query,
            o.table.output.map(_.name))
        case _ => o
      }
  }
}

/** Executes the rewritten dynamic overwrite: the resolved query plan
  * (columns already aligned/cast to the table schema by the analyzer)
  * lands through [[GraftCatalog.overwriteDynamic]] — only the incoming
  * partitions are replaced, as one snapshot. */
case class GraftDynamicOverwriteCommand(warehouse: String,
    schemaName: String, tableName: String, query: LogicalPlan,
    outNames: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val gc = new GraftCatalog(spark, warehouse)
    gc.overwriteDynamic(schemaName, tableName,
      GraftColumnBridge.dataFrame(spark, query).toDF(outNames: _*))
    Seq.empty
  }
}

class GraftDeleteRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
        if d.resolved && d.condition.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) =>
      d.table.collectFirst { case r: DataSourceV2Relation => r.table } match {
        // tables that take a DELETE: PK tombstones or deletion vectors
        case Some(t: GraftSqlTable) if t.coords.isDefined && t.canDelete =>
          val (wh, s, tb) = t.coords.get
          GraftDeleteCommand(wh, s, tb, Filter(d.condition, d.table),
            GraftDml.Assign("cond", d.condition), t.basis)
        case _ => d
      }
  }
}

/** Executes the rewritten subquery DELETE. PK tables: the matching plan
  * (subqueries included, bound by exprId at rewrite time) evaluates to
  * the victim rows, whose keys land as ONE tombstone snapshot.
  * Append-only DV tables: victims are (file, pos) pairs, so the
  * condition re-binds BY NAME onto the metadata-bearing frame —
  * UNCORRELATED subqueries carry over intact (their resolved plans are
  * self-contained); correlated ones pin the old exprIds and refuse. */
case class GraftDeleteCommand(warehouse: String, schemaName: String,
    tableName: String, matching: LogicalPlan,
    // Assign-wrapped so QueryPlan.expressions does not traverse it —
    // CheckAnalysis would otherwise reject the IN/EXISTS subquery in a
    // command-expression position (same trick as the UPDATE rewrite).
    cond: GraftDml.Assign,
    /** The manifest version the resolved table was pinned at. */
    basis: Option[Long]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val gc = new GraftCatalog(spark, warehouse)
    if (gc.primaryKeyOf(schemaName, tableName).nonEmpty) {
      gc.deleteRowsByKey(schemaName, tableName,
        GraftColumnBridge.dataFrame(spark, matching), basis)
    } else {
      import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
      val condition = cond.value
      require(condition.collect {
          case sq: SubqueryExpression if sq.isCorrelated => sq
        }.isEmpty,
        "DELETE with a CORRELATED subquery on an append-only " +
          "deletion-vector table is not supported — use a primary-key " +
          "table (uncorrelated subqueries are fine)")
      val rebound = GraftColumnBridge.column(condition.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(a.name)
      })
      gc.deleteWhere(schemaName, tableName, rebound)
    }
    Seq.empty
  }
}

/**
 * SQL `MERGE INTO` for graft PK tables, same rewrite strategy as
 * [[GraftUpdateRewrite]]: the analyzed MergeIntoTable becomes a command
 * that computes the action deltas with DataFrame transformations over a
 * plan assembled at REWRITE time — one full-outer join of the analyzed
 * target and source relations with presence markers — and lands them as
 * ONE atomic snapshot via [[GraftCatalog.mergeCommit]] (updates+inserts
 * paired with tombstones at the same ordinal) — merge-on-read, no
 * copy-on-write group rewrite.
 *
 * Because the join plan reuses the analyzed relations, the merge/action
 * conditions and assignment values (which reference both sides) bind by
 * exprId against the command's DataFrame — subqueries included. The
 * carried plan is a non-child field of a leaf command: the optimizer
 * leaves it untouched, and `Dataset.ofRows` re-plans it at execution.
 */
class GraftMergeRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    // needSchemaEvolution (not withSchemaEvolution): a MERGE ... WITH
    // SCHEMA EVOLUTION first passes through the analyzer's
    // ResolveMergeIntoSchemaEvolution, which alterTable-adds the source's
    // missing columns (AUTOMATIC_SCHEMA_EVOLUTION capability) and reloads
    // the relation; this rule fires once nothing is left to evolve.
    case m: MergeIntoTable if m.resolved && !m.needSchemaEvolution =>
      m.targetTable.collectFirst { case r: DataSourceV2Relation => r.table } match {
        case Some(t: GraftSqlTable) if t.coords.isDefined =>
          val (wh, s, tb) = t.coords.get
          checkPkAssignments(m, t)
          def actions(as: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction])
              : Seq[GraftDml.ActionSpec] = as.map {
            case UpdateAction(c, assigns, _) => GraftDml.ActionSpec("update", c,
              assigns.map(a => GraftDml.Assign(GraftDml.nameOf(a.key), a.value)))
            case DeleteAction(c) => GraftDml.ActionSpec("delete", c, Seq.empty)
            case InsertAction(c, assigns) => GraftDml.ActionSpec("insert", c,
              assigns.map(a => GraftDml.Assign(GraftDml.nameOf(a.key), a.value)))
            case other => throw new UnsupportedOperationException(s"MERGE action $other")
          }
          // Presence markers ride the join legs so the command can split
          // matched / source-only / target-only without re-deriving the
          // join. Marker NAMES are reserved (see the guard in run()).
          val joined = Join(
            Project(m.targetTable.output :+ Alias(Literal(true), "__tp")(),
              m.targetTable),
            Project(m.sourceTable.output :+ Alias(Literal(true), "__sp")(),
              m.sourceTable),
            FullOuter, Some(m.mergeCondition), JoinHint.NONE)
          GraftMergeCommand(wh, s, tb, joined,
            m.targetTable.output, m.sourceTable.output,
            actions(m.matchedActions), actions(m.notMatchedActions),
            actions(m.notMatchedBySourceActions), t.basis)
        case _ => m
      }
  }

  /** Mirror of GraftCatalog.update's PK guard, applied where the analyzed
    * merge condition is still visible: an UPDATE action assigning a
    * primary-key column would land the row under the NEW key while the
    * old key is never tombstoned (the cardinality check groups by
    * POST-update keys, so it cannot catch it). The one safe shape —
    * `UPDATE SET *` assigning the pk its join-EQUAL source counterpart
    * (`ON t.pk = s.pk` ... `SET pk = s.pk`) — is provably a no-op on
    * matched rows and is allowed. */
  private def checkPkAssignments(m: MergeIntoTable, t: GraftSqlTable): Unit = {
    val pk = Option(t.properties.get("primary-key"))
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    if (pk.isEmpty) return
    val tgtByName = m.targetTable.output.map(a => a.name -> a).toMap
    val eqPairs = splitConjunctivePredicates(m.mergeCondition).collect {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
        a: AttributeReference, b: AttributeReference) =>
        Seq((a.exprId, b.exprId), (b.exprId, a.exprId))
    }.flatten.toSet
    def ok(pkName: String, v: Expression): Boolean = v match {
      case ar: AttributeReference => tgtByName.get(pkName).exists(ta =>
        ta.exprId == ar.exprId || eqPairs.contains((ta.exprId, ar.exprId)))
      case _ => false
    }
    (m.matchedActions ++ m.notMatchedBySourceActions).foreach {
      case UpdateAction(_, assigns, _) =>
        val bad = assigns.map(a => (GraftDml.nameOf(a.key), a.value))
          .filter { case (n, v) => pk.contains(n) && !ok(n, v) }
        require(bad.isEmpty, "MERGE UPDATE may not assign primary-key " +
          s"column(s) ${bad.map(_._1).mkString(", ")} — delete and " +
          "re-insert instead (SET pk = <join-equal source pk> is allowed)")
      case _ => ()
    }
  }
}

private[plans] object GraftDml {
  def nameOf(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"only top-level columns can be assigned, got $other")
  }

  /** One column assignment, carried live. A plain Product (not an
    * Expression, not an Iterable), so `QueryPlan.expressions` does not
    * collect the payload — the command stays opaque to CheckAnalysis's
    * subquery placement rules and to optimizer expression rewrites. */
  case class Assign(name: String, value: Expression)

  /** One MERGE action (kind = update/delete/insert), carried live —
    * opaque to plan traversals for the same reason as [[Assign]]. */
  case class ActionSpec(kind: String, cond: Option[Expression],
      assigns: Seq[Assign])
}

/** Executes the rewritten MERGE: per-action deltas by join, one atomic
  * mergeCommit. Action order is honored by guarding each action with the
  * negation of every earlier action's condition (first match wins). */
case class GraftMergeCommand(warehouse: String, schemaName: String,
    tableName: String, joined: LogicalPlan,
    targetOutput: Seq[Attribute], sourceOutput: Seq[Attribute],
    matched: Seq[GraftDml.ActionSpec],
    notMatched: Seq[GraftDml.ActionSpec],
    notMatchedBySource: Seq[GraftDml.ActionSpec],
    /** The manifest version the resolved target was pinned at: the
      * merge derives from that snapshot, so its commit fences on it. */
    basis: Option[Long])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val gc = new GraftCatalog(spark, warehouse)
    val pk = gc.primaryKeyOf(schemaName, tableName)
    require(pk.nonEmpty, s"MERGE INTO needs a primary-key table, " +
      s"$schemaName.$tableName has none")
    val cur = gc.currentSchema(schemaName, tableName)
    // (The PK-assignment guard runs at rewrite time, where the merge
    // condition's equalities are still visible — see checkPkAssignments.)
    // The presence markers are located by NAME on the joined frame — a
    // relation already carrying them would break the matched/src-only/
    // tgt-only partitioning. Reject up front with a clear error.
    locally {
      val reserved = Set("__tp", "__sp")
      val clash = (targetOutput ++ sourceOutput).map(_.name)
        .filter(reserved.contains).distinct
      require(clash.isEmpty, "MERGE INTO reserves column names " +
        s"__tp/__sp; rename ${clash.mkString(", ")} first")
    }
    val targetAttr = targetOutput.map(a => a.name -> a).toMap
    def targetCol(name: String): Column = GraftColumnBridge.column(
      targetAttr.getOrElse(name, throw new IllegalArgumentException(
        s"no target column $name")))
    val emptyFull = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cur)
    val emptyKeys = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(pk.map(cur(_))))

    /** Rows produced by the given action list over `base`, honoring
      * first-match-wins ordering; `rowOf` renders one action's output and
      * `seed` is the matching-schema empty frame to accumulate into. */
    def applyActions(base: DataFrame, as: Seq[GraftDml.ActionSpec],
        wanted: String, seed: DataFrame,
        rowOf: Seq[GraftDml.Assign] => Seq[Column]): DataFrame = {
      var guard: Column = lit(false)
      var out = seed
      as.foreach { a =>
        val own = a.cond.map(GraftColumnBridge.column).getOrElse(lit(true))
        if (a.kind == wanted)
          out = out.unionByName(base.filter(own && !guard).select(rowOf(a.assigns): _*))
        guard = guard || own
      }
      out
    }

    def updatedRow(assigns: Seq[GraftDml.Assign]): Seq[Column] = {
      val byName = assigns.map(a => a.name -> a.value).toMap
      cur.fields.toSeq.map(f =>
        byName.get(f.name).map(GraftColumnBridge.column).getOrElse(targetCol(f.name))
          .cast(f.dataType).as(f.name))
    }
    def insertedRow(assigns: Seq[GraftDml.Assign]): Seq[Column] = {
      val byName = assigns.map(a => a.name -> a.value).toMap
      cur.fields.toSeq.map(f =>
        byName.get(f.name).map(GraftColumnBridge.column).getOrElse(lit(null))
          .cast(f.dataType).as(f.name))
    }
    def keyRow: Seq[Column] = pk.map(p => targetCol(p).as(p))

    // ONE full-outer join (assembled at rewrite time over the analyzed
    // relations) feeds all three merge legs via presence markers — the
    // target's MoR-resolved read and the source plan each execute once,
    // not once per leg as separate inner/anti joins would cost at scale.
    val joinedDf = GraftColumnBridge.dataFrame(spark, joined).persist()
    val matchedRows = joinedDf.filter(col("__tp").isNotNull && col("__sp").isNotNull)
    val srcOnly = joinedDf.filter(col("__tp").isNull)
    val tgtOnly = joinedDf.filter(col("__sp").isNull)

    val upserts = applyActions(matchedRows, matched, "update", emptyFull, updatedRow)
      .unionByName(applyActions(srcOnly, notMatched, "insert", emptyFull, insertedRow))
      .unionByName(applyActions(tgtOnly, notMatchedBySource, "update", emptyFull, updatedRow))
    val deletes = applyActions(matchedRows, matched, "delete", emptyKeys, _ => keyRow)
      .unionByName(applyActions(tgtOnly, notMatchedBySource, "delete", emptyKeys, _ => keyRow))

    // Persist the deltas: the cardinality check below and the two write
    // jobs inside mergeCommit would otherwise each recompute the joins.
    upserts.persist(); deletes.persist()
    try {
      // SQL MERGE cardinality rule: a target row matched by >1 source row
      // is an error, and the upsert batch must be PK-unique regardless
      val dupes = upserts.select(pk.map(col): _*).unionByName(deletes)
        .groupBy(pk.map(col): _*).count().filter(col("count") > 1)
      require(dupes.isEmpty,
        "MERGE matched a target row more than once (cardinality violation)")
      gc.mergeCommit(schemaName, tableName, upserts, deletes, basis = basis)
    } finally { upserts.unpersist(); deletes.unpersist(); joinedDf.unpersist(); () }
    Seq.empty
  }
}

/** Executes the rewritten UPDATE: one merge-on-read upsert snapshot of
  * the updated rows. `matching` is the rewrite-time `Filter(cond, table)`
  * plan (subqueries included); assignments bind by exprId against it.
  * The updated rows derive from the snapshot the table was pinned at, so
  * the upsert fences on its manifest version (`basis`): a writer that
  * moved the head since aborts the statement, as library `update` does. */
case class GraftUpdateCommand(warehouse: String, schemaName: String,
    tableName: String, matching: LogicalPlan,
    assignments: Seq[GraftDml.Assign], targetOutput: Seq[Attribute],
    basis: Option[Long])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val gc = new GraftCatalog(spark, warehouse)
    val pk = gc.primaryKeyOf(schemaName, tableName)
    if (pk.isEmpty) return runDvUpdate(spark, gc)
    val cur = gc.currentSchema(schemaName, tableName)
    assignments.foreach { a =>
      require(cur.fieldNames.contains(a.name), s"unknown column ${a.name}")
      // Assigning a PK column would upsert under the NEW key and leave the
      // old row alive — a silent duplicate, not an update.
      require(!pk.contains(a.name),
        s"cannot update primary-key column ${a.name} (delete + insert instead)")
    }
    val targetAttr = targetOutput.map(a => a.name -> a).toMap
    val byName = assignments.map(a => a.name -> a.value).toMap
    // ONE select evaluating every assignment against the OLD row — SQL
    // UPDATE semantics. Chained withColumn would feed earlier assignments
    // into later ones (SET a = b, b = a would fail to swap).
    val updated = GraftColumnBridge.dataFrame(spark, matching)
      .select(cur.fields.toSeq.map(f =>
        byName.get(f.name).map(GraftColumnBridge.column)
          .getOrElse(GraftColumnBridge.column(targetAttr(f.name)))
          .cast(f.dataType).as(f.name)): _*)
    gc.upsertFrom(schemaName, tableName, updated, basis)
    Seq.empty
  }

  /** Append-only path: route through the deletion-vector UPDATE (atomic
    * retract + replace, see GraftCatalog.updateWhereDv). The DV path
    * derives (file, pos) victims from a metadata-bearing frame whose
    * exprIds differ from the rewrite-time relation, so the resolved
    * condition/assignments re-bind BY NAME — which is why subqueries
    * (resolved plans pinned to the old exprIds) are refused here. */
  private def runDvUpdate(spark: SparkSession, gc: GraftCatalog): Seq[Row] = {
    require(gc.optionsOf(schemaName, tableName).deletionVectors,
      s"$schemaName.$tableName has no primary key — row-level UPDATE " +
        "needs one, or the deletion-vectors table option")
    def rebind(e: Expression): Column = {
      require(e.collect {
          case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
            if sq.isCorrelated => sq
        }.isEmpty,
        "UPDATE with a CORRELATED subquery on an append-only " +
          "deletion-vector table is not supported — use a primary-key " +
          "table (uncorrelated subqueries are fine)")
      GraftColumnBridge.column(e.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(a.name)
      })
    }
    val cur = gc.currentSchema(schemaName, tableName)
    assignments.foreach(a => require(cur.fieldNames.contains(a.name),
      s"unknown column ${a.name}"))
    val cond = matching match {
      case Filter(c, _) => rebind(c)
      case _ => lit(true)
    }
    val assignCols = assignments.map(a =>
      a.name -> rebind(a.value).cast(cur(a.name).dataType)).toMap
    gc.update(schemaName, tableName, cond, assignCols)
    Seq.empty
  }
}
