package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{FileStats, GraftSqlTable}

/**
 * Planning-time zone-map pruning for graft catalog scans — the optimizer
 * half of the manifest stats in [[graft.sources.FileStats]]. Runs in the
 * operator-optimization batch, BEFORE V2ScanRelationPushDown: a `Filter`
 * directly above a graft relation (predicate pushdown has already
 * collapsed intervening Projects by this point) is evaluated against each
 * root dir's manifest min/max, and dirs that provably cannot match are
 * dropped from the relation's path list. The reference does the same
 * skip through `TrinoMetadataBase.applyFilter` → Paimon's manifest field
 * stats; here the surviving filter still reaches the parquet scan for
 * row-group/page-level skipping — zone pruning only shrinks the file
 * list the scan ever plans splits for.
 *
 * Conservative by construction: paths without stats and predicate shapes
 * the evaluator doesn't model are kept (see FileStats.mightMatch). The
 * rewrite fires only when it strictly shrinks the path list, so the
 * fixed-point batch converges.
 */
class GraftZonePrune extends Rule[LogicalPlan] {

  private def enabled: Boolean = SparkSession.active.conf
    .get("spark.graft.zonePrune.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case f @ Filter(cond, r: DataSourceV2Relation) => r.table match {
        case gt: GraftSqlTable if gt.zoneStats.isDefined =>
          val stats = gt.zoneStats.get
          // File-path expansion: replacing a dir root with file paths
          // loses the col=value segments a partitioned scan derives
          // partition columns from — pruneTo compensates by pinning a
          // basePath option on the pruned scan (the same contract as
          // GraftCatalog.dirFrames' file-subset read), so partitioned
          // tables expand to file granularity too.
          val fz = gt.fileZones.getOrElse(Map.empty)
          val cur = gt.currentPaths
          val keptDirs = cur.filter(p =>
            stats.get(p).forall(FileStats.mightMatch(_, cond)))
          var changed = keptDirs.size < cur.size
          // Bloom refinement (same contract as readWhere's bloom pass):
          // files whose bitsets prove every literal of some equality/IN
          // constraint absent are dropped alongside the zone-pruned ones.
          val constraints =
            if (gt.bloomInfo.isEmpty) Seq.empty
            else FileStats.eqConstraints(cond)
          def bloomKeep(p: String, files: Map[String, FileStats.DirStats])
              : Map[String, FileStats.DirStats] =
            gt.bloomInfo.get(p) match {
              case Some((token, cols)) if constraints.exists(c => cols(c._1)) =>
                val dirPath = new org.apache.hadoop.fs.Path(p)
                val fs = dirPath.getFileSystem(
                  SparkSession.active.sessionState.newHadoopConf())
                val relOf = files.keys.map(abs =>
                  abs -> abs.stripPrefix(p).stripPrefix("/")).toMap
                val kept = graft.sources.BloomIndex.filterMightMatch(
                  fs, dirPath, token, cols, relOf.values.toSeq.sorted,
                  constraints).toSet
                files.filter { case (abs, _) => kept(relOf(abs)) }
              case _ => files
            }
          // Per-FILE refinement (the reference's skip unit): a surviving
          // dir whose per-file zones rule out SOME files is replaced by
          // its matching file paths. The rewrite re-keys the zone map to
          // the new paths, so the fixed-point re-run finds nothing more
          // to drop and converges.
          var newStats = Map.empty[String, FileStats.DirStats]
          var newFz = Map.empty[String, Map[String, FileStats.DirStats]]
          val paths = keptDirs.flatMap { p =>
            fz.get(p).filter(_.nonEmpty) match {
              case Some(files) =>
                val keptFiles = bloomKeep(p, files.filter { case (_, z) =>
                  FileStats.mightMatch(z, cond) })
                if (keptFiles.size < files.size) {
                  changed = true
                  newStats ++= keptFiles
                  keptFiles.keys.toSeq.sorted
                } else {
                  stats.get(p).foreach(s => newStats += p -> s)
                  newFz += p -> files
                  Seq(p)
                }
              case None =>
                stats.get(p).foreach(s => newStats += p -> s)
                Seq(p)
            }
          }
          if (changed)
            f.copy(child = r.copy(table = gt.pruneTo(paths, newStats, newFz)))
          else f
        case _ => f
      }
    }
}

/**
 * Metadata-only aggregates: a bare `count(*)` / `count(col)` / `min(col)`
 * / `max(col)` over a graft relation whose manifest stats are provably
 * exact (append-only snapshot, every dir carries stats) collapses to a
 * [[LocalRelation]] — zero files opened, zero tasks launched. The 100 TB
 * `SELECT count(*), min(ts), max(ts) FROM t` answers from the manifest,
 * like every serious lakehouse format. PARTITION-predicate-only filters
 * are answerable too: per-file zones make partition membership total per
 * file (the `p=x` path segment fixes the value for every row), so
 * `count(*) WHERE p = 'x'` sums exactly the matching files' row counts.
 *
 * Soundness notes: the whole rewrite bails unless EVERY live dir has a
 * zone for every referenced column (exactRowCount presence implies full
 * per-dir stats). Floating-point zones are safe because parquet-mr's
 * signed comparator orders NaN largest — the same total order Spark's
 * min/max use. `count(col)` additionally needs known per-dir null
 * counts. GROUP BY over PARTITION columns collapses too (one row per
 * group from the per-file point zones — the partition census a 100 TB
 * table answers from its manifest). Anything else (distinct, data-column
 * filters or grouping, expressions over columns) keeps the ordinary
 * scan plan.
 */
class GraftCountFromStats extends Rule[LogicalPlan] {

  private def enabled: Boolean = SparkSession.active.conf
    .get("spark.graft.countFromStats.enabled", "true").toBoolean

  /** The relation under the aggregate, looking through column-pruning
    * Projects (attribute-only — a Project can't rename without Alias, so
    * attribute names below are the table's own). */
  private def relationOf(p: LogicalPlan): Option[GraftSqlTable] = p match {
    case r: DataSourceV2Relation => r.table match {
      case gt: GraftSqlTable => Some(gt)
      case _ => None
    }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(child)
    case _ => None
  }

  /** Like [[relationOf]] but also peels one Filter: (condition, table).
    * Projects may sit above or below the Filter after pruning. */
  private def filteredRelationOf(p: LogicalPlan)
      : Option[(Option[org.apache.spark.sql.catalyst.expressions.Expression], GraftSqlTable)] =
    p match {
      case Filter(cond, child) => relationOf(child).map(gt => (Some(cond), gt))
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        filteredRelationOf(child)
      case other => relationOf(other).map(gt => (None, gt))
    }

  /** Internal-row value for the global min/max of `name` across dirs, as
    * the column's Catalyst type. Some(null) = a provably all-null column. */
  private def minMaxOf(zones: Seq[FileStats.DirStats], name: String,
      dt: org.apache.spark.sql.types.DataType, wantMin: Boolean): Option[Any] = {
    if (!zones.forall(_.cols.contains(name))) return None
    val ends = zones.flatMap(z => if (wantMin) z.cols(name).min else z.cols(name).max)
    if (ends.isEmpty) return Some(null) // every dir all-null
    val best = ends.reduce { (a, b) =>
      // FileStats.cmp: the one domain comparator (strings by UTF-8 bytes)
      if ((FileStats.cmp(a, b) <= 0) == wantMin) a else b
    }
    toCatalyst(best, dt)
  }

  /** Zone-domain value (Long/Double/String/Boolean) → internal-row value
    * of the column's Catalyst type. None = unconvertible, bail. */
  private def toCatalyst(v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (v: Long, ByteType) => Some(v.toByte)
      case (v: Long, ShortType) => Some(v.toShort)
      case (v: Long, IntegerType | DateType) => Some(v.toInt)
      case (v: Long, LongType | TimestampType | TimestampNTZType) => Some(v)
      case (v: Double, FloatType) => Some(v.toFloat)
      case (v: Double, DoubleType) => Some(v)
      case (v: String, StringType) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
      case (v: Boolean, BooleanType) => Some(v)
      case _ => None
    }
  }

  /** The single value `name` takes in every row of the file, when the
    * zone proves it (point zone, zero nulls) — partition columns always
    * qualify (their `p=v` path segment fixes the value file-wide). */
  private def pointOf(z: FileStats.DirStats, name: String): Option[Any] =
    z.cols.get(name).flatMap { c =>
      (c.min, c.max) match {
        case (Some(a), Some(b)) if c.nulls == 0L && FileStats.cmp(a, b) == 0 =>
          Some(a)
        case _ => None
      }
    }

  /** Answer one aggregate from the zones, or None to bail. */
  private def answer(gt: GraftSqlTable, zones: Seq[FileStats.DirStats],
      rows: Long, e: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : Option[Any] = e match {
    case Alias(AggregateExpression(f, Complete, false, None, _), _) => f match {
      case Count(Seq(Literal(1, _))) => Some(rows)
      case Count(Seq(a: AttributeReference)) =>
        val n = a.name.toLowerCase
        if (zones.forall(z => z.cols.get(n).exists(_.nulls >= 0L)))
          Some(zones.map(z => z.rows - z.cols(n).nulls).sum)
        else None
      case org.apache.spark.sql.catalyst.expressions.aggregate.Min(a: AttributeReference) =>
        minMaxOf(zones, a.name.toLowerCase, a.dataType, wantMin = true)
      case org.apache.spark.sql.catalyst.expressions.aggregate.Max(a: AttributeReference) =>
        minMaxOf(zones, a.name.toLowerCase, a.dataType, wantMin = false)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, child, _) if aggExprs.nonEmpty =>
        (for {
          (cond, gt) <- filteredRelationOf(child)
          rows0 <- gt.exactRowCount // append-only + full per-dir stats
          zones <- cond match {
            case None => Some(gt.zoneStats.getOrElse(Map.empty).values.toSeq)
            case Some(c) => selectFiles(gt, c)
          }
          rows = cond.fold(rows0)(_ => zones.map(_.rows).sum)
          vals <- {
            val answered = aggExprs.map(answer(gt, zones, rows, _))
            if (answered.forall(_.isDefined)) Some(answered.map(_.get)) else None
          }
        } yield LocalRelation(agg.output, Seq(InternalRow(vals: _*)))
        ).getOrElse(agg)

      // Grouped metadata-only aggregates: `SELECT p, count(*), min(x) …
      // GROUP BY p` where every grouping column is a PER-FILE POINT
      // (identity partition columns — their path segment fixes the value
      // for the whole file) collapses to a LocalRelation with one row per
      // group. The 100 TB partition census (`GROUP BY dt, source`) costs
      // a manifest read, zero tasks. Same soundness gate as the global
      // path; any file where a grouping column is not a proven point
      // (data column, nulls, missing zone) keeps the scan plan.
      case agg @ Aggregate(groupExprs, aggExprs, child, _)
          if groupExprs.nonEmpty &&
            groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        val groupCols = groupExprs.map(_.asInstanceOf[AttributeReference])
        (for {
          (cond, gt) <- filteredRelationOf(child)
          // PARTITION columns only: their zones come from `p=v` path
          // segments (exact by construction). Data columns that happen to
          // be file-constant are excluded — their footer stats could in
          // principle be writer-truncated, and a truncated "point" would
          // emit a wrong group key.
          if groupCols.forall(g =>
            gt.partitionCols.exists(_.equalsIgnoreCase(g.name)))
          _ <- gt.exactRowCount // append-only + full per-dir stats
          fz <- gt.fileZones
          zones <- cond match {
            case None => Some(fz.values.flatMap(_.values).toSeq)
            case Some(c) => selectFiles(gt, c)
          }
          keyed <- {
            val ks = zones.map(z =>
              groupCols.map(g => pointOf(z, g.name.toLowerCase)) match {
                case vs if vs.forall(_.isDefined) => Some(vs.map(_.get) -> z)
                case _ => None
              })
            if (ks.forall(_.isDefined)) Some(ks.flatten) else None
          }
          groupIds = groupCols.map(_.exprId).toSet
          outRows <- {
            val rows = keyed.groupBy(_._1).toSeq.map { case (key, zs) =>
              val gz = zs.map(_._2)
              val grows = gz.map(_.rows).sum
              val keyOf = groupCols.map(_.exprId).zip(key).toMap
              val cells = aggExprs.map {
                case a: AttributeReference if keyOf.contains(a.exprId) =>
                  toCatalyst(keyOf(a.exprId), a.dataType)
                case Alias(a: AttributeReference, _) if keyOf.contains(a.exprId) =>
                  toCatalyst(keyOf(a.exprId), a.dataType)
                case e => answer(gt, gz, grows, e)
              }
              if (cells.forall(_.isDefined)) Some(InternalRow(cells.map(_.get): _*))
              else None
            }
            if (rows.forall(_.isDefined)) Some(rows.map(_.get)) else None
          }
        } yield LocalRelation(agg.output, outRows)
        ).getOrElse(agg)
    }

  /**
   * Per-file zones of exactly the files whose rows ALL satisfy `cond`,
   * or None to bail and keep the scan. Sound only when every file's
   * membership is TOTAL — [[FileStats.decides]] answers for uniform
   * (point-zone) columns, i.e. partition predicates: `count(*) WHERE
   * p = 'x'` is answerable from the manifest because a file's `p=...`
   * path segment fixes the value for every row in it. Any file the
   * zones cannot decide (a data-column predicate, a missing zone)
   * poisons the whole rewrite — conservative, the scan plan stands.
   */
  private def selectFiles(gt: GraftSqlTable,
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Seq[FileStats.DirStats]] =
    for {
      // fileZones is threaded only with full live-dir coverage (zero-row
      // dirs exempt — they contribute nothing to any aggregate), so the
      // flattened values enumerate EVERY visible row's file exactly once
      fz <- gt.fileZones
      decisions = fz.values.flatMap(_.values).toSeq
        .map(z => FileStats.decides(z, cond).map(z -> _))
      if decisions.forall(_.isDefined)
    } yield decisions.flatten.collect { case (z, true) => z }
}
