package graft.catalog.spark

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.DataType

import graft.catalog.ColumnStats

/** Table implementations that can answer an exact row count from metadata. */
trait HasRecordCount {
  /** Exact current row count, or -1 if unknown. */
  def recordCount: Long
}

/** Table implementations that can answer per-column min/max from metadata
  * (snapshot-summary `min.<col>` / `max.<col>` stats recorded at commit). */
trait HasColumnStats {
  /** Canonical stat string for a `min.<col>` / `max.<col>` key, if known. */
  def columnStat(key: String): Option[String]
}

/** Table implementations that can enumerate exact per-file (identity
  * partition values, row count) pairs from commit-time metadata — the
  * inputs of a metadata-served `GROUP BY <partition cols>` count.
  * `None` whenever the serve would be unsound: live merge-on-read
  * deletes (a file's footer count overstates its visible rows), any
  * file not hive-laid on ALL the identity partition columns (compaction
  * rewrites are flat; partition-spec evolution leaves older dirs keyed
  * differently), hidden-transform or bucket layouts (the SQL-visible
  * source column is not layout-exact there), or a missing footer count. */
trait HasPartitionRowCounts {
  /** (identity partition column names, one entry per data file: the
    * file's partition-value path tokens — hive-unescaped, `None` for the
    * null partition — in column order, its exact footer row count, and
    * its commit-time footer stat map (`min.<c>`/`max.<c>`/`nulls.<c>`,
    * for the per-group min/max/count(col) serve)). */
  def partitionRowCounts
      : Option[(Seq[String], Seq[(Seq[Option[String]], Long, Map[String, String])])]
}

/** Table implementations that can answer a column's exact TOTAL null
  * count from commit-time per-file footer stats — what turns a global
  * `COUNT(col)` into metadata arithmetic (`recordCount - nulls`). */
trait HasNullCounts {
  /** Exact null count of `col` across the current snapshot, or None when
    * the fold cannot be proven (live merge-on-read deletes, any file
    * missing the stat). */
  def nullCount(col: String): Option[Long]
}

/** Table implementations laid out by a HIDDEN time transform
  * (`days(ts)`/`hours(ts)`/...) that can enumerate exact per-file
  * (partition unit, row count) pairs from commit-time metadata — the
  * inputs of a metadata-served `GROUP BY date_trunc(...)` count. The
  * unit is the transform's UTC-fixed `__pt` ordinal (`None` for the
  * null-timestamp partition); `None` overall whenever the serve would
  * be unsound (live MoR deletes, an un-laid file, a missing footer
  * count). */
trait HasTransformRowCounts {
  /** (source column name, transform kind hour|day|month|year, one
    * (`__pt` ordinal, exact rows) per data file). Implementations refuse
    * any snapshot where an ordinal could hide null-source rows (the
    * write path folds nulls into ordinal 0), so in a served table every
    * row's source timestamp is non-null and bucketed exactly. */
  def transformRowCounts: Option[(String, String, Seq[(Long, Long)])]
}

/** Table implementations whose content is identified by a stable token
  * that CHANGES whenever the visible data changes (table + snapshot id
  * here). Derived-artifact caches (e.g. IVF coarse-quantizer centroids)
  * key on it: a new snapshot yields a new token, so stale artifacts are
  * never served. */
trait HasSnapshotIdentity {
  def snapshotIdentity: String
}

/** V2 tables whose effective snapshot may carry merge-on-read position
  * deletes. [[MorReadRule]] consults this to swap a raw scan relation for
  * the merged read. `snapshotId` is the reader-option time-travel override
  * (`spark.read.option("snapshot-id", ...)`), if any. */
trait MorMergeable {
  /** True when the effective snapshot has live position-delete files. */
  def morHasDeletes(snapshotId: Option[Long]): Boolean
  /** Resolved logical plan of the MERGED read — covered data files read
    * through the reader-level merge, visible columns in table order. */
  def morMergedPlan(snapshotId: Option[Long]): LogicalPlan
}

/** Implemented by the plugin's `db.t.changes` metadata table: the
  * row-level changelog (readChangelog) exposed as a READABLE RELATION,
  * Iceberg-changelog-view style. The relation swaps for the changelog
  * plan at analysis time ([[ChangelogReadRule]]) because the diff is an
  * arbitrary plan (file-pruned reads + exceptAll), not a V2 file scan. */
trait ChangelogViewable {
  def changelogPlan(fromId: Option[Long], toId: Option[Long]): LogicalPlan
}

/** Swaps `db.t.changes` relations for the changelog plan, carrying the
  * reader's `from-snapshot-id`/`to-snapshot-id` options (defaults: table
  * creation → current). Runs post-hoc like [[MorReadRule]], so the whole
  * optimizer applies to the substituted diff — consumer filters push into
  * its underlying parquet scans. */
class ChangelogReadRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private def idOpt(rel: DataSourceV2Relation, key: String): Option[Long] =
    Option(rel.options).flatMap(o => Option(o.get(key))).map(v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a numeric snapshot id, got '$v'")))
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case rel: DataSourceV2Relation if rel.table.isInstanceOf[ChangelogViewable] =>
        val diff = rel.table.asInstanceOf[ChangelogViewable].changelogPlan(
          idOpt(rel, "from-snapshot-id"), idOpt(rel, "to-snapshot-id"))
        val byName = diff.output.map(a => a.name -> a).toMap
        Project(rel.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId, qualifier = o.qualifier)),
          diff)
    }
}

/** Merge-on-read enforcement for the SQL surface: a scan relation over a
  * snapcat table whose snapshot carries position-delete files is replaced
  * (at analysis time, so the WHOLE optimizer still runs over the result —
  * filters push into the underlying parquet scans, whose readers drop the
  * dead rows) by the library's merged read, re-aliased to the
  * relation's original attribute ids so parent operators resolve
  * untouched. Tables without live deletes pass through and keep the stock
  * V2 scan path — the MoR tax exists only where deletes exist.
  *
  * Row-level DML targets are exempt: a translatable `DELETE FROM` must
  * stay a bare relation for the metadata-delete planner path (the MoR
  * route lives in `deleteWhere` itself), and group-based rewrite scans use
  * `RowLevelOperationTable`, which never implements [[MorMergeable]] (such
  * plans are rejected at scan build over live deletes). Subqueries and
  * MERGE sources over MoR tables DO merge — they are plain reads. */
class MorReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def snapIdOf(rel: DataSourceV2Relation): Option[Long] =
    Option(rel.options).flatMap(o =>
      Option(o.get("snapshot-id")).orElse(Option(o.get("as_of_snapshot_id"))))
      // non-numeric values pass through untouched so the scan builder's
      // friendly "must be numeric" error stays the one the user sees
      .flatMap(_.toLongOption)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // MV-rewrite MATCHING analyses run with scan substitution suppressed:
    // those plans exist only to be compared against a user query (never
    // executed), and a substituted leaf would hide the relation identity
    // the comparison needs. Every executed read keeps the MoR merge.
    if (MvRewriteRule.substitutionSuppressed) return plan
    // DML write targets, by reference identity: they must keep their
    // relation shape for the row-level planners even when readable.
    // An aliased target (`DELETE FROM t AS x`, `MERGE INTO t x`) wraps the
    // relation in SubqueryAlias, so protect every relation REACHABLE from
    // the target subtree, not just the root node — the target is only ever
    // a (possibly aliased) relation, never a join, so this cannot
    // over-protect a source read.
    val protectedRels = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def protectAll(target: LogicalPlan): Unit = target.foreach {
      case rel: DataSourceV2Relation => protectedRels.add(rel)
      case _ =>
    }
    plan.foreachWithSubqueries {
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
        protectAll(d.table)
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        protectAll(u.table)
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
        protectAll(m.targetTable)
      case r: org.apache.spark.sql.catalyst.plans.logical.ReplaceData =>
        protectAll(r.originalTable)
      case _ =>
    }
    plan.transformUpWithSubqueries {
      case rel: DataSourceV2Relation if !protectedRels.contains(rel) &&
          rel.table.isInstanceOf[MorMergeable] &&
          rel.table.asInstanceOf[MorMergeable].morHasDeletes(snapIdOf(rel)) =>
        val merged = rel.table.asInstanceOf[MorMergeable].morMergedPlan(snapIdOf(rel))
        val byName = merged.output.map(a => a.name -> a).toMap
        Project(rel.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId, qualifier = o.qualifier)),
          merged)
    }
  }
}

/** Scan substitution for the SupportsDelta row-level SQL path: the rewrite
  * plan ([[org.apache.spark.sql.catalyst.plans.logical.WriteDelta]] —
  * produced by Spark's RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable during analysis when the table hands out a
  * [[graft.catalog.spark.SnapDeltaOperation]]) reads the target through a
  * V2 relation that must emit each row's (file, position) identity. The
  * stock parquet V2 scan cannot; the library's merged position-tagged read
  * can — so this rule swaps the relation for that plan AT THE END OF
  * ANALYSIS, re-aliased to the relation's attribute ids. The whole
  * optimizer still runs over the result: the DML condition pushes into the
  * substituted parquet scans, whose readers drop rows live delete files
  * kill, and Spark's own MergeRows / split-update machinery (action
  * ordering, cardinality checks) operates untouched on top.
  *
  * Candidate scoping: the rewrite's static condition (UPDATE/DELETE WHERE)
  * is rebound by NAME and handed to footer-stat file pruning — files that
  * provably contain no match are never scanned. Conditions with
  * subqueries or nondeterminism degrade to the full candidate list
  * (pruning is an optimization; the query itself applies the exact
  * condition either way). */
class MorDeltaScanRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNotNull, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.WriteDelta

  import graft.catalog.spark.{MorDeltaRoutable => Routable}

  /** The DML condition as a name-bound Column usable for file pruning, or
    * None when it cannot scope files (always-true, subquery, nondet, or
    * referencing non-target attributes — a MERGE's ON clause names source
    * columns the table scan cannot resolve). */
  private def usableCond(e: Expression,
      rel: DataSourceV2Relation): Option[org.apache.spark.sql.Column] = e match {
    case Literal(true, org.apache.spark.sql.types.BooleanType) => None
    case _ if e.exists(_.isInstanceOf[SubqueryExpression]) => None
    case _ if !e.deterministic => None
    case _ if !e.references.subsetOf(rel.outputSet) => None
    case _ =>
      val byName = e.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      }
      Some(org.apache.spark.sql.GraftColumnBridge.column(byName))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case wd: WriteDelta =>
      val newQuery = wd.query.transformUp {
        case rel: DataSourceV2Relation if org.apache.spark.sql.GraftColumnBridge
            .rowLevelOperation(rel.table).exists(_.isInstanceOf[Routable]) =>
          val op = org.apache.spark.sql.GraftColumnBridge
            .rowLevelOperation(rel.table).get.asInstanceOf[Routable]
          val merged = op.deltaScanPlan(usableCond(wd.condition, rel))
          val byName = merged.output.map(a => a.name -> a).toMap
          Project(rel.output.map { o =>
            val child = byName.getOrElse(o.name, throw new IllegalStateException(
              s"merged delta scan lacks column ${o.name}: has " +
                merged.output.map(_.name).mkString(",")))
            // row-id attrs are declared non-nullable; the merged plan's
            // columns (the reader's file and row index) are provably
            // non-null per row — assert it so the plan's nullability
            // matches the rewrite's projections
            val typed = if (!o.nullable && child.nullable) KnownNotNull(child) else child
            Alias(typed, o.name)(exprId = o.exprId, qualifier = o.qualifier)
          }, merged)
      }
      if (newQuery eq wd.query) wd else wd.copy(query = newQuery)
  }
}

/** Metadata-served aggregates: rewrites an unfiltered, ungrouped
  * COUNT/MIN/MAX-only aggregate over a snapcat table into a literal row
  * from the snapshot log — the Iceberg manifest-stats optimization
  * (SURVEY §4: the reference leans on Iceberg serving `count()` from
  * metadata at `5_migrate_tables_data.py:76`, `6_verify_data_integrity
  * .py:74-75`; min/max ride the same summary, recorded in the commit's
  * own Observation pass). At 100 TB this turns a full scan into an O(1)
  * log lookup.
  *
  * Deliberately surgical: fires only when
  *   - the aggregate has NO grouping expressions,
  *   - EVERY output is an alias of `count(1)`/`count(*)`, `min(col)` or
  *     `max(col)` on a BARE column (no distinct, no filter clause, no
  *     expression inside the aggregate),
  *   - the child is a bare [[DataSourceV2Relation]] (or a filterless scan
  *     relation) over a table exposing [[HasRecordCount]] — any
  *     Filter in between means the aggregate is no longer table-wide,
  *   - min/max columns resolve BY EXPRESSION ID to the relation's own
  *     output (a rename in an intermediate Project can therefore never
  *     alias one column's stats onto another), and their stats exist.
  * If any single output is not servable the whole plan is left alone.
  */
object MetadataCountRule extends Rule[LogicalPlan] {

  private def servableShape(e: AggregateExpression): Boolean = e match {
    case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) => true
    case AggregateExpression(Count(Seq(_: AttributeReference)), Complete, false, None, _) => true
    case AggregateExpression(Min(_: AttributeReference), Complete, false, None, _) => true
    case AggregateExpression(Max(_: AttributeReference), Complete, false, None, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // NOTE: guard-style match — `Aggregate(Nil, ...)` would silently never
    // fire (groupingExpressions is an empty ArraySeq in the optimizer, and
    // the `Nil` pattern only matches scala.Nil).
    case agg: Aggregate
        if agg.groupingExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
          !hasFilterChild(agg.child) &&
          agg.aggregateExpressions.forall {
            case Alias(ae: AggregateExpression, _) => servableShape(ae)
            case _ => false
          } =>
      metadataTable(agg.child) match {
        case Some((table, attrs)) =>
          val values = agg.aggregateExpressions.map {
            case Alias(ae: AggregateExpression, _) => serve(table, attrs, ae)
            case _ => None
          }
          if (values.forall(_.isDefined))
            LocalRelation(agg.output.map(_.toAttribute),
              Seq(InternalRow(values.map(_.get): _*)))
          else agg
        case None => agg
      }

    // GROUP BY <identity partition cols> and/or a partition-column-only
    // WHERE + COUNT(*): served from per-file partition values + footer
    // row counts — zero tasks for "rows per day" or "rows in day X" over
    // a 100-TB table. Sound because every row of a hive-laid file shares
    // its directory's partition values exactly, so a partition-only
    // predicate admits files row-exactly (the table refuses with None on
    // any layout that breaks that: live MoR deletes, flat rewrite files,
    // evolved specs, transforms).
    case agg: Aggregate
        if agg.aggregateExpressions.nonEmpty &&
          (agg.groupingExpressions.nonEmpty || hasFilterChild(agg.child)) =>
      serveGrouped(agg).orElse(serveTransformGrouped(agg)).getOrElse(agg)
  }

  /** `GROUP BY date_trunc(level, ts)` / `CAST(ts AS DATE)` + COUNT over a
    * HIDDEN-time-transform table (`days(ts)`/`hours(ts)`/...): served
    * from per-file `__pt` ordinals + exact footer row counts — the
    * daily-ingest-counts query on a time-partitioned lake, zero tasks.
    * Sound because the layout is UTC-fixed epoch arithmetic: when the
    * grouping expression's time zone resolves to UTC it buckets rows
    * exactly as `__pt` does, and coarser levels fold by exact integer /
    * UTC-calendar arithmetic (an hours(ts) table serves daily and
    * monthly counts too). COUNT(ts) is exact as well: null timestamps
    * land in precisely the null partition directory. Filters refuse (a
    * timestamp predicate admits a unit's files only may-exactly);
    * non-UTC zones refuse (their calendar days differ from the layout);
    * finer-than-layout groupings refuse. */
  private def serveTransformGrouped(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, TruncTimestamp}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    // projections compose alias maps (PullOutGroupingExpressions names
    // the grouping expression in a Project below the aggregate); at most
    // one Filter is captured for the unit-aligned-range check below
    def collect(p: LogicalPlan, acc: Map[ExprId, Expression],
        cond: Option[Expression])
        : Option[(LogicalPlan, Map[ExprId, Expression], Option[Expression])] =
      p match {
        case Project(pl, g) =>
          collect(g, acc ++ pl.collect { case al @ Alias(e, _) => al.exprId -> e },
            cond)
        case Filter(c, g) if cond.isEmpty => collect(g, acc, Some(c))
        case _: Filter => None
        case rel => Some((rel, acc, cond))
      }
    val (rel, aliases, cond) =
      collect(agg.child, Map.empty, None).getOrElse(return None)
    def deref(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliases.contains(a.exprId) =>
        deref(aliases(a.exprId))
    }
    val (table, attrs) = metadataTable(rel).getOrElse(return None)
    val (srcCol, kind, files) = Some(table)
      .collect { case t: HasTransformRowCounts => t }
      .flatMap(_.transformRowCounts).getOrElse(return None)
    def utc(tz: Option[String]): Boolean = tz.exists(z =>
      scala.util.Try(java.time.ZoneId.of(z).normalized() ==
        java.time.ZoneOffset.UTC).getOrElse(false))
    import org.apache.spark.sql.types.TimestampNTZType
    def srcOf(a: AttributeReference, dts: org.apache.spark.sql.types.DataType*)
        : Boolean = attrs.get(a.exprId).exists { case (n, dt) =>
      n == srcCol && dts.contains(dt) }
    // the source column reference, optionally through the analyzer's
    // NTZ→TIMESTAMP cast: the layout reads an NTZ wall time AS UTC
    // (TimeTransform.ptColumn), and casting NTZ to TIMESTAMP under a UTC
    // zone is the same reading — the composition stays bucket-exact.
    // Yields whether the resulting operand is zone-SENSITIVE (a true
    // TIMESTAMP needs the consuming expression's zone to be UTC; a bare
    // NTZ operand is a literal field read, zone-free).
    def srcOperand(e: Expression): Option[Boolean] = e match {
      case a: AttributeReference if srcOf(a, TimestampType) => Some(true)
      case a: AttributeReference if srcOf(a, TimestampNTZType) => Some(false)
      case c @ Cast(a: AttributeReference, TimestampType, _, _)
          if srcOf(a, TimestampNTZType) && utc(c.timeZoneId) => Some(true)
      case _ => None
    }
    // the grouping expression: absent for the filter-only global count
    val groupExprOpt: Option[Expression] = agg.groupingExpressions match {
      case Seq() if cond.isDefined => None
      case Seq(g) => Some(deref(g))
      case _ => return None
    }
    val levelOf = Map("HOUR" -> "hour", "DAY" -> "day", "DD" -> "day",
      "MONTH" -> "month", "MON" -> "month", "MM" -> "month",
      "YEAR" -> "year", "YYYY" -> "year", "YY" -> "year")
    val levelAsDate: Option[(String, Boolean)] = groupExprOpt.map {
      case c @ Cast(inner, DateType, _, _) =>
        srcOperand(inner) match {
          case Some(zoned) if !zoned || utc(c.timeZoneId) => ("day", true)
          case _ => return None
        }
      case t @ TruncTimestamp(Literal(fmt, _), inner, _) if fmt != null =>
        srcOperand(inner) match {
          case Some(zoned) if !zoned || utc(t.timeZoneId) =>
            (levelOf.getOrElse(
              String.valueOf(fmt).toUpperCase(java.util.Locale.ROOT),
              return None), false)
          case _ => return None
        }
      case _ => return None
    }
    // the requested level must be a (non-strict) coarsening of the layout
    val order = Seq("hour", "day", "month", "year")
    levelAsDate.foreach { case (level, _) =>
      if (order.indexOf(level) < order.indexOf(kind)) return None }
    def epochDayOf(pt: Long): Long =
      if (kind == "hour") Math.floorDiv(pt, 24L) else pt
    def monthIdxOf(pt: Long): Long = kind match {
      case "month" => pt
      case "year" => pt * 12L
      case _ =>
        val ld = java.time.LocalDate.ofEpochDay(epochDayOf(pt))
        (ld.getYear - 1970).toLong * 12L + (ld.getMonthValue - 1)
    }
    def monthStartMicros(m: Long): Long =
      java.time.LocalDateTime.of((1970 + Math.floorDiv(m, 12L)).toInt,
        (Math.floorMod(m, 12L) + 1).toInt, 1, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    def valueOf(pt: Long): Any = levelAsDate match {
      case Some(("hour", _)) => pt * 3600000000L // level >= kind: kind == hour
      case Some(("day", asDate)) =>
        if (asDate) epochDayOf(pt).toInt else epochDayOf(pt) * 86400000000L
      case Some(("month", _)) => monthStartMicros(monthIdxOf(pt))
      case Some(("year", _)) =>
        monthStartMicros(Math.floorDiv(monthIdxOf(pt), 12L) * 12L)
      case _ => throw new IllegalStateException("valueOf without grouping")
    }
    sealed trait Out
    case object G extends Out; case object N extends Out
    val outs: Seq[Out] = agg.aggregateExpressions.map { e =>
      val d = e match { case Alias(x, _) => deref(x); case x => deref(x) }
      d match {
        case x if groupExprOpt.exists(x.semanticEquals) => G
        case AggregateExpression(
          Count(Seq(Literal(1, _))), Complete, false, None, _) => N
        // a served table provably holds no null source timestamps (the
        // ordinal-0 refusal), so count(ts) degenerates to count(*)
        case AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, false, None, _)
            if srcOf(a, TimestampType, TimestampNTZType) => N
        case _ => return None
      }
    }
    // UNIT-ALIGNED time-range admission: a WHERE of >=/< bounds on the
    // source timestamp admits whole layout units row-exactly when every
    // bound lands exactly on a unit boundary ("rows per day in January"
    // — the canonical half-open range spelling). A bound inside a unit
    // could split that unit's rows, which metadata cannot count: refuse.
    // IsNotNull(ts) is vacuous on a served table (the ordinal-0 refusal
    // proves no nulls). Anything else refuses.
    def uStartMicros(pt: Long): Long = kind match {
      case "hour" => pt * 3600000000L
      case "day" => pt * 86400000000L
      case "month" => monthStartMicros(pt)
      case "year" => monthStartMicros(pt * 12L)
    }
    val admit: Long => Boolean = cond match {
      case None => _ => true
      case Some(c0) =>
        import org.apache.spark.sql.catalyst.expressions.{And, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
        def conjs(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjs(l) ++ conjs(r)
          case other => Seq(other)
        }
        def aligned(l: Long): Boolean = kind match {
          case "hour" => Math.floorMod(l, 3600000000L) == 0L
          case "day" => Math.floorMod(l, 86400000000L) == 0L
          case k =>
            if (Math.floorMod(l, 1000000L) != 0L) false
            else {
              val ldt = java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(l, 1000000L), 0, java.time.ZoneOffset.UTC)
              ldt.getDayOfMonth == 1 && ldt.getHour == 0 &&
                ldt.getMinute == 0 && ldt.getSecond == 0 &&
                (k == "month" || ldt.getMonthValue == 1)
            }
        }
        var lo = Long.MinValue; var hi = Long.MaxValue
        conjs(deref(c0)).foreach {
          case IsNotNull(e) if srcOperand(e).isDefined => ()
          case GreaterThanOrEqual(e, Literal(l: Long, _))
              if srcOperand(e).isDefined =>
            if (!aligned(l)) return None; lo = math.max(lo, l)
          case LessThanOrEqual(Literal(l: Long, _), e)
              if srcOperand(e).isDefined =>
            if (!aligned(l)) return None; lo = math.max(lo, l)
          case LessThan(e, Literal(l: Long, _)) if srcOperand(e).isDefined =>
            if (!aligned(l)) return None; hi = math.min(hi, l)
          case GreaterThan(Literal(l: Long, _), e) if srcOperand(e).isDefined =>
            if (!aligned(l)) return None; hi = math.min(hi, l)
          case _ => return None
        }
        pt => uStartMicros(pt) >= lo && uStartMicros(pt + 1) <= hi
    }
    val rows =
      if (groupExprOpt.isEmpty) {
        var n = 0L
        files.foreach { case (pt, r) => if (admit(pt)) n += r }
        Seq(InternalRow(outs.map { case N => n; case G => return None }: _*))
      } else {
        val grouped = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        files.foreach { case (pt, rows0) =>
          if (admit(pt)) {
            val key: Any = valueOf(pt)
            grouped(key) = grouped.getOrElse(key, 0L) + rows0
          }
        }
        grouped.toSeq.map { case (key, n) =>
          InternalRow(outs.map { case G => key; case N => n }: _*)
        }
      }
    Some(LocalRelation(agg.output.map(_.toAttribute), rows))
  }

  /** Projections never change cardinality — is there a Filter between the
    * aggregate and its relation? (Gates the grouped case so the global
    * unfiltered shape keeps its original min/max-capable path.) */
  private def hasFilterChild(p: LogicalPlan): Boolean = p match {
    case Project(_, g) => hasFilterChild(g)
    case _: Filter => true
    case _ => false
  }

  /** Peel projections and at most one Filter off the aggregate child —
    * the shapes between an Aggregate and its relation at this phase
    * (CombineFilters has already merged stacked filters). */
  private def peelFilter(p: LogicalPlan, cond: Option[Expression])
      : (LogicalPlan, Option[Expression]) = p match {
    case Project(_, g) => peelFilter(g, cond)
    case Filter(c, g) if cond.isEmpty => peelFilter(g, Some(c))
    case rel => (rel, cond)
  }

  /** The grouped/filtered serve, or None when any piece falls outside the
    * sound shape (grouping or filtering on non-partition columns,
    * aggregates beyond COUNT(*), non-deterministic predicates,
    * unparseable path tokens, ...). */
  private def serveGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val (rel, cond) = peelFilter(agg.child, None)
    val (table, attrs) = metadataTable(rel).getOrElse(return None)
    val (pcols, files) = Some(table)
      .collect { case p: HasPartitionRowCounts => p }
      .flatMap(_.partitionRowCounts).getOrElse(return None)
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val groupCols = groupAttrs.map(a =>
      attrs.get(a.exprId).map(_._1).getOrElse(return None))
    if (!groupCols.forall(pcols.contains)) return None
    // outputs: grouped attributes (possibly aliased), COUNT(*),
    // COUNT(col), and MIN/MAX(col) where per-file metadata answers
    // exactly. Data columns serve from footer stats — integral types
    // only (float/double bounds go missing under NaN and fold -0.0/0.0
    // ambiguously; string bounds may be writer-truncated — valid for
    // pruning, never for answers); partition columns serve from their
    // path tokens, which are full values (integral + string admitted —
    // the types [[ColumnStats.gt]] orders canonically).
    val groupIdx = groupAttrs.map(_.exprId).zipWithIndex.toMap
    sealed trait Out
    case class GroupCol(pos: Int) extends Out
    case object CountStar extends Out
    case class CountCol(col: String, partIdx: Option[Int]) extends Out
    case class MinMaxCol(col: String, dt: DataType, isMin: Boolean,
      partIdx: Option[Int]) extends Out
    def integral(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    def resolve(a: AttributeReference): Option[(String, DataType, Option[Int])] =
      attrs.get(a.exprId).map { case (n, dt) =>
        (n, dt, Some(pcols.indexOf(n)).filter(_ >= 0)) }
    val outs: Seq[Out] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        GroupCol(groupIdx.getOrElse(a.exprId, return None))
      case Alias(a: AttributeReference, _) =>
        GroupCol(groupIdx.getOrElse(a.exprId, return None))
      case Alias(AggregateExpression(af, Complete, false, None, _), _) => af match {
        case Count(Seq(Literal(1, _))) => CountStar
        case Count(Seq(a: AttributeReference)) =>
          val (n, _, pi) = resolve(a).getOrElse(return None)
          CountCol(n, pi)
        case Min(a: AttributeReference) =>
          val (n, dt, pi) = resolve(a).getOrElse(return None)
          val ok = if (pi.isDefined)
            integral(dt) || dt == org.apache.spark.sql.types.StringType
          else integral(dt)
          if (!ok) return None
          MinMaxCol(n, dt, isMin = true, pi)
        case Max(a: AttributeReference) =>
          val (n, dt, pi) = resolve(a).getOrElse(return None)
          val ok = if (pi.isDefined)
            integral(dt) || dt == org.apache.spark.sql.types.StringType
          else integral(dt)
          if (!ok) return None
          MinMaxCol(n, dt, isMin = false, pi)
        case _ => return None
      }
      case _ => return None
    }
    val colPos = groupCols.map(pcols.indexOf)
    val dts = groupAttrs.map(a => attrs(a.exprId)._2)
    // one token -> internal value, exactly as Spark's read-time partition
    // inference casts the directory string (session-zone Cast); a token
    // the cast cannot parse makes the whole serve refuse — the scan path
    // would surface the same value differently, so never guess. Memoized
    // per (type, token): a 10^6-file table has ~10^3 distinct partition
    // values, so the driver pays one interpreted Cast per VALUE, not per
    // file
    val castMemo = scala.collection.mutable.HashMap.empty[(DataType, String), Option[Any]]
    def castTok(tok: Option[String], dt: DataType): Option[Any] = tok match {
      case None => Some(null)
      case Some(s) => castMemo.getOrElseUpdate((dt, s), {
        val lit = Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType)
        if (dt == org.apache.spark.sql.types.StringType) Some(lit.value)
        else Option(org.apache.spark.sql.catalyst.expressions.Cast(
          lit, dt, Some(conf.sessionLocalTimeZone)).eval(null))
      })
    }
    // a WHERE over partition columns only admits whole files row-exactly:
    // bind it against the referenced partition attributes and evaluate on
    // each file's partition values (SQL semantics fall out — a null value
    // evaluates the predicate to null, which excludes the file's rows)
    val admit: Seq[Option[String]] => Boolean = cond match {
      case None => _ => true
      case Some(c) =>
        if (!c.deterministic) return None
        val refs = c.references.toSeq
        val refCols = refs.map(r =>
          attrs.get(r.exprId).map(_._1).getOrElse(return None))
        if (!refCols.forall(pcols.contains)) return None
        val refPos = refCols.map(pcols.indexOf)
        val pred = org.apache.spark.sql.catalyst.expressions.Predicate
          .createInterpreted(org.apache.spark.sql.catalyst.expressions
            .BindReferences.bindReference(c,
              org.apache.spark.sql.catalyst.expressions.AttributeSeq(refs)))
        pred.initialize(0)
        vals => pred.eval(InternalRow(refPos.zip(refs).map { case (i, r) =>
          castTok(vals(i), r.dataType).getOrElse(return None)
        }: _*))
    }
    // fold per-group state from the admitted files: exact row counts,
    // per-column non-null counts (footer null counts / token nullness),
    // canonical extremum strings (all-null files contribute nothing, the
    // SQL min/max semantics; a file that can't PROVE its contribution —
    // missing bound without a covering all-null proof — refuses the serve)
    final class GState {
      var n = 0L
      val cc = scala.collection.mutable.HashMap.empty[String, Long]
      val mm = scala.collection.mutable.HashMap.empty[(String, Boolean), String]
    }
    val grouped = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], GState]
    files.foreach { case (vals, rows, stats) =>
      if (admit(vals)) {
        val key = colPos.zip(dts).map { case (i, dt) =>
          castTok(vals(i), dt).getOrElse(return None)
        }
        val st = grouped.getOrElseUpdate(key, new GState)
        st.n += rows
        outs.foreach {
          case CountCol(c, pi) =>
            val nn = pi match {
              case Some(i) => if (vals(i).isDefined) rows else 0L
              case None =>
                val nulls = stats.get(s"nulls.$c").map(_.toLong)
                  .getOrElse(return None)
                rows - nulls
            }
            st.cc(c) = st.cc.getOrElse(c, 0L) + nn
          case MinMaxCol(c, dt, isMin, pi) =>
            val tok: Option[String] = pi match {
              case Some(i) => vals(i)
              case None =>
                val key0 = (if (isMin) "min." else "max.") + c
                stats.get(key0) match {
                  case some @ Some(_) => some
                  case None =>
                    // no bound: sound only when the file provably holds
                    // no values (empty, or footer-proven all-null)
                    val allNull = rows == 0L ||
                      stats.get(s"nulls.$c").map(_.toLong).contains(rows)
                    if (!allNull) return None
                    None
                }
            }
            tok.foreach { t =>
              st.mm((c, isMin)) = st.mm.get((c, isMin)) match {
                case None => t
                case Some(prev) =>
                  val takeNew =
                    if (isMin) ColumnStats.gt(dt, prev, t)
                    else ColumnStats.gt(dt, t, prev)
                  if (takeNew) t else prev
              }
            }
          case _ => ()
        }
      }
    }
    object Refused extends RuntimeException
    def outVal(st: GState, key: Seq[Any], o: Out): Any = o match {
      case GroupCol(g) => key(g)
      case CountStar => st.n
      case CountCol(c, _) => st.cc.getOrElse(c, 0L)
      case MinMaxCol(c, dt, isMin, pi) => st.mm.get((c, isMin)) match {
        case None => null // no admitted file held a value: SQL min/max = null
        case Some(s) =>
          // partition tokens cast like group keys; footer canonicals
          // parse through the stat layer — unparseable refuses the serve
          (if (pi.isDefined) castTok(Some(s), dt)
           else ColumnStats.internalValue(dt, s)).getOrElse(throw Refused)
      }
    }
    // global aggregate (filter-only shape): exactly one row — count 0 /
    // null extrema when nothing is admitted; grouped shape: one row per
    // surviving group
    try {
      val rows = if (agg.groupingExpressions.isEmpty) {
        val st = grouped.getOrElse(Seq.empty, new GState)
        Seq(InternalRow(outs.map(outVal(st, Seq.empty, _)): _*))
      } else grouped.toSeq.map { case (key, st) =>
        InternalRow(outs.map(outVal(st, key, _)): _*)
      }
      Some(LocalRelation(agg.output.map(_.toAttribute), rows))
    } catch { case Refused => None }
  }

  private def serve(table: HasRecordCount, attrs: Map[ExprId, (String, DataType)],
      ae: AggregateExpression): Option[Any] = {
    def stat(a: AttributeReference, kind: String): Option[Any] =
      for {
        (name, dt) <- attrs.get(a.exprId)
        stats <- Some(table).collect { case s: HasColumnStats => s }
        raw <- stats.columnStat(s"$kind.$name")
        v <- ColumnStats.internalValue(dt, raw)
      } yield v
    ae.aggregateFunction match {
      case Count(Seq(Literal(1, _))) if table.recordCount >= 0 =>
        Some(table.recordCount)
      // COUNT(col) = rows minus the column's folded footer null count —
      // exact whenever the table can prove the fold (no live deletes,
      // every file carrying the nulls stat)
      case Count(Seq(a: AttributeReference)) if table.recordCount >= 0 =>
        for {
          (name, _) <- attrs.get(a.exprId)
          nc <- Some(table).collect { case s: HasNullCounts => s }
          nulls <- nc.nullCount(name)
        } yield table.recordCount - nulls
      case Min(a: AttributeReference) => stat(a, "min")
      case Max(a: AttributeReference) => stat(a, "max")
      case _ => None
    }
  }

  /** The table plus its output-attribute map, ONLY when the child is
    * provably the whole table: a bare relation, or a scan relation whose
    * scan carries zero pushed/partition/data filters (a consumed partition
    * filter would make table-wide stats wrong). */
  private def metadataTable(child: LogicalPlan)
      : Option[(HasRecordCount, Map[ExprId, (String, DataType)])] = {
    def fromRelation(rel: DataSourceV2Relation)
        : Option[(HasRecordCount, Map[ExprId, (String, DataType)])] = {
      // reader options can redirect the SCAN to another snapshot
      // (spark.read.option("snapshot-id", ...)); the Table object still
      // carries the CURRENT snapshot's stats — never serve them then.
      val redirected = rel.options != null &&
        (rel.options.containsKey("snapshot-id") || rel.options.containsKey("as_of_snapshot_id"))
      rel.table match {
        case h: HasRecordCount if !redirected =>
          Some((h, rel.output.map(a => a.exprId -> (a.name, a.dataType)).toMap))
        case _ => None
      }
    }
    child match {
      // projections never change cardinality, and min/max attributes are
      // resolved by exprId against the RELATION output (an alias introduced
      // here has a fresh exprId and simply fails the lookup) — look through
      case Project(_, grandchild) => metadataTable(grandchild)
      case rel: DataSourceV2Relation => fromRelation(rel)
      case DataSourceV2ScanRelation(rel, scan: ParquetScan, _, _, _)
          if scan.pushedFilters.isEmpty && scan.partitionFilters.isEmpty &&
            scan.dataFilters.isEmpty =>
        fromRelation(rel)
      case _ => None
    }
  }
}

/** Makes `SELECT ... FROM <graftcat>.db.v` resolve when `v` is a
  * versioned VIEW in a [[SnapCatalogPlugin]] catalog. Spark 4.1 ships
  * the DSv2 `ViewCatalog` API but no analyzer integration, so without
  * this rule a view reference dies as TABLE_OR_VIEW_NOT_FOUND (Iceberg
  * carries equivalent extension rules for the same gap). The stored SQL
  * is parsed and substituted in place (late-binding: underlying schema
  * evolution flows through on the next query); later analyzer passes
  * resolve the body, including nested views through this same rule.
  * Cycles cannot arise from same-catalog definitions — create/replace
  * walks the stored view graph and refuses self-reachability; a cycle
  * smuggled ACROSS catalogs surfaces as the analyzer's max-iteration
  * error. DML onto a view stays unresolved (tables only). */
class ViewSubstitutionRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedSubqueryColumnAliases}
  import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

  private def resolveParts(parts: Seq[String])
      : Option[(String, String, String)] = {
    val cm = spark.sessionState.catalogManager
    parts match {
      case Seq(c, d, n) if cm.isCatalogRegistered(c) => Some((c, d, n))
      case Seq(d, n) => Some((cm.currentCatalog.name(), d, n))
      case Seq(n) if cm.currentNamespace.length == 1 =>
        Some((cm.currentCatalog.name(), cm.currentNamespace.head, n))
      case _ => None
    }
  }

  private def bodyPlan(catName: String, db: String, name: String,
      ver: graft.catalog.ViewVersion): LogicalPlan = {
    val body = spark.sessionState.sqlParser.parsePlan(ver.sql)
    val aliased =
      if (ver.columnAliases.isEmpty) body
      else UnresolvedSubqueryColumnAliases(ver.columnAliases, body)
    SubqueryAlias(Seq(catName, db, name), aliased)
  }

  private def substitute(u: UnresolvedRelation): Option[LogicalPlan] =
    resolveParts(u.multipartIdentifier).flatMap { case (catName, db, name) =>
      spark.sessionState.catalogManager.catalog(catName) match {
        case p: SnapCatalogPlugin =>
          p.snapViews.loadView(db, name).map { vm =>
            vm.properties.get("materialized") match {
              // a MATERIALIZED view reads its backing TABLE (refresh keeps
              // it current); the SQL body never re-runs on the read path.
              // The read projects to the view's RECORDED schema — an
              // augmented aggregate backing carries hidden __mv_ partial
              // columns (sum/count decompositions for delete-retraction)
              // that must never surface through the view
              case Some(mvTable) =>
                val visible = org.apache.spark.sql.types.StructType
                  .fromDDL(vm.currentVersion.schemaDdl).fieldNames
                SubqueryAlias(Seq(catName, db, name),
                  org.apache.spark.sql.catalyst.plans.logical.Project(
                    visible.toIndexedSeq.map(n =>
                      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(n))),
                    UnresolvedRelation(Seq(catName, db, mvTable))))
              case None => bodyPlan(catName, db, name, vm.currentVersion)
            }
          }
        case _ => None
      }
    }

  /** `VERSION AS OF n` / `TIMESTAMP AS OF ts` on a VIEW time-travels the
    * DEFINITION: the named (or as-of-time latest) historical version's
    * body evaluates LIVE against today's data — "what would last
    * quarter's metric definition say now". (The data-as-of question
    * belongs to the underlying tables' own time travel.) Works for
    * materialized views too — their historical definitions re-run live. */
  private def substituteAt(parts: Seq[String], version: Option[String],
      tsExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[LogicalPlan] =
    resolveParts(parts).flatMap { case (catName, db, name) =>
      spark.sessionState.catalogManager.catalog(catName) match {
        case p: SnapCatalogPlugin =>
          p.snapViews.loadView(db, name).map { vm =>
            val target = (version, tsExpr) match {
              case (Some(v), _) =>
                val vn = v.toIntOption.getOrElse(throw new IllegalArgumentException(
                  s"view $db.$name: VERSION AS OF must be a numeric view version, got '$v'"))
                vm.versions.find(_.version == vn).getOrElse(
                  throw new IllegalArgumentException(
                    s"view $db.$name has no version $vn " +
                      s"(have: ${vm.versions.map(_.version).mkString(",")})"))
              case (None, Some(e)) =>
                val asOf = e.eval() match {
                  case l: java.lang.Long => // timestamp-typed: micros
                    java.time.Instant.ofEpochSecond(
                      l / 1000000L, (l % 1000000L) * 1000L)
                  case s: org.apache.spark.unsafe.types.UTF8String =>
                    val str = s.toString
                    try java.time.Instant.parse(str)
                    catch { case _: Exception =>
                      // "yyyy-MM-dd HH:mm:ss" read in the session zone
                      java.time.LocalDateTime.parse(str.replace(' ', 'T'))
                        .atZone(java.time.ZoneId.of(
                          spark.sessionState.conf.sessionLocalTimeZone)).toInstant
                    }
                  case other => throw new IllegalArgumentException(
                    s"view $db.$name: TIMESTAMP AS OF must fold to a timestamp, got $other")
                }
                vm.versions.filter(v =>
                    !java.time.Instant.parse(v.timestampUtc).isAfter(asOf))
                  .sortBy(_.version).lastOption.getOrElse(
                    throw new IllegalArgumentException(
                      s"view $db.$name: no version existed at $asOf " +
                        s"(first: ${vm.versions.head.timestampUtc})"))
              case _ => vm.currentVersion
            }
            bodyPlan(catName, db, name, target)
          }
        case _ => None
      }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, MergeIntoTable, UpdateTable}
    // DML targets must stay tables — collect them BEFORE substituting
    // (transformUp rewrites children first, so a guard on the statement
    // node alone would arrive too late)
    def targetOf(t: LogicalPlan): Seq[Seq[String]] = t match {
      case u: UnresolvedRelation => Seq(u.multipartIdentifier)
      case _ => Nil
    }
    val writeTargets: Set[Seq[String]] = plan.collect {
      case i: InsertIntoStatement => targetOf(i.table)
      case d: DeleteFromTable => targetOf(d.table)
      case up: UpdateTable => targetOf(up.table)
      case m: MergeIntoTable => targetOf(m.targetTable)
    }.flatten.toSet
    plan.transformUpWithSubqueries {
      case rtt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedRelation, ts, ver) if !u.isStreaming =>
        substituteAt(u.multipartIdentifier, ver, ts).getOrElse(rtt)
      case u: UnresolvedRelation
          if !u.isStreaming && !writeTargets(u.multipartIdentifier) =>
        substitute(u).getOrElse(u)
    }
  }
}

/** Session extensions entry point:
  * `spark.sql.extensions=graft.catalog.spark.GraftSparkExtensions`. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => MetadataCountRule)
    e.injectResolutionRule(s => new ViewSubstitutionRule(s))
    // MV rewrite runs FIRST: it must see the clean pre-MoR scan relation,
    // and the backing read it emits re-enters the full pipeline anyway
    e.injectPostHocResolutionRule(s => new MvRewriteRule(s))
    e.injectPostHocResolutionRule(s => new MorReadRule(s))
    e.injectPostHocResolutionRule(s => new MorDeltaScanRule(s))
    e.injectPostHocResolutionRule(s => new ChangelogReadRule(s))
    GraftSqlFunctions.all.foreach(e.injectFunction)
  }
}

/** SQL registration for the native Catalyst kernels: every kernel the
  * library exposes as a `Column` function is also callable from plain SQL
  * (`SELECT graft_simhash64(text) FROM …`) — the same compiled expression,
  * no UDF wrapper, so SQL users get identical semantics AND identical
  * per-row cost. Arity and literal-argument errors surface at analysis
  * time with the function name, like built-ins. */
object GraftSqlFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, RegExpCount}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

  import graft.functions.{DeflateSize, DotProduct, HyperplaneBuckets, LangId, MinHashSignature, RepetitionStats, SimHash64, UnicodeNormalize, WordShingles}

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${args.length}")

  /** A literal Int argument (analysis-time parameters like shingle width
    * must fold — a per-row width has no kernel). */
  private def intLit(name: String, arg: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType && e.eval() != null)
      e.eval().asInstanceOf[Int]
    else throw new IllegalArgumentException(
      s"$name: $arg must be a literal INT, got ${e.sql}")

  private def fn(name: String, usage: String)(builder: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftSqlFunctions.getClass.getName, null, name, usage, ""),
      builder)

  /** Idempotent imperative registration for sessions built without
    * `spark.sql.extensions` (e.g. a notebook session the user can't
    * rebuild). Same builders as the extension path. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_simhash64", "graft_simhash64(text) - 64-bit SimHash over word hashes") { args =>
      arity("graft_simhash64", args, 1); SimHash64(args.head)
    },
    fn("graft_lang_id", "graft_lang_id(text) - marker-word language id (en/de/es/fr/cjk/und)") { args =>
      arity("graft_lang_id", args, 1); LangId(args.head, graft.ops.TextOps.Markers)
    },
    fn("graft_word_shingles", "graft_word_shingles(text, w) - w-word shingles") { args =>
      arity("graft_word_shingles", args, 2)
      WordShingles(args.head, intLit("graft_word_shingles", "w", args(1)))
    },
    fn("graft_minhash_signature", "graft_minhash_signature(shingles, n) - n-lane MinHash signature") { args =>
      arity("graft_minhash_signature", args, 2)
      MinHashSignature(args.head, intLit("graft_minhash_signature", "n", args(1)))
    },
    fn("graft_dot", "graft_dot(a, b) - dot product of two numeric arrays") { args =>
      arity("graft_dot", args, 2); DotProduct(args.head, args(1))
    },
    fn("graft_hyperplane_buckets",
      "graft_hyperplane_buckets(vec, dim, nplanes, ntables) - LSH bucket ids") { args =>
      arity("graft_hyperplane_buckets", args, 4)
      HyperplaneBuckets(args.head,
        intLit("graft_hyperplane_buckets", "dim", args(1)),
        intLit("graft_hyperplane_buckets", "nplanes", args(2)),
        intLit("graft_hyperplane_buckets", "ntables", args(3)))
    },
    fn("graft_repetition_stats",
      "graft_repetition_stats(text) - struct(n_words, top_word_count, n_bigrams, dup_bigram_count)") { args =>
      arity("graft_repetition_stats", args, 1); RepetitionStats(args.head)
    },
    fn("graft_normalize",
      "graft_normalize(text, form) - Unicode normalization (NFC/NFD/NFKC/NFKD)") { args =>
      arity("graft_normalize", args, 2)
      val form = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType) if v != null =>
          v.toString.toUpperCase
        case other => throw new IllegalArgumentException(
          s"graft_normalize: form must be a literal string, got ${other.sql}")
      }
      require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
        s"graft_normalize: form must be NFC/NFD/NFKC/NFKD, got $form")
      UnicodeNormalize(args.head, form)
    },
    fn("graft_deflate_size",
      "graft_deflate_size(text) - zlib level-6 compressed byte count (compression-ratio quality signal)") { args =>
      arity("graft_deflate_size", args, 1); DeflateSize(args.head)
    },
    fn("graft_bpe_token_count",
      "graft_bpe_token_count(text) - token count under the BPE-ish pretokenizer pattern") { args =>
      arity("graft_bpe_token_count", args, 1)
      Cast(RegExpCount(args.head,
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(graft.ops.TextOps.BpeTokenPattern))),
        LongType)
    })
}
