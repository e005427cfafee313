package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.expressions.{Expressions, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A [[ScanBuilder]] that adds FILE-LEVEL data skipping in front of Spark's
  * stock parquet scan: pushed-down filters are evaluated against per-file
  * footer stats (recorded in the snapshot log at commit time) and files
  * that provably cannot match are dropped from the scan's file list BEFORE
  * any task is planned — Iceberg-manifest pruning, one tier above parquet's
  * executor-side row-group skipping.
  *
  * Lives in this package because [[SupportsPushDownCatalystFilters]] (the
  * interface `FileScanBuilder` uses for V2 filter pushdown) is
  * `private[sql]`; same convention as [[GraftColumnBridge]]. Everything
  * else delegates to the real [[ParquetTable]] scan builder over the
  * pruned file list, so pushdown, column pruning, vectorization and codegen
  * are exactly the stock parquet path.
  *
  * `files` maps each absolute file path to its recorded stats (None when
  * the committing writer had none — those files are always scanned).
  * `mayMatch(stats, conjuncts)` is the conservative skip test
  * (graft.catalog.FileStats.mayMatch over every conjunct).
  */
/** Bridge-side helper: build a pushed-down, column-pruned parquet Batch
  * over an explicit file list (the per-bucket sub-scans of
  * graft.catalog.spark.BucketedScan — [[SupportsPushDownCatalystFilters]]
  * is `private[sql]`, so the replay of pushed filters must happen here). */
object GraftScanUtils {
  /** Pushed-down, column-pruned stock parquet [[Scan]] over an explicit
    * file list — the building block for per-bucket sub-scans AND per-dir
    * union scans (partitioned tables spanning several snapshot dirs). */
  def parquetScanFor(spark: SparkSession, name: String, files: Seq[String],
      schema: StructType, options: CaseInsensitiveStringMap,
      pushed: Seq[Expression],
      required: Option[StructType]): Scan = {
    val builder = ParquetTable(name, spark, options, files, Some(schema),
      classOf[ParquetFileFormat]).newScanBuilder(options)
    builder.asInstanceOf[SupportsPushDownCatalystFilters].pushFilters(pushed)
    required.foreach(builder.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns)
    builder.build()
  }

  def parquetBatchFor(spark: SparkSession, name: String, files: Seq[String],
      schema: StructType, options: CaseInsensitiveStringMap,
      pushed: Seq[Expression],
      required: Option[StructType]): org.apache.spark.sql.connector.read.Batch =
    parquetScanFor(spark, name, files, schema, options, pushed, required).toBatch
}

/** A read-only DSv2 table whose [[Scan]] is assembled per query from the
  * pushed filters and the pruned schema — how a library read puts a scan
  * graft built itself (the per-file merge-on-read scan) into a
  * DataFrame. Every pushed filter stays a post-scan residual, so
  * Spark re-checks it, while `assemble` hands it to its parquet sub-scans
  * for partition and row-group skipping. The relation has no catalog, so
  * the rules that rewrite catalog relations pass it by. */
final class GraftAssembledTable(tableName: String, tableSchema: StructType,
    assemble: (Seq[Expression], StructType) => Scan)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {
      private var pushed: Seq[Expression] = Nil
      private var required = tableSchema
      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        pushed = filters; filters
      }
      override def pushedFilters: Array[Predicate] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = assemble(pushed, required)
    }

  def frame(spark: SparkSession): DataFrame = GraftColumnBridge.ofRows(spark,
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
      this, None, None, CaseInsensitiveStringMap.empty()))
}

class GraftPruningScanBuilder(
    spark: SparkSession,
    tableName: String,
    files: Seq[(String, Option[Map[String, String]])],
    schema: StructType,
    options: CaseInsensitiveStringMap,
    mayMatch: (Map[String, String], Seq[Expression]) => Boolean,
    // (scan, keptFiles, pushedFilters, requiredSchema) — lets wrappers
    // (bucketed scans, per-dir union scans) rebuild sub-scans WITHOUT
    // losing the file pruning and pushdown this builder computed
    wrapScan: (Scan, Seq[String], Seq[Expression], Option[StructType]) => Scan =
      (s, _, _, _) => s,
    // restricts which files the INNER (template) builder is constructed
    // over — a partitioned table spanning several snapshot dirs has no
    // single basePath, so its template builds over one dir's files (it only
    // negotiates pushdown/pruning and provides readSchema) while wrapScan
    // receives the FULL kept list to assemble per-dir sub-scans
    planFiles: Seq[String] => Seq[String] = identity,
    // report EVERY filter as a post-scan residual. Required when snapshot
    // dirs have MIXED layouts (hive-laid appends + flat rewrite dirs): a
    // hive-laid template would report partition filters as consumed, but a
    // flat sub-scan stores the partition column in file CONTENT and can
    // only apply the filter advisorily — Spark must keep exact evaluation
    // above the scan (which also keeps the filter's columns in the read
    // schema). Sub-scans still consume the pushed filters internally for
    // partition-dir pruning and row-group skipping.
    allResidual: Boolean = false,
    // path-level skip test, computed once per build from the pushed
    // conjuncts (bucketed tables prune whole __bucket=b/ dirs on
    // bucket-key equality — graft.catalog.BucketPruning)
    keepByPath: Seq[Expression] => String => Boolean = _ => _ => true,
    // columns eligible for RUNTIME re-pruning (dynamic partition pruning:
    // a broadcast join's build-side key values arrive as an IN predicate
    // after planning). Non-empty => build() returns a
    // [[SupportsRuntimeV2Filtering]] scan that re-runs the whole file-skip
    // stack (bucket paths, footer stats, partition-dir file index) with
    // the runtime conjuncts added. Iceberg's convention: partition-level
    // columns only — a runtime IN list can be large, and per-file stat
    // checks against it should stay a driver triviality.
    runtimeFilterCols: Seq[String] = Nil,
    // true ONLY when every file's recorded `rows` stat is its exact
    // VISIBLE row count (no live merge-on-read deletes): arms the LIMIT
    // and TopN pushdowns below. Library-internal reads keep the default —
    // the plugin's table scan is the one caller that can prove it.
    limitRowsExact: Boolean = false,
    // canonical-string ordering for a column's footer bounds (None for
    // non-statable columns) — arms the TopN pushdown. Supplied by the
    // plugin (the canonical comparator lives beside the stat encoding).
    statCompare: String => Option[(String, String) => Boolean] = _ => None)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  /** LIMIT pushdown ([[SupportsPushDownLimit]], partial mode — Spark
    * keeps the Limit operator above, so returning a superset of `limit`
    * rows is always sound): an unfiltered preview (`SELECT * ... LIMIT
    * n`) truncates the scanned file list to the minimal prefix whose
    * exact footer row counts cover n — on a 100-TB table the scan plans
    * one file's task instead of the lake's. Armed only when
    * `limitRowsExact` proves footer counts are visible counts; any
    * pushed or runtime filter disables truncation (matching rows per
    * file are unknowable from metadata). */
  private var limitOpt: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    if (limitRowsExact && limit > 0) { limitOpt = Some(limit); true }
    else false
  }

  // both pushdown traits carry this default; partial mode throughout —
  // Spark always keeps the Limit / TakeOrderedAndProject above, so the
  // scan may return any superset
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown ([[org.apache.spark.sql.connector.read.SupportsPushDownTopN]],
    * partial mode — Spark keeps TakeOrderedAndProject above, so returning
    * a superset is always sound): `ORDER BY c LIMIT n` prunes to the
    * files that can hold the top-n by footer BOUNDS — on a table
    * range-clustered on c (any `write.sort-order` commit) this reads the
    * few extreme files instead of the lake; on unclustered data bounds
    * overlap and most files stay (sound, just not helpful).
    *
    * The bound argument survives writer-TRUNCATED string stats because
    * only outer-bound validity is needed (stored min <= true min,
    * stored max >= true max): a file is excluded only when every row it
    * could hold provably sits beyond a cutoff that already covers n
    * rows. Nulls follow the query's null ordering: with nulls FIRST
    * every null row is a top candidate (a file refuses exclusion unless
    * its null count is provably zero); with nulls LAST nulls only
    * matter when the table's non-null rows cannot fill n (then
    * everything is kept). Single-column orderings only; armed only
    * with exact visible row counts (no live MoR deletes); any pushed or
    * runtime filter disables the pruning. */
  private var topNOpt: Option[(Seq[(String, Boolean, Boolean)], Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (!limitRowsExact || limit <= 0 ||
      orders.length < 1 || orders.length > 4) return false
    val cols = orders.toSeq.map { o =>
      val col = o.expression match {
        case n: NamedReference if n.fieldNames.length == 1 => n.fieldNames.head
        case _ => return false
      }
      if (statCompare(col).isEmpty) return false
      (col, o.direction == SortDirection.ASCENDING,
        o.nullOrdering == NullOrdering.NULLS_FIRST)
    }
    topNOpt = Some((cols, limit))
    true
  }

  /** Adopt an ALREADY-TRANSLATED TopN (the lazy two-level builder defers
    * pushTopN past shard resolution and replays it here) — same arming
    * rules as [[pushTopN]]. */
  def adoptTopN(cols: Seq[(String, Boolean, Boolean)], limit: Int): Unit =
    if (limitRowsExact && limit > 0 && cols.nonEmpty && cols.size <= 4 &&
        cols.forall(c => statCompare(c._1).isDefined))
      topNOpt = Some((cols, limit))

  /** The TopN FILE-tier pruning — the shared box-bound walk
    * ([[graft.catalog.TopNPruning]], where the full soundness argument
    * lives) over the kept files' footer stats. The same walk runs at the
    * SHARD tier inside the two-level planner, so a clustered leaderboard
    * skips whole manifest shards before this tier sees a stat. */
  private def pruneTopN(kept0: Seq[String],
      cols: Seq[(String, Boolean, Boolean)], n: Int): Seq[String] = {
    val statOf = files.toMap
    graft.catalog.TopNPruning.prune(
      kept0.map(p => p -> statOf.getOrElse(p, None).getOrElse(Map.empty)),
      cols, n, statCompare)
  }

  private var pushedExprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  private def mkInner(paths: Seq[String]) =
    ParquetTable(tableName, spark, options, paths, Some(schema), classOf[ParquetFileFormat])
      .newScanBuilder(options)

  // answers the pushdown protocol over the plannable file list (cheap: file
  // index construction only); the pruned builder is built at build() time,
  // when all conjuncts are known
  private lazy val probe = mkInner(planFiles(files.map(_._1)))

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    val residual = probe.asInstanceOf[SupportsPushDownCatalystFilters].pushFilters(filters)
    if (allResidual) filters else residual
  }

  override def pushedFilters(): Array[Predicate] =
    probe.asInstanceOf[SupportsPushDownCatalystFilters].pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
  }

  /** One full build of the pruned, pushed, wrapped scan with `extra`
    * conjuncts (runtime filters) added to every skip tier: bucket-path
    * pruning, footer-stat skipping, the inner file index (which prunes
    * hive partition dirs on partition-column conjuncts), and the wrapper's
    * per-dir sub-scans. `extra` filters are exact conjuncts of the query
    * (a DPP IN-set over the join's build side), so pushing them into the
    * data plane is always sound — Spark re-evaluates the join above. */
  private[sql] def buildWith(extra: Seq[Expression]): Scan = {
    val all = pushedExprs ++ extra
    val pathOk = keepByPath(all)
    val kept0 = files.collect {
      case (p, st) if pathOk(p) && st.forall(m => mayMatch(m, all)) => p
    }
    // pushed-LIMIT file truncation: only on a FILTERLESS scan with every
    // file's exact row count in hand (see pushLimit above); pushed TopN
    // prunes by footer bounds under the same filterless condition
    val kept = (limitOpt, topNOpt) match {
      case (Some(lim), _) if all.isEmpty =>
        val rowsOf = files.toMap
        def rows(p: String): Option[Long] =
          rowsOf.getOrElse(p, None).flatMap(_.get("rows")).map(_.toLong)
        if (kept0.exists(rows(_).isEmpty)) kept0 // unprovable: keep all
        else {
          var acc = 0L
          val prefix = kept0.takeWhile { p =>
            val take = acc < lim
            if (take) acc += rows(p).get
            take
          }
          prefix
        }
      case (_, Some((cs, n))) if all.isEmpty =>
        pruneTopN(kept0, cs, n)
      case _ => kept0
    }
    val inner = mkInner(planFiles(kept))
    inner.asInstanceOf[SupportsPushDownCatalystFilters].pushFilters(all)
    required.foreach(inner.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns)
    wrapScan(inner.build(), kept, all, required)
  }

  override def build(): Scan = {
    val base = buildWith(Nil)
    if (runtimeFilterCols.isEmpty) base
    else new GraftRuntimeFilteredScan(this, base, runtimeFilterCols, schema)
  }
}

/** Scan wrapper implementing RUNTIME file pruning
  * ([[SupportsRuntimeV2Filtering]], the DSv2 dynamic-partition-pruning
  * contract): when a broadcast join's build side is selective, Spark hands
  * the scan the join key's value set as an `IN` predicate AFTER planning,
  * and the scan re-prunes — at 100 TB, a fact⋈filtered-dim join reads the
  * dim's matching partitions' files instead of the whole fact table.
  *
  * The wrapper re-runs [[GraftPruningScanBuilder.buildWith]] with the
  * runtime conjuncts, so every skip tier participates: hive partition-dir
  * pruning (via the stock file index), footer-stat file skipping, and
  * per-dir union sub-scans. `toBatch` returns ONE stable [[Batch]] whose
  * planning delegates to the current (possibly re-pruned) scan at call
  * time — [[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]]
  * memoizes `scan.toBatch` BEFORE runtime filters arrive and re-plans
  * partitions on that same object afterwards.
  *
  * Untranslatable predicates contribute no pruning (sound: the join above
  * re-evaluates everything). Statistics and plan-equality delegate to the
  * initial scan so AQE estimates and exchange/scan reuse are unaffected. */
private[sql] object GraftRuntimeFilteredScan {
  /** Above this arity a runtime IN is collapsed to its [min, max] range
    * before entering the skip tiers — same plan-bloat threshold as
    * graft.ops.HeavyHitters' literal-IN / semi-join switch. */
  val MaxExactInArity = 1024
}

private[sql] final class GraftRuntimeFilteredScan(
    builder: GraftPruningScanBuilder,
    private[sql] val initial: Scan,
    cols: Seq[String],
    schema: StructType)
  extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  @volatile private var current: Scan = initial
  // every translated runtime predicate seen so far: filter() may be
  // invoked more than once (one broadcast join per filter attribute), and
  // rebuilding from only the LATEST call would silently drop the earlier
  // calls' pruning
  @volatile private var accumulated: Seq[Expression] = Nil

  override def readSchema(): StructType = current.readSchema()
  override def description(): String = s"runtime-filterable (${initial.description()})"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    current.columnarSupportMode()

  // forwarded so a BUCKETED delegate keeps its KeyGroupedPartitioning
  // (storage-partitioned joins). Runtime filtering only ever REMOVES
  // buckets, so filtered partitions stay HasPartitionKey with a subset of
  // the original values — exactly what BatchScanExec's post-filter checks
  // require. Plain scans report UnknownPartitioning, which the planner
  // treats the same as not reporting at all.
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = current match {
    case p: org.apache.spark.sql.connector.read.SupportsReportPartitioning =>
      p.outputPartitioning()
    case _ =>
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def filterAttributes(): Array[NamedReference] =
    cols.map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = synchronized {
    val exprs = predicates.toSeq.flatMap(toCatalyst)
    if (exprs.nonEmpty) {
      // rebuild with the UNION of every call's predicates, so a second
      // filter() (another joined dimension) narrows further instead of
      // discarding the first call's pruning
      accumulated = accumulated ++ exprs
      current = builder.buildWith(accumulated)
    }
  }

  // stable across the pre-/post-filter boundary; the scan captured at
  // partition-planning time also serves the reader factory, so the two
  // always come from the SAME underlying scan state even if a late
  // filter() lands between the calls (results were correct either way —
  // the join re-evaluates — but a mismatched pair could silently regress
  // pruning)
  private val stableBatch: Batch = new Batch {
    @volatile private var planned: Scan = _
    override def planInputPartitions(): Array[InputPartition] = {
      val c = current
      planned = c
      c.toBatch.planInputPartitions()
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val c = planned
      (if (c != null) c else current).toBatch.createReaderFactory()
    }
  }
  override def toBatch: Batch = stableBatch

  // streaming personality passes through (runtime filters are a batch-join
  // concept; `current eq initial` on every streaming path)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    current.toMicroBatchStream(checkpointLocation)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    initial match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def equals(other: Any): Boolean = other match {
    case s: GraftRuntimeFilteredScan => initial == s.initial
    case _ => false
  }
  override def hashCode(): Int = initial.hashCode()

  /** V2 runtime predicate -> catalyst conjunct the skip tiers understand.
    * Only the shapes Spark's DPP translation emits (`IN` over one column's
    * literal values; `=` defensively) on a single-part column whose literal
    * types match the column — anything else translates to None (no
    * pruning). */
  private def toCatalyst(p: Predicate): Option[Expression] = {
    def attr(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[AttributeReference] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        schema.fields.find(_.name == r.fieldNames().head)
          .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      case _ => None
    }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression): Option[Literal] =
      e match {
        case l: LiteralValue[_] => Some(Literal(l.value, l.dataType))
        case _ => None
      }
    p.name() match {
      case "IN" if p.children().nonEmpty =>
        for {
          a <- attr(p.children().head)
          ls <- Some(p.children().tail.toSeq.map(lit))
          if ls.nonEmpty && ls.forall(_.exists(_.dataType.sameType(a.dataType)))
        } yield {
          val values = ls.map(_.get)
          // Large runtime IN sets (a low-selectivity build side, or a
          // join key that is a SORT column rather than a partition
          // column) would cost O(files x values) in the footer-stat tier
          // and bloat the re-pushed parquet filter. Past the threshold,
          // collapse to the set's [min, max] range — a strictly WEAKER
          // conjunct (sound: the join above re-evaluates), and exactly
          // the shape clustered footer bounds prune best. Null literals
          // never match an equality, so they drop from the range.
          val nonNull = values.filter(_.value != null)
          if (values.size <= GraftRuntimeFilteredScan.MaxExactInArity ||
              nonNull.isEmpty) In(a, values)
          else {
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(a.dataType)
            val vs = nonNull.map(_.value)
            And(GreaterThanOrEqual(a, Literal(vs.min(ord), a.dataType)),
              LessThanOrEqual(a, Literal(vs.max(ord), a.dataType)))
          }
        }
      case "=" => p.children() match {
        case Array(l, r) =>
          (attr(l), lit(r)) match {
            case (Some(a), Some(v)) if v.dataType.sameType(a.dataType) =>
              Some(EqualTo(a, v))
            case _ => (attr(r), lit(l)) match {
              case (Some(a), Some(v)) if v.dataType.sameType(a.dataType) =>
                Some(EqualTo(a, v))
              case _ => None
            }
          }
        case _ => None
      }
      case _ => None
    }
  }
}
