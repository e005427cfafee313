package graft.catalog.spark

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Coalesce, Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types.{DataType, Decimal, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{DeleteFile, SnapshotCatalog}

/** READER-LEVEL merge-on-read (Iceberg's `DeleteFilter`, re-expressed for
  * Spark's DSv2) — the ONE way graft reads a delete-covered, change-tagged
  * or lineage file: [[MorScanMerge.mergedScan]] plans every such scan and
  * [[MorReaderFactory]] reads it. The callers are
  *  - the bucketed V2 scan, the streaming append tail and the library's
  *    visible reads (through `GraftAssembledTable`): the rows alive under
  *    each file's deletes;
  *  - the `.changes` CDC stream: a commit's added files tagged `insert`,
  *    and the rows its NEW delete files kill tagged `delete`;
  *  - `convertEqualityDeletes`: the `(file, pos)` of the rows its
  *    equality deletes kill that no position delete already kills.
  * Deletes apply INSIDE each file's partition reader instead of by a join,
  * so no delete set is broadcast, and the bucketed scan keeps reporting
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * (storage-partitioned joins stay exchange-free over live deletes).
  *
  * Mechanics:
  *  - files are scanned through a sub-scan whose schema carries Spark's
  *    magic parquet row-index column ([[MorScanMerge.RowIdxCol]]) — both
  *    parquet read paths populate it with the row's ABSOLUTE ordinal in
  *    its file, correct under file splits and row-group skipping (so
  *    predicate pushdown stays on);
  *  - each file's partitions are re-grouped one-file-per-partition
  *    ([[MorFilePartition]]) so a task knows which file's deletes and
  *    lineage bases apply; TASKS load the dead positions straight from the
  *    delete-shard parquet (row-group + record skipping on the shard's
  *    `_file` column — shards are written sorted by `(_file, _pos)`) and
  *    the equality keys through a Spark parquet read planned on the driver
  *    ([[EqKeyFile]]);
  *  - some output columns are derived, not read: the file
  *    ([[SnapshotCatalog.MorFileCol]]), the row index (`MorPosCol`), a
  *    constant change tag ([[MorScanMerge.ChangeTypeCol]]), and the
  *    lineage columns `__rid` = coalesce(physical, first_row_id + row
  *    index) and `__rseq` = coalesce(physical, added_snapshot_id);
  *  - the columnar handoff survives live deletes: a partition reads the
  *    inner vectorized batches and re-exposes each through a SELECTION
  *    VECTOR — dropped ordinals skipped, kept ones remapped by
  *    [[SelectedColumnVector]] with zero copying (batches that keep every
  *    row re-project the inner vectors directly). Equality-key columns are
  *    force-included into the sub-scan and dropped from the output.
  */
object MorScanMerge {
  /** Spark's reserved temporary column name: a NULLABLE BIGINT field of
    * this name in a parquet read schema is filled with each row's file
    * ordinal by the readers themselves
    * (`ParquetRowIndexUtil.findRowIndexColumnIndexInSchema`). */
  val RowIdxCol = "_tmp_metadata_row_index"

  /** The constant change-kind column of a CDC read. */
  val ChangeTypeCol = "_change_type"

  /** Row-lineage columns: physical in files a rewrite wrote, derived from
    * the file's `first_row_id` / `added_snapshot_id` everywhere else. */
  val RidCol = "__rid"
  val RseqCol = "__rseq"

  /** [[mergedScan]] builds so far — lets a spec count the builds of one
    * executed library read. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong()

  /** Projection of a row's key columns (ordinals `ords`, types `dts`) to
    * an [[UnsafeRow]], floats normalized the way Spark normalizes join
    * keys (`NormalizeNaNAndZero`: -0.0 = 0.0, one NaN). Byte equality of
    * two such rows is then null-safe value equality — the `<=>` an
    * equality delete means — for every key type. */
  private def keyProjection(ords: Seq[Int], dts: Seq[DataType]): UnsafeProjection =
    UnsafeProjection.create(ords.zip(dts).map { case (o, dt) =>
      GraftColumnBridge.normalizeFloats(BoundReference(o, dt, nullable = true))
    })

  /** Driver-side: plan a Spark parquet read of each equality-delete file
    * among `deletes`, its key columns typed as `schema` types them (one
    * scan per key-column set), keyed by the file's table-root-relative
    * path. Tasks decode the keys exactly as the data scan decodes the
    * table's columns. */
  private def eqKeyFiles(spark: SparkSession, deletes: Seq[DeleteFile], schema: StructType,
      rootPrefix: String): Map[String, EqKeyFile] =
    deletes.filterNot(_.isPositional).distinct.groupBy(_.eqCols).flatMap { case (cols, ds) =>
      val keySchema = StructType(cols.map(c => StructField(c, schema(c).dataType)))
      val scan = org.apache.spark.sql.GraftScanUtils.parquetScanFor(spark,
        s"equality keys (${cols.mkString(",")})", ds.map(rootPrefix + _.path),
        keySchema, CaseInsensitiveStringMap.empty(), Nil, None)
      val b = scan.toBatch
      val factory = b.createReaderFactory()
      val chunks = b.planInputPartitions().toSeq.flatMap {
        case fp: FilePartition => fp.files.toSeq
        case other => throw new IllegalStateException(
          s"expected FilePartition from the parquet batch, got ${other.getClass}")
      }.groupBy(_.filePath.toPath.toUri.getPath.stripPrefix(rootPrefix))
      ds.map(d => d.path -> EqKeyFile(cols, factory, FilePartition(0, chunks(d.path).toArray)))
    }

  /** The merged scan of data files — the one place per-file partitions
    * are planned.
    * `groups` holds each snapshot dir's read options (its `basePath`) and
    * absolute file paths; `fileOf(rel)` says what to read of a
    * table-root-relative data file ([[MorFile]]). Each group reads through
    * one row-indexed parquet sub-scan carrying `pushed` and the columns of
    * `required` (plus any equality-key column the query pruned, and the
    * physical lineage columns `out` names); its partitions regroup one
    * file each and read through a [[MorReaderFactory]] that emits `out`.
    * `out` may name the derived columns; `changeType` is the value of
    * [[ChangeTypeCol]], when `out` names it. */
  def mergedScan(spark: SparkSession, label: String,
      groups: Seq[(CaseInsensitiveStringMap, Seq[String])], schema: StructType,
      pushed: Seq[Expression], required: StructType, out: StructType,
      rootPrefix: String, fileOf: String => MorFile,
      changeType: Option[String] = None): MergedScan = {
    builds.incrementAndGet()
    val deletes = groups.flatMap(_._2).flatMap { f =>
      val m = fileOf(f.stripPrefix(rootPrefix))
      m.deletes ++ m.killedBy.getOrElse(Nil)
    }.distinct
    val eqKeys = eqKeyFiles(spark, deletes, schema, rootPrefix)
    def setOf(ds: Seq[DeleteFile]) = DeleteSet(
      ds.filter(_.isPositional).map(rootPrefix + _.path),
      ds.filterNot(_.isPositional).map(d => eqKeys(d.path)))
    val idxField = StructField(RowIdxCol, LongType, nullable = true)
    val derived = Set(RowIdxCol, SnapshotCatalog.MorFileCol, SnapshotCatalog.MorPosCol) ++
      changeType.map(_ => ChangeTypeCol)
    val lineage = out.fieldNames.filter(n => n == RidCol || n == RseqCol)
      .map(StructField(_, LongType, nullable = true))
    val base = (required.fields.filterNot(f => derived(f.name)) ++ lineage).distinctBy(_.name)
    val missingKeys = deletes.flatMap(_.eqCols).distinct
      .filterNot(c => base.exists(_.name == c)).map(c => schema(c))
    val schemaIdx = StructType((schema.fields ++ lineage).distinctBy(_.name) :+ idxField)
    val reqIdx = StructType((base ++ missingKeys) :+ idxField)
    val confMap = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    }
    new MergedScan(label, out, groups.map { case (opts, files) =>
      val sub = org.apache.spark.sql.GraftScanUtils.parquetScanFor(spark, label, files,
        schemaIdx, opts, pushed, Some(reqIdx))
      val b = sub.toBatch
      val f = new MorReaderFactory(b.createReaderFactory(), sub.readSchema(),
        out.fieldNames, changeType, confMap)
      sub -> perFilePartitions(b.planInputPartitions(), rootPrefix, { (rel, chunks) =>
        val m = fileOf(rel)
        MorFilePartition(rel, chunks, setOf(m.deletes), m.killedBy.map(setOf),
          m.firstRowId, m.addedSnapshotId)
      }).toSeq.map(p => CarriedFactoryPartition(p, f): InputPartition)
    })
  }

  /** Dead positions of one data file, read from its covering delete
    * shards — executor-side, bounded by that file's dead-row count. */
  private def deadPositions(shards: Seq[String], relFile: String,
      conf: Configuration): java.util.HashSet[java.lang.Long] = {
    val dead = new java.util.HashSet[java.lang.Long]()
    val pred = FilterCompat.get(
      FilterApi.eq(FilterApi.binaryColumn("_file"), Binary.fromString(relFile)))
    shards.foreach { s =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(s))
        .withConf(conf).withFilter(pred).build()
      try {
        var g = reader.read()
        while (g != null) {
          // record-level filtering already applied the predicate; the
          // explicit re-check keeps correctness independent of it
          if (g.getString("_file", 0) == relFile) dead.add(g.getLong("_pos", 0))
          g = reader.read()
        }
      } finally reader.close()
    }
    dead
  }

  /** Re-group a parquet batch's partitions so each holds ONE file's
    * chunks, made a [[MorFilePartition]] by `partitionOf` from the file's
    * table-root-relative path — so a task knows which file's deletes and
    * lineage bases apply. Splits of a file may stay in separate
    * partitions (row indexes are absolute). */
  private def perFilePartitions(parts: Array[InputPartition], rootPrefix: String,
      partitionOf: (String, FilePartition) => MorFilePartition): Array[InputPartition] =
    parts.flatMap {
      case fp: FilePartition =>
        fp.files.groupBy(_.filePath.toPath.toUri.getPath).toSeq.sortBy(_._1)
          .map { case (abs, fs) => partitionOf(abs.stripPrefix(rootPrefix), FilePartition(fp.index, fs)) }
      case other =>
        throw new IllegalStateException(
          s"expected FilePartition from the parquet batch, got ${other.getClass}")
    }

  /** One loaded equality-delete matcher over a sub-scan schema: the
    * file's key tuples as [[keyProjection]] rows, and the same projection
    * over the scanned row's key ordinals. The projection's output buffer
    * is REUSED across rows (single-threaded per partition reader;
    * `HashSet.contains` does not retain its argument), so the per-row cost
    * is one projection + one hash lookup, no allocation. */
  private final class EqMatcher(ords: Seq[Int], dts: Seq[DataType],
      keys: java.util.HashSet[UnsafeRow]) {
    private[this] val probe = keyProjection(ords, dts)
    def matches(row: InternalRow): Boolean = keys.contains(probe(row))
  }

  /** Load the [[EqMatcher]]s for one file's eq files, resolving key
    * ordinals/types against `schema` (the sub-scan's schema — key columns
    * are force-included there). */
  private def eqMatchersFor(shards: Seq[EqKeyFile], schema: StructType): Seq[EqMatcher] =
    shards.map { k =>
      val dts = k.cols.map(c => schema(c).dataType)
      val load = keyProjection(k.cols.indices, dts)
      val keys = new java.util.HashSet[UnsafeRow]()
      val r = k.factory.createReader(k.part)
      try while (r.next()) keys.add(load(r.get()).copy())
      finally r.close()
      new EqMatcher(k.cols.map(schema.fieldIndex), dts, keys)
    }

  /** One delete set loaded task-side for one file: does it kill a row? */
  private final class Killer(set: DeleteSet, relFile: String, schema: StructType,
      conf: Configuration) {
    private[this] val dead = deadPositions(set.positions, relFile, conf)
    private[this] val eqs = eqMatchersFor(set.eqKeys, schema)
    def kills(idx: Long, row: InternalRow): Boolean =
      dead.contains(idx) || eqs.exists(_.matches(row))
  }

  /** The row filter of one [[MorFilePartition]]: a row is kept when its
    * file's deletes leave it alive and, in the `killedBy` mode, the
    * `killedBy` set kills it. */
  private[spark] final class RowFilter(mp: MorFilePartition, schema: StructType,
      conf: Configuration) {
    private[this] val deletes = new Killer(mp.deletes, mp.relFile, schema, conf)
    private[this] val killedBy = mp.killedBy.map(new Killer(_, mp.relFile, schema, conf))
    def keep(idx: Long, row: InternalRow): Boolean =
      !deletes.kills(idx, row) && killedBy.forall(_.kills(idx, row))
  }
}

/** What [[MorScanMerge.mergedScan]] reads of one data file: the rows alive
  * under `deletes`, or — with `killedBy`, for CDC pre-images and the
  * equality-to-position conversion — only those alive rows that the
  * `killedBy` delete files kill; and the file's lineage bases. */
final case class MorFile(deletes: Seq[DeleteFile],
    killedBy: Option[Seq[DeleteFile]] = None,
    firstRowId: Option[Long] = None,
    addedSnapshotId: Option[Long] = None)

/** One equality-delete file as a task reads it: its key columns and a
  * Spark parquet read of the file planned on the driver (the reader
  * factory and the file's input partition). */
final case class EqKeyFile(cols: Seq[String], factory: PartitionReaderFactory,
    part: InputPartition)

/** Delete files as a task loads them: position-delete parquet paths and
  * equality-delete key reads. */
final case class DeleteSet(positions: Seq[String], eqKeys: Seq[EqKeyFile])

/** One file's chunk(s) as a task reads them ([[MorFile]], resolved): the
  * delegate partition reads this file only; `deletes` kill rows,
  * `killedBy` (when set) selects the killed rows instead; the lineage
  * bases feed `__rid` and `__rseq`. */
final case class MorFilePartition(relFile: String, delegate: InputPartition,
    deletes: DeleteSet, killedBy: Option[DeleteSet],
    firstRowId: Option[Long], addedSnapshotId: Option[Long]) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** The merged scan [[MorScanMerge.mergedScan]] builds: the per-file merged
  * partitions of every sub-scan, each carrying its reader factory.
  * Statistics and description are the parquet sub-scans', so joins over a
  * merged read plan as they would over the plain scan.
  *
  * It advertises no runtime-filter column, yet Spark hands it the dynamic
  * pruning filters pushed through a union of a library read's clean and
  * merged halves (the planner gives every filtered V2 scan its runtime
  * filters, then casts); pruning is an optimization the join above
  * repeats, so `filter` ignores them. */
final class MergedScan(label: String, out: StructType,
    subs: Seq[(Scan, Seq[InputPartition])])
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = out
  override def description(): String =
    s"merge-on-read $label: ${subs.map(_._1.description()).mkString("; ")}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = subs.flatMap(_._2).toArray
  override def createReaderFactory(): PartitionReaderFactory = CarryingReaderFactory
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    ScanDefaults.summedStatistics(subs.map(_._1))
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = ()
}

/** The per-file reader: reads the row-indexed sub-scan, keeps the rows
  * its partition's [[MorScanMerge.RowFilter]] keeps, and emits `outNames`
  * — sub-scan columns by name, and the derived columns: the file
  * ([[SnapshotCatalog.MorFileCol]]), the row index (`MorPosCol`), the
  * `changeType` tag ([[MorScanMerge.ChangeTypeCol]]) and the lineage
  * columns ([[MorScanMerge.RidCol]], [[MorScanMerge.RseqCol]]). Columnar
  * support mirrors the inner factory's: a columnar read filters each inner
  * ColumnarBatch through a selection vector ([[SelectedColumnVector]]);
  * the row path keeps the per-row skip. `confMap` rebuilds a hadoop
  * Configuration task-side (Configuration itself is not serializable). */
final class MorReaderFactory(
    inner: PartitionReaderFactory,
    dirtySchema: StructType,
    outNames: Array[String],
    changeType: Option[String],
    confMap: Map[String, String]) extends PartitionReaderFactory {
  import MorScanMerge.{ChangeTypeCol, RidCol, RseqCol}

  private val idxOrd = dirtySchema.fieldIndex(MorScanMerge.RowIdxCol)

  private def filterFor(mp: MorFilePartition): MorScanMerge.RowFilter = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    new MorScanMerge.RowFilter(mp, dirtySchema, conf)
  }

  private def read(n: String): BoundReference = {
    val i = dirtySchema.fieldIndex(n)
    BoundReference(i, dirtySchema(i).dataType, dirtySchema(i).nullable)
  }

  /** Output column `n` of `mp`'s rows over the sub-scan row. */
  private def outExpr(mp: MorFilePartition, n: String): Expression = n match {
    case SnapshotCatalog.MorFileCol => Literal(UTF8String.fromString(mp.relFile), StringType)
    case SnapshotCatalog.MorPosCol => BoundReference(idxOrd, LongType, nullable = true)
    case ChangeTypeCol if changeType.isDefined =>
      Literal(UTF8String.fromString(changeType.get), StringType)
    case RidCol => Coalesce(Seq(read(RidCol), mp.firstRowId.fold[Expression](
      Literal(null, LongType))(b => new Add(Literal(b), BoundReference(idxOrd, LongType, nullable = true)))))
    case RseqCol => Coalesce(Seq(read(RseqCol),
      mp.addedSnapshotId.fold[Expression](Literal(null, LongType))(Literal(_))))
    case _ => read(n)
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p.asInstanceOf[MorFilePartition].delegate)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val keep = filterFor(mp)
    val r = inner.createReader(mp.delegate)
    val proj = UnsafeProjection.create(outNames.toSeq.map(outExpr(mp, _)))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (keep.keep(row.getLong(idxOrd), row)) { cur = row; return true }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = r.close()
    }
  }

  /** `coalesce(phys, base + offset)` into a fresh long vector of `k` rows
    * — the columnar `__rid` (offset = the row index) and `__rseq` (no
    * offset); without a base the physical value stands alone. */
  private def lineageVector(phys: ColumnVector, offset: ColumnVector,
      base: Option[Long], k: Int): ColumnVector = {
    val v = new OnHeapColumnVector(k, LongType)
    var i = 0
    while (i < k) {
      if (!phys.isNullAt(i)) v.putLong(i, phys.getLong(i))
      else if (base.isEmpty) v.putNull(i)
      else v.putLong(i, base.get + (if (offset == null) 0L else offset.getLong(i)))
      i += 1
    }
    v
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val keep = filterFor(mp)
    val r = inner.createColumnarReader(mp.delegate)
    def constant(s: String, k: Int): ColumnVector = {
      val v = new ConstantColumnVector(k, StringType)
      v.setUtf8String(UTF8String.fromString(s))
      v
    }
    new PartitionReader[ColumnarBatch] {
      private var out: ColumnarBatch = _
      override def next(): Boolean = {
        while (r.next()) {
          val b = r.get()
          val n = b.numRows()
          val idx = b.column(idxOrd)
          // one pass over the row-index vector builds the selection; a
          // batch that keeps every row re-projects the inner vectors with
          // ZERO copying and zero per-access indirection (the common case
          // once most of a covered file's row groups are clean)
          val sel = new Array[Int](n)
          var k = 0
          var i = 0
          while (i < n) {
            if (keep.keep(idx.getLong(i), b.getRow(i))) { sel(k) = i; k += 1 }
            i += 1
          }
          if (k > 0) {
            val s = if (k == n) null else java.util.Arrays.copyOf(sel, k)
            def col(n: String): ColumnVector = {
              val v = b.column(dirtySchema.fieldIndex(n))
              if (s == null) v else new SelectedColumnVector(v, s)
            }
            val cols: Array[ColumnVector] = outNames.map {
              case SnapshotCatalog.MorFileCol => constant(mp.relFile, k)
              case SnapshotCatalog.MorPosCol => col(MorScanMerge.RowIdxCol)
              case ChangeTypeCol if changeType.isDefined => constant(changeType.get, k)
              case RidCol => lineageVector(col(RidCol), col(MorScanMerge.RowIdxCol), mp.firstRowId, k)
              case RseqCol => lineageVector(col(RseqCol), null, mp.addedSnapshotId, k)
              case name => col(name)
            }
            out = new ColumnarBatch(cols, k)
            return true
          }
          // nothing kept: keep pulling
        }
        false
      }
      override def get(): ColumnarBatch = out
      override def close(): Unit = r.close()
    }
  }
}

/** A [[ColumnVector]] view through a selection vector: output ordinal `i`
  * reads the wrapped vector's ordinal `sel(i)`. This is how a MoR-merged
  * partition stays columnar under live deletes — the Iceberg/Arrow
  * selection-vector idea applied to Spark's vectorized handoff: no
  * buffer is copied, dead rows simply become unreachable. Struct children
  * wrap lazily with the SAME selection (parquet struct children share the
  * parent's ordinals); arrays/maps delegate whole — their offsets live in
  * the returned [[ColumnarArray]]/[[ColumnarMap]] against the INNER
  * child, which stays unwrapped. Lifecycle: the inner reader owns the
  * buffers, so `close()` is a no-op. */
final class SelectedColumnVector(inner: ColumnVector, sel: Array[Int])
    extends ColumnVector(inner.dataType) {
  private[this] val childCache =
    new java.util.HashMap[Integer, SelectedColumnVector]()
  override def close(): Unit = ()
  // conservative: the selection may have dropped every null, but hasNull
  // is only a fast-path hint — isNullAt stays exact
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = {
    var n = 0
    var i = 0
    while (i < sel.length) { if (inner.isNullAt(sel(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(i: Int): Boolean = inner.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(sel(i))
  override def getByte(i: Int): Byte = inner.getByte(sel(i))
  override def getShort(i: Int): Short = inner.getShort(sel(i))
  override def getInt(i: Int): Int = inner.getInt(sel(i))
  override def getLong(i: Int): Long = inner.getLong(sel(i))
  override def getFloat(i: Int): Float = inner.getFloat(sel(i))
  override def getDouble(i: Int): Double = inner.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = inner.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = inner.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    inner.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(sel(i))
  override def getChild(ordinal: Int): ColumnVector = {
    var c = childCache.get(ordinal)
    if (c == null) {
      c = new SelectedColumnVector(inner.getChild(ordinal), sel)
      childCache.put(ordinal, c)
    }
    c
  }
}
