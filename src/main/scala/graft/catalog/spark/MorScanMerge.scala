package graft.catalog.spark

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{DataType, Decimal, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{DeleteFile, SnapshotCatalog}

/** READER-LEVEL merge-on-read (the Iceberg `DeleteFile` design,
  * re-expressed for Spark's DSv2) — the ONE way graft applies deletes on
  * read: the bucketed V2 scan, the streaming tail and the library's
  * visible reads all build their delete-covered ("dirty") partitions with
  * [[MorScanMerge.mergedScan]]. Deletes apply INSIDE each covered file's
  * partition reader instead of by a join, so no delete set is broadcast,
  * and the bucketed scan keeps reporting
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * (storage-partitioned joins stay exchange-free over live deletes).
  *
  * Mechanics:
  *  - covered data files are scanned through a sub-scan whose schema
  *    carries Spark's magic parquet row-index column
  *    ([[MorScanMerge.RowIdxCol]]) — both parquet read paths populate it
  *    with the row's ABSOLUTE ordinal in its file, correct under file
  *    splits and row-group skipping (so predicate pushdown stays on);
  *  - each covered file's partitions are re-grouped one-file-per-partition
  *    ([[MorFilePartition]]) so a task knows which file's deletes apply;
  *    TASKS load the dead positions straight from the delete-shard parquet
  *    (row-group + record skipping on the shard's `_file` column — shards
  *    are written sorted by `(_file, _pos)`) and the equality keys through
  *    a Spark parquet read planned on the driver ([[EqKeyFile]]);
  *  - the columnar handoff survives live deletes: a merged partition
  *    reads the inner vectorized batches and re-exposes each through a
  *    SELECTION VECTOR — dead ordinals dropped, surviving ones remapped by
  *    [[SelectedColumnVector]] with zero copying (batches with no dead
  *    rows re-project the inner vectors directly). Equality-key columns
  *    are force-included into the sub-scan and dropped from the output.
  */
object MorScanMerge {
  /** Spark's reserved temporary column name: a NULLABLE BIGINT field of
    * this name in a parquet read schema is filled with each row's file
    * ordinal by the readers themselves
    * (`ParquetRowIndexUtil.findRowIndexColumnIndexInSchema`). */
  val RowIdxCol = "_tmp_metadata_row_index"

  /** Row-identity columns a merged read may emit: the file as its
    * table-root-relative path, the position as the row index. */
  private val IdentityCols = Set(SnapshotCatalog.MorFileCol, SnapshotCatalog.MorPosCol)

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
  def eqKeyFiles(spark: SparkSession, deletes: Seq[DeleteFile], schema: StructType,
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

  /** The merged scan of delete-covered data files — the one dirty-partition
    * builder. `groups` holds each snapshot dir's read options (its
    * `basePath`) and absolute file paths; `covering(rel)` lists the delete
    * files that apply to a table-root-relative data file. Each group reads
    * through one row-indexed parquet sub-scan carrying `pushed` and the
    * columns of `required` (plus any equality-key column the query
    * pruned); its partitions regroup one file each and read through a
    * [[MorMergingReaderFactory]] that emits `out`, which may name the
    * identity columns [[SnapshotCatalog.MorFileCol]]/`MorPosCol`. */
  def mergedScan(spark: SparkSession, label: String,
      groups: Seq[(CaseInsensitiveStringMap, Seq[String])], schema: StructType,
      pushed: Seq[Expression], required: StructType, out: StructType,
      rootPrefix: String, covering: String => Seq[DeleteFile]): MergedScan = {
    val deletes = groups.flatMap(_._2).flatMap(f => covering(f.stripPrefix(rootPrefix))).distinct
    val eqKeys = eqKeyFiles(spark, deletes, schema, rootPrefix)
    val idxField = StructField(RowIdxCol, LongType, nullable = true)
    val base = required.fields.filterNot(f => f.name == RowIdxCol || IdentityCols(f.name))
    val missingKeys = deletes.flatMap(_.eqCols).distinct
      .filterNot(c => base.exists(_.name == c)).map(c => schema(c))
    val schemaIdx = StructType(schema.fields :+ idxField)
    val reqIdx = StructType((base ++ missingKeys) :+ idxField)
    val confMap = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    }
    new MergedScan(label, out, groups.map { case (opts, files) =>
      val sub = org.apache.spark.sql.GraftScanUtils.parquetScanFor(spark, label, files,
        schemaIdx, opts, pushed, Some(reqIdx))
      val b = sub.toBatch
      val f = new MorMergingReaderFactory(b.createReaderFactory(), sub.readSchema(),
        out.fieldNames, confMap)
      sub -> perFilePartitions(b.planInputPartitions(), rootPrefix,
        rel => covering(rel).filter(_.isPositional).map(rootPrefix + _.path),
        rel => covering(rel).filterNot(_.isPositional).map(d => eqKeys(d.path)))
        .toSeq.map(p => CarriedFactoryPartition(p, f): InputPartition)
    })
  }

  /** Dead positions of one data file, read from its covering delete
    * shards — executor-side, bounded by that file's dead-row count. */
  def deadPositions(shards: Seq[String], relFile: String,
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
    * chunks, tagged with the file's table-root-relative path and covering
    * shards. Splits of a file may stay in separate partitions (row
    * indexes are absolute). Files not in `shardsFor`'s domain keep flowing
    * too (empty shard list = nothing dead). `eqShardsFor` lists the
    * EQUALITY-delete files covering a file ([[eqKeyFiles]]) — composite
    * keys supported, applied tuple-wise in the reader.
    * `newEqShardsFor` carries a SECOND eq set per file, used only by the
    * CDC pre-image reader ([[EqDeadRowsReaderFactory]]): the commit's NEW
    * eq shards, matched positively while `eqShardsFor`'s prior coverage
    * filters to rows still alive before the commit. */
  def perFilePartitions(parts: Array[InputPartition], rootPrefix: String,
      shardsFor: String => Seq[String],
      eqShardsFor: String => Seq[EqKeyFile] = _ => Seq.empty,
      newEqShardsFor: String => Seq[EqKeyFile] = _ => Seq.empty)
      : Array[InputPartition] =
    parts.flatMap {
      case fp: FilePartition =>
        fp.files.groupBy(_.filePath.toPath.toUri.getPath).toSeq.sortBy(_._1)
          .map { case (abs, fs) =>
            val rel = abs.stripPrefix(rootPrefix)
            MorFilePartition(rel, shardsFor(rel), FilePartition(fp.index, fs),
              eqShardsFor(rel), newEqShardsFor(rel))
          }
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
  final class EqMatcher(ords: Seq[Int], dts: Seq[DataType],
      keys: java.util.HashSet[UnsafeRow]) {
    private[this] val probe = keyProjection(ords, dts)
    def deadRow(row: InternalRow): Boolean = keys.contains(probe(row))
    def deadVec(b: ColumnarBatch, row: Int): Boolean = keys.contains(probe(b.getRow(row)))
  }

  /** Load the [[EqMatcher]]s for one file's covering eq files, resolving
    * key ordinals/types against `schema` (the sub-scan's schema — key
    * columns are force-included there by every caller). */
  def eqMatchersFor(shards: Seq[EqKeyFile], schema: StructType): Seq[EqMatcher] =
    shards.map { k =>
      val dts = k.cols.map(c => schema(c).dataType)
      val load = keyProjection(k.cols.indices, dts)
      val keys = new java.util.HashSet[UnsafeRow]()
      val r = k.factory.createReader(k.part)
      try while (r.next()) keys.add(load(r.get()).copy())
      finally r.close()
      new EqMatcher(k.cols.map(schema.fieldIndex), dts, keys)
    }

  /** The stable row-id expression of one file's rows for a CDC reader:
    * `coalesce(physical __rid, first_row_id + row_index)` — the same
    * identity [[graft.catalog.SnapshotCatalog]]'s `readVisibleWithRid`
    * serves, computed task-side from the file's frid base (metadata the
    * driver resolved at planning). A file with neither a physical `__rid`
    * column nor a recorded base yields null (identity degrades, never
    * breaks). `dirtySchema` must carry both `__rid` and [[RowIdxCol]]. */
  def ridExpr(dirtySchema: StructType, relFile: String,
      frids: Map[String, Long]): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Coalesce}
    val idxOrd = dirtySchema.fieldIndex(RowIdxCol)
    val physOrd = dirtySchema.fieldIndex("__rid")
    val derived = frids.get(relFile) match {
      case Some(b) =>
        new Add(Literal(b, LongType), BoundReference(idxOrd, LongType, nullable = true))
      case None => Literal(null, LongType)
    }
    Coalesce(Seq(BoundReference(physOrd, LongType, nullable = true), derived))
  }
}

/** One equality-delete file as a task reads it: its key columns and a
  * Spark parquet read of the file planned on the driver (the reader
  * factory and the file's input partition — [[MorScanMerge.eqKeyFiles]]). */
final case class EqKeyFile(cols: Seq[String], factory: PartitionReaderFactory,
    part: InputPartition)

/** One covered file's chunk(s): the delegate partition reads this file
  * only, `shards` are the position-delete parquet files whose `covers`
  * include it, and `eqShards` the covering equality-delete files —
  * composite keys supported. `newEqShards` is the CDC pre-image reader's
  * positive-match set (a commit's NEW eq shards); empty everywhere else. */
final case class MorFilePartition(relFile: String, shards: Seq[String],
    delegate: InputPartition,
    eqShards: Seq[EqKeyFile] = Seq.empty,
    newEqShards: Seq[EqKeyFile] = Seq.empty) extends InputPartition {
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

/** Reader factory applying deletes in-task: reads the row-idx sub-scan,
  * drops rows whose index is dead or whose key an equality delete names,
  * and projects the output to `outNames` (sub-scan columns by name; the
  * identity column [[SnapshotCatalog.MorPosCol]] is the row index and
  * [[SnapshotCatalog.MorFileCol]] the partition's file). Columnar support
  * mirrors the inner factory's: a columnar merged read filters each inner
  * ColumnarBatch through a selection vector ([[SelectedColumnVector]]);
  * the row path keeps the per-row skip. `confMap` rebuilds a hadoop
  * Configuration task-side (Configuration itself is not serializable). */
final class MorMergingReaderFactory(
    inner: PartitionReaderFactory,
    dirtySchema: StructType,
    outNames: Array[String],
    confMap: Map[String, String]) extends PartitionReaderFactory {

  private val idxOrd = dirtySchema.fieldIndex(MorScanMerge.RowIdxCol)
  // output ordinal -> sub-scan ordinal; -1 marks the file column
  private val perm = outNames.map {
    case SnapshotCatalog.MorPosCol => idxOrd
    case SnapshotCatalog.MorFileCol => -1
    case n => dirtySchema.fieldIndex(n)
  }

  private def hadoopConf: Configuration = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def deadFor(mp: MorFilePartition): java.util.HashSet[java.lang.Long] =
    MorScanMerge.deadPositions(mp.shards, mp.relFile, hadoopConf)

  private def eqFor(mp: MorFilePartition): Seq[MorScanMerge.EqMatcher] =
    MorScanMerge.eqMatchersFor(mp.eqShards, dirtySchema)

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p.asInstanceOf[MorFilePartition].delegate)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val dead = deadFor(mp)
    val eqs = eqFor(mp)
    val r = inner.createReader(mp.delegate)
    val proj = UnsafeProjection.create(perm.toSeq.map(i =>
      if (i < 0) Literal(UTF8String.fromString(mp.relFile), StringType)
      else BoundReference(i, dirtySchema(i).dataType, dirtySchema(i).nullable)))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (!dead.contains(row.getLong(idxOrd)) && !eqs.exists(_.deadRow(row))) {
            cur = row; return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val dead = deadFor(mp)
    val eqs = eqFor(mp)
    val file = UTF8String.fromString(mp.relFile)
    val r = inner.createColumnarReader(mp.delegate)
    new PartitionReader[ColumnarBatch] {
      private var out: ColumnarBatch = _
      override def next(): Boolean = {
        while (r.next()) {
          val b = r.get()
          val n = b.numRows()
          val idx = b.column(idxOrd)
          // one pass over the row-index vector builds the selection; a
          // batch with nothing dead re-projects the inner vectors with
          // ZERO copying and zero per-access indirection (the common case
          // once most of a covered file's row groups are clean)
          val sel = new Array[Int](n)
          var k = 0
          var i = 0
          while (i < n) {
            if (!dead.contains(idx.getLong(i)) &&
                (eqs.isEmpty || !eqs.exists(_.deadVec(b, i)))) { sel(k) = i; k += 1 }
            i += 1
          }
          if (k > 0) {
            val s = if (k == n) null else java.util.Arrays.copyOf(sel, k)
            val cols: Array[ColumnVector] = perm.map { o =>
              if (o < 0) {
                val v = new ConstantColumnVector(k, StringType)
                v.setUtf8String(file)
                v
              } else if (s == null) b.column(o)
              else new SelectedColumnVector(b.column(o), s)
            }
            out = new ColumnarBatch(cols, k)
            return true
          }
          // fully-dead batch: keep pulling
        }
        false
      }
      override def get(): ColumnarBatch = out
      override def close(): Unit = r.close()
    }
  }
}

/** CDC delete-side reader: emits ONLY the rows a commit's NEW delete
  * shards killed — the inverse of [[MorMergingReaderFactory]]'s filter —
  * as pre-image rows tagged with a constant `_change_type` column. This
  * is what makes a STREAMING changelog computable from per-file scans:
  * a position-delete commit's retracted rows are exactly its shard
  * positions read back from the (write-once) data file, no table diff
  * needed. `out` is the pruned output schema; fields it names that are
  * not in `dirtySchema` must be the tag column. Row-based by design —
  * CDC streams are consumed row-wise. */
final class DeadRowsReaderFactory(
    inner: PartitionReaderFactory,
    dirtySchema: StructType,
    out: StructType,
    tagCol: String,
    tag: String,
    confMap: Map[String, String],
    ridCol: Option[String] = None,
    frids: Map[String, Long] = Map.empty) extends PartitionReaderFactory {

  private val idxOrd = dirtySchema.fieldIndex(MorScanMerge.RowIdxCol)

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    val dead = MorScanMerge.deadPositions(mp.shards, mp.relFile, conf)
    val r = inner.createReader(mp.delegate)
    val proj = UnsafeProjection.create(out.fields.map { f =>
      if (f.name == tagCol)
        Literal(UTF8String.fromString(tag), StringType)
      else if (ridCol.contains(f.name))
        MorScanMerge.ridExpr(dirtySchema, mp.relFile, frids)
      else {
        val i = dirtySchema.fieldIndex(f.name)
        BoundReference(i, dirtySchema(i).dataType, dirtySchema(i).nullable)
      }
    }.toIndexedSeq)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (dead.contains(row.getLong(idxOrd))) { cur = row; return true }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("CDC delete partitions are row-based")
}

/** CDC pre-image reader for EQUALITY-delete commits (r8): emits the rows
  * a commit's NEW eq-delete shards killed — rows of the covered
  * (write-once) data files that were ALIVE at the commit's parent
  * snapshot (not position-dead, not matched by a prior eq shard) and
  * match one of the NEW shards' key tuples — tagged `delete`. This is
  * what lets a `.changes` stream serve the commits the engine's own CDC
  * apply sink writes ([[graft.streaming.EventStream.applyCdcEpoch]]'s
  * zero-scan `deleteMoREq`), so a replica table can itself be a CDC
  * source (cascaded replication). Coverage is exact because data files
  * are write-once and eq coverage is pinned at commit time to the files
  * present then — later appends are never covered. Work per partition is
  * one covered-file scan + KB-bounded shard loads, the same posture as
  * [[DeadRowsReaderFactory]]. */
final class EqDeadRowsReaderFactory(
    inner: PartitionReaderFactory,
    dirtySchema: StructType,
    out: StructType,
    tagCol: String,
    tag: String,
    confMap: Map[String, String],
    ridCol: Option[String] = None,
    frids: Map[String, Long] = Map.empty) extends PartitionReaderFactory {

  private val idxOrd = dirtySchema.fieldIndex(MorScanMerge.RowIdxCol)

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    // prior coverage = alive-at-parent filter; new shards = positive match
    val priorDead = MorScanMerge.deadPositions(mp.shards, mp.relFile, conf)
    val priorEqs = MorScanMerge.eqMatchersFor(mp.eqShards, dirtySchema)
    val newEqs = MorScanMerge.eqMatchersFor(mp.newEqShards, dirtySchema)
    val r = inner.createReader(mp.delegate)
    val proj = UnsafeProjection.create(out.fields.map { f =>
      if (f.name == tagCol)
        Literal(UTF8String.fromString(tag), StringType)
      else if (ridCol.contains(f.name))
        MorScanMerge.ridExpr(dirtySchema, mp.relFile, frids)
      else {
        val i = dirtySchema.fieldIndex(f.name)
        BoundReference(i, dirtySchema(i).dataType, dirtySchema(i).nullable)
      }
    }.toIndexedSeq)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (!priorDead.contains(row.getLong(idxOrd)) &&
              !priorEqs.exists(_.deadRow(row)) &&
              newEqs.exists(_.deadRow(row))) { cur = row; return true }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("CDC delete partitions are row-based")
}

/** CDC insert-side reader: passes the inner rows through, re-projected to
  * `out` with the constant `_change_type` tag appended. */
final class TaggingReaderFactory(
    inner: PartitionReaderFactory,
    dataSchema: StructType,
    out: StructType,
    tagCol: String,
    tag: String) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val proj = UnsafeProjection.create(out.fields.map { f =>
      if (f.name == tagCol)
        Literal(UTF8String.fromString(tag), StringType)
      else {
        val i = dataSchema.fieldIndex(f.name)
        BoundReference(i, dataSchema(i).dataType, dataSchema(i).nullable)
      }
    }.toIndexedSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = proj(r.get())
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("CDC insert partitions are row-based")
}

/** CDC insert-side reader for ROW-LINEAGE tables: like
  * [[TaggingReaderFactory]] but fed one-file-per-partition
  * ([[MorFilePartition]], empty shard lists) so each task can compute its
  * rows' stable `_row_id` via [[MorScanMerge.ridExpr]] — the id a
  * `readWithRowIds` of the committed snapshot would serve, emitted with
  * the insert image so a CDC consumer keys on identity from day one. */
final class RidTaggingReaderFactory(
    inner: PartitionReaderFactory,
    dirtySchema: StructType,
    out: StructType,
    tagCol: String,
    tag: String,
    ridCol: String,
    frids: Map[String, Long]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[MorFilePartition]
    val r = inner.createReader(mp.delegate)
    val proj = UnsafeProjection.create(out.fields.map { f =>
      if (f.name == tagCol)
        Literal(UTF8String.fromString(tag), StringType)
      else if (f.name == ridCol)
        MorScanMerge.ridExpr(dirtySchema, mp.relFile, frids)
      else {
        val i = dirtySchema.fieldIndex(f.name)
        BoundReference(i, dirtySchema(i).dataType, dirtySchema(i).nullable)
      }
    }.toIndexedSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = proj(r.get())
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("CDC insert partitions are row-based")
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
