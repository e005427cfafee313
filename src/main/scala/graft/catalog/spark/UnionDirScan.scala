package graft.catalog.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportStatistics}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Union of per-snapshot-dir parquet scans — the V2 read path for a
  * PARTITIONED table whose live files span several snapshot dirs (append
  * after append, or a row-level rewrite carrying untouched files).
  * Hive-style partition dirs need a `basePath` to resolve partition-column
  * values, and a multi-dir file list has no single basePath — so each
  * sub-scan is a stock vectorized parquet scan over ONE dir's
  * (footer-pruned) files with that dir's basePath, carrying the SAME
  * pushed filters and column pruning. Their input partitions concatenate
  * into one batch: scan-level predicate pushdown, partition pruning and
  * column pruning all stay live on this shape — replacing the round-3 V1
  * `TableScan` bridge, which read every column of every row.
  *
  * Sub-scans may have HETEROGENEOUS layouts: an appended dir stores the
  * partition column in dir names (`flag=a/`), a rewrite dir stores it in
  * file content (flat files) — so their reader configs differ and their
  * output column orders differ (file scans emit data columns then
  * partition columns). Each partition therefore dispatches to ITS OWN
  * sub-scan's reader factory, and sub-scans whose column order deviates
  * from the template's are permuted back (row projection / columnar-batch
  * vector reorder — both O(columns), not O(values)).
  */
private[spark] final class UnionDirScan(
    val template: Scan,
    val subScans: Seq[Scan],
    label: String)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = template.readSchema()
  override def description(): String =
    s"snapcat union of ${subScans.size} snapshot dirs ($label)"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    subScans.zipWithIndex.flatMap { case (s, i) =>
      s.toBatch.planInputPartitions().map(p => SubScanPartition(i, p))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val out = readSchema()
    val factories = subScans.map(_.toBatch.createReaderFactory()).toArray
    // permutation per sub-scan: output ordinal -> sub-scan ordinal
    // (None when the orders already agree — the common all-appends case)
    val perms: Array[Option[Array[Int]]] = subScans.map { s =>
      val sub = s.readSchema()
      require(sub.fieldNames.sorted.sameElements(out.fieldNames.sorted),
        s"sub-scan schema ${sub.fieldNames.mkString(",")} does not cover " +
          s"union schema ${out.fieldNames.mkString(",")}")
      if (sub.fieldNames.sameElements(out.fieldNames)) None
      else Some(out.fieldNames.map(sub.fieldIndex))
    }.toArray
    new SubScanDispatchFactory(factories, perms, out)
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    ScanDefaults.summedStatistics(subScans)

  // unreachable through the plugin (SnapStreamableScan owns the streaming
  // personality, including partitioned tails); defensive for direct use
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      s"UnionDirScan of $label has no streaming personality - " +
        "stream through the table scan")

  // canonicalized-plan equality via the stock sub-scans' structural
  // equality, so self-joins of this shape keep exchange/scan reuse
  override def equals(other: Any): Boolean = other match {
    case s: UnionDirScan => subScans == s.subScans && template == s.template
    case _ => false
  }
  override def hashCode(): Int = subScans.hashCode() * 31 + template.hashCode()
}

/** One sub-scan's input partition, tagged with its sub-scan index so the
  * dispatch factory can route it to the factory that planned it. */
private[spark] final case class SubScanPartition(subIdx: Int, delegate: InputPartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Routes each partition to its own sub-scan's reader factory and permutes
  * output columns to the union's order where a sub-scan's order deviates.
  * Columnar reads survive: a batch permutation re-wraps the column vectors
  * (zero copy). Parquet's columnar support is schema-driven and every
  * sub-scan shares the table schema, so support is uniform across
  * partitions — Spark requires that of any batch. */
private[spark] final class SubScanDispatchFactory(
    factories: Array[PartitionReaderFactory],
    perms: Array[Option[Array[Int]]],
    out: StructType) extends PartitionReaderFactory {

  private def route(p: InputPartition): (PartitionReaderFactory, Option[Array[Int]], InputPartition) = {
    val sp = p.asInstanceOf[SubScanPartition]
    (factories(sp.subIdx), perms(sp.subIdx), sp.delegate)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (f, perm, inner) = route(p)
    val reader = f.createReader(inner)
    perm match {
      case None => reader
      case Some(ord) =>
        val proj = UnsafeProjection.create(ord.zipWithIndex.map { case (srcIdx, outIdx) =>
          BoundReference(srcIdx, out(outIdx).dataType, nullable = true)
        }.toIndexedSeq)
        new PartitionReader[InternalRow] {
          override def next(): Boolean = reader.next()
          override def get(): InternalRow = proj(reader.get())
          override def close(): Unit = reader.close()
        }
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val (f, perm, inner) = route(p)
    val reader = f.createColumnarReader(inner)
    perm match {
      case None => reader
      case Some(ord) =>
        new PartitionReader[ColumnarBatch] {
          override def next(): Boolean = reader.next()
          override def get(): ColumnarBatch = {
            val b = reader.get()
            new ColumnarBatch(ord.map(b.column), b.numRows())
          }
          override def close(): Unit = reader.close()
        }
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (f, _, inner) = route(p)
    f.supportColumnarReads(inner)
  }
}

/** A batch concatenating several batches with IDENTICAL layout and reader
  * config (one bucket's files across several snapshot dirs — bucketed
  * commits are always hive-laid on `__bucket`, and SQL rewrites of
  * bucketed tables are rejected, so heterogeneity cannot arise here);
  * reader factory from the first. */
private[spark] final class UnionBatch(batches: Seq[Batch]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    batches.flatMap(_.planInputPartitions()).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    batches.headOption.getOrElse(ScanDefaults.emptyBatch).createReaderFactory()
}

/** An input partition that carries the reader factory of the batch that
  * planned it. A micro-batch stream creates its reader factory ONCE but
  * plans batches over dirs that do not exist yet at stream start (each
  * append lands a new snapshot dir whose hive partition dirs need their
  * own basePath) — so each planned batch ships its own factory inside its
  * partitions and the stream-level factory just unwraps
  * ([[CarryingReaderFactory]]). Factories are Serializable by contract;
  * they ride to executors with the partition exactly as they would
  * task-serialized from a batch scan. */
private[spark] final case class CarriedFactoryPartition(
    delegate: InputPartition,
    factory: PartitionReaderFactory) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

private[spark] object CarryingReaderFactory extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): CarriedFactoryPartition =
    p.asInstanceOf[CarriedFactoryPartition]
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val c = unwrap(p); c.factory.createReader(c.delegate)
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val c = unwrap(p); c.factory.createColumnarReader(c.delegate)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val c = unwrap(p); c.factory.supportColumnarReads(c.delegate)
  }
}
