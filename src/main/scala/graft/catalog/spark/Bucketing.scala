package graft.catalog.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** Storage-partitioned-join support: bucketed snapcat tables join WITHOUT a
  * shuffle when both sides are bucketed the same way on the join key.
  *
  * Mechanics (the Iceberg SPJ recipe, re-expressed here):
  *  - the WRITE path derives `__bucket = pmod(key, n)` and lays data out in
  *    Hive-style `__bucket=b/` dirs ([[graft.catalog.SnapshotCatalog.createBucketedTable]]);
  *  - the TABLE reports `partitioning = bucket(n, key)` and the catalog
  *    serves the matching `bucket` function ([[BucketFunction]]) so Spark
  *    can canonicalize the transform on both join sides;
  *  - the SCAN reports [[KeyGroupedPartitioning]] and emits one keyed
  *    input-partition group per bucket ([[BucketedScan]]), so
  *    EnsureRequirements sees both sides already clustered on the key and
  *    plans the join with ZERO exchanges — at 100 TB, the difference
  *    between a fact-fact join that moves both tables and one that moves
  *    nothing (enable `spark.sql.sources.v2.bucketing.enabled`).
  *
  * pmod bucketing (not a hash) keeps the function trivially engine-exact;
  * skewed keys should salt or hash upstream — documented tradeoff.
  */
object BucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "bucket(n, col): pmod(col, n) bucket id"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets INT, value BIGINT), got $inputType")
    require(inputType.fields(1).dataType == LongType,
      s"bucket value must be BIGINT, got ${inputType.fields(1).dataType.sql} " +
        "(createBucketedTable enforces BIGINT keys for exactly this reason)")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        val v = input.getLong(1)
        Integer.valueOf((((v % n) + n) % n).toInt)
      }
    }
  }
}

/** Shared scan defaults (stateless). */
private[spark] object ScanDefaults {
  val unknownStatistics: org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  /** A batch with nothing to read (empty buckets). */
  val emptyBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      throw new IllegalStateException("empty batch has no reader")
  }
  def statisticsOf(scan: Scan): org.apache.spark.sql.connector.read.Statistics =
    scan match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => unknownStatistics
    }
  /** Sum across sub-scans when every one reports; unknown otherwise — a
    * partial sum would UNDERSTATE and could green-light broadcasting a
    * huge side of a join. */
  def summedStatistics(scans: Seq[Scan]): org.apache.spark.sql.connector.read.Statistics = {
    val stats = scans.map(statisticsOf)
    def total(f: org.apache.spark.sql.connector.read.Statistics => java.util.OptionalLong) = {
      val vs = stats.map(f)
      if (vs.nonEmpty && vs.forall(_.isPresent)) java.util.OptionalLong.of(vs.map(_.getAsLong).sum)
      else java.util.OptionalLong.empty()
    }
    val size = total(_.sizeInBytes)
    val rows = total(_.numRows)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong = rows
    }
  }
}

/** One bucket's worth of a parquet scan's input partitions, keyed so
  * Spark's key-grouped planning can line both join sides up. */
final case class BucketKeyedPartition(bucketId: Int, delegate: InputPartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucketId)
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

final case class BucketUnwrappingReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(partition.asInstanceOf[BucketKeyedPartition].delegate)
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(partition.asInstanceOf[BucketKeyedPartition].delegate)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition.asInstanceOf[BucketKeyedPartition].delegate)
}

/** Scan over a bucketed table: batch per bucket from the stock parquet
  * path, partitions keyed by bucket id, partitioning reported as
  * `bucket(n, srcCol)`. `bucketBatches(b)` must return the parquet Batch
  * scanning exactly bucket b's files (pruned/pushed like any other scan). */
final class BucketedScan(
    val template: Scan,
    val nBuckets: Int,
    transform: org.apache.spark.sql.connector.expressions.Transform,
    tableLabel: String,
    bucketBatches: Int => Batch,
    microBatch: Option[String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    stats: Scan => org.apache.spark.sql.connector.read.Statistics =
      ScanDefaults.statisticsOf,
    // live MoR deletes: bucket batches carry per-partition factories
    // (reader-level merge, see MorScanMerge) instead of sharing the
    // template's — partitions are CarriedFactoryPartition then
    readerFactoryOverride: Option[PartitionReaderFactory] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = template.readSchema()
  override def description(): String =
    s"bucketed($nBuckets) over (${template.description()})"
  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(transform), nBuckets)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until nBuckets).flatMap { b =>
      bucketBatches(b).planInputPartitions().map(p => BucketKeyedPartition(b, p))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    BucketUnwrappingReaderFactory(
      readerFactoryOverride.getOrElse(template.toBatch.createReaderFactory()))

  // AQE/join estimates keep working on the bucketed path too
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    stats(template)

  // streaming tail: supplied by the plugin (reads appended files flat with
  // the visible schema — the bucket layout is a batch-scan concern)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    microBatch.getOrElse(throw new UnsupportedOperationException(
      s"streaming read of BUCKETED table $tableLabel is not supported - " +
        "use readIncremental"))(checkpointLocation)

  // canonicalized-plan equality via the stock scan's structural equality:
  // self-joins of a bucketed table keep exchange/scan reuse
  override def equals(other: Any): Boolean = other match {
    case s: BucketedScan => template == s.template && nBuckets == s.nBuckets
    case _ => false
  }
  override def hashCode(): Int = template.hashCode() * 31 + nBuckets
}
