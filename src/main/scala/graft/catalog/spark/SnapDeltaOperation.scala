package graft.catalog.spark

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.catalog.{GraftLocalFileSystem, SnapshotCatalog}

/** Marker + hook consumed by [[MorDeltaScanRule]]: a row-level operation
  * whose candidate scan must be the library's MERGED position-tagged read
  * (existing merge-on-read deletes applied, rows carrying
  * `__graft_mor_file`/`__graft_mor_pos` identity). The rule swaps the
  * rewrite plan's V2 relation for this plan at the end of analysis. */
trait MorDeltaRoutable {
  /** Analyzed logical plan of the merged candidate scan, optionally
    * file-pruned by the DML condition (footer-stat skipping). */
  def deltaScanPlan(cond: Option[Column]): LogicalPlan
}

/** Spark [[SupportsDelta]] row-level operation over a snapcat table — the
  * Iceberg-v2-style MERGE-ON-READ SQL path (cf. Iceberg's
  * `SparkPositionDeltaOperation`): instead of the group-based copy-on-write
  * rewrite (scan candidate files, rewrite the full post-operation state),
  * the rewritten query emits per-row operations and the writers commit
  *   - DELETE rows as POSITION-DELETE parquet (`_file`, `_pos`),
  *   - UPDATE rows as a position delete + a re-inserted copy
  *     ([[representUpdateAsDeleteAndInsert]]), and
  *   - INSERT rows as new data files,
  * adopted as ONE snapshot ([[SnapshotCatalog.adoptDelta]]). Write
  * amplification is O(matched + inserted) — a single-row SQL UPDATE on a
  * 100-TB table commits one tiny delete file and one tiny data file where
  * the CoW rewrite rewrites every candidate file. Chosen by the table
  * whenever the snapshot carries LIVE delete files (the CoW scan would
  * resurrect dead rows — this path merges them) or the table opted in via
  * `write.<op>.mode = merge-on-read`.
  *
  * The row id is (file, position) — resolved from the table's V2 METADATA
  * COLUMNS and served by the substituted merged scan, never by the stock
  * parquet V2 scan (which cannot emit positions); [[newScanBuilder]] is
  * therefore unreachable and throws. */
final class SnapDeltaOperation(
    spark: SparkSession, warehouse: String,
    db: String, table: String, snapshotId: Long,
    cmd: RowLevelOperation.Command, opName: String,
    tableSchema: StructType, lineage: Boolean)
    extends RowLevelOperation with SupportsDelta with MorDeltaRoutable {

  private def cat = new SnapshotCatalog(spark, warehouse)

  override def command: RowLevelOperation.Command = cmd
  override def description(): String = s"snapcat merge-on-read $opName"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(SnapshotCatalog.MorFileCol),
      Expressions.column(SnapshotCatalog.MorPosCol))

  /** Updates split into DELETE + REINSERT op rows: that IS the commit
    * shape (position delete + re-inserted copy), so no writer-side
    * translation — and the reinsert half still receives the pre-image's
    * METADATA row, which is how identity survives the split. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** Row-lineage tables thread each candidate row's stable id through
    * the rewrite as a metadata attribute: the substituted merged scan
    * serves `__rid` (coalesce(physical, first_row_id + pos)) and the
    * writer materializes it into the re-inserted post-image, so a SQL
    * UPDATE/MERGE preserves row identity per Iceberg v3 exactly like the
    * DataFrame-API updateMoR/upsertMoR paths. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (lineage) Array(Expressions.column("__rid")) else Array.empty

  override def deltaScanPlan(cond: Option[Column]): LogicalPlan =
    cat.readDeltaScan(db, table, snapshotId, cond).queryExecution.analyzed

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      s"$opName on $db.$table routed merge-on-read but the session did not " +
        "substitute the merged scan — add spark.sql.extensions=" +
        "graft.catalog.spark.GraftSparkExtensions (MorDeltaScanRule)")

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new SnapDeltaWrite(spark, warehouse, db, table, opName,
          snapshotId, info, tableSchema, lineage)
    }
}

/** One SQL delta statement's write. Task writers append parquet DIRECTLY
  * into `data/sd-<uuid>/` (inserted/updated rows) and `deletes/sd-<uuid>/`
  * (position deletes) with attempt-unique names — no hadoop commit
  * protocol, no temp-dir renames (two committers per task would fight over
  * the commit-coordinator slot, and rename-free is the object-store
  * posture anyway). Correctness comes from the V2 commit coordinator (one
  * WINNING attempt per partition contributes its commit message) plus the
  * driver adoption reading ONLY message-listed files: a zombie attempt's
  * stray parquet is swept before adoption, never referenced. */
private final class SnapDeltaWrite(
    spark: SparkSession, warehouse: String,
    db: String, table: String, opName: String, snapshotId: Long,
    info: LogicalWriteInfo, tableSchema: StructType,
    lineage: Boolean) extends DeltaWrite {

  override def description(): String = s"snapcat $opName delta write"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val uid = java.util.UUID.randomUUID().toString.take(12)
    private val dataDirName = s"sd-$uid"
    private val delDirName = s"sd-$uid"
    // a pure DELETE has no row projection — writers then never open a row
    // file, but the schema must still exist for the factory.
    // Lineage tables append a physical `__rid` column: REINSERTED rows
    // (the update split's post-images) carry their pre-image's id, fresh
    // INSERTs write null — the commit funnel then claims a first_row_id
    // range for the file (the MIXED shape, never `rid_materialized`) and
    // the read side's coalesce(physical, frid + pos) serves preserved
    // ids for updates and mints fresh ones for inserts.
    private val rowSchema: StructType = {
      val base = if (info.schema().fields.isEmpty) tableSchema else info.schema()
      if (lineage) base.add(org.apache.spark.sql.types.StructField("__rid",
        org.apache.spark.sql.types.LongType, nullable = true))
      else base
    }
    private val delSchema: StructType = StructType.fromDDL("_file STRING, _pos BIGINT")

    /** Hadoop conf prepared for [[ParquetWriteSupport]] exactly like
      * Spark's own parquet write path (schema + codec + the session's
      * parquet write settings), shipped serialized to tasks. */
    private def writeConf(schema: StructType): SerializableConfiguration = {
      val sqlc = spark.sessionState.conf
      val hc = spark.sessionState.newHadoopConf()
      GraftLocalFileSystem.register(hc)
      hc.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[ParquetWriteSupport].getName)
      ParquetWriteSupport.setSchema(schema, hc)
      hc.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
        sqlc.writeLegacyParquetFormat.toString)
      hc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        sqlc.parquetOutputTimestampType.toString)
      hc.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
        sqlc.parquetFieldIdWriteEnabled.toString)
      hc.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        sqlc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
      hc.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
        sqlc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
      hc.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
        sqlc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
      hc.set(ParquetOutputFormat.COMPRESSION,
        sqlc.parquetCompressionCodec.toUpperCase(Locale.ROOT))
      new SerializableConfiguration(hc)
    }

    override def createBatchWriterFactory(p: PhysicalWriteInfo): DeltaWriterFactory = {
      val dataDir = Paths.get(warehouse, db, table, "data", dataDirName)
      val delDir = Paths.get(warehouse, db, table, "deletes", delDirName)
      Files.createDirectories(dataDir)
      Files.createDirectories(delDir)
      SnapDeltaWriterFactory(dataDir.toString, delDir.toString,
        writeConf(rowSchema), writeConf(delSchema), lineage)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: SnapDeltaCommitMessage => m }
      new SnapshotCatalog(spark, warehouse).adoptDelta(db, table, opName,
        dataDirName, msgs.flatMap(_.dataFiles).toSeq.sorted,
        delDirName, msgs.flatMap(_.deleteFiles).toSeq.sorted,
        snapshotId)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val root = Paths.get(warehouse, db, table)
      def drop(p: java.nio.file.Path): Unit =
        if (Files.isDirectory(p)) {
          val s = Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(Files.deleteIfExists(_))
          finally s.close()
        }
      drop(root.resolve("data").resolve(dataDirName))
      drop(root.resolve("deletes").resolve(delDirName))
    }
  }
}

/** Per-task commit handle: the files this WINNING attempt wrote (bare
  * names within the statement's data / deletes dirs). */
private final case class SnapDeltaCommitMessage(
    dataFiles: Seq[String], deleteFiles: Seq[String]) extends WriterCommitMessage

private final case class SnapDeltaWriterFactory(
    dataDir: String, delDir: String,
    rowConf: SerializableConfiguration, delConf: SerializableConfiguration,
    lineage: Boolean)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new SnapDeltaWriter(dataDir, delDir, rowConf, delConf, partitionId, taskId,
      lineage)
}

/** Task-side delta writer: op rows fan out to two lazily opened parquet
  * writers (Spark's own [[ParquetOutputWriter]] — vectorized-write-support
  * encoding, no committer). File names carry (partition, task) so retried
  * attempts never collide; a task that receives no rows of a kind never
  * creates that file; files open through [[GraftLocalFileSystem]] (no
  * `chmod` process each). `id` rows arrive projected in
  * [[SnapDeltaOperation.rowId]] order — exactly the (`_file`, `_pos`)
  * layout of the delete parquet. */
private final class SnapDeltaWriter(
    dataDir: String, delDir: String,
    rowConf: SerializableConfiguration, delConf: SerializableConfiguration,
    partitionId: Int, taskId: Long, lineage: Boolean)
    extends DeltaWriter[InternalRow] {

  private var rowWriter: ParquetOutputWriter = _
  private var rowFile: String = _
  private var delWriter: ParquetOutputWriter = _
  private var delFile: String = _

  // lineage: the written row = (projected row, __rid) — reusable shells;
  // ParquetWriteSupport consumes values during write, so reuse is safe
  private val ridCell =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

  /** The metadata projection carries exactly
    * [[SnapDeltaOperation.requiredMetadataAttributes]] — `__rid` at
    * ordinal 0 when lineage is on. */
  private def ridOf(meta: InternalRow): Any =
    if (meta == null || meta.numFields == 0 || meta.isNullAt(0)) null
    else meta.getLong(0)

  private def open(dir: String, conf: SerializableConfiguration,
      suffix: String): (ParquetOutputWriter, String) = {
    // a fresh Configuration per writer: TaskAttemptContext mutates it, and
    // the serialized copy is shared by every writer in this executor
    val hc = new Configuration(conf.value)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-delta", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(hc, attempt)
    val name = f"part-$partitionId%05d-$taskId$suffix.parquet"
    (new ParquetOutputWriter(GraftLocalFileSystem.writeUri(Paths.get(dir, name)), ctx), name)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null) {
      val (w, n) = open(delDir, delConf, "-del"); delWriter = w; delFile = n
    }
    delWriter.write(id)
  }
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id); writeRow(row, ridOf(meta))
  }
  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    // the update split's post-image: inherits the pre-image's identity
    writeRow(row, ridOf(meta))
  override def insert(row: InternalRow): Unit =
    // a genuinely NEW row: null __rid, the commit funnel mints its id
    writeRow(row, null)

  private def writeRow(row: InternalRow, rid: Any): Unit = {
    if (rowWriter == null) {
      val (w, n) = open(dataDir, rowConf, ""); rowWriter = w; rowFile = n
    }
    if (!lineage) rowWriter.write(row)
    else {
      ridCell.update(0, rid)
      rowWriter.write(joined.apply(row, ridCell))
    }
  }

  override def commit(): WriterCommitMessage = {
    close()
    SnapDeltaCommitMessage(Option(rowFile).toSeq, Option(delFile).toSeq)
  }

  override def abort(): Unit = {
    close()
    if (rowFile != null)
      Files.deleteIfExists(Paths.get(dataDir, rowFile))
    if (delFile != null)
      Files.deleteIfExists(Paths.get(delDir, delFile))
  }

  override def close(): Unit = {
    if (rowWriter != null) { rowWriter.close(); rowWriter = null }
    if (delWriter != null) { delWriter.close(); delWriter = null }
  }
}
