package graft.stages

import java.nio.file.Paths
import java.time.Instant

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.{JObj, JStr, Json, SnapshotCatalog}
import graft.functions.{Fingerprint, OnePass}
import graft.functions.Fingerprint.TableDigest

/** Stage 1 — snapshot collection (`/root/reference/1_collect_src_snapshots.py`).
  *
  * Per table: scan the snapshots metadata relation, order chronologically,
  * project the four snapshot fields (`1:61-76`). Only metadata reaches the
  * driver — the table's data files are never opened, so this stage costs the
  * same at 100 TB as at 1 MB. Per-table failures are swallowed to `None`
  * like the reference (`1:77-79`).
  */
object SnapshotCollector {
  def collectTable(cat: SnapshotCatalog, db: String, table: String): Option[SnapshotInfo] =
    Try {
      // sort by snapshotId (commit order by construction) — NOT by the ISO
      // string: Instant.toString omits .SSS for whole seconds and '.' < 'Z',
      // so '…:00.123Z' would sort before '…:00Z' lexicographically
      val snaps = cat.snapshotList(db, table).sortBy(_.snapshotId).map(s =>
        SnapshotRecord(s.snapshotId, s.committedAt, s.operation, s.summary))
      SnapshotInfo(db, table, snaps)
    } match {
      case Success(info) => Some(info)
      case Failure(e) =>
        System.err.println(s"Error collecting snapshots for table $db.$table: ${e.getMessage}")
        None
    }

  def run(cat: SnapshotCatalog, db: String): Seq[SnapshotInfo] =
    cat.listTables(db).flatMap(t => collectTable(cat, db, t))
}

/** As-of snapshot resolution — latest snapshot per table with
  * `committed_at <= target` (`/root/reference/2_collect_database_schema_info.py:21-55`).
  *
  * The reference does this with driver-side Python loops over the stage-1
  * artifact; `resolve` keeps that shape (the artifact is tiny). `resolveDF`
  * is the same computation as a Spark window query
  * (`row_number` over partitionBy(table) orderBy desc) for when the snapshot
  * inventory itself is big — e.g. hundreds of thousands of tables —
  * demonstrating the SURVEY §2.4 A5 mapping.
  */
object AsOfResolver {

  def resolve(infos: Seq[SnapshotInfo], targetTs: String): Map[String, Long] = {
    // OffsetDateTime accepts ANY ISO offset (Z, +00:00, +02:00, ...), like
    // the reference's fromisoformat (`2_collect_database_schema_info.py:35`)
    val target = java.time.OffsetDateTime.parse(targetTs).toInstant
    infos.flatMap { info =>
      val valid = info.snapshots.filter(s => !Instant.parse(s.committedAt).isAfter(target))
      // ties on committed_at break to the HIGHER snapshot id (later commit
      // wins), consistent with resolveDF and SnapshotCatalog.readAsOfTimestamp
      valid.maxByOption(s => (Instant.parse(s.committedAt), s.snapshotId))
        .map(s => s"${info.database}.${info.tableName}" -> s.snapshotId)
    }.toMap
  }

  /** Window form over a DataFrame with columns
    * (database, table_name, snapshot_id, committed_at). Ties on committed_at
    * break to the higher snapshot_id (later commit wins, matching log order). */
  def resolveDF(snapshots: DataFrame, targetTs: String): DataFrame = {
    val w = Window.partitionBy("database", "table_name")
      .orderBy(col("committed_at").desc, col("snapshot_id").desc)
    snapshots
      .where(col("committed_at") <= to_timestamp(lit(targetTs)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }
}

/** Stage 2 — point-in-time schema capture
  * (`/root/reference/2_collect_database_schema_info.py:141-235`).
  *
  * For each table with a resolved snapshot: schema as of that snapshot,
  * partition spec, location, properties, and the snapshot's data files.
  * The reference reconstructs all of this by string-parsing
  * `DESCRIBE TABLE EXTENDED` output (`2:162-214`); our catalog keeps it
  * structured, so capture is pure metadata — zero Spark jobs.
  */
object SchemaCapture {

  def captureTable(cat: SnapshotCatalog, db: String, table: String,
      snapshotId: Long): Option[TableInfo] =
    Try {
      val st = cat.loadTable(db, table)
      val snap = cat.materialize(st, st.entryAt(snapshotId))
      val meta = cat.meta(db, table)
      val location = java.nio.file.Paths.get(cat.warehouse, db, table)
      val schema = snap.schema
      val columns = schema.fields.toSeq.map(f => ColumnInfo(f.name, f.dataType.sql))
      val partCols = meta.partitionCols.map { p =>
        ColumnInfo(p, schema.fields.find(_.name == p).map(_.dataType.sql).getOrElse("STRING"))
      }
      TableInfo(
        database = db,
        tableName = table,
        columns = columns,
        partitionCols = partCols,
        location = location.toString,
        properties = meta.properties + ("Provider" -> "snapcat"),
        files = snap.files.map(f => location.resolve(f).toString),
        snapshotId = snapshotId)
    } match {
      case Success(info) => Some(info)
      case Failure(e) =>
        System.err.println(s"Error collecting information for table $db.$table: ${e.getMessage}")
        None
    }

  def run(cat: SnapshotCatalog, db: String, latestSnapshots: Map[String, Long]): Seq[TableInfo] =
    cat.listTables(db).flatMap { table =>
      latestSnapshots.get(s"$db.$table") match {
        case None =>
          System.err.println(s"Warning: No valid snapshot found for table $db.$table")
          None
        case Some(snapId) => captureTable(cat, db, table, snapId)
      }
    }
}

/** Stage 3 — create target table structures
  * (`/root/reference/3_create_dst_tables.py:66-112`).
  *
  * CREATE NAMESPACE IF NOT EXISTS + CREATE TABLE IF NOT EXISTS from the
  * captured column spec. Unlike the reference — which records partition
  * columns in stage 2 but silently drops them here (`3:84-89`) — the
  * partition spec is applied, so migrated tables keep partition pruning.
  */
object TableCreator {

  def createOne(cat: SnapshotCatalog, info: TableInfo): CreationResult = {
    val t0 = System.nanoTime()
    Try {
      cat.createNamespace(info.database)
      val schema = StructType(info.columns.map(c =>
        StructField(c.name, org.apache.spark.sql.types.DataType.fromDDL(c.colType))))
      cat.createTable(info.database, info.tableName, schema,
        partitionCols = info.partitionCols.map(_.name))
    } match {
      case Success(_) =>
        CreationResult(info.database, info.tableName, "success",
          (System.nanoTime() - t0) / 1e9, info.files.size)
      case Failure(e) =>
        CreationResult(info.database, info.tableName, "failed",
          (System.nanoTime() - t0) / 1e9, info.files.size, Some(e.getMessage))
    }
  }

  def run(cat: SnapshotCatalog, infos: Seq[TableInfo]): Seq[CreationResult] =
    infos.map(createOne(cat, _))
}

/** Stage 4 — verify table creation
  * (`/root/reference/4_verify_table_creation.py:37-108`).
  *
  * Set-difference of column names and partition-column names, source
  * manifest vs live target (SURVEY §2.3 J2). The collections are tiny
  * (schema-sized), so plain Scala sets; the Dataset `except` form of the
  * same operator is exercised in `SparkEntry.queries` on data-scale sets.
  */
object SchemaVerifier {

  def verifyOne(cat: SnapshotCatalog, info: TableInfo): ValidationResult =
    Try {
      val snap = cat.currentSnapshot(info.database, info.tableName)
      val meta = cat.meta(info.database, info.tableName)
      val targetCols = snap.schema.fieldNames.toSet
      val targetPartCols = meta.partitionCols.toSet
      val sourceCols = info.columns.map(_.name).toSet
      val sourcePartCols = info.partitionCols.map(_.name).toSet
      val missing = (sourceCols -- targetCols).toSeq.sorted
      val extra = (targetCols -- sourceCols).toSeq.sorted
      val missingPart = (sourcePartCols -- targetPartCols).toSeq.sorted
      val extraPart = (targetPartCols -- sourcePartCols).toSeq.sorted
      ValidationResult(info.database, info.tableName,
        columnsMatch = missing.isEmpty && extra.isEmpty,
        partitionColsMatch = missingPart.isEmpty && extraPart.isEmpty,
        missingColumns = missing, extraColumns = extra,
        missingPartitionCols = missingPart, extraPartitionCols = extraPart)
    } match {
      case Success(r) => r
      case Failure(e) =>
        ValidationResult(info.database, info.tableName, columnsMatch = false,
          partitionColsMatch = false, Nil, Nil, Nil, Nil, Some(e.getMessage))
    }

  def run(cat: SnapshotCatalog, infos: Seq[TableInfo]): Seq[ValidationResult] =
    infos.map(verifyOne(cat, _))
}

/** Stage 5 — migrate table data (`5_migrate_tables_data.py:44-110`).
  *
  * Per table: assert the snapshot exists, time-travel read, overwrite-write
  * into the target. Scale improvements over the reference:
  *   - the reference runs `df.count()` and then writes — two full scans of
  *     the source (`5:76` then `5:80-83`); our record count rides the write
  *     itself via `Observation` inside `SnapshotCatalog.commit`, one scan.
  *   - the source fingerprint that stage 6 compares against (count +
  *     checksum, [[graft.functions.Fingerprint]]) rides the same write as a
  *     second `Observation` and is recorded on the target
  *     ([[SourceDigest]]), so verification need not scan the source again.
  *   - the existence check is a log lookup, not a Spark job (`5:62-69`).
  * The write preserves the target's declared partition spec (partitionBy in
  * the commit), so migrated data lands partition-pruned for readers.
  */
object Migrator {

  def migrateOne(src: SnapshotCatalog, dst: SnapshotCatalog, info: TableInfo): MigrationResult = {
    val t0 = System.currentTimeMillis() / 1000.0
    Try {
      val st = src.loadTable(info.database, info.tableName)
      val entry = st.entries.find(_.snapshotId == info.snapshotId).getOrElse(
        throw new NoSuchElementException(s"Cannot find snapshot with ID ${info.snapshotId}"))
      val df = src.readAt(st, entry)
      if (!dst.tableExists(info.database, info.tableName)) {
        // saveAsTable-like behavior: create on demand (`5:80-83` note in SURVEY §3 E3)
        dst.createTable(info.database, info.tableName, df.schema,
          partitionCols = info.partitionCols.map(_.name))
      }
      val (observed, obs) = Fingerprint.observed(df)
      val snap = dst.overwrite(info.database, info.tableName, observed)
      val records = snap.summary.get("added_records").map(_.toLong).getOrElse(snap.recordCount)
      SourceDigest.record(src, dst, info, snap.snapshotId, obs, records)
      records
    } match {
      case Success(records) =>
        MigrationResult(info.database, info.tableName, info.snapshotId, records,
          t0, System.currentTimeMillis() / 1000.0, "success")
      case Failure(e) =>
        MigrationResult(info.database, info.tableName, info.snapshotId, 0L,
          t0, System.currentTimeMillis() / 1000.0, "failed", Some(e.getMessage))
    }
  }

  def run(src: SnapshotCatalog, dst: SnapshotCatalog, infos: Seq[TableInfo]): Seq[MigrationResult] =
    infos.map(migrateOne(src, dst, _))
}

/** The source fingerprint a migrate write observed, kept as the target
  * table property [[Property]] and bound to what it describes: the source
  * warehouse (absolute, normalized, so catalogs opened on a relative and an
  * absolute spelling of one warehouse agree), `db.table`, the source
  * snapshot id, and the target snapshot id the migrate commit produced.
  *
  * The record is written after the commit. A crash in between leaves no
  * record (or an older one naming an earlier target snapshot), so
  * verification scans the source and a retried migration converges.
  */
object SourceDigest {
  val Property = "migrate.source-digest"

  private def binding(src: SnapshotCatalog, info: TableInfo,
      targetSnapshotId: Long): Map[String, String] = Map(
    "source_warehouse" -> Paths.get(src.warehouse).toAbsolutePath.normalize().toString,
    "table" -> info.tableKey,
    "source_snapshot_id" -> info.snapshotId.toString,
    "target_snapshot_id" -> targetSnapshotId.toString)

  /** Record the digest `obs` saw, once the write that fired it has
    * committed `targetSnapshotId` with `records` rows. A digest whose count
    * disagrees with the commit's is dropped, and verification then scans:
    * the observed frame ran through more than the write, as when a target
    * with a `write.sort-order` range-samples it first. */
  def record(src: SnapshotCatalog, dst: SnapshotCatalog, info: TableInfo,
      targetSnapshotId: Long, obs: Observation, records: Long): Unit =
    Try(OnePass.result(obs)).toOption.map(TableDigest.fromRow)
      .filter(_.count == records)
      .foreach { d =>
        val fields = binding(src, info, targetSnapshotId) ++
          Map("count" -> d.count.toString, "checksum" -> d.checksum.toString)
        dst.setProperty(info.database, info.tableName, Property,
          Some(Json.write(Json.fromStrMap(fields))))
      }

  /** The recorded source digest, when every bound field matches; `None`
    * for an absent, unbound or unreadable record. */
  def recorded(src: SnapshotCatalog, dst: SnapshotCatalog, info: TableInfo,
      targetSnapshotId: Long): Option[TableDigest] = Try {
    dst.meta(info.database, info.tableName).properties.get(Property).map(Json.parse)
      .collect { case o: JObj => o.fields.collect { case (k, JStr(v)) => k -> v }.toMap }
      .filter(m => binding(src, info, targetSnapshotId).forall { case (k, v) => m.get(k).contains(v) })
      .map(m => TableDigest(m("count").toLong, BigInt(m("checksum"))))
  }.toOption.flatten
}

/** Stage 6 — verify data integrity (`6_verify_data_integrity.py:45-115`).
  *
  * Source (as of the migrated snapshot) vs target: row counts equal AND
  * order-insensitive checksums equal. `sample_match` is derived from the
  * other two, exactly like the reference's argument at `6:83-87`.
  * The target is always read back in full, in ONE fused scan (count +
  * checksum in one observed pass: one Spark job, no shuffle) vs the
  * reference's two; see [[graft.functions.Fingerprint]]. The source side
  * is the digest the migrate write recorded ([[SourceDigest]]) when its
  * binding matches the target's current snapshot — the source is then
  * scanned once across stages 5 and 6 — and otherwise one more such scan
  * of the source, as of the migrated snapshot. `sourceDigest` says which.
  */
object IntegrityVerifier {

  def verifyOne(src: SnapshotCatalog, dst: SnapshotCatalog, info: TableInfo): DataVerificationResult = {
    val t0 = System.currentTimeMillis() / 1000.0
    val target = Try(dst.loadTable(info.database, info.tableName))
    val recorded = target.toOption
      .flatMap(st => SourceDigest.recorded(src, dst, info, st.published.snapshotId))
    val sourceDigest = if (recorded.isDefined) "recorded" else "scanned"
    Try {
      val srcDigest = recorded.getOrElse(
        Fingerprint.digest(src.readAsOf(info.database, info.tableName, info.snapshotId)))
      val dstDigest = Fingerprint.digest(dst.readAt(target.get, target.get.published))
      (srcDigest, dstDigest)
    } match {
      case Success((s, d)) =>
        val countsMatch = s.count == d.count
        val checksumMatch = s.checksum == d.checksum
        DataVerificationResult(info.database, info.tableName, s.count, d.count,
          countsMatch, checksumMatch, sampleMatch = countsMatch && checksumMatch,
          t0, System.currentTimeMillis() / 1000.0, sourceDigest)
      case Failure(e) =>
        DataVerificationResult(info.database, info.tableName, 0L, 0L,
          countsMatch = false, checksumMatch = false, sampleMatch = false,
          t0, System.currentTimeMillis() / 1000.0, sourceDigest, Some(e.getMessage))
    }
  }

  def run(src: SnapshotCatalog, dst: SnapshotCatalog, infos: Seq[TableInfo]): Seq[DataVerificationResult] =
    infos.map(verifyOne(src, dst, _))
}
