package graft.stages

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import graft.catalog.{JArr, JObj, JStr, Json, JValue}

/** Inter-stage artifact records, preserving the reference pipeline's JSON
  * shapes byte-for-byte in structure so a consumer of the reference's
  * `migration_info/` files could read ours.
  *
  * - `SnapshotInfo`  — `/root/reference/1_collect_src_snapshots.py:9-13`
  * - `TableInfo`     — `/root/reference/2_collect_database_schema_info.py:10-19`
  *   (stage 3 consumes it with `snapshot_id` stripped,
  *   `/root/reference/3_create_dst_tables.py:25-30`)
  * - `ValidationResult` — `/root/reference/4_verify_table_creation.py:8-18`
  * - `MigrationResult`  — `/root/reference/5_migrate_tables_data.py:9-22`
  * - `DataVerificationResult` — `/root/reference/6_verify_data_integrity.py:8-23`
  *
  * One deliberate divergence (SURVEY §1.2): column `type` strings are stored
  * as Spark SQL DDL (`dataType.sql`, e.g. `BIGINT`), not Python
  * `str(dataType)` (`LongType()`), because stage 3 splices them into CREATE
  * TABLE — the reference's rendering only parses by accident.
  */
final case class SnapshotRecord(
    snapshotId: Long,
    committedAt: String,
    operation: String,
    summary: Map[String, String]) {
  def toJson: JObj = Json.obj(
    "snapshot_id"  -> Json.num(snapshotId),
    "committed_at" -> Json.str(committedAt),
    "operation"    -> Json.str(operation),
    "summary"      -> Json.fromStrMap(summary))
}

final case class SnapshotInfo(
    database: String,
    tableName: String,
    snapshots: Seq[SnapshotRecord]) {
  def toJson: JObj = Json.obj(
    "database"   -> Json.str(database),
    "table_name" -> Json.str(tableName),
    "snapshots"  -> JArr(snapshots.toVector.map(_.toJson)))
}

object SnapshotInfo {
  def fromJson(o: JObj): SnapshotInfo = SnapshotInfo(
    database = o.str("database"),
    tableName = o.str("table_name"),
    snapshots = o.arr("snapshots").map { v =>
      val s = v.asInstanceOf[JObj]
      SnapshotRecord(s.long("snapshot_id"), s.str("committed_at"), s.str("operation"),
        s.strMap("summary"))
    })
}

final case class ColumnInfo(name: String, colType: String) {
  def toJson: JObj = Json.obj("name" -> Json.str(name), "type" -> Json.str(colType))
}

object ColumnInfo {
  def fromJson(o: JObj): ColumnInfo = ColumnInfo(o.str("name"), o.str("type"))
}

final case class TableInfo(
    database: String,
    tableName: String,
    columns: Seq[ColumnInfo],
    partitionCols: Seq[ColumnInfo],
    location: String,
    properties: Map[String, String],
    files: Seq[String],
    snapshotId: Long) {
  def tableKey: String = s"$database.$tableName"
  def toJson: JObj = Json.obj(
    "database"       -> Json.str(database),
    "table_name"     -> Json.str(tableName),
    "columns"        -> JArr(columns.toVector.map(_.toJson)),
    "partition_cols" -> JArr(partitionCols.toVector.map(_.toJson)),
    "location"       -> Json.str(location),
    "properties"     -> Json.fromStrMap(properties),
    "files"          -> JArr(files.toVector.map(JStr(_): JValue)),
    "snapshot_id"    -> Json.num(snapshotId))
}

object TableInfo {
  def fromJson(o: JObj): TableInfo = TableInfo(
    database = o.str("database"),
    tableName = o.str("table_name"),
    columns = o.arr("columns").map(v => ColumnInfo.fromJson(v.asInstanceOf[JObj])),
    partitionCols = o.arr("partition_cols").map(v => ColumnInfo.fromJson(v.asInstanceOf[JObj])),
    location = o.str("location"),
    properties = o.strMap("properties"),
    files = o.arr("files").collect { case JStr(s) => s },
    snapshotId = o.long("snapshot_id"))
}

final case class CreationResult(
    database: String,
    table: String,
    status: String,
    time: Double,
    filesCount: Int,
    error: Option[String] = None)

final case class ValidationResult(
    database: String,
    tableName: String,
    columnsMatch: Boolean,
    partitionColsMatch: Boolean,
    missingColumns: Seq[String],
    extraColumns: Seq[String],
    missingPartitionCols: Seq[String],
    extraPartitionCols: Seq[String],
    error: Option[String] = None) {
  def ok: Boolean = columnsMatch && partitionColsMatch && error.isEmpty
}

final case class MigrationResult(
    database: String,
    tableName: String,
    snapshotId: Long,
    recordsCount: Long,
    startTime: Double,
    endTime: Double,
    status: String,
    error: Option[String] = None) {
  def duration: Double = endTime - startTime
}

final case class DataVerificationResult(
    database: String,
    tableName: String,
    sourceCount: Long,
    targetCount: Long,
    countsMatch: Boolean,
    checksumMatch: Boolean,
    sampleMatch: Boolean,
    startTime: Double,
    endTime: Double,
    sourceDigest: String, // "recorded" (from the migrate write) | "scanned"
    error: Option[String] = None) {
  def duration: Double = endTime - startTime
  def ok: Boolean = countsMatch && checksumMatch && sampleMatch
}

/** Artifact file IO — filename patterns and directory nesting mirror the
  * reference (`migration_info/snapshot_info/snapshots_info_<db>_<ts>.json`,
  * `migration_info/database_schema/tables_info_<db>_<ts>.json`). */
object Artifacts {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)
  def nowStamp(): String = tsFmt.format(Instant.now())

  def saveSnapshotsInfo(baseDir: String, infos: Seq[SnapshotInfo], stamp: String = nowStamp()): Path = {
    require(infos.nonEmpty, "No snapshot information to save")
    val dir = Paths.get(baseDir, "migration_info", "snapshot_info")
    Files.createDirectories(dir)
    val f = dir.resolve(s"snapshots_info_${infos.head.database}_$stamp.json")
    Files.writeString(f, Json.writePretty(JArr(infos.toVector.map(_.toJson))))
    f
  }

  def loadSnapshotsInfo(file: String): Seq[SnapshotInfo] =
    Json.parse(Files.readString(Paths.get(file))) match {
      case JArr(vs) => vs.map(v => SnapshotInfo.fromJson(v.asInstanceOf[JObj]))
      case other    => throw new IllegalArgumentException(s"bad snapshots_info file: $other")
    }

  def saveTablesInfo(baseDir: String, infos: Seq[TableInfo], stamp: String = nowStamp()): Path = {
    require(infos.nonEmpty, "No table information to save")
    val dir = Paths.get(baseDir, "migration_info", "database_schema")
    Files.createDirectories(dir)
    val f = dir.resolve(s"tables_info_${infos.head.database}_$stamp.json")
    Files.writeString(f, Json.writePretty(JArr(infos.toVector.map(_.toJson))))
    f
  }

  def loadTablesInfo(file: String): Seq[TableInfo] =
    Json.parse(Files.readString(Paths.get(file))) match {
      case JArr(vs) => vs.map(v => TableInfo.fromJson(v.asInstanceOf[JObj]))
      case other    => throw new IllegalArgumentException(s"bad tables_info file: $other")
    }
}
