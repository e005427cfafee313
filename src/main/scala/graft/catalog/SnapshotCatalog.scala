package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.OnePass

/** One committed snapshot of a table: a full table state addressed by id.
  *
  * Mirrors the Iceberg snapshot surface the reference consumes — fields
  * `snapshot_id`, `committed_at`, `operation`, `summary`
  * (`/root/reference/1_collect_src_snapshots.py:65-70`) — plus what our
  * engine needs to serve time travel without an Iceberg runtime: the schema
  * as of the snapshot (DDL string) and the full data-file list.
  *
  * `files` are table-root-relative paths; a snapshot owns the COMPLETE file
  * list for its state (append = previous files + new, overwrite = new only),
  * so resolving a time-travel read is a single log lookup, never a log replay.
  */
final case class Snapshot(
    snapshotId: Long,
    committedAt: String, // ISO-8601 UTC
    operation: String,   // create | append | overwrite | ...
    summary: Map[String, String],
    schemaDdl: String,
    files: Seq[String],
    fileStats: Map[String, Map[String, String]] = Map.empty,
    deleteFiles: Seq[DeleteFile] = Seq.empty) {

  def schema: StructType = StructType.fromDDL(schemaDdl)
  def recordCount: Long = summary.get("record_count").map(_.toLong).getOrElse(-1L)
  def addedRecords: Long = summary.get("added_records").map(_.toLong).getOrElse(-1L)
}

/** One DELETE file (Iceberg v2 merge-on-read), either flavor:
  *
  *  - POSITION delete (`eqCols` empty): parquet of `(_file STRING,
  *    _pos BIGINT)` rows marking individual data-file rows dead.
  *    `covers` maps each referenced data file to its EXACT position
  *    count (recorded at delete-commit time from the written positions
  *    themselves) — which is what keeps everything metadata-served:
  *    reads merge ONLY covered files, partial rewrites decide shard
  *    carry and visible-row counts without opening a delete file, and
  *    `record_count` stays exact.
  *  - EQUALITY delete (`eqCols` set): parquet of key tuples over those
  *    columns; any covered row matching a tuple (null-safe equality) is
  *    dead. Committing one never scans the corpus at all — the CDC/
  *    streaming-writer shape — at the cost of exactness: per-file dead
  *    counts are unknowable, so `covers` values are 0 and the table's
  *    `record_count` goes honestly unknown until compact() materializes.
  *
  * `path` is table-root-relative (`deletes/s<id>/...parquet`); delete
  * files are write-once, like data files. */
final case class DeleteFile(path: String, covers: Map[String, Long],
    eqCols: Seq[String] = Seq.empty, eqTuples: Long = 0L) {
  /** Position-delete file? (else equality delete.) */
  def isPositional: Boolean = eqCols.isEmpty
  /** Rows in the delete file: dead positions for a position delete, key
    * tuples for an equality delete (used for broadcast sizing; an eq
    * file's DEAD-row count is unknowable without a scan — that is the
    * trade the format makes). */
  def rows: Long = if (isPositional) covers.values.sum else eqTuples
  def toJson: JObj = Json.obj(
    (Vector(
      "path"   -> (Json.str(path): JValue),
      "covers" -> (JObj(covers.toVector.sortBy(_._1)
        .map { case (f, n) => f -> (Json.num(n): JValue) }): JValue)) ++
      (if (eqCols.isEmpty) Vector.empty
       else Vector(
         "eq_cols" -> (JArr(eqCols.toVector.map(JStr)): JValue),
         "eq_tuples" -> (Json.num(eqTuples): JValue)))): _*)
}

object DeleteFile {
  def fromJson(o: JObj): DeleteFile = DeleteFile(
    path = o.str("path"),
    covers = {
      val c = o.obj("covers")
      c.fields.map { case (f, _) => f -> c.long(f) }.toMap
    },
    eqCols = o.get("eq_cols") match {
      case Some(JArr(vs)) => vs.collect { case JStr(s) => s }
      case _ => Seq.empty
    },
    eqTuples = o.get("eq_tuples").collect { case JNum(n) => n.toLong }.getOrElse(0L))
}

/** Immutable per-snapshot manifest shard: the data files ONE snapshot added
  * (appends) or its full rewritten state (overwrite/rewrite commits), with
  * their per-file footer stats. Snapshots reference shards by file name and
  * an append REUSES the previous snapshot's shard list plus one new shard,
  * so commit metadata cost is O(files added), never O(history × files) —
  * the Iceberg manifest idea re-expressed for this catalog. Shards are
  * write-once (never mutated after the pointer-log rename adopts them),
  * which is what makes the JVM-wide parse cache sound. */
final case class Manifest(
    files: Seq[String],
    fileStats: Map[String, Map[String, String]]) {
  def toJson: JObj = Json.obj(
    "files" -> JArr(files.toVector.map(JStr)),
    "file_stats" -> JObj(fileStats.toVector.sortBy(_._1)
      .map { case (f, m) => f -> (Json.fromStrMap(m): JValue) }))
}

object Manifest {
  val empty: Manifest = Manifest(Seq.empty, Map.empty)
  def fromJson(o: JObj): Manifest = Manifest(
    files = o.arr("files").collect { case JStr(s) => s },
    fileStats = o.get("file_stats") match {
      case Some(fs: JObj) => fs.fields.map { case (f, _) => f -> fs.strMap(f) }.toMap
      case _ => Map.empty
    })
}

/** One live manifest shard's inventory row (`manifests` metadata table):
  * `recordCount` is None when any file in the shard lacks a footer row
  * count; `referencedBy` counts the log entries reusing the shard. */
final case class ManifestInfo(
    name: String,
    fileCount: Int,
    recordCount: Option[Long],
    addedSnapshotId: Long,
    referencedBy: Int)

/** Pointer-log entry (log format v2): everything O(columns)-sized about a
  * snapshot — id, timestamp, operation, summary stats, schema DDL — plus
  * the ordered manifest shards whose concatenation IS the snapshot's file
  * list. The pointer log stays KB-sized regardless of table file count, so
  * metadata questions (`snapshots()`, record counts, streaming epoch
  * high-water checks, as-of resolution) never open a manifest. */
final case class SnapshotEntry(
    snapshotId: Long,
    committedAt: String,
    operation: String,
    summary: Map[String, String],
    schemaDdl: String,
    manifests: Seq[String],
    deletes: Seq[String] = Seq.empty) {

  def schema: StructType = StructType.fromDDL(schemaDdl)

  def toJson: JObj = Json.obj(
    (Vector(
      "snapshot_id"  -> (Json.num(snapshotId): JValue),
      "committed_at" -> (Json.str(committedAt): JValue),
      "operation"    -> (Json.str(operation): JValue),
      "summary"      -> (Json.fromStrMap(summary): JValue),
      "schema_ddl"   -> (Json.str(schemaDdl): JValue),
      "manifests"    -> (JArr(manifests.toVector.map(JStr)): JValue)) ++
      (if (deletes.isEmpty) Vector.empty
       else Vector("deletes" -> (JArr(deletes.toVector.map(JStr)): JValue)))): _*)
}

object SnapshotEntry {
  def fromJson(o: JObj): SnapshotEntry = SnapshotEntry(
    snapshotId = o.long("snapshot_id"),
    committedAt = o.str("committed_at"),
    operation = o.str("operation"),
    summary = o.strMap("summary"),
    schemaDdl = o.str("schema_ddl"),
    manifests = o.arr("manifests").collect { case JStr(s) => s },
    deletes = o.get("deletes") match {
      case Some(JArr(vs)) => vs.collect { case JStr(s) => s }
      case _ => Seq.empty
    })
}

/** What one published commit did to the main lineage, as
  * [[SnapshotCatalog.commitRange]] classifies it. */
private[graft] sealed trait CommitKind
private[graft] object CommitKind {
  /** Added data files and delete files only: appends, WAP publish,
    * fastForward and the merge-on-read DML family. */
  case object Additive extends CommitKind
  /** A row-preserving rewrite (compact / z-order / bin-pack / delete
    * maintenance, all operation "compact"): its outputs re-home rows
    * already accounted for. */
  case object Compact extends CommitKind
  /** A commit whose effect on EXISTING rows per-file metadata cannot
    * enumerate: a non-compact commit that removed data files, a rollback,
    * or a commit that dropped a live delete file (both resurrect rows). */
  final case class NotEnumerable(reason: String) extends CommitKind
}

/** One published commit of a [[SnapshotCatalog.commitRange]] walk.
  * `parent` and `snap` are the lazy [[Snapshot]] views of the commit's
  * parent and of the commit itself (nothing parses until a caller walks
  * their files); `added`/`removed` are the data files the commit added and
  * removed, `newDeletes` the delete files it added. */
private[graft] final case class CommitStep(
    entry: SnapshotEntry,
    parent: Snapshot,
    snap: Snapshot,
    added: Seq[String],
    removed: Seq[String],
    newDeletes: Seq[DeleteFile],
    kind: CommitKind)

/** Table-level metadata (everything that is not per-snapshot). Shape follows
  * the reference's `TableInfo` dataclass
  * (`/root/reference/2_collect_database_schema_info.py:10-19`): partition
  * spec and properties are first-class, and — unlike the reference, which
  * records partition columns but never applies them
  * (`/root/reference/3_create_dst_tables.py:84-89`) — we apply them on write.
  */
/** One historical definition of a SQL view (Iceberg view-spec version). */
final case class ViewVersion(version: Int, timestampUtc: String, sql: String,
    columnAliases: Seq[String], schemaDdl: String) {
  def toJson: JObj = JObj(Vector(
    "version" -> JNum(version.toDouble),
    "ts" -> JStr(timestampUtc),
    "sql" -> JStr(sql),
    "aliases" -> JArr(columnAliases.map(a => JStr(a): JValue).toVector),
    "schema" -> JStr(schemaDdl)))
}
object ViewVersion {
  def fromJson(o: JObj): ViewVersion = ViewVersion(
    o.long("version").toInt, o.str("ts"), o.str("sql"),
    o.arr("aliases").map(_.asInstanceOf[JStr].value),
    o.str("schema"))
}

/** A view's full document: current version pointer + append-only history
  * + properties. */
final case class ViewMeta(current: Int, versions: Seq[ViewVersion],
    properties: Map[String, String]) {
  def currentVersion: ViewVersion = versions.find(_.version == current)
    .getOrElse(throw new IllegalStateException(
      s"view document corrupt: current=$current absent from history"))
  def toJson: JObj = JObj(Vector(
    "current" -> JNum(current.toDouble),
    "versions" -> JArr(versions.map(_.toJson: JValue).toVector),
    "properties" -> JObj(properties.toVector.sortBy(_._1)
      .map { case (k, v) => k -> (JStr(v): JValue) })))
}
object ViewMeta {
  def fromJson(o: JObj): ViewMeta = ViewMeta(
    o.long("current").toInt,
    o.arr("versions").map(v => ViewVersion.fromJson(v.asInstanceOf[JObj])),
    o.obj("properties").fields.map { case (k, v) =>
      k -> v.asInstanceOf[JStr].value }.toMap)
}

final case class TableMeta(
    database: String,
    tableName: String,
    partitionCols: Seq[String],
    properties: Map[String, String],
    refs: Map[String, Long] = Map.empty,
    branches: Map[String, Long] = Map.empty) {

  /** (source column, bucket count) when this is a bucketed table. */
  def bucketSpec: Option[(String, Int)] =
    (properties.get("bucket.col"), properties.get("bucket.n")) match {
      case (Some(c), Some(n)) => Some((c, n.toInt))
      case _ => None
    }

  /** (source column, transform kind) when this table is HIDDEN-partitioned
    * by a transform — a time transform (`hour`/`day`/`month`/`year`) of a
    * timestamp column or `truncate` of an int/long/string column — the
    * Iceberg hidden-partitioning model: the user queries the SOURCE
    * column, the layout rides a derived `__pt` directory column. */
  def transformSpec: Option[(String, String)] =
    (properties.get("transform.col"), properties.get("transform.kind")) match {
      case (Some(c), Some(k)) => Some((c, k))
      case _ => None
    }

  /** Truncation width when `transformSpec`'s kind is `truncate`. */
  def transformWidth: Option[Int] =
    properties.get("transform.width").map(_.toInt)

  /** Layout columns derived by the engine, hidden from the SQL-visible
    * schema (`__bucket` for bucketed tables, `__pt` for transform-
    * partitioned ones). */
  def hiddenCols: Set[String] =
    bucketSpec.map(_ => "__bucket").toSet ++ transformSpec.map(_ => "__pt").toSet

  def toJson: JObj = Json.obj(
    "database"       -> Json.str(database),
    "table_name"     -> Json.str(tableName),
    "partition_cols" -> JArr(partitionCols.toVector.map(JStr)),
    "properties"     -> Json.fromStrMap(properties),
    "refs"           -> JObj(refs.toVector.sortBy(_._1)
      .map { case (n, id) => n -> (Json.num(id): JValue) }),
    "branches"       -> JObj(branches.toVector.sortBy(_._1)
      .map { case (n, id) => n -> (Json.num(id): JValue) }))
}

object TableMeta {
  def fromJson(o: JObj): TableMeta = TableMeta(
    database = o.str("database"),
    tableName = o.str("table_name"),
    partitionCols = o.arr("partition_cols").collect { case JStr(s) => s },
    properties = o.strMap("properties"),
    refs = o.strMap("refs").map { case (k, v) => k -> v.toLong },
    branches = (o.get("branches") match {
      case Some(_: JObj) => o.strMap("branches")
      case _ => Map.empty[String, String]
    }).map { case (k, v) => k -> v.toLong })
}

/** Snapshot-versioned Parquet table catalog — the engine's core.
  *
  * Re-expresses the Iceberg surface the reference depends on (catalog of
  * databases/tables, snapshot metadata table, snapshot-id time travel,
  * overwrite commits) as a thin library over `spark.read/write.parquet`,
  * because this build environment ships no Iceberg runtime jar.
  *
  * Layout: {{{
  *   <warehouse>/<db>/<table>/table.json                    table meta
  *   <warehouse>/<db>/<table>/_snapshots/log.json           pointer log (v2)
  *   <warehouse>/<db>/<table>/_snapshots/m<id>.json         manifest shards
  *   <warehouse>/<db>/<table>/data/s<id>/[part=dirs/]*.parquet
  * }}}
  *
  * Scale design (100 TB posture):
  *   - Only METADATA ever touches the driver: the pointer log is a few KB
  *     regardless of table size; data moves exclusively through
  *     `spark.read.parquet -> df.write.parquet` cluster-side.
  *   - The log is SHARDED Iceberg-manifest style: `log.json` holds one
  *     small pointer entry per snapshot (summary + ordered manifest names);
  *     each `m<id>.json` holds the files one snapshot ADDED. An append
  *     writes one shard of O(new files) and rewrites only the KB pointer
  *     log — never the table's accumulated file history (a monolithic log
  *     rewrites ~N²/2 file entries over N appends; at 10⁵–10⁶ files that
  *     is gigabytes per commit). Rollback and schema evolution reuse prior
  *     shards verbatim: pure pointer commits, zero O(files) writes.
  *   - Shards are write-once, so resolution caches them process-wide: one
  *     parse per shard per JVM no matter how many reads resolve it.
  *   - Time-travel resolution is file-list construction on the driver (one
  *     log lookup), after which Spark plans a plain vectorized Parquet scan
  *     with full pushdown/pruning — no custom read path to de-optimize.
  *   - `record_count` is captured at write time via `Observation` (zero
  *     extra scan) and serves `count`-style questions in O(1) from the log,
  *     mirroring Iceberg's manifest-served counts.
  *   - Commits are write-temp-then-atomic-rename on the log; single-writer
  *     like the reference's sequential per-table loops
  *     (`/root/reference/5_migrate_tables_data.py:186-193`).
  *
  * Evidence map (reference behavior -> method): `SHOW TABLES`
  * (`1_collect_src_snapshots.py:49-56`) -> `listTables`; `.snapshots`
  * metadata table (`1:61-62`) -> `snapshots`; `snapshot-id` time travel
  * (`5_migrate_tables_data.py:72-74`) -> `readAsOf`; overwrite-save
  * (`5:80-83`) -> `overwrite`; `CREATE NAMESPACE`/`CREATE TABLE`
  * (`3_create_dst_tables.py:73-92`) -> `createNamespace`/`createTable`;
  * file enumeration intent (`2_collect_database_schema_info.py:219-224`)
  * -> `files`.
  */
final class SnapshotCatalog(
    val spark: SparkSession,
    val warehouse: String,
    clock: () => Instant = () => Instant.now(),
    mutex: CommitMutex = FileLockCommitMutex,
    log: PointerLogStore = FilePointerLogStore) {

  GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
  import GraftLocalFileSystem.writeUri

  private def whPath: Path = Paths.get(warehouse)
  private def dbPath(db: String): Path = whPath.resolve(db)
  private def tablePath(db: String, table: String): Path = dbPath(db).resolve(table)
  private def dataPath(db: String, table: String): Path = tablePath(db, table).resolve("data")
  private def logPath(db: String, table: String): Path =
    tablePath(db, table).resolve("_snapshots").resolve("log.json")
  private def metaPath(db: String, table: String): Path = tablePath(db, table).resolve("table.json")

  // ---- namespace / table DDL ----

  def createNamespace(db: String): Unit = Files.createDirectories(dbPath(db))

  def dropNamespace(db: String): Unit = {
    SnapshotCatalog.purgeManifestCache(dbPath(db))
    // the RAW listing: MV backing tables (`__mv_*`) are hidden from the
    // user-facing listTables but their pointer-log keys still need purging
    // before the directory goes — a non-directory log backend would
    // otherwise keep stale CAS state. Same for every view document.
    listTablesRaw(db).foreach(t => log.delete(logKey(db, t)))
    listViews(db).foreach { v => log.delete(viewKey(db, v)) }
    deleteRecursively(dbPath(db))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally stream.close()
    }

  private def withList[T](dir: Path)(f: Iterator[Path] => T): T = {
    val stream = Files.list(dir)
    try f(stream.iterator().asScala) finally stream.close()
  }

  def listNamespaces(): Seq[String] =
    if (!Files.isDirectory(whPath)) Seq.empty
    else withList(whPath)(_.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted)

  def namespaceExists(db: String): Boolean = Files.isDirectory(dbPath(db))

  /** CREATE TABLE IF NOT EXISTS semantics (`3_create_dst_tables.py:79-92`),
    * with the partition spec actually applied (fixing the reference's gap).
    * Commits snapshot 1 with operation `create` and an empty file list.
    */
  def createTable(
      db: String,
      table: String,
      schema: StructType,
      partitionCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Boolean = {
    if (tableExists(db, table)) return false
    require(!viewExists(db, table),
      s"cannot create table $db.$table: a view with that name exists " +
        "(one object would silently shadow the other)")
    val unknown = partitionCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"partition columns not in schema: ${unknown.mkString(",")}")
    createNamespace(db)
    Files.createDirectories(dataPath(db, table))
    Files.createDirectories(logPath(db, table).getParent)
    AtomicFile.write(metaPath(db, table), Json.writePretty(TableMeta(db, table, partitionCols, properties).toJson))
    SnapshotCatalog.purgeManifestCache(tablePath(db, table))
    writeEntries(TableState.absent(db, table), Seq(SnapshotEntry(1L, clock().toString,
      "create", Map("record_count" -> "0", "added_files" -> "0", "total_files" -> "0"),
      schema.toDDL, Seq.empty)))
    true
  }

  /** Bucketed table (storage-partitioned-join surface): rows carry a
    * derived `__bucket = pmod(bucketCol, nBuckets)` column laid out in
    * Hive-style dirs, and the bucket spec rides the table properties so
    * the SQL plugin can report `bucket(n, col)` partitioning and plan
    * co-bucketed joins WITHOUT a shuffle (see
    * [[graft.catalog.spark.BucketedScan]]). Write through
    * [[appendBucketed]]; `compact()` preserves the layout (partitionBy
    * rides the recorded partition column). */
  def createBucketedTable(db: String, table: String, schema: StructType,
      bucketCol: String, nBuckets: Int,
      properties: Map[String, String] = Map.empty): Boolean = {
    require(nBuckets > 0, "nBuckets must be positive")
    val f = schema.fields.find(_.name == bucketCol).getOrElse(
      throw new IllegalArgumentException(s"no such column: $bucketCol"))
    // BIGINT only: the V2 bucket function declares a LONG input, so Spark's
    // function-resolution casts line up exactly with the write-side pmod
    require(f.dataType.sql == "BIGINT",
      s"bucket column must be BIGINT (pmod bucketing), got ${f.dataType.sql}")
    createTable(db, table,
      schema.add(org.apache.spark.sql.types.StructField("__bucket",
        org.apache.spark.sql.types.IntegerType, nullable = true)),
      partitionCols = Seq("__bucket"),
      properties = properties ++
        Map("bucket.col" -> bucketCol, "bucket.n" -> nBuckets.toString))
  }

  /** Derive the `__bucket` layout column from a bucketed table's recorded
    * spec (no-op if the frame already carries it). */
  def bucketize(db: String, table: String, df: DataFrame): DataFrame = {
    val (bCol, n) = meta(db, table).bucketSpec.getOrElse(
      throw new IllegalArgumentException(
        s"$db.$table is not bucketed - create it with createBucketedTable"))
    // NULL keys land in bucket 0 (coalesce): a null never matches an
    // equi-join anyway, and the alternative — Hive's default-partition
    // dir — is invisible to the per-bucket scan and silently loses rows
    if (df.columns.contains("__bucket")) df
    else df.withColumn("__bucket",
      coalesce(pmod(col(s"`$bCol`").cast("long"), lit(n.toLong)), lit(0L)).cast("int"))
  }

  /** Append to a bucketed table: derives `__bucket` from the recorded
    * spec — callers never see the layout column. */
  def appendBucketed(db: String, table: String, df: DataFrame): Snapshot =
    append(db, table, bucketize(db, table, df))

  /** HIDDEN-partitioned table by a TIME TRANSFORM of a timestamp column
    * (Iceberg's hidden partitioning): rows lay out under `__pt=N/` dirs
    * where `__pt = floor(epoch_seconds(tsCol) / unit)` for `kind` =
    * `hour` | `day`, or the UTC calendar ordinal (months since 1970-01 /
    * years since 1970) for `kind` = `month` | `year` — but the SQL
    * surface never shows `__pt`: users filter the SOURCE column and
    * [[pruneFiles]] maps timestamp ranges to directory ranges. Write
    * through [[appendTransformed]] (or SQL INSERT — every write path
    * derives the layout column). */
  def createTransformPartitionedTable(db: String, table: String,
      schema: StructType, tsCol: String, kind: String,
      properties: Map[String, String] = Map.empty): Boolean = {
    require(TimeTransform.Kinds(kind),
      s"unsupported partition transform '$kind' (supported: ${TimeTransform.Kinds.mkString(", ")})")
    val f = schema.fields.find(_.name == tsCol).getOrElse(
      throw new IllegalArgumentException(s"no such column: $tsCol"))
    require(f.dataType.sql == "TIMESTAMP" || f.dataType.sql == "TIMESTAMP_NTZ",
      s"transform column must be TIMESTAMP or TIMESTAMP_NTZ, got ${f.dataType.sql}")
    createTable(db, table,
      schema.add(org.apache.spark.sql.types.StructField(TimeTransform.Col,
        org.apache.spark.sql.types.LongType, nullable = true)),
      partitionCols = Seq(TimeTransform.Col),
      properties = properties ++
        Map("transform.col" -> tsCol, "transform.kind" -> kind))
  }

  /** HIDDEN-partitioned table by Iceberg's `truncate[width]` transform of
    * an int/long/string column: rows lay out under `__pt=<truncated>/`
    * dirs (`v - (v mod W)` for integrals — floor semantics, negative
    * values bin downward; the first `W` characters for strings), the SQL
    * surface never shows `__pt`, and equality/IN/range/prefix predicates
    * on the SOURCE column prune whole bins ([[TruncateTransform]]). */
  def createTruncatePartitionedTable(db: String, table: String,
      schema: StructType, srcCol: String, width: Int,
      properties: Map[String, String] = Map.empty): Boolean = {
    require(width > 0, s"truncate width must be positive, got $width")
    val f = schema.fields.find(_.name == srcCol).getOrElse(
      throw new IllegalArgumentException(s"no such column: $srcCol"))
    val ptType: org.apache.spark.sql.types.DataType = f.dataType match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => org.apache.spark.sql.types.LongType
      case org.apache.spark.sql.types.StringType => org.apache.spark.sql.types.StringType
      case other => throw new IllegalArgumentException(
        s"truncate transform supports INT/BIGINT/STRING columns, got ${other.sql}")
    }
    createTable(db, table,
      schema.add(org.apache.spark.sql.types.StructField(TimeTransform.Col,
        ptType, nullable = true)),
      partitionCols = Seq(TimeTransform.Col),
      properties = properties ++ Map("transform.col" -> srcCol,
        "transform.kind" -> TruncateTransform.Kind,
        "transform.width" -> width.toString))
  }

  /** Derive the `__pt` layout column from a transform-partitioned table's
    * recorded spec (no-op if the frame already carries it). NULL
    * timestamps land in partition 0 and NULL truncate sources in the
    * empty/default partition — like the bucket path, a null never matches
    * a predicate, and the pruner always keeps the default dir. */
  def transformize(db: String, table: String, df: DataFrame): DataFrame = {
    val tm = meta(db, table)
    val (tsCol, kind) = tm.transformSpec.getOrElse(
      throw new IllegalArgumentException(
        s"$db.$table is not transform-partitioned - create it with " +
          "createTransformPartitionedTable"))
    if (df.columns.contains(TimeTransform.Col)) df
    else if (kind == TruncateTransform.Kind) {
      val width = tm.transformWidth.getOrElse(throw new IllegalStateException(
        s"$db.$table: truncate transform without transform.width"))
      val dt = df.schema.fields.find(_.name == tsCol).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"no such column: $tsCol"))
      val fallback = dt match {
        case org.apache.spark.sql.types.StringType => lit("")
        case _ => lit(0L)
      }
      df.withColumn(TimeTransform.Col,
        coalesce(TruncateTransform.ptColumn(dt, width, col(s"`$tsCol`")), fallback))
    } else {
      val dt = df.schema.fields.find(_.name == tsCol).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"no such column: $tsCol"))
      df.withColumn(TimeTransform.Col,
        coalesce(TimeTransform.ptColumn(kind, col(s"`$tsCol`"), dt), lit(0L)))
    }
  }

  /** Append to a transform-partitioned table: derives `__pt` from the
    * recorded spec — callers never see the layout column. */
  def appendTransformed(db: String, table: String, df: DataFrame): Snapshot =
    append(db, table, transformize(db, table, df))

  /** Derive whatever hidden layout columns this table's specs require —
    * the single entry every SQL/MoR write path funnels through. */
  def deriveLayout(db: String, table: String, df: DataFrame): DataFrame = {
    val tm = meta(db, table)
    val b = if (tm.bucketSpec.isDefined) bucketize(db, table, df) else df
    if (tm.transformSpec.isDefined) transformize(db, table, b) else b
  }

  /** Re-lay a FLAT external-writer data dir (the SQL row-level rewrite's
    * ReplaceData / delta output, or a native streaming epoch — all write
    * the visible schema, no layout dirs) into the table's hive partition
    * layout: read the flat files back, derive `__bucket` when bucketed,
    * write `partitionBy` the table's partition columns, drop the flat dir.
    * No-op (returns the dir unchanged) on unpartitioned tables. Returns
    * the hive-laid dir's name for adoption.
    *
    * Cost: ONE extra write of only the freshly rewritten subset — carried
    * (untouched) files never move, so an `UPDATE ... WHERE k = 5` on a
    * 100-TB bucketed table re-lays the few candidate files' worth of rows,
    * not the lake. That bounded second pass is what keeps partition
    * pruning and storage-partitioned joins valid across SQL rewrites
    * instead of rejecting them. */
  def relayoutLaid(db: String, table: String, flatDirName: String): String = {
    val tm = meta(db, table)
    if (tm.partitionCols.isEmpty) return flatDirName
    val hidden = tm.hiddenCols
    val visible0 = org.apache.spark.sql.types.StructType(
      loadTable(db, table).schema.fields.filterNot(f => hidden(f.name)))
    // lineage tables: the flat delta may carry a physical __rid column
    // (the SQL delta writer's preserved identities) — read and re-write
    // it so the re-layout never re-mints. Files without the column read
    // null (the fresh-insert shape), which the read side's
    // coalesce(physical, first_row_id + pos) resolves correctly.
    val visible =
      if (rowLineageEnabled(db, table))
        visible0.add(org.apache.spark.sql.types.StructField("__rid",
          org.apache.spark.sql.types.LongType, nullable = true))
      else visible0
    val flatDir = dataPath(db, table).resolve(flatDirName)
    val outName = s"$flatDirName-b"
    val outDir = dataPath(db, table).resolve(outName)
    // explicit schema: an empty rewrite output (all rows deleted) must read
    // as an empty frame, not an infer-schema failure
    val flat = spark.read.schema(visible).parquet(flatDir.toString)
    val laid = tm.bucketSpec match {
      // one file per occupied bucket; plain partitions keep the writer's
      // task parallelism (partitionBy splits per task per dir) unless the
      // table declares hash write distribution — then the re-laid subset
      // clusters on the layout columns like every library commit does
      case Some((_, n)) => bucketize(db, table, flat).repartition(n, col("__bucket"))
      case None =>
        val derived = deriveLayout(db, table, flat) // __pt when transformed
        if (tm.properties.get("write.distribution-mode").contains("hash"))
          derived.repartition(tm.partitionCols.map(c => col(s"`$c`")): _*)
        else derived
    }
    laid.write.mode("overwrite").partitionBy(tm.partitionCols: _*)
      .parquet(writeUri(outDir))
    deleteRecursively(flatDir)
    outName
  }

  def tableExists(db: String, table: String): Boolean = Files.exists(metaPath(db, table))

  def listTables(db: String): Seq[String] =
    // materialized-view backing tables are INTERNAL: they surface as
    // their view (listViews), not as tables — still loadable by name
    listTablesRaw(db).filterNot(_.startsWith("__mv_"))

  /** EVERY physical table in the namespace, MV backing tables included —
    * the listing namespace-lifecycle code must use (drop/emptiness), so
    * hidden `__mv_*` state is never leaked past a namespace drop nor
    * mistaken for emptiness. */
  private[graft] def listTablesRaw(db: String): Seq[String] =
    if (!Files.isDirectory(dbPath(db))) Seq.empty
    else withList(dbPath(db))(_.filter(p => Files.exists(p.resolve("table.json")))
      .map(_.getFileName.toString)
      .toSeq.sorted)

  def dropTable(db: String, table: String): Unit = {
    SnapshotCatalog.purgeManifestCache(tablePath(db, table))
    log.delete(logKey(db, table))
    deleteRecursively(tablePath(db, table))
  }

  /** Rename (and/or move across namespaces) — a metadata-only operation.
    * Every path recorded in manifests is table-relative ("data/s3/x.parquet"),
    * so the whole table is ONE directory rename: O(1) regardless of data
    * size, the property that makes rename viable at 100 TB. The meta file is
    * rewritten first (under the table lock, atomically) so a crash between
    * the two steps leaves a readable table at the OLD identifier whose
    * embedded names are stale but harmless (they are display-only; all path
    * resolution keys off the directory). */
  def renameTable(db: String, table: String, newDb: String, newTable: String): Unit =
    lockTable(db, table) {
      require(namespaceExists(newDb), s"no such namespace: $newDb")
      require(!tableExists(newDb, newTable),
        s"table already exists: $newDb.$newTable")
      require(!viewExists(newDb, newTable),
        s"view already exists: $newDb.$newTable")
      val m = meta(db, table)
      AtomicFile.write(metaPath(db, table),
        Json.writePretty(m.copy(database = newDb, tableName = newTable).toJson))
      SnapshotCatalog.purgeManifestCache(tablePath(db, table))
      Files.move(tablePath(db, table), tablePath(newDb, newTable),
        StandardCopyOption.ATOMIC_MOVE)
      // object-store log: the pointer key embeds the table path, so the
      // rename migrates it (file default: the move above carried the file)
      log.migrate(logKey(db, table), logKey(newDb, newTable))
    }

  // ---- namespace properties ----

  private def nsMetaPath(db: String): Path = dbPath(db).resolve("_namespace.json")

  def namespaceProperties(db: String): Map[String, String] =
    if (!Files.exists(nsMetaPath(db))) Map.empty
    else Json.parse(readString(nsMetaPath(db))).asInstanceOf[JObj].strMap("properties")

  def setNamespaceProperties(db: String, props: Map[String, String]): Unit = {
    require(namespaceExists(db), s"no such namespace: $db")
    AtomicFile.write(nsMetaPath(db),
      Json.writePretty(Json.obj("properties" -> Json.fromStrMap(props))))
  }

  def meta(db: String, table: String): TableMeta =
    TableMeta.fromJson(Json.parse(readString(metaPath(db, table))).asInstanceOf[JObj])

  // ---- snapshot log (format v2: pointer entries + manifest shards) ----

  import TableState.{isBranchEntry, isStagedEntry}

  /** Key of a table's pointer log in the [[PointerLogStore]] (absolute
    * normalized path string — the one spelling two catalog instances over
    * one warehouse agree on). */
  private def logKey(db: String, table: String): String =
    logPath(db, table).toAbsolutePath.normalize().toString

  /** Suffix for per-snapshot artifact names (data dirs, manifest shards,
    * delete shards/dirs), minted once per commit attempt per artifact.
    * Empty under the serialized file-lock default, so the deterministic
    * `data/s<id>` / `m<id>.json` paths stay byte-stable. Under a
    * CONDITIONAL pointer log, optimistic commit bodies run concurrently
    * and racers claim the SAME next snapshot id — unique names turn a
    * losing attempt's writes into pure orphan debris (removeOrphanFiles
    * territory) instead of letting them clobber artifacts the winner just
    * published under the same name. */
  private def attemptTag(): String =
    if (!log.conditional) ""
    else "-" + java.util.UUID.randomUUID().toString.take(8)

  /** Read and parse a table's pointer log: one [[TableState]], from
    * which the caller answers every question it has about the table. No
    * state is cached across calls — a new operation always loads fresh. */
  private[graft] def loadTable(db: String, table: String): TableState = {
    SnapshotCatalog.logReads.incrementAndGet()
    log.read(logKey(db, table)) match {
      case None => throw new IllegalArgumentException(
        s"requirement failed: no such table: $db.$table (missing ${logPath(db, table)})")
      case Some((txt, etag)) => TableState.parse(db, table, txt, etag)
    }
  }

  /** POINTER-LOG view of the snapshot history: id / timestamp / operation /
    * summary / schema, without materializing any manifest shard — the
    * O(KB) read for callers that never look at file lists (metadata
    * tables, the streaming tail's append-only check). */
  def entryLog(db: String, table: String): Seq[SnapshotEntry] = loadTable(db, table).entries

  private def manifestPath(db: String, table: String, name: String): Path =
    tablePath(db, table).resolve("_snapshots").resolve(name)

  private def loadManifest(db: String, table: String, name: String): Manifest = {
    val p = manifestPath(db, table, name).toAbsolutePath.normalize()
    val key = p.toString
    SnapshotCatalog.manifestOpens.incrementAndGet()
    val cached = SnapshotCatalog.manifestCache.get(key)
    if (cached != null) cached
    else {
      // racing parses of the same immutable shard are harmless (last put wins)
      SnapshotCatalog.manifestParses.incrementAndGet()
      val m = Manifest.fromJson(Json.parse(readString(p)).asInstanceOf[JObj])
      SnapshotCatalog.manifestCache.put(key, m)
      m
    }
  }

  /** Cache peek WITHOUT counting as a planner open (and without disk I/O):
    * the summary fill uses it to compute summaries opportunistically for
    * shards the session already parsed. */
  private def peekManifest(db: String, table: String, name: String): Option[Manifest] =
    Option(SnapshotCatalog.manifestCache.get(
      manifestPath(db, table, name).toAbsolutePath.normalize().toString))

  // ---- position-delete shards (merge-on-read; Iceberg v2 delete files) ----

  private def deleteShardName(id: Long, tag: String = ""): String = s"d$id$tag.json"

  /** Parse one write-once delete shard (`d<id>.json` — the [[DeleteFile]]
    * entries one MoR delete commit added), via the same process-wide cache
    * discipline as data manifests. */
  private def loadDeleteShard(db: String, table: String, name: String): Seq[DeleteFile] = {
    val p = manifestPath(db, table, name).toAbsolutePath.normalize()
    val key = p.toString
    val cached = SnapshotCatalog.deleteShardCache.get(key)
    if (cached != null) cached
    else {
      val entries = Json.parse(readString(p)).asInstanceOf[JObj].arr("entries")
        .map(v => DeleteFile.fromJson(v.asInstanceOf[JObj]))
      SnapshotCatalog.deleteShardCache.put(key, entries)
      entries
    }
  }

  private def writeDeleteShard(db: String, table: String, name: String,
      entries: Seq[DeleteFile]): Unit = {
    val p = manifestPath(db, table, name)
    AtomicFile.write(p, Json.writePretty(Json.obj(
      "entries" -> JArr(entries.toVector.map(_.toJson: JValue)))))
    SnapshotCatalog.deleteShardCache.put(p.toAbsolutePath.normalize().toString,
      entries.toVector)
  }

  /** Delete shards of `prevEntry` still relevant when only `carryFiles`
    * of its data files survive a partial rewrite: a shard carries over iff
    * any of its entries covers a carried file (entries whose covered files
    * were all rewritten are dead — the rewrite read MERGED rows, so their
    * positions refer to files the new snapshot no longer lists). */
  private def carryDeleteShards(db: String, table: String,
      prevEntry: SnapshotEntry, carryFiles: Seq[String]): Seq[String] =
    if (prevEntry.deletes.isEmpty || carryFiles.isEmpty) Seq.empty
    else {
      val carrySet = carryFiles.toSet
      prevEntry.deletes.filter(n =>
        loadDeleteShard(db, table, n).exists(_.covers.keysIterator.exists(carrySet)))
    }

  /** Resolve a pointer entry to the full [[Snapshot]] view: concatenate its
    * manifest shards (file order is manifest order — an append's files come
    * after every carried file). */
  private[graft] def materialize(st: TableState, e: SnapshotEntry): Snapshot = {
    val (db, table) = (st.db, st.table)
    // LAZY (r15, two-level sweep): the inventory parses only when a caller
    // actually walks files/stats/deletes. Schema- and summary-only callers
    // — `currentSnapshot(...).schema` in the SQL plugin's per-analysis
    // table resolution, `snapshotList` for the metadata tables, the
    // snapshotId reads — previously parsed EVERY manifest shard to return
    // fields that live on the pointer entry itself. Shards are write-once,
    // so deferring is exact (same resolution whenever it runs).
    lazy val ms = e.manifests.map(loadManifest(db, table, _))
    Snapshot(e.snapshotId, e.committedAt, e.operation, e.summary, e.schemaDdl,
      new DeferredSeq(() => ms.flatMap(_.files)),
      new DeferredMap(() =>
        ms.foldLeft(Map.empty[String, Map[String, String]])(_ ++ _.fileStats)),
      new DeferredSeq(() => e.deletes.flatMap(loadDeleteShard(db, table, _))))
  }

  /** Exact data-file count of a pointer entry WITHOUT materializing it:
    * the recorded `total_files` summary first (every commit funnel writes
    * one), then the shard-summary sum (shards within an entry are
    * disjoint), and only an entry carrying neither — a pre-summary log —
    * pays the forced materialization. Keeps pointer-level commits'
    * `total_files` arithmetic O(1). */
  private def entryFileCount(st: TableState, e: SnapshotEntry): Long =
    e.summary.get("total_files").map(_.toLong).getOrElse {
      val sums = st.summaries
      if (e.manifests.forall(sums.contains))
        e.manifests.iterator.map(sums(_).fileCount.toLong).sum
      else materialize(st, e).files.size.toLong
    }

  /** Which of `probe` are NOT data files of entry `e` — the membership
    * check behind delete-adoption sanity gates, two-level: only shards
    * whose recorded [[ShardSummary]] dir set intersects the probes'
    * snapshot dirs are parsed (a shard without a recorded dir set loads —
    * degrade, never break). A probe set touching one partition of a
    * 10^6-file table opens that partition's shards, not the inventory. */
  private def unknownFiles(st: TableState, e: SnapshotEntry,
      probe: Seq[String]): Seq[String] =
    if (probe.isEmpty) Seq.empty
    else {
      val (db, table) = (st.db, st.table)
      val dirs = probe.map(_.split("/").take(2).mkString("/")).toSet
      val sums = st.summaries
      val shards = e.manifests.filter(n => sums.get(n).flatMap(_.dirs) match {
        case Some(ds) => ds.exists(dirs.contains)
        case None => true
      })
      val known = shards.iterator
        .flatMap(n => loadManifest(db, table, n).files).toSet
      probe.filterNot(known)
    }

  def snapshotList(db: String, table: String): Seq[Snapshot] = {
    val st = loadTable(db, table)
    st.entries.map(materialize(st, _))
  }

  /** Per-shard manifest inventory (the `manifests` metadata table): one row
    * per live shard with its file count, row count (when every file in the
    * shard recorded a footer row count), the id of the first snapshot
    * referencing it, and how many log entries reference it — the shard-reuse
    * accounting that makes append metadata O(added files). Opens each live
    * shard once (cache-served after the first read). */
  def manifestInventory(db: String, table: String): Seq[ManifestInfo] = {
    val firstRef = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val refCount = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    loadTable(db, table).entries.foreach { e =>
      e.manifests.foreach { m =>
        if (!firstRef.contains(m)) firstRef(m) = e.snapshotId
        refCount(m) += 1
      }
    }
    firstRef.toSeq.map { case (name, addedBy) =>
      val m = loadManifest(db, table, name)
      val rows = m.files.map(f => m.fileStats.get(f).flatMap(_.get("rows")).map(_.toLong))
      ManifestInfo(name, m.files.size,
        if (rows.nonEmpty && rows.forall(_.isDefined)) Some(rows.flatten.sum) else None,
        addedBy, refCount(name))
    }
  }

  /** Id of the current (published) snapshot, pointer-log only — the read
    * the streaming tail's every-trigger `latestOffset` makes: staged
    * snapshots must not leak into streams before their audit passes. */
  def currentSnapshotId(db: String, table: String): Long =
    loadTable(db, table).published.snapshotId

  def currentSnapshot(db: String, table: String): Snapshot = {
    val st = loadTable(db, table)
    materialize(st, st.published)
  }

  def snapshotAt(db: String, table: String, snapshotId: Long): Snapshot = {
    val st = loadTable(db, table)
    materialize(st, st.entryAt(snapshotId))
  }

  // ---- snapshot-log write helpers (call only under the table lock) ----

  private def writeManifest(db: String, table: String, name: String, m: Manifest): Unit = {
    val p = manifestPath(db, table, name)
    AtomicFile.write(p, Json.writePretty(m.toJson))
    SnapshotCatalog.manifestCache.put(p.toAbsolutePath.normalize().toString, m)
  }

  /** Publish the pointer log — the COMMIT POINT of every write path:
    * `entries`, derived from `st`, replace the log `st` was read from.
    * `st`'s etag rides as the write precondition: under the conditional
    * object-store log a racer that moved the pointer since `st` was loaded
    * makes this throw [[CommitConflictException]], which [[CasCommitMutex]]
    * catches to re-run the whole commit body against a fresh state; under
    * the file default the precondition is moot (the file lock already
    * serialized us) and the write is the same temp+atomic-rename as ever.
    * Returns the published state. */
  private def writeEntries(st: TableState, entries: Seq[SnapshotEntry]): TableState = {
    val sums = fillShardSummaries(st, entries)
    val etag = log.writeIf(logKey(st.db, st.table), Json.writePretty(Json.obj(
      (Vector(
        "format_version" -> (Json.num(2L): JValue),
        "entries"        -> (JArr(entries.toVector.map(_.toJson)): JValue)) ++
        (if (sums.isEmpty) Vector.empty
         else Vector("shard_summaries" -> (JObj(sums.toVector.sortBy(_._1)
           .map { case (n, s) => n -> (s.toJson: JValue) }): JValue)))): _*)), st.etag)
    new TableState(st.db, st.table, entries, sums, Some(etag))
  }

  /** The `shard_summaries` map the log being published should carry: one
    * [[ShardSummary]] per shard name any entry references. Carried
    * summaries come from `st`, the state the entries derive from
    * (write-once shards — a summary never changes); missing ones are computed from the shard inventory —
    * always for the TAIL entry's shards (the commit being published; its
    * shards were just written and sit in the parse cache), and for older
    * shards only when the cache already holds them (no I/O amplification
    * on long histories — coverage completes opportunistically as shards
    * get read). Names no entry references any more (history expiry,
    * manifest consolidation) drop out here, so the map GCs itself. */
  private def fillShardSummaries(st: TableState,
      entries: Seq[SnapshotEntry]): Map[String, ShardSummary] = {
    val (db, table) = (st.db, st.table)
    val prev = st.summaries
    val pcols =
      try meta(db, table).partitionCols
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    // schema for stat folding: the first entry referencing the shard (the
    // schema the committing writer recorded its stats under)
    val firstSchema = scala.collection.mutable.LinkedHashMap.empty[String, String]
    entries.foreach(e => e.manifests.foreach(n =>
      if (!firstSchema.contains(n)) firstSchema(n) = e.schemaDdl))
    val tailShards: Set[String] =
      entries.lastOption.map(_.manifests.toSet).getOrElse(Set.empty)
    val schemaCache = scala.collection.mutable.Map.empty[String, StructType]
    firstSchema.iterator.flatMap { case (name, ddl) =>
      prev.get(name).map(name -> _).orElse {
        val mOpt = peekManifest(db, table, name).orElse(
          if (tailShards(name))
            try Some(loadManifest(db, table, name))
            catch { case scala.util.control.NonFatal(_) => None }
          else None)
        mOpt.map { m =>
          val sch = schemaCache.getOrElseUpdate(ddl, StructType.fromDDL(ddl))
          name -> ShardSummary.of(m, sch, pcols)
        }
      }
    }.toMap
  }

  /** Manifest plan for a carry commit (partial rewrites: prune-aware
    * delete/update, bin-pack rewrites, SQL rewrite adoption; full carries:
    * streaming append epochs): previous shards whose files are ALL carried
    * are REUSED by name — pure pointer references, no metadata rewrite —
    * and only the carried files of partially-retained shards plus the new
    * files land in the delta shard. Commit metadata cost is
    * O(rewrite + touched shards), never O(table): a DELETE pruned to one
    * file of a 10⁵-file table re-lists that file's shard-mates, not the
    * lake. Shards in `carryShards` were two-level-proven untouched and
    * reuse by name UNPARSED; the rest load (cache-served when the caller's
    * scan resolution already opened them).
    *
    * Returns (reused shard names, delta manifest, lazy snapshot file list,
    * lazy snapshot file stats, exact total file count) with the file list
    * in MATERIALIZATION order (reused shards first, delta last) so the
    * recorded snapshot and a later materialize() agree
    * element-for-element. */
  private def planCarryManifests(db: String, table: String, prevEntry: SnapshotEntry,
      carryFiles: Seq[String], carryStats: Map[String, Map[String, String]],
      newFiles: Seq[String], newFileStats: Map[String, Map[String, String]],
      // shards the caller PROVED fully carried (two-level pruning said no
      // file in them could match the rewrite predicate): reused BY NAME,
      // never parsed; their file counts come from the recorded summaries
      carryShards: Seq[String] = Seq.empty,
      carryShardCount: String => Long = _ => 0L)
    : (Seq[String], Manifest, Seq[String], Map[String, Map[String, String]], Long) = {
    val carryShardSet = carryShards.toSet
    val carrySet = carryFiles.toSet
    val opened = prevEntry.manifests.filterNot(carryShardSet)
      .map(n => n -> loadManifest(db, table, n))
    val full = opened.filter(_._2.files.forall(carrySet))
    val fullNames = full.map(_._1).toSet
    // entry order preserved so the recorded snapshot and a later
    // materialize() agree element-for-element
    val reuse = prevEntry.manifests.filter(n => carryShardSet(n) || fullNames(n))
    val reusedOpenedSet = full.iterator.flatMap(_._2.files).toSet
    val leftover = carryFiles.filterNot(reusedOpenedSet)
    val delta = Manifest(leftover ++ newFiles,
      carryStats.view.filterKeys(leftover.contains).toMap ++ newFileStats)
    val exactCount = carryShards.iterator.map(carryShardCount).sum +
      full.iterator.map(_._2.files.size.toLong).sum + delta.files.size
    // the snapshot's inventory view DEFERS: with never-opened carries it
    // must not force their parse just to be returned; without them the
    // forcing cost is nil (every reused shard is already cache-resident)
    def loadReuse = reuse.map(loadManifest(db, table, _))
    (reuse, delta,
      new DeferredSeq(() => loadReuse.flatMap(_.files) ++ delta.files),
      new DeferredMap(() => loadReuse
        .foldLeft(Map.empty[String, Map[String, String]])(_ ++ _.fileStats) ++
        delta.fileStats),
      exactCount)
  }

  /** What a commit published: the committed snapshot and the state its
    * publish left the log in — a compound operation's next commit on the
    * same table derives from that state without reading the log again. */
  private final class Committed(val snap: Snapshot, val state: TableState)

  /** Commit one snapshot: write its delta shard — the ONLY O(files)
    * metadata write — then atomically rename the pointer log over.
    * `reuse` names manifest shards carried verbatim from an earlier entry;
    * `delta` holds exactly the files this snapshot introduces beyond them
    * (call sites construct `snap.files` as reuse-materialized ++ delta, so
    * the two views agree by construction). `deletes` names the position-
    * delete shards live at this snapshot — REQUIRED at every call site (a
    * defaulted empty here would silently resurrect merge-on-read-deleted
    * rows on any pointer commit). A crash between the shard write and the
    * log rename leaves an unreferenced `m<id>.json` that the next same-id
    * commit simply overwrites — never a dangling pointer. The entry lands
    * on `st`'s entries, published under `st`'s etag; the result carries
    * the committed snapshot and the published state. */
  private def commitSnapshot(st: TableState,
      snap: Snapshot, reuse: Seq[String], delta: Manifest,
      deletes: Seq[String]): Committed = {
    val (db, table, entries) = (st.db, st.table, st.entries)
    // ROW LINEAGE (opt-in `row.lineage=true`, the Iceberg-v3 model): every
    // commit claims a contiguous row-id range [next-row-id, next') and
    // each NEW data file records its `first_row_id` — a row's stable
    // identity is then first_row_id + its position in the (write-once)
    // file, assigned once and carried for the row's whole life. Commits
    // whose files MATERIALIZE ids physically (`rid_materialized`, the
    // compact path: rewritten rows carry their original ids in a hidden
    // __rid column) are skipped — rewriting must never re-mint identity.
    // This funnel is the only place data files enter the log, so the
    // assignment is total by construction.
    // `lineage.id-floor` (set by writers that carry EXPLICIT ids, e.g.
    // the CDC apply sink replicating a source table's identity): the
    // high-water advances to at least the floor, so a later NORMAL
    // append can never mint an id that collides with a replicated one
    val idFloor = snap.summary.get("lineage.id-floor").map(_.toLong).getOrElse(0L)
    val (delta2, snap2) =
      if (!meta(db, table).properties.get("row.lineage").contains("true"))
        (delta, snap)
      else if (delta.files.isEmpty) {
        // no new data — still CARRY the high-water onto this entry:
        // expire trims old log entries, and if every surviving entry
        // lacked next-row-id the base would reset to 0 and re-mint ids
        // (silent identity corruption). Every lineage-table commit
        // therefore stamps the running value.
        val base = entries.reverseIterator
          .flatMap(_.summary.get("next-row-id")).nextOption()
          .map(_.toLong).getOrElse(0L)
        (delta, snap.copy(summary =
          snap.summary + ("next-row-id" -> math.max(base, idFloor).toString)))
      }
      else {
        val base = entries.reverseIterator
          .flatMap(_.summary.get("next-row-id")).nextOption()
          .map(_.toLong).getOrElse(0L)
        var next = math.max(base, idFloor)
        val assigned = delta.files.sorted.map { f =>
          // every NEW file of a lineage table also records the snapshot
          // that added it — the per-file default for each row's
          // `_last_updated_snapshot_id` (Iceberg v3's second lineage
          // field): rows in a fresh file were last touched by THIS
          // commit; rewrites materialize the older values physically
          val st = delta.fileStats.getOrElse(f, Map.empty) +
            ("added_snapshot_id" -> snap.snapshotId.toString)
          if (st.contains("first_row_id") || st.get("rid_materialized").contains("true"))
            f -> st
          else st.get("rows") match {
            case Some(r) =>
              val out = f -> (st + ("first_row_id" -> next.toString))
              next += r.toLong; out
            case None => f -> st // no row count: no identity (degrades, never breaks)
          }
        }.toMap
        val summary2 = snap.summary +
          ("first-row-id" -> math.max(base, idFloor).toString) +
          ("next-row-id" -> next.toString)
        (Manifest(delta.files, assigned),
          snap.copy(summary = summary2,
            // deferred so a pointer-level lineage append stays O(delta):
            // `snap.fileStats` may itself be lazy and must not force here
            fileStats = new DeferredMap(() => snap.fileStats ++ assigned)))
      }
    val manifests =
      if (delta2.files.isEmpty) reuse
      else {
        // attempt-unique under a conditional pointer log: a racing loser
        // must not overwrite the shard the winner just published by name
        val name = s"m${snap2.snapshotId}${attemptTag()}.json"
        writeManifest(db, table, name, delta2)
        reuse :+ name
      }
    new Committed(snap2, writeEntries(st, entries :+ SnapshotEntry(snap2.snapshotId,
      snap2.committedAt, snap2.operation, snap2.summary, snap2.schemaDdl, manifests, deletes)))
  }

  /** A PURE POINTER commit: the next entry re-points at `e`'s data and
    * delete shards under `operation`, `summary` and `ddl`, writing no
    * O(files) metadata — the snapshot's inventory view defers to `e`'s. */
  private def repoint(st: TableState, e: SnapshotEntry, operation: String,
      summary: Map[String, String], ddl: String): Committed =
    commitSnapshot(st, materialize(st, e).copy(snapshotId = st.nextId,
      committedAt = clock().toString, operation = operation, summary = summary,
      schemaDdl = ddl), e.manifests, Manifest.empty, e.deletes)

  /** The `<table>.snapshots` metadata table as a DataFrame — the relation
    * stage 1 scans and sorts (`1_collect_src_snapshots.py:61-70`). Columns:
    * snapshot_id, committed_at (timestamp), operation, summary (map). Tiny
    * by construction (metadata only), so downstream filters/sorts on it are
    * driver-negligible no matter the table's data size.
    */
  def snapshots(db: String, table: String): DataFrame = {
    import spark.implicits._
    loadTable(db, table).entries // pointer log only — no manifest opens
      .map(e => (e.snapshotId, e.committedAt, e.operation, e.summary))
      .toDF("snapshot_id", "committed_at_iso", "operation", "summary")
      .withColumn("committed_at", to_timestamp(col("committed_at_iso")))
      .select("snapshot_id", "committed_at", "operation", "summary")
  }

  /** Data files of a snapshot (absolute paths). The intent behind the
    * reference's `select("file_path")` enumeration
    * (`2_collect_database_schema_info.py:219-224` — which reads it off the
    * wrong metadata table; see SURVEY §2.2 P1).
    */
  def files(db: String, table: String, snapshotId: Long): Seq[String] = {
    val root = tablePath(db, table)
    snapshotAt(db, table, snapshotId).files.map(f => root.resolve(f).toString)
  }

  // ---- reads ----

  def readLatest(db: String, table: String): DataFrame = {
    val st = loadTable(db, table)
    readAt(st, st.published)
  }

  /** Time-travel read: table contents exactly as of `snapshotId`
    * (`5_migrate_tables_data.py:72-74`, `6_verify_data_integrity.py:66-68`).
    *
    * Resolution happens on the driver (log lookup -> file list); execution
    * is a stock vectorized Parquet scan over exactly that snapshot's files,
    * so Catalyst retains predicate pushdown, column pruning and partition
    * pruning. Files are grouped by the snapshot directory that owns them and
    * each group is read with `basePath` pointing at its snapshot dir, so
    * Hive-style partition directories written by `partitionBy` resolve to
    * partition columns; groups are then `unionByName`-ed (schema evolution
    * across snapshots tolerated via the per-snapshot stored schema).
    */
  def readAsOf(db: String, table: String, snapshotId: Long): DataFrame = {
    val st = loadTable(db, table)
    readAt(st, st.entryAt(snapshotId))
  }

  /** [[readAsOf]] of entry `e` of `st`. */
  private[graft] def readAt(st: TableState, e: SnapshotEntry): DataFrame = {
    val snap = materialize(st, e)
    readVisible(st.db, st.table, snap, snap.files)
  }

  /** Scan an explicit table-root-relative file list under `schema` —
    * the shared read core of [[readAsOf]] and [[readIncremental]]. */
  /** Attach recorded COLUMN-DEFAULT metadata (Iceberg-v3 initial/write
    * defaults, stored as `default.current.<col>` / `default.exists.<col>`
    * table properties) onto a read/serve schema. Spark's parquet readers
    * natively honor `EXISTS_DEFAULT` field metadata: a file physically
    * MISSING the column serves the frozen initial default instead of
    * null, while files that carry the column (including explicit nulls
    * written after the ALTER) read raw — exactly the v3 initial-default
    * contract, with zero per-row engine code. `CURRENT_DEFAULT` rides
    * along so the analyzer fills INSERTs that omit the column. */
  private[graft] def withDefaultMeta(db: String, table: String,
      schema: StructType): StructType = {
    val props = meta(db, table).properties
    if (!props.keysIterator.exists(_.startsWith("default."))) return schema
    StructType(schema.fields.map { f =>
      val cur = props.get(s"default.current.${f.name}")
      val ex = props.get(s"default.exists.${f.name}")
      if (cur.isEmpty && ex.isEmpty) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        cur.foreach(mb.putString("CURRENT_DEFAULT", _))
        ex.foreach(mb.putString("EXISTS_DEFAULT", _))
        f.copy(metadata = mb.build())
      }
    })
  }

  private def readFiles(db: String, table: String,
      schema: StructType, files: Seq[String]): DataFrame = {
    if (files.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
    val root = tablePath(db, table)
    val readSchema = withDefaultMeta(db, table, schema)
    // group files by owning snapshot dir (data/s<id>) for basePath correctness
    val bySnapDir = files.groupBy(f => f.split("/").take(2).mkString("/"))
    val parts = bySnapDir.toSeq.sortBy(_._1).map { case (snapDir, fs) =>
      spark.read
        .schema(readSchema)
        .option("basePath", root.resolve(snapDir).toString)
        .parquet(fs.map(f => root.resolve(f).toString): _*)
    }
    parts.reduce(_.unionByName(_)).select(schema.fieldNames.map(col): _*)
  }

  // ---- merge-on-read: position-delete application ----

  /** Column names the MoR machinery appends to a scan; double-underscored
    * and dropped before any user-visible frame. */
  private val MorFileCol = SnapshotCatalog.MorFileCol
  private val MorPosCol = SnapshotCatalog.MorPosCol

  private def deleteFileSchema: StructType =
    StructType.fromDDL("_file STRING, _pos BIGINT")

  /** Delete entries of `snap` relevant to a file subset (exact coverage —
    * recorded per data file at delete-commit time). */
  private def liveDeletesFor(snap: Snapshot, files: Seq[String]): Seq[DeleteFile] = {
    if (snap.deleteFiles.isEmpty) Seq.empty
    else {
      val s = files.toSet
      snap.deleteFiles.filter(_.covers.keysIterator.exists(s))
    }
  }

  /** Dead rows among `files` under `deletes` — exact, pure metadata
    * (per-file counts recorded at position-delete commit). `None` when any
    * relevant delete is an EQUALITY delete: its dead count is unknowable
    * without a scan, so row-count math must go honestly unknown. */
  private def deadRows(deletes: Seq[DeleteFile], files: Seq[String]): Option[Long] =
    if (deletes.isEmpty) Some(0L)
    else {
      val s = files.toSet
      val relevant = deletes.filter(_.covers.keysIterator.exists(s))
      if (relevant.exists(!_.isPositional)) None
      else Some(relevant.iterator.map(_.covers.view.filterKeys(s).values.sum).sum)
    }

  /** The VISIBLE rows of `files` under `snap`: covered files are read
    * through the reader-level merge ([[readMerged]]); uncovered files take
    * the plain vectorized scan untouched. The merge-on-read tax is scoped
    * to exactly the files deletes touch — on a 100-TB table with a few
    * GDPR deletes, everything else reads as if the feature did not exist.
    *
    * First merged read of an EQUALITY-delete snapshot also triggers the
    * lazy [[backfillEqCount]] (the bounded materialization the zero-scan
    * delete skipped) so `record_count` and metadata-served `count(*)`
    * come back exact — see the backfill's scaladoc for the race story. */
  private def readVisible(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    if (snap.recordCount < 0 && snap.deleteFiles.exists(!_.isPositional))
      try backfillEqCount(db, table, snap.snapshotId)
      catch { case scala.util.control.NonFatal(_) => () } // reads never fail on a stats repair
    readVisibleRaw(db, table, snap, files)
  }

  private def readVisibleRaw(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    val live = liveDeletesFor(snap, files)
    if (live.isEmpty) return readFiles(db, table, snap.schema, files)
    val covered = live.flatMap(_.covers.keys).toSet
    val (dirty, clean) = files.partition(covered.contains)
    val merged = readMerged(db, table, snap, dirty, Nil)
    if (clean.isEmpty) merged else readFiles(db, table, snap.schema, clean).unionByName(merged)
  }

  /** Position-tagged VISIBLE rows — the delete-writer's scan: candidates
    * with their (file, pos) identity, rows already dead under `snap`'s
    * delete files merged out (a re-delete must neither duplicate a
    * position nor double-decrement the count). */
  private def readVisibleWithPos(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame =
    readMerged(db, table, snap, files, IdentityFields)

  /** The `(file, pos)` identity columns of a position-tagged read. */
  private val IdentityFields =
    StructType.fromDDL(s"$MorFileCol STRING NOT NULL, $MorPosCol BIGINT NOT NULL").fields.toSeq

  /** `files` of `snap` read through the per-file reader
    * ([[graft.catalog.spark.MorScanMerge.mergedScan]]): one DSv2 relation
    * whose tasks drop the rows `snap`'s deletes kill, each snapshot dir
    * read with its own `basePath` and the table's column defaults. No join
    * and no broadcast — the tasks load the dead positions and equality
    * keys themselves; clean files read with empty delete lists. `extra`
    * names the derived columns the relation adds: [[MorFileCol]] (the
    * file's table-root-relative path), [[MorPosCol]] (the row index), and
    * the lineage columns `__rid`/`__rseq`, completed from each file's
    * `first_row_id`/`added_snapshot_id`. `killedBy` switches to the rows
    * alive under `snap` that the given delete files kill. */
  private def readMerged(db: String, table: String, snap: Snapshot, files: Seq[String],
      extra: Seq[StructField],
      killedBy: Option[Seq[DeleteFile]] = None): DataFrame = {
    val root = tablePath(db, table).toAbsolutePath.normalize()
    val readSchema = withDefaultMeta(db, table, snap.schema)
    val groups = files.groupBy(f => f.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
      .map { case (snapDir, fs) =>
        (new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          Map("basePath" -> root.resolve(snapDir).toString).asJava),
          fs.map(f => root.resolve(f).toString))
      }
    val live = liveDeletesFor(snap, files)
    def fileOf(rel: String): graft.catalog.spark.MorFile = {
      val st = snap.fileStats.getOrElse(rel, Map.empty)
      graft.catalog.spark.MorFile(live.filter(_.covers.contains(rel)),
        killedBy.map(_.filter(_.covers.contains(rel))),
        st.get("first_row_id").map(_.toLong), st.get("added_snapshot_id").map(_.toLong))
    }
    new org.apache.spark.sql.GraftAssembledTable(s"$db.$table",
      StructType(readSchema.fields ++ extra),
      (pushed, required) => graft.catalog.spark.MorScanMerge.mergedScan(spark,
        s"$db.$table", groups, readSchema,
        pushed.filter(_.references.forall(a => readSchema.fieldNames.contains(a.name))),
        required, required, root.toString + "/", fileOf))
      .frame(spark)
  }

  /** `true` when `row.lineage=true` is set on the table — the opt-in
    * Iceberg-v3 row-identity model (see [[commitSnapshot]]). */
  def rowLineageEnabled(db: String, table: String): Boolean =
    meta(db, table).properties.get("row.lineage").contains("true")

  /** VISIBLE rows of `files` with their stable row identity materialized
    * in a `__rid` column: `coalesce(physical __rid, first_row_id + pos)`.
    * The physical column exists only in files a REWRITE produced (compact/
    * z-order/bin-pack write it so rewritten rows keep the identity their
    * original file assigned); everything else derives from the per-file
    * `first_row_id` recorded at commit plus the row's position, inside
    * the reader ([[readMerged]]). */
  private def readVisibleWithRid(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame =
    readVisibleWithPosAndRid(db, table, snap, files)
      .select((snap.schema.fieldNames.map(n => col(s"`$n`")) :+ col("`__rid`"))
        .toIndexedSeq: _*)

  /** Visible rows with BOTH lineage columns — `__rid` (stable identity)
    * and `__rseq` (the snapshot that last touched the row: physical
    * where a rewrite materialized it, the file's `added_snapshot_id`
    * otherwise). The rewrite paths read through this so compaction
    * preserves both fields. */
  private def readVisibleWithRidSeq(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame =
    readVisibleWithPosAndRid(db, table, snap, files)
      .select((snap.schema.fieldNames.map(n => col(s"`$n`")) ++
        Seq(col("`__rid`"), col("`__rseq`"))).toIndexedSeq: _*)

  /** [[readVisibleWithRid]] keeping the `(file, pos)` identity columns —
    * the MoR UPDATE/MERGE writer's scan when lineage is on: the positions
    * feed the delete shard while `__rid` rides into the post-image so an
    * updated row KEEPS its identity (Iceberg-v3 semantics: update never
    * re-mints). Also serves `__rseq`, each row's LAST-UPDATED snapshot
    * (Iceberg v3's `_last_updated_sequence_number` shape): physical
    * `__rseq` where a rewrite materialized it, else the containing
    * file's `added_snapshot_id` — a fresh file's rows were last touched
    * by the commit that added it. The reader derives both per file; the
    * plan has no join. */
  private def readVisibleWithPosAndRid(db: String, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame =
    readMerged(db, table, snap, files, IdentityFields ++ Seq(
      StructField("__rid", LongType, nullable = true),
      StructField("__rseq", LongType, nullable = true)))

  /** The current snapshot's visible rows plus `_row_id` — each row's
    * STABLE identity under `row.lineage=true`: assigned once when the row
    * first entered the table and preserved across compaction/z-order/
    * bin-pack (rewrites materialize it physically), MoR deletes
    * (surviving rows keep theirs), MoR updates (the post-image carries
    * the pre-image's id physically), and the upsert's update half (a
    * source row whose key matched inherits the dying row's id; new-key
    * rows mint fresh ids) — the full Iceberg-v3 identity contract. */
  def readWithRowIds(db: String, table: String): DataFrame = {
    require(rowLineageEnabled(db, table),
      s"$db.$table does not track row lineage - create it with " +
        "property row.lineage=true")
    val snap = currentSnapshot(db, table)
    readVisibleWithRidSeq(db, table, snap, snap.files)
      .withColumnRenamed("__rid", "_row_id")
      .withColumnRenamed("__rseq", "_last_updated_snapshot_id")
  }

  /** File-level data skipping: partition a snapshot's file list into
    * (scan-worthy, provably-unmatchable) under `cond`, using the per-file
    * footer stats recorded at commit time. Purely driver-side metadata —
    * the decision happens BEFORE any Spark task exists. Files without
    * recorded stats are always scanned (pruning degrades, never breaks). */
  def pruneFiles(db: String, table: String, snapshotId: Long,
      cond: Column): (Seq[String], Seq[String]) =
    prune(db, table, snapshotAt(db, table, snapshotId), cond)

  /** [[pruneFiles]] over an already-resolved snapshot. */
  private def prune(db: String, table: String, snap: Snapshot,
      cond: Column): (Seq[String], Seq[String]) = {
    val ctx = pruneCtx(db, table, snap.schema, cond)
    snap.files.partition(f =>
      fileMayMatch(db, table, ctx, f, snap.fileStats.getOrElse(f, Map.empty)))
  }

  /** Driver-side pruning context for one (schema, predicate) pair: the
    * resolved conjuncts plus every path-level admissibility the table's
    * layout supports. Shared by the file tier ([[pruneFiles]]) and the
    * shard tier ([[resolveWhere]]) so both skip on identical logic. */
  private final case class PruneCtx(
      schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      buckets: Option[Set[Int]],
      // hidden-transform admissibility over the RAW `__pt=` token (shared
      // shape for time and truncate transforms; a file/shard without a
      // token is never excluded by it)
      ptToken: Option[String => Boolean],
      partCols: Set[String])

  private def pruneCtx(db: String, table: String, schema: StructType,
      cond: Column): PruneCtx = {
    // resolve the user Column against the snapshot schema (an unresolved
    // Column is a lazy node tree, not catalyst) — analyze a filter over an
    // empty frame and harvest its typed condition
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val preds = empty.where(cond).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    pruneCtxOf(db, table, schema, preds)
  }

  /** [[PruneCtx]] from ALREADY-ANALYZED conjuncts — the SQL scan path's
    * entry (its pushed filters are resolved catalyst expressions; no
    * Column analysis round trip). */
  private def pruneCtxOf(db: String, table: String, schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): PruneCtx = {
    // bucketed tables: a predicate pinning the bucket key to literals
    // admits only those keys' buckets — prunes by the __bucket=b/ path
    // alone, where min/max can't help (every bucket spans the key range)
    val tm = meta(db, table)
    val buckets = tm.bucketSpec.flatMap { case (bCol, n) =>
      BucketPruning.admissible(preds, bCol, n)
    }
    // hidden transform partitioning: predicates on the SOURCE column map
    // to `__pt=<v>/` directory constraints — at 100 TB, `WHERE ts >=
    // yesterday` (or `WHERE brand LIKE 'BR42%'` under truncate) must
    // plan the matching dirs, not the lake
    val ptToken: Option[String => Boolean] = tm.transformSpec.map {
      case (srcCol, kind) if kind == TruncateTransform.Kind =>
        val width = tm.transformWidth.getOrElse(1)
        val dt = schema.fields.find(_.name == srcCol).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)
        TruncateTransform.admissible(preds, srcCol, width, dt)
      case (tsCol, kind) =>
        val (lo, hi) = TimeTransform.admissibleRange(preds, tsCol, kind)
        (tok: String) => tok.toLongOption.forall(p =>
          lo.forall(p >= _) && hi.forall(p <= _))
    }
    PruneCtx(schema, preds, buckets, ptToken, tm.partitionCols.toSet)
  }

  /** The file tier's keep test: bucket-dir admissibility, hidden-transform
    * token admissibility, then [[FileStats.mayMatch]] over the file's
    * footer stats merged with its hive `col=value` path bounds (partition
    * values live in the PATH, not the footer — partitionBy drops the
    * column from the file). Bloom sidecars participate here (per-file
    * equality skipping), never at the shard tier. */
  private def fileMayMatch(db: String, table: String, ctx: PruneCtx,
      f: String, stats: Map[String, String]): Boolean = {
    def pathStats: Map[String, String] =
      if (ctx.partCols.isEmpty) Map.empty
      else f.split('/').iterator.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) Iterator.empty
        else {
          val k = seg.substring(0, i)
          val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(i + 1))
          if (ctx.partCols.contains(k) && ctx.schema.fieldNames.contains(k) &&
              v != "__HIVE_DEFAULT_PARTITION__")
            Iterator(s"min.$k" -> v, s"max.$k" -> v)
          else Iterator.empty
        }
      }.toMap
    val st = stats ++ pathStats
    ctx.buckets.forall(adm => BucketPruning.bucketIdOf(f).forall(adm.contains)) &&
      ctx.ptToken.forall(adm => TruncateTransform.ptTokenOf(f).forall(adm)) &&
      (st.isEmpty || ctx.preds.forall(FileStats.mayMatch(st, ctx.schema, _,
        rel => BloomStats.load(tablePath(db, table).resolve(rel)))))
  }

  /** TWO-LEVEL pruned scan resolution of a v2 pointer entry — the
    * 10^6-file planning path. Tier 1: shards whose recorded
    * [[ShardSummary]] provably excludes `cond` are SKIPPED UNREAD (their
    * JSON inventories are never parsed — at the many-shard regime the
    * first plan per JVM stops being an O(all files) driver parse). Tier
    * 2: the surviving shards load and their files take the usual per-file
    * keep test. Shards without a summary (older logs, opportunistic fill
    * not yet complete) always load — pruning degrades, never breaks.
    *
    * Returns the partial snapshot view (only the LOADED shards' files and
    * stats — exactly what the read needs; delete shards load in full,
    * they are the merge correctness layer) plus the kept files and the
    * shard accounting for spec gates. */
  private[graft] final case class ScanResolution(snap: Snapshot, kept: Seq[String],
      shardsTotal: Int, shardsOpened: Int,
      // names of the shards that were opened — the write path's carry
      // planner diffs these against the entry's manifests to reuse
      // skipped shards BY NAME without ever parsing them
      openedNames: Seq[String])

  private[graft] def resolveWhere(st: TableState, snapshotId: Long,
      cond: Column): ScanResolution = {
    val (db, table) = (st.db, st.table)
    val e = st.entryAt(snapshotId)
    val schema = e.schema
    val ctx = pruneCtx(db, table, schema, cond)
    val open = e.manifests.filter(name => st.summaries.get(name).forall(s =>
      ShardSummary.mayMatch(s, schema, ctx.preds, ctx.buckets, ctx.ptToken)))
    val snap = materializePartial(st, e, open)
    val kept = snap.files.filter(f =>
      fileMayMatch(db, table, ctx, f, snap.fileStats.getOrElse(f, Map.empty)))
    ScanResolution(snap, kept, e.manifests.size, open.size, open)
  }

  /** Shard-tier-only resolution for the SQL SCAN path: given the scan's
    * already-analyzed pushed conjuncts, return the PARTIAL snapshot of the
    * shards the predicate may touch — skipped shards' inventories are
    * never parsed. File-tier skipping stays with the caller (the scan
    * builder runs it with bloom sidecars and runtime filters folded in).
    * Shards without summaries load in full — degrade, never break. */
  private[graft] def resolveScanShards(st: TableState, snapshotId: Long,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Snapshot = {
    val e = st.entryAt(snapshotId)
    val schema = e.schema
    val ctx = pruneCtxOf(st.db, st.table, schema, preds)
    materializePartial(st, e, e.manifests.filter(name =>
      st.summaries.get(name).forall(s =>
        ShardSummary.mayMatch(s, schema, ctx.preds, ctx.buckets, ctx.ptToken))))
  }

  /** Shard-tier LIMIT resolution: the shortest manifest PREFIX whose
    * recorded row counts provably cover `limit` rows — an unfiltered
    * `SELECT * LIMIT n` on a million-file table parses the first shard,
    * not the inventory, before the file tier truncates further. A shard
    * without a summed `rows` contributes nothing to the proof (the walk
    * keeps including shards until coverage is provable; never provable =
    * everything loads). Armed by the caller only with NO live deletes
    * (footer counts must be visible counts — the file tier's own rule). */
  private[graft] def resolveScanLimitShards(st: TableState,
      snapshotId: Long, limit: Int): Snapshot = {
    val e = st.entryAt(snapshotId)
    var acc = 0L
    var covered = false
    val open = Seq.newBuilder[String]
    e.manifests.foreach { name =>
      if (!covered) {
        open += name
        st.summaries.get(name).flatMap(_.stats.get("rows")).foreach { r =>
          acc += r.toLong
          if (acc >= limit) covered = true
        }
      }
    }
    materializePartial(st, e, open.result())
  }

  /** Shard-tier TOP-N resolution: the shared box-bound walk
    * ([[TopNPruning]]) over per-shard summary folds — shards whose bound
    * tuples provably sit beyond a coverage cutoff are never parsed, so a
    * clustered `ORDER BY ... LIMIT n` reads the extreme shards, then the
    * file tier prunes within them. Sound for any layout (a shard's fold
    * boxes all its files); a shard without a summary keeps and, if its
    * `rows` is unknown, the walk keeps everything (coverage unprovable —
    * degrade, never break). */
  private[graft] def resolveScanTopNShards(st: TableState,
      snapshotId: Long, cols: Seq[(String, Boolean, Boolean)],
      limit: Int): Snapshot = {
    val e = st.entryAt(snapshotId)
    val schema = e.schema
    def gtOf(c: String): Option[(String, String) => Boolean] =
      schema.fields.find(_.name == c).map(_.dataType)
        .filter(ColumnStats.statable)
        .map(dt => (a: String, b: String) => ColumnStats.gt(dt, a, b))
    val items = e.manifests.map(name =>
      name -> st.summaries.get(name).map(_.stats).getOrElse(Map.empty[String, String]))
    val keep = TopNPruning.prune(items, cols, limit, gtOf).toSet
    materializePartial(st, e, e.manifests.filter(keep))
  }

  /** Partial materialization: the entry's view restricted to `open`
    * shards (delete shards always load in full — they are the merge
    * correctness layer). */
  private def materializePartial(st: TableState, e: SnapshotEntry,
      open: Seq[String]): Snapshot = {
    val (db, table) = (st.db, st.table)
    val ms = open.map(loadManifest(db, table, _))
    Snapshot(e.snapshotId, e.committedAt, e.operation, e.summary,
      e.schemaDdl, ms.flatMap(_.files),
      ms.foldLeft(Map.empty[String, Map[String, String]])(_ ++ _.fileStats),
      e.deletes.flatMap(loadDeleteShard(db, table, _)))
  }

  /** The [[DeleteFile]] entries of one pointer entry's delete shards —
    * KB-sized metadata (cache-served), no data manifest opened. */
  private[graft] def entryDeleteFiles(db: String, table: String,
      e: SnapshotEntry): Seq[DeleteFile] =
    e.deletes.flatMap(loadDeleteShard(db, table, _))

  /** The SQL SupportsDelta rewrite's candidate scan: position-tagged
    * VISIBLE rows of the snapshot (existing merge-on-read deletes merged
    * out, rows carrying [[SnapshotCatalog.MorFileCol]]/[[SnapshotCatalog
    * .MorPosCol]] identity), optionally scoped by footer-stat file pruning
    * on the DML condition. Pruning here is a pure scan-cost optimization —
    * the delta commit only ADDS delete positions and data files, so files
    * the condition provably cannot touch are simply never read (the
    * 100-TB posture: `UPDATE ... WHERE id = 5` scans the files whose
    * stats admit id=5, not the lake). A condition that fails to resolve
    * against the table schema (defensive: the rule passes only
    * target-attribute conditions) degrades to a full candidate list. */
  def readDeltaScan(db: String, table: String, snapshotId: Long,
      cond: Option[Column]): DataFrame = {
    // two-level when a condition scopes the scan (shards the condition
    // provably cannot touch are never opened — the delta commit only ADDS
    // delete positions and data files, so the scan never needs their
    // names); full materialization only on an unscoped DML
    val st = loadTable(db, table)
    def all = { val s = materialize(st, st.entryAt(snapshotId)); (s, s.files) }
    val (snap, files) = cond match {
      case Some(c) =>
        try {
          val r = resolveWhere(st, snapshotId, c)
          (r.snap, r.kept)
        } catch { case scala.util.control.NonFatal(_) => all }
      case None => all
    }
    // lineage tables additionally serve each candidate row's stable
    // `__rid` (requested by the operation as a metadata attribute): the
    // SQL UPDATE/MERGE writer carries it into the re-inserted post-image
    // so SQL delta DML preserves identity exactly like updateMoR/upsertMoR
    if (rowLineageEnabled(db, table))
      readVisibleWithPosAndRid(db, table, snap, files)
    else readVisibleWithPos(db, table, snap, files)
  }

  /** Filtered read with TWO-LEVEL skipping ([[resolveWhere]]): shards the
    * predicate provably excludes are never parsed, files within surviving
    * shards take the footer-stat keep test; the predicate is then applied
    * exactly (the skip layers affect which metadata and files are READ,
    * never the result). */
  def readWhere(db: String, table: String, snapshotId: Long, cond: Column): DataFrame =
    readPruned(loadTable(db, table), snapshotId, cond).where(cond)

  def readLatestWhere(db: String, table: String, cond: Column): DataFrame = {
    val st = loadTable(db, table)
    readPruned(st, st.published.snapshotId, cond).where(cond)
  }

  /** The files of `st`'s snapshot `snapshotId` that [[resolveWhere]]
    * keeps under `cond`, read visible; `cond` itself is not applied. */
  private[graft] def readPruned(st: TableState, snapshotId: Long, cond: Column): DataFrame = {
    val r = resolveWhere(st, snapshotId, cond)
    readVisible(st.db, st.table, r.snap, r.kept)
  }

  /** Pruned read that does NOT re-apply the predicate: files whose
    * stats/layout may satisfy `cond` read merged, nothing else — and the
    * plan carries no trace of `cond`. For callers whose downstream
    * operator already enforces exactness (e.g. an equi-join keyed on the
    * pruned column), this keeps a LARGE literal predicate (a 10^4-value
    * IN) out of the plan and codegen entirely: the pruning decision is
    * driver-side metadata arithmetic, where a big literal costs nothing.
    * Callers without such an enforcing operator want [[readLatestWhere]],
    * which stays exact by construction. */
  def readLatestPruned(db: String, table: String, cond: Column): DataFrame = {
    val st = loadTable(db, table)
    readPruned(st, st.published.snapshotId, cond)
  }

  /** Incremental (changes-between-snapshots) read: the rows ADDED in
    * `(fromId, toId]` that are still visible at `toId` — Iceberg's
    * incremental-append scan, extended across merge-on-read commits.
    * Resolution is pure METADATA: [[commitRange]] walks the published
    * lineage and [[appendDelta]] folds it into the files the in-range
    * append-family commits added (appends, WAP publishes, and the whole
    * MoR family — position/equality deletes, delta UPDATE/MERGE — whose
    * "changes" are new delta files plus delete metadata). A pure-append
    * range parses only the commits' own manifest shards, never an
    * endpoint's inventory: a CDC-style consumer pays for the new data
    * only — at 100 TB the difference between reading a day's increment
    * and re-reading the lake.
    *
    * Semantics across MoR commits: added files read MERGED under `toId`'s
    * delete set, so a row appended then deleted inside the range is never
    * served, and an updateMoR/upsertMoR delta serves the post-image (the
    * Kafka-compaction upsert shape). Deletes of PRE-RANGE rows are not
    * representable in an append delta — consumers that need them use
    * [[readChangelog]], which emits tagged delete rows.
    *
    * Ranges containing a REWRITE do not refuse: production tables compact
    * on a schedule, and a CDC consumer whose range happens to span one
    * must not error. Two tiers:
    *
    *  - ROW-PRESERVING rewrites in range (compact / z-order / bin-pack,
    *    all op "compact") stay on the walk: each append-family commit's
    *    added files serve from their ORIGINAL write-once parquet (even
    *    when a later compact swallowed them), with delete coverage frozen
    *    at the pre-compact snapshot — the exact dead set the compact
    *    materialized. Cost stays the increment, never the rewrite.
    *  - commits the walk cannot enumerate (overwrite, CoW DELETE/UPDATE,
    *    rollback, a dropped delete file) — and the one compact corner it
    *    cannot prove exact (a delete file landing on the output of a
    *    compact that swallowed in-range appends: its positions target
    *    the re-homed copies) — degrade to the changelog's INSERT side:
    *    rows visible at `toId` but not at `fromId`, one `exceptAll` over
    *    the CHANGED files only. Cost is churn-sized; note the multiset
    *    consequence there: a range that both deletes a pre-range row and
    *    appends an IDENTICAL row nets to zero served copies (the
    *    changelog view is the exact-diff tool). */
  def readIncremental(db: String, table: String, fromId: Long, toId: Long): DataFrame =
    incrementAt(loadTable(db, table), fromId, toId)

  /** [[readIncremental]] over `st`. */
  private def incrementAt(st: TableState, fromId: Long, toId: Long): DataFrame = {
    val (db, table) = (st.db, st.table)
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    val fromE = st.entryAt(fromId)
    val steps = commitRange(st, fromE, toId)
    val end = steps.lastOption.fold(materialize(st, fromE))(_.snap)
    appendDelta(steps) match {
      // `end` is not `toId` when `toId` is off the published lineage
      // (a staged or branch snapshot)
      case Right((files, deletes)) if end.snapshotId == toId =>
        readVisible(db, table,
          end.copy(files = files, fileStats = Map.empty, deleteFiles = deletes), files)
      case _ =>
        val from = materialize(st, fromE)
        val to = materialize(st, st.entryAt(toId))
        val (removed, added) = changedFileSets(from, to)
        readVisible(db, table, to, added).exceptAll(readVisible(db, table,
          alignEndpoints(db, table, "incremental read", from, to), removed))
    }
  }

  /** The ONE commit-range walk: the published commits in
    * `(from, toId]` of `st`, one [[CommitStep]] each. Every incremental surface — [[readIncremental]], the append
    * and `.changes` stream tails, and [[changeSetsAcrossRange]] (every
    * MV and index refresh) — folds these steps, so what a commit did to
    * main is decided here and nowhere else.
    *
    * A commit that reuses all of its parent's manifest shards added
    * exactly the files of its extra shards (shards are write-once and
    * disjoint within an entry): only those shards are parsed and neither
    * side's inventory is materialized — every append-family commit's
    * shape. Other commits (rewrites, manifest consolidation) diff the two
    * file lists. Delete files are compared by path. */
  private[graft] def commitRange(st: TableState, from: SnapshotEntry,
      toId: Long): Seq[CommitStep] = {
    var parentE = from
    var parent = materialize(st, from)
    st.mainLineage
      .filter(e => e.snapshotId > from.snapshotId && e.snapshotId <= toId)
      .map { e =>
        val snap = materialize(st, e)
        val reused = parentE.manifests.toSet
        val (added, removed) =
          if (reused.subsetOf(e.manifests.toSet))
            (e.manifests.filterNot(reused).flatMap(loadManifest(st.db, st.table, _).files),
              Seq.empty[String])
          else {
            val (pf, sf) = (parent.files.toSet, snap.files.toSet)
            (snap.files.filterNot(pf), parent.files.filterNot(sf))
          }
        val (pd, sd) = (parent.deleteFiles.map(_.path).toSet, snap.deleteFiles.map(_.path).toSet)
        val what = s"commit ${e.snapshotId} (${e.operation})"
        val kind =
          if (e.operation == "rollback")
            CommitKind.NotEnumerable(s"$what restored snapshot " +
              s"${e.summary.getOrElse("rolled_back_to", "?")}, resurrecting rows")
          else if (e.operation == "compact") CommitKind.Compact
          else if (removed.nonEmpty)
            CommitKind.NotEnumerable(s"$what rewrote existing rows (${removed.size} " +
              s"file(s) gone, e.g. ${removed.take(2).mkString(", ")})")
          else if (pd.exists(!sd(_)))
            CommitKind.NotEnumerable(s"$what dropped delete files, resurrecting rows")
          else CommitKind.Additive
        val step = CommitStep(e, parent, snap, added, removed,
          snap.deleteFiles.filterNot(d => pd(d.path)), kind)
        parentE = e
        parent = snap
        step
      }
  }

  /** The append delta of a [[commitRange]] walk: the files the additive
    * commits added, and the delete files to read them under — `toId`'s,
    * except for files an in-range compact swallowed, whose coverage is
    * frozen at the pre-compact snapshot (the exact dead set the compact
    * materialized). Compacts are otherwise no-ops: their outputs re-home
    * rows already accounted for. A delete file in the union never
    * misapplies: it reaches a non-frozen file only if it survived to
    * `toId` covering it, and a frozen file's delete file covering a live
    * file survives there too (shard carry keeps shards whose covered
    * files carry).
    *
    * `Left(reason)` when a commit is not enumerable, or when a delete
    * file lands on a TAINTED file — the output of an in-range compact
    * that swallowed emitted (or tainted) files: frozen coverage cannot
    * see it, so a row appended and deleted inside the range would be
    * served. Deletes of live originals or of other compact outputs stay
    * exact and keep the walk. */
  private[graft] def appendDelta(steps: Seq[CommitStep])
      : Either[String, (Seq[String], Seq[DeleteFile])] = {
    val emit = scala.collection.mutable.ArrayBuffer.empty[String]
    val emitSet = scala.collection.mutable.HashSet.empty[String]
    val frozen = scala.collection.mutable.HashMap.empty[String, Seq[DeleteFile]]
    val tainted = scala.collection.mutable.HashSet.empty[String]
    for (st <- steps) {
      st.kind match {
        case CommitKind.NotEnumerable(reason) => return Left(reason)
        case CommitKind.Compact =>
          for (f <- st.removed if emitSet(f))
            frozen(f) = st.parent.deleteFiles.filter(_.covers.contains(f))
          if (st.removed.exists(f => emitSet(f) || tainted(f))) tainted ++= st.added
        case CommitKind.Additive =>
          emit ++= st.added
          emitSet ++= st.added
      }
      if (st.newDeletes.exists(_.covers.keysIterator.exists(tainted)))
        return Left(s"commit ${st.entry.snapshotId} added delete files after an " +
          "in-range compact swallowed emitted appends - frozen coverage cannot " +
          "prove those rows' visibility")
    }
    val end = steps.lastOption.map(_.snap.deleteFiles).getOrElse(Seq.empty)
    val files = emit.toSeq
    Right((files, files
      .flatMap(f => frozen.getOrElse(f, end.filter(_.covers.contains(f))))
      .groupBy(_.path).map(_._2.head).toSeq))
  }

  /** Can rows written under `from` be SERVED under `to` by the
    * name-based parquet read — added columns null-filled, dropped columns
    * simply not projected, widened types upcast at scan (recursively
    * through structs/arrays/maps)? This is exactly the set of evolutions
    * [[SchemaEvolve]]'s own DDL can produce, i.e. the histories
    * readLatest already serves across. */
  private def servableEvolution(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (f: StructType, t: StructType) =>
      f.fields.forall { ff =>
        t.fields.find(_.name == ff.name) match {
          case Some(tf) => servableEvolution(ff.dataType, tf.dataType)
          case None     => true // dropped: old pages are never projected
        }
      }
    case (f: org.apache.spark.sql.types.ArrayType,
          t: org.apache.spark.sql.types.ArrayType) =>
      servableEvolution(f.elementType, t.elementType)
    case (f: org.apache.spark.sql.types.MapType,
          t: org.apache.spark.sql.types.MapType) =>
      servableEvolution(f.keyType, t.keyType) &&
        servableEvolution(f.valueType, t.valueType)
    case (f, t) => f == t || SchemaEvolve.isSafeWidening(f, t)
  }

  /** Endpoint alignment for cross-snapshot row diffs (r8): identical
    * visible schemas (nullability normalized: rewrites relax NOT NULL on
    * parquet read-back, which changes no row's identity) pass through; an
    * ADDITIVE/WIDENING evolution between the endpoints serves the diff in
    * the `to` schema — the from-side files re-read under it, added
    * columns null-filling and widened types upcasting exactly as
    * readLatest serves pre-evolution files (Iceberg's changelog
    * behavior). Only an INCOMPATIBLE change (narrowing, type crossing,
    * drop-then-retype) still fails loudly — a row diff across one has no
    * servable row type. */
  private def alignEndpoints(db: String, table: String, what: String,
      from: Snapshot, to: Snapshot): Snapshot = {
    def norm(s: StructType): String = s.toDDL.replace(" NOT NULL", "")
    if (norm(from.schema) == norm(to.schema)) from
    else {
      require(servableEvolution(from.schema, to.schema),
        s"$what of $db.$table spans an incompatible schema change: " +
          s"snapshot ${from.snapshotId} is <${from.schema.toDDL}>, " +
          s"${to.snapshotId} is <${to.schema.toDDL}> (only additive/widening " +
          "evolution is servable; restart from the current snapshot)")
      from.copy(schemaDdl = to.schemaDdl)
    }
  }

  /** The files whose VISIBLE rows may differ between two snapshots — the
    * file-granular pruning tier shared by [[readChangelog]] and the
    * rewrite-tolerant [[readIncremental]] path: files present at both
    * endpoints under an UNCHANGED delete coverage carry over and are
    * never read, so the row diff touches only the churn. */
  private def changedFileSets(from: Snapshot, to: Snapshot): (Seq[String], Seq[String]) = {
    val fromFiles = from.files.toSet
    val toFiles = to.files.toSet
    // merge-on-read: a data file PRESENT at both endpoints still changed if
    // the set of delete files covering it changed (new positions dead). Such
    // files join both sides' reads — each side applies its own endpoint's
    // deletes, and exceptAll cancels the surviving rows exactly.
    def coverage(s: Snapshot): Map[String, Set[String]] =
      s.deleteFiles.flatMap(d => d.covers.keys.map(_ -> d.path))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (covFrom, covTo) = (coverage(from), coverage(to))
    def deletesChanged(f: String): Boolean =
      covFrom.getOrElse(f, Set.empty) != covTo.getOrElse(f, Set.empty)
    (from.files.filter(f => !toFiles(f) || deletesChanged(f)),
      to.files.filter(f => !fromFiles(f) || deletesChanged(f)))
  }

  /** Row-level changelog between two snapshots (Iceberg
    * `create_changelog_view`): every row visible at `toId` but not at
    * `fromId` tagged `insert`, every row visible at `fromId` but not at
    * `toId` tagged `delete` (an UPDATE appears as its delete + insert).
    * Unlike [[readIncremental]] this handles EVERY operation —
    * overwrite, delete, update, merge, compact — because it diffs row
    * MULTISETS, not operations.
    *
    * 100-TB shape, two tiers of pruning:
    *  1. FILE-granular: files present in both snapshots carry over and are
    *     never read (prune-aware rewrites + manifest carry keep this set
    *     large — a one-file DELETE reads one old file + its rewrite, not
    *     the lake). The diff touches only changed files.
    *  2. ROW-granular: `exceptAll` over the changed files' rows — one
    *     hash-partitioned anti-semantics shuffle whose volume is the
    *     churn, not the table. Rows merely MOVED by a compact/z-order
    *     rewrite cancel out exactly (multiset semantics).
    *
    * Ranges spanning an ADDITIVE/WIDENING schema evolution serve the diff
    * in the `to` schema ([[alignEndpoints]]); only incompatible changes
    * fail loudly. */
  def readChangelog(db: String, table: String, fromId: Long, toId: Long): DataFrame =
    changelogAt(loadTable(db, table), fromId, toId)

  /** [[readChangelog]] over `st`. */
  private[graft] def changelogAt(st: TableState, fromId: Long, toId: Long): DataFrame = {
    val (db, table) = (st.db, st.table)
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    val from = materialize(st, st.entryAt(fromId))
    val to = materialize(st, st.entryAt(toId))
    val fromAligned = alignEndpoints(db, table, "changelog", from, to)
    val (removed, added) = changedFileSets(from, to)
    // ROW LINEAGE: the diff carries each pre/post-image's stable `_row_id`
    // (Iceberg v3's reason for carrying ids through updates — a CDC
    // consumer correlates a row's delete and re-insert by identity, not
    // by value). The id joins the multiset identity, which SHARPENS the
    // diff: a moved row (compact) still cancels (same id), while a
    // delete + value-identical re-insert of a DIFFERENT row now shows as
    // the delete/insert pair it really is.
    val lineage = rowLineageEnabled(db, table)
    def rows(snap: Snapshot, files: Seq[String]): DataFrame =
      if (lineage) readVisibleWithRid(db, table, snap, files)
        .withColumnRenamed("__rid", "_row_id")
      else readVisible(db, table, snap, files)
    val removedRows = rows(fromAligned, removed)
    val addedRows = rows(to, added)
    import org.apache.spark.sql.functions.lit
    addedRows.exceptAll(removedRows).withColumn("_change_type", lit("insert"))
      .unionByName(
        removedRows.exceptAll(addedRows).withColumn("_change_type", lit("delete")))
  }

  /** EXACT per-commit change sets of a range, enumerated from METADATA —
    * the cheap extraction tier under [[readChangelog]]'s value diff: for
    * ranges whose commits only ADD data files and delete shards (append
    * family + the whole MoR DML family; compacts are row-preserving
    * no-ops), the inserted rows are exactly the added files read raw and
    * the deleted rows are exactly the new shards' pre-images — positions
    * read back from their (write-once) covered files, equality tuples
    * evaluated against the rows VISIBLE at the eq commit's parent — cost
    * is the churn (plus one covered-file visibility scan per eq commit),
    * never a two-sided multiset diff. A fold over [[commitRange]]:
    * returns None — caller falls back to the changelog — when the range
    * contains a commit the walk classifies as not enumerable (a true
    * rewrite, a rollback, a dropped delete file) or a schema change. A
    * row appended then deleted inside the range appears in
    * BOTH sets (exact per-commit semantics, not a net diff) — consumers
    * folding `+ins −del` cancel it, matching `Q(old) + Q(ins) − Q(del)`. */
  private[graft] def changeSetsAcrossRange(st: TableState,
      fromId: Long, toId: Long): Option[(DataFrame, DataFrame)] = {
    val (db, table) = (st.db, st.table)
    val fromE = st.entryAt(fromId)
    val steps = commitRange(st, fromE, toId)
    if (steps.exists(st => st.kind.isInstanceOf[CommitKind.NotEnumerable] ||
        st.entry.schemaDdl != st.parent.schemaDdl)) return None // changelog aligns
    val changes = steps.filter(_.kind == CommitKind.Additive)
    val schema = fromE.schema
    // EQUALITY-delete pre-images, exactly: rows VISIBLE at the eq commit's
    // parent (all earlier in-range deletes and adds applied) that its eq
    // files kill, each covered file matched against the files covering
    // it. One per-file read of the covered files per eq commit —
    // churn-sized, no changelog diff.
    val eqDels = changes.flatMap { st =>
      val eq = st.newDeletes.filterNot(_.isPositional)
      val covered = eq.flatMap(_.covers.keys).distinct.sorted
      if (covered.isEmpty) None
      else Some(readMerged(db, table, st.parent, covered, Nil, Some(eq)))
    }
    // pre-images of EVERY in-range positional delete file in ONE scan: the
    // delete writer only ever kills VISIBLE rows, so in-range files hold
    // disjoint positions and each targeted row was alive at `from` (or
    // lives in an in-range-added file `from`'s coverage cannot touch) —
    // the rows alive at `from` that they kill are exact, read in one
    // per-file pass with no join and no per-commit walk of overlapping
    // covered files
    val allPos = changes.flatMap(_.newDeletes.filter(_.isPositional))
    val posDels =
      if (allPos.isEmpty) None
      else Some(readMerged(db, table, materialize(st, fromE),
        allPos.flatMap(_.covers.keys).distinct.sorted, Nil, Some(allPos)))
    val dels = posDels.toSeq ++ eqDels
    Some((readFiles(db, table, schema, changes.flatMap(_.added)),
      if (dels.isEmpty) readFiles(db, table, schema, Nil) else dels.reduce(_.unionByName(_))))
  }

  /** Latest snapshot with committed_at <= ts, i.e. the reference's stage-2
    * as-of resolution (`2_collect_database_schema_info.py:43-53`). */
  def readAsOfTimestamp(db: String, table: String, ts: Instant): DataFrame = {
    val st = loadTable(db, table)
    val e = st.entries // as-of resolution never opens a manifest
      .filter(s => !Instant.parse(s.committedAt).isAfter(ts))
      .maxByOption(_.snapshotId)
      .getOrElse(throw new NoSuchElementException(
        s"no snapshot of $db.$table at or before $ts"))
    readAt(st, e)
  }

  /** O(1) metadata-served row count (Iceberg-manifest style; cf. summary
    * population at `1_collect_src_snapshots.py:69`). */
  def recordCount(db: String, table: String, snapshotId: Long): Long =
    loadTable(db, table).entryAt(snapshotId)
      .summary.get("record_count").map(_.toLong).getOrElse(-1L)

  /** Fold per-file BLOOM sidecar pointers into freshly harvested file
    * stats when the table opted in (`write.bloom.columns`) — one extra
    * column-scan job over the commit's NEW files only, never the table;
    * see [[BloomStats]] for the full design. Partition columns are
    * excluded (the path prunes them exactly); a property naming an
    * unknown or unsupported column fails the commit loudly. */
  private def withBloomStats(db: String, table: String,
      newFileStats: Map[String, Map[String, String]],
      schema: StructType): Map[String, Map[String, String]] = {
    val tm = meta(db, table)
    val cols = BloomStats.columnsOf(tm.properties)
      .filterNot(tm.partitionCols.contains)
    if (cols.isEmpty || newFileStats.isEmpty) return newFileStats
    val rowsOf = newFileStats.flatMap { case (f, st) =>
      st.get("rows").map(f -> _.toLong) }
    val fpp = tm.properties.get(BloomStats.PropFpp).map(_.toDouble)
      .getOrElse(BloomStats.DefaultFpp)
    val maxBytes = tm.properties.get(BloomStats.PropMaxBytes).map(_.toLong)
      .getOrElse(BloomStats.DefaultMaxBytes)
    val extra = BloomStats.build(spark, tablePath(db, table),
      newFileStats.keys.toSeq, schema, cols, rowsOf, fpp, maxBytes)
    newFileStats.map { case (f, st) => f -> (st ++ extra.getOrElse(f, Map.empty)) }
  }

  // ---- writes / commits ----

  /** Append commit: new snapshot = previous files + newly written files.
    * `extraSummary` entries ride the commit's own atomic log write (e.g. a
    * streaming sink's epoch tag for exactly-once replay detection). */
  def append(db: String, table: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    withTableLock(db, table)(commit(_, df, "append", extraSummary = extraSummary).snap)

  /** Overwrite commit: new snapshot = newly written files only — the write
    * mode of the migration data plane (`5_migrate_tables_data.py:80-83`).
    * Prior snapshots stay readable (their files are never deleted), which is
    * exactly what keeps time travel valid. */
  def overwrite(db: String, table: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    withTableLock(db, table)(commit(_, df, "overwrite", extraSummary = extraSummary).snap)

  /** FILTER-SCOPED OVERWRITE (Spark's OverwriteByExpression — the plan
    * behind `INSERT OVERWRITE t PARTITION (p = 'x')` in static mode and
    * `df.writeTo(t).overwrite(cond)`): atomically delete the rows matching
    * `cond` AND insert `df`, as ONE commit. PRUNE-AWARE like [[delete]]:
    * files whose footer stats/partition dirs prove no match carry over
    * verbatim, so restating one partition of a 100-TB table rewrites that
    * partition's files, not the lake. Existing MoR deletes are applied to
    * the rewritten candidates (no resurrection) and shards still covering
    * a carried file ride along. Rows the insert supplies are NOT validated
    * against `cond` (Iceberg's non-validating overwrite — the SQL
    * PARTITION form is analyzer-constrained anyway). Row-lineage tables
    * keep survivors' ids and mint fresh ones for the insert (the CoW-merge
    * mixed-commit discipline). */
  def overwriteWhere(db: String, table: String, cond: Column,
      df: DataFrame): Snapshot = withTableLock(db, table) { st =>
    val lineage = rowLineageEnabled(db, table)
    // TWO-LEVEL like [[delete]]: excluded shards carry by name unparsed
    val e = st.published
    val frame = deriveLayout(db, table, df)
    val cols = e.schema.fieldNames.toSeq
    val missing = cols.filterNot(frame.schema.fieldNames.contains)
    val extra = frame.schema.fieldNames.filterNot(cols.contains)
    require(missing.isEmpty && extra.isEmpty,
      s"overwriteWhere schema mismatch for $db.$table: " +
        s"missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
    val retyped = e.schema.fields
      .filterNot(f => f.dataType.sql == frame.schema(f.name).dataType.sql)
    require(retyped.isEmpty,
      s"overwriteWhere type mismatch for $db.$table: " + retyped.map(f =>
        s"${f.name}: table=${f.dataType.sql} frame=${frame.schema(f.name).dataType.sql}")
        .mkString(", "))
    val res = resolveWhere(st, e.snapshotId, cond)
    val cands = res.kept
    val untouched = res.snap.files.filterNot(cands.toSet)
    val skipped = e.manifests.filterNot(res.openedNames.toSet)
    val snap = res.snap
    val survivors =
      (if (lineage) readVisibleWithRidSeq(db, table, snap, cands)
       else readVisible(db, table, snap, cands))
        .where(!coalesce(cond, lit(false)))
    val aligned = frame.select(cols.map(c => col(s"`$c`")): _*)
    val incoming =
      if (!lineage) aligned
      else aligned.withColumn("__rid", lit(null).cast("long"))
        .withColumn("__rseq", lit(null).cast("long"))
    commit(st, survivors.unionByName(incoming), "overwrite-where",
      carryFiles = untouched, carryStats = snap.fileStats,
      carryShards = skipped, ridMixed = lineage).snap
  }

  /** ZERO-COPY TABLE CLONE (Iceberg's `snapshot` procedure / Delta's
    * shallow CLONE, hardened for independent lifecycles): materialize the
    * source's CURRENT PUBLISHED snapshot as a brand-new table whose data
    * files are HARD LINKS at the same table-relative paths — O(files)
    * metadata operations, zero data movement, zero bytes duplicated.
    * Unlike Iceberg's snapshot tables (which read the source's files in
    * place and must disable GC to stay safe), hard links give each table
    * an independent inode reference: `expireSnapshots`/`removeOrphanFiles`
    * on EITHER side unlinks only its own name and can never corrupt the
    * other — both tables keep full maintenance rights from birth. On a
    * filesystem without hard links (or across devices) the clone degrades
    * to a per-file copy, still one pass of I/O with identical semantics.
    *
    * What carries: the current file list + footer stats (verbatim
    * manifest), live MoR delete shards (dead-position parquet hardlinked,
    * shard docs re-written), bloom sidecars, the NDV sidecar, schema,
    * partition spec, and table properties. What does NOT: history (the
    * clone's log has exactly one entry — time travel starts here), tags,
    * branches, and staged WAP snapshots. The clone entry KEEPS the
    * source's snapshot id so future commits on the clone (ids strictly
    * above it) can never collide with a cloned `data/s<id>`/`deletes/s<id>`
    * directory or `m<id>`/`d<id>` shard name — the naming invariant that
    * makes verbatim shard reuse safe. Row-lineage high-waters ride the
    * copied summary, so cloned ids stay stable and fresh ids never
    * collide. */
  def cloneTable(srcDb: String, srcTable: String,
      dstDb: String, dstTable: String,
      asOfSnapshotId: Option[Long] = None): Snapshot = withTableLock(srcDb, srcTable) { src =>
    require(tableExists(srcDb, srcTable), s"no such table: $srcDb.$srcTable")
    require(!tableExists(dstDb, dstTable),
      s"clone target $dstDb.$dstTable already exists")
    require(!viewExists(dstDb, dstTable),
      s"clone target $dstDb.$dstTable collides with a view")
    // asOfSnapshotId clones a HISTORICAL state ("reproduce yesterday's
    // training set as a live table") — any retained main-lineage snapshot,
    // staged/branch entries excluded like every published read
    val prevEntry = asOfSnapshotId match {
      case None => src.published
      case Some(id) =>
        val e = src.entryAt(id)
        require(!isBranchEntry(e) && !isStagedEntry(e),
          s"snapshot $id of $srcDb.$srcTable is a branch/staged commit - " +
            "clone a published state (fastForward/publish first)")
        e
    }
    val prev = materialize(src, prevEntry)
    val tm = meta(srcDb, srcTable)
    val srcRoot = tablePath(srcDb, srcTable)
    val dstRoot = tablePath(dstDb, dstTable)
    createNamespace(dstDb)
    Files.createDirectories(dataPath(dstDb, dstTable))
    Files.createDirectories(logPath(dstDb, dstTable).getParent)
    // hard-link every referenced artifact at its table-relative path:
    // data files, dead-position parquet, bloom sidecars, the NDV sidecar
    val bloomRels = prev.fileStats.valuesIterator
      .flatMap(_.collect { case (k, v) if k.startsWith("bloom.") => v }).toSeq
    val ndvRels = prev.summary.get("ndv.snapshot").map(_.toLong)
      .map(NdvStats.sidecarRel).filter(r => Files.exists(srcRoot.resolve(r))).toSeq
    val rels = (prev.files ++ prev.deleteFiles.map(_.path) ++ bloomRels ++ ndvRels).distinct
    // O(files) driver-side metadata syscalls; parallelized on a DEDICATED
    // bounded pool — never the JVM-common ForkJoinPool, which a 10^6-file
    // clone would otherwise starve for every other parallel user of this
    // driver (createDirectories is idempotent under contention). Sized by
    // `graft.clone.ioThreads` (links are syscall-bound, so the default
    // caps at 32 regardless of core count).
    val ioThreads = math.max(1, spark.conf.getOption("graft.clone.ioThreads")
      .map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors())))
    val threadSeq = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ioThreads, r => {
      val t = new Thread(r, s"graft-clone-io-${threadSeq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val linkErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val usedThreads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try {
      rels.map { rel =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try {
              usedThreads.add(Thread.currentThread().getName)
              val from = srcRoot.resolve(rel)
              val to = dstRoot.resolve(rel)
              Files.createDirectories(to.getParent)
              try Files.createLink(to, from)
              catch {
                case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
                  Files.copy(from, to) // cross-device / linkless FS: one-pass copy
              }
            } catch { case t: Throwable => linkErr.compareAndSet(null, t) }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    SnapshotCatalog.lastCloneThreads = usedThreads.asScala.toSet
    Option(linkErr.get()).foreach(t => throw t)
    // table doc: schema/partition spec/properties carry; refs, branches
    // and any staged state do not (fresh lineage)
    AtomicFile.write(metaPath(dstDb, dstTable), Json.writePretty(
      TableMeta(dstDb, dstTable, tm.partitionCols, tm.properties).toJson))
    SnapshotCatalog.purgeManifestCache(dstRoot)
    // one fresh manifest shard (same name discipline as a normal commit at
    // this id) + re-written delete shard docs, then the single log entry
    val tag = attemptTag()
    val shard = s"m${prev.snapshotId}$tag.json"
    writeManifest(dstDb, dstTable, shard, Manifest(prev.files, prev.fileStats))
    val delShards = prevEntry.deletes.zipWithIndex.map { case (name, i) =>
      val dn = s"d${prev.snapshotId}$tag-c$i.json"
      writeDeleteShard(dstDb, dstTable, dn, loadDeleteShard(srcDb, srcTable, name))
      dn
    }
    val dst = writeEntries(TableState.absent(dstDb, dstTable), Seq(SnapshotEntry(
      prev.snapshotId, clock().toString, "clone",
      prev.summary + ("clone.source" -> s"$srcDb.$srcTable"),
      prevEntry.schemaDdl, Seq(shard), delShards)))
    materialize(dst, dst.published)
  }

  /** DYNAMIC PARTITION OVERWRITE (Iceberg's `replacePartitions` / Spark's
    * `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`): replace
    * exactly the partitions the incoming frame TOUCHES, carry every other
    * partition's files verbatim — the late-data restatement shape ("re-run
    * yesterday's pipeline output") that a full overwrite turns into a
    * 100-TB rewrite and a static overwrite makes the caller enumerate.
    *
    * Cost: one partitioned write of the incoming rows plus a METADATA
    * classification of the previous snapshot's files by their hive
    * partition directories — untouched partitions never move. Replaced
    * partitions' rows die with their files (their MoR delete shards go
    * inert; carried files keep theirs — [[carryDeleteShards]]). Identity
    * and hidden time/truncate transforms both work (the layout column is
    * derived here); BUCKETED tables refuse — replacing a hash bucket
    * replaces unrelated keys, not a data partition. An empty frame
    * replaces nothing (the snapshot carries whole).
    *
    * Classification compares raw `k=v` directory segments between old and
    * new files — both sides were written by this catalog's writer, so
    * value escaping is identical by construction and null partitions
    * (`__HIVE_DEFAULT_PARTITION__`) match exactly. A previous file not
    * hive-laid on the CURRENT spec (partition evolution leftovers) cannot
    * be classified and refuses loudly — compact() first. */
  def overwriteDynamic(db: String, table: String, df: DataFrame): Snapshot = {
    val tm = meta(db, table)
    require(tm.partitionCols.nonEmpty,
      s"dynamic overwrite of $db.$table requires a partitioned table - " +
        "use overwrite for a full replace")
    require(tm.bucketSpec.isEmpty,
      s"dynamic overwrite of $db.$table: bucketed layouts partition by key " +
        "HASH - replacing a bucket replaces unrelated keys; use overwrite " +
        "or row-level DML")
    val frame = deriveLayout(db, table, df)
    // append-style schema gate BEFORE any bytes land (carried files must
    // stay readable under the unchanged table schema) — pointer-level,
    // the entry carries the DDL
    val curSchema = loadTable(db, table).schema
    val missing = curSchema.fieldNames.filterNot(frame.schema.fieldNames.contains)
    val extra = frame.schema.fieldNames.filterNot(curSchema.fieldNames.contains)
    require(missing.isEmpty && extra.isEmpty,
      s"dynamic overwrite schema mismatch for $db.$table: " +
        s"missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
    val retyped = curSchema.fields
      .filterNot(f => f.dataType.sql == frame.schema(f.name).dataType.sql)
    require(retyped.isEmpty,
      s"dynamic overwrite type mismatch for $db.$table: " +
        retyped.map(f => s"${f.name}: table=${f.dataType.sql} " +
          s"frame=${frame.schema(f.name).dataType.sql}").mkString(", "))
    val dirName = s"dyn-${java.util.UUID.randomUUID().toString.take(12)}"
    val outDir = tablePath(db, table).resolve("data").resolve(dirName)
    // hash write distribution composes (one file per replaced partition)
    val distributed =
      if (tm.properties.get("write.distribution-mode").contains("hash"))
        frame.repartition(tm.partitionCols.map(c => col(s"`$c`")): _*)
      else frame
    // a declared sort order clusters the replaced partitions' files like
    // every library commit (this write bypasses commit()'s laid block)
    val clustered = tm.properties.get("write.sort-order") match {
      case Some(spec) if spec.trim.nonEmpty =>
        val exprs = spec.split(",").map(_.trim).filter(_.nonEmpty)
          .filter(frame.schema.fieldNames.contains).map(c => col(s"`$c`"))
        if (exprs.isEmpty) distributed
        else distributed.sortWithinPartitions(
          (tm.partitionCols.map(c => col(s"`$c`")) ++ exprs).toIndexedSeq: _*)
      case _ => distributed
    }
    val w = tm.properties.get("write.target-records-per-file") match {
      case Some(n) => clustered.write.mode("overwrite").option("maxRecordsPerFile", n.toLong)
      case None => clustered.write.mode("overwrite")
    }
    w.partitionBy(tm.partitionCols: _*).parquet(writeUri(outDir))
    adoptDynamicOverwrite(db, table, dirName)
  }

  /** Commit an already-written hive-laid data dir as a dynamic partition
    * overwrite: classify the previous snapshot's files by partition dir,
    * carry the untouched ones, adopt the new dir's files — the terminal
    * step [[overwriteDynamic]] and the SQL `INSERT OVERWRITE` (dynamic
    * mode) V2 write share. Runs under the table lock; classification
    * happens against the snapshot current AT COMMIT, so a concurrent
    * append to an untouched partition carries through correctly.
    *
    * TWO-LEVEL: shards whose recorded summary excludes every replaced
    * tuple carry BY NAME unparsed (restating one day parses that day's
    * shards, never the inventory). That admits one behavior refinement
    * over the exhaustive classification: a non-hive-laid file (compaction
    * output) whose shard bounds PROVE it intersects no replaced partition
    * now carries silently — sound, since outer bounds refuting every
    * replaced tuple refute membership — where the old path refused the
    * whole commit; flat files that MAY intersect still refuse via the
    * opened-shard classification. */
  def adoptDynamicOverwrite(db: String, table: String,
      dataDirName: String): Snapshot = withTableLock(db, table) { st =>
    val tm = meta(db, table)
    require(tm.bucketSpec.isEmpty,
      s"dynamic overwrite of $db.$table refuses bucketed layouts")
    val prevEntry = st.commitBase
    // TWO-LEVEL classification below: shards whose recorded summary proves
    // no file lies in a replaced partition carry BY NAME unparsed; the
    // full inventory materializes only on the degrade lanes
    lazy val prev = materialize(st, prevEntry)
    val root = tablePath(db, table)
    val snapDir = root.resolve("data").resolve(dataDirName)
    val pk = tm.partitionCols
    // the `k=v` dir segments between the snapshot dir and the file name;
    // raw-string comparison is exact because both sides came out of this
    // catalog's writer (identical escaping, identical null-partition dir)
    def partTuple(rel: String, what: String): Seq[String] = {
      val s = rel.split('/').toSeq.drop(2).dropRight(1)
      require(s.size == pk.size &&
          pk.indices.forall(i => s(i).startsWith(pk(i) + "=")),
        s"dynamic overwrite of $db.$table: $what file $rel is not hive-laid " +
          s"on the current partition spec (${pk.mkString(",")}) - compact() " +
          "the table first")
      s
    }
    val newFiles = listParquetFiles(snapDir).map(relPath(snapDir, s"data/$dataDirName", _))
    // expect.mode=commit gates the INCOMING rows, like append/overwrite
    // (carried partitions predate the batch and never re-validate). One
    // read-back of only the new files; a refusal deletes the staged dir —
    // nothing committed, nothing orphaned.
    if (newFiles.nonEmpty && tm.properties.get("expect.mode").contains("commit")) {
      val exps = expectationsOf(db, table)
      if (exps.nonEmpty) {
        val written = spark.read.schema(prevEntry.schema)
          .option("basePath", snapDir.toString).parquet(snapDir.toString)
        val bad = expectationViolations(written, exps).filter(_._2 > 0)
        if (bad.nonEmpty) {
          deleteRecursively(snapDir)
          throw new IllegalStateException(
            s"dynamic overwrite to $db.$table refused (expect.mode=commit): " +
              bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
        }
      }
    }
    // an UNPARTITIONED table has no partitions to replace: dynamic mode
    // degenerates to the full overwrite (Iceberg's semantics — the SQL
    // path reaches here whenever the session conf is dynamic)
    if (tm.partitionCols.isEmpty)
      return adoptDir(st, "overwrite", dataDirName, Seq.empty,
        Map.empty, Map.empty, prevEntry)
    val touched = newFiles.map(f => partTuple(f, "incoming")).toSet
    // one equality conjunction per replaced tuple; a null-partition tuple
    // (`__HIVE_DEFAULT_PARTITION__`) has no admissible predicate form, so
    // its presence degrades to the full classification
    def tupleCond(t: Seq[String]): Option[Column] = {
      val parts = t.map { seg =>
        val i = seg.indexOf('=')
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(i + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__") None
        else Some(col(s"`${seg.substring(0, i)}`") === lit(v))
      }
      if (parts.exists(_.isEmpty)) None else Some(parts.flatten.reduce(_ && _))
    }
    val conds = touched.toSeq.flatMap(tupleCond)
    if (touched.isEmpty) {
      // empty incoming frame: nothing replaced — a pure carry-all commit,
      // every prior shard reuses by name
      adoptDir(st, "dynamic-overwrite", dataDirName, Seq.empty,
        Map.empty, Map.empty, prevEntry, prevEntry.manifests)
    } else if (conds.size != touched.size) {
      // degrade: a replaced null partition — classify every file exactly
      val carries = prev.files.filter(f => !touched.contains(partTuple(f, "existing")))
      adoptDir(st, "dynamic-overwrite", dataDirName, carries,
        prev.fileStats, Map.empty, prevEntry)
    } else {
      // shards the replaced tuples provably cannot touch are never parsed
      // (summaries fold hive path values as exact bounds); opened shards
      // classify file-by-file exactly as before — restating one day of a
      // 10^6-file table parses that day's shards, not the inventory
      val res = resolveWhere(st, prevEntry.snapshotId, conds.reduce(_ || _))
      val carries = res.snap.files.filter(f => !touched.contains(partTuple(f, "existing")))
      val skipped = prevEntry.manifests.filterNot(res.openedNames.toSet)
      adoptDir(st, "dynamic-overwrite", dataDirName, carries,
        res.snap.fileStats, Map.empty, prevEntry, skipped)
    }
  }

  /** ZERO-COPY file adoption (Iceberg `add_files`; the migration data plane
    * without the rewrite): move externally-written parquet files into the
    * table as ONE commit. Per-file cost is a same-filesystem RENAME plus one
    * footer read — never a data scan or rewrite. The reference migrates by
    * re-reading and re-writing every table (`5_migrate_tables_data.py:80-83`);
    * at 100 TB adoption is the difference between hours of I/O and a
    * metadata operation.
    *
    * `operation`: "append" (adopted files join the current state) or
    * "overwrite" (they become the state). Schema compatibility is checked
    * from the files' OWN footers before any move — a failure leaves the
    * source dir untouched. Hive-laid source dirs keep their layout (the
    * adopted dir becomes a normal snapshot dir). Snapshot-summary bounds:
    * numeric min/max fold from footer bounds; strings get none (writer
    * truncation would break metadata-served exactness); on append, a bound
    * survives only when BOTH sides have one. Declared sort orders do not
    * re-lay adopted files (that is the point); run compact() to re-cluster. */
  def adoptFiles(db: String, table: String, srcDir: Path,
      operation: String = "append"): Snapshot = withTableLock(db, table) { st =>
    require(operation == "append" || operation == "overwrite",
      s"adoptFiles operation must be append|overwrite, got '$operation'")
    val prevEntry = st.commitBase
    // pointer-level: the previous inventory resolves lazily (only the
    // returned Snapshot's deferred view walks it); schema/summary
    // arithmetic runs off the log entry
    lazy val prev = materialize(st, prevEntry)
    val newId = st.nextId
    val src = listParquetFiles(srcDir)
    require(src.nonEmpty, s"no parquet files to adopt under $srcDir")

    // schema gate, BEFORE any move: the merged directory read checks names
    // + types against the table (nullability relaxed — parquet read-back is
    // nullable anyway)…
    val incoming = spark.read.parquet(srcDir.toString).schema
    val prevSchema = prevEntry.schema
    val missing = prevSchema.fieldNames.filterNot(incoming.fieldNames.contains)
    val extra = incoming.fieldNames.filterNot(prevSchema.fieldNames.contains)
    require(missing.isEmpty && extra.isEmpty,
      s"adopt schema mismatch for $db.$table: missing=${missing.mkString(",")} " +
        s"extra=${extra.mkString(",")}")
    val retyped = prevSchema.fields
      .filterNot(f => f.dataType.sql == incoming(f.name).dataType.sql)
    require(retyped.isEmpty,
      s"adopt type mismatch for $db.$table: " +
        retyped.map(f => s"${f.name}: table=${f.dataType.sql} " +
          s"adopted=${incoming(f.name).dataType.sql}").mkString(", "))
    // …and a per-file footer pass proves the directory HOMOGENEOUS: the
    // merged read samples one footer plus partition inference, so a dir
    // where some files lack (or retype) a column would pass it and those
    // files would silently read back NULL after adoption. The comparison is
    // a name->type MAP ([[FileStats.footerTypeMap]]) — field order and
    // required/optional flavor differ legitimately across writers and the
    // name-based parquet read handles both; only a missing or re-typed
    // column is the silent-NULL hazard. Heterogeneous sources are refused
    // while still fully intact.
    val conf = spark.sessionState.newHadoopConf()
    val footers = src.map(p => p -> FileStats.footerTypeMap(FileStats.footerSchema(p, conf)))
    val divergent = footers.filterNot(_._2 == footers.head._2)
    require(divergent.isEmpty,
      s"adopt schema divergence under $srcDir: ${divergent.size} file(s) differ " +
        s"from ${src.head.getFileName} (e.g. ${divergent.head._1.getFileName}: " +
        s"<${divergent.head._2}> vs <${footers.head._2}>); " +
        "adoption requires a schema-homogeneous directory")
    val snapSchema = operation match {
      case "append" => StructType(prevSchema.fields.map(_.copy(nullable = true)))
      case _        => StructType(incoming.fields.map(_.copy(nullable = true)))
    }

    val tag = attemptTag()
    val snapDirRel = s"data/s$newId$tag"
    val snapDir = tablePath(db, table).resolve("data").resolve(s"s$newId$tag")
    val root = tablePath(db, table)
    // per-file stats read from the SOURCE paths, before any rename: a
    // corrupt footer aborts the adoption with the source dir untouched
    // (stats-after-move left the only copy stranded in an unreferenced
    // data/s<id> dir on failure)
    val relBySrc = src.map(p =>
      p -> relPath(srcDir, snapDirRel, p)).toMap
    val newFileStats = FileStats.fromFooters(src,
      (p: java.nio.file.Path) => p, snapSchema, conf)
      .map { case (p, st) => relBySrc(p) -> st }
    val newFiles = src.map(relBySrc).sorted

    val rowsPerFile = newFiles.map(f => newFileStats(f).get("rows").map(_.toLong))
    val rows = if (rowsPerFile.forall(_.isDefined)) rowsPerFile.flatten.sum else -1L
    // adopted-set bounds from footers (numeric-only, exact)
    val adopted = ColumnStats.mergeWithFileBounds(
      Map.empty, newFiles, newFileStats, snapSchema)
    val stats = operation match {
      case "overwrite" => adopted
      case _ =>
        // append: fold only where BOTH sides have exact bounds — unlike a
        // frame append, an adopted file set is never provably all-null for
        // a column the footer didn't bound, so one-sided bounds must drop.
        // EXCEPTIONS mirroring ColumnStats.merge: an adopted-side bound
        // survives alone when the previous snapshot provably contributes
        // nothing (zero rows — the create-then-adopt migration path — or
        // an all-null evolved column); a prev-side bound survives alone
        // when the ADOPTED files are provably all-null for the column.
        snapSchema.fields.filter(f => ColumnStats.statable(f.dataType)).flatMap { f =>
          val prevEmpty = prevEntry.summary.get("record_count").contains("0") ||
            prevEntry.summary.contains(s"nullcol.${f.name}")
          val adoptedAllNull = newFiles.forall { nf =>
            val st = newFileStats(nf)
            (st.get(s"nulls.${f.name}"), st.get("rows")) match {
              case (Some(n), Some(r)) => n == r
              case _ => false
            }
          }
          Seq(s"min.${f.name}" -> true, s"max.${f.name}" -> false).flatMap {
            case (k, isMin) =>
              (prevEntry.summary.get(k), adopted.get(k)) match {
                case (Some(p), Some(n)) =>
                  val takeP = if (isMin) !ColumnStats.gt(f.dataType, p, n)
                  else ColumnStats.gt(f.dataType, p, n)
                  Some(k -> (if (takeP) p else n))
                case (None, Some(n)) if prevEmpty => Some(k -> n)
                case (Some(p), None) if adoptedAllNull => Some(k -> p)
                case _ => None
              }
          }
        }.toMap
    }
    // pointer-level like [[commit]]: an adopt-append reuses prior shards
    // BY NAME and the returned Snapshot's inventory view defers
    val (reuse, delta, allFiles, allFileStats, totalFileCount) = operation match {
      case "append" =>
        (prevEntry.manifests, Manifest(newFiles, newFileStats),
          new DeferredSeq(() => prev.files ++ newFiles): Seq[String],
          new DeferredMap(() => prev.fileStats ++ newFileStats):
            Map[String, Map[String, String]],
          entryFileCount(st, prevEntry) + newFiles.size)
      case _ =>
        (Seq.empty[String], Manifest(newFiles, newFileStats), newFiles: Seq[String],
          newFileStats, newFiles.size.toLong)
    }
    val prevRows = prevEntry.summary.get("record_count").map(_.toLong).getOrElse(-1L)
    val totalRows = operation match {
      case "append" => if (prevRows >= 0 && rows >= 0) prevRows + rows else -1L
      case _        => rows
    }
    // adopted files join (append) or replace (overwrite) the data file set;
    // existing merge-on-read delete files keep covering the carried files
    // on append and die with the replaced state on overwrite
    val (deleteShards, carriedDeletes) = operation match {
      case "append" => (prevEntry.deletes, entryDeleteFiles(db, table, prevEntry))
      case _        => (Seq.empty[String], Seq.empty[DeleteFile])
    }
    // the renames are the LAST fallible step before the log commit: every
    // footer was already validated and harvested from the source paths, so
    // a failure up to here leaves the source dir fully intact (and a crash
    // mid-move leaves recoverable orphans, never the only copy stranded
    // behind a half-validated commit)
    src.foreach { p =>
      val dst = snapDir.resolve(srcDir.relativize(p).toString)
      Files.createDirectories(dst.getParent)
      Files.move(p, dst)
    }
    val snap = Snapshot(newId, clock().toString, operation,
      Map(
        "record_count" -> totalRows.toString,
        "added_records" -> rows.toString,
        "added_files" -> newFiles.size.toString,
        "total_files" -> totalFileCount.toString,
        "adopted" -> "true") ++ stats
        ++ streamEpochTags(prevEntry.summary),
      snapSchema.toDDL, allFiles, allFileStats, carriedDeletes)
    try commitSnapshot(st, snap, reuse, delta, deleteShards).snap
    catch {
      case e: CommitConflictException =>
        // optimistic (CAS) commit lost the race AFTER the renames: move
        // the files BACK so the mutex's body re-run finds the source dir
        // exactly as the caller left it — without this, the retry would
        // see an empty srcDir and fail, with the only copy stranded in an
        // unreferenced attempt dir
        src.foreach { p =>
          val dst = snapDir.resolve(srcDir.relativize(p).toString)
          if (Files.exists(dst)) Files.move(dst, p)
        }
        throw e
    }
  }

  /** `carryFiles` (partial-rewrite commits: prune-aware delete/update):
    * files of the PREVIOUS snapshot that are provably untouched by the
    * operation and carry over verbatim — the 100-TB posture for row-level
    * ops: a DELETE whose predicate prunes to one file must rewrite one
    * file, not the lake. Their per-file stats (`carryStats`) ride along;
    * snapshot-level numeric min/max fold carried footer bounds with the
    * rewrite's Observation stats. */
  private def commit(st: TableState, df0: DataFrame, operation: String,
      carryFiles: Seq[String] = Seq.empty,
      carryStats: Map[String, Map[String, String]] = Map.empty,
      carryShards: Seq[String] = Seq.empty,
      extraSummary: Map[String, String] = Map.empty,
      base: Option[SnapshotEntry] = None,
      ridMixed: Boolean = false): Committed = {
    val (db, table) = (st.db, st.table)
    val tm = meta(db, table)
    st.requireNoPendingStage()
    // `base` re-bases the commit on a BRANCH HEAD instead of the published
    // head (appendBranch); the log TAIL may be a branch commit, which must
    // never become a main commit's parent. Ids stay globally monotone.
    val prevEntry = base.getOrElse(st.published)
    // POINTER-LEVEL previous state: schema / summary / record count live on
    // the log entry itself. The full inventory (`prev.files`) resolves
    // LAZILY — an append never parses a manifest shard at commit time (its
    // entry is prev shards + the delta BY NAME), so the streaming-ingest
    // hot path stays O(delta) even at the 10^6-file regime. Forcing `prev`
    // off the lock is sound: the entry's shards are write-once.
    lazy val prev = materialize(st, prevEntry)
    val prevSummary = prevEntry.summary
    val prevRecordCount = prevSummary.get("record_count").map(_.toLong).getOrElse(-1L)
    val (cf, cs, cshards, cshardSums) =
      admitCarryShards(st, prevEntry, carryFiles, carryStats, carryShards)
    val newId = st.nextId
    val tag = attemptTag()
    val snapDirRel = s"data/s$newId$tag"
    val snapDir = tablePath(db, table).resolve(s"data").resolve(s"s$newId$tag")

    // Snapshot schema — RESOLVED AND VALIDATED BEFORE the data write: the
    // compatibility checks need only metadata, and a rejected append must
    // not first burn a full (at 100 TB: very expensive) parquet write and
    // leave orphaned files in data/s<newId>.
    //
    // An overwrite's file list is the new files only, so the frame's schema
    // IS the table schema (RTAS semantics). An append's (or compact's) file
    // list still contains OLDER files, so the table schema must be
    // preserved — adopting the incoming frame's schema verbatim would let a
    // non-nullable literal frame redeclare an evolved column NOT NULL and
    // break reads of pre-evolution files (the vectorized reader refuses
    // missing REQUIRED columns). Nullability is widened by the frame's,
    // never narrowed.
    // `__rid`/`__rseq` are the row-lineage identity + last-updated
    // fields a REWRITE materializes into its output files (see
    // [[commitSnapshot]]): they ride the parquet write but never enter
    // the TABLE schema — explicit-schema reads simply ignore the extra
    // physical columns
    val lineageCols = Set("__rid", "__rseq")
    val hasRid = df0.columns.contains("__rid")
    // `write.merge-schema=true` (Spark's mergeSchema / Iceberg's
    // accept-any-schema, the schemaless-ingest shape): an APPEND whose
    // frame carries NEW top-level columns auto-evolves the table schema
    // (new columns land nullable — older files null-fill them through the
    // schema'd read, the proven additive-evolution machinery), and a frame
    // MISSING table columns null-fills them for this batch. Type changes
    // still refuse — widening is the explicit [[evolveSchema]] act, never
    // an ingest side effect. Off by default: a typo'd producer column
    // should fail loudly unless the table opted into open-schema ingest.
    val mergeSchema = operation == "append" &&
      tm.properties.get("write.merge-schema").contains("true")
    val (df, snapSchema) = operation match {
      case "append" | "compact" =>
        val prevSchema = prevEntry.schema
        val missing = prevSchema.fieldNames.filterNot(df0.schema.fieldNames.contains)
        val extra = df0.schema.fieldNames
          .filterNot(prevSchema.fieldNames.contains).filterNot(lineageCols)
        require(mergeSchema || (missing.isEmpty && extra.isEmpty),
          s"append schema mismatch for $db.$table: missing=${missing.mkString(",")} " +
            s"extra=${extra.mkString(",")}")
        val retyped = prevSchema.fields.filter(f => df0.schema.fieldNames.contains(f.name))
          .filterNot(f => f.dataType.sql == df0.schema(f.name).dataType.sql)
        require(retyped.isEmpty,
          s"append type mismatch for $db.$table: " +
            retyped.map(f => s"${f.name}: table=${f.dataType.sql} " +
              s"frame=${df0.schema(f.name).dataType.sql}").mkString(", "))
        val kept = StructType(prevSchema.fields.map { f =>
          f.copy(nullable = f.nullable ||
            !df0.schema.fieldNames.contains(f.name) || df0.schema(f.name).nullable)
        })
        val evolved =
          if (extra.isEmpty) kept
          else StructType(kept.fields ++
            extra.map(c => df0.schema(c).copy(nullable = true)))
        val filled = missing.foldLeft(df0)((d, c) =>
          d.withColumn(c, lit(null).cast(prevSchema(c).dataType)))
        (filled, evolved)
      case _ => (df0, StructType(df0.schema.fields.filterNot(f => lineageCols(f.name))))
    }

    // `expect.mode=commit`: validate the INCOMING frame before any bytes
    // land (one extra pass over the NEW rows only — the opt-in
    // validated-write trade; the WAP publish gate stays the default
    // enforcement point). append/overwrite only: compact re-observes
    // PRE-EXISTING rows, and maintenance must never brick on data that
    // predates the expectation. Streaming sinks inherit this for free —
    // their epochs commit through append().
    if (tm.properties.get("expect.mode").contains("commit") &&
        (operation == "append" || operation == "overwrite")) {
      val exps = expectationsOf(db, table)
      val bad =
        if (exps.isEmpty) Seq.empty
        else expectationViolations(df, exps).filter(_._2 > 0)
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"$operation to $db.$table refused (expect.mode=commit): " +
            bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
    }

    // Count rows AND per-column min/max in the SAME pass as the write (the
    // reference does a separate full-scan count() before writing,
    // `5_migrate_tables_data.py:76` — at 100 TB that second scan is the
    // difference between one pass and two). The stats land in the snapshot
    // summary and let MetadataCountRule serve unfiltered count/min/max
    // straight from the log, Iceberg-manifest style.
    val statCols = df.schema.fields.filter(f => ColumnStats.statable(f.dataType))
      .map(_.name).filterNot(lineageCols)
    val obs = new Observation(s"commit_${db}_${table}_$newId")
    val statAggs = statCols.flatMap { c =>
      Seq(min(col(s"`$c`")).as(s"min.$c"), max(col(s"`$c`")).as(s"max.$c"))
    }
    // NDV sketches ride the SAME observation pass (zero extra scan over
    // the commit's new rows); see [[NdvStats]] for union/carry semantics.
    // A property naming an unknown/unsupported column fails loudly, like
    // blooms.
    val ndvCols = NdvStats.columnsOf(tm.properties)
    ndvCols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"${NdvStats.PropCols} of $db.$table names unknown column '$c'"))
      require(NdvStats.supported(f.dataType),
        s"${NdvStats.PropCols}: column '$c' has unsupported type ${f.dataType.sql} " +
          "(int/long/string/binary only)")
    }
    val ndvLgK = NdvStats.lgKOf(tm.properties)
    val ndvAggs = ndvCols.map(c =>
      expr(s"hll_sketch_agg(`$c`, $ndvLgK)").as(s"ndvsk.$c"))
    // Declared sort order (`write.sort-order` = "c1,c2", Iceberg's table
    // sort order): range-cluster every library commit's output on the sort
    // columns so per-file footer bounds are DISJOINT on the leading column
    // — file skipping on it becomes systematic instead of incidental, and
    // parquet gets sorted pages (better encodings, row-group pruning). One
    // extra range shuffle per commit, opt-in by property. compact() flows
    // through here too, so it doubles as the re-cluster action (SQL
    // row-level rewrites bypass this layout; compact restores it).
    val sortCols: Seq[String] = tm.properties.get("write.sort-order") match {
      case Some(spec) if spec.trim.nonEmpty =>
        val cs = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = cs.filterNot(df.schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"write.sort-order of $db.$table names unknown columns: ${unknown.mkString(",")}")
        cs
      case _ => Seq.empty
    }
    // `write.distribution-mode` (Iceberg's write-clustering property):
    // how every library commit's rows shuffle before a PARTITIONED write.
    // Without clustering, `partitionBy` fans each writer task out across
    // every partition value it holds — W tasks x P occupied values =
    // W*P files per commit, the small-files explosion that wrecks scan
    // planning on a 100-TB daily-partitioned table.
    //   none  (default) keep the writer's task layout (plus the
    //         sort-order range-cluster when declared — behavior identical
    //         to every prior round);
    //   hash  cluster on the layout columns (`repartition(partCols)`): all
    //         rows of one partition value land in ONE task, so each
    //         occupied dir receives exactly one file per commit (a fat
    //         partition still splits at `write.target-records-per-file`;
    //         skew beyond that salts upstream — documented tradeoff);
    //   range global `repartitionByRange(partCols ++ sortCols)` — the
    //         sorted-write shape: dirs get few files AND files inside a
    //         dir carry disjoint sort-key ranges.
    // Both modes keep the per-file sort when a sort order is declared, so
    // footer bounds stay tight. compact() flows through here too, making
    // it the re-layout action for pre-property commits.
    val distMode = tm.properties.getOrElse("write.distribution-mode", "none")
    val sortExprs = sortCols.map(c => col(s"`$c`"))
    val laid = distMode match {
      case "none" =>
        if (sortExprs.nonEmpty)
          df.repartitionByRange(sortExprs.toIndexedSeq: _*)
            .sortWithinPartitions(sortExprs.toIndexedSeq: _*)
        else df
      case "hash" =>
        require(tm.partitionCols.nonEmpty,
          s"write.distribution-mode=hash on $db.$table requires a " +
            "partitioned (or bucketed/transform-partitioned) table")
        val partExprs = tm.partitionCols.map(c => col(s"`$c`"))
        val h = df.repartition(partExprs.toIndexedSeq: _*)
        if (sortExprs.nonEmpty)
          h.sortWithinPartitions((partExprs ++ sortExprs).toIndexedSeq: _*)
        else h
      case "range" =>
        val exprs = (tm.partitionCols ++ sortCols.filterNot(tm.partitionCols.contains))
          .map(c => col(s"`$c`"))
        require(exprs.nonEmpty,
          s"write.distribution-mode=range on $db.$table requires partition " +
            "columns and/or a declared write.sort-order")
        df.repartitionByRange(exprs.toIndexedSeq: _*)
          .sortWithinPartitions(exprs.toIndexedSeq: _*)
      case other => throw new IllegalArgumentException(
        s"write.distribution-mode of $db.$table must be none|hash|range, got '$other'")
    }
    val observed = laid.observe(obs, count(lit(1)).as("rows"),
      (statAggs.toIndexedSeq ++ ndvAggs): _*)
    // `write.target-records-per-file` caps file size on every library
    // commit (Iceberg's write.target-file-size-bytes, expressed in rows
    // — deterministic where byte targets depend on encoder state): the
    // writer rolls to a new file at the cap, so one fat task can't
    // produce a 10-GB file that defeats parallel planning downstream.
    // Acts as a CAP on top of the task layout: compact(numFiles=n) still
    // yields n files unless a file would exceed the cap.
    val writer = tm.properties.get("write.target-records-per-file") match {
      case Some(n) => observed.write.mode("overwrite")
        .option("maxRecordsPerFile", n.toLong)
      case None => observed.write.mode("overwrite")
    }
    val partitioned =
      if (tm.partitionCols.nonEmpty) writer.partitionBy(tm.partitionCols: _*) else writer
    SnapshotCatalog.timed(s"commit.write $db.$table#$newId") {
      partitioned.parquet(writeUri(snapDir))
    }
    val metrics = OnePass.values(OnePass.result(obs))
    val rows = metrics("rows").asInstanceOf[Long]
    // append/compact snapshots still contain the previous files, so their
    // stats merge with the previous snapshot's (absent on either side ->
    // absent: a stale bound would be silently wrong)
    val freshStats = ColumnStats.fromMetrics(statCols.toIndexedSeq, metrics)
    val stats = operation match {
      case "append" =>
        // recordCount passes through UNCLAMPED: -1 means unknown, and
        // merge's prev-empty branch must only fire on a PROVABLY empty
        // previous snapshot (clamping -1 to 0 would adopt fresh-only
        // bounds over files that actually contain rows)
        ColumnStats.merge(prevSummary, freshStats, df.schema,
          prevRowCount = prevRecordCount)
      case _ if cf.nonEmpty || cshards.nonEmpty =>
        // never-opened carry shards contribute their SUMMARY fold as one
        // pseudo-entry each — the fold is a sound widening of its files'
        // bounds under the same key scheme, so the merge is unchanged
        ColumnStats.mergeWithFileBounds(freshStats, cf ++ cshards,
          cs ++ cshards.iterator.map(n => n -> cshardSums(n).stats).toMap, df.schema)
      // compact rewrites the FULL current state through the Observation
      // pass, so fresh stats are exact and complete — taking them (not
      // merging) makes compact() the recovery action that restores summary
      // bounds a partial rewrite conservatively dropped. Null-column
      // provenance survives: compact preserves data, so a column marked
      // provably-all-null stays so (and fresh can have no bounds for it).
      case "compact" =>
        freshStats ++ prevSummary.view.filterKeys(k =>
          k.startsWith("nullcol.") &&
            !freshStats.contains("min." + k.stripPrefix("nullcol."))).toMap
      case _ => freshStats
    }

    val newFiles = listParquetFiles(snapDir).map(relPath(snapDir, snapDirRel, _))
    // Per-FILE stats from the freshly written footers (metadata-only reads,
    // one per NEW file — the Iceberg-manifest data-skipping layer; see
    // [[FileStats]]). Appends and partial rewrites carry the retained
    // files' entries forward.
    val conf = spark.sessionState.newHadoopConf()
    val root = tablePath(db, table)
    val newFileStats0 = SnapshotCatalog.timed(
        s"commit.footers $db.$table#$newId n=${newFiles.size}") {
      withBloomStats(db, table,
        FileStats.fromFooters(newFiles, (f: String) => root.resolve(f),
          snapSchema, conf), snapSchema)
    }
    // files carrying materialized row ids are marked so the lineage
    // funnel never re-mints identity for rewritten rows. A MIXED frame
    // (`ridMixed` — the CoW upsert: retained rows carry physical ids,
    // source rows have null __rid) must NOT mark: the funnel then claims
    // a first_row_id range and the read side's coalesce(physical,
    // frid + pos) serves retained ids physically and mints fresh ones
    // for the new rows
    val newFileStats =
      if (!hasRid || ridMixed) newFileStats0
      else newFileStats0.view.mapValues(_ + ("rid_materialized" -> "true")).toMap
    // append reuses every prior shard and writes O(new files) metadata; a
    // carry commit reuses every UNTOUCHED shard (see planCarryManifests);
    // a clean rewrite's state is its own single shard
    val (reuse, delta, allFiles, allFileStats, totalFileCount) = operation match {
      case "append" =>
        // pointer-level: prior shards reuse BY NAME; the full inventory
        // view on the returned Snapshot defers until actually walked, and
        // the exact file count comes off the pointer log
        (prevEntry.manifests, Manifest(newFiles, newFileStats),
          new DeferredSeq(() => prev.files ++ newFiles): Seq[String],
          new DeferredMap(() => prev.fileStats ++ newFileStats):
            Map[String, Map[String, String]],
          entryFileCount(st, prevEntry) + newFiles.size)
      case _ if cf.isEmpty && cshards.isEmpty =>
        // full rewrite (overwrite/compact): the new files ARE the state —
        // nothing carries, so the previous inventory is never consulted
        (Seq.empty[String], Manifest(newFiles, newFileStats),
          newFiles: Seq[String], newFileStats, newFiles.size.toLong)
      case _ => planCarryManifests(db, table, prevEntry,
        cf, cs, newFiles, newFileStats, cshards,
        n => cshardSums(n).fileCount.toLong)
    }
    // merge-on-read delete shards: an append cannot be covered by existing
    // deletes, so prior shards carry wholesale; a partial rewrite keeps the
    // shards still covering a CARRIED file (rewritten candidates were read
    // MERGED, so their positions die with the files); a full rewrite
    // (overwrite/compact/merge) materializes every delete — none carry
    val deleteShards = operation match {
      case "append" => prevEntry.deletes
      // cshards nonEmpty implies prevEntry.deletes is empty (the
      // admission gate above), so the file-granular test stays exact
      case _        => carryDeleteShards(db, table, prevEntry, cf)
    }
    val carriedDeletes = deleteShards.flatMap(loadDeleteShard(db, table, _))
    val carriedDead = deadRows(carriedDeletes, cf)
    val totalRows = operation match {
      // an unknown previous count (equality deletes, statless adoption)
      // must propagate as unknown, never clamp to zero
      case "append" => if (prevRecordCount >= 0) prevRecordCount + rows else -1L
      case _ if cf.nonEmpty || cshards.nonEmpty =>
        // carried rows come from per-file footer counts (summary-folded
        // counts for never-opened carry shards) minus their exact
        // position-deleted dead rows; a carried file without a footer
        // count (or an equality delete, whose dead count is unknowable)
        // makes the total honestly unknown (-1), never wrong
        val carried = cf.map(f => cs.get(f).flatMap(_.get("rows")).map(_.toLong))
        val shardRows = cshards.map(n => cshardSums(n).stats.get("rows").map(_.toLong))
        if (carried.forall(_.isDefined) && shardRows.forall(_.isDefined) &&
            carriedDead.isDefined)
          carried.flatten.sum + shardRows.flatten.sum - carriedDead.get + rows
        else -1L
      case _ => rows
    }
    // carried footer bounds are OUTER bounds once any carried file has (or
    // may have) dead rows — metadata-served min/max must drop rather than
    // overstate; compact() recomputes them exactly
    val honestStats =
      if (!carriedDead.contains(0L))
        stats.view.filterKeys(k => !k.startsWith("min.") && !k.startsWith("max.")).toMap
      else stats
    // NDV: union this commit's fresh sketches per [[NdvStats]] — full
    // rewrites (overwrite/compact observe the whole state) take fresh
    // alone; appends and partial rewrites union with the parent sidecar
    // (partial-rewrite unions are upper bounds: rewritten rows stay in
    // the parent sketch). An append onto an unsketched non-empty history
    // emits NOTHING (absent beats undercounted) until analyze_ndv
    // bootstraps.
    val ndvSummary: Map[String, String] =
      if (ndvCols.isEmpty) Map.empty
      else {
        val root = tablePath(db, table)
        val freshNdv = ndvCols.map { c =>
          c -> Option(metrics(s"ndvsk.$c")).map(_.asInstanceOf[Array[Byte]])
            .getOrElse(NdvStats.emptySketch(ndvLgK))
        }.toMap
        def unionParent: Option[Map[String, Array[Byte]]] =
          if (prevRecordCount == 0L) Some(freshNdv)
          else prevSummary.get("ndv.snapshot").map(_.toLong)
            .flatMap(id => NdvStats.loadSidecar(root, id))
            .filter(par => ndvCols.forall(par.contains))
            .map(par => ndvCols.map(c =>
              c -> NdvStats.union(ndvLgK, Seq(par(c), freshNdv(c)))).toMap)
        val unioned = operation match {
          case "append" => unionParent
          case _ if cf.nonEmpty || cshards.nonEmpty => unionParent
          case _ => Some(freshNdv) // overwrite / compact: full state observed
        }
        unioned.fold(Map.empty[String, String]) { sk =>
          NdvStats.writeSidecar(root, newId, sk)
          sk.map { case (c, b) =>
            s"ndv.$c" -> NdvStats.estimate(b).toString } +
            ("ndv.snapshot" -> newId.toString)
        }
      }
    // analyze_histogram output carries across row-preserving and
    // row-adding commits (a histogram is approximate by nature; CBO
    // prefers a stale shape over none) — but NOT across overwrite, which
    // replaces the data wholesale. Re-run analyze_histogram to refresh.
    val histCarry = operation match {
      case "overwrite" => Map.empty[String, String]
      case _ => prevSummary.view.filterKeys(_.startsWith("hist.")).toMap
    }
    val snap = Snapshot(newId, clock().toString, operation,
      Map(
        "record_count" -> totalRows.toString,
        "added_records" -> rows.toString,
        "added_files" -> newFiles.size.toString,
        "total_files" -> totalFileCount.toString) ++ honestStats ++ ndvSummary ++ histCarry
        // streaming-sink high-water marks survive EVERY commit kind (a
        // compact/overwrite between stream batches must not reopen the
        // replay window); the committing batch's own tag overrides
        ++ streamEpochTags(prevSummary)
        ++ extraSummary,
      snapSchema.toDDL, allFiles, allFileStats, carriedDeletes)
    SnapshotCatalog.timed(s"commit.log $db.$table#$newId") {
      commitSnapshot(st, snap, reuse, delta, deleteShards)
    }
  }

  // ---- row-level operations (Iceberg DELETE/UPDATE/MERGE surface,
  // copy-on-write flavor) ----

  /** Copy-on-write DELETE: commit a new snapshot without the rows matching
    * `cond`. SQL three-valued logic: a row is deleted only when `cond` is
    * TRUE — FALSE and NULL rows survive (`coalesce(cond, false)`).
    *
    * PRUNE-AWARE: files whose footer stats prove they contain no matching
    * row carry over VERBATIM (no read, no write — see [[FileStats]]); only
    * candidate files are rewritten. A selective delete on a 100-TB table
    * costs the candidate files, not the lake. Prior snapshots stay
    * time-travelable. */
  def delete(db: String, table: String, cond: Column): Snapshot = withTableLock(db, table) { st =>
    // TWO-LEVEL: shards the predicate provably excludes are never parsed —
    // they carry BY NAME through the commit (carryShards); only opened
    // shards take the file-granular carry split. A pinned-partition delete
    // on a 10^6-file table parses the matching shards, not the inventory.
    val e = st.published
    val res = resolveWhere(st, e.snapshotId, cond)
    val candSet = res.kept.toSet
    val untouched = res.snap.files.filterNot(candSet)
    val skipped = e.manifests.filterNot(res.openedNames.toSet)
    // candidates read VISIBLE (existing merge-on-read deletes applied):
    // a copy-on-write rewrite over a MoR table must not resurrect rows.
    // Lineage tables read WITH their identity + last-updated columns so
    // the rewrite materializes them — survivors keep both (v3: a delete
    // must not re-mint the rows it did NOT touch)
    val rewrite =
      (if (rowLineageEnabled(db, table)) readVisibleWithRidSeq(db, table, res.snap, res.kept)
       else readVisible(db, table, res.snap, res.kept))
        .where(!coalesce(cond, lit(false)))
    commit(st, rewrite, "delete",
      carryFiles = untouched, carryStats = res.snap.fileStats,
      carryShards = skipped).snap
  }

  /** MERGE-ON-READ DELETE (Iceberg v2 position-delete semantics): commit
    * the rows matching `cond` as DEAD POSITIONS — parquet files of
    * `(_file, _pos)` pairs under `deletes/s<id>/` plus one KB-sized
    * `d<id>.json` shard — without rewriting a single data file. This is
    * the 100-TB answer to frequent small deletes (GDPR erasure, late-data
    * retraction): a copy-on-write delete rewrites every file containing a
    * match (write amplification ∝ file size × match spread), while this
    * commit's cost is O(matched rows). Reads merge lazily ([[readVisible]]:
    * covered files drop dead rows in their readers, untouched files scan
    * clean); [[compact]] is the materialize step that folds deletes into
    * data files and restores summary min/max bounds.
    *
    * Exactness invariants: the candidate scan applies EXISTING deletes
    * first, so re-deleting a dead row neither duplicates a position nor
    * double-decrements `record_count`; per-data-file position counts are
    * recorded in the shard, so every later carry/visible-row computation
    * is pure metadata; summary min/max drop when rows actually died (the
    * extremum row may be gone — absent is honest, wrong is not).
    *
    * SQL three-valued logic matches [[delete]]: rows where `cond` is TRUE
    * die; FALSE and NULL survive. No reference cite exists — the
    * reference's only write is a full overwrite
    * (`/root/reference/5_migrate_tables_data.py:80-83`); semantics follow
    * Iceberg v2 merge-on-read. */
  def deleteMoR(db: String, table: String, cond: Column): Snapshot = withTableLock(db, table) { st =>
    st.requireNoPendingStage()
    deleteMoRFrom(st, st.published, cond, Map.empty).snap
  }

  /** MoR delete ON A BRANCH (the audit-lineage DML): position deletes
    * based at the branch head, committed branch-marked (invisible to main
    * until [[fastForward]]) with the ref advanced — the same pointer-
    * commit cost as [[deleteMoR]]. SQL reaches this through the
    * `snapcat.db.t.branch_<name>` write identifier (Iceberg's branch-write
    * convention). */
  def deleteMoRBranch(db: String, table: String, name: String,
      cond: Column): Snapshot = withTableLock(db, table) { st =>
    onBranch(st, name)((head, marks) => deleteMoRFrom(st, head, cond, marks).snap)
  }

  private def deleteMoRFrom(st: TableState, prevEntry: SnapshotEntry, cond: Column,
      extraSummary: Map[String, String]): Committed = {
    val (db, table) = (st.db, st.table)
    val newId = st.nextId
    val tag = attemptTag()
    // TWO-LEVEL candidate resolution, like the read path: shards whose
    // recorded summary provably excludes `cond` are never parsed, then
    // footer-stat pruning scopes the position scan to candidate files — a
    // selective delete on a 10^6-file table parses the matching shards'
    // metadata and scans the candidate files, never the lake. The commit
    // itself is pointer-level: every manifest shard reuses by name and the
    // returned Snapshot's inventory defers until actually walked.
    val res = resolveWhere(st, prevEntry.snapshotId, cond)
    val cands = res.kept
    val fileEntries = writePositionDeletes(db, table, newId,
      readVisibleWithPos(db, table, res.snap, cands)
        .where(coalesce(cond, lit(false))), tag)
    val deleted = fileEntries.map(_.rows).sum
    val shards =
      if (fileEntries.isEmpty) prevEntry.deletes
      else prevEntry.deletes :+ deleteShardName(newId, tag)
    val prevRows = prevEntry.summary.get("record_count").map(_.toLong).getOrElse(-1L)
    val prevDeletes = res.snap.deleteFiles // delete shards always load in full
    val carriedSummary =
      if (deleted == 0) prevEntry.summary
      else prevEntry.summary.view.filterKeys(k =>
        !k.startsWith("min.") && !k.startsWith("max.")).toMap
    val snap = Snapshot(newId, clock().toString, "delete",
      carriedSummary ++ Map(
        "record_count" -> (if (prevRows >= 0) (prevRows - deleted).toString else "-1"),
        "added_records" -> "0",
        "added_files" -> "0",
        "deleted_records" -> deleted.toString,
        "total_files" -> entryFileCount(st, prevEntry).toString,
        "delete_files" -> (prevDeletes.size + fileEntries.size).toString) ++
        extraSummary,
      prevEntry.schemaDdl,
      new DeferredSeq(() => materialize(st, prevEntry).files),
      new DeferredMap(() => materialize(st, prevEntry).fileStats),
      prevDeletes ++ fileEntries)
    // pure pointer commit on the data side: every manifest shard reuses
    commitSnapshot(st, snap, prevEntry.manifests, Manifest.empty, shards)
  }

  /** EQUALITY DELETE (Iceberg v2): commit `keys` — a frame of key tuples
    * over `keys.columns` — as an equality-delete file; any current row
    * matching a tuple (null-safe equality) is dead at read time. The
    * corpus is NEVER scanned: the only work is writing the (small) key
    * frame and one tiny agg over it for footer-stat candidate scoping —
    * the streaming-CDC writer shape, where even the position scan of
    * [[deleteMoR]] is too much. Appends after this commit are untouched
    * (coverage is pinned to the files present now), matching Iceberg's
    * sequence-number scoping.
    *
    * The trade is exactness: how many rows actually die is unknowable
    * without a scan, so `record_count` and summary bounds go honestly
    * UNKNOWN (-1 / dropped) until [[compact]] materializes the deletes
    * and recomputes both. Prefer [[deleteMoR]] when the candidate scan is
    * affordable — it keeps every metadata answer exact. */
  def deleteMoREq(db: String, table: String, keys: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    // pointer-level like every MoR commit: the inventory materializes only
    // when coverage genuinely spans every file (multi-column or null keys —
    // the covers map then lists the corpus by design); the ranged
    // single-key case resolves TWO-LEVEL and the returned Snapshot's file
    // view defers
    lazy val prev = materialize(st, prevEntry)
    val prevSummary = prevEntry.summary
    val prevRecordCount = prevSummary.get("record_count").map(_.toLong).getOrElse(-1L)
    val prevDeletes = entryDeleteFiles(db, table, prevEntry)
    val newId = st.nextId
    val tag = attemptTag()
    val schema = prevEntry.schema
    val eqCols = keys.schema.fieldNames.toSeq
    require(eqCols.nonEmpty, "equality delete needs at least one key column")
    val unknown = eqCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"equality-delete columns not in table: ${unknown.mkString(",")}")
    val retyped = eqCols.filterNot(c =>
      keys.schema(c).dataType.sql == schema(c).dataType.sql)
    require(retyped.isEmpty,
      s"equality-delete type mismatch: " + retyped.map(c =>
        s"$c: table=${schema(c).dataType.sql} keys=${keys.schema(c).dataType.sql}")
        .mkString(", "))
    // a small LOCAL key frame (a LocalRelation, e.g. an index refresh's
    // touched ids) dedupes and scopes in this JVM: its only job is the write
    val local = SnapshotCatalog.smallKeySet(keys)
    // candidate coverage: footer-stat range scoping over the KEY frame
    // only (one observed pass, one job — the corpus stays untouched);
    // multi-column keys cover every current file
    val covers = eqCols match {
      case _ if local.exists(_.isEmpty) => Seq.empty // empty key frame: nothing dies
      case Seq(k) if ColumnStats.statable(schema(k).dataType) =>
        // (rows, non-null keys, min, max)
        val (n, nk, mn, mx) = local match {
          case Some(rows) =>
            val vs = rows.map(_.get(0))
            val range = SnapshotCatalog.keyRange(schema(k).dataType, vs)
            (rows.length.toLong, vs.count(_ != null).toLong,
              range.map(_._1).orNull, range.map(_._2).orNull)
          case None =>
            val mm = OnePass.aggregate(keys, Seq(min(col(s"`$k`")), max(col(s"`$k`")),
              count(lit(1)), count(col(s"`$k`"))))
            (mm.getLong(2), mm.getLong(3), mm.get(0), mm.get(1))
        }
        if (n == 0) Seq.empty // empty key frame: nothing dies
        else if (nk == 0) prev.files // all-null keys: stats can't scope
        else {
          // two-level: shards the key range provably excludes never parse
          // (the file-tier keep set is identical — a skipped shard's fold
          // excludes each of its files for the same range predicate)
          val ranged = resolveWhere(st, prevEntry.snapshotId,
            col(s"`$k`") >= lit(mn) && col(s"`$k`") <= lit(mx)).kept
          // null keys match null-keyed rows anywhere — widen to all files
          if (nk < n) prev.files else ranged
        }
      case _ => prev.files
    }
    def pointerNoOp(): Snapshot =
      repoint(st, prevEntry, "delete",
        prevSummary ++ Map(
          "record_count" -> prevRecordCount.toString,
          "added_records" -> "0", "added_files" -> "0",
          "deleted_records" -> "0",
          "total_files" -> entryFileCount(st, prevEntry).toString) ++ extraSummary,
        prevEntry.schemaDdl).snap
    if (covers.isEmpty) return pointerNoOp()
    val delDirRel = s"deletes/s$newId$tag"
    val delDir = tablePath(db, table).resolve("deletes").resolve(s"s$newId$tag")
    local.fold(keys.dropDuplicates(eqCols))(rows =>
      spark.createDataFrame(rows.toSeq.asJava, keys.schema)).coalesce(1)
      .write.mode("overwrite").parquet(writeUri(delDir))
    val conf = spark.sessionState.newHadoopConf()
    val root = tablePath(db, table)
    val written = listParquetFiles(delDir)
    val fileEntries = written.map { p =>
      DeleteFile(relPath(delDir, delDirRel, p), covers.map(_ -> 0L).toMap, eqCols,
        FileStats.rowCountFromFooter(new org.apache.hadoop.fs.Path(p.toUri), conf))
    }.filter(_.eqTuples > 0)
    if (fileEntries.isEmpty) {
      deleteRecursively(delDir)
      return pointerNoOp()
    }
    writeDeleteShard(db, table, deleteShardName(newId, tag), fileEntries)
    val snap = Snapshot(newId, clock().toString, "delete",
      prevSummary.view.filterKeys(k =>
        !k.startsWith("min.") && !k.startsWith("max.")).toMap ++ Map(
        "record_count" -> "-1", // unknowable without a scan — never guessed
        "added_records" -> "0", "added_files" -> "0",
        "deleted_records" -> "-1",
        "total_files" -> entryFileCount(st, prevEntry).toString,
        "delete_files" -> (prevDeletes.size + fileEntries.size).toString) ++
        extraSummary,
      prevEntry.schemaDdl,
      new DeferredSeq(() => materialize(st, prevEntry).files),
      new DeferredMap(() => materialize(st, prevEntry).fileStats),
      prevDeletes ++ fileEntries)
    commitSnapshot(st, snap, prevEntry.manifests, Manifest.empty,
      prevEntry.deletes :+ deleteShardName(newId, tag)).snap
  }

  /** Lazy EXACT-COUNT backfill for an equality-delete history.
    * [[deleteMoREq]] never scans the corpus, so it commits
    * `record_count = -1` (honest unknown) — which also disables
    * metadata-served `count(*)` ([[graft.catalog.spark.MetadataCountRule]])
    * for every later snapshot whose arithmetic chains off it. This runs
    * the bounded materialization the delete skipped, once:
    *
    *  - files NOT covered by an eq delete never scan — their visible
    *    counts are footer rows minus recorded position-delete coverage,
    *    all metadata already in the manifest;
    *  - only eq-covered files read (merged), one count job scoped the
    *    same way the delete's own candidate scoping was;
    *  - the exact count is written back into the pointer-log summary
    *    UNDER THE COMMIT LOCK, then forward-propagated through every
    *    later entry whose `prev + added - deleted` becomes decidable
    *    (appends and position deletes propagate; a later eq delete stops
    *    the chain until its own backfill). The eq entry's
    *    `deleted_records` is also repaired when the previous count is
    *    known.
    *
    * Races: a concurrent backfill is idempotent (the log re-read under
    * the lock shows `record_count >= 0` and the write is skipped); a
    * commit landing between compute and write-back is safe because the
    * amendment targets the snapshot id it computed against, never
    * "current" — the new commit's own entry is then repaired by the
    * propagation pass of the NEXT backfill or read. Returns the exact
    * count for `snapshotId`. */
  def backfillEqCount(db: String, table: String, snapshotId: Long): Long = {
    val snap = snapshotAt(db, table, snapshotId)
    if (snap.recordCount >= 0) return snap.recordCount
    val eqCovered = snap.deleteFiles.filterNot(_.isPositional)
      .flatMap(_.covers.keys).toSet
    // metadata tier: footer rows minus position-dead, per uncovered file;
    // files lacking recorded footer rows degrade to the scan tier
    val (metaDecided, scanFiles0) = snap.files.partition(f =>
      !eqCovered.contains(f) && snap.fileStats.get(f).exists(_.contains("rows")))
    val posDead = deadRows(snap.deleteFiles.filter(_.isPositional), metaDecided)
      .getOrElse(0L) // positional covers are always exact
    val metaCount = metaDecided.iterator
      .map(f => snap.fileStats(f)("rows").toLong).sum - posDead
    val scanned =
      if (scanFiles0.isEmpty) 0L
      else OnePass.aggregate(readVisibleRaw(db, table, snap, scanFiles0),
        Seq(count(lit(1)))).getLong(0)
    val exact = metaCount + scanned
    withTableLock(db, table) { st =>
      val entries = st.entries
      val idx = entries.indexWhere(_.snapshotId == snapshotId)
      if (idx >= 0 && entries(idx).summary.get("record_count").contains("-1")) {
        val prevCount = (if (idx > 0) entries(idx - 1).summary.get("record_count")
          else None).map(_.toLong).filter(_ >= 0)
        var amended = entries.updated(idx, entries(idx).copy(summary =
          entries(idx).summary ++ Map("record_count" -> exact.toString) ++
            prevCount.map(p => "deleted_records" -> (p - exact).toString)))
        // forward propagation: repair the -1 tail while each entry's own
        // added/deleted arithmetic is decidable
        var prev = exact
        var i = idx + 1
        var decidable = true
        while (i < amended.length && decidable) {
          val e = amended(i)
          val rc = e.summary.get("record_count").map(_.toLong)
          if (rc.exists(_ >= 0)) prev = rc.get
          else {
            val add = e.summary.get("added_records").map(_.toLong).filter(_ >= 0)
            val del = e.summary.get("deleted_records").map(_.toLong).filter(_ >= 0)
            (add, del) match {
              case (Some(a), Some(d)) =>
                prev = prev + a - d
                amended = amended.updated(i, e.copy(summary =
                  e.summary + ("record_count" -> prev.toString)))
              case _ => decidable = false // a later eq delete: its own backfill's job
            }
          }
          i += 1
        }
        writeEntries(st, amended)
      }
    }
    exact
  }

  /** Write the position-delete files for one MoR commit: `matched` must be
    * a position-tagged frame (carries [[MorFileCol]]/[[MorPosCol]]) of the
    * rows to kill. Writes `deletes/s<newId>/`, takes EXACT per-(delete
    * file, data file) position counts from the written files
    * ([[deleteCoverage]]: their footers, since each task of a narrow write
    * covers one data file; exact coverage is what keeps record_count and
    * every later carry computation metadata-only), sweeps empty part
    * files, and persists the `d<newId>.json` shard. Returns the shard's
    * entries (empty = nothing matched; the dir is removed and no shard is
    * written). */
  private def writePositionDeletes(db: String, table: String, newId: Long,
      matched: DataFrame, tag: String): Seq[DeleteFile] = {
    val delDirRel = s"deletes/s$newId$tag"
    val delDir = tablePath(db, table).resolve("deletes").resolve(s"s$newId$tag")
    matched
      .select(col(MorFileCol).as("_file"), col(MorPosCol).as("_pos"))
      // narrow write: filter+project of the scan, no shuffle; within-task
      // sort gives the positions run-length-friendly parquet layout
      .sortWithinPartitions("_file", "_pos")
      .write.mode("overwrite").parquet(writeUri(delDir))
    val written = listParquetFiles(delDir)
    val fileEntries = deleteCoverage(delDir, delDirRel, written)
    if (fileEntries.isEmpty) deleteRecursively(delDir)
    else {
      // empty part files (tasks that matched nothing) hold no positions —
      // sweep them rather than carrying pointerless entries forever
      val live = fileEntries.map(_.path).toSet
      written.filterNot(p => live(relPath(delDir, delDirRel, p))).foreach(Files.delete)
      writeDeleteShard(db, table, deleteShardName(newId, tag), fileEntries)
    }
    fileEntries
  }

  /** `p` (a file under `dir`) as a table-relative path, `dirRel` being
    * `dir`'s own. */
  private def relPath(dir: Path, dirRel: String, p: Path): String =
    dirRel + "/" + dir.relativize(p).toString.replace('\\', '/')

  /** The delete files just `written` under `delDir` (`delDirRel`
    * table-relative), each with its exact per-data-file position count.
    * The footers answer first, read in parallel: a file whose `_file`
    * min equals its max (and holds no null) covers that one data file
    * with its footer row count, and a file of zero rows holds no
    * position. Each merged-scan task reads one data file, so a narrow
    * delete write needs nothing more. Only the files that span several
    * data files, or lack `_file` stats, are read back, in one job and no
    * shuffle: every task folds its rows' (delete file, data file)
    * counts, and the driver merges them. Files holding no position get
    * no entry. */
  private def deleteCoverage(delDir: Path, delDirRel: String,
      written: Seq[Path]): Seq[DeleteFile] = {
    val footers = FileStats.fromFooters(written, identity[Path], deleteFileSchema,
      spark.sessionState.newHadoopConf())
    val (decided, spanning) = written.partition { p =>
      val st = footers(p)
      st("rows") == "0" || (st.get("nulls._file").contains("0") &&
        st.get("min._file").exists(st.get("max._file").contains))
    }
    val single = decided.filter(footers(_)("rows") != "0").map { p =>
      val st = footers(p)
      DeleteFile(relPath(delDir, delDirRel, p), Map(st("min._file") -> st("rows").toLong))
    }
    (single ++ readBackCoverage(delDir, delDirRel, spanning)).sortBy(_.path)
  }

  /** [[deleteCoverage]] for the delete files the footers cannot decide. */
  private def readBackCoverage(delDir: Path, delDirRel: String,
      written: Seq[Path]): Seq[DeleteFile] =
    if (written.isEmpty) Seq.empty
    else {
      val relOf = written.map(p => p.getFileName.toString -> relPath(delDir, delDirRel, p)).toMap
      val perTask = spark.read.schema(deleteFileSchema).parquet(written.map(_.toString): _*)
        .select(col("_metadata.file_path"), col("_file")).rdd
        .mapPartitions { rows =>
          val n = scala.collection.mutable.HashMap.empty[(String, String), Long]
          rows.foreach { r =>
            val k = (r.getString(0), r.getString(1)); n(k) = n.getOrElse(k, 0L) + 1
          }
          Iterator.single(n.toMap)
        }.collect()
      perTask.flatten.groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .groupBy { case ((dpath, _), _) => dpath }.toSeq.map { case (dpath, cs) =>
          DeleteFile(relOf(dpath.substring(dpath.lastIndexOf('/') + 1)),
            cs.map { case ((_, file), n) => file -> n }.toMap)
        }
    }

  /** MERGE-ON-READ UPDATE: matched rows die as POSITIONS and their updated
    * copies append as new data files — ONE snapshot carrying both a delete
    * shard and a delta manifest (Iceberg v2 MoR update semantics:
    * update = position delete + re-insert). Write amplification is
    * O(matched rows), not O(files containing a match): a single-row column
    * fix on a 100-TB table commits one tiny delete file and one tiny data
    * file where the CoW [[update]] rewrites every candidate file.
    *
    * Semantics match [[update]]: `SET col = expr` for rows where `cond` is
    * TRUE (FALSE/NULL rows untouched); assignments cast to the declared
    * column type; unknown columns rejected before any data moves.
    * `record_count` is unchanged by construction (every killed position
    * re-inserts exactly once) and stays metadata-exact; summary min/max
    * drop when rows moved (an updated value may exceed the old bounds and
    * the dead originals may have held them) — compact() restores both the
    * bounds and the clustering. Bucketed tables re-derive `__bucket` for
    * the re-inserted copies, so the bucket invariant (and storage-
    * partitioned joins over it) survives the MoR path. The candidate scan
    * applies EXISTING deletes first, so chained MoR operations never
    * resurrect or double-kill. SQL UPDATE over a table with live deletes
    * routes through the delta writer ([[graft.catalog.spark.SnapDeltaOperation]])
    * and commits the same position-delta shape. */
  def updateMoR(db: String, table: String, cond: Column,
      set: Map[String, Column]): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    val prevSummary = prevEntry.summary
    val prevRecordCount = prevSummary.get("record_count").map(_.toLong).getOrElse(-1L)
    val newId = st.nextId
    val tag = attemptTag()
    val tm = meta(db, table)
    val schema = prevEntry.schema
    require(tm.hiddenCols.forall(h => !set.contains(h)),
      "__bucket/__pt are derived layout columns — assign the source column instead")
    val unknown = set.keys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE of unknown columns: ${unknown.mkString(",")}")
    // TWO-LEVEL candidate resolution (shards the predicate provably
    // excludes are never parsed) + pointer-level commit, like
    // [[deleteMoRFrom]]: a selective MoR update touches the matching
    // shards' metadata, never the inventory
    val res = resolveWhere(st, prevEntry.snapshotId, cond)
    val cands = res.kept
    val prevDeletes = res.snap.deleteFiles
    // ROW LINEAGE: scan WITH each matched row's stable id so the updated
    // copy can carry it — Iceberg-v3 semantics, an update preserves
    // identity (the post-image is the same row, changed)
    val lineage = rowLineageEnabled(db, table)
    val matched =
      (if (lineage) readVisibleWithPosAndRid(db, table, res.snap, cands)
       else readVisibleWithPos(db, table, res.snap, cands))
        .where(coalesce(cond, lit(false)))
    // pass 1: the matched rows' positions become a delete shard
    val fileEntries = writePositionDeletes(db, table, newId, matched, tag)
    val deleted = fileEntries.map(_.rows).sum
    if (fileEntries.isEmpty) {
      // nothing matched: pointer-only commit, mirror of a no-match delete
      return repoint(st, prevEntry, "update",
        prevSummary ++ Map(
          "record_count" -> prevRecordCount.toString,
          "added_records" -> "0", "added_files" -> "0",
          "deleted_records" -> "0",
          "total_files" -> entryFileCount(st, prevEntry).toString),
        prevEntry.schemaDdl).snap
    }
    // pass 2: the updated copies append as new data files (partition
    // layout honored; declared sort order intentionally skipped — like the
    // SQL rewrites, compact() is the re-cluster action)
    val snapDirRel = s"data/s$newId$tag"
    val snapDir = tablePath(db, table).resolve("data").resolve(s"s$newId$tag")
    val updated0 = matched.select((schema.fields.map { f =>
      set.get(f.name) match {
        case Some(v) => v.cast(f.dataType).as(f.name)
        case None    => col(s"`${f.name}`")
      }
    } ++ (if (lineage) Seq(col("`__rid`")) else Nil)).toIndexedSeq: _*)
    // BUCKETED table: re-derive __bucket for the updated copies — the
    // update may have MOVED a row's bucket source value, and a stale
    // layout value would silently mis-bucket the re-insert (breaking
    // bucket pruning and storage-partitioned joins for that row)
    val updated = deriveLayout(db, table,
      updated0.drop(tm.hiddenCols.toSeq: _*))
    val writer = updated.write.mode("overwrite")
    (if (tm.partitionCols.nonEmpty) writer.partitionBy(tm.partitionCols: _*) else writer)
      .parquet(writeUri(snapDir))
    val conf = spark.sessionState.newHadoopConf()
    val root = tablePath(db, table)
    val newFiles = listParquetFiles(snapDir).map(relPath(snapDir, snapDirRel, _))
    // lineage: every post-image row carries its original id in the
    // physical __rid column — mark the files so the commit funnel never
    // re-mints (the same contract as compact's rewrite outputs)
    val ridMark: Map[String, String] =
      if (lineage) Map("rid_materialized" -> "true") else Map.empty
    val newFileStats = withBloomStats(db, table,
      FileStats.fromFooters(newFiles, (f: String) => root.resolve(f), schema, conf)
        .map { case (f, st) => f -> (st ++ ridMark) }, schema)
    val added = newFiles.map(f => newFileStats(f).get("rows").map(_.toLong))
    // every killed position re-inserts exactly once — assert the invariant
    // from the two writes' own footers rather than assuming it
    require(added.forall(_.isDefined) && added.flatten.sum == deleted,
      s"updateMoR invariant violated on $db.$table: $deleted positions " +
        s"deleted but ${added.flatten.sum} rows re-inserted")
    val snap = Snapshot(newId, clock().toString, "update",
      prevSummary.view.filterKeys(k =>
        !k.startsWith("min.") && !k.startsWith("max.")).toMap ++ Map(
        "record_count" -> prevRecordCount.toString,
        "added_records" -> deleted.toString,
        "added_files" -> newFiles.size.toString,
        "deleted_records" -> deleted.toString,
        "total_files" -> (entryFileCount(st, prevEntry) + newFiles.size).toString,
        "delete_files" -> (prevDeletes.size + fileEntries.size).toString),
      prevEntry.schemaDdl,
      new DeferredSeq(() => materialize(st, prevEntry).files ++ newFiles),
      new DeferredMap(() => materialize(st, prevEntry).fileStats ++ newFileStats),
      prevDeletes ++ fileEntries)
    commitSnapshot(st, snap, prevEntry.manifests,
      Manifest(newFiles, newFileStats), prevEntry.deletes :+ deleteShardName(newId, tag)).snap
  }

  /** Copy-on-write UPDATE: `SET col = expr` for rows matching `cond`,
    * identity for the rest. Assignments cast to the column's declared type
    * (SQL UPDATE semantics); unknown columns are rejected before any data
    * moves. Prune-aware like [[delete]]: files that provably contain no
    * matching row carry over without a rewrite. */
  def update(db: String, table: String, cond: Column,
      set: Map[String, Column]): Snapshot = withTableLock(db, table) { st =>
    // TWO-LEVEL like [[delete]]: excluded shards carry by name unparsed
    val e = st.published
    val schema = e.schema
    val unknown = set.keys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE of unknown columns: ${unknown.mkString(",")}")
    val res = resolveWhere(st, e.snapshotId, cond)
    val cands = res.kept
    val untouched = res.snap.files.filterNot(cands.toSet)
    val skipped = e.manifests.filterNot(res.openedNames.toSet)
    val snap = res.snap
    val c = coalesce(cond, lit(false))
    val lineage = rowLineageEnabled(db, table)
    val base =
      if (lineage) readVisibleWithRidSeq(db, table, snap, cands)
      else readVisible(db, table, snap, cands)
    // lineage: every rewritten row KEEPS its id (matched rows are the
    // same rows, changed; unmatched rows were merely rehomed); matched
    // rows NULL their materialized last-updated so the read side falls
    // to the file default — this commit — while unmatched keep theirs
    val updated = base.select((schema.fields.map { f =>
      set.get(f.name) match {
        case Some(v) => when(c, v.cast(f.dataType)).otherwise(col(s"`${f.name}`")).as(f.name)
        case None    => col(s"`${f.name}`")
      }
    } ++ (if (lineage) Seq(col("`__rid`"),
      when(c, lit(null).cast("long")).otherwise(col("`__rseq`")).as("__rseq"))
    else Nil)).toIndexedSeq: _*)
    commit(st, updated, "update",
      carryFiles = untouched, carryStats = snap.fileStats,
      carryShards = skipped).snap
  }

  /** MERGE-ON-READ MERGE/upsert: source rows REPLACE target rows sharing
    * their key and new-key rows insert — same semantics as [[upsert]],
    * committed as ONE snapshot of (position-delete shard for the matched
    * target rows) + (delta manifest holding exactly the source rows).
    * Cost is O(matched + source): the copy-on-write [[upsert]] rewrites
    * the WHOLE table (its anti-join output is a full-state commit), which
    * at 100 TB makes a 100-row CDC upsert cost the lake — this is the
    * steady-state keyed-ingest path.
    *
    * The matched-position scan is scoped two ways for a single-column
    * key: footer-stat pruning on the key range (files whose [min,max]
    * cannot contain any key are never read), then the key match. While
    * the distinct keys number at most [[SnapshotCatalog.InlineKeyBound]]
    * they are learned on the driver (no job for a local source, one
    * otherwise) and match as an inline `IN` on the scan: the
    * position-delete write is then one job with no `Exchange`. The same
    * pass gives the range; larger key sets take it from there and
    * semi-join the distinct keys; multi-column keys semi-join every
    * file. Existing deletes apply first, so chained
    * MoR operations never double-kill. Source must carry exactly the
    * table's columns (same gate as [[upsert]]); bucketed tables derive
    * `__bucket` for the delta so the layout invariant survives. */
  def upsertMoR(db: String, table: String, source: DataFrame,
      keys: Seq[String],
      extraSummary: Map[String, String] = Map.empty,
      explicitRids: Boolean = false,
      nullSafeKeys: Boolean = false,
      alsoDeleteKeys: Option[DataFrame] = None): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    val prevSummary = prevEntry.summary
    val newId = st.nextId
    val tag = attemptTag()
    val tm = meta(db, table)
    val schema = prevEntry.schema
    // EXPLICIT row identity (`explicitRids`): the source carries each
    // row's id in a `__rid` column — the CDC apply sink replicating a
    // lineage source table's identity onto a replica. The delta writes
    // __rid physically (files marked rid_materialized, the rewrite
    // contract), and the commit advances the replica's id high-water
    // past the largest replicated id so a later NORMAL append can never
    // collide.
    if (explicitRids) {
      require(rowLineageEnabled(db, table),
        s"explicit-rid upsert requires row.lineage=true on $db.$table")
      require(source.columns.contains("__rid"),
        "explicit-rid upsert source must carry a __rid column")
    }
    val srcVisible = if (explicitRids) source.drop("__rid") else source
    // bucketed tables: the caller-facing column set excludes the derived
    // __bucket layout column — the delta re-derives it below, so the
    // bucket invariant survives the MoR path like it does appendBucketed
    val cols = schema.fieldNames.toSeq.filterNot(tm.hiddenCols)
    require(srcVisible.schema.fieldNames.sorted.sameElements(cols.sorted),
      s"upsert source columns ${srcVisible.schema.fieldNames.mkString(",")} " +
        s"!= table columns ${cols.mkString(",")}")
    val retyped = schema.fields.filter(f => cols.contains(f.name)).filterNot(f =>
      source.schema(f.name).dataType.sql == f.dataType.sql)
    require(retyped.isEmpty,
      s"upsert type mismatch for $db.$table: " + retyped.map(f =>
        s"${f.name}: table=${f.dataType.sql} source=${source.schema(f.name).dataType.sql}")
        .mkString(", "))
    val badKeys = keys.filterNot(cols.contains)
    require(badKeys.isEmpty, s"upsert keys not in table: ${badKeys.mkString(",")}")
    // `alsoDeleteKeys` (r15): extra key tuples whose rows DIE in this same
    // commit without replacement — they ride the position-delete pass the
    // upsert already pays (same candidate scan, same delete shard), so a
    // delete+upsert pair costs ONE commit instead of two. The MV refresh
    // merge (group death + group upsert, backing and sidecars) is the
    // caller; a separate equality-delete commit would double the commit
    // count and leave readers the costlier eq-delete merge.
    alsoDeleteKeys.foreach { dk =>
      require(dk.schema.fieldNames.sorted.sameElements(keys.sorted),
        s"alsoDeleteKeys columns ${dk.schema.fieldNames.mkString(",")} " +
          s"!= upsert keys ${keys.mkString(",")}")
      val rety = keys.filterNot(k =>
        dk.schema(k).dataType.sql == schema(k).dataType.sql)
      require(rety.isEmpty, "alsoDeleteKeys type mismatch: " + rety.mkString(","))
    }
    // NULL-SAFE key matching (opt-in): SQL MERGE semantics say a null
    // key never matches — the default here — but the MV refresh
    // machinery upserts GROUP rows, and a null group key is a real
    // group that must REPLACE its stored row, not duplicate it.
    val lineage = rowLineageEnabled(db, table)
    require(!(nullSafeKeys && lineage),
      s"null-safe upsert keys are not supported with row lineage on $db.$table")
    // the key frames driving the position-delete pass: the source's keys
    // plus any caller-supplied delete-only keys — both families' rows die
    // in the same shard, so the scoping below must cover both ranges
    val keyFrames = (srcVisible +: alsoDeleteKeys.toSeq).map(_.select(keys.map(k => col(s"`$k`")): _*))
    val allKeys = keyFrames.reduce(_.unionByName(_))
    // one pass over a single-column key set (no job for a local source,
    // else one) learns its range and null flag, and its distinct values
    // while they number at most InlineKeyBound: those match as an inline
    // IN, larger sets and multi-column keys semi-join
    val probe = keys match {
      case Seq(k) if SnapshotCatalog.inlineMatchable(schema(k).dataType) =>
        Some(SnapshotCatalog.timed(s"upsert.keys $db.$table") {
          SnapshotCatalog.probeKeys(keyFrames, schema(k).dataType)
        })
      case _ => None
    }
    // candidate scope: for a single key, the key set's [min,max] bounds
    // which target files can possibly match — and the resolution is
    // TWO-LEVEL: shards the range provably excludes are never parsed.
    // Multi-column keys (and null-safe key sets carrying a null) must
    // match every file anyway, so the full materialization is
    // proportionate to the scan they already pay.
    val (scanSnap, cands) = probe match {
      // footer [min,max] ranges say nothing about null-keyed rows: a
      // null-safe source carrying null keys scans every file (the rare
      // null-group-churn refresh; range pruning resumes when it's absent)
      case Some(p) if !(nullSafeKeys && p.hasNull) => p.range match {
        case None => // empty/all-null source matches nothing
          (materializePartial(st, prevEntry, Seq.empty), Seq.empty[String])
        case Some((mn, mx)) =>
          val k = keys.head
          val res = resolveWhere(st, prevEntry.snapshotId,
            col(s"`$k`") >= lit(mn) && col(s"`$k`") <= lit(mx))
          (res.snap, res.kept)
      }
      case _ => val p = materialize(st, prevEntry); (p, p.files)
    }
    val prevDeletes = scanSnap.deleteFiles // delete shards always load in full
    // pass 1: positions of target rows whose key appears in the source
    // (replaced) or in alsoDeleteKeys (die without replacement)
    val scanned =
      if (lineage) readVisibleWithPosAndRid(db, table, scanSnap, cands)
      else readVisibleWithPos(db, table, scanSnap, cands)
    val matched = probe.flatMap(_.values) match {
      case Some(vs) =>
        // a filter on the scan: the position-delete write has no Exchange
        val k = keys.head
        val inList = vs.filter(_ != null).map(v => lit(v).cast(schema(k).dataType))
        val in = if (inList.isEmpty) lit(false) else col(s"`$k`").isin(inList: _*)
        scanned.where(if (nullSafeKeys && vs.contains(null)) in || col(s"`$k`").isNull else in)
      case None =>
        val srcKeys = allKeys.dropDuplicates()
        if (!nullSafeKeys) scanned.join(srcKeys, keys, "left_semi")
        else {
          val sk = srcKeys.select(keys.map(k => col(s"`$k`").as(s"__uk_$k")): _*)
          scanned.join(sk,
            keys.map(k => scanned(s"`$k`") <=> sk(s"`__uk_$k`")).reduce(_ && _),
            "left_semi")
        }
    }
    val fileEntries = SnapshotCatalog.timed(s"upsert.posdel $db.$table#$newId") {
      writePositionDeletes(db, table, newId, matched, tag)
    }
    val deleted = fileEntries.map(_.rows).sum
    // pass 2: ALL source rows append as the delta (replacements + inserts);
    // bucketed tables derive the layout column so the delta lands in
    // __bucket=b/ dirs like every appendBucketed commit
    val snapDirRel = s"data/s$newId$tag"
    val snapDir = tablePath(db, table).resolve("data").resolve(s"s$newId$tag")
    val delta0 = {
      val src = srcVisible.select(cols.map(c => col(s"`$c`")): _*)
      if (explicitRids)
        // replicated identity: the caller's __rid wins verbatim — no
        // inherit join, no fresh minting (files marked below)
        source.select((cols.map(c => col(s"`$c`")) :+ col("`__rid`")): _*)
      else if (!lineage) src
      else {
        // ROW LINEAGE (Iceberg-v3 upsert split): a source row whose key
        // MATCHED inherits the dying row's identity — it is an update,
        // not a new row — while NEW-key rows leave __rid null and the
        // commit funnel's first_row_id claim mints their fresh ids via
        // coalesce(__rid, first_row_id + pos) on the read side. Keys
        // with several dying rows inherit the smallest id
        // (deterministic); keys DUPLICATED in the source take fresh ids
        // for every copy — inheriting one id N times would mint
        // duplicate identities. The extra aggregate re-walks only the
        // pruned candidate scan, already key-range-bounded above.
        val dying = matched.groupBy(keys.map(k => col(s"`$k`")): _*)
          .agg(min(col("`__rid`")).as("__rid"))
        val uniqueSrcKeys = src.groupBy(keys.map(k => col(s"`$k`")): _*)
          .agg(count(lit(1)).as("__cnt")).where(col("__cnt") === 1).drop("__cnt")
        src.join(dying.join(uniqueSrcKeys, keys, "left_semi"), keys, "left")
      }
    }
    val delta = deriveLayout(db, table, delta0)
    SnapshotCatalog.timed(s"upsert.delta $db.$table#$newId") {
      val writer = delta.write.mode("overwrite")
      (if (tm.partitionCols.nonEmpty) writer.partitionBy(tm.partitionCols: _*) else writer)
        .parquet(writeUri(snapDir))
    }
    val conf = spark.sessionState.newHadoopConf()
    val root = tablePath(db, table)
    val newFiles = listParquetFiles(snapDir).map(relPath(snapDir, snapDirRel, _))
    val ridMark: Map[String, String] =
      if (explicitRids) Map("rid_materialized" -> "true") else Map.empty
    val newFileStats = SnapshotCatalog.timed(s"upsert.footers $db.$table#$newId") {
      withBloomStats(db, table,
        FileStats.fromFooters(newFiles, (f: String) => root.resolve(f), schema, conf)
          .map { case (f, st) => f -> (st ++ ridMark) }, schema)
    }
    val addedRows = newFiles.map(f => newFileStats(f).get("rows").map(_.toLong))
    val added = if (addedRows.forall(_.isDefined)) addedRows.flatten.sum else -1L
    val prevRows = prevSummary.get("record_count").map(_.toLong).getOrElse(-1L)
    val total = if (prevRows >= 0 && added >= 0) prevRows - deleted + added else -1L
    val shards =
      if (fileEntries.isEmpty) prevEntry.deletes
      else prevEntry.deletes :+ deleteShardName(newId, tag)
    // explicit ids: advance the replica's id high-water past the largest
    // replicated id (one Spark job over the source, the CDC batch)
    val floorSummary: Map[String, String] =
      if (!explicitRids) Map.empty
      else OnePass.aggregate(source, Seq(max(col("`__rid`")))) match {
        case r if r.isNullAt(0) => Map.empty
        case r => Map("lineage.id-floor" -> (r.getLong(0) + 1L).toString)
      }
    val foldedSummary = foldDeltaBounds(prevSummary, schema, newFiles, newFileStats, deleted)
    val snap = Snapshot(newId, clock().toString, "merge",
      foldedSummary ++ Map(
        "record_count" -> total.toString,
        "added_records" -> added.toString,
        "added_files" -> newFiles.size.toString,
        "deleted_records" -> deleted.toString,
        "total_files" -> (entryFileCount(st, prevEntry) + newFiles.size).toString,
        "delete_files" -> (prevDeletes.size + fileEntries.size).toString) ++
        floorSummary ++ extraSummary,
      prevEntry.schemaDdl,
      new DeferredSeq(() => materialize(st, prevEntry).files ++ newFiles),
      new DeferredMap(() => materialize(st, prevEntry).fileStats ++ newFileStats),
      prevDeletes ++ fileEntries)
    SnapshotCatalog.timed(s"upsert.log $db.$table#$newId") {
      commitSnapshot(st, snap, prevEntry.manifests,
        Manifest(newFiles, newFileStats), shards).snap
    }
  }

  /** Snapshot-summary bounds after a MoR delta commit: dead rows may have
    * HELD an extremum (drop all bounds when `deleted` > 0 — absent is
    * honest, wrong is not; compact() recomputes exactly); a pure-insert
    * delta folds the new files' footer bounds with the previous summary (a
    * bound survives only when both sides have one). */
  private def foldDeltaBounds(prevSummary: Map[String, String], schema: StructType,
      newFiles: Seq[String], newFileStats: Map[String, Map[String, String]],
      deleted: Long): Map[String, String] = {
    val nonBounds = prevSummary.view.filterKeys(k =>
      !k.startsWith("min.") && !k.startsWith("max.")).toMap
    if (deleted > 0) nonBounds
    else {
      val newBounds = ColumnStats.mergeWithFileBounds(
        Map.empty, newFiles, newFileStats, schema)
      nonBounds ++ schema.fields.filter(f => ColumnStats.statable(f.dataType))
        .flatMap { f =>
          Seq((s"min.${f.name}", true), (s"max.${f.name}", false)).flatMap {
            case (k, isMin) =>
              (prevSummary.get(k), newBounds.get(k)) match {
                case (Some(p), Some(n)) =>
                  val takeP = if (isMin) !ColumnStats.gt(f.dataType, p, n)
                  else ColumnStats.gt(f.dataType, p, n)
                  Some(k -> (if (takeP) p else n))
                case _ => None
              }
          }
        }
    }
  }

  /** Commit the output of the SQL SupportsDelta rewrite (UPDATE / MERGE /
    * non-translatable DELETE routed merge-on-read): `deleteDirName` holds
    * task-written position-delete parquet (`_file`, `_pos`), `dataDirName`
    * task-written inserted/updated rows. `dataFiles`/`deleteFiles` are the
    * bare names listed in WINNING task attempts' commit messages — the
    * only files adopted; anything else in either dir is a zombie attempt's
    * leftovers and is swept before adoption (tasks write directly, no
    * rename-based commit protocol — the object-store posture). ONE
    * snapshot carries the delete shard and the delta manifest, mirroring
    * [[updateMoR]]/[[upsertMoR]]: cost is O(matched + inserted), no data
    * file rewritten.
    *
    * Exactness: per-(delete file, data file) position counts from the
    * just-written delete set ([[deleteCoverage]]: footers, and a read-back
    * of the files that span several data files); inserted rows from the
    * fresh footers; both
    * keep `record_count` metadata-exact. `expectSnapshotId` guards against
    * a concurrent commit landing between the rewrite's scan and this
    * adoption (the positions were computed against that snapshot — a moved
    * table fails the statement rather than mis-targeting deletes).
    * Bucketed tables re-lay the flat insert delta into `__bucket=b/` dirs
    * before adoption, so the bucket invariant survives SQL MoR DML. */
  def adoptDelta(db: String, table: String, operation: String,
      dataDirName: String, dataFiles: Seq[String],
      deleteDirName: String, deleteFiles: Seq[String],
      expectSnapshotId: Long): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    val prevSummary = prevEntry.summary
    require(prevEntry.snapshotId == expectSnapshotId,
      s"concurrent commit on $db.$table: the delta rewrite read snapshot " +
        s"$expectSnapshotId but the table is now at ${prevEntry.snapshotId}; " +
        "retry the statement")
    val newId = st.nextId
    val tag = attemptTag()
    val root = tablePath(db, table)
    val schema = prevEntry.schema
    val conf = spark.sessionState.newHadoopConf()
    val tm = meta(db, table)

    // sweep zombie-attempt strays FIRST: only message-listed files exist
    // when the bucketed re-layout (which reads the whole dir) runs
    def sweep(dir: Path, keep: Set[String]): Unit =
      listParquetFiles(dir).filterNot(p => keep(p.getFileName.toString))
        .foreach(Files.delete(_))
    val dataDir0 = root.resolve("data").resolve(dataDirName)
    val delDir = root.resolve("deletes").resolve(deleteDirName)
    sweep(dataDir0, dataFiles.toSet)
    sweep(delDir, deleteFiles.toSet)

    // inserts: partitioned/bucketed tables re-lay the flat delta into
    // their hive layout so pruning and SPJ hold over the new snapshot
    val laidDataDir =
      if (tm.partitionCols.nonEmpty && dataFiles.nonEmpty)
        relayoutLaid(db, table, dataDirName)
      else dataDirName
    val dataDir = root.resolve("data").resolve(laidDataDir)
    val newFiles = listParquetFiles(dataDir).map(relPath(dataDir, s"data/$laidDataDir", _))
      .sorted
    if (newFiles.isEmpty) deleteRecursively(dataDir)
    val newFileStats = withBloomStats(db, table,
      FileStats.fromFooters(newFiles, (f: String) => root.resolve(f),
        schema, conf), schema)
    val addedPerFile = newFiles.map(f => newFileStats(f).get("rows").map(_.toLong))
    val added = if (addedPerFile.forall(_.isDefined)) addedPerFile.flatten.sum else -1L

    // position deletes: exact per-(delete file, data file) counts from
    // the just-written set — the same bookkeeping as writePositionDeletes
    val written = listParquetFiles(delDir)
    val fileEntries =
      if (written.isEmpty) { deleteRecursively(delDir); Seq.empty[DeleteFile] }
      else {
        val es = deleteCoverage(delDir, s"deletes/$deleteDirName", written)
        if (es.isEmpty) deleteRecursively(delDir)
        else writeDeleteShard(db, table, deleteShardName(newId, tag), es)
        es
      }
    val deleted = fileEntries.map(_.rows).sum
    // every recorded position must target a file of the scanned snapshot —
    // anything else means the rewrite scan and this commit disagree. The
    // membership probe is TWO-LEVEL: only shards whose recorded dir set
    // intersects the covered files' snapshot dirs are parsed
    val foreign = unknownFiles(st, prevEntry,
      fileEntries.flatMap(_.covers.keys).distinct)
    require(foreign.isEmpty,
      s"delta commit on $db.$table records deletes against unknown files: " +
        foreign.take(3).mkString(","))
    val prevDeletes = entryDeleteFiles(db, table, prevEntry)

    if (newFiles.isEmpty && fileEntries.isEmpty) {
      // nothing matched and nothing inserted: pointer-only commit
      deleteRecursively(dataDir)
      return repoint(st, prevEntry, operation,
        prevSummary ++ Map(
          "record_count" -> prevSummary.getOrElse("record_count", "-1"),
          "added_records" -> "0", "added_files" -> "0",
          "deleted_records" -> "0",
          "total_files" -> entryFileCount(st, prevEntry).toString),
        prevEntry.schemaDdl).snap
    }
    val prevRows = prevSummary.get("record_count").map(_.toLong).getOrElse(-1L)
    val total = if (prevRows >= 0 && added >= 0) prevRows - deleted + added else -1L
    val foldedSummary = foldDeltaBounds(prevSummary, schema, newFiles, newFileStats, deleted)
    val shards =
      if (fileEntries.isEmpty) prevEntry.deletes
      else prevEntry.deletes :+ deleteShardName(newId, tag)
    val snap = Snapshot(newId, clock().toString, operation,
      foldedSummary ++ Map(
        "record_count" -> total.toString,
        "added_records" -> added.toString,
        "added_files" -> newFiles.size.toString,
        "deleted_records" -> deleted.toString,
        "total_files" -> (entryFileCount(st, prevEntry) + newFiles.size).toString,
        "delete_files" -> (prevDeletes.size + fileEntries.size).toString),
      prevEntry.schemaDdl,
      new DeferredSeq(() => materialize(st, prevEntry).files ++ newFiles),
      new DeferredMap(() => materialize(st, prevEntry).fileStats ++ newFileStats),
      prevDeletes ++ fileEntries)
    commitSnapshot(st, snap, prevEntry.manifests,
      Manifest(newFiles, newFileStats), shards).snap
  }

  /** Copy-on-write MERGE (upsert): source rows REPLACE target rows sharing
    * their key, and source rows with new keys are inserted — the
    * `MERGE INTO t USING s ON keys WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` shape. One anti-join (shuffle on the key) plus
    * a union; the join is the irreducible cost of keyed reconciliation at
    * any scale. Source must carry exactly the table's columns. */
  def upsert(db: String, table: String, source: DataFrame,
      keys: Seq[String]): Snapshot = withTableLock(db, table) { st =>
    val lineage = rowLineageEnabled(db, table)
    val snap = materialize(st, st.published)
    val cur =
      if (lineage) readVisibleWithRidSeq(db, table, snap, snap.files)
      else readVisible(db, table, snap, snap.files)
    val cols = cur.schema.fieldNames.toSeq.filterNot(Set("__rid", "__rseq"))
    require(source.schema.fieldNames.sorted.sameElements(cols.sorted),
      s"upsert source columns ${source.schema.fieldNames.mkString(",")} " +
        s"!= table columns ${cols.mkString(",")}")
    // types too: the merge commit adopts the frame's schema, so a mistyped
    // source would silently retype the table via union widening
    val retyped = cur.schema.fields.filter(f => cols.contains(f.name)).filterNot(f =>
      source.schema(f.name).dataType.sql == f.dataType.sql)
    require(retyped.isEmpty,
      s"upsert type mismatch for $db.$table: " + retyped.map(f =>
        s"${f.name}: table=${f.dataType.sql} source=${source.schema(f.name).dataType.sql}")
        .mkString(", "))
    val badKeys = keys.filterNot(cols.contains)
    require(badKeys.isEmpty, s"upsert keys not in table: ${badKeys.mkString(",")}")
    val srcKeys = source.select(keys.map(k => col(s"`$k`")): _*).dropDuplicates()
    val kept = cur.join(srcKeys, keys, "left_anti")
    val src0 = source.select(cols.map(c => col(s"`$c`")): _*)
    val incoming =
      if (!lineage) src0
      else {
        // the MoR-upsert identity split, full-state flavor: matched keys
        // inherit the smallest dying id (unique source keys only — dup
        // copies must each mint fresh), new keys leave __rid null; the
        // MIXED commit (ridMixed) then lets the funnel claim a range so
        // coalesce(physical, frid + pos) serves retained ids AND mints
        // the fresh ones. Source rows null __rseq — last touched NOW.
        val dying = cur.join(srcKeys, keys, "left_semi")
          .groupBy(keys.map(k => col(s"`$k`")): _*)
          .agg(min(col("`__rid`")).as("__rid"))
        val uniqueSrcKeys = src0.groupBy(keys.map(k => col(s"`$k`")): _*)
          .agg(count(lit(1)).as("__cnt")).where(col("__cnt") === 1).drop("__cnt")
        src0.join(dying.join(uniqueSrcKeys, keys, "left_semi"), keys, "left")
          .withColumn("__rseq", lit(null).cast("long"))
      }
    commit(st, kept.unionByName(incoming), "merge", ridMixed = lineage).snap
  }

  /** Adopt a snapshot directory populated by an EXTERNAL V2 writer (the
    * SQL row-level rewrite path: UPDATE / MERGE INTO / non-translatable
    * DELETE run Spark's group-based copy-on-write plan, whose ReplaceData
    * exec writes the post-operation state into `data/<dir>` via the stock
    * parquet batch writer) as a rewrite commit. Row count and numeric
    * min/max come from the freshly written footers — exact, no extra scan;
    * string bounds are dropped (writer truncation makes them outer bounds
    * only), mirroring partial-rewrite commits.
    *
    * `carryFiles` makes the adoption PARTIAL: files of the snapshot the
    * rewrite scan read that were provably untouched by the operation (see
    * [[pruneFiles]]) carry over verbatim with their stats — the 100-TB
    * posture for SQL row-level ops, matching the library delete/update.
    * `expectSnapshotId` guards against a concurrent commit landing between
    * the rewrite's scan and this adoption: the carried file list was
    * computed against that snapshot, so a moved table fails the statement
    * instead of silently resurrecting or dropping rows. */
  def adoptRewrite(db: String, table: String, operation: String,
      dataDirName: String,
      carryFiles: Seq[String] = Seq.empty,
      carryStats: Map[String, Map[String, String]] = Map.empty,
      expectSnapshotId: Option[Long] = None,
      carryShards: Seq[String] = Seq.empty): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    expectSnapshotId.foreach(id => require(prevEntry.snapshotId == id,
      s"concurrent commit on $db.$table: the rewrite read snapshot $id but " +
        s"the table is now at ${prevEntry.snapshotId}; retry the statement"))
    // the SQL group-based rewrite scan reads data files RAW (stock V2
    // parquet batches) — over live position deletes it would resurrect
    // dead rows into the rewritten state. The plugin rejects row-level SQL
    // on such tables before planning; this guard keeps the invariant for
    // any other caller.
    require(prevEntry.deletes.isEmpty,
      s"adoptRewrite on $db.$table with live merge-on-read delete files " +
        "would resurrect deleted rows: compact() the table first")
    // two-level membership probe: only shards whose recorded dir set
    // intersects the carried files' snapshot dirs are parsed
    val missingCarry = unknownFiles(st, prevEntry, carryFiles)
    require(missingCarry.isEmpty,
      s"carry files not in current snapshot of $db.$table: " +
        missingCarry.take(3).mkString(","))
    // carry shards must be shards of the snapshot the rewrite scanned —
    // a name drift would silently resurrect or drop whole shards
    val prevShardSet = prevEntry.manifests.toSet
    val foreignShards = carryShards.filterNot(prevShardSet)
    require(foreignShards.isEmpty,
      s"carry shards not in current snapshot of $db.$table: " +
        foreignShards.take(3).mkString(","))
    adoptDir(st, operation, dataDirName, carryFiles, carryStats,
      Map.empty, prevEntry, carryShards)
  }

  /** Commit a data directory populated by the NATIVE streaming write
    * (`df.writeStream.toTable("snapcat.db.t")`, see the plugin's
    * `SnapStreamingWrite`) with exactly-once semantics: the sink's epoch
    * HIGH-WATER MARK rides the snapshot summary (`stream-epoch.<sinkId>`,
    * shared with [[graft.streaming.EventStream.appendEpoch]]), and a
    * replayed epoch (restart redelivery) returns None and deletes its
    * already-written files instead of committing twice. Append mode
    * carries every current file; complete mode (`operation = "overwrite"`)
    * replaces table state each epoch, as streaming aggregations require. */
  def adoptStreaming(db: String, table: String, operation: String,
      dataDirName: String, writeSchema: StructType,
      sinkId: String, epochId: Long): Option[Snapshot] = withTableLock(db, table) { st =>
    require(operation == "append" || operation == "overwrite",
      s"streaming adoption must be append or overwrite, got $operation")
    val prevEntry = st.commitBase
    val key = s"stream-epoch.$sinkId"
    if (prevEntry.summary.get(key).exists(epochId <= _.toLong)) {
      // replayed batch (detected from the pointer log alone): drop the
      // duplicate files, don't double-commit
      deleteRecursively(tablePath(db, table).resolve("data").resolve(dataDirName))
      None
    } else {
      val prevSchema = prevEntry.schema
      val missing = prevSchema.fieldNames.filterNot(writeSchema.fieldNames.contains)
      val extra = writeSchema.fieldNames.filterNot(prevSchema.fieldNames.contains)
      require(missing.isEmpty && extra.isEmpty,
        s"streaming write schema mismatch for $db.$table: " +
          s"missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
      // append epochs carry every prior shard BY NAME (pointer-level when
      // summarized — each trigger commits O(epoch files), the inventory is
      // never parsed); complete mode replaces state, nothing carries
      val carryShards =
        if (operation == "append") prevEntry.manifests else Seq.empty[String]
      Some(adoptDir(st, operation, dataDirName, Seq.empty, Map.empty,
        Map(key -> epochId.toString), prevEntry, carryShards))
    }
  }

  /** Carry-shard admission (two-level partial rewrites), shared by
    * [[commit]] and [[adoptDir]]: `carryShards` names shards the caller
    * PROVED fully carried (no file in them was a rewrite candidate). They
    * stay pointer-level — reused by name, never parsed — when (a) every
    * one has a recorded summary with a summed row count (the bound/row/
    * count arithmetic runs off the fold) and (b) the table has no live
    * delete shards (exact dead-row accounting intersects file-level
    * covers). Otherwise they fold into the file-granular carry: identical
    * semantics, the pre-summary cost. Returns the carried files and
    * stats, the admitted shard names and their summaries. */
  private def admitCarryShards(st: TableState, prevEntry: SnapshotEntry,
      carryFiles: Seq[String], carryStats: Map[String, Map[String, String]],
      carryShards: Seq[String]): (Seq[String], Map[String, Map[String, String]],
        Seq[String], Map[String, ShardSummary]) = {
    val sums = st.summaries
    if (carryShards.isEmpty) (carryFiles, carryStats, Seq.empty, Map.empty)
    else if (prevEntry.deletes.isEmpty &&
        carryShards.forall(n => sums.get(n).exists(_.stats.contains("rows"))))
      (carryFiles, carryStats, carryShards, carryShards.map(n => n -> sums(n)).toMap)
    else {
      val ms = carryShards.map(n => loadManifest(st.db, st.table, n))
      (carryFiles ++ ms.flatMap(_.files),
        carryStats ++ ms.iterator.flatMap(_.fileStats).toMap, Seq.empty, Map.empty)
    }
  }

  /** Shared adoption core (lock already held): list the external writer's
    * files, fold footer stats with the carried files', commit one log
    * entry. `carryShards` names shards the caller proved fully carried —
    * admitted pointer-level (reused by name, never parsed) under the same
    * gate as [[commit]]: every one summarized with a row count and no live
    * delete shards; otherwise they fold into the file-granular carry. The
    * streaming append epoch rides this with carryShards = ALL prior
    * shards, making every epoch commit O(epoch files). */
  private def adoptDir(st: TableState, operation: String,
      dataDirName: String, carryFiles: Seq[String],
      carryStats: Map[String, Map[String, String]],
      extraSummary: Map[String, String], prevEntry: SnapshotEntry,
      carryShards: Seq[String] = Seq.empty): Snapshot = {
    val (db, table) = (st.db, st.table)
    val newId = st.nextId
    val snapDirRel = s"data/$dataDirName"
    val root = tablePath(db, table)
    val snapDir = root.resolve("data").resolve(dataDirName)
    val schema = prevEntry.schema
    val (cf, cs, cshards, cshardSums) =
      admitCarryShards(st, prevEntry, carryFiles, carryStats, carryShards)
    val newFiles = listParquetFiles(snapDir).map(relPath(snapDir, snapDirRel, _))
    val conf = spark.sessionState.newHadoopConf()
    val newFileStats = withBloomStats(db, table,
      FileStats.fromFooters(newFiles, (f: String) => root.resolve(f),
        schema, conf), schema)
    val newRows = newFiles.map(f => newFileStats(f)("rows").toLong).sum
    // a FULL carry (streaming append epochs) reuses every prior shard; a
    // partial carry (prune-aware SQL rewrite) reuses every untouched shard
    // and delta-lists only the rewrite plus its shard-mates
    val (reuse, delta, allFiles, allFileStats, totalFileCount) = planCarryManifests(
      db, table, prevEntry, cf, cs, newFiles, newFileStats, cshards,
      n => cshardSums(n).fileCount.toLong)
    // merge-on-read delete shards still covering a carried file ride along
    // (streaming appends carry the full file set; adoptRewrite requires no
    // live deletes; cshards nonEmpty implies no live deletes — the gate)
    val deleteShards = carryDeleteShards(db, table, prevEntry, cf)
    val carriedDeletes = deleteShards.flatMap(loadDeleteShard(db, table, _))
    val carriedDead = deadRows(carriedDeletes, cf)
    // carried rows come from per-file footer counts (summary sums for
    // never-opened carry shards) minus their recorded position-deleted
    // dead rows; a carried file without a footer count (or an equality
    // delete) makes the total honestly unknown (-1)
    val carriedRows = cf.map(f => cs.get(f).flatMap(_.get("rows")).map(_.toLong))
    val shardRows = cshards.map(n => cshardSums(n).stats.get("rows").map(_.toLong))
    val rows =
      if (carriedRows.forall(_.isDefined) && shardRows.forall(_.isDefined) &&
          carriedDead.isDefined)
        carriedRows.flatten.sum + shardRows.flatten.sum - carriedDead.get + newRows
      else -1L
    // never-opened carry shards contribute their summary fold as one
    // pseudo-entry each (a sound widening under the same key scheme)
    val folded = ColumnStats.mergeWithFileBounds(Map.empty,
      cf ++ cshards ++ newFiles,
      cs ++ cshards.iterator.map(n => n -> cshardSums(n).stats).toMap ++ newFileStats,
      schema)
    // footer bounds are OUTER bounds once carried files may have dead rows
    val stats =
      if (!carriedDead.contains(0L))
        folded.view.filterKeys(k => !k.startsWith("min.") && !k.startsWith("max.")).toMap
      else folded
    val snap = Snapshot(newId, clock().toString, operation,
      Map(
        "record_count" -> rows.toString,
        "added_records" -> newRows.toString,
        "added_files" -> newFiles.size.toString,
        "total_files" -> totalFileCount.toString) ++ stats
        ++ streamEpochTags(prevEntry.summary)
        ++ extraSummary,
      schema.toDDL, allFiles, allFileStats, carriedDeletes)
    commitSnapshot(st, snap, reuse, delta, deleteShards).snap
  }

  /** Roll the table back to an earlier snapshot's state (Iceberg
    * `rollback_to_snapshot`): a NEW log entry that re-points at the target
    * snapshot's files and schema — history is never rewritten, so the
    * rolled-back-from state remains time-travelable and a bad rollback is
    * itself rollback-able. Pure metadata; no data moves. */
  def rollback(db: String, table: String,
      toSnapshotId: Long): Snapshot = withTableLock(db, table) { st =>
    st.requireNoPendingStage()
    val targetEntry = st.entryAt(toSnapshotId)
    require(st.published.snapshotId != toSnapshotId,
      s"table $db.$table is already at snapshot $toSnapshotId")
    // a branch commit's summary marker would make the rollback entry itself
    // invisible to published readers — branch states publish via fastForward
    require(!isBranchEntry(targetEntry),
      s"snapshot $toSnapshotId is a branch commit " +
        s"(branch '${targetEntry.summary("branch.ref")}'): use fastForward to publish it")
    // pure pointer commit: re-point at the target's shards (data AND
    // position-delete), write no O(files) metadata at all — rollback of a
    // petabyte table IS a KB rename
    repoint(st, targetEntry, "rollback",
      targetEntry.summary
        // the rolled-back-FROM head carries the streaming high-water
        // marks; losing them to the older summary would reopen the
        // replay window
        ++ streamEpochTags(st.published.summary)
        + ("rolled_back_to" -> toSnapshotId.toString,
          "added_records" -> "0", "added_files" -> "0"),
      targetEntry.schemaDdl).snap
  }

  /** Backfill/refresh BLOOM sidecars for the current snapshot's files
    * without rewriting any data (the bloom face of Iceberg's
    * `rewrite_manifests`-class maintenance): adopted files and files
    * written before `write.bloom.columns` was set carry no blooms — this
    * runs ONE column-scan job over exactly those files, writes their
    * sidecars, and lands ONE stats-only commit (same file list, same
    * delete shards, augmented per-file stats; one full manifest shard,
    * O(files) metadata like any rewrite-manifests). Row-identical by
    * construction, so changelog/incremental/streaming all see it as a
    * no-op — no files added or removed.
    *
    * Returns None when nothing is missing a bloom (no commit). */
  def rebuildBlooms(db: String, table: String): Option[Snapshot] = withTableLock(db, table) { st =>
    val tm = meta(db, table)
    val cols = BloomStats.columnsOf(tm.properties)
      .filterNot(tm.partitionCols.contains)
    require(cols.nonEmpty,
      s"rebuildBlooms($db.$table): set ${BloomStats.PropCols} first")
    val prevEntry = st.commitBase
    val prev = materialize(st, prevEntry)
    val missing = prev.files.filter(f =>
      cols.exists(c => !prev.fileStats.getOrElse(f, Map.empty).contains(s"bloom.$c")))
    if (missing.isEmpty) return None
    val rowsOf = missing.flatMap(f =>
      prev.fileStats.getOrElse(f, Map.empty).get("rows").map(f -> _.toLong)).toMap
    val fpp = tm.properties.get(BloomStats.PropFpp).map(_.toDouble)
      .getOrElse(BloomStats.DefaultFpp)
    val maxBytes = tm.properties.get(BloomStats.PropMaxBytes).map(_.toLong)
      .getOrElse(BloomStats.DefaultMaxBytes)
    val extra = BloomStats.build(spark, tablePath(db, table), missing,
      prev.schema, cols, rowsOf, fpp, maxBytes)
    val newStats = prev.fileStats.map { case (f, st) =>
      f -> (st ++ extra.getOrElse(f, Map.empty)) }
    val newId = st.nextId
    val snap = Snapshot(newId, clock().toString, "rebuild_blooms",
      prev.summary + ("added_records" -> "0", "added_files" -> "0",
        "bloomed_files" -> extra.size.toString),
      prevEntry.schemaDdl, prev.files, newStats, prev.deleteFiles)
    Some(commitSnapshot(st, snap, Seq.empty,
      Manifest(prev.files, newStats), prevEntry.deletes).snap)
  }

  /** Compute per-column NDV sketches from the CURRENT live rows — the
    * `ANALYZE` action (Iceberg's `analyze_table` writing Puffin theta
    * sketches; here HLL sidecars, see [[NdvStats]]). One scan of the
    * MERGED state (MoR deletes applied), so the estimates are exact-scope
    * for the current snapshot — this is both the bootstrap for tables
    * armed mid-history and the refresh that resets delete-carried upper
    * bounds or update-staled estimates. Lands as a stats-only commit
    * (identical files and delete shards, summary gains `ndv.*`), so
    * incremental/changelog/streaming consumers see nothing.
    *
    * `columns` defaults to `write.ndv.columns`, else every supported
    * column. Returns None for an empty column set resolution. */
  def analyzeNdv(db: String, table: String,
      columns: Seq[String] = Seq.empty): Option[Snapshot] = withTableLock(db, table) { st =>
    val tm = meta(db, table)
    val prevEntry = st.commitBase
    val prev = materialize(st, prevEntry)
    val visible = prev.schema.fields.filterNot(f => tm.hiddenCols(f.name))
    val cols =
      (if (columns.nonEmpty) columns
       else {
         val armed = NdvStats.columnsOf(tm.properties)
         if (armed.nonEmpty) armed
         else visible.filter(f => NdvStats.supported(f.dataType)).map(_.name).toSeq
       }).distinct
    cols.foreach { c =>
      val f = visible.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"analyzeNdv($db.$table): unknown column '$c'"))
      require(NdvStats.supported(f.dataType),
        s"analyzeNdv($db.$table): column '$c' has unsupported type ${f.dataType.sql}")
    }
    if (cols.isEmpty) return None
    val lgK = NdvStats.lgKOf(tm.properties)
    val aggs = cols.map(c => expr(s"hll_sketch_agg(`$c`, $lgK)").as(c))
    val row = OnePass.aggregate(readVisible(db, table, prev, prev.files), aggs)
    val sketches = cols.zipWithIndex.map { case (c, i) =>
      c -> Option(row.get(i)).map(_.asInstanceOf[Array[Byte]])
        .getOrElse(NdvStats.emptySketch(lgK))
    }.toMap
    val newId = st.nextId
    NdvStats.writeSidecar(tablePath(db, table), newId, sketches)
    val snap = Snapshot(newId, clock().toString, "analyze_ndv",
      prev.summary + ("added_records" -> "0", "added_files" -> "0") ++
        sketches.map { case (c, b) =>
          s"ndv.$c" -> NdvStats.estimate(b).toString } +
        ("ndv.snapshot" -> newId.toString),
      prevEntry.schemaDdl, prev.files, prev.fileStats, prev.deleteFiles)
    Some(commitSnapshot(st, snap, Seq.empty,
      Manifest(prev.files, prev.fileStats), prevEntry.deletes).snap)
  }

  /** Equi-height histograms for CBO filter/join selectivity — the last
    * piece of the optimizer's ColumnStat (min/max/nullCount/NDV are
    * already served from the log; histograms let selectivity estimation
    * see SKEW, which a uniform [min,max] assumption cannot). Two explicit
    * scans per call — the ANALYZE trade, always operator-initiated:
    *   1. one pass computing every column's `bins+1` percentile
    *      boundaries (approx, accuracy 10k);
    *   2. one pass per column counting rows + approx NDV per bin
    *      (<= `bins` result rows each).
    * Stored as a compact `hist.<col>` summary JSON (KBs; lo/hi/ndv per
    * bin + the measured per-bin height), served through the DSv2
    * `ColumnStatistics.histogram` interface, which Spark converts to
    * catalyst `Histogram` for `FilterEstimation`/`JoinEstimation`.
    * Carry semantics match NDV: row-level commits carry the histogram
    * (approximate is CBO's native condition); re-run to refresh.
    * Numeric columns only (catalyst histograms are double-valued).
    * Constant columns (fewer than 2 distinct boundaries) are skipped. */
  def analyzeHistogram(db: String, table: String,
      columns: Seq[String] = Seq.empty, bins: Int = 64): Option[Snapshot] =
    withTableLock(db, table) { st =>
    require(bins >= 2 && bins <= 1024, s"bins must be in [2,1024], got $bins")
    val tm = meta(db, table)
    val prevEntry = st.commitBase
    val prev = materialize(st, prevEntry)
    def numeric(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.ShortType | _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.DoubleType | _: org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    val visible = prev.schema.fields.filterNot(f => tm.hiddenCols(f.name))
    val cols =
      (if (columns.nonEmpty) columns
       else visible.filter(f => numeric(f.dataType)).map(_.name).toSeq).distinct
    cols.foreach { c =>
      val f = visible.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"analyzeHistogram($db.$table): unknown column '$c'"))
      require(numeric(f.dataType),
        s"analyzeHistogram($db.$table): column '$c' has non-numeric type ${f.dataType.sql}")
    }
    if (cols.isEmpty) return None
    val df = readVisible(db, table, prev, prev.files)
    val pcts = (0 to bins).map(i => i.toDouble / bins)
    val pctAggs = cols.map(c => expr(
      s"percentile_approx(CAST(`$c` AS DOUBLE), array(${pcts.mkString(",")}), 10000)").as(c))
    val bRow = OnePass.aggregate(df, pctAggs)
    val histJson = cols.zipWithIndex.flatMap { case (c, i) =>
      if (bRow.isNullAt(i)) None // all-null column: no histogram
      else {
        val bounds = bRow.getSeq[Double](i).distinct.sorted
        if (bounds.length < 2) None // constant column
        else {
          // pass 2: per-bin row count + approx NDV. Bin of x = number of
          // INTERIOR boundaries <= x (clamped), so bins partition exactly.
          val interior = bounds.slice(1, bounds.length - 1)
          val v = col(s"`$c`").cast("double")
          val binOf =
            if (interior.isEmpty) lit(0)
            else interior.map(b => when(v >= b, 1).otherwise(0)).reduce(_ + _)
          val perBin = df.where(v.isNotNull)
            .groupBy(binOf.as("bin"))
            .agg(count(lit(1)).as("rows"), approx_count_distinct(s"`$c`").as("ndv"))
            .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
          val total = perBin.values.map(_._1).sum
          val nBins = bounds.length - 1
          val binArr = (0 until nBins).map { b =>
            val (_, ndv) = perBin.getOrElse(b, (0L, 0L))
            JArr(Vector(JNum(bounds(b)), JNum(bounds(b + 1)),
              JNum(math.max(ndv, if (perBin.contains(b)) 1L else 0L).toDouble)))
          }
          Some(s"hist.$c" -> Json.write(JObj(Vector(
            "h" -> JNum(total.toDouble / nBins),
            "b" -> JArr(binArr.toVector)))))
        }
      }
    }.toMap
    if (histJson.isEmpty) return None
    val newId = st.nextId
    val snap = Snapshot(newId, clock().toString, "analyze_histogram",
      prev.summary + ("added_records" -> "0", "added_files" -> "0") ++ histJson,
      prevEntry.schemaDdl, prev.files, prev.fileStats, prev.deleteFiles)
    Some(commitSnapshot(st, snap, Seq.empty,
      Manifest(prev.files, prev.fileStats), prevEntry.deletes).snap)
  }

  // ---- versioned SQL views (the Iceberg VIEW spec shape, metastore-free) ----

  private def viewsDir(db: String): Path = dbPath(db).resolve("_views")
  private def viewMarker(db: String, name: String): Path =
    viewsDir(db).resolve(name + ".view")
  private def viewKey(db: String, name: String): String =
    viewsDir(db).resolve(name + ".json").toAbsolutePath.normalize().toString

  /** Exclusive view-document rights, reentrant per thread (a compound op
    * — materialized-view create or refresh — holds it across its table
    * commits, and the nested createView/setViewProperties must not
    * re-acquire). Lock ORDER is always view -> table: every compound
    * view op takes this first, so it can never deadlock against a table
    * commit. */
  private def withViewLock[T](db: String, name: String)(body: => T): T = {
    Files.createDirectories(viewsDir(db))
    val lockPath = viewsDir(db).resolve(name + ".LOCK")
    val key = lockPath.toAbsolutePath.normalize().toString
    if (SnapshotCatalog.heldLocks.get().contains(key)) return body
    mutex.withLock(key, lockPath) {
      SnapshotCatalog.heldLocks.get().add(key)
      try body finally SnapshotCatalog.heldLocks.get().remove(key)
    }
  }

  def viewExists(db: String, name: String): Boolean =
    log.read(viewKey(db, name)).isDefined

  def listViews(db: String): Seq[String] =
    if (!Files.isDirectory(viewsDir(db))) Seq.empty
    else withList(viewsDir(db))(_.filter(_.getFileName.toString.endsWith(".view"))
      .map(_.getFileName.toString.stripSuffix(".view")).toSeq.sorted)

  def loadView(db: String, name: String): Option[ViewMeta] =
    log.read(viewKey(db, name)).map { case (txt, _) =>
      ViewMeta.fromJson(Json.parse(txt).asInstanceOf[JObj]) }

  /** Create (or, with `replace=true`, version-bump) a SQL view. The view
    * document is a FULL VERSION HISTORY — every definition the view ever
    * had, with its timestamp — exactly the Iceberg view spec's versioning
    * model, stored through the same CAS pointer-log seam as table commits
    * (concurrent replaces lose cleanly, never silently clobber).
    *
    * The body is ANALYZED here (Spark resolves every referenced relation
    * and derives the schema), so a typo'd reference fails at CREATE, not
    * at first read; a replace additionally walks the stored view graph
    * reachable from the new body and refuses a definition that would make
    * the view reach itself — resolution-time cycles are impossible by
    * induction. Views are late-binding (the SQL re-resolves per query, so
    * schema evolution of underlying tables flows through — the Iceberg
    * behavior); the schema recorded per version is the shape AT
    * DEFINITION TIME, for introspection. */
  def createView(db: String, name: String, sql: String,
      columnAliases: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      replace: Boolean = false,
      presetSchema: Option[StructType] = None): ViewMeta = {
    createNamespace(db)
    require(name.nonEmpty && !name.contains('/') && !name.contains('.'),
      s"bad view name '$name'")
    require(!tableExists(db, name),
      s"cannot create view $db.$name: a table with that name exists " +
        "(one object would silently shadow the other)")
    // a view body must be a QUERY. Parse FIRST and refuse commands/DML —
    // the old `spark.sql(body)` analysis gate eagerly EXECUTED a command
    // body ('DROP TABLE x' dropped the table at CREATE VIEW time;
    // ADVICE r8). Only then analyze the parsed plan lazily.
    val parsedBody = spark.sessionState.sqlParser.parsePlan(sql)
    require(!parsedBody.exists(p =>
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement] ||
        // CALL parses to `Call`, which is not a Command but runs AT
        // ANALYSIS — this marker trait is exactly "executes eagerly"
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ExecutableDuringAnalysis]),
      s"view $db.$name: body must be a query, not a command/DML statement")
    // analysis gate: resolves references + derives the definition schema.
    // Column aliases apply positionally, like CREATE VIEW v(a, b) AS.
    // `presetSchema` is the materialized-view path: its body was already
    // analyzed PINNED (and may use 2-part names no session catalog
    // resolves), so the derived schema arrives instead.
    val schema = presetSchema.getOrElse {
        val analyzed = org.apache.spark.sql.GraftColumnBridge.ofRows(spark, parsedBody)
        require(columnAliases.isEmpty || columnAliases.length == analyzed.schema.length,
          s"view $db.$name: ${columnAliases.length} column aliases for " +
            s"${analyzed.schema.length} query columns")
        if (columnAliases.isEmpty) analyzed.schema
        else org.apache.spark.sql.types.StructType(
          analyzed.schema.fields.zip(columnAliases).map { case (f, a) => f.copy(name = a) })
      }
    if (replace) requireAcyclic(db, name, sql)
    val key = viewKey(db, name)
    withViewLock(db, name) {
      val existing = log.read(key)
      require(replace || existing.isEmpty, s"view $db.$name already exists")
      val (meta, etag) = existing match {
        case Some((txt, e)) =>
          (ViewMeta.fromJson(Json.parse(txt).asInstanceOf[JObj]), Some(e))
        case None => (ViewMeta(0, Vector.empty, Map.empty), None)
      }
      val v = meta.versions.map(_.version).maxOption.getOrElse(0) + 1
      val next = ViewMeta(v,
        meta.versions :+ ViewVersion(v, clock().toString, sql,
          columnAliases, schema.toDDL),
        meta.properties ++ properties)
      log.writeIf(key, Json.write(next.toJson), etag)
      Files.createDirectories(viewsDir(db))
      if (!Files.exists(viewMarker(db, name))) Files.createFile(viewMarker(db, name))
      next
    }
  }

  /** Re-point a view at one of its HISTORICAL versions — Iceberg's view
    * rollback, recorded as a NEW version carrying the old SQL (history is
    * append-only; an audit never loses what the view said in between). */
  def restoreView(db: String, name: String, version: Int): ViewMeta = {
    val meta = loadView(db, name).getOrElse(
      throw new NoSuchElementException(s"no such view: $db.$name"))
    val target = meta.versions.find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"view $db.$name has no version $version " +
          s"(have: ${meta.versions.map(_.version).mkString(",")})"))
    createView(db, name, target.sql, target.columnAliases, Map.empty, replace = true)
  }

  def dropView(db: String, name: String): Boolean = {
    val doc = loadView(db, name)
    // a materialized view owns its backing table (and any distinct-agg
    // sidecars): dropping the view drops the stored results too
    doc.flatMap(_.properties.get("materialized"))
      .filter(tableExists(db, _)).foreach(dropTable(db, _))
    doc.toSeq.flatMap(_.properties.collect {
      case (k, t) if k.startsWith("mv.dv.") => t
    }).distinct.filter(tableExists(db, _)).foreach(dropTable(db, _))
    log.delete(viewKey(db, name))
    Files.deleteIfExists(viewMarker(db, name))
    doc.isDefined
  }

  def setViewProperties(db: String, name: String,
      set: Map[String, String], remove: Seq[String]): ViewMeta = {
    val key = viewKey(db, name)
    withViewLock(db, name) {
      val (txt, etag) = log.read(key).getOrElse(
        throw new NoSuchElementException(s"no such view: $db.$name"))
      val meta = ViewMeta.fromJson(Json.parse(txt).asInstanceOf[JObj])
      val next = meta.copy(properties = meta.properties ++ set -- remove)
      log.writeIf(key, Json.write(next.toJson), Some(etag))
      next
    }
  }

  def renameView(db: String, name: String, toDb: String, toName: String): Unit = {
    // explicit copy+delete, NOT log.migrate: the file store's migrate is
    // a no-op by design (a TABLE rename moves the whole directory, log
    // included) — a view's document doesn't live in a moved directory
    val (txt, _) = log.read(viewKey(db, name)).getOrElse(
      throw new NoSuchElementException(s"no such view: $db.$name"))
    require(!viewExists(toDb, toName), s"view $toDb.$toName already exists")
    require(!tableExists(toDb, toName), s"table $toDb.$toName already exists")
    createNamespace(toDb)
    log.writeIf(viewKey(toDb, toName), txt, None)
    log.delete(viewKey(db, name))
    Files.createDirectories(viewsDir(toDb))
    if (!Files.exists(viewMarker(toDb, toName))) Files.createFile(viewMarker(toDb, toName))
    Files.deleteIfExists(viewMarker(db, name))
  }

  // ---- materialized views (stored results + incremental refresh) ----

  /** Backing-table name of a materialized view. */
  def mvTableName(name: String): String = s"__mv_$name"

  /** `true` iff the parsed plan carries any subquery EXPRESSION
    * (scalar/IN/EXISTS) anywhere — those reference relations that
    * `collect`/`transform` would never visit, so every MV decision that
    * walks a body must either descend with the `WithSubqueries`
    * traversals or refuse the shape (ADVICE r8). */
  private def hasSubqueryExpr(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))

  /** `true` iff the PARSED (pre-analysis) plan carries an aggregate or
    * window function expression. A global aggregate (`SELECT count(*)
    * FROM t` — no GROUP BY) parses as a plain Project; the ANALYZER is
    * what inserts the Aggregate node — so a node-type walk alone
    * misclassifies it as row-local, and an "incremental" MV refresh
    * would APPEND a second total row instead of merging. Window
    * functions are whole-table too. Both must force the full/merge
    * paths. */
  private def hasAggOrWindowExpr(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{UnresolvedWindowExpression, WindowExpression}
    plan.exists(_.expressions.exists(_.exists {
      case _: WindowExpression | _: UnresolvedWindowExpression => true
      case f: UnresolvedFunction =>
        f.nameParts.length == 1 && FunctionRegistry.builtin
          .lookupFunction(FunctionIdentifier(
            f.nameParts.head.toLowerCase(java.util.Locale.ROOT)))
          .exists(info => info.getGroup == "agg_funcs")
      case _ => false
    }))
  }

  /** Identifier key of a body relation reference, db-defaulted. */
  private def relKeyOf(db: String,
      u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation)
      : Option[(String, String)] = u.multipartIdentifier match {
    case Seq(d, n) => Some((d, n))
    case Seq(_, d, n) => Some((d, n))
    case Seq(n) => Some((db, n))
    case _ => None
  }

  /** The base tables a materialized view's body reads — the subscription
    * set for continuous maintenance ([[graft.streaming.MvMaintainer]]):
    * one CDC signal stream per base keeps the view fresh. */
  def materializedViewBases(db: String, name: String): Seq[(String, String)] = {
    val docMeta = loadView(db, name).getOrElse(
      throw new NoSuchElementException(s"no such view: $db.$name"))
    require(docMeta.properties.contains("materialized"),
      s"$db.$name is not a materialized view")
    baseTablesOf(db, spark.sessionState.sqlParser.parsePlan(docMeta.currentVersion.sql))
  }

  /** Parser-level harvest of the base TABLES a view body references in
    * THIS catalog: (db, table) pairs that exist as tables here —
    * INCLUDING relations inside subquery expressions
    * (`collectWithSubqueries`), so `WHERE x > (SELECT max(y) FROM u)`
    * pins `u` too. A referenced graft VIEW disqualifies nothing at
    * creation but forces full refresh (its own bases are invisible to
    * the high-water map). */
  private def baseTablesOf(db: String,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[(String, String)] =
    plan.collectWithSubqueries {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        relKeyOf(db, u)
    }.flatten.distinct.filter { case (d, t) => tableExists(d, t) }

  /** `p` without a top-level ORDER BY (tables are unordered; every
    * materialization and refresh path discards it). */
  private def stripSort(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
    case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
    case other => other
  }

  /** Is `p` built of projections, filters and aliases over one bare
    * relation only? (Node types only: aggregate/window EXPRESSIONS are
    * the callers' check.) */
  private def projectFilterOnly(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    !p.exists {
      case _: Project | _: Filter | _: SubqueryAlias | _: UnresolvedRelation => false
      case _ => true
    }
  }

  /** The base a project/filter-only `p` reads ([[projectFilterOnly]]: its
    * one leaf is the relation). */
  private def projectFilterBase(db: String,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[(String, String)] =
    if (!projectFilterOnly(p)) None
    else p.collectFirst {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation => relKeyOf(db, u)
    }.flatten

  /** `q` under its projections, filters and aliases. */
  private def peelProjectFilter(q: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    q match {
      case Filter(_, c) => peelProjectFilter(c)
      case Project(_, c) => peelProjectFilter(c)
      case SubqueryAlias(_, c) => peelProjectFilter(c)
      case other => other
    }
  }

  /** A join side: aliases over exactly one base relation, with the
    * attribute qualifiers it accepts (the alias chain plus the table
    * name). */
  private def joinSide(db: String, q: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[((String, String), Set[String])] = q match {
    case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(ident, c) =>
      joinSide(db, c).map { case (k, qs) => (k, qs + ident.name) }
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      relKeyOf(db, u).map(k => (k, Set(k._2)))
    case _ => None
  }

  /** A base's current column names (empty if it cannot be read). */
  private def columnsOf(k: (String, String)): Set[String] =
    scala.util.Try(currentSnapshot(k._1, k._2).schema.fieldNames.toSet)
      .getOrElse(Set.empty)

  /** The conjuncts of an ON clause. */
  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Is `p` a project/filter tree over exactly ONE INNER join of exactly
    * TWO base relations? (The join-incremental body family: outer joins
    * refuse — a new row on one side can RETRACT the other side's
    * null-extended row, which insert-only delta algebra cannot express.)
    * Returns the two relation keys in plan order. */
  private def innerJoinShape(db: String,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Seq[(String, String)]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Project, SubqueryAlias}
    import org.apache.spark.sql.catalyst.plans.{Inner, NaturalJoin, UsingJoin}
    var joins = 0
    var ok = true
    val rels = Seq.newBuilder[(String, String)]
    p.foreach {
      case j: Join =>
        joins += 1
        j.joinType match {
          case Inner | UsingJoin(Inner, _) | NaturalJoin(Inner) => ()
          case _ => ok = false
        }
      case u: UnresolvedRelation => relKeyOf(db, u) match {
        case Some(k) => rels += k
        case None => ok = false
      }
      case _: Project | _: Filter | _: SubqueryAlias => ()
      case _ => ok = false
    }
    val rs = rels.result()
    // a join FOREST over N >= 2 DISTINCT relations (N-1 inner joins —
    // star/snowflake rollup bodies; self-joins refuse, the delta algebra
    // needs distinguishable sides). Capped at 8 leaves like the rewrite
    // matcher.
    if (ok && joins == rs.length - 1 && rs.length >= 2 && rs.length <= 8 &&
      rs.distinct.length == rs.length) Some(rs) else None
  }

  /** Is `p` a project/filter tree over exactly ONE `LEFT JOIN` (or
    * `FULL JOIN`) of two DISTINCT bare base relations with a conjunctive
    * EQUI ON clause? (The fact-enrichment / reconciliation shapes:
    * `fact LEFT JOIN dim ON fact.k = dim.k`, `a FULL JOIN b ON ...`.)
    * Returns (left base, right base, key column pairs (leftCol,
    * rightCol), isFullOuter) — the key pairs drive the affected-key
    * recompute in [[refreshMaterializedView]]'s outer-join delta algebra.
    * Filters are admitted only ABOVE the join (row-local in the join
    * output, so the bracket decomposition sees them verbatim); a
    * filtered/derived join SIDE declines — its delta is not the raw
    * table delta. */
  private def outerJoinShape(db: String,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[((String, String), (String, String), Seq[(String, String)], Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // RIGHT OUTER is the same relational expression with sides swapped —
    // normalize so `dim RIGHT JOIN fact` bodies refresh like LEFT ones.
    // FULL OUTER is symmetric (no normalization needed). LEFT SEMI and
    // LEFT ANTI (the blocklist / allowlist shapes) ride the LEFT lane
    // verbatim: both are linear in their left input (each left row
    // passes or not independently), and right-side churn flips left
    // rows only within the churn's key set — exactly the affected-key
    // bracket. Null-keyed left rows never match, so an ANTI keeps them
    // always and a SEMI never, both constant under any right churn.
    val (leftPlan, rightPlan, condOpt, isFull) = peelProjectFilter(p) match {
      case j: Join if j.joinType == LeftOuter ||
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        (j.left, j.right, j.condition, false)
      case j: Join if j.joinType ==
          org.apache.spark.sql.catalyst.plans.RightOuter =>
        (j.right, j.left, j.condition, false)
      case j: Join if j.joinType ==
          org.apache.spark.sql.catalyst.plans.FullOuter =>
        (j.left, j.right, j.condition, true)
      case _ => return None
    }
    {
        for {
          (lk, lq) <- joinSide(db, leftPlan)
          (rk, rq) <- joinSide(db, rightPlan)
          if lk != rk && (lq & rq).isEmpty
          cond <- condOpt
          pairs <- {
            val (lCols, rCols) = (columnsOf(lk), columnsOf(rk))
            // true = left side; unqualified names resolve by unambiguous
            // schema membership
            def sideOf(a: UnresolvedAttribute): Option[Boolean] = a.nameParts match {
              case Seq(q, _) =>
                if (lq(q)) Some(true) else if (rq(q)) Some(false) else None
              case Seq(c) =>
                (lCols(c), rCols(c)) match {
                  case (true, false) => Some(true)
                  case (false, true) => Some(false)
                  case _ => None
                }
              case _ => None
            }
            val ps = conjuncts(cond).map {
              case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
                (sideOf(x), sideOf(y)) match {
                  case (Some(true), Some(false)) =>
                    Some((x.nameParts.last, y.nameParts.last))
                  case (Some(false), Some(true)) =>
                    Some((y.nameParts.last, x.nameParts.last))
                  case _ => None
                }
              case _ => None
            }
            if (ps.nonEmpty && ps.forall(_.isDefined)) Some(ps.map(_.get)) else None
          }
        } yield (lk, rk, pairs, isFull)
    }
  }

  /** Is `p` a project/filter tree over a LEFT-DEEP CHAIN of `LEFT JOIN`s
    * of N >= 3 distinct bare base relations with conjunctive equi ON
    * clauses — `fact LEFT JOIN dim1 ON .. LEFT JOIN dim2 ON ..`, the
    * standard star with OPTIONAL dimensions (r13; the 2-base form rides
    * [[outerJoinShape]])? Returns the bases in chain order (head = the
    * fact) plus, per dimension, the single earlier base OWNING the left
    * key columns and the (ownerCol, dimCol) equi pairs.
    *
    * The owner-base requirement is what makes the affected-key bracket
    * restrictable: join i's left key is a column of one base row,
    * carried through the earlier left joins unchanged (or null-extended
    * to a never-matching null), so semi-joining THAT base against the
    * dim churn's key set retains every accumulated row whose key the
    * churn could touch. ON clauses mixing owners decline. Filters are
    * admitted only ABOVE the chain (same argument as the 2-base lane);
    * filtered/derived join sides decline. */
  private def outerChainShape(db: String,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Seq[(String, String)],
          Seq[((String, String), Seq[(String, String)])])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    // walk the left spine, collecting (dim side, ON cond) outermost-first.
    // INNER joins are admitted alongside LEFT (r13: the mixed star —
    // `fact JOIN dim1 LEFT JOIN dim2`): the per-dim bracket's
    // cancellation argument is join-type-agnostic for equi joins (both
    // terms pin everything but B_i identically), and a mixed chain stays
    // linear in its leftmost input. Pure-inner bodies never reach this
    // lane — the multilinear telescope's mode outranks it.
    var sawOuter = false
    def spine(q: LogicalPlan): Option[(((String, String), Set[String]),
        List[(((String, String), Set[String]), Expression)])] = q match {
      case j: Join if j.joinType == LeftOuter ||
          j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        if (j.joinType == LeftOuter) sawOuter = true
        for {
          (head, inner) <- spine(j.left)
          d <- joinSide(db, j.right)
          c <- j.condition
        } yield (head, inner :+ (d, c))
      case other => joinSide(db, other).map(s => (s, Nil))
    }
    val (head, joins) = spine(peelProjectFilter(p)).getOrElse(return None)
    if (joins.length < 2) return None // 2-base stays in outerJoinShape's lane
    if (!sawOuter) return None // pure-inner: the multilinear telescope's lane
    val sides: Seq[((String, String), Set[String])] = head +: joins.map(_._1)
    val bases = sides.map(_._1)
    if (bases.length > 8 || bases.distinct.length != bases.length) return None
    if (sides.map(_._2).reduce(_ ++ _).size != sides.map(_._2.size).sum)
      return None // ambiguous qualifiers across sides
    val dims = joins.zipWithIndex.map { case (((dimKey, dimQs), cond), i) =>
      // resolution universe for join i: the head plus dims 0..i
      val earlier = sides.take(i + 1)
      def ownerOf(a: UnresolvedAttribute): Option[(String, String)] = a.nameParts match {
        case Seq(q, _) => earlier.find(_._2(q)).map(_._1)
        case Seq(c) =>
          val owners = earlier.filter(s => columnsOf(s._1)(c)).map(_._1)
          if (owners.length == 1 && !columnsOf(dimKey)(c)) Some(owners.head) else None
        case _ => None
      }
      def isDim(a: UnresolvedAttribute): Boolean = a.nameParts match {
        case Seq(q, _) => dimQs(q)
        case Seq(c) => columnsOf(dimKey)(c) && !earlier.exists(s => columnsOf(s._1)(c))
        case _ => false
      }
      val ps = conjuncts(cond).map {
        case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
          if (isDim(y)) ownerOf(x).map(o => (o, (x.nameParts.last, y.nameParts.last)))
          else if (isDim(x)) ownerOf(y).map(o => (o, (y.nameParts.last, x.nameParts.last)))
          else None
        case _ => None
      }
      if (ps.isEmpty || ps.exists(_.isEmpty)) return None
      val owners = ps.map(_.get._1).distinct
      if (owners.length != 1) return None // mixed-owner ON: not restrictable
      (owners.head, ps.map(_.get._2))
    }
    Some((bases, dims))
  }

  /** Is `p` a UNION ALL of project/filter arms, each over exactly ONE
    * base relation (bases may repeat across arms)? The multi-source
    * ingestion shape under an aggregate: each arm is row-local and
    * single-base, so the body is LINEAR in every base — ins/del deltas
    * substitute simultaneously and the partial machinery folds them. */
  private def unionPfShape(db: String,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, Union}
    def strip(q: LogicalPlan): LogicalPlan = q match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    strip(p) match {
      case u: Union => u.children.forall(projectFilterBase(db, _).isDefined)
      case _ => false
    }
  }

  /** The view body with every base-table relation swapped for a PINNED
    * snapshot read (analyzed subplan; `__bucket` layout columns hidden to
    * match the SQL surface) — materialization and refresh both run
    * against exactly the snapshots the high-water map records, so a
    * commit racing the refresh query can never be half-seen. */
  private def pinnedBodyPlan(db: String,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      pins: Map[(String, String), Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    // transformUpWithSubqueries: a base referenced only inside a scalar/
    // IN/EXISTS subquery pins too — otherwise a commit racing the
    // refresh could be half-seen through the subquery (ADVICE r8)
    val swapped = plan.transformUpWithSubqueries {
      case u: UnresolvedRelation =>
        val dt = relKeyOf(db, u)
        dt.flatMap(k => pins.get(k)) match {
          case Some(pin) =>
            val (d, t) = dt.get
            val base = readAsOf(d, t, pin)
            val visible = base.drop(meta(d, t).hiddenCols.toSeq: _*)
            SubqueryAlias(Seq(d, t),
              visible.queryExecution.analyzed)
          case None => u
        }
    }
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, swapped)
  }

  /** Create (or replace) a MATERIALIZED view: the body runs ONCE against
    * pinned base snapshots into a backing table (`__mv_<name>`), the view
    * document records the body + per-base snapshot high-waters, and SQL
    * reads of the view serve the TABLE (the substitution rule redirects).
    * [[refreshMaterializedView]] brings it forward — incrementally when
    * the shape allows. Same versioned document as plain views: replace
    * keeps history. */
  def createMaterializedView(db: String, name: String, sql: String,
      replace: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): ViewMeta = withViewLock(db, name) {
    val body = spark.sessionState.sqlParser.parsePlan(sql)
    val bases = baseTablesOf(db, body)
    require(bases.nonEmpty,
      s"materialized view $db.$name references no table of this catalog")
    val pins = bases.map { case (d, t) => (d, t) -> currentSnapshotId(d, t) }.toMap
    // retractable aggregate bodies (count/sum/avg, plus keyed min/max
    // since r11) materialize
    // AUGMENTED: the backing table carries the hidden partial columns
    // that make the view maintainable under deletes and make avg
    // incrementally refreshable ([[augmentedAggPlan]]); the view's
    // recorded schema (and every SQL read through the redirect) stays
    // the visible outputs only
    val shapeOpt = aggIncrementalShape(db, body).filter(_.retractable)
    val out0 = shapeOpt match {
      case Some(sh) => pinnedBodyPlan(db, augmentedAggPlan(body, sh), pins)
      case None => pinnedBodyPlan(db, body, pins)
    }
    // a body whose own outputs collide with the partial namespace cannot
    // augment — fall back to the plain materialization (full refreshes)
    val augOk = shapeOpt.isDefined &&
      out0.schema.fieldNames.distinct.length == out0.schema.fieldNames.length
    val out = if (shapeOpt.isDefined && !augOk) pinnedBodyPlan(db, body, pins) else out0
    val partials = out.schema.fieldNames.filter(_.startsWith("__mv_")).toSeq
    val visibleOut = if (partials.isEmpty) out else out.drop(partials: _*)
    // PARTITIONED BACKING: hive-lay the backing by visible output
    // columns (group keys, in practice) so residual-filtered reads —
    // the automatic-rewrite path included — prune whole directories. At
    // 100 TB an MV over a high-cardinality key is itself billions of
    // rows; a `WHERE key = x` rewrite should read one directory of it,
    // not scan the backing. Every refresh path already lays recorded
    // partition columns out (append/overwrite/upsert all honor
    // partitionCols), so incremental merges keep the layout.
    val unknownPt = partitionBy.filterNot(visibleOut.schema.fieldNames.contains)
    require(unknownPt.isEmpty,
      s"materialized view $db.$name: partitionBy columns not in the view's " +
        s"visible outputs: ${unknownPt.mkString(",")}")
    val mvT = mvTableName(name)
    if (!tableExists(db, mvT)) createTable(db, mvT, out.schema, partitionCols = partitionBy)
    else if (meta(db, mvT).partitionCols != partitionBy)
      evolvePartitionSpec(db, mvT, partitionBy) // replace with a new layout
    overwrite(db, mvT, out)
    // DISTINCT-aggregate sidecars: one per distinct ARGUMENT (positions
    // sharing an argument share the state), populated at the same pins
    // as the backing. Stale sidecars of a replaced definition drop first
    // so a shape change never leaves hidden state behind.
    listTablesRaw(db).filter(_.startsWith(s"__mv_${name}__dv"))
      .foreach(dropTable(db, _))
    val dvProps: Map[String, String] = shapeOpt match {
      case Some(sh) if augOk && sh.distinctPos.nonEmpty =>
        sh.distinctPos.groupBy { case (i, _) => sh.aggFns(i).arguments.head.sql }
          .values.flatMap { ps =>
            val lead = ps.map(_._1).min
            val t = mvDvTableName(name, lead)
            val frame = pinnedBodyPlan(db, distinctSidecarPlan(body, sh, lead), pins)
            // a group key colliding with the sidecar's own columns makes
            // the state unaddressable — skip (refreshes stay full)
            if (frame.schema.fieldNames.distinct.length !=
                frame.schema.fieldNames.length) Seq.empty
            else {
              createTable(db, t, frame.schema)
              overwrite(db, t, frame)
              ps.map { case (i, _) => s"mv.dv.$i" -> t }
            }
          }.toMap
      case _ => Map.empty
    }
    val props = Map("materialized" -> mvT) ++ dvProps ++
      pins.map { case ((d, t), id) => s"mv.base.$d.$t" -> id.toString }
    // analysis already happened through pinnedBodyPlan (pinned form);
    // createView records its derived schema and does the cycle walk
    createView(db, name, sql, Seq.empty, props, replace,
      presetSchema = Some(visibleOut.schema))
  }

  /** The merge recipe for an incrementally-maintainable AGGREGATE view
    * body: which output positions are group keys and which are mergeable
    * aggregates (by function name), plus the parsed aggregate calls
    * themselves (needed to AUGMENT the body with partial columns).
    * Derived from the PARSED body, matched positionally against the
    * backing table's schema. */
  private final case class AggShape(keyPos: Seq[Int], aggPos: Seq[(Int, String)],
      aggFns: Map[Int, org.apache.spark.sql.catalyst.analysis.UnresolvedFunction],
      keyBase: Map[Int, String] = Map.empty) {
    /** The family maintainable under BOTH inserts and deletes once
      * partials are stored: count/sum/avg merge arithmetically (avg
      * decomposes to sum+count; the stored count(*) partial detects
      * group death), and KEYED min/max merge via the extremum-death
      * probe — a deleted value strictly above the candidate min (below
      * the candidate max) cannot move it, so only groups whose extremum
      * actually died recompute, from the base restricted to those keys.
      * GLOBAL min/max stay non-retractable (the one "group" would
      * recompute over the whole base — that IS the full refresh).
      * DISTINCT count/sum/avg (r11) are retractable through the
      * per-(group, value) copy-count sidecar: the refresh folds the
      * delta's value counts into the sidecar and re-derives the distinct
      * outputs for ONLY the touched groups — O(distinct values) state,
      * the known-minimal auxiliary for exact distinct maintenance
      * (self-maintainable-view literature). Global distinct is fine too:
      * its recompute reads the sidecar, never the base. */
    def retractable: Boolean = (aggPos.nonEmpty || keyPos.nonEmpty) &&
      aggPos.forall(p => Set("count", "sum", "avg")(p._2) ||
        (keyPos.nonEmpty && Set("min", "max")(p._2)) ||
        Set("count_distinct", "sum_distinct", "avg_distinct")(p._2))
    /** Output positions carrying DISTINCT aggregates, with their kinds. */
    def distinctPos: Seq[(Int, String)] = aggPos.filter(_._2.endsWith("_distinct"))
  }

  // hidden partial columns an augmented aggregate-MV backing table
  // carries alongside the visible outputs (never served through the
  // view redirect): group row count, per-sum non-null counts, per-avg
  // sum+count decompositions
  // (declared on the companion: MvRewriteRule derives rollups from the
  // same partials without holding a catalog instance)
  private val MvPartialRows = SnapshotCatalog.MvPartialRows
  private def mvPartialSum(i: Int) = SnapshotCatalog.mvPartialSum(i)
  private def mvPartialCnt(i: Int) = SnapshotCatalog.mvPartialCnt(i)

  /** The parsed body with the partial columns APPENDED to its aggregate
    * list: `count(1) AS __mv_n`, per `sum(x)` a `count(x) AS __mv_c<i>`,
    * per `avg(x)` its `sum(x) AS __mv_s<i>` + `count(x) AS __mv_c<i>`
    * decomposition. The partials make the count/sum/avg family
    * self-maintainable under deletes: merged sums go NULL exactly when
    * the merged non-null count hits zero, avg recomputes as s/c, and a
    * group whose `__mv_n` reaches zero is deleted from the backing. */
  private def augmentedAggPlan(parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, shape: AggShape)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Sort}
    def fn(name: String, arg: org.apache.spark.sql.catalyst.expressions.Expression) =
      UnresolvedFunction(Seq(name), Seq(arg), isDistinct = false)
    val extras: Seq[NamedExpression] =
      Alias(fn("count", Literal(1)), MvPartialRows)() +: shape.aggPos.flatMap {
        case (i, "sum") =>
          Seq(Alias(fn("count", shape.aggFns(i).arguments.head), mvPartialCnt(i))())
        case (i, "avg") =>
          val arg = shape.aggFns(i).arguments.head
          Seq(Alias(fn("sum", arg), mvPartialSum(i))(),
            Alias(fn("count", arg), mvPartialCnt(i))())
        case _ => Seq.empty
      }
    def aug(p: LogicalPlan): LogicalPlan = p match {
      case a: Aggregate => a.copy(aggregateExpressions = a.aggregateExpressions ++ extras)
      // SELECT DISTINCT: group by every select expression, carry the
      // copy count — a distinct row survives while __mv_n > 0, which is
      // exactly what makes the shape retractable under deletes
      case org.apache.spark.sql.catalyst.plans.logical.Distinct(
          Project(ps, src)) =>
        Aggregate(ps.map {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedAlias(c, _) => c
          case Alias(c, _) => c
          case e => e
        }, ps ++ extras, src)
      // global-aggregate form: parses as a Project of aggregate calls
      case pr: Project => pr.copy(projectList = pr.projectList ++ extras)
      case s: Sort => s.copy(child = aug(s.child))
      case other => other
    }
    aug(parsed)
  }

  /** Sidecar table name for the DISTINCT aggregate at output position
    * `i` of materialized view `name`. Starts with `__mv_` so the raw
    * listing hides it exactly like the backing table. */
  private def mvDvTableName(name: String, i: Int): String = s"__mv_${name}__dv$i"
  private val MvDvValue = SnapshotCatalog.MvDvValue

  /** The per-(group, value) COPY-COUNT sidecar body for the DISTINCT
    * aggregate at position `pos`: the view body's Aggregate re-grouped by
    * (group keys, distinct argument) counting copies, with NULL argument
    * rows filtered out (DISTINCT aggregates ignore them — and the filter
    * keeps the sidecar at exactly the state the outputs need). The
    * distinct outputs re-derive from this state group-locally:
    * `count(DISTINCT x)` = row count, `sum(DISTINCT x)` = sum(value),
    * `avg(DISTINCT x)` = avg(value). Sidecar size is O(distinct
    * (group, value) pairs) — the irreducible auxiliary state for exact
    * distinct maintenance; deltas fold in churn-sized. */
  private def distinctSidecarPlan(parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, shape: AggShape, pos: Int)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Alias, IsNotNull, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project}
    val arg = shape.aggFns(pos).arguments.head
    val cnt = Alias(UnresolvedFunction(Seq("count"), Seq(Literal(1)),
      isDistinct = false), MvPartialRows)()
    stripSort(parsed) match {
      case a: Aggregate =>
        val keyOuts: Seq[NamedExpression] =
          shape.keyPos.map(i => a.aggregateExpressions(i))
        Aggregate(a.groupingExpressions :+ arg,
          keyOuts ++ Seq(Alias(arg, MvDvValue)(), cnt),
          Filter(IsNotNull(arg), a.child))
      case pr: Project => // global-aggregate form (Project of agg calls)
        Aggregate(Seq(arg), Seq(Alias(arg, MvDvValue)(), cnt),
          Filter(IsNotNull(arg), pr.child))
      case other =>
        throw new IllegalStateException(
          s"distinct sidecar over a non-aggregate body: ${other.nodeName}")
    }
  }

  /** Classify a view body as an incrementally-maintainable aggregation:
    * a single `Aggregate` (or `Distinct`) whose input is project/filter
    * over one relation, whose grouping expressions are plain columns, and
    * whose outputs are those columns plus `count`/`sum`/`min`/`max`
    * aggregates (no DISTINCT aggregates, no subqueries). These merge
    * against the stored results group-wise — the classic self-maintainable
    * aggregate set under insert-only deltas (view-maintenance literature;
    * `avg` et al. refuse — they are not self-maintainable without
    * decomposition, and `full` stays correct). A top-level ORDER BY is
    * ignored (tables are unordered; the full path discards it too). */
  private def aggIncrementalShape(db: String, parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[AggShape] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Project}
    if (hasSubqueryExpr(parsed)) return None
    val top = stripSort(parsed)
    // count/sum/min/max merge directly; avg joins via the sum+count
    // partial decomposition ([[augmentedAggPlan]])
    val mergeable = Set("count", "sum", "min", "max", "avg")
    def strip(e: Expression): Expression = e match {
      case Alias(c, _) => c
      case UnresolvedAlias(c, _) => c
      case c => c
    }
    top match {
      // the aggregate's input may be project/filter over ONE relation
      // (the single-base family) or over one INNER join of two bases
      // (the fact-dim rollup — its delta is the join delta, merged by
      // the identical partial machinery). The CHILD must additionally be
      // free of aggregate/window EXPRESSIONS: projectFilterOnly checks node types
      // only, and a window function inside a FROM-subquery's Project (no
      // Window node until analysis) makes the body non-row-local —
      // Q(delta) is not the delta of Q, so an incremental merge answers
      // WRONG (found by the windowed-body reproducer; every agg mode
      // gates on this shape, so one refusal here covers them all)
      case Aggregate(groupExprs, aggExprs, child, _)
          if (projectFilterOnly(child) || innerJoinShape(db, child).isDefined ||
            unionPfShape(db, child) || outerJoinShape(db, child).isDefined ||
            outerChainShape(db, child).isDefined) &&
            !hasAggOrWindowExpr(child) =>
        // group-key SOURCE names, as a SEQUENCE: `GROUP BY a.k, b.k` (the
        // normal FULL OUTER reconciliation shape) legitimately repeats a
        // last name across sides — the merge keys on the backing's unique
        // OUTPUT names, so duplicates here are fine as long as every
        // group expression is carried in the output
        val keyNameSeq = groupExprs.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case _ => return None // expression keys: not recognized, stay full
        }
        val keyNames = keyNameSeq.toSet
        val fns = scala.collection.mutable.Map.empty[Int, UnresolvedFunction]
        val keyBases = scala.collection.mutable.Map.empty[Int, String]
        val roles = aggExprs.zipWithIndex.map { case (ne: NamedExpression, i) =>
          strip(ne) match {
            case a: UnresolvedAttribute if keyNames(a.nameParts.last) =>
              keyBases(i) = a.nameParts.last; Left(i)
            case f: UnresolvedFunction if !f.isDistinct && f.filter.isEmpty &&
                f.nameParts.length == 1 &&
                mergeable(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
              fns(i) = f
              Right(i -> f.nameParts.head.toLowerCase(java.util.Locale.ROOT))
            // DISTINCT aggregates (r11): count/sum/avg(DISTINCT x) are
            // maintainable from a per-(group, value) copy-count SIDECAR
            // ([[distinctSidecarPlan]]) — kinds tagged `*_distinct` so
            // every merge path can tell them apart; min/max(DISTINCT) IS
            // min/max (duplicates cannot move an extremum)
            case f: UnresolvedFunction if f.isDistinct && f.filter.isEmpty &&
                f.nameParts.length == 1 && f.arguments.length == 1 &&
                mergeable(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
              fns(i) = f
              val k = f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
              Right(i -> (if (k == "min" || k == "max") k else s"${k}_distinct"))
            case _ => return None
          }
        }
        val shape = AggShape(roles.collect { case Left(i) => i },
          roles.collect { case Right(p) => p }, fns.toMap, keyBases.toMap)
        // every grouping column must be carried in the output (it is the
        // upsert key), and there must be something to merge
        if (shape.keyPos.size == keyNameSeq.length && shape.aggPos.nonEmpty) Some(shape)
        else None
      case Distinct(child) if projectFilterOnly(child) =>
        // SELECT DISTINCT …: every column is a key, nothing merges — the
        // delta's distinct rows upsert keyed on ALL columns (idempotent)
        child match {
          case Project(ps, _) if !ps.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedStar]) =>
            Some(AggShape((0 until ps.length).toList, Seq.empty, Map.empty))
          case _ => None // star width is unknowable pre-analysis
        }
      case Project(ps, child) if projectFilterOnly(child) && ps.nonEmpty =>
        // GLOBAL aggregate: `SELECT count(*), sum(v) FROM t` parses as a
        // Project of aggregate functions (the analyzer inserts the
        // Aggregate). Every output must be a mergeable aggregate; the
        // merge is then a single-row fold with no keys.
        val fns = scala.collection.mutable.Map.empty[Int, UnresolvedFunction]
        val aggs = ps.zipWithIndex.map { case (p, i) =>
          strip(p) match {
            case f: UnresolvedFunction if !f.isDistinct && f.filter.isEmpty &&
                f.nameParts.length == 1 &&
                mergeable(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
              fns(i) = f
              i -> f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
            // global DISTINCT aggregates maintain from the same sidecar
            // (keyed on the value alone — O(distinct values) state, the
            // irreducible auxiliary for exact distinct maintenance)
            case f: UnresolvedFunction if f.isDistinct && f.filter.isEmpty &&
                f.nameParts.length == 1 && f.arguments.length == 1 &&
                mergeable(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
              fns(i) = f
              val k = f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
              i -> (if (k == "min" || k == "max") k else s"${k}_distinct")
            case _ => return None
          }
        }
        Some(AggShape(Seq.empty, aggs, fns.toMap))
      case _ => None
    }
  }

  /** The merge recipe for a RANKED (top-k per group) view body: the
    * canonical SQL spelling
    * {{{
    *   SELECT <cols...> FROM (
    *     SELECT <cols...>, row_number() OVER (
    *       PARTITION BY <keys> ORDER BY <sorts>) AS rn
    *     FROM base [WHERE ...]) s
    *   WHERE rn <= k
    * }}}
    * `keyOut`/`sortOut` are BACKING-schema column names (the inner
    * projection's aliases applied), `keyBase` the base-table names the
    * affected-group recompute restricts on; `rowPlan` evaluates the
    * de-windowed body (visible non-rank columns) over raw base rows;
    * `fullPlan` is the parsed body for group recomputes. */
  private final case class TopKShape(k: Long,
      keyOut: Seq[String], keyBase: Seq[String],
      sortOut: Seq[(String, Boolean, Boolean)], // (name, asc, nullsFirst)
      rankOut: Option[String], visibleMinusRank: Seq[String],
      rowPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      fullPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)

  /** Classify a view body as an incrementally-maintainable TOP-K-PER-
    * GROUP ranking (the leaderboard / per-query-retrieval-cache shape).
    * The window makes the body non-row-local, so no aggregate mode
    * admits it — but top-k has its own exact maintenance algebra
    * ([[refreshMaterializedView]]'s `incremental_topk`): inserts merge
    * against the stored top-k (new rows can only push stored rows OUT —
    * a row that was below the cutoff can never rise by an insertion),
    * and a delete that hits a stored row recomputes exactly that group
    * from the base (rows below the stored cutoff may get promoted, and
    * only the base knows them) — the extremum-death discipline
    * generalized from k = 1. Requirements: one bare base under
    * project/filter, plain-attribute partition/sort columns all carried
    * in the visible output, `row_number` (ties under a non-total ORDER
    * BY are arbitrary-but-valid, exactly as in SQL), a literal rank
    * bound. Anything else stays full. */
  private def topKShape(parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[TopKShape] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Expression, LessThan, LessThanOrEqual, Literal, NamedExpression, NullsFirst, SortOrder, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    if (hasSubqueryExpr(parsed)) return None
    val top = stripSort(parsed)
    // outer projection over the rank filter over the windowed subquery
    val (outerList, cond, sub) = top match {
      case Project(ps, Filter(c, s)) => (Some(ps), c, s)
      case Filter(c, s) => (None, c, s) // SELECT * spelled without a Project
      case _ => return None
    }
    def peelAlias(q: LogicalPlan): LogicalPlan = q match {
      case SubqueryAlias(_, c) => peelAlias(c)
      case other => other
    }
    val (innerList, innerChild) = peelAlias(sub) match {
      case Project(ps, c) => (ps, c)
      case _ => return None
    }
    // the base: project/filter over exactly one relation
    if (!projectFilterOnly(innerChild)) return None
    if (hasAggOrWindowExpr(innerChild)) return None
    // exactly one window entry: row_number() OVER (PARTITION BY keys
    // ORDER BY sorts) AS rn; every other inner entry a plain attr/alias
    def strip(e: Expression): Expression = e match {
      case Alias(c, _) => c
      case UnresolvedAlias(c, _) => c
      case c => c
    }
    def outName(ne: NamedExpression): Option[String] = ne match {
      case a: Alias => Some(a.name)
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case UnresolvedAlias(a: UnresolvedAttribute, _) => Some(a.nameParts.last)
      case _ => None
    }
    val winEntries = innerList.filter(ne => strip(ne).isInstanceOf[WindowExpression])
    if (winEntries.length != 1) return None
    val (rankName, winExpr) = winEntries.head match {
      case a @ Alias(w: WindowExpression, _) => (a.name, w)
      case _ => return None
    }
    val (keyBase, sortBase) = winExpr match {
      case WindowExpression(f: UnresolvedFunction, WindowSpecDefinition(parts, order, _))
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("row_number") &&
            f.arguments.isEmpty && !f.isDistinct =>
        val ks = parts.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case _ => return None
        }
        val ss = order.map {
          case SortOrder(a: UnresolvedAttribute, dir, no, _) =>
            (a.nameParts.last, dir == Ascending, no == NullsFirst)
          case _ => return None
        }
        (ks, ss)
      case _ => return None
    }
    if (sortBase.isEmpty) return None
    // inner base->output name map (plain attrs and attr aliases only)
    val innerPlain = innerList.filterNot(_ eq winEntries.head)
    val baseToOut: Map[String, String] = innerPlain.flatMap { ne =>
      (strip(ne), outName(ne)) match {
        case (a: UnresolvedAttribute, Some(n)) => Some(a.nameParts.last -> n)
        case _ => return None
      }
    }.toMap
    val innerOutNames = innerPlain.flatMap(outName)
    // rank bound: rn <= k or rn < k
    val k: Long = cond match {
      case LessThanOrEqual(a: UnresolvedAttribute, Literal(v, _))
          if a.nameParts.last == rankName => toLongLit(v).getOrElse(return None)
      case LessThan(a: UnresolvedAttribute, Literal(v, _))
          if a.nameParts.last == rankName =>
        toLongLit(v).map(_ - 1).getOrElse(return None)
      case _ => return None
    }
    if (k <= 0) return None
    // visible outputs: the outer projection's plain attrs (or the sub's
    // own outputs when SELECT *); partition + sort columns must survive
    val visible: Seq[String] = outerList match {
      case None => innerOutNames :+ rankName
      case Some(ps) if ps.exists(_.isInstanceOf[UnresolvedStar]) &&
          ps.length == 1 => innerOutNames :+ rankName
      case Some(ps) => ps.map {
        case a: UnresolvedAttribute => a.nameParts.last
        case UnresolvedAlias(a: UnresolvedAttribute, _) => a.nameParts.last
        case _ => return None
      }
    }
    if (visible.distinct.length != visible.length) return None
    val keyOut = keyBase.map(b => baseToOut.getOrElse(b, return None))
    val sortOut = sortBase.map { case (b, asc, nf) =>
      (baseToOut.getOrElse(b, return None), asc, nf) }
    if (!keyOut.forall(visible.contains) || !sortOut.forall(s => visible.contains(s._1)))
      return None
    val rankOut = if (visible.contains(rankName)) Some(rankName) else None
    val visNR = visible.filterNot(_ == rankName)
    if (!visNR.forall(innerOutNames.contains)) return None
    // de-windowed row plan: the visible non-rank columns over raw base rows
    val rowPlan = Project(
      visNR.map(n => innerPlain.find(outName(_).contains(n)).get), innerChild)
    Some(TopKShape(k, keyOut, keyBase, sortOut, rankOut, visNR, rowPlan, top))
  }

  private def toLongLit(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case d: java.math.BigDecimal if d.scale == 0 => Some(d.longValueExact())
    case d: org.apache.spark.sql.types.Decimal if d.scale == 0 => Some(d.toLong)
    case _ => None
  }

  /** Refresh a materialized view. Returns (mode, rowsAdded):
    *  - `"fresh"`: every base already at its high-water — zero work;
    *  - `"incremental"`: single-base project/filter body over an
    *    append-family lineage range — the body runs over ONLY the
    *    incremental delta ([[readIncremental]], compaction-transparent)
    *    and APPENDS to the backing table: refresh cost is the day's
    *    increment, never the view;
    *  - `"incremental_agg"`: single-base GROUP BY body whose aggregates
    *    are all count/sum/min/max (or SELECT DISTINCT), over an
    *    append-only range — the body runs over ONLY the delta and the
    *    per-group partials MERGE into the backing table via a keyed
    *    upsert: refresh cost is O(delta + touched groups), never the
    *    corpus. Falls back to full if the delta produces a NULL group
    *    key (null keys don't equality-match through the upsert path);
    *  - `"full"`: anything else (joins/aggregates, multi-base, deletes or
    *    rewrites in range, view-over-view) — re-run and overwrite.
    * Either way the backing table lands snapshot-consistent with the new
    * high-waters (bases pinned during the query). */
  def refreshMaterializedView(db: String, name: String): (String, Long) = withViewLock(db, name) {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, Union}
    // the WHOLE refresh holds the view lock: two concurrent refreshes
    // would otherwise both read the same high-water and double-append
    // the same incremental delta
    val docMeta = loadView(db, name).getOrElse(
      throw new NoSuchElementException(s"no such view: $db.$name"))
    val mvT = docMeta.properties.getOrElse("materialized",
      throw new IllegalArgumentException(s"$db.$name is not a materialized view"))
    val sql = docMeta.currentVersion.sql
    val body = spark.sessionState.sqlParser.parsePlan(sql)
    val top = stripSort(body)
    val bases = baseTablesOf(db, body)
    val from = bases.map { case (d, t) =>
      (d, t) -> docMeta.properties.get(s"mv.base.$d.$t").map(_.toLong) }.toMap
    // each base's pointer log is read ONCE: every high-water, range walk
    // and read of the refresh derives from these states
    val baseSt = bases.map { case (d, t) => (d, t) -> loadTable(d, t) }.toMap
    val cur = bases.map(b => b -> baseSt(b).published.snapshotId).toMap
    if (bases.forall(b => from(b).contains(cur(b)))) return ("fresh", 0L)
    // the backing's state, loaded at its first read: every backing read
    // of a refresh precedes the refresh's commit to it
    lazy val backingSt = loadTable(db, mvT)
    def backingLatest: DataFrame = readAt(backingSt, backingSt.published)

    type Base = (String, String)
    /** `x` at snapshot `id`, layout columns hidden (the SQL surface). */
    def at(x: Base, id: Long): DataFrame =
      readAt(baseSt(x), baseSt(x).entryAt(id)).drop(meta(x._1, x._2).hiddenCols.toSeq: _*)
    /** `x`'s rows added across the refresh range ([[readIncremental]]). */
    def increment(x: Base): DataFrame =
      incrementAt(baseSt(x), from(x).get, cur(x))
        .drop(meta(x._1, x._2).hiddenCols.toSeq: _*)

    // a subquery expression disqualifies incremental outright: the
    // delta-substitution identity `Q(old ∪ delta) = Q(old) ∪ Q(delta)`
    // only holds for row-local bodies, and a subquery's result can
    // change when ONLY its own base moved (ADVICE r8 — force full).
    // So does an aggregate/window EXPRESSION: a global aggregate or a
    // windowed select parses as a plain Project (no Aggregate/Window
    // node until analysis), and appending its delta result would be
    // wrong — those route to incremental_agg or full
    val noSubquery = !hasSubqueryExpr(body)
    val rowLocal = noSubquery && !hasAggOrWindowExpr(body)
    val pfBody = rowLocal && projectFilterOnly(body)
    // the input of a GROUP BY body: the multi-base aggregate modes
    // classify it
    val aggChild = if (!noSubquery) None else top match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => Some(a.child)
      case _ => None
    }
    // AGGREGATE-over-UNION-ALL body ([[unionPfShape]] under the Aggregate)
    val unionAggBody = aggChild.exists(unionPfShape(db, _))
    val appendOnlyOps = Set("append", "compact", "rewrite_manifests",
      "rebuild_blooms", "analyze_ndv", "analyze_histogram")
    // each base's range is classified ONCE per refresh: the mode gates
    // and the delta extraction all ask
    val appendOnlyMemo = scala.collection.mutable.Map.empty[Base, Boolean]
    def appendOnlyRange(x: Base): Boolean = appendOnlyMemo.getOrElseUpdate(x,
      baseSt(x).mainLineage.filter(e => e.snapshotId > from(x).get && e.snapshotId <= cur(x))
        .forall(e => appendOnlyOps(e.operation)))

    /** UNION ALL of project/filter arms, each over exactly ONE base
      * relation (bases may repeat across arms) — the multi-source
      * ingestion shape. Row-local per arm, so the body distributes over
      * each arm's delta: `Q(∪ armᵢ(Aᵢ + ΔAᵢ)) = Q(old) ∪ (∪ armᵢ(ΔAᵢ))`
      * under append-only ranges. Returns each arm with its base key.
      * (UNION DISTINCT parses as Distinct(Union) — dedup across arms is
      * NOT row-local, a delta row may already exist — and stays full.) */
    def unionArms: Option[Seq[(Base, LogicalPlan)]] = top match {
      case u: Union if rowLocal =>
        val arms = u.children.map(a => projectFilterBase(db, a).map(_ -> a))
        if (arms.forall(_.isDefined)) Some(arms.flatten) else None
      case _ => None
    }

    /** `plan` with each listed base relation swapped for its frame — the
      * one substitution every incremental mode evaluates through. Only
      * the BASE relations swap (a temp view or function table reference
      * elsewhere in the body must stay what it is); WithSubqueries for
      * defense in depth — every incremental mode refuses subquery
      * bodies, so it never fires on one. */
    def substBases(plan: LogicalPlan, repl: Map[Base, DataFrame]): LogicalPlan =
      plan.transformUpWithSubqueries {
        case u: UnresolvedRelation if relKeyOf(db, u).exists(repl.contains) =>
          val k = relKeyOf(db, u).get
          SubqueryAlias(Seq(k._1, k._2), repl(k).queryExecution.analyzed)
      }
    def bodyOverBases(plan: LogicalPlan, repl: Map[Base, DataFrame]): DataFrame =
      org.apache.spark.sql.GraftColumnBridge.ofRows(spark, substBases(plan, repl))
    def bodyOver(plan: LogicalPlan, rows: DataFrame): DataFrame =
      bodyOverBases(plan, Map(bases.head -> rows))
    // null-safe OR of one conjunction per key row: a literal predicate
    // that pushes into the scans and rides their footer-stat file skipping
    def keyPredicate(cols: Seq[String], rows: Array[Row]): Column =
      rows.map(r => cols.indices.map(j => col(s"`${cols(j)}`") <=> lit(r.get(j)))
        .reduce(_ && _)).reduce(_ || _)
    /** The single base at `cur`, restricted to the rows whose `keyCols`
      * null-safely match a row of `keys`; `few` is `keys`' first 65 rows.
      * A few keys (at most 64, the common shape) ride the exact key
      * predicate, more a semi-join (one pass, still key-bounded rows). */
    def baseAtKeys(keyCols: Seq[String], keys: DataFrame, few: Array[Row]): DataFrame = {
      val (d, t) = bases.head
      val st = baseSt(bases.head)
      (if (few.length > 64 || few.isEmpty) None
      else scala.util.Try {
        val pred = keyPredicate(keyCols, few)
        readPruned(st, cur(bases.head), pred).where(pred)
      }.toOption)
        .getOrElse {
          val aff = keys.toDF(keyCols.map(k => s"__a_$k"): _*)
          val base0 = readAt(st, st.entryAt(cur(bases.head)))
          base0.join(aff, keyCols.map(k =>
            base0(s"`$k`") <=> aff(s"`__a_$k`")).reduce(_ && _), "left_semi")
        }.drop(meta(d, t).hiddenCols.toSeq: _*)
    }

    // ONE checkpoint scope for the whole refresh: every frame a mode
    // materializes registers here, and the dispatch below releases them
    // all in one `finally` — an exception mid-merge (a failed probe job,
    // an analysis error) must not leak them for the session.
    // localCheckpoint, not cache (r15, guide §5): the checkpointed frames
    // are churn-/touched-group-sized but their LINEAGE is the whole
    // delta-resolution tree — every downstream action (scoping agg,
    // position-delete pass, delta write, per-sidecar merges) re-analyzes
    // that tree when the frame is merely cached. Checkpointing truncates
    // the plan to an in-memory leaf: one eager materialization each,
    // then every consumer plans against a leaf. Fault tolerance of the
    // intermediates is not needed (a failed refresh re-runs whole).
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def checkpoint(f: DataFrame): DataFrame = {
      val c = f.localCheckpoint(); checkpoints += c; c
    }
    def releaseCheckpoints(): Unit = checkpoints.foreach(SnapshotCatalog.releaseCheckpoint)

    /** Per-base (insert, delete) row sets across the refresh range —
      * append-only sides read the cheap incremental tail; MoR-family
      * churn resolves from per-commit metadata (exact per-commit sets,
      * no two-sided multiset diff); anything else (true rewrites,
      * rollbacks, evolution) falls to the changelog value diff. `None` =
      * un-diffable, e.g. an expired range endpoint (caller → full). An
      * UNCHANGED side returns (None, None): it contributes no delta
      * terms at all. */
    def baseDeltas(x: Base): Option[(Option[DataFrame], Option[DataFrame])] = {
      val (d, t) = x
      val (lo, hi) = (from(x).get, cur(x))
      val hidden = meta(d, t).hiddenCols.toSeq
      if (lo == hi) Some((None, None))
      else if (appendOnlyRange(x)) Some((Some(increment(x)), None))
      else (try changeSetsAcrossRange(baseSt(x), lo, hi) catch {
        case scala.util.control.NonFatal(_) => None
      }) match {
        case Some((i, dl)) => Some((Some(i.drop(hidden: _*)), Some(dl.drop(hidden: _*))))
        case None =>
          try {
            val clean = changelogAt(baseSt(x), lo, hi).drop(hidden: _*).drop("_row_id")
            Some((
              Some(clean.where(col("_change_type") === "insert").drop("_change_type")),
              Some(clean.where(col("_change_type") === "delete").drop("_change_type"))))
          } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
    /** Every base's lanes, or None when any base is un-diffable. */
    def allDeltas(): Option[Seq[(Option[DataFrame], Option[DataFrame])]] = {
      val ds = bases.map(baseDeltas)
      if (ds.exists(_.isEmpty)) None else Some(ds.flatten)
    }
    // checkpoint each base's churn lanes for the telescope's scope (r15,
    // guide §5): the same ins/del frames feed the main augmented
    // aggregate AND every distinct sidecar's re-aggregation — each
    // evaluation re-read the churn files otherwise
    def checkpointed(ds: Seq[(Option[DataFrame], Option[DataFrame])])
        : Seq[(Option[DataFrame], Option[DataFrame])] =
      ds.map { case (i, d) => (i.map(checkpoint), d.map(checkpoint)) }

    /** A refresh range's change to a multi-base body as a TELESCOPE — a
      * sum of body evaluations,
      *   Q(cur) − Q(from) = Σ Q(plus term) − Σ Q(minus term),
      * each term swapping every base for a pinned or churn frame. The
      * terms stay SUBSTITUTION MAPS, not pre-substituted plans, so the
      * same terms evaluate the main augmented aggregate AND each distinct
      * sidecar's plan ([[lanes]]). `emptyPlus` stands in for the plus
      * side of a delete-only range, so the merge still gets a
      * (zero-group) plus frame. */
    case class Telescope(plus: Seq[Map[Base, DataFrame]],
        minus: Seq[Map[Base, DataFrame]], emptyPlus: () => Map[Base, DataFrame])

    /** The telescope evaluated under `plan`: an aggregate's child is
      * replaced by the UNION of the substituted terms, so ONE aggregation
      * per lane computes the partials over the whole range (and the
      * group-wise merge applies untouched); a non-aggregate body unions
      * its per-term evaluations. Returns the (plus, minus) frames. */
    def lanes(t: Telescope, plan: LogicalPlan): (DataFrame, Option[DataFrame]) = {
      def over(terms: Seq[Map[Base, DataFrame]]): DataFrame =
        org.apache.spark.sql.GraftColumnBridge.ofRows(spark, stripSort(plan) match {
          case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            ag.copy(child = terms.map(substBases(ag.child, _)).reduceLeft(Union(_, _)))
          case p => terms.map(substBases(p, _)).reduceLeft(Union(_, _))
        })
      (over(if (t.plus.nonEmpty) t.plus else Seq(t.emptyPlus())),
        if (t.minus.isEmpty) None else Some(over(t.minus)))
    }

    /** INNER-JOIN terms — the MULTILINEAR telescope (r13, generalizing
      * the two-base bilinear identity): with bases ordered b_1..b_n,
      *   Q(cur_1..cur_n) − Q(from_1..from_n)
      *     = Σ_i Q(from_1,..,from_{i-1}, Δ_i, cur_{i+1},..,cur_n)
      * — exact for multisets (each term flips exactly one base from its
      * `from` to its `cur` pinning, and inner joins are linear in every
      * input), applied once with every base's insert lane (plus) and
      * once with every delete lane (minus). A base with an empty lane
      * contributes no term. Every term is churn ⋈ (n−1) pinned sides —
      * AQE broadcasts the delta side when it fits — never a
      * corpus-by-corpus rebuild. */
    def innerJoinTerms(ds: Seq[(Option[DataFrame], Option[DataFrame])]): Telescope = {
      def terms(lane: Int => Option[DataFrame]): Seq[Map[Base, DataFrame]] =
        bases.indices.flatMap(i => lane(i).map(ri => bases.zipWithIndex.map { case (bj, j) =>
          bj -> (if (j == i) ri else if (j < i) at(bj, from(bj).get) else at(bj, cur(bj)))
        }.toMap))
      Telescope(terms(ds(_)._1), terms(ds(_)._2), () =>
        bases.tail.map(b => b -> at(b, cur(b))).toMap +
          (bases.head -> at(bases.head, from(bases.head).get).limit(0)))
    }

    /** AGGREGATE-over-UNION-ALL terms ([[unionPfShape]] under the
      * Aggregate): every arm is row-local and single-base, so the body is
      * LINEAR in each base — one term per lane with EVERY base
      * simultaneously replaced by its insert (resp. delete) set; an
      * unchanged or delete-free side substitutes an empty frame. */
    def unionTerms(ds: Seq[(Option[DataFrame], Option[DataFrame])]): Telescope = {
      def lane(pick: ((Option[DataFrame], Option[DataFrame])) => Option[DataFrame]) =
        bases.zip(ds).map { case (b, d) =>
          b -> pick(d).getOrElse(at(b, from(b).get).limit(0)) }.toMap
      val plus = lane(_._1)
      Telescope(Seq(plus), if (ds.exists(_._2.isDefined)) Seq(lane(_._2)) else Nil,
        () => plus)
    }

    // distinct non-null key tuples of a churn side
    def churnKeys(d: (Option[DataFrame], Option[DataFrame]),
        cols: Seq[String]): Option[DataFrame] =
      (d._1.toSeq ++ d._2.toSeq).map(_.select(cols.map(c => col(s"`$c`")): _*))
        .reduceOption(_ unionByName _).map(_.na.drop("any").distinct())
    def semiKeys(frame: DataFrame, frameCols: Seq[String], keys: DataFrame,
        keyCols: Seq[String]): DataFrame = {
      val cond = frameCols.zip(keyCols).map { case (fc, kc) =>
        frame(s"`$fc`") === keys(s"`$kc`") }.reduce(_ && _)
      frame.join(keys, cond, "left_semi")
    }

    /** AGGREGATE-over-LEFT-OUTER-JOIN terms (r13). A left outer join is
      * linear in its LEFT input only — a dim-side insert can RETRACT a
      * null-extended fact row — so the telescope splits into two brackets
      * (Larson & Zhou's outer-join view maintenance, ICDE 2007):
      *
      *   Q(A',B') − Q(A,B) = [Q(A',B) − Q(A,B)] + [Q(A',B') − Q(A',B)]
      *
      * Bracket 1 is LEFT-LINEARITY: each left row matches or
      * null-extends independently of the rest of A, so the bracket
      * equals Q(ΔA⁺,B) − Q(ΔA⁻,B) — churn-sized body evaluations.
      * Bracket 2 is AFFECTED-KEY RECOMPUTE: a left row whose join key
      * misses the dim churn's key set meets the SAME dim rows at both
      * pins, so the bracket equals Q(A'_K, B') − Q(A'_K, B) with
      * A'_K = A' ⋉ K and K the non-null key set of ΔB⁺ ∪ ΔB⁻ (a null
      * left key never equals anything — those rows stay null-extended
      * under ANY dim churn). Over-approximation is free: an A'_K row the
      * churn did not actually affect contributes equal ± partials that
      * cancel in the group-wise merge. Every term substitutes frames
      * into the AUGMENTED body itself, so filters above the join and the
      * null-extension arithmetic carry over verbatim. Fact-only churn
      * never touches bracket 2 (the common CDC case stays churn-sized);
      * dim churn costs one fact semi-scan at `cur` — the irreducible
      * price of maintaining non-linear joins, paid only when the dim
      * actually moved. The affected-key slices are checkpointed across
      * their brackets' terms. */
    def outerJoinTerms(
        oj: (Base, Base, Seq[(String, String)], Boolean)): Option[Telescope] = {
      val (a, b, keyPairs, isFull) = oj
      val da = baseDeltas(a).getOrElse(return None)
      val dbx = baseDeltas(b).getOrElse(return None)
      val (lCols, rCols) = (keyPairs.map(_._1), keyPairs.map(_._2))
      // a row whose join key has ANY null component never equals anything
      def nullKey(df: DataFrame, cols: Seq[String]): Column =
        cols.map(c => df(s"`$c`").isNull).reduce(_ || _)
      val plusTerms = scala.collection.mutable.ArrayBuffer.empty[Map[Base, DataFrame]]
      val minusTerms = scala.collection.mutable.ArrayBuffer.empty[Map[Base, DataFrame]]
      // ---- bracket 1: left churn, right side pinned at FROM ----
      if (!isFull) {
        // LEFT OUTER is linear in its left input: the bracket is exactly
        // the churn rows' own body evaluations
        da._1.foreach(ins => plusTerms += Map(a -> ins, b -> at(b, from(b).get)))
        da._2.foreach(del => minusTerms += Map(a -> del, b -> at(b, from(b).get)))
      } else if (from(a).get != cur(a)) {
        // FULL OUTER is linear in NEITHER side (a new left row retracts a
        // right row's null-extension), so bracket 1 uses the same
        // affected-key recompute as bracket 2, mirrored: both left pins
        // restricted to the left churn's key set K_A, the right side
        // restricted to K_A too (rows outside K_A cancel between the two
        // terms — the restriction only bounds term volume). Null-keyed
        // left churn never matches anything: its contribution is the body
        // over (Δ_null, empty right), added directly.
        val kAc = checkpoint(churnKeys(da, lCols).getOrElse(return None))
        val bFromK = semiKeys(at(b, from(b).get), rCols, kAc, lCols)
        plusTerms += Map(a -> semiKeys(at(a, cur(a)), lCols, kAc, lCols),
          b -> bFromK)
        minusTerms += Map(a -> semiKeys(at(a, from(a).get), lCols, kAc, lCols),
          b -> bFromK)
        val bEmpty = at(b, from(b).get).limit(0)
        da._1.foreach(ins => plusTerms +=
          Map(a -> ins.where(nullKey(ins, lCols)), b -> bEmpty))
        da._2.foreach(del => minusTerms +=
          Map(a -> del.where(nullKey(del, lCols)), b -> bEmpty))
      }
      // ---- bracket 2: right churn, left side pinned at CUR ----
      if (from(b).get != cur(b)) {
        val keys = churnKeys(dbx, rCols).getOrElse(return None)
        val aCur = at(a, cur(a))
        val aK = checkpoint(semiKeys(aCur, lCols, keys, rCols))
        if (!isFull) {
          plusTerms += Map(a -> aK, b -> at(b, cur(b)))
          minusTerms += Map(a -> aK, b -> at(b, from(b).get))
        } else {
          // restrict the right side to K_B as well: under FULL OUTER the
          // unrestricted remainder would emit (cancelling but dim-sized)
          // null-extension rows into both frames
          val kBc = checkpoint(keys)
          plusTerms += Map(a -> aK,
            b -> semiKeys(at(b, cur(b)), rCols, kBc, rCols))
          minusTerms += Map(a -> aK,
            b -> semiKeys(at(b, from(b).get), rCols, kBc, rCols))
          // null-keyed right churn rows only ever null-extend themselves
          val aEmpty = aCur.limit(0)
          dbx._1.foreach(ins => plusTerms +=
            Map(a -> aEmpty, b -> ins.where(nullKey(ins, rCols))))
          dbx._2.foreach(del => minusTerms +=
            Map(a -> aEmpty, b -> del.where(nullKey(del, rCols))))
        }
      }
      Some(Telescope(plusTerms.toSeq, minusTerms.toSeq,
        () => Map(a -> at(a, from(a).get).limit(0), b -> at(b, from(b).get))))
    }

    /** AGGREGATE-over-LEFT-JOIN-CHAIN terms (r13): the N-way form of
      * [[outerJoinTerms]]'s LEFT lane. With the chain A LJ B_1 .. LJ
      * B_m, the telescope flips one relation per bracket:
      *
      *   Q(A',B_1'..B_m') − Q(A,B_1..B_m)
      *     = [Q(A',B_1..B_m) − Q(A,B_1..B_m)]                (fact)
      *     + Σ_i [Q(A',B_1'..B_i',B_{i+1}..) − Q(A',B_1'..B_i,B_{i+1}..)]
      *
      * The fact bracket rides LEFT-LINEARITY (a chain of left joins is
      * linear in its leftmost input — each fact row flows independently):
      * Q(ΔA±, dims@from). Each dim bracket rides AFFECTED-KEY RECOMPUTE:
      * both terms pin everything except B_i identically (earlier
      * relations at cur, later at from) and differ only in B_i's pin, so
      * any accumulated row whose join-i key misses the churn's non-null
      * key set K_i meets the SAME B_i rows in both terms and cancels in
      * the merge — restricting the key-OWNING base to K_i (a semi-join)
      * only bounds term volume, never changes the bracket's value (rows
      * the restriction null-extends or drops were cancelling anyway,
      * because both terms share the same restricted frames). Null-keyed
      * dim churn never joins a LEFT chain — invisible, correctly.
      * Fact-only churn costs the fact bracket alone; each moved dim
      * costs one owner semi-scan at cur — the same price the 2-base
      * lane pays, per dimension that actually moved. */
    def outerChainTerms(chain: (Seq[Base], Seq[(Base, Seq[(String, String)])]))
        : Option[Telescope] = {
      val (bs, dims) = chain
      val a = bs.head
      val deltas = bs.map(b => baseDeltas(b).getOrElse(return None))
      val plusTerms = scala.collection.mutable.ArrayBuffer.empty[Map[Base, DataFrame]]
      val minusTerms = scala.collection.mutable.ArrayBuffer.empty[Map[Base, DataFrame]]
      // ---- fact bracket: ΔA±, every dim pinned at FROM ----
      val dimsAtFrom: Map[Base, DataFrame] =
        bs.tail.map(b => b -> at(b, from(b).get)).toMap
      deltas.head._1.foreach(ins => plusTerms += (dimsAtFrom + (a -> ins)))
      deltas.head._2.foreach(del => minusTerms += (dimsAtFrom + (a -> del)))
      // ---- dim brackets, chain order: earlier at CUR, later at FROM ----
      for (i <- dims.indices) {
        val dimBase = bs(i + 1)
        if (from(dimBase).get != cur(dimBase)) {
          val (owner, pairs) = dims(i)
          val (ownCols, dimCols) = (pairs.map(_._1), pairs.map(_._2))
          val kI = checkpoint(churnKeys(deltas(i + 1), dimCols).getOrElse(return None))
          def frameFor(b: Base, id: Long): DataFrame = {
            val f = at(b, id)
            if (b == owner) semiKeys(f, ownCols, kI, dimCols) else f
          }
          def termMap(dimId: Long): Map[Base, DataFrame] =
            bs.zipWithIndex.map { case (b, j) =>
              b -> (
                if (j == i + 1) at(b, dimId)
                else if (j <= i) frameFor(b, cur(b))
                else frameFor(b, from(b).get))
            }.toMap
          plusTerms += termMap(cur(dimBase))
          minusTerms += termMap(from(dimBase).get)
        }
      }
      Some(Telescope(plusTerms.toSeq, minusTerms.toSeq,
        () => dimsAtFrom + (a -> at(a, from(a).get).limit(0))))
    }

    val shapeOpt = aggIncrementalShape(db, body)
    // an AUGMENTED backing (created from a retractable count/sum/avg/
    // keyed-min/max body) carries the partial columns that make the
    // merge exact under deletes (SELECT DISTINCT included: `__mv_n` is
    // its copy count); a backing without partials — global min/max,
    // outputs colliding with the partial columns, a backing written
    // before augmentation — keeps the append-only merge
    val backingHasPartials = tableExists(db, mvT) &&
      backingSt.schema.fieldNames.contains(MvPartialRows)
    // DISTINCT-aggregate sidecars recorded at create time (per output
    // position). Every merge path — single-base AND (r13) the join/
    // outer/union telescopes — requires every distinct position's
    // sidecar present; a shape carrying distinct aggregates without its
    // sidecars stays full.
    val dvTables: Map[Int, String] = docMeta.properties.collect {
      case (k, v) if k.startsWith("mv.dv.") => k.stripPrefix("mv.dv.").toInt -> v
    }
    val hasDistinct = shapeOpt.exists(_.distinctPos.nonEmpty)
    val distinctReady = !hasDistinct || shapeOpt.get.distinctPos.forall {
      case (i, _) => dvTables.get(i).exists(tableExists(db, _)) }
    def rebuildSidecars(pins: Map[(String, String), Long]): Unit =
      shapeOpt.filter(_.retractable).foreach { sh =>
        sh.distinctPos.groupBy(p => dvTables.get(p._1)).foreach {
          case (Some(t), ps) =>
            val lead = ps.map(_._1).min
            val frame = pinnedBodyPlan(db, distinctSidecarPlan(body, sh, lead), pins)
            if (!tableExists(db, t)) createTable(db, t, frame.schema)
            overwrite(db, t, frame)
          case (None, _) => ()
        }
      }
    def runFull(): Long = {
      val out = shapeOpt.filter(_.retractable) match {
        case Some(sh) if backingHasPartials =>
          pinnedBodyPlan(db, augmentedAggPlan(body, sh), cur)
        case _ => pinnedBodyPlan(db, body, cur)
      }
      val n = overwrite(db, mvT, out).addedRecords
      // the sidecars must land at the same pins as the backing — a full
      // refresh that skipped them would leave the NEXT merge folding
      // deltas into stale value counts
      if (backingHasPartials) rebuildSidecars(cur)
      n
    }

    val singleBase = bases.size == 1 && from(bases.head).isDefined
    val appendOnly = singleBase && appendOnlyRange(bases.head)

    /** Partial-backed merge of the retractable family (count/sum/avg,
      * plus keyed min/max via the extremum-death probe): insert AND
      * delete row sets of the range fold into the stored partials —
      * `Q(new) = Q(old) + Q(ins) - Q(del)`, the classic
      * view-maintenance identity, valid for the distributive family.
      * Append-only ranges take the cheaper [[readIncremental]] plus-side
      * only; any other range diffs via [[readChangelog]] (churn-sized,
      * op-agnostic: MoR deletes, updates, upserts, even overwrites all
      * retract exactly). Sums go NULL exactly when their merged non-null
      * count hits zero, avg recomputes as s/c, and groups whose row
      * count reaches zero are DELETED from the backing. Returns None on
      * the edges the merge cannot serve (null group keys in the delta;
      * an un-diffable range) — the caller falls back to full.
      *
      * `under` evaluates a plan over the range's (plus, minus) delta:
      * multi-base callers hand their telescope's [[lanes]]; a single-base
      * refresh evaluates the body over the base's own ins/del rows. The
      * distinct sidecars re-aggregate the SAME delta under their own
      * plans — exact because a sidecar is a row-local-filtered count,
      * additive over the telescope's multiset-union of terms. */
    def mergePartials(shape: AggShape,
        under: Option[LogicalPlan => (DataFrame, Option[DataFrame])] = None): Option[Long] = {
      val augPlan = augmentedAggPlan(body, shape)
      val dv = shape.distinctPos
      val eval = under.getOrElse {
        val (ins, del) = baseDeltas(bases.head).getOrElse(return None)
        // distinct aggregates re-read the ins/del ROW sets for the
        // sidecar deltas — checkpoint them once so the main partials and
        // every sidecar share the same churn-sized scan
        def shared(f: DataFrame) = if (dv.nonEmpty) checkpoint(f) else f
        val (insRows, delRows) = (shared(ins.get), del.map(shared))
        (p: LogicalPlan) => (bodyOver(p, insRows), delRows.map(bodyOver(p, _)))
      }
      val (plus0, minus0) = eval(augPlan)
      // the aggregated partials are GROUP-sized (touched groups only) but
      // their plans re-execute for the null-key probe, the net join, and
      // the merge materialization
      val plus = checkpoint(plus0)
      val names = plus.schema.fieldNames
      val keyNames = shape.keyPos.map(names)
      val aggKind = shape.aggPos.toMap
      // min/max outputs: merged via the extremum-death probe (keyed only)
      val mm = shape.aggPos.filter(p => p._2 == "min" || p._2 == "max")
      if (mm.nonEmpty && keyNames.isEmpty) return None // global min/max: full
      def mvDel(i: Int) = s"__mvdel_$i"
      def mvNeed(i: Int) = s"__mvneed_$i"
      // null GROUP KEYS in the delta merge like any other value (r13):
      // every internal join already matches null-safely (<=>), the
      // group-death eq delete is null-safe by the delete writer's
      // contract, and the backing/sidecar upserts opt into null-safe key
      // matching — a null group is a real group SQL produces, and it
      // must replace its stored row, not duplicate it or force a full
      // refresh
      val minusOpt = minus0.map(checkpoint)
      // NET per-group contribution: plus full-outer minus, every
      // aggregate/partial column as (p - m) with 0-coalescing; avg
      // outputs carry a placeholder (recomputed from partials below);
      // min/max carry the INSERT-side extremum plus a `__mvdel_<i>`
      // column holding the delete-side extremum for the probe
      // distinct outputs carry placeholders through the net/merge like
      // avg — their values re-derive from the sidecar post-state below
      def placeholder(i: Int) = aggKind.get(i).exists(k =>
        k == "avg" || k.endsWith("_distinct"))
      val net0 = minusOpt match {
        case None =>
          plus.select((names.zipWithIndex.map { case (n, i) =>
            if (placeholder(i)) lit(null).cast(plus.schema(i).dataType).as(n)
            else col(s"`$n`").as(n)
          } ++ mm.map { case (i, _) =>
            lit(null).cast(plus.schema(i).dataType).as(mvDel(i)) }).toIndexedSeq: _*)
        case Some(minus) =>
          val m = minus.select(names.map(n => col(s"`$n`").as(s"__m_$n")).toIndexedSeq: _*)
          val cond = keyNames.map(k => plus(s"`$k`") <=> m(s"`__m_$k`"))
            .reduceOption(_ && _).getOrElse(lit(true))
          plus.join(m, cond, "full_outer").select((names.zipWithIndex.map { case (n, i) =>
            val p = col(s"`$n`"); val mmc = col(s"`__m_$n`")
            if (shape.keyPos.contains(i)) coalesce(p, mmc).as(n)
            else if (placeholder(i))
              lit(null).cast(plus.schema(i).dataType).as(n)
            else if (aggKind.get(i).exists(k => k == "min" || k == "max"))
              p.as(n) // insert-side extremum (null when group only deleted from)
            else (coalesce(p, lit(0)) - coalesce(mmc, lit(0))).cast(plus.schema(i).dataType).as(n)
          } ++ mm.map { case (i, _) =>
            col(s"`__m_${names(i)}`").as(mvDel(i)) }).toIndexedSeq: _*)
      }
      // the net re-executes for the touched-group restriction of every
      // sidecar — cache it alongside the partials when distinct is live
      val net = if (dv.isEmpty) net0 else checkpoint(net0)
      // ---- DISTINCT-aggregate sidecar maintenance ----
      // Fold the delta's per-(group, value) copy counts into each
      // sidecar's stored state and re-derive the distinct outputs for
      // exactly the groups this refresh rewrites. Every frame is churn-
      // or touched-group-sized: the sidecar deltas aggregate the same
      // cached ins/del rows the main partials read, the merge joins a
      // touched-pair frame against the sidecar (keyed file skipping
      // applies), and the recompute reads only the touched groups'
      // sidecar rows (semi-join restriction; the GLOBAL case reads the
      // whole sidecar — O(distinct values), never the base).
      case class DvState(table: String, positions: Seq[(Int, String)],
        dead: DataFrame, alive: DataFrame, rec: DataFrame, netAny: DataFrame)
      val dvStates: Seq[DvState] = if (dv.isEmpty) Seq.empty else {
        val touched =
          if (keyNames.isEmpty) null
          else net.select(keyNames.map(k => col(s"`$k`")).toIndexedSeq: _*).distinct()
        val sKeys = keyNames :+ MvDvValue
        dv.groupBy(p => dvTables(p._1)).toSeq.sortBy(_._1).map { case (tbl, ps) =>
          val (plusS, minusSOpt) =
            eval(distinctSidecarPlan(body, shape, ps.map(_._1).min))
          // not cached: netS feeds exactly one consumer now (the postAll
          // full-outer below, itself cached) — caching it would only add
          // a materialization pass
          val netS = (minusSOpt match {
            case None => plusS
            case Some(minusS) =>
              val m = minusS.select((sKeys.map(k => col(s"`$k`").as(s"__m_$k")) :+
                col(MvPartialRows).as(s"__m_$MvPartialRows")).toIndexedSeq: _*)
              val c = sKeys.map(k => plusS(s"`$k`") <=> m(s"`__m_$k`")).reduce(_ && _)
              plusS.join(m, c, "full_outer").select(
                (sKeys.map(k => coalesce(plusS(s"`$k`"), m(s"`__m_$k`")).as(k)) :+
                  (coalesce(plusS(MvPartialRows), lit(0L)) -
                    coalesce(m(s"`__m_$MvPartialRows`"), lit(0L))).as(MvPartialRows)
                ).toIndexedSeq: _*)
          }).where(col(MvPartialRows) =!= 0L)
          val backingS = readLatest(db, tbl)
          // ONE join pipeline for the whole sidecar merge (r15, guide §2):
          // the stored rows of the touched groups full-outer the net delta
          // pairs, and the SAME cached frame yields all three consumers —
          // the dead pairs (net-touched, merged count <= 0), the upsert
          // rows (net-touched, > 0) and the recompute input (every
          // surviving pair of a touched group). A net pair's group is
          // always a touched group (the net derives from the same delta),
          // so restricting the stored side to the touched groups loses
          // nothing; previously the net joined the backing TWICE (once per
          // consumer family) — one shuffle join per refresh saved.
          val storedTouched =
            if (keyNames.isEmpty) backingS
            else {
              val t2 = touched.select(keyNames.map(k =>
                col(s"`$k`").as(s"__t_$k")): _*)
              backingS.join(t2, keyNames.map(k =>
                backingS(s"`$k`") <=> t2(s"`__t_$k`")).reduce(_ && _), "left_semi")
            }
          // both sides descend from the same cached delta rows — rename
          // each side uniquely and join on plain column refs (dataset-
          // resolved refs across the shared lineage trip Spark's
          // ambiguous-self-join detection)
          val sT = storedTouched.select(
            (sKeys.map(k => col(s"`$k`").as(s"__s_$k")) :+
              col(MvPartialRows).as("__s_n")).toIndexedSeq: _*)
          val nS = netS.select(
            (sKeys.map(k => col(s"`$k`").as(s"__p_$k")) :+
              col(MvPartialRows).as("__p_n")).toIndexedSeq: _*)
          val condP = sKeys.map(k =>
            col(s"`__s_$k`") <=> col(s"`__p_$k`")).reduce(_ && _)
          val postAll = checkpoint(sT.join(nS, condP, "full_outer")
            .select((sKeys.map(k =>
              coalesce(col(s"`__p_$k`"), col(s"`__s_$k`")).as(k)) :+
              (coalesce(col("`__s_n`"), lit(0L)) +
                coalesce(col("`__p_n`"), lit(0L))).as("__n") :+
              col("`__p_n`").isNotNull.as("__net")).toIndexedSeq: _*))
          val dead = postAll.where(col("__net") && col("__n") <= 0L)
            .select(sKeys.map(k => col(s"`$k`")).toIndexedSeq: _*)
          val alive = postAll.where(col("__net") && col("__n") > 0L)
            .select((sKeys.map(k => col(s"`$k`")) :+
              col("__n").cast("long").as(MvPartialRows)).toIndexedSeq: _*)
          // post-merge sidecar state over the touched groups: stored rows
          // of those groups with the net folded in, zero-count pairs gone
          val post = postAll.where(col("__n") > 0L)
          val recAggs = ps.map { case (i, kind) =>
            (kind match {
              case "count_distinct" => count(lit(1))
              case "sum_distinct" => sum(col(s"`$MvDvValue`"))
              case "avg_distinct" => avg(col(s"`$MvDvValue`"))
            }).as(s"__rdv_$i")
          }
          val rec =
            if (keyNames.isEmpty) post.agg(recAggs.head, recAggs.tail: _*)
            else post.groupBy(keyNames.map(k => col(s"`$k`")).toIndexedSeq: _*)
              .agg(recAggs.head, recAggs.tail: _*)
          DvState(tbl, ps, dead, alive, rec, postAll.where(col("__net")))
        }
      }
      // merge net against the stored state; every column exact by
      // partial bookkeeping
      val backing = backingLatest
      val cond = keyNames.map(k => net(s"`$k`") <=> backing(s"`$k`"))
        .reduceOption(_ && _).getOrElse(lit(true))
      val joined = net.join(backing, cond, "left")
      def mergedPartial(n: String) =
        (coalesce(backing(s"`$n`"), lit(0)) + coalesce(net(s"`$n`"), lit(0)))
      // min/max candidate: null-skipping fold of the stored extremum and
      // the insert-side extremum. A deleted value STRICTLY beyond the
      // candidate cannot move it (every deleted row existed, so its value
      // never undercuts the true extremum) — the group needs a recompute
      // only when a deleted value TIES the candidate (extremum death)
      def mmCand(i: Int, kind: String) = {
        val s = backing(s"`${names(i)}`"); val p = net(s"`${names(i)}`")
        if (kind == "min") least(s, p) else greatest(s, p)
      }
      def mmNeed(i: Int, kind: String) = {
        val del = net(s"`${mvDel(i)}`"); val cand = mmCand(i, kind)
        del.isNotNull && (cand.isNull ||
          (if (kind == "min") del <= cand else del >= cand))
      }
      val outCols = names.zipWithIndex.map { case (n, i) =>
        if (shape.keyPos.contains(i)) net(s"`$n`").as(n)
        else if (n.startsWith("__mv_")) mergedPartial(n).cast(plus.schema(i).dataType).as(n)
        else aggKind(i) match {
          case "count" => mergedPartial(n).cast(plus.schema(i).dataType).as(n)
          case "sum" =>
            when(mergedPartial(mvPartialCnt(i)) > 0,
              (coalesce(backing(s"`$n`"), lit(0)) + coalesce(net(s"`$n`"), lit(0))))
              .otherwise(lit(null)).cast(plus.schema(i).dataType).as(n)
          case "avg" =>
            when(mergedPartial(mvPartialCnt(i)) > 0,
              mergedPartial(mvPartialSum(i)) / mergedPartial(mvPartialCnt(i)))
              .otherwise(lit(null)).cast(plus.schema(i).dataType).as(n)
          case k @ ("min" | "max") => mmCand(i, k).as(n) // recompute splice below
          case k if k.endsWith("_distinct") =>
            backing(s"`$n`").as(n) // sidecar recompute splice below
        }
      } ++ mm.map { case (i, k) => mmNeed(i, k).as(mvNeed(i)) }
      val merged0 = joined.select(outCols.toIndexedSeq: _*)
      // EXTREMUM-DEATH SPLICE: groups where a deleted value tied the
      // min/max candidate recompute those columns from the base
      // restricted to exactly those group keys — O(affected groups), a
      // single filtered pass, never the corpus, and only when deletes
      // actually touched an extremum
      val needNames = mm.map { case (i, _) => mvNeed(i) }
      val merged: DataFrame =
        if (mm.isEmpty) merged0
        else if (minusOpt.isEmpty) merged0.drop(needNames: _*)
        else {
          val m0 = checkpoint(merged0)
          val needAny = needNames.map(col).reduce(_ || _)
          val affected = m0.where(needAny && col(MvPartialRows) > 0)
            .select(keyNames.map(k => col(s"`$k`")).toIndexedSeq: _*)
          if (affected.isEmpty) m0.drop(needNames: _*)
          else {
            val few = affected.limit(65).collect()
            val rec = if (bases.size >= 2 || unionAggBody) {
              // MULTI-BASE (join/union) body: recompute the affected
              // groups by running the body at cur with a LITERAL
              // group-key predicate — Catalyst pushes a grouping-column
              // filter below the Aggregate and into the owning side's
              // scan, so each side reads only the affected keys' files.
              // Bounded at 64 dead extrema per refresh; beyond that the
              // full refresh is the honest cost
              if (few.length > 64) return None
              pinnedBodyPlan(db, augPlan, cur).where(keyPredicate(keyNames, few))
            } else bodyOver(augPlan, baseAtKeys(shape.keyPos.map(i =>
              shape.keyBase.getOrElse(i, names(i))), affected, few))
            val recSel = rec.select((keyNames.map(k =>
              col(s"`$k`").as(s"__r_$k")) ++ mm.map { case (i, _) =>
              col(s"`${names(i)}`").as(s"__r_v$i") }).toIndexedSeq: _*)
            val jc = keyNames.map(k => m0(s"`$k`") <=> recSel(s"`__r_$k`"))
              .reduce(_ && _)
            m0.join(recSel, jc, "left").select(names.zipWithIndex.map { case (n, i) =>
              aggKind.get(i) match {
                case Some(k) if k == "min" || k == "max" =>
                  when(col(s"`${mvNeed(i)}`"), col(s"`__r_v$i`"))
                    .otherwise(m0(s"`$n`")).as(n)
                case _ => m0(s"`$n`").as(n)
              }
            }.toIndexedSeq: _*)
          }
        }
      // DISTINCT-OUTPUT SPLICE: left-join each sidecar's recomputed
      // frame on the group keys and take its values for the distinct
      // positions — a group absent from the recompute has no non-null
      // values left (count 0, sum/avg NULL)
      val mergedFinal = dvStates.foldLeft(merged) { case (accF, st) =>
        val tag = st.positions.map(_._1).min
        val rr = st.rec.select((keyNames.map(k =>
          col(s"`$k`").as(s"__rk${tag}_$k")) ++
          st.positions.map { case (i, _) => col(s"`__rdv_$i`") }).toIndexedSeq: _*)
        val c = keyNames.map(k => accF(s"`$k`") <=> rr(s"`__rk${tag}_$k`"))
          .reduceOption(_ && _).getOrElse(lit(true))
        val kindOf = st.positions.toMap
        accF.join(rr, c, "left").select(names.zipWithIndex.map { case (n, i) =>
          kindOf.get(i) match {
            case Some("count_distinct") =>
              coalesce(col(s"`__rdv_$i`"), lit(0L))
                .cast(plus.schema(i).dataType).as(n)
            case Some(_) =>
              col(s"`__rdv_$i`").cast(plus.schema(i).dataType).as(n)
            case None => accF(s"`$n`").as(n)
          }
        }.toIndexedSeq: _*)
      }
      // sidecar state commits adjacent to the backing commit (same
      // failure discipline as the backing merge). ONE commit per sidecar
      // (r15, guide §6): the dead pairs ride the upsert's own
      // position-delete pass (alsoDeleteKeys) instead of paying a
      // separate equality-delete commit — same rows die, half the
      // commits, and readers apply position deletes (a position lookup,
      // no key projection).
      SnapshotCatalog.timed(s"refresh.sidecar.commits $db.$name") {
        dvStates.foreach { st =>
          // one probe over the cached merge frame (was two): a sidecar
          // the delta never touched commits nothing, as before
          if (!st.netAny.isEmpty)
            upsertMoR(db, st.table, st.alive, keyNames :+ MvDvValue,
              nullSafeKeys = true,
              alsoDeleteKeys = if (minusOpt.isDefined) Some(st.dead) else None)
        }
      }
      SnapshotCatalog.timed(s"refresh.backing.merge $db.$name") {
      if (keyNames.isEmpty) {
        // global aggregate: exactly one row, always present
        Some(overwrite(db, mvT, mergedFinal).addedRecords)
      } else {
        // group death: a merged row count of zero means SQL would not
        // produce the group — those keys ride the upsert's own
        // position-delete pass (r15: one commit for death + merge, and no
        // emptiness probe — an empty dead frame adds nothing to the scan)
        val mergedC = checkpoint(mergedFinal)
        val dead = mergedC.where(col(MvPartialRows) <= 0)
          .select(keyNames.map(k => col(s"`$k`")): _*)
        val alive = mergedC.where(col(MvPartialRows) > 0)
        Some(upsertMoR(db, mvT, alive, keyNames, nullSafeKeys = true,
          alsoDeleteKeys = if (minusOpt.isDefined) Some(dead) else None).addedRecords)
      }
      }
    }

    // N-base inner-join bodies over append-only ranges on ALL sides
    // maintain incrementally via the multilinear telescope (see the
    // mode case; 2-base reads as ΔA ⋈ B' ∪ A ⋈ ΔB)
    val allAppendOnly = bases.size >= 2 &&
      bases.forall(b => from(b).isDefined) && bases.forall(appendOnlyRange)
    val joinIncremental = allAppendOnly && rowLocal &&
      innerJoinShape(db, top).exists(_.toSet == bases.toSet)
    // GROUP BY over the join (an inner-join FOREST of the N distinct
    // bases — the star rollup): the aggregate's input delta is the join
    // delta; the partial-merge machinery applies unchanged. Since r11
    // deletes/updates RETRACT too ([[innerJoinTerms]] — any range every
    // side can diff), so the gate is diffability, not append-only; since
    // r13 the body may be an N-way star, not just fact-dim, and DISTINCT
    // aggregates maintain too (the sidecar's per-(group, value) counts
    // re-aggregate the same telescope terms — every sidecar must exist)
    val joinAggIncremental = bases.size >= 2 &&
      bases.forall(b => from(b).isDefined) && !joinIncremental &&
      shapeOpt.exists(_.retractable) && backingHasPartials && distinctReady &&
      aggChild.exists(c => innerJoinShape(db, c).exists(_.toSet == bases.toSet))

    // GROUP BY over fact LEFT JOIN dim (r13): the two-bracket outer
    // telescope of [[outerJoinTerms]] — left-linearity for fact
    // churn, affected-key recompute for dim churn. Distinct aggregates
    // ride the same brackets through the sidecar re-aggregation.
    lazy val outerJoinAggInfo = aggChild.filterNot(hasAggOrWindowExpr)
      .flatMap(outerJoinShape(db, _))
      .filter { case (l, r, _, _) => Set(l, r) == bases.toSet }
    val outerJoinAggIncremental = bases.size == 2 &&
      bases.forall(b => from(b).isDefined) && !joinIncremental &&
      !joinAggIncremental && shapeOpt.exists(_.retractable) &&
      backingHasPartials && distinctReady && outerJoinAggInfo.isDefined

    // GROUP BY over a LEFT-JOIN CHAIN of N >= 3 bases (r13): the fact
    // bracket rides left-linearity, each moved dim its own affected-key
    // bracket — the star-with-optional-dimensions rollup
    lazy val outerChainAggInfo = aggChild.filterNot(hasAggOrWindowExpr)
      .flatMap(outerChainShape(db, _)).filter(_._1.toSet == bases.toSet)
    val outerChainAggIncremental = bases.size >= 3 &&
      bases.forall(b => from(b).isDefined) && !joinIncremental &&
      !joinAggIncremental && shapeOpt.exists(_.retractable) &&
      backingHasPartials && distinctReady && outerChainAggInfo.isDefined

    // UNION ALL of row-local arms: every base append-only over its range
    // → the delta is the union of each arm over its base's increment
    lazy val unionIncremental = bases.forall(b => from(b).isDefined &&
      appendOnlyRange(b)) &&
      bases.exists(b => from(b).get != cur(b)) && unionArms.isDefined

    // aggregate over UNION ALL: linear in every base → ins/del deltas
    // substitute simultaneously, partials merge like any retractable MV
    lazy val unionAggIncremental = bases.forall(b => from(b).isDefined) &&
      shapeOpt.exists(_.retractable) && backingHasPartials && distinctReady &&
      unionAggBody

    // RANKED top-k views carry their own maintenance algebra — the one
    // window shape with an exact incremental story (see [[topKShape]])
    lazy val topKShapeOpt = topKShape(body)
    val topKIncremental = singleBase && tableExists(db, mvT) &&
      topKShapeOpt.isDefined

    var mode =
      if (joinIncremental) "incremental_join"
      else if (joinAggIncremental) "incremental_join_agg"
      else if (outerJoinAggIncremental || outerChainAggIncremental)
        "incremental_outer_agg"
      else if (unionAggIncremental) "incremental_union_agg"
      else if ((!singleBase || !pfBody) && unionIncremental)
        "incremental_union"
      else if (!singleBase) "full"
      else if (topKIncremental) "incremental_topk"
      else if (appendOnly && pfBody) "incremental"
      // partial-backed count/sum/avg family: maintainable under ANY
      // range the changelog can diff (deletes/updates retract); distinct
      // aggregates additionally need every sidecar present
      else if (shapeOpt.exists(_.retractable) && backingHasPartials &&
        distinctReady) "incremental_agg"
      // append-only merge (backings without partials: global min/max,
      // outputs colliding with the partial columns, backings written
      // before augmentation): append-only ranges, no avg, no distinct
      // aggregates (their arithmetic does not fold without the sidecar)
      else if (appendOnly && shapeOpt.isDefined && !hasDistinct &&
        !shapeOpt.get.aggPos.exists(_._2 == "avg")) "incremental_agg"
      else "full"
    /** Exact top-k maintenance (mode `incremental_topk`): inserts merge
      * against the stored top-k — candidates = stored rows of the
      * touched groups ∪ the net new rows (in-range add+delete pairs
      * cancel by multiset `exceptAll`; a surviving delete of an unstored
      * row hit below the cutoff and cannot change the ranking) — while a
      * delete matching a STORED row (all visible non-rank columns,
      * null-safe) recomputes exactly that group from the base, because
      * rows below the stored cutoff may get promoted and only the base
      * knows them. Cost: merge groups pay O(stored k + churn); recompute
      * groups one key-restricted base pass (literal predicate under the
      * 64-group bound — footer-stat file skipping — else a semi-join).
      * Global top-k (no PARTITION BY) merges inserts the same way and
      * falls to full when a stored row dies (the one "group" IS the
      * table — same honesty as global min/max). */
    def sortCols(tk: TopKShape): Seq[Column] = tk.sortOut.map { case (n, asc, nf) =>
      (asc, nf) match {
        case (true, true) => col(s"`$n`").asc_nulls_first
        case (true, false) => col(s"`$n`").asc_nulls_last
        case (false, true) => col(s"`$n`").desc_nulls_first
        case (false, false) => col(s"`$n`").desc_nulls_last
      }
    }
    def topKMerge(tk: TopKShape): Option[Long] = {
      val (insOpt, delOpt) = baseDeltas(bases.head).getOrElse(return None)
      val visNR = tk.visibleMinusRank
      def visSel(f: DataFrame) = f.select(visNR.map(n => col(s"`$n`")).toIndexedSeq: _*)
      val ins0 = visSel(bodyOver(tk.rowPlan,
        insOpt.getOrElse(at(bases.head, from(bases.head).get).limit(0))))
      val del0 = delOpt.map(f => visSel(bodyOver(tk.rowPlan, f)))
      val backing = backingLatest
      // groups whose stored rows were hit (null-safe value match)
      val deadKeys: Option[DataFrame] = del0.map { dl =>
        val m = dl.select(visNR.map(n => col(s"`$n`").as(s"__d_$n")).toIndexedSeq: _*)
        val c = visNR.map(n => backing(s"`$n`") <=> m(s"`__d_$n`")).reduce(_ && _)
        backing.join(m, c, "left_semi")
          .select(tk.keyOut.map(n => col(s"`$n`")).toIndexedSeq: _*).distinct()
      }
      if (tk.keyOut.isEmpty) {
        // global: any stored-row death needs the whole table — full
        if (deadKeys.exists(!_.isEmpty)) return None
        val netIns = del0.map(dl => ins0.exceptAll(dl)).getOrElse(ins0)
        if (netIns.isEmpty) return Some(0L)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(sortCols(tk): _*)
        val merged = visSel(backing).unionByName(netIns)
          .withColumn("__tkr", row_number().over(w))
          .where(col("__tkr") <= tk.k)
        val out = tk.rankOut match {
          case Some(rn) => merged.withColumnRenamed("__tkr", rn)
          case None => merged.drop("__tkr")
        }
        return Some(overwrite(db, mvT,
          out.select(backing.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)).addedRecords)
      }
      val rKeys = checkpoint(deadKeys.getOrElse(ins0.limit(0)
        .select(tk.keyOut.map(n => col(s"`$n`")).toIndexedSeq: _*)))
      def keyedAnti(f: DataFrame): DataFrame = {
        val r2 = rKeys.select(tk.keyOut.map(n => col(s"`$n`").as(s"__r_$n")).toIndexedSeq: _*)
        f.join(r2, tk.keyOut.map(n => f(s"`$n`") <=> r2(s"`__r_$n`")).reduce(_ && _),
          "left_anti")
      }
      def keyedSemi(f: DataFrame, keys: DataFrame): DataFrame = {
        val r2 = keys.select(tk.keyOut.map(n => col(s"`$n`").as(s"__s_$n")).toIndexedSeq: _*)
        f.join(r2, tk.keyOut.map(n => f(s"`$n`") <=> r2(s"`__s_$n`")).reduce(_ && _),
          "left_semi")
      }
      // merge groups: insert-touched, minus the recompute set
      val iKeys = checkpoint(keyedAnti(
        ins0.select(tk.keyOut.map(n => col(s"`$n`")).toIndexedSeq: _*).distinct()))
      val insI = keyedSemi(ins0, iKeys)
      val netInsI = del0.map(dl => insI.exceptAll(keyedSemi(dl, iKeys)))
        .getOrElse(insI)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(tk.keyOut.map(n => col(s"`$n`")).toIndexedSeq: _*)
        .orderBy(sortCols(tk): _*)
      val mergedI = keyedSemi(visSel(backing), iKeys).unionByName(netInsI)
        .withColumn("__tkr", row_number().over(w))
        .where(col("__tkr") <= tk.k)
      val mergedOut = tk.rankOut match {
        case Some(rn) => mergedI.withColumnRenamed("__tkr", rn)
        case None => mergedI.drop("__tkr")
      }
      // recompute groups: the body over the base restricted to exactly
      // those keys (literal predicate when few — file skipping — else
      // a null-safe semi-join)
      val recompOut: Option[DataFrame] =
        if (deadKeys.isEmpty) None
        else {
          val few = rKeys.limit(65).collect()
          if (few.isEmpty) None else Some(bodyOver(tk.fullPlan, baseAtKeys(tk.keyBase, rKeys, few)))
        }
      val newRows = recompOut match {
        case Some(r) => mergedOut.unionByName(
          r.select(mergedOut.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*))
        case None => mergedOut
      }
      val touched = iKeys.unionByName(rKeys).distinct()
      if (touched.isEmpty) return Some(0L)
      // ONE commit (r15, guide §6): every touched group's stored rows
      // die through the upsert's position-delete pass (alsoDeleteKeys
      // covers groups whose recompute produced no rows) and the merged/
      // recomputed rows land in the same snapshot — previously an
      // equality-delete commit followed by an append commit. The merged
      // frame caches first: the upsert evaluates its source for key
      // scoping, the position semi-join AND the delta write, and the
      // window+recompute plan must not re-run per consumer (§5).
      val newRowsC = checkpoint(newRows
        .select(backing.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*))
      Some(upsertMoR(db, mvT, newRowsC,
        tk.keyOut, nullSafeKeys = true, alsoDeleteKeys = Some(touched)).addedRecords)
    }

    /** The range's telescope for the multi-base aggregate modes (None:
      * an un-diffable base or no term at all — the caller falls to full). */
    def aggTelescope(): Option[Telescope] = (mode match {
      case "incremental_join_agg" => allDeltas().map(ds => innerJoinTerms(checkpointed(ds)))
      case "incremental_union_agg" => allDeltas().map(ds => unionTerms(checkpointed(ds)))
      case _ if bases.size == 2 => outerJoinTerms(outerJoinAggInfo.get)
      case _ => outerChainTerms(outerChainAggInfo.get)
    }).filter(t => t.plus.nonEmpty || t.minus.nonEmpty)

    val added = try mode match {
      case "incremental" =>
        append(db, mvT, bodyOver(body, increment(bases.head))).addedRecords
      case "incremental_topk" =>
        topKMerge(topKShapeOpt.get) match {
          case Some(n) => n
          case None => mode = "full"; runFull()
        }
      case "incremental_union" =>
        // each MOVED arm evaluates over its base's increment; arms whose
        // base did not move contribute nothing. Positional union (SQL
        // UNION ALL semantics — arm column names differ), renamed to the
        // backing's columns for the append
        val parts = unionArms.get.flatMap { case (key, arm) =>
          if (from(key).get == cur(key)) None
          else Some(bodyOverBases(arm, Map(key -> increment(key))))
        }
        val names = backingSt.schema.fieldNames.toIndexedSeq
        append(db, mvT, parts.reduce(_ union _).toDF(names: _*)).addedRecords
      case "incremental_join" =>
        // the inner-join maintenance identity under insert-only deltas —
        // the multilinear telescope's plus terms (2-base: Q(A+ΔA, B+ΔB)
        // = Q(A,B) + Q(ΔA, B+ΔB) + Q(A, ΔB)), multiset-exact because
        // projections/filters are row-local and joins are linear in
        // every input. Each term joins a CHURN-sized delta against the
        // pinned sides (the irreducible cost of incremental join
        // maintenance; AQE broadcasts the delta side when it fits), and
        // the result APPENDS — refresh cost is the day's increments,
        // never Π|bases|. Not fresh, so at least one side moved.
        append(db, mvT, lanes(innerJoinTerms(allDeltas().get), body)._1).addedRecords
      case "incremental_join_agg" | "incremental_outer_agg" | "incremental_union_agg" =>
        // multi-base rollups: the augmented aggregate runs over the
        // UNION of the telescope's terms — insert terms AND delete terms
        // — then the per-group partials merge into the backing exactly
        // like the single-base path (group death, extremum-death
        // recompute and all). DISTINCT aggregates ride the same terms:
        // the sidecar's per-(group, value) counts re-aggregate them
        // under the sidecar plan.
        aggTelescope().flatMap(t => mergePartials(shapeOpt.get, Some(lanes(t, _)))) match {
          case Some(n) => n
          case None => mode = "full"; runFull()
        }
      case "incremental_agg" if shapeOpt.exists(_.retractable) && backingHasPartials =>
        mergePartials(shapeOpt.get) match {
          case Some(n) => n
          case None => mode = "full"; runFull()
        }
      case "incremental_agg" =>
        val shape = shapeOpt.get
        val deltaAgg = bodyOver(body, increment(bases.head))
        val names = deltaAgg.schema.fieldNames
        val keyNames = shape.keyPos.map(names)
        // null group keys merge like any other value (r13): the stored-
        // partial join below is null-safe (<=>) and the upserts opt into
        // null-safe key matching, so a null-keyed group REPLACES its
        // stored row instead of duplicating
        if (shape.aggPos.isEmpty) {
          // DISTINCT body: delta rows upsert keyed on every column
          upsertMoR(db, mvT, deltaAgg, keyNames, nullSafeKeys = true).addedRecords
        } else {
          // merge each delta group against its stored partial: count/sum
          // add (sum stays NULL only if both sides are), min/max fold via
          // least/greatest (null-skipping) — the self-maintainable merge
          val backing = backingLatest
          val cond = keyNames.map(k =>
            deltaAgg(s"`$k`") <=> backing(s"`$k`")).reduceOption(_ && _)
            .getOrElse(lit(true)) // global aggregate: single-row "join"
          val joined = deltaAgg.join(backing, cond, "left")
          val outCols = names.zipWithIndex.map { case (n, i) =>
            val d = deltaAgg(s"`$n`"); val o = backing(s"`$n`")
            if (shape.keyPos.contains(i)) d.as(n)
            else shape.aggPos.find(_._1 == i).get._2 match {
              case "count" => (coalesce(o, lit(0L)) + d).as(n)
              case "sum"   => coalesce(o + d, o, d).as(n)
              case "min"   => least(o, d).as(n)
              case "max"   => greatest(o, d).as(n)
            }
          }
          val merged = joined.select(outCols.toSeq: _*)
          if (keyNames.isEmpty) // global aggregate: one row, overwrite
            overwrite(db, mvT, merged).addedRecords
          else
            upsertMoR(db, mvT, merged, keyNames, nullSafeKeys = true).addedRecords
        }
      case _ => runFull()
    } finally releaseCheckpoints()
    setViewProperties(db, name,
      cur.map { case ((d, t), id) => s"mv.base.$d.$t" -> id.toString }, Seq.empty)
    (mode, added)
  }

  /** Views the new `sql` for `db.name` reaches, transitively, must not
    * include `db.name` itself. Walks STORED definitions (parser-level
    * relation harvest), so the check is metadata-only. */
  private def requireAcyclic(db: String, name: String, sql: String): Unit = {
    def refsOf(s: String): Seq[(String, String)] = {
      val plan = spark.sessionState.sqlParser.parsePlan(s)
      // collectWithSubqueries: a cycle routed through a scalar/IN/EXISTS
      // subquery is still a cycle
      plan.collectWithSubqueries {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation => relKeyOf(db, u)
      }.flatten
    }
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    def walk(refs: Seq[(String, String)]): Unit = refs.foreach { case (d, n) =>
      if ((d, n) == (db, name))
        throw new IllegalArgumentException(
          s"replacing view $db.$name with this definition would make it " +
            "reference itself (directly or through other views)")
      if (seen.add((d, n)))
        loadView(d, n).foreach(m => walk(refsOf(m.currentVersion.sql)))
    }
    walk(refsOf(sql))
  }

  /** Consolidate the current snapshot's manifest SHARDS, PARTITION-ALIGNED
    * (Iceberg `rewrite_manifests` with its cluster-by-partition option): a
    * long append lineage accumulates one shard per commit — the design
    * that makes each commit O(its own files) — so materializing the
    * snapshot eventually pays O(commits) shard opens. Consolidating into
    * ONE shard would fix that but destroy the TWO-LEVEL planner: a single
    * shard spans every partition, its summary excludes nothing, and every
    * pinned query is back to parsing the whole inventory. So files group
    * by their LAYOUT TOKEN — the `k=v` path segments (hive partitions,
    * `__pt` transforms, `__bucket` dirs; unlaid files share one group) —
    * and each group becomes one shard whose summary stays TIGHT: after
    * consolidation a `day = X` pin still parses one shard. Guards:
    * token-count past `graft.manifest.maxShards` (default 1024) hash-folds
    * groups (pointer-log size stays bounded); groups past
    * `graft.manifest.maxFilesPerShard` (default 100k) split, ordered by
    * the leading declared sort column's min so split shards carry disjoint
    * ranges on sort-ordered tables. Lands a stats-only pointer commit:
    * same files, same delete shards, row-identical, so incremental/
    * changelog/streaming consumers see nothing across it. Older snapshots
    * keep resolving their original shards (time travel untouched); expire
    * reclaims shards no surviving snapshot references. Returns None when
    * the current sharding already equals the target (idempotent). */
  def rewriteManifests(db: String, table: String): Option[Snapshot] = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    if (prevEntry.manifests.size <= 1) return None
    val prev = materialize(st, prevEntry)
    val newId = st.nextId
    val tag = attemptTag()
    def token(f: String): String =
      f.split('/').iterator.filter(_.contains('=')).mkString("/")
    val maxShards = spark.conf.getOption("graft.manifest.maxShards")
      .map(_.toInt).getOrElse(1024)
    val maxFiles = spark.conf.getOption("graft.manifest.maxFilesPerShard")
      .map(_.toInt).getOrElse(100000)
    val byToken = prev.files.groupBy(token)
    val groups: Seq[Seq[String]] =
      if (byToken.size <= maxShards) byToken.toSeq.sortBy(_._1).map(_._2)
      else byToken.toSeq
        .groupBy { case (t, _) => math.floorMod(t.hashCode, maxShards) }
        .toSeq.sortBy(_._1).map(_._2.sortBy(_._1).flatMap(_._2))
    // leading declared sort column: order a group's files by its recorded
    // min before splitting, so split shards carry disjoint ranges
    val sortKey: Option[(String, org.apache.spark.sql.types.DataType)] =
      meta(db, table).properties.get("write.sort-order")
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty).headOption)
        .flatMap(c => prev.schema.fields.find(_.name == c)
          .filter(f => ColumnStats.statable(f.dataType)).map(f => (c, f.dataType)))
    def ordered(g: Seq[String]): Seq[String] = sortKey match {
      case Some((c, dt)) =>
        val mn = g.map(f => f -> prev.fileStats.get(f).flatMap(_.get(s"min.$c"))).toMap
        g.sortWith { (a, b) =>
          (mn(a), mn(b)) match {
            case (Some(x), Some(y)) => try ColumnStats.gt(dt, y, x)
              catch { case _: Exception => a < b }
            case (Some(_), None) => true
            case (None, Some(_)) => false
            case _ => a < b
          }
        }
      case None => g
    }
    val target: Seq[Seq[String]] =
      groups.flatMap(g => ordered(g).grouped(math.max(1, maxFiles)))
    // idempotence: the current sharding already partitions the inventory
    // exactly as the target would -> nothing to do
    val currentSets = prevEntry.manifests
      .map(n => loadManifest(db, table, n).files.toSet).toSet
    if (target.map(_.toSet).toSet == currentSets) return None
    val names = target.zipWithIndex.map { case (fs, i) =>
      // attempt-unique under a conditional pointer log, like every shard
      val name = s"m$newId$tag-p$i.json"
      writeManifest(db, table, name,
        Manifest(fs, fs.flatMap(f => prev.fileStats.get(f).map(f -> _)).toMap))
      name
    }
    val snap = Snapshot(newId, clock().toString, "rewrite_manifests",
      prev.summary + ("added_records" -> "0", "added_files" -> "0",
        "rewritten_manifests" -> prevEntry.manifests.size.toString,
        "manifest_shards" -> names.size.toString),
      prevEntry.schemaDdl, prev.files, prev.fileStats, prev.deleteFiles)
    Some(commitSnapshot(st, snap, names, Manifest.empty,
      prevEntry.deletes).snap)
  }

  // ---- write-audit-publish (Iceberg's WAP pattern, single-lineage form) ----

  /** Id of the pending staged (WAP) snapshot, if any — pointer-log only.
    * The SQL `publish_staged`/`discard_staged` procedures default their
    * snapshot_id argument through this, so the audit job never has to
    * scrape the snapshots table for the wap.staged flag. */
  def pendingStagedId(db: String, table: String): Option[Long] = {
    val last = loadTable(db, table).entries.last
    if (isStagedEntry(last)) Some(last.snapshotId) else None
  }

  /** Stage an append for audit: a durable, complete append snapshot whose
    * `wap.staged=true` summary flag makes it INVISIBLE to every
    * current-state reader (library reads, SQL, the streaming tail's
    * offsets) while remaining fully addressable by id — the audit job
    * time-travels to the returned snapshot id (`readAsOf` / SQL `VERSION
    * AS OF`), validates, then [[publishStaged]] or [[discardStaged]].
    *
    * This is the data-quality gate a training-data pipeline puts in front
    * of its lake: bad batches never become visible, yet the audit runs
    * against real committed files — publish is a pure pointer commit, so
    * nothing is rewritten when the audit passes. Single-lineage
    * discipline replaces Iceberg's cherry-pick: at most ONE staged
    * snapshot may be pending and every other commit path refuses while it
    * is (clear error, no silent reordering). A staged snapshot is, in
    * effect, a one-commit anonymous branch — for multi-commit audited
    * lineages use [[createBranch]]/[[appendBranch]]/[[fastForward]], which
    * generalize this pattern without the single-pending restriction. */
  def stageAppend(db: String, table: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    append(db, table, df, extraSummary + ("wap.staged" -> "true"))

  /** Stage an OVERWRITE for audit — same gate as [[stageAppend]], for the
    * replace-the-table write shape (Iceberg stages overwrites under WAP
    * too). The staged entry carries the would-be replacement state in
    * full; current readers keep serving the pre-overwrite head until
    * [[publishStaged]] re-points at it (a pure pointer commit), and
    * [[discardStaged]] restores the head as if the overwrite never ran. */
  def stageOverwrite(db: String, table: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    overwrite(db, table, df, extraSummary + ("wap.staged" -> "true"))

  /** Stage a MERGE-ON-READ DELETE for audit — the WAP gate for the
    * O(matched-rows) delete shape (no data-file rewrite; the staged entry
    * adds a position-delete shard). Same single-pending discipline;
    * publish is the usual pointer commit, discard leaves the shard
    * unreferenced for expire to reclaim. This is also the delete shape
    * multi-table transactions stage ([[Transaction.deleteMoR]]). */
  def stageDeleteMoR(db: String, table: String, cond: Column): Snapshot =
    withTableLock(db, table)(stageDeleteMoRIn(_, cond).snap)

  private def stageDeleteMoRIn(st: TableState, cond: Column): Committed = {
    st.requireNoPendingStage()
    deleteMoRFrom(st, st.published, cond, Map("wap.staged" -> "true"))
  }

  /** Publish a staged snapshot: one pointer-log entry re-pointing current
    * state at the staged snapshot's manifests — O(KB) regardless of data
    * size, the property that makes audit-then-publish free at 100 TB. */
  def publishStaged(db: String, table: String, snapshotId: Long): Snapshot =
    withTableLock(db, table)(publishStagedIn(_, snapshotId).snap)

  private def publishStagedIn(st: TableState, snapshotId: Long): Committed = {
    val (db, table) = (st.db, st.table)
    val staged = st.entries.last
    require(isStagedEntry(staged) && staged.snapshotId == snapshotId,
      s"snapshot $snapshotId is not the pending staged snapshot of $db.$table" +
        (if (isStagedEntry(staged)) s" (pending is ${staged.snapshotId})" else ""))
    // DECLARATIVE EXPECTATIONS (the Delta-Live-Tables shape wired into
    // WAP): `expect.<name>` table properties hold boolean SQL predicates
    // over the table's rows; the publish gate refuses to surface a
    // staged snapshot whose visible state violates one. All predicates
    // evaluate in ONE scan of the staged state; violations stay staged
    // (fix and re-stage, or discard) with per-expectation counts in the
    // error. auditExpectations() runs the same battery standalone.
    val violations = auditAt(st, snapshotId)
    if (violations.exists(_._2 > 0)) {
      val bad = violations.filter(_._2 > 0)
        .map { case (n, c) => s"$n ($c rows)" }.mkString(", ")
      throw new IllegalStateException(
        s"publish of $db.$table snapshot $snapshotId refused: " +
          s"expectation(s) violated: $bad. Fix and re-stage, or discard.")
    }
    repoint(st, staged, "publish",
      staged.summary - "wap.staged" +
        ("wap.source" -> snapshotId.toString,
          "added_records" -> "0", "added_files" -> "0"),
      staged.schemaDdl)
  }

  /** A table's `expect.<name>` predicates, name-sorted (`expect.mode` is
    * the enforcement-point switch, not a predicate). */
  private def expectationsOf(db: String, table: String): Seq[(String, String)] =
    meta(db, table).properties.toSeq
      .filter(_._1.startsWith("expect."))
      .filterNot(_._1 == "expect.mode")
      .map { case (k, v) => k.stripPrefix("expect.") -> v }
      .sortBy(_._1)

  /** Violating-row counts of `exps` over an arbitrary frame — ONE
    * aggregation pass, however many expectations. */
  private def expectationViolations(df: DataFrame,
      exps: Seq[(String, String)]): Seq[(String, Long)] = {
    val aggs = exps.map { case (n, sql) =>
      sum(when(!coalesce(expr(sql), lit(false)), 1L).otherwise(0L)).as(n) }
    val row = OnePass.aggregate(df, aggs)
    exps.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }
  }

  /** Evaluate every `expect.<name>` property predicate against the table
    * state as of `snapshotId` (default: current). Returns
    * (expectation, violating-row count) pairs — empty when no
    * expectations are declared. */
  def auditExpectations(db: String, table: String,
      snapshotId: Long = -1L): Seq[(String, Long)] =
    if (expectationsOf(db, table).isEmpty) Seq.empty
    else {
      val st = loadTable(db, table)
      auditAt(st, if (snapshotId >= 0) snapshotId else st.published.snapshotId)
    }

  /** [[auditExpectations]] of `st`'s snapshot `snapshotId`. */
  private def auditAt(st: TableState, snapshotId: Long): Seq[(String, Long)] = {
    val exps = expectationsOf(st.db, st.table)
    if (exps.isEmpty) Seq.empty
    else expectationViolations(readAt(st, st.entryAt(snapshotId)), exps)
  }

  /** Discard a staged snapshot: a pointer commit restoring the published
    * head as current. The staged snapshot stays in history (addressable
    * for post-mortems) until [[expireSnapshots]] collects it — and expire
    * reclaims its data files then, since no surviving state references
    * them. */
  def discardStaged(db: String, table: String, snapshotId: Long): Snapshot =
    withTableLock(db, table)(discardStagedIn(_, snapshotId).snap)

  private def discardStagedIn(st: TableState, snapshotId: Long): Committed = {
    val (db, table, entries) = (st.db, st.table, st.entries)
    val staged = entries.last
    require(isStagedEntry(staged) && staged.snapshotId == snapshotId,
      s"snapshot $snapshotId is not the pending staged snapshot of $db.$table" +
        (if (isStagedEntry(staged)) s" (pending is ${staged.snapshotId})" else ""))
    val headEntry = st.published
    repoint(st, headEntry, "discard",
      headEntry.summary
        // the staged append carried the streaming high-water marks
        // forward; the restored head's copy is identical by construction,
        // but take the staged tail's to keep the invariant local
        ++ streamEpochTags(staged.summary)
        + ("wap.discarded" -> snapshotId.toString,
          "added_records" -> "0", "added_files" -> "0"),
      headEntry.schemaDdl)
  }

  /** Schema-evolution commit (Iceberg `ALTER TABLE ADD COLUMN` semantics):
    * a new snapshot that KEEPS the previous snapshot's data files and
    * record count but carries the evolved schema. Reads of the new
    * snapshot null-fill columns absent from older parquet files (the
    * stock reader's missing-column behavior); time travel to snapshots
    * before the evolution serves the old schema, because every snapshot
    * stores its own DDL. */
  def evolveSchema(db: String, table: String, newSchema: StructType,
      allowDrop: Boolean = false): Snapshot = withTableLock(db, table) { st =>
    val prevEntry = st.commitBase
    // pointer-level DDL: schema arithmetic runs off the log entry; the
    // inventory materializes ONLY for the rare re-add probe below, and the
    // committed snapshot's file view defers until actually walked
    val prevSchema = prevEntry.schema
    val dropped = prevSchema.fieldNames.filterNot(newSchema.fieldNames.contains)
    // Dropping a column is SAFE with name-based mapping: readers project
    // the narrower schema and simply never read the column's pages (data
    // files are untouched; time travel to pre-drop snapshots still serves
    // it). It IS destructive at the logical level, so it must be asked for.
    require(dropped.isEmpty || allowDrop,
      s"evolveSchema: dropping ${dropped.mkString(",")} requires allowDrop=true " +
        "(reads of the current snapshot will no longer see the column)")
    val tm = meta(db, table)
    val partCols = tm.partitionCols.filter(dropped.contains)
    require(partCols.isEmpty,
      s"cannot drop partition column(s): ${partCols.mkString(",")}")
    val bucketSrc = tm.properties.get("bucket.col").filter(dropped.contains)
    require(bucketSrc.isEmpty,
      s"cannot drop bucket source column ${bucketSrc.mkString(",")}: " +
        "writes derive the layout from it and the table reports bucket " +
        "partitioning over it")
    // Re-ADDING a name that current data files physically contain is
    // unsafe under NAME-BASED mapping: the old values would resurface in
    // the "new" column (and a different type would break the reader
    // outright), and the nullcol provenance below would be a lie. Iceberg
    // dodges this with field-ids; here the safe path is compact() first
    // (the rewrite lands files under the post-drop schema).
    val added = newSchema.fieldNames.filterNot(prevSchema.fieldNames.contains)
    lazy val curFiles = materialize(st, prevEntry).files.toSet
    // the schema probe is pointer-only; only schema-matching historical
    // snapshots (rare) materialize their file lists
    val resurfacing = added.filter(name =>
      st.entries.exists(e => e.schema.fieldNames.contains(name) &&
        materialize(st, e).files.exists(curFiles.contains)))
    require(resurfacing.isEmpty,
      s"cannot re-add previously dropped column(s) ${resurfacing.mkString(",")}: " +
        "current data files still contain them under name-based mapping - " +
        "run compact() first to rewrite files under the post-drop schema")
    // Columns ADDED by this evolve have provably no values in any existing
    // file (old parquet null-fills them), so mark them `nullcol.<col>` —
    // the marker lets ColumnStats.merge adopt a later append's fresh
    // bounds as exact instead of permanently dropping min/max for evolved
    // columns (the "prev has rows but no stat" case is ambiguous WITHOUT
    // provenance, provably-all-null WITH it).
    val addedStatable = newSchema.fields
      .filterNot(f => prevSchema.fieldNames.contains(f.name))
      .filter(f => ColumnStats.statable(f.dataType))
      .map(f => s"nullcol.${f.name}" -> "true")
    // pure pointer commit: same shards (data and delete), new schema DDL
    repoint(st, prevEntry, "evolve",
      prevEntry.summary ++ addedStatable + ("added_records" -> "0", "added_files" -> "0"),
      newSchema.toDDL).snap
  }

  /** Update one table property (ALTER TABLE SET/UNSET TBLPROPERTIES). */
  def setProperty(db: String, table: String, key: String,
      value: Option[String]): Unit = setProperties(db, table, Map(key -> value))

  /** Set (`Some`) and unset (`None`) table properties in ONE metadata
    * write, so no reader or crash ever sees part of the change. */
  def setProperties(db: String, table: String,
      changes: Map[String, Option[String]]): Unit = lockTable(db, table) {
    val tm = meta(db, table)
    val props = changes.foldLeft(tm.properties) {
      case (ps, (k, Some(v))) => ps + (k -> v)
      case (ps, (k, None))    => ps - k
    }
    AtomicFile.write(metaPath(db, table), Json.writePretty(tm.copy(properties = props).toJson))
  }

  /** PARTITION SPEC EVOLUTION (Iceberg `ALTER TABLE ... WRITE ORDERED/
    * PARTITIONED BY` spirit): change the partition spec of an EXISTING
    * table. The new spec applies to NEW snapshots' writes only — existing
    * data keeps its layout and is never rewritten (at 100 TB a re-layout
    * is a compact-sized job you schedule deliberately, not a DDL side
    * effect). Reads already assemble one per-directory sub-scan with its
    * own `basePath`, so mixed-layout histories resolve every partition
    * column — from directory names where hive-laid, from data pages where
    * not — and predicates stay exact across the change (spec-asserted).
    * Bucketed tables are refused: the bucket layout is load-bearing for
    * storage-partitioned joins. */
  def evolvePartitionSpec(db: String, table: String,
      partitionCols: Seq[String]): Unit = withTableLock(db, table) { st =>
    val tm = meta(db, table)
    require(tm.bucketSpec.isEmpty,
      s"cannot change the partition spec of bucketed table $db.$table")
    require(partitionCols != tm.partitionCols,
      s"$db.$table is already partitioned by (${partitionCols.mkString(",")})")
    val schema = st.schema
    val unknown = partitionCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"partition columns not in schema: ${unknown.mkString(",")}")
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(partitionCols = partitionCols).toJson))
  }

  /** Replace the table-level spec (RTAS semantics: the replacing write may
    * carry a different partition spec / properties). Snapshot history is
    * untouched — unlike DROP+CREATE, time travel across the replace keeps
    * working because data files and the log stay in place. */
  def replaceTableSpec(db: String, table: String,
      partitionCols: Seq[String],
      properties: Map[String, String]): Unit = lockTable(db, table) {
    val tm = meta(db, table) // refs survive the spec replace
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(partitionCols = partitionCols, properties = properties).toJson))
  }

  // ---- multi-table transactions (atomic all-or-nothing commits) ----
  //
  // Iceberg v2 has no multi-table atomicity (the REST catalog spec added
  // it; Delta has none) — yet a real pipeline constantly wants "land the
  // fact rows AND the dim rows, or neither". This section composes one
  // from primitives the catalog already trusts:
  //
  //   prepare:  every operation commits as a STAGED snapshot (the WAP
  //             machinery) — durable, complete, INVISIBLE to all readers;
  //   intent:   a durable `_txns/<id>.json` record flips "preparing" →
  //             "prepared" once every stage landed and every table's
  //             declared expectations passed over the staged states;
  //   publish:  each staged snapshot publishes (a pointer commit) under
  //             the tables' locks, taken in one canonical global order
  //             (no deadlocks between transactions by construction);
  //   recover:  a crash while "preparing" rolls BACK (recovery discards
  //             exactly the staged ids the intent recorded — never a
  //             bystander's pending stage); a crash while "prepared" or
  //             mid-publish rolls FORWARD (publishing completes the
  //             transaction — the data was already durable and audited).
  //
  // Failure atomicity is total: an error anywhere before the intent flip
  // discards every staged snapshot and nothing was ever visible. After
  // the flip the transaction is COMMITTED in the durability sense; the
  // visibility flips are pointer commits that recovery can always finish.
  // Readers that need a cross-table consistent cut use
  // [[consistentSnapshotIds]] (and time-travel to it); individual table
  // reads between two publish flips may see the first table ahead — the
  // same read-committed visibility the Iceberg REST multi-table commit
  // gives.

  private sealed trait TxnOp { def db: String; def table: String }
  private final case class TxnAppend(db: String, table: String,
      df: DataFrame) extends TxnOp
  private final case class TxnOverwrite(db: String, table: String,
      df: DataFrame) extends TxnOp
  private final case class TxnDeleteMoR(db: String, table: String,
      cond: Column) extends TxnOp

  /** An in-flight multi-table transaction. Collect operations (at most
    * one per table — compose frames for more), then [[commit]] publishes
    * all of them atomically. Instances are single-shot. */
  final class Transaction private[catalog] () {
    private val ops = scala.collection.mutable.ArrayBuffer.empty[TxnOp]
    private var used = false
    def append(db: String, table: String, df: DataFrame): this.type =
      { ops += TxnAppend(db, table, df); this }
    def overwrite(db: String, table: String, df: DataFrame): this.type =
      { ops += TxnOverwrite(db, table, df); this }
    /** Merge-on-read delete as a transaction member — O(matched rows),
      * no data-file rewrite, staged like every other op. */
    def deleteMoR(db: String, table: String, cond: Column): this.type =
      { ops += TxnDeleteMoR(db, table, cond); this }
    /** All-or-nothing commit; returns each table's published snapshot id
      * (a consistent cross-table cut, directly usable with readAsOf /
      * `VERSION AS OF`). */
    def commit(): Map[(String, String), Long] = {
      require(!used, "transaction already committed")
      used = true
      commitTransaction(ops.toSeq)
    }
  }

  /** Open a multi-table transaction. Runs [[recoverTransactions]] first
    * so an interrupted predecessor never wedges the targets. */
  def beginTransaction(): Transaction = { recoverTransactions(); new Transaction() }

  private def txnsDir: Path = whPath.resolve("_txns")

  /** Nested, canonically-ordered lock acquisition: every transaction
    * sorts its table set the same way, so two transactions can never
    * hold-and-wait in opposite orders. The innermost body loads one state
    * per table, so a conflict retry of it reloads them all. */
  private def withTableLocks[T](keys: Seq[(String, String)])(
      body: Map[(String, String), TableState] => T): T = {
    def nest(ks: Seq[(String, String)]): T = ks match {
      case Seq() => body(keys.map(k => k -> loadTable(k._1, k._2)).toMap)
      case k +: rest => lockTable(k._1, k._2)(nest(rest))
    }
    nest(keys)
  }

  private def writeIntent(id: String, status: String,
      ops: Seq[((String, String), Long)]): Unit =
    AtomicFile.write(txnsDir.resolve(s"$id.json"), Json.writePretty(Json.obj(
      "status" -> JStr(status),
      "ops" -> JArr(ops.map { case ((d, t), sid) =>
        Json.obj("db" -> JStr(d), "table" -> JStr(t),
          "staged" -> JNum(sid.toDouble)): JValue }.toVector))))

  private def commitTransaction(ops: Seq[TxnOp]): Map[(String, String), Long] = {
    require(ops.nonEmpty, "empty transaction")
    val keys = ops.map(o => (o.db, o.table))
    require(keys.distinct.length == keys.length,
      "multi-table transactions take one operation per table — compose the frame")
    keys.foreach { case (d, t) => require(tableExists(d, t), s"no such table: $d.$t") }
    val order = keys.sorted
    val txnId = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
    val intentPath = txnsDir.resolve(s"$txnId.json")
    withTableLocks(order) { states =>
      // single-lineage discipline: a pending staged snapshot on any
      // target (someone's unfinished WAP audit) refuses loudly
      order.foreach { case (d, t) =>
        require(!isStagedEntry(states((d, t)).entries.last),
          s"$d.$t has a pending staged snapshot; publish or discard it first") }
      // durable intent BEFORE any staging: a crash anywhere in the
      // prepare phase rolls BACK. The intent re-records after each stage
      // so recovery discards exactly OUR staged ids (a post-crash
      // bystander's stage is never touched).
      writeIntent(txnId, "preparing", Seq.empty)
      // each stage commit's published state: the publish (or the
      // discard) derives from it
      val staged = scala.collection.mutable.LinkedHashMap.empty[(String, String), Committed]
      def stagedIds = staged.toSeq.map { case (k, c) => k -> c.snap.snapshotId }
      try {
        ops.foreach { op =>
          val st = states((op.db, op.table))
          val wap = Map("wap.staged" -> "true")
          staged((op.db, op.table)) = op match {
            case TxnAppend(_, _, df) => commit(st, df, "append", extraSummary = wap)
            case TxnOverwrite(_, _, df) => commit(st, df, "overwrite", extraSummary = wap)
            case TxnDeleteMoR(_, _, cond) => stageDeleteMoRIn(st, cond)
          }
          writeIntent(txnId, "preparing", stagedIds)
        }
        // pre-audit EVERY table's expectations over its staged state
        // BEFORE publishing ANY — publish-time surprises would break
        // atomicity, so they must all pass here first
        order.foreach { case (d, t) =>
          val c = staged((d, t))
          val bad = auditAt(c.state, c.snap.snapshotId).filter(_._2 > 0)
          if (bad.nonEmpty) throw new IllegalStateException(
            s"transaction $txnId refused: $d.$t expectation(s) violated over " +
              s"the staged state: ${bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", ")}")
        }
      } catch {
        case e: Throwable =>
          staged.toSeq.reverse.foreach { case (_, c) =>
            try discardStagedIn(c.state, c.snap.snapshotId)
            catch { case scala.util.control.NonFatal(_) => () }
          }
          Files.deleteIfExists(intentPath)
          throw e
      }
      // the COMMIT POINT: from here recovery rolls FORWARD
      writeIntent(txnId, "prepared", stagedIds)
      try {
        val pins = order.map { k =>
          val c = staged(k)
          k -> publishStagedIn(c.state, c.snap.snapshotId).snap.snapshotId }.toMap
        Files.deleteIfExists(intentPath)
        pins
      } catch {
        case e: Throwable =>
          throw new IllegalStateException(
            s"transaction $txnId interrupted mid-publish — durable and " +
              "recoverable; run recoverTransactions() to complete it", e)
      }
    }
  }

  /** Complete or roll back transactions interrupted by a crash: intents
    * still "preparing" discard their recorded staged snapshots (roll
    * back — nothing was ever visible); "prepared" intents publish their
    * remaining staged snapshots (roll forward — the commit point had
    * passed). Returns the processed transaction ids. Idempotent; runs
    * automatically at [[beginTransaction]]. */
  def recoverTransactions(): Seq[String] = {
    if (!Files.isDirectory(txnsDir)) return Seq.empty
    val intents = {
      val s = Files.list(txnsDir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }
    intents.flatMap { p =>
      val j = Json.parse(readString(p)) match {
        case o: JObj => o
        case _ => return Seq.empty
      }
      val ops = j.arr("ops").collect { case o: JObj =>
        ((o.str("db"), o.str("table")), o.long("staged")) }
      val live = ops.filter { case ((d, t), _) => tableExists(d, t) }
      withTableLocks(live.map(_._1).sorted) { states =>
        def pending(k: (String, String), sid: Long): Boolean = {
          val last = states(k).entries.last
          isStagedEntry(last) && last.snapshotId == sid
        }
        j.str("status") match {
          case "preparing" =>
            // roll back exactly OUR stages, newest first
            live.reverse.foreach { case (k, sid) =>
              if (pending(k, sid)) discardStagedIn(states(k), sid) }
          case "prepared" =>
            // roll forward; a table whose pending is gone already published
            live.foreach { case (k, sid) =>
              if (pending(k, sid)) publishStagedIn(states(k), sid) }
          case _ => ()
        }
      }
      Files.deleteIfExists(p)
      Some(p.getFileName.toString.stripSuffix(".json"))
    }
  }

  /** A cross-table CONSISTENT snapshot cut: current ids re-read until two
    * consecutive scans agree and no "prepared" transaction overlaps the
    * set (an in-flight publish could otherwise be captured half-applied —
    * recovery is attempted once to clear a crashed one). Time-travel to
    * the returned ids for a transactionally-consistent multi-table read. */
  def consistentSnapshotIds(tables: Seq[(String, String)],
      maxAttempts: Int = 16): Map[(String, String), Long] = {
    def overlappingPrepared(): Boolean = Files.isDirectory(txnsDir) && {
      val s = Files.list(txnsDir)
      val intents = try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq finally s.close()
      intents.exists { p =>
        scala.util.Try(Json.parse(readString(p))).toOption.exists {
          case o: JObj => o.str("status") == "prepared" &&
            o.arr("ops").exists {
              case op: JObj => tables.contains((op.str("db"), op.str("table")))
              case _ => false
            }
          case _ => false
        }
      }
    }
    def scan(): Map[(String, String), Long] =
      tables.sorted.map { case (d, t) => (d, t) -> currentSnapshotId(d, t) }.toMap
    var prev = scan()
    var attempts = 1
    while (attempts < maxAttempts) {
      if (overlappingPrepared()) recoverTransactions()
      val next = scan()
      if (next == prev && !overlappingPrepared()) return next
      prev = next
      attempts += 1
    }
    throw new IllegalStateException(
      s"no stable cross-table cut after $maxAttempts scans (continuous churn)")
  }

  // ---- named snapshot references (Iceberg tags) ----

  /** Tag a snapshot with a stable name (Iceberg `create_tag`): an
    * IMMUTABLE named pointer usable wherever a snapshot id is — SQL
    * `VERSION AS OF 'name'`, [[readTag]]. Named refs (tags and branches)
    * PROTECT their target from [[expireSnapshots]]; dropping the ref
    * releases it. For WRITABLE refs see [[createBranch]]. */
  def createTag(db: String, table: String, name: String,
      snapshotId: Long): Unit = withTableLock(db, table) { st =>
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must not be empty or all-numeric (ambiguous with snapshot ids)")
    st.entryAt(snapshotId) // must exist
    val tm = meta(db, table)
    require(!tm.refs.contains(name), s"tag '$name' already exists on $db.$table")
    require(!tm.branches.contains(name),
      s"'$name' is already a branch on $db.$table (tags and branches share the VERSION AS OF namespace)")
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(refs = tm.refs + (name -> snapshotId)).toJson))
  }

  def dropTag(db: String, table: String, name: String): Unit = lockTable(db, table) {
    val tm = meta(db, table)
    require(tm.refs.contains(name), s"no such tag '$name' on $db.$table")
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(refs = tm.refs - name).toJson))
  }

  def resolveTag(db: String, table: String, name: String): Option[Long] =
    meta(db, table).refs.get(name)

  def readTag(db: String, table: String, name: String): DataFrame =
    readAsOf(db, table, resolveTag(db, table, name).getOrElse(
      throw new NoSuchElementException(
        s"no such tag '$name' on $db.$table (tags: ${meta(db, table).refs.keys.toSeq.sorted.mkString(",") })")))

  // ---- branches (Iceberg branch refs: writable named lineages) ----

  /** Create a named BRANCH at `fromSnapshotId` (default: the published
    * head) — a movable ref that [[appendBranch]] advances with commits
    * INVISIBLE to main until [[fastForward]] publishes them. The
    * generalization of write-audit-publish from one staged snapshot to a
    * long-lived audited lineage: an ingestion job writes batches to an
    * `audit` branch for days, validation reads the branch, and main
    * adopts the whole lineage as one O(KB) pointer commit. Branch commits
    * share the table's snapshot-id space and data directory; no data is
    * copied at create (same property that makes tags free). */
  def createBranch(db: String, table: String, name: String,
      fromSnapshotId: Option[Long] = None): Unit = withTableLock(db, table) { st =>
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"branch name '$name' must not be empty or all-numeric (ambiguous with snapshot ids)")
    val from = fromSnapshotId.getOrElse(st.published.snapshotId)
    require(st.entries.exists(_.snapshotId == from),
      s"snapshot $from not found for $db.$table")
    val tm = meta(db, table)
    require(!tm.branches.contains(name), s"branch '$name' already exists on $db.$table")
    require(!tm.refs.contains(name),
      s"'$name' is already a tag on $db.$table (tags and branches share the VERSION AS OF namespace)")
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(branches = tm.branches + (name -> from)).toJson))
  }

  def dropBranch(db: String, table: String, name: String): Unit = lockTable(db, table) {
    val tm = meta(db, table)
    require(tm.branches.contains(name), s"no such branch '$name' on $db.$table")
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(branches = tm.branches - name).toJson))
  }

  def resolveBranch(db: String, table: String, name: String): Option[Long] =
    meta(db, table).branches.get(name)

  /** Append a frame TO A BRANCH: a normal append commit based on the
    * branch head (schema checks, Observation stats, manifest reuse — the
    * full commit machinery), marked `branch.ref`/`branch.parent` in its
    * summary so published readers skip it, then the branch pointer moves.
    * Main's state and the branch evolve independently; both stay
    * time-travelable. */
  def appendBranch(db: String, table: String, name: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot = withTableLock(db, table) { st =>
    onBranch(st, name)((head, marks) =>
      commit(st, df, "append", extraSummary = extraSummary ++ marks, base = Some(head)).snap)
  }

  /** A commit to branch `name` of `st`: `write` commits based at the
    * branch head entry, carrying the `branch.ref`/`branch.parent` summary
    * marks it is given; then the branch ref advances to the new snapshot. */
  private def onBranch(st: TableState, name: String)(
      write: (SnapshotEntry, Map[String, String]) => Snapshot): Snapshot = {
    val (db, table) = (st.db, st.table)
    val headId = resolveBranch(db, table, name).getOrElse(
      throw new NoSuchElementException(s"no such branch '$name' on $db.$table"))
    val head = st.entries.find(_.snapshotId == headId).getOrElse(
      throw new IllegalStateException(
        s"branch '$name' points at expired snapshot $headId of $db.$table"))
    val snap = write(head, Map("branch.ref" -> name, "branch.parent" -> headId.toString))
    val tm = meta(db, table)
    AtomicFile.write(metaPath(db, table),
      Json.writePretty(tm.copy(branches = tm.branches + (name -> snap.snapshotId)).toJson))
    snap
  }

  /** Current state of a branch (its head snapshot). */
  def readBranch(db: String, table: String, name: String): DataFrame =
    readAsOf(db, table, resolveBranch(db, table, name).getOrElse(
      throw new NoSuchElementException(s"no such branch '$name' on $db.$table " +
        s"(branches: ${meta(db, table).branches.keys.toSeq.sorted.mkString(",")})")))

  /** FAST-FORWARD main to a branch head (Iceberg `fast_forward(main, b)`):
    * one pointer commit re-pointing the published state at the branch
    * head's manifests — O(KB) regardless of how much data the branch
    * accumulated, which is what makes audit-then-adopt free at 100 TB.
    * Requires the published head to be an ANCESTOR of the branch head
    * (walked over the recorded `branch.parent` links): if main advanced
    * since the fork, adopting the branch would silently drop main's
    * commits — fail loudly instead (merge by hand, or re-branch). The
    * branch ref itself stays where it is, like a published WAP stage. */
  def fastForward(db: String, table: String, name: String): Snapshot = withTableLock(db, table) { st =>
    val published = st.commitBase
    val headId = resolveBranch(db, table, name).getOrElse(
      throw new NoSuchElementException(s"no such branch '$name' on $db.$table"))
    require(headId != published.snapshotId,
      s"branch '$name' is already at the published head of $db.$table")
    @annotation.tailrec
    def reachesPublished(id: Long): Boolean =
      if (id == published.snapshotId) true
      else st.entries.find(_.snapshotId == id) match {
        case Some(e) => e.summary.get("branch.parent") match {
          case Some(p) => reachesPublished(p.toLong)
          case None => false // hit a main-lineage snapshot that is not the head
        }
        case None => false // ancestry expired
      }
    require(reachesPublished(headId),
      s"cannot fast-forward $db.$table to branch '$name': the published head " +
        s"${published.snapshotId} is not an ancestor of the branch head $headId " +
        "(main advanced since the fork, or the fork ancestry was expired)")
    val branchEntry = st.entries.find(_.snapshotId == headId).get
    repoint(st, branchEntry, "fastforward",
      branchEntry.summary -- Seq("branch.ref", "branch.parent")
        // main's stream high-water marks are the authoritative ones
        ++ streamEpochTags(branchEntry.summary) ++ streamEpochTags(published.summary)
        + ("branch.forwarded" -> name,
          "added_records" -> "0", "added_files" -> "0"),
      branchEntry.schemaDdl).snap
  }

  // ---- maintenance (the "table maintenance" half of the Iceberg surface:
  // rewrite_data_files / expire_snapshots equivalents) ----

  /** Compaction: rewrite the CURRENT snapshot's data into `numFiles` files
    * and commit it as operation `compact`. Data is bit-identical (same rows,
    * fewer/larger files); prior snapshots remain time-travelable. This is
    * the many-small-files remedy the reference's own test setup generated
    * files for ("Generate Large Small Parquet Files",
    * `/root/reference/3_create_dst_tables.py:41`) but never implemented.
    *
    * Uses `repartition` (one shuffle) rather than `coalesce`: coalesce is
    * capped by the scan's partition count, which for many-small-files
    * inputs can be 1 (all files fit one split) — the output file count
    * would then depend on data volume. Compaction rewrites every byte
    * anyway, so the shuffle is the cost of choosing the layout.
    */
  def compact(db: String, table: String, numFiles: Int): Snapshot = withTableLock(db, table) { st =>
    // lineage tables: the rewrite carries each row's __rid so compaction
    // preserves identity (Iceberg v3's materialize-on-rewrite)
    val snap = materialize(st, st.published)
    val current =
      if (rowLineageEnabled(db, table)) readVisibleWithRidSeq(db, table, snap, snap.files)
      else readVisible(db, table, snap, snap.files)
    commit(st, current.repartition(numFiles), "compact").snap
  }

  /** Target positions per consolidated positional-delete shard. After
    * eq-heavy CDC at 100 TB the table-wide accumulated dead set is
    * billions of (file, pos) pairs; consolidating it through ONE task
    * (the pre-r13 `repartition(1)` shape) is a single-core sort/write
    * cliff and an OOM risk exactly where the maintenance matters most.
    * ~4M pairs ≈ tens of MB of parquet per shard — small enough to open
    * cheaply on the read path, large enough that shard count stays
    * metadata-sized. Tunable per session (`graft.maintenance.
    * deadRowsPerShard`) for operators with different object-store
    * economics — and so specs can force the multi-shard path on small
    * fixtures. */
  private def deadRowsPerShard: Long =
    spark.conf.getOption("graft.maintenance.deadRowsPerShard")
      .map(_.toLong).filter(_ > 0).getOrElse(4L * 1000 * 1000)

  /** Lay a (_file, _pos) dead set down as RANGE-PARTITIONED positional
    * delete parquet under `delDir` and return one [[DeleteFile]] entry
    * per written file with exact recomputed coverage. Ranging on
    * (_file, _pos) keeps the written shards PAIRWISE DISJOINT by
    * construction, so the additive dead-count arithmetic (record_count,
    * per-file coverage sums) is unchanged from the single-shard shape —
    * and the sort/write parallelizes across `approxRows/DeadRowsPerShard`
    * tasks instead of one. `approxRows` only sizes the layout (an
    * overestimate just yields smaller shards); the coverage recompute
    * below is exact regardless. */
  private def writeDeadShards(dead: DataFrame, delDir: Path,
      delDirRel: String, approxRows: Long): Seq[DeleteFile] = {
    val perShard = deadRowsPerShard
    val n = math.min(4096L, math.max(1L,
      (approxRows + perShard - 1) / perShard)).toInt
    val laid =
      if (n == 1) dead.repartition(1)
      else dead.repartitionByRange(n, col("_file"), col("_pos"))
    laid.sortWithinPartitions("_file", "_pos")
      .write.mode("overwrite").parquet(writeUri(delDir))
    deleteCoverage(delDir, delDirRel, listParquetFiles(delDir))
  }

  /** Consolidate POSITION-delete files without touching data (Iceberg
    * `rewrite_position_delete_files`): the steady-state CDC writer leaves
    * one tiny delete file per commit, and every merged read of a covered
    * file opens all of its covering shards — at 100 TB that is thousands
    * of KB-sized objects on the hot path. This folds the admitted
    * positional delete files into a sorted, deduplicated, RANGE-SHARDED
    * set (cost: the DELETE data, never the table; see
    * [[writeDeadShards]] for why the write parallelizes), recomputes
    * exact per-file coverage, and commits a snapshot with the SAME data
    * files. Equality-delete files carry verbatim (their key semantics
    * cannot merge with positions). Positions naming files a partial
    * rewrite already dropped are swept here too — reads never looked at
    * them (dead files are never scanned) but carrying them forward
    * perpetuates coverage debt. The commit rides operation "compact":
    * row-preserving by definition, so incremental walks, the streaming
    * tail, and the CDC stream all treat it as the no-op it is.
    *
    * `where` scopes the maintenance (Iceberg's `where =>` shape for
    * delete maintenance): a shard is admitted iff it covers ANY file the
    * predicate admits ([[pruneFiles]] — footer stats, bucket dirs and
    * hidden-transform dirs all participate); out-of-scope shards carry
    * VERBATIM. An eq-heavy CDC table wants "fold yesterday's partition",
    * not a whole-table pass. Returns None when fewer than two positional
    * shards are admitted. Old delete parquet stays referenced by history
    * until expire, then sweeps as usual. */
  def compactDeleteFiles(db: String, table: String,
      where: Option[Column] = None): Option[Snapshot] =
    withTableLock(db, table) { st =>
      val prevEntry = st.commitBase
      val prev = materialize(st, prevEntry)
      val (pos, eq) = prev.deleteFiles.partition(_.isPositional)
      val live = prev.files.toSet
      val (fold, carryPos) = where match {
        case None => (pos, Seq.empty[DeleteFile])
        case Some(cond) =>
          val admitted = prune(db, table, prev, cond)._1.toSet
          pos.partition(_.covers.keysIterator.exists(admitted))
      }
      if (fold.size < 2) return None
      val newId = st.nextId
      val tag = attemptTag()
      val root = tablePath(db, table)
      val delDirRel = s"deletes/s$newId$tag"
      val delDir = root.resolve("deletes").resolve(s"s$newId$tag")
      // drop positions on files no longer in the snapshot (a partial
      // rewrite re-homed their rows; the stale names are read-path inert
      // but pollute coverage) — live-file names are metadata-sized, AQE
      // broadcasts the small side
      val liveDf = spark.createDataFrame(
        live.toSeq.sorted.map(Tuple1(_))).toDF("__live_file")
      val dead = spark.read.schema(deleteFileSchema)
        .parquet(fold.map(d => root.resolve(d.path).toString): _*)
        .dropDuplicates("_file", "_pos")
        .join(liveDf, col("_file") === col("__live_file"), "left_semi")
      // positional shards are pairwise disjoint by the writer invariant,
      // so the metadata coverage sum sizes the ranged write exactly
      // (at worst an overestimate when stale positions drop) — no extra job
      val consolidated = writeDeadShards(dead, delDir, delDirRel,
        fold.iterator.map(_.covers.values.sum).sum)
      val newDeletes = consolidated ++ carryPos ++ eq
      val shardName = deleteShardName(newId, tag)
      writeDeleteShard(db, table, shardName, newDeletes)
      val snap = Snapshot(newId, clock().toString, "compact",
        prev.summary ++ Map(
          "record_count" -> prev.recordCount.toString,
          "added_records" -> "0", "added_files" -> "0",
          "deleted_records" -> "0",
          "total_files" -> prev.files.size.toString,
          "delete_files" -> newDeletes.size.toString,
          "rewritten_delete_files" -> fold.size.toString),
        prev.schemaDdl, prev.files, prev.fileStats, newDeletes)
      Some(commitSnapshot(st, snap, prevEntry.manifests,
        Manifest.empty, Seq(shardName)).snap)
    }

  /** Convert EQUALITY delete shards into consolidated POSITIONAL deletes
    * (Iceberg's `convert_equality_deletes` maintenance shape): ONE scan
    * of the shards' covered LIVE files, through the per-file reader in
    * its `killedBy` mode ([[readMerged]]), materializes the exact (file,
    * pos) pairs the eq shards kill and no positional shard already kills
    * — each file matched against the eq shards that cover it, the same
    * per-file rule as the read path — and the commit swaps the eq shards
    * for a range-sharded positional set ([[writeDeadShards]]).
    * Coverage is intersected with the CURRENT snapshot's files first:
    * `carryDeleteShards` keeps a shard if ANY covered file survives a
    * partial rewrite, so covers can name rewritten-away files — scanning
    * those would read parquet expire may have removed, and recording
    * their positions would understate record_count. Data files untouched
    * (operation "compact": a row-preserving delete-maintenance rewrite,
    * like [[compactDeleteFiles]]). Reads get cheaper twice over: position
    * lookups replace key-tuple probes, and the per-shard coverage
    * bookkeeping collapses. Rows also dead under a carried eq shard just
    * re-record — either kill suffices.
    *
    * `where` scopes the conversion: an eq shard is admitted iff it covers
    * ANY live file the predicate admits ([[pruneFiles]]); admitted shards
    * convert WHOLE (their full live coverage scans, so the swap stays
    * exactly semantics-preserving), out-of-scope shards carry VERBATIM.
    * Run it like any compaction: steady-state maintenance after eq-heavy
    * CDC ingest, partition-scoped where the ingest is. */
  def convertEqualityDeletes(db: String, table: String,
      where: Option[Column] = None): Option[Snapshot] =
    withTableLock(db, table) { st =>
      val prevEntry = st.commitBase
      val prev = materialize(st, prevEntry)
      val (pos, eqAll) = prev.deleteFiles.partition(_.isPositional)
      val live = prev.files.toSet
      val (eq, carryEq) = where match {
        case None => (eqAll, Seq.empty[DeleteFile])
        case Some(cond) =>
          val admitted = prune(db, table, prev, cond)._1.toSet
          eqAll.partition(_.covers.keysIterator.filter(live).exists(admitted))
      }
      if (eq.isEmpty) return None
      val newId = st.nextId
      val tag = attemptTag()
      val root = tablePath(db, table)
      // only LIVE covered files participate (rewritten-away names are
      // read-path inert and may no longer exist on disk)
      val covered = eq.flatMap(_.covers.keys).distinct.filter(live).sorted
      val delDirRel = s"deletes/s$newId$tag"
      val delDir = root.resolve("deletes").resolve(s"s$newId$tag")
      val converted =
        if (covered.isEmpty) Seq.empty[DeleteFile] // no live coverage at all
        else {
          // the rows each file's covering eq shards kill that no
          // positional shard already kills, found inside the reader:
          // positional shards are pairwise disjoint by the delete-writer
          // invariant, and keeping the converted shards disjoint too lets
          // per-file dead COUNTS stay additive (exact metadata
          // record_count below, [[deadRows]] arithmetic)
          val dead = readMerged(db, table, prev.copy(deleteFiles = pos), covered,
              IdentityFields, killedBy = Some(eq))
            .select(col(MorFileCol).as("_file"), col(MorPosCol).as("_pos"))
          // size the ranged write from the materialized dead set — one
          // cached pass, never a second scan of the covered files
          dead.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val shards = writeDeadShards(dead, delDir, delDirRel,
              OnePass.aggregate(dead, Seq(count(lit(1)))).getLong(0))
            if (shards.isEmpty) deleteRecursively(delDir) // eq shards killed nothing
            shards
          } finally dead.unpersist()
        }
      val newDeletes = pos ++ converted ++ carryEq
      // with every shard positional AND pairwise disjoint, the visible
      // count is pure metadata again: footer rows minus LIVE dead
      // positions — the eq shards' "unknowable without a scan" debt
      // retires here. A scoped run that carries eq shards keeps the
      // honest unknown.
      val posDead = newDeletes.iterator.filter(_.isPositional)
        .map(_.covers.iterator.filter(c => live(c._1)).map(_._2).sum).sum
      val recordCount =
        if (carryEq.isEmpty &&
            prev.files.forall(f => prev.fileStats.get(f).exists(_.contains("rows"))))
          (prev.files.iterator.map(f => prev.fileStats(f)("rows").toLong).sum
            - posDead).toString
        else prev.recordCount.toString
      val shardName = deleteShardName(newId, tag)
      writeDeleteShard(db, table, shardName, newDeletes)
      val snap = Snapshot(newId, clock().toString, "compact",
        prev.summary ++ Map(
          "record_count" -> recordCount,
          "added_records" -> "0", "added_files" -> "0",
          "deleted_records" -> "0",
          "total_files" -> prev.files.size.toString,
          "delete_files" -> newDeletes.size.toString,
          "converted_delete_files" -> eq.size.toString),
        prev.schemaDdl, prev.files, prev.fileStats, newDeletes)
      Some(commitSnapshot(st, snap, prevEntry.manifests,
        Manifest.empty, Seq(shardName)).snap)
    }

  /** TARGETED small-file compaction (Iceberg `rewrite_data_files` bin-pack
    * strategy): rewrite only the current snapshot's files smaller than
    * `smallBytes`, coalescing them into ~`targetBytes` outputs; every file
    * at or above the threshold carries over VERBATIM with its stats.
    *
    * This — not [[compact]] — is the steady-state maintenance op at 100 TB:
    * a streaming sink or frequent small appends leave a daily tail of tiny
    * files, and folding them in costs the debris, never the lake. A full
    * `compact()` of a 100-TB table rewrites 100 TB; `rewriteSmallFiles`
    * rewrites the few GB that need it. File sizes come from the `bytes`
    * footer stat recorded at commit time (pointer-log metadata, no
    * filesystem listing); files committed before size recording fall back
    * to one `stat` each, on the driver, still zero data reads.
    *
    * `where` scopes the pack the same way the delete-maintenance
    * procedures scope theirs: only sub-threshold files the predicate
    * ADMITS ([[pruneFiles]] — footer stats, bucket dirs, transform dirs)
    * fold; everything else carries verbatim. "Pack yesterday's
    * partition" instead of listing the lake's debris.
    *
    * Returns None (no commit) when fewer than two files are below the
    * threshold — rewriting one small file into one small file is churn. */
  def rewriteSmallFiles(db: String, table: String, smallBytes: Long,
      targetBytes: Long,
      where: Option[Column] = None): Option[Snapshot] = withTableLock(db, table) { st =>
    require(smallBytes > 0 && targetBytes > 0,
      s"thresholds must be positive: smallBytes=$smallBytes targetBytes=$targetBytes")
    val snap = materialize(st, st.published)
    val root = tablePath(db, table)
    def sizeOf(f: String): Long =
      snap.fileStats.get(f).flatMap(_.get("bytes")).map(_.toLong)
        .getOrElse(Files.size(root.resolve(f)))
    val (small0, big0) = snap.files.partition(sizeOf(_) < smallBytes)
    val (small, big) = where match {
      case None => (small0, big0)
      case Some(cond) =>
        val admitted = prune(db, table, snap, cond)._1.toSet
        val (in, out) = small0.partition(admitted)
        (in, big0 ++ out)
    }
    if (small.size < 2) None
    else {
      val totalSmall = small.map(sizeOf).sum
      val nOut = math.max(1L, (totalSmall + targetBytes - 1) / targetBytes).toInt
      // readVisible keeps partition columns live (per-snapshot-dir basePath)
      // and merges any position deletes on the rewritten files; commit()
      // re-partitionBys, so hive/bucket layouts survive
      val smallRows =
        if (rowLineageEnabled(db, table)) readVisibleWithRidSeq(db, table, snap, small)
        else readVisible(db, table, snap, small)
      val rewrite = smallRows.repartition(nOut)
      Some(commit(st, rewrite, "rewrite",
        carryFiles = big, carryStats = snap.fileStats).snap)
    }
  }

  /** SCOPED compaction (Iceberg `rewrite_data_files(where => ...)`): fold
    * only the files whose stats/layout ADMIT `cond` — the operational
    * shape for partition-scoped maintenance ("compact yesterday's
    * partition") where a whole-table [[compact]] would rewrite the lake.
    * Selection is file-granular ([[pruneFiles]] — footer stats, bucket
    * dirs, hidden-transform dirs all participate); admitted files
    * rewrite into `numFiles` outputs with their deletes materialized and
    * lineage columns carried, everything else carries verbatim with its
    * stats. Row-preserving by construction (commits as "compact", so
    * incremental/streaming consumers see a no-op). Returns None when
    * fewer than two files are admitted — nothing worth folding. */
  def compactWhere(db: String, table: String, cond: Column,
      numFiles: Int): Option[Snapshot] = withTableLock(db, table) { st =>
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    // TWO-LEVEL like [[delete]]: out-of-scope shards carry by name unparsed
    val e = st.published
    val res = resolveWhere(st, e.snapshotId, cond)
    val cands = res.kept
    if (cands.size < 2) None
    else {
      val untouched = res.snap.files.filterNot(cands.toSet)
      val skipped = e.manifests.filterNot(res.openedNames.toSet)
      val snap = res.snap
      val rows =
        if (rowLineageEnabled(db, table)) readVisibleWithRidSeq(db, table, snap, cands)
        else readVisible(db, table, snap, cands)
      Some(commit(st, rows.repartition(numFiles), "compact",
        carryFiles = untouched, carryStats = snap.fileStats,
        carryShards = skipped).snap)
    }
  }

  /** Z-ORDER compaction (Iceberg `rewrite_data_files(strategy => 'sort',
    * sort_order => 'zorder(...)')`): rewrite the current snapshot clustered
    * on the interleaved bit representation of `cols`, so per-file [min,max]
    * ranges become tight on EVERY z-column at once and [[pruneFiles]] can
    * skip files for predicates on any of them — plain range compaction
    * only ever helps its one sort column.
    *
    * Each column is linearly bucketed to 8 bits between the SNAPSHOT's own
    * min/max (already in the summary from the commit Observation — no extra
    * scan), buckets are bit-interleaved into the z-value, and one range
    * shuffle on it lays files out along the curve. All per-row math is
    * codegen'd builtins (`width_bucket`, shifts, masks).
    */
  def compactZOrder(db: String, table: String, cols: Seq[String],
      numFiles: Int): Snapshot = withTableLock(db, table) { st =>
    require(cols.size >= 2, "z-order needs at least two columns (use compact for one)")
    val snap = materialize(st, st.published)
    val schema = snap.schema
    val bits = 8
    val interleaved = cols.zipWithIndex.map { case (c, ci) =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      require(ColumnStats.statable(f.dataType) && f.dataType.typeName != "string",
        s"z-order column $c must be numeric (got ${f.dataType.sql})")
      val (mn, mx) = (snap.summary.get(s"min.$c"), snap.summary.get(s"max.$c")) match {
        case (Some(a), Some(b)) => (a.toDouble, b.toDouble)
        case _ =>
          // merge-on-read delete/update commits drop summary bounds (the
          // extremum row may be dead — absent is honest). For BUCKETING a
          // range is all that's needed, and per-file footer bounds are
          // OUTER bounds of the live rows: a slightly-wide range only
          // coarsens buckets, it never mis-clusters — so z-order right
          // after MoR DML works (and this compact is exactly the operation
          // that restores exact summary bounds).
          val mins = snap.files.flatMap(f =>
            snap.fileStats.get(f).flatMap(_.get(s"min.$c"))).map(_.toDouble)
          val maxs = snap.files.flatMap(f =>
            snap.fileStats.get(f).flatMap(_.get(s"max.$c"))).map(_.toDouble)
          if (mins.nonEmpty && maxs.nonEmpty) (mins.min, maxs.max)
          else throw new IllegalStateException(
            s"no usable bounds for $c (no snapshot stats and no per-file " +
              "footer bounds) — commit through this catalog first")
      }
      // bucket 0..255 (width_bucket yields 1..n+1; clamp and shift to 0-based)
      val bucket = least(greatest(
        width_bucket(col(s"`$c`").cast("double"), lit(mn), lit(mx + 1e-9), lit(1 << bits)) - 1,
        lit(0)), lit((1 << bits) - 1)).cast("long")
      // spread this column's 8 bucket bits to every cols.size-th z bit
      (0 until bits).map { b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * cols.size + ci)
      }.reduce((a, b) => a.bitwiseOR(b))
    }.reduce((a, b) => a.bitwiseOR(b))
    val base =
      if (rowLineageEnabled(db, table))
        readVisibleWithRidSeq(db, table, snap, snap.files)
      else readVisible(db, table, snap, snap.files)
    val z = base
      .withColumn("__z", interleaved)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(st, z, "compact").snap
  }

  /** Snapshot expiration: keep only the most recent `keepLast` snapshots,
    * delete log entries and any data files no surviving snapshot
    * references (Iceberg `expire_snapshots` semantics — bounds storage
    * growth from overwrite/compact chains). Returns deleted file count. */
  def expireSnapshots(db: String, table: String, keepLast: Int): Int = withTableLock(db, table) { st =>
    require(keepLast >= 1, "must keep at least one snapshot")
    expireOldest(st, keepOldest = entries => entries.size - keepLast)
  }

  /** Time-based retention (Iceberg `expire_snapshots(older_than => ts)`):
    * expire every snapshot committed AT OR BEFORE `olderThan`, always
    * keeping at least the `keepLast` most recent regardless of age — a
    * retention sweep must never leave the table without a current state.
    * Returns deleted data-file count, like [[expireSnapshots]]. */
  def expireSnapshotsOlderThan(db: String, table: String, olderThan: Instant,
      keepLast: Int = 1): Int = withTableLock(db, table) { st =>
    require(keepLast >= 1, "must keep at least one snapshot")
    expireOldest(st, keepOldest = { entries =>
      val byAge = entries.indexWhere(e => Instant.parse(e.committedAt).isAfter(olderThan))
      val aged = if (byAge < 0) entries.size else byAge
      math.min(aged, entries.size - keepLast)
    })
  }

  /** Shared expire body: drop the oldest `keepOldest(entries)` entries, then
    * GC data files and manifest shards nothing kept references. Commit the
    * trimmed log FIRST (atomic rename), delete after — Iceberg's ordering: a
    * crash mid-delete leaves only orphans a re-run can sweep, never live log
    * entries pointing at deleted files. */
  private def expireOldest(st: TableState,
      keepOldest: Seq[SnapshotEntry] => Int): Int = {
    val (db, table, entries) = (st.db, st.table, st.entries)
    // an expire that kept ONLY a staged tail would leave a table with no
    // published state; resolve the pending audit first
    st.requireNoPendingStage()
    val n = keepOldest(entries)
    if (n <= 0) return 0
    // named refs PROTECT their targets (Iceberg retention semantics for
    // refs): a tagged audit point or a live branch head must survive any
    // positional retention sweep — dropping the ref is the explicit act
    // that releases the snapshot. A branch head additionally protects its
    // recorded parent CHAIN of branch commits: expiring an interior link
    // would make a still-legitimate fastForward unable to prove ancestry.
    val tm = meta(db, table)
    val byId = entries.map(e => e.snapshotId -> e).toMap
    def branchChain(id: Long, acc: Set[Long]): Set[Long] = byId.get(id) match {
      case Some(e) if e.summary.contains("branch.ref") && !acc(id) =>
        branchChain(e.summary("branch.parent").toLong, acc + id)
      case _ => acc
    }
    // …and the PUBLISHED head always survives: a positional tail made of
    // branch commits alone would otherwise leave the table stateless
    val protectedIds = tm.refs.values.toSet ++
      tm.branches.values.flatMap(h => branchChain(h, Set.empty) + h).toSet +
      st.published.snapshotId
    val (expired, kept0) = {
      val (e, k) = entries.splitAt(n)
      val (rescued, reallyExpired) = e.partition(x => protectedIds(x.snapshotId))
      (reallyExpired, rescued ++ k)
    }
    val kept = kept0.sortBy(_.snapshotId)
    val root = tablePath(db, table)
    // TWO-LEVEL GC: shard reuse means most of an expired entry's shards
    // are still referenced by kept entries — those never parse. Only
    // shards referenced EXCLUSIVELY by expired entries (the doomed ones)
    // enumerate their files, and the kept-side subtraction (a file can be
    // re-listed by several shards: partial-carry deltas repeat carried
    // files) parses only kept shards whose recorded dir set overlaps a
    // doomed file's dir — disjoint dir sets cannot share a file. Expiring
    // a short tail of a 10^6-file history parses the tail's shards, never
    // the inventory.
    val keptManifests = kept.flatMap(_.manifests).toSet
    val doomedManifests = expired.flatMap(_.manifests)
      .distinct.filterNot(keptManifests.contains)
    val keptDelShards = kept.flatMap(_.deletes).toSet
    val doomedDelShards = expired.flatMap(_.deletes)
      .distinct.filterNot(keptDelShards.contains)
    val doomedShardFiles = doomedManifests
      .flatMap(loadManifest(db, table, _).files).distinct
    val doomedDirs = doomedShardFiles.map(_.split("/").take(2).mkString("/")).toSet
    val sums = st.summaries
    val overlappingKept =
      if (doomedDirs.isEmpty) Seq.empty // nothing doomed: nothing to subtract
      else keptManifests.toSeq.filter(n =>
        sums.get(n).flatMap(_.dirs) match {
          case Some(ds) => ds.exists(doomedDirs.contains)
          case None => true // no recorded dirs: parse — degrade, never break
        })
    val keptFiles = overlappingKept
      .flatMap(loadManifest(db, table, _).files).toSet
    val doomed = doomedShardFiles.filterNot(keptFiles.contains)
    // position-delete files follow the same rule: reclaim those only
    // expired snapshots reference (delete shards are KB-sized metadata —
    // they load in full, as everywhere)
    val keptDeletes = kept.flatMap(_.deletes).distinct
      .flatMap(loadDeleteShard(db, table, _)).map(_.path).toSet
    val doomedDeletes = expired.flatMap(_.deletes).distinct
      .flatMap(loadDeleteShard(db, table, _)).map(_.path)
      .distinct.filterNot(keptDeletes.contains)
    // commit the trimmed log FIRST (atomic rename), then delete unreferenced
    // files — Iceberg-style ordering. A crash mid-delete leaves only harmless
    // orphan files a re-run can sweep; the reverse order would leave live log
    // entries pointing at deleted files (readAsOf -> FileNotFound).
    writeEntries(st, kept)
    doomedManifests.foreach { name =>
      val p = manifestPath(db, table, name)
      SnapshotCatalog.manifestCache.remove(p.toAbsolutePath.normalize().toString)
      if (Files.exists(p)) Files.delete(p)
    }
    doomedDelShards.foreach { name =>
      val p = manifestPath(db, table, name)
      SnapshotCatalog.deleteShardCache.remove(p.toAbsolutePath.normalize().toString)
      if (Files.exists(p)) Files.delete(p)
    }
    (doomedDeletes ++ doomed).foreach { f =>
      val p = root.resolve(f)
      if (Files.exists(p)) Files.delete(p)
    }
    doomed.size
  }

  /** Delete data files no snapshot references (Iceberg
    * `remove_orphan_files`): the debris of failed/aborted writes — a
    * commit writes its data directory BEFORE the log rename, so a crash
    * in between leaves files the log never adopted. Walks `data/`,
    * deletes unreferenced parquet files plus writer marker files
    * (_SUCCESS) of dead snapshot dirs, then removes empty dirs. Single
    * writer assumed (as documented on the commit protocol): do not run
    * concurrently with a write. Returns deleted data-file paths
    * (table-root-relative). */
  def removeOrphanFiles(db: String, table: String): Seq[String] = withTableLock(db, table) { st =>
    val snaps = st.entries.map(materialize(st, _))
    val root = tablePath(db, table)
    val deleted = Seq.newBuilder[String]
    // data/ and deletes/ follow the same sweep: a crashed MoR delete
    // leaves unadopted position files exactly like a crashed write leaves
    // unadopted data files
    def sweep(dirTop: Path, referenced: Set[String]): Unit = {
      if (!Files.isDirectory(dirTop)) return
      val liveDirs = referenced.map(_.split("/").take(2).mkString("/"))
      val walk = Files.walk(dirTop)
      try {
        walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val rel = root.relativize(p).toString.replace('\\', '/')
          val name = p.getFileName.toString
          val isData = name.endsWith(".parquet")
          val inLiveDir = liveDirs.contains(rel.split("/").take(2).mkString("/"))
          if (isData && !referenced.contains(rel)) {
            Files.delete(p); deleted += rel
          } else if (!isData && !inLiveDir) {
            Files.delete(p) // writer markers of dead snapshot dirs
          }
        }
      } finally walk.close()
      // sweep now-empty snapshot dirs
      val dirs = Files.walk(dirTop)
      try {
        dirs.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
          .filter(p => Files.isDirectory(p) && p != dirTop)
          .foreach { p => if (!withList(p)(_.hasNext)) Files.delete(p) }
      } finally dirs.close()
    }
    sweep(dataPath(db, table), snaps.flatMap(_.files).toSet)
    sweep(root.resolve("deletes"), snaps.flatMap(_.deleteFiles.map(_.path)).toSet)
    // sweep orphan manifest + delete shards too: a crash between a shard
    // write and the pointer-log rename (or between an expire's log write
    // and its shard deletions) leaves m<id>.json / d<id>.json files no
    // entry references — each can be O(files) sized, and nothing else ever
    // reclaims them
    val em = st.entries
    val referencedShards = (em.flatMap(_.manifests) ++ em.flatMap(_.deletes)).toSet
    val snapsDir = logPath(db, table).getParent
    withList(snapsDir)(_.filter { p =>
      val n = p.getFileName.toString
      (n.startsWith("m") || n.startsWith("d")) && n.endsWith(".json") &&
        !referencedShards.contains(n)
    }.toSeq).foreach { p =>
      SnapshotCatalog.manifestCache.remove(p.toAbsolutePath.normalize().toString)
      SnapshotCatalog.deleteShardCache.remove(p.toAbsolutePath.normalize().toString)
      Files.delete(p)
      deleted += root.relativize(p).toString.replace('\\', '/')
    }
    deleted.result()
  }

  /** The streaming-sink high-water marks of a summary (carried forward by
    * every commit kind — see [[graft.streaming.EventStream.appendEpoch]]). */
  private def streamEpochTags(summary: Map[String, String]): Map[String, String] =
    summary.view.filterKeys(_.startsWith("stream-epoch.")).toMap

  // ---- commit mutual exclusion ----

  /** Serialize read-modify-write cycles on a table's log/meta: two
    * concurrent appenders both reading log tail N and both publishing a
    * log with snapshot N+1 would silently lose one commit — the publish
    * is atomic, the cycle is not. Each attempt of `body` gets ONE freshly
    * loaded [[TableState]]: the body derives its commit from it and
    * publishes under its etag, and a [[CasCommitMutex]] retry re-runs the
    * body against a fresh load. COMMITS.md documents the protocol. */
  private def withTableLock[T](db: String, table: String)(body: TableState => T): T =
    lockTable(db, table)(body(loadTable(db, table)))

  /** The mutual exclusion under [[withTableLock]], also taken alone by
    * bodies that change only the table document (properties, spec,
    * refs), never the pointer log. The actual mechanism is the
    * constructor-injected [[CommitMutex]] (default: OS file lock on
    * `_snapshots/LOCK` + JVM monitor); this method is the catalog's ONLY
    * call site, so an object-store deployment swaps the primitive —
    * conditional-put CAS with retry — without touching a commit path. */
  private def lockTable[T](db: String, table: String)(body: => T): T = {
    require(tableExists(db, table), s"no such table: $db.$table")
    val lockPath = tablePath(db, table).resolve("_snapshots").resolve("LOCK")
    // normalize: "wh" and "./wh" must map to ONE mutex key, or two catalog
    // instances would race each other (symlinked warehouse spellings
    // remain the caller's responsibility)
    val key = lockPath.toAbsolutePath.normalize().toString
    // reentrant per thread: a transaction holds every member table's lock
    // across its stage and publish commits
    if (SnapshotCatalog.heldLocks.get().contains(key)) return body
    mutex.withLock(key, lockPath) {
      // re-check under the lock: a renameTable/dropTable that held it
      // moved/removed the table while we were blocked — fail with a
      // clear error and sweep the skeleton the lock acquisition recreated
      // (an empty _snapshots/ + LOCK under the stale path)
      if (!tableExists(db, table)) {
        try {
          Files.deleteIfExists(lockPath)
          Files.deleteIfExists(lockPath.getParent)        // _snapshots if empty
          Files.deleteIfExists(lockPath.getParent.getParent) // table dir if empty
        } catch { case _: java.io.IOException => () }
        throw new IllegalStateException(
          s"table $db.$table was concurrently dropped or renamed")
      }
      SnapshotCatalog.heldLocks.get().add(key)
      try body finally SnapshotCatalog.heldLocks.get().remove(key)
    }
  }

  // ---- io helpers ----

  private def listParquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.walk(dir)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally stream.close()
    }

  private def readString(p: Path): String = Files.readString(p)
}

object SnapshotCatalog {
  /** Merge-on-read row-identity column names: every position-tagged read
    * ([[SnapshotCatalog.readDeltaScan]], the delete-writer scans) exposes
    * the scanned row's table-root-relative file path and in-file ordinal
    * under these names. Public because the SQL plugin surfaces them as V2
    * METADATA COLUMNS — the row id of the SupportsDelta rewrite (Iceberg's
    * `_file`/`_pos` equivalent). */
  val MorFileCol = "__graft_mor_file"
  val MorPosCol = "__graft_mor_pos"

  /** Frees the blocks of a `localCheckpoint`ed frame. `Dataset.unpersist`
    * only reaches the cache manager; a local checkpoint's blocks belong to
    * the RDD under its plan, and stay registered until the context cleaner
    * collects them unless that RDD is unpersisted. A frame with no
    * checkpoint under it is left as it is. */
  private[graft] def releaseCheckpoint(f: DataFrame): Unit =
    f.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Wall-clock phase timing for the commit path, gated on
    * `-Dgraft.debug.timing=true` — measurement scaffolding (guide §1:
    * measure first), zero cost when off. */
  private[catalog] val debugTiming: Boolean =
    sys.props.get("graft.debug.timing").contains("true")
  @inline private[catalog] def timed[A](tag: => String)(f: => A): A =
    if (!debugTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[timing] $tag ${(System.nanoTime() - t0) / 1e6}%.1fms")
      r
    }

  /** Most distinct key tuples a delete pass holds on the driver: up to
    * this many, [[SnapshotCatalog.upsertMoR]] matches its keys as an
    * inline `IN` on the candidate scan and [[SnapshotCatalog.deleteMoREq]]
    * scopes and writes a local key frame in this JVM; past it both keep
    * their distributed paths. */
  private[graft] val InlineKeyBound = 1024

  /** The distinct rows of `keys` while it plans to a `LocalRelation` and
    * holds at most [[InlineKeyBound]] of them, collected with no Spark
    * job; `None` otherwise. Binary fields compare by content. */
  private[catalog] def smallKeySet(keys: DataFrame): Option[Seq[Row]] =
    if (!keys.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) None
    else {
      val all = keys.collect().iterator.distinctBy(keyOf).take(InlineKeyBound + 1).toSeq
      Option.when(all.sizeIs <= InlineKeyBound)(all)
    }

  /** What one pass over a single-column key set learned: its distinct
    * `values` while they number at most [[InlineKeyBound]] (`None` past
    * it), the least and greatest non-null key, and whether a null key is
    * present. */
  private[catalog] final case class KeyProbe(values: Option[Seq[Any]],
      range: Option[(Any, Any)], hasNull: Boolean)

  /** [[KeyProbe]] of the union of `frames` (one key column of type `dt`,
    * an [[inlineMatchable]] type). Frames that plan to a `LocalRelation`
    * collect with no Spark job; otherwise one job: each task keeps up to
    * `InlineKeyBound + 1` distinct keys and folds its own range and null
    * flag, and the driver merges them. */
  private[catalog] def probeKeys(frames: Seq[DataFrame],
      dt: org.apache.spark.sql.types.DataType): KeyProbe = {
    val bound = InlineKeyBound
    def ends(r: Option[(Any, Any)]): Seq[Any] = r.toSeq.flatMap(p => Seq(p._1, p._2))
    val parts: Seq[(Array[Any], Option[(Any, Any)], Boolean)] =
      if (frames.forall(_.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]))
        frames.map { f =>
          val vs = f.collect().map(_.get(0))
          (vs.distinct.take(bound + 1), keyRange(dt, vs.toSeq), vs.contains(null))
        }
      else frames.reduce(_.unionByName(_)).rdd.mapPartitions { rows =>
        val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
        val chunk = scala.collection.mutable.ArrayBuffer.empty[Any]
        var range = Option.empty[(Any, Any)]
        var hasNull = false
        def fold(): Unit = { range = keyRange(dt, chunk.toSeq ++ ends(range)); chunk.clear() }
        rows.foreach { r =>
          val v = r.get(0)
          if (v == null) hasNull = true
          else { chunk += v; if (chunk.size >= 4096) fold() }
          if (seen.size <= bound) seen += v
        }
        fold()
        Iterator.single((seen.toArray, range, hasNull))
      }.collect().toSeq
    val values = parts.iterator.flatMap(_._1).distinct.take(bound + 1).toSeq
    KeyProbe(Option.when(values.sizeIs <= bound)(values),
      keyRange(dt, parts.flatMap(p => ends(p._2))), parts.exists(_._3))
  }

  private def keyOf(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  /** The least and greatest non-null `values` (external values of type
    * `dt`) in Spark's ordering; `None` when all are null or there are
    * none. */
  private[catalog] def keyRange(dt: org.apache.spark.sql.types.DataType,
      values: Seq[Any]): Option[(Any, Any)] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = TypeUtils.getInterpretedOrdering(dt).on(toCatalyst)
    val vs = values.filter(_ != null)
    if (vs.isEmpty) None else Some((vs.min(ord), vs.max(ord)))
  }

  /** Key types an inline `IN` matches exactly as an equi-join on the key
    * does: `In` and `InSet` equate NaN with NaN and -0.0 with 0.0, as the
    * join's float normalization does. Binary keys would compare by
    * reference on the driver. */
  private[catalog] def inlineMatchable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
      case StringType | _: DecimalType => true
      case _ => false
    }
  }


  /** Hidden partial columns an augmented aggregate-MV backing carries
    * alongside its visible outputs: group row count, per-sum non-null
    * counts, per-avg sum+count decompositions (`i` = output position in
    * the view's select list). Shared by the retraction merge and by
    * [[graft.catalog.spark.MvRewriteRule]]'s rollup derivations. */
  private[graft] val MvPartialRows = "__mv_n"
  private[graft] def mvPartialSum(i: Int): String = s"__mv_s$i"
  private[graft] def mvPartialCnt(i: Int): String = s"__mv_c$i"
  /** Value column of a DISTINCT-aggregate copy-count sidecar. */
  private[graft] val MvDvValue = "__mv_v"

  /** Planning instrumentation: total [[loadManifest]] calls ("opens") and
    * cache-miss JSON parses — the two-level planner's spec gates assert a
    * pinned-partition plan opens only the matching shards. Test-visible,
    * never consulted by product logic. */
  private[graft] val manifestOpens = new java.util.concurrent.atomic.AtomicLong
  /** Pointer-log reads ([[SnapshotCatalog.loadTable]] calls), JVM-wide:
    * the spec gates count the reads one operation makes. */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong
  /** Drop the JVM-wide parse cache (spec-only): cold-cache parse counts
    * are how the shard-skip gates prove skipped shards were never read. */
  private[graft] def clearManifestCacheForTest(): Unit = manifestCache.clear()

  /** Thread names the LAST clone's link pass ran on (spec-only): the
    * pool-isolation gate asserts they are the dedicated clone pool's,
    * never common-ForkJoinPool workers. */
  @volatile private[graft] var lastCloneThreads: Set[String] = Set.empty

  /** Lock paths held by the current thread (reentrancy). */
  private val heldLocks: ThreadLocal[java.util.HashSet[String]] =
    ThreadLocal.withInitial(() => new java.util.HashSet[String]())

  /** JVM-wide parsed-manifest LRU, keyed by absolute shard path. Sound
    * because shards are write-once; bounded so a long-lived session over
    * many tables can't accumulate every shard it ever resolved. Entries
    * under a table are purged on drop/recreate (same path, new content is
    * otherwise impossible by the write-once rule — EXCEPT when the whole
    * table directory is deleted and rebuilt). */
  private val manifestCache: java.util.Map[String, Manifest] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Manifest](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Manifest]): Boolean = size() > 1024
      })

  /** Parsed position-delete shards (`d<id>.json`), same write-once cache
    * discipline as data manifests. */
  private val deleteShardCache: java.util.Map[String, Vector[DeleteFile]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Vector[DeleteFile]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Vector[DeleteFile]]): Boolean = size() > 1024
      })

  /** Drop cached shards under `dir` (table/namespace drop or re-create). */
  private[graft] def purgeManifestCache(dir: Path): Unit = {
    val prefix = dir.toAbsolutePath.normalize().toString + java.io.File.separator
    manifestCache.synchronized {
      val it = manifestCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }
    deleteShardCache.synchronized {
      val it = deleteShardCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }
  }
}
