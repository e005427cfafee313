package graft.catalog.spark

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{CommitKind, SchemaEvolve, Snapshot, SnapshotCatalog, SnapshotEntry, TableMeta, TableState}

/** Spark V2 `TableCatalog` over [[graft.catalog.SnapshotCatalog]] — gives
  * the engine the reference's exact SQL operating surface without an
  * Iceberg runtime:
  *
  * {{{
  *   spark.sql.catalog.snapcat           = graft.catalog.spark.SnapCatalogPlugin
  *   spark.sql.catalog.snapcat.warehouse = /path/to/warehouse
  *
  *   SHOW TABLES IN snapcat.db                      -- 1_collect_src_snapshots.py:52
  *   SELECT * FROM snapcat.db.t                     -- current state
  *   SELECT * FROM snapcat.db.t VERSION AS OF 2     -- snapshot-id time travel
  *   SELECT * FROM snapcat.db.t TIMESTAMP AS OF '...'  -- as-of-timestamp
  *   CREATE NAMESPACE snapcat.db2                   -- 3_create_dst_tables.py:73-77
  *   CREATE TABLE snapcat.db2.t (c INT)             -- 3_create_dst_tables.py:79-92
  * }}}
  *
  * Reads delegate to Spark's own vectorized Parquet `FileTable` over the
  * snapshot's file list, so pushdown/pruning/codegen are stock. Writes ride
  * the V1 bridge into the snapshot commit protocol: INSERT INTO/OVERWRITE,
  * CTAS and RTAS (`df.write.saveAsTable`, any mode — staged through
  * [[StagingTableCatalog]], which keeps snapshot history across a replace),
  * and `ALTER TABLE ADD COLUMN` commits an `evolve` snapshot.
  */
class SnapCatalogPlugin extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with FunctionCatalog
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  /** Column DEFAULT values are first-class (Iceberg-v3 defaults):
    * `CREATE TABLE (c INT DEFAULT 5)`, `ALTER TABLE ADD COLUMN ... DEFAULT`,
    * and `ALTER COLUMN ... SET/DROP DEFAULT` all work — the analyzer
    * fills INSERTs from CURRENT_DEFAULT and reads serve the frozen
    * EXISTS_DEFAULT for pre-evolution files. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---- versioned SQL views (Iceberg view-spec shape) ----
  //
  // Spark 4.1 ships the DSv2 ViewCatalog API but no analyzer integration
  // (no V2 CREATE VIEW DDL, no view resolution — Iceberg carries its own
  // extension rules for the same reason). So: this catalog implements the
  // API faithfully, [[GraftSparkExtensions.ViewSubstitutionRule]] makes
  // plain `SELECT ... FROM cat.db.v` resolve, and the write surface rides
  // `CALL system.create_view / drop_view / restore_view / show_views /
  // view_versions`. Writes TO a view are not supported (DML targets must
  // be tables).

  /** The extensions' substitution rule reaches the underlying catalog
    * through this accessor. */
  private[spark] def snapViews: SnapshotCatalog = cat

  override def listViews(namespace: String*): Array[Identifier] =
    namespace.toSeq match {
      case Seq(db) => cat.listViews(db).map(n => Identifier.of(Array(db), n)).toArray
      case _ => Array.empty
    }

  override def viewExists(ident: Identifier): Boolean = ident.namespace() match {
    case Array(db) => cat.viewExists(db, ident.name())
    case _ => false
  }

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    val db = ident.namespace() match {
      case Array(d) => d
      case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    }
    val vm = cat.loadView(db, ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val cur = vm.currentVersion
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = s"$catalogName.$db.${ident.name()}"
      override def query(): String = cur.sql
      override def currentCatalog(): String = catalogName
      override def currentNamespace(): Array[String] = Array(db)
      override def schema(): StructType = StructType.fromDDL(cur.schemaDdl)
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = cur.columnAliases.toArray
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] =
        (vm.properties + ("current-version" -> vm.current.toString)).asJava
    }
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val db = info.ident().namespace() match {
      case Array(d) => d
      case ns => throw new IllegalArgumentException(
        s"views live one namespace deep, got ${ns.mkString(".")}")
    }
    if (cat.viewExists(db, info.ident().name()))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident())
    cat.createView(db, info.ident().name(), info.sql(),
      info.columnAliases().toSeq, info.properties().asScala.toMap)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val db = ident.namespace()(0)
    val set = changes.collect {
      case s: ViewChange.SetProperty => s.property() -> s.value() }.toMap
    val remove = changes.collect {
      case r: ViewChange.RemoveProperty => r.property() }
    cat.setViewProperties(db, ident.name(), set, remove)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = ident.namespace() match {
    case Array(db) => cat.dropView(db, ident.name())
    case _ => false
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    (from.namespace(), to.namespace()) match {
      case (Array(fd), Array(td)) => cat.renameView(fd, from.name(), td, to.name())
      case _ => throw new IllegalArgumentException("views live one namespace deep")
    }
  }

  // ---- procedures (`CALL snapcat.system.<proc>(...)` — SnapProcedures) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      SnapProcedures.all(cat).keys.toArray.sorted
        .map(n => Identifier.of(Array("system"), n))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live in the 'system' namespace: CALL $catalogName.system.${ident.name()}(...)")
    SnapProcedures.all(cat).getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"no such procedure '${ident.name()}'; available: " +
          SnapProcedures.all(cat).keys.toSeq.sorted.mkString(", ")))
  }

  // ---- functions (the bucket transform both SPJ join sides resolve) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  // one catalog per plugin instance: it holds no table state, every
  // operation loads what it reads
  private lazy val cat: SnapshotCatalog = new SnapshotCatalog(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(db => Array(db)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (cat.namespaceExists(namespace.head)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace.head))
      throw new NoSuchNamespaceException(namespace)
    (cat.namespaceProperties(namespace.head) +
      ("location" -> s"$warehouse/${namespace.head}")).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "snapcat namespaces are single-level")
    cat.createNamespace(namespace.head)
    // persist user properties; "location" is derived, never stored
    val props = metadata.asScala.toMap - "location"
    if (props.nonEmpty) cat.setNamespaceProperties(namespace.head, props)
  }

  /** SET/UNSET PROPERTIES on a namespace. Two-phase like alterTable: the
    * whole change list is validated before any property is persisted, so a
    * statement mixing a supported and an unsupported change mutates
    * nothing. */
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace.head))
      throw new NoSuchNamespaceException(namespace)
    changes.foreach {
      // 'location' is derived from the warehouse layout — reject loudly
      // rather than silently accepting-and-discarding the change
      case set: NamespaceChange.SetProperty if set.property == "location" =>
        throw new UnsupportedOperationException(
          "namespace 'location' is derived from the warehouse layout and cannot be set")
      case rm: NamespaceChange.RemoveProperty if rm.property == "location" =>
        throw new UnsupportedOperationException(
          "namespace 'location' is derived from the warehouse layout and cannot be unset")
      case _: NamespaceChange.SetProperty | _: NamespaceChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        s"ALTER NAMESPACE change not supported: $other")
    }
    val props = changes.foldLeft(cat.namespaceProperties(namespace.head)) {
      case (acc, set: NamespaceChange.SetProperty) => acc + (set.property -> set.value)
      case (acc, rm: NamespaceChange.RemoveProperty) => acc - rm.property
      case (acc, _) => acc
    }
    cat.setNamespaceProperties(namespace.head, props - "location")
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.length == 1, "snapcat namespaces are single-level")
    if (!cat.namespaceExists(namespace.head)) return false
    // RAW table listing + views: a namespace holding only a materialized
    // view (whose `__mv_*` backing table is hidden from listTables) is
    // NOT empty — non-cascade drop must refuse it (ADVICE r8)
    if ((cat.listTablesRaw(namespace.head).nonEmpty ||
         cat.listViews(namespace.head).nonEmpty) && !cascade)
      throw new IllegalStateException(s"namespace ${namespace.head} is not empty")
    cat.dropNamespace(namespace.head) // recursive: removes tables + dir
    true
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace.head))
      throw new NoSuchNamespaceException(namespace)
    cat.listTables(namespace.head).map(t => Identifier.of(namespace, t)).toArray
  }

  /** Write builder shared by live and staged tables: the V1 write bridge
    * routes `InsertableRelation.insert` straight into the catalog's commit
    * protocol, so `INSERT INTO`/append = `append` commit and
    * `INSERT OVERWRITE`/overwrite-save = `overwrite` commit — each SQL
    * write is one new snapshot, exactly like the library API. */
  private final class SnapWriteBuilder(db: String, table: String,
      startTruncated: Boolean, info: LogicalWriteInfo)
      extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
    private var overwriteAll = startTruncated
    private var dynamic = false
    private var overwriteFilters = Array.empty[org.apache.spark.sql.sources.Filter]
    override def truncate(): WriteBuilder = { overwriteAll = true; this }

    /** FILTER-scoped overwrite (`INSERT OVERWRITE t PARTITION (p='x')` in
      * static mode, `df.writeTo(t).overwrite(cond)`): delete-matching +
      * insert as one commit ([[SnapshotCatalog.overwriteWhere]]). A
      * trivially-true filter set is the full truncate. */
    override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
        : WriteBuilder = {
      if (filters.isEmpty ||
          filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
        overwriteAll = true
      else {
        val bad = filters.filterNot(FilterToColumn.translatable)
        require(bad.isEmpty,
          s"overwrite-by-filter on $catalogName.$db.$table: condition " +
            s"${bad.mkString(", ")} is not translatable to a column predicate - " +
            "use DELETE FROM + INSERT INTO, or a full INSERT OVERWRITE")
        overwriteFilters = filters
      }
      this
    }

    /** DYNAMIC partition overwrite (`INSERT OVERWRITE` under
      * `spark.sql.sources.partitionOverwriteMode=dynamic`, or
      * `df.writeTo(t).overwritePartitions()`): Spark plans
      * OverwritePartitionsDynamicExec — a REAL V2 batch write (no V1
      * fallback exists for it), so [[build]] returns the write-then-adopt
      * protocol instead of the V1 InsertableRelation. Refusals (bucketed,
      * unpartitioned, WAP-armed) fire at plan time, before any bytes. */
    override def overwriteDynamicPartitions(): WriteBuilder = {
      val tm = cat.meta(db, table)
      // a session-wide partitionOverwriteMode=dynamic plans this node for
      // EVERY overwritten table — an unpartitioned one has no partitions
      // to replace, so dynamic degenerates to the full replace (Iceberg's
      // behavior; refusing would break plain INSERT OVERWRITE under the
      // session conf). Spark still executes OverwritePartitionsDynamicExec
      // (a real batch write), so the degradation happens in the adopt step
      // ([[SnapshotCatalog.adoptDynamicOverwrite]]), not by falling back
      // to the V1 truncate path.
      require(tm.bucketSpec.isEmpty,
        s"dynamic partition overwrite of $catalogName.$db.$table: bucketed " +
          "layouts partition by key hash - replacing a bucket replaces " +
          "unrelated keys; use a static overwrite or row-level DML")
      require(!tm.properties.get("write.wap.enabled").contains("true"),
        s"dynamic partition overwrite of $catalogName.$db.$table cannot stage " +
          "under write.wap.enabled - publish via a static INSERT OVERWRITE, " +
          "or disable WAP for this write")
      dynamic = true
      this
    }

    override def build(): Write = if (dynamic) buildDynamic() else new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame, ignored: Boolean): Unit = {
            // bucketed tables hide their __bucket layout column from the
            // SQL schema; every write derives it here
            val tm = cat.meta(db, table)
            val frame = cat.deriveLayout(db, table, data)
            // write-audit-publish from SQL (Iceberg's write.wap.enabled
            // pattern): with the property set, INSERT INTO — and INSERT
            // OVERWRITE, which replaces MORE state and needs the audit
            // gate at least as much — commits a STAGED snapshot: durable,
            // addressable by id, invisible to every current-state reader
            // until CALL system.publish_staged
            val wap = tm.properties.get("write.wap.enabled").contains("true")
            if (overwriteFilters.nonEmpty) {
              // filter-scoped overwrite: delete-matching + insert, one
              // commit. No WAP staging shape exists for it (a staged
              // classification would go stale against later commits) —
              // refuse toward the supported spellings.
              require(!wap,
                s"filter-scoped INSERT OVERWRITE on $db.$table cannot stage " +
                  "under write.wap.enabled - use a full INSERT OVERWRITE " +
                  "(stages + publishes) or disable WAP for this write")
              cat.overwriteWhere(db, table,
                overwriteFilters.map(FilterToColumn(_)).reduce(_ && _), data)
            }
            else if (overwriteAll) {
              if (wap) cat.stageOverwrite(db, table, frame)
              else cat.overwrite(db, table, frame)
            }
            else if (wap) cat.stageAppend(db, table, frame)
            else cat.append(db, table, frame)
          }
        }
      // NATIVE streaming personality: append mode appends one epoch-tagged
      // snapshot per micro-batch; complete mode (Spark calls truncate())
      // overwrites table state per epoch (streaming aggregation sink)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new SnapStreamingWrite(db, table,
          if (overwriteAll) "overwrite" else "append", info,
          laidHidden = cat.meta(db, table).hiddenCols.nonEmpty)
    }

    /** The dynamic-overwrite batch write: rows land flat (visible schema)
      * in a fresh uniquely-named data dir via the stock V2 parquet writer,
      * the driver commit re-lays them into the table's hive layout
      * ([[SnapshotCatalog.relayoutLaid]] — identity dirs, hidden `__pt`
      * derivation, hash distribution all honored) and
      * [[SnapshotCatalog.adoptDynamicOverwrite]] classifies + carries the
      * untouched partitions under the table lock. A crash before the
      * adopt leaves only an orphan dir (removeOrphanFiles sweeps). */
    private def buildDynamic(): Write = new Write {
      import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
      override def description(): String = s"snapcat dynamic overwrite of $db.$table"
      override def toBatch: BatchWrite = {
        val dirName = s"dyn-${java.util.UUID.randomUUID().toString.take(12)}"
        val snapDir = java.nio.file.Paths.get(warehouse, db, table, "data", dirName)
        java.nio.file.Files.createDirectories(snapDir)
        val inner = ParquetTable(s"$db.$table dynamic overwrite", spark,
          CaseInsensitiveStringMap.empty(), Seq(snapDir.toString),
          Some(info.schema), classOf[ParquetFileFormat])
          .newWriteBuilder(info).build().toBatch
        new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            inner.createBatchWriterFactory(p)
          override def onDataWriterCommit(message: WriterCommitMessage): Unit =
            inner.onDataWriterCommit(message)
          override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            inner.commit(messages)
            val laidDir = cat.relayoutLaid(db, table, dirName)
            cat.adoptDynamicOverwrite(db, table, laidDir)
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            inner.abort(messages)
        }
      }
    }
  }

  /** Exactly-once native streaming sink (`df.writeStream.toTable(
    * "snapcat.db.t")`): each micro-batch's rows land in a fresh uniquely
    * named data dir via the stock V2 parquet batch writer, and the driver's
    * epoch commit adopts them as ONE snapshot carrying the epoch high-water
    * mark ([[SnapshotCatalog.adoptStreaming]]) — a replayed epoch after a
    * restart is detected there and dropped, upgrading Spark's at-least-once
    * sink contract to exactly-once, the same protocol as the foreachBatch
    * sink ([[graft.streaming.EventStream.appendEpoch]]) without user code.
    *
    * Micro-batch triggers are serial, so the factory->commit handoff of the
    * per-epoch writer is a single slot; the sink id defaults to the
    * streaming query id (stable across restarts from one checkpoint) and
    * can be overridden with `.option("sinkId", ...)` when two queries feed
    * one table. */
  private final class SnapStreamingWrite(db: String, table: String,
      operation: String, info: LogicalWriteInfo, laidHidden: Boolean = false)
      extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
    import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, PhysicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

    private val sinkId =
      Option(info.options.get("sinkId")).getOrElse(info.queryId())
    @volatile private var pending: Option[(BatchWrite, String)] = None

    // the inner FileBatchWrite runs the hadoop commit protocol, which does
    // its own task-commit arbitration — letting the V2 coordinator also
    // authorize attempts makes the two disagree and deny every task commit
    override def useCommitCoordinator(): Boolean = false

    override def createStreamingWriterFactory(p: PhysicalWriteInfo)
        : StreamingDataWriterFactory = {
      val dirName = s"se-${java.util.UUID.randomUUID().toString.take(12)}"
      val snapDir = java.nio.file.Paths.get(warehouse, db, table, "data", dirName)
      java.nio.file.Files.createDirectories(snapDir)
      // a FRESH batch write per epoch: distinct write job ids keep part-file
      // names collision-free across epochs, and an abandoned epoch's dir is
      // orphan-dir debris removeOrphanFiles sweeps
      val inner = ParquetTable(s"$db.$table stream epoch", spark,
        CaseInsensitiveStringMap.empty(), Seq(snapDir.toString),
        Some(info.schema), classOf[ParquetFileFormat])
        .newWriteBuilder(info).build().toBatch
      pending = Some((inner, dirName))
      val batchFactory = inner.createBatchWriterFactory(p)
      new StreamingDataWriterFactory {
        override def createWriter(partitionId: Int, taskId: Long,
            epochId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
          batchFactory.createWriter(partitionId, taskId)
      }
    }

    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val (inner, dirName) = pending.getOrElse(throw new IllegalStateException(
        s"streaming commit of $db.$table epoch $epochId without a writer factory"))
      pending = None
      inner.commit(messages)
      // bucketed/transform-partitioned table: the epoch wrote the visible
      // schema flat; re-lay into the hidden layout dirs before adoption
      // (a replayed epoch re-lays then gets dropped — one wasted
      // driver-side job per restart recovery, correctness unchanged)
      if (laidHidden) {
        val laid = cat.relayoutLaid(db, table, dirName)
        val tm = cat.meta(db, table)
        val hiddenFields = Seq(
          tm.bucketSpec.map(_ => StructField("__bucket",
            org.apache.spark.sql.types.IntegerType, nullable = true)),
          // __pt's type follows the transform: LONG for time/integral
          // truncate, STRING for string truncate — read it off the
          // committed snapshot schema rather than re-deriving
          tm.transformSpec.map(_ => StructField(graft.catalog.TimeTransform.Col,
            cat.currentSnapshot(db, table).schema.fields
              .find(_.name == graft.catalog.TimeTransform.Col)
              .map(_.dataType)
              .getOrElse(org.apache.spark.sql.types.LongType),
            nullable = true))).flatten
        cat.adoptStreaming(db, table, operation, laid,
          StructType(info.schema.fields ++ hiddenFields),
          sinkId, epochId)
      } else {
        cat.adoptStreaming(db, table, operation, dirName, info.schema,
          sinkId, epochId)
      }
      ()
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      pending.foreach(_._1.abort(messages))
      pending = None
    }
  }

  /** Read+write table over one snapshot. Reads delegate to Spark's own
    * vectorized [[ParquetTable]] (scan built lazily, so read-path
    * constraints never block writes); partition spec and table properties
    * are exposed so SQL `DESCRIBE TABLE EXTENDED` shows the partitioning /
    * provider / location rows the reference string-parses
    * (`2_collect_database_schema_info.py:186-214`). */
  private final class SnapTable(tableName: String, st: TableState, entry: SnapshotEntry,
      tableMeta: TableMeta, db: String, table: String,
      branch: Option[String] = None)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with SupportsDelete
      with SupportsRowLevelOperations
      with SupportsMetadataColumns
      with HasRecordCount with HasColumnStats with MorMergeable
      with HasSnapshotIdentity with HasPartitionRowCounts
      with HasTransformRowCounts with HasNullCounts {

    /** Full file inventory — materialized LAZILY: loading a table for
      * DESCRIBE, schema resolution, a write, or a summary-pruned scan must
      * not parse every manifest shard (the 10^6-file first-plan cost the
      * two-level planner exists to avoid). Forced only by paths that
      * genuinely consume the inventory (metadata-served aggregates, DML
      * rewrites, unpruned scans). */
    private lazy val snap: Snapshot = cat.materialize(st, entry)

    /** Live delete-file entries — KB-sized pointer metadata, never forces
      * the data inventory. */
    private lazy val liveDeletes: Seq[graft.catalog.DeleteFile] =
      cat.entryDeleteFiles(db, table, entry)

    override def snapshotIdentity: String = s"$tableName@${entry.snapshotId}"

    /** The merge-on-read row identity, exposed as V2 metadata columns so
      * the SupportsDelta rewrite can resolve its row id against the
      * relation (Iceberg's `_file`/`_pos` equivalent). Served only by the
      * substituted merged scan ([[MorDeltaScanRule]]) — selecting them in a
      * plain query over a table WITHOUT live deletes is unsupported (the
      * stock V2 parquet scan cannot emit positions) and fails at planning
      * rather than returning wrong data. */
    override def metadataColumns(): Array[MetadataColumn] = {
      val base: Array[MetadataColumn] = Array(
        new MetadataColumn {
          override def name(): String = SnapshotCatalog.MorFileCol
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.StringType
          override def isNullable: Boolean = false
          override def comment(): String = "table-root-relative data file path (MoR row id)"
        },
        new MetadataColumn {
          override def name(): String = SnapshotCatalog.MorPosCol
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.LongType
          override def isNullable: Boolean = false
          override def comment(): String = "row ordinal within its data file (MoR row id)"
        })
      // row-lineage tables also expose the stable row id: the delta
      // rewrite requests it (requiredMetadataAttributes) so SQL
      // UPDATE/MERGE can carry identity into the post-image. Like the
      // MoR id columns, it is served only by the substituted merged scan.
      if (!lineageOn) base
      else base :+ new MetadataColumn {
        override def name(): String = "__rid"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
        override def comment(): String = "stable row id (Iceberg-v3 row lineage)"
        // the delta rewrite NULLIFIES metadata attrs on update/reinsert
        // rows unless the column opts out — identity must ride the
        // split-update's REINSERT half into the writer intact
        override def metadataInJSON(): String =
          """{"__preserve_on_delete": true,
            | "__preserve_on_update": true,
            | "__preserve_on_reinsert": true}""".stripMargin
      }
    }

    private def lineageOn: Boolean =
      tableMeta.properties.get("row.lineage").contains("true")

    /** Effective snapshot of a read: the reader-option time-travel
      * override, or this table's own. */
    private def morSnap(snapshotId: Option[Long]): Snapshot =
      snapshotId.filter(_ != entry.snapshotId)
        .map(id => cat.materialize(st, st.entryAt(id))).getOrElse(snap)

    /** Can the V2 scan itself merge this snapshot's deletes (reader-level,
      * [[MorScanMerge]])? Bucketed tables: the in-scan merge keeps
      * KeyGroupedPartitioning alive so storage-partitioned joins stay
      * exchange-free over live deletes. Other tables merge through the
      * library read [[MorReadRule]] swaps in. */
    private def scanMergesDeletes(deletes: Seq[graft.catalog.DeleteFile]): Boolean =
      tableMeta.bucketSpec.isDefined && deletes.nonEmpty

    /** Probed by [[MorReadRule]] on EVERY snapcat relation in a plan —
      * must stay pointer-log-sized (delete-shard metadata only, never the
      * data inventory; a plain SELECT on a delete-free million-file table
      * must not parse its manifests here). */
    override def morHasDeletes(snapshotId: Option[Long]): Boolean = {
      val e = snapshotId.filter(_ != entry.snapshotId)
        .map(st.entryAt).getOrElse(entry)
      val dels = cat.entryDeleteFiles(db, table, e)
      dels.nonEmpty && !scanMergesDeletes(dels)
    }

    /** The merged read (deletes applied in the readers), projected to the
      * SQL-visible columns — [[MorReadRule]] swaps this in for the raw
      * relation. Built on the library read path, whose scans keep full
      * pushdown/pruning once the optimizer runs over the substituted
      * plan. */
    override def morMergedPlan(snapshotId: Option[Long]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      val visible = schema().fieldNames
      cat.readAsOf(db, table, morSnap(snapshotId).snapshotId)
        .select(visible.map(n => org.apache.spark.sql.functions.col(s"`$n`")).toIndexedSeq: _*)
        .queryExecution.analyzed
    }

    /** SQL UPDATE / MERGE INTO / non-filter-translatable DELETE: Spark's
      * group-based copy-on-write rewrite. The operation's scan reads the
      * FULL current snapshot and is deliberately stripped of runtime
      * group filtering (see [[PlainBatchScan]]) — so ReplaceData writes
      * the complete post-operation state, which [[RewriteWriteBuilder]]
      * lands as one new snapshot via the stock V2 parquet batch writer
      * plus a log adoption ([[SnapshotCatalog.adoptRewrite]]). History
      * stays time-travelable like every other commit. */
    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
      import org.apache.spark.sql.connector.write.RowLevelOperation
      val opName = info.command match {
        case RowLevelOperation.Command.UPDATE => "update"
        case RowLevelOperation.Command.MERGE => "merge"
        case RowLevelOperation.Command.DELETE => "delete"
      }
      // MERGE-ON-READ routing (SupportsDelta): chosen whenever the snapshot
      // carries live delete files (the group-based CoW scan would resurrect
      // dead rows; the delta path merges them and commits position deletes)
      // or the table opted in via write.<op>.mode = merge-on-read. Requires
      // the session extensions — MorDeltaScanRule substitutes the merged
      // candidate scan; without it, fall through to the CoW path (which
      // refuses loudly over live deletes).
      val deltaRuleActive = spark.sessionState.analyzer.postHocResolutionRules
        .exists(_.isInstanceOf[MorDeltaScanRule])
      // branch targets never take the delta or CoW rewrite paths — both
      // commit to MAIN; translatable branch DELETEs route to deleteWhere
      // (deleteMoRBranch) and everything else refuses at scan build below.
      // Row-lineage tables ALWAYS route delta: it is the identity-
      // preserving path (the CoW rewrite re-reads candidate files raw and
      // would re-mint every rewritten row's id).
      val wantsDelta = branch.isEmpty && (liveDeletes.nonEmpty ||
        tableMeta.properties.get(s"write.$opName.mode").contains("merge-on-read") ||
        lineageOn)
      if (wantsDelta && deltaRuleActive)
        return () => new SnapDeltaOperation(spark, warehouse, db, table,
          entry.snapshotId, info.command, opName, schema(), lineageOn)
      () => new RowLevelOperation {
        override def command: RowLevelOperation.Command = info.command
        override def description(): String = s"snapcat copy-on-write $opName"
        // set at scan build() time, read at write commit time: the snapshot
        // the rewrite scan was planned against, the opened-shard files the
        // operation provably cannot touch (they carry over un-rewritten,
        // with their stats), and the shard names the TWO-LEVEL resolution
        // skipped entirely (they carry by name, never parsed)
        @volatile private var rewriteCarry
          : Option[(Long, Seq[String], Map[String, Map[String, String]], Seq[String])] = None

        /** The rewrite's scan, FILE granularity: Spark's group-based scan
          * planning pushes the operation's condition here
          * (`GroupBasedRowLevelOperationScanPlanning` -> `pushFilters`) but
          * keeps the FULL condition in the rewrite query — so the filters
          * may only narrow WHICH files are rewritten, never which rows a
          * kept file contributes. Footer-stat pruning ([[SnapshotCatalog
          * .pruneFiles]], the same layer the library delete/update use)
          * splits the snapshot's files into rewrite candidates (scanned,
          * post-operation state rewritten) and provably-untouched carries —
          * a `UPDATE ... WHERE id = 5` on a 100-TB table rewrites the files
          * whose stats admit id=5, not the lake. */
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
          // the group-based rewrite commits to MAIN — a branch target must
          // never reach it (translatable branch DELETEs were already
          // routed to deleteWhere/deleteMoRBranch by the downgrade)
          require(branch.isEmpty,
            s"$opName on branch '${branch.getOrElse("")}' of " +
              s"$catalogName.$db.$table: branch DML covers DELETE and INSERT; " +
              "fastForward then rewrite on main, or use the library " +
              "updateMoR/upsertMoR")
          // the group-based rewrite scan reads candidate files RAW (full
          // stock parquet batches) — over live position deletes it would
          // resurrect dead rows into the rewritten state. Refuse loudly;
          // translatable DELETEs never get here (the metadata-delete
          // downgrade routes them to deleteWhere first).
          require(liveDeletes.isEmpty,
            s"$opName on $catalogName.$db.$table: group-based row-level SQL " +
              "over live merge-on-read delete files would resurrect deleted " +
              "rows; compact() the table first (or use the library " +
              "delete/update, which merge)")
          new ScanBuilder
            with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
            private var pushable = Array.empty[org.apache.spark.sql.sources.Filter]
            override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
                : Array[org.apache.spark.sql.sources.Filter] = {
              pushable = filters.filter(FilterToColumn.translatable)
              filters // ALL residual: the rewrite query must keep the condition
            }
            override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
              pushable
            override def build(): Scan = {
              val bucketed = tableMeta.bucketSpec.isDefined
              val laidHidden = tableMeta.hiddenCols.nonEmpty
              val cond = pushable.map(FilterToColumn(_)).reduceOption(_ && _)
              // TWO-LEVEL candidate resolution, like the library DML:
              // shards the condition provably excludes are never parsed —
              // they carry through the adoption BY NAME; only opened
              // shards split file-granularly. A conditionless rewrite
              // (full replace) computes no carries and never forces the
              // inventory here (the full scan below does, inherently).
              val (untouched, carryStats, carryShards, candsOpt) = cond match {
                case None => (Seq.empty[String],
                  Map.empty[String, Map[String, String]], Seq.empty[String],
                  None)
                case Some(c) =>
                  val res = cat.resolveWhere(st, entry.snapshotId, c)
                  val keptSet = res.kept.toSet
                  (res.snap.files.filterNot(keptSet), res.snap.fileStats,
                    entry.manifests.filterNot(res.openedNames.toSet),
                    Some(res.kept))
              }
              rewriteCarry = Some((entry.snapshotId, untouched, carryStats, carryShards))
              if (untouched.isEmpty && carryShards.isEmpty && !laidHidden)
                new PlainBatchScan(ownScanBuilder(options).build())
              else {
                val root = java.nio.file.Paths.get(warehouse, db, table)
                val cands = candsOpt.getOrElse(snap.files)
                // BUCKETED rewrite: the operation table's schema is the
                // SQL-visible one (no __bucket), so the candidate files are
                // scanned FLAT — no basePath means the __bucket=b layout
                // dirs resolve to nothing and the scan emits exactly the
                // visible columns; the write side re-derives the layout
                // ([[SnapshotCatalog.relayoutLaid]])
                val entrySchema = entry.schema
                val scanSchema =
                  if (laidHidden) StructType(entrySchema.fields.filterNot(f =>
                    tableMeta.hiddenCols(f.name)))
                  else entrySchema
                // stock vectorized scan over the candidate files, NO row
                // filters (every row of a candidate file must reach the
                // rewrite query) and no column pruning (full table schema);
                // candidates spanning several PARTITIONED snapshot dirs get
                // one sub-scan per dir (each with its own basePath), same
                // assembly as every other read of that shape
                def scanFor(name: String, fs: Seq[String],
                    basePathDir: Option[String]): Scan = {
                  val opts: Map[String, String] = basePathDir match {
                    case Some(d) => Map("basePath" -> root.resolve(d).toString)
                    case None => Map.empty
                  }
                  org.apache.spark.sql.GraftScanUtils.parquetScanFor(spark, name,
                    fs.map(f => root.resolve(f).toString), scanSchema,
                    new CaseInsensitiveStringMap(opts.asJava), Nil, None)
                }
                val inner =
                  if (bucketed || tableMeta.partitionCols.isEmpty)
                    scanFor(s"$tableName $opName candidates", cands, None)
                  else {
                    val byDir = cands.groupBy(_.split("/").take(2).mkString("/"))
                      .toSeq.sortBy(_._1)
                    byDir match {
                      // every file provably untouched: the rewrite scan is
                      // EMPTY (carried files alone define the new state)
                      case Seq() =>
                        scanFor(s"$tableName $opName candidates", Seq.empty, None)
                      case Seq((d, fs)) =>
                        scanFor(s"$tableName $opName candidates", fs, Some(d))
                      case many =>
                        val subs = many.map { case (d, fs) =>
                          scanFor(s"$tableName $opName candidates $d", fs, Some(d))
                        }
                        new UnionDirScan(subs.head, subs,
                          s"$catalogName.$db.$table $opName")
                    }
                  }
                new PlainBatchScan(inner)
              }
            }
          }
        }
        override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
          new RewriteWriteBuilder(db, table, opName, writeInfo,
            () => rewriteCarry,
            laidHidden = tableMeta.hiddenCols.nonEmpty)
      }
    }

    /** SQL `DELETE FROM snapcat.db.t WHERE ...` — through the snapshot
      * commit protocol; history stays time-travelable. COPY-ON-WRITE by
      * default (matching candidates rewritten); `write.delete.mode =
      * merge-on-read` on the table routes to position-delete commits
      * ([[SnapshotCatalog.deleteMoR]]) — O(matched rows), no data-file
      * rewrite, the Iceberg v2 table-property switch. Spark hands over the
      * WHERE clause as V1 filters; anything it cannot translate to filters
      * goes down the group-based rewrite path instead, and
      * [[FilterToColumn]] covers every V1 filter shape. */
    override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      filters.forall(FilterToColumn.translatable)
    override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
      val cond = filters.map(FilterToColumn(_)).reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      branch match {
        // branch-scoped SQL DELETE (`DELETE FROM cat.db.t.branch_<name>`):
        // always merge-on-read — a pointer commit on the audit lineage,
        // invisible to main until fastForward publishes it
        case Some(b) => cat.deleteMoRBranch(db, table, b, cond)
        case None =>
          if (tableMeta.properties.get("write.delete.mode").contains("merge-on-read"))
            cat.deleteMoR(db, table, cond)
          else cat.delete(db, table, cond)
      }
    }

    // pointer-entry metadata only — the record count and snapshot-level
    // column stats ride the entry summary; forcing the file inventory
    // here would defeat lazy table loading for every query
    override val recordCount: Long =
      entry.summary.get("record_count").map(_.toLong).getOrElse(-1L)
    override def columnStat(key: String): Option[String] = entry.summary.get(key)

    /** Per-file identity-partition values + exact footer row counts — the
      * inputs of [[MetadataCountRule]]'s GROUP-BY-partition serve. `None`
      * (refuse) on anything that breaks "every row of the file shares its
      * directory's partition values and the footer count is the visible
      * count": live MoR deletes, hidden-transform or bucket layouts (the
      * SQL-visible source column is not layout-exact there), any file not
      * hive-laid on ALL the partition columns (compaction rewrites are
      * flat; partition-spec evolution leaves older dirs keyed
      * differently), or a missing footer count. */
    override def partitionRowCounts
        : Option[(Seq[String], Seq[(Seq[Option[String]], Long, Map[String, String])])] = {
      val pcols = tableMeta.partitionCols.filterNot(tableMeta.hiddenCols)
      if (pcols.isEmpty || tableMeta.bucketSpec.isDefined ||
          tableMeta.transformSpec.isDefined || tableMeta.hiddenCols.nonEmpty ||
          snap.deleteFiles.nonEmpty) return None
      val perFile = snap.files.map { f =>
        val kv = f.split('/').iterator.flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) Iterator.empty
          else Iterator(seg.substring(0, i) ->
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(seg.substring(i + 1)))
        }.toMap
        val vals = pcols.map(c => kv.get(c).map(v =>
          if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)))
        val rows = snap.fileStats.get(f).flatMap(_.get("rows")).map(_.toLong)
        (vals, rows)
      }
      if (perFile.exists { case (vs, r) => vs.exists(_.isEmpty) || r.isEmpty })
        None
      else Some((pcols, perFile.zip(snap.files).map { case ((vs, r), f) =>
        (vs.map(_.get), r.get, snap.fileStats.getOrElse(f, Map.empty)) }))
    }

    /** Exact snapshot-wide null count of a column, folded from per-file
      * footer stats — [[MetadataCountRule]]'s global `COUNT(col)` input.
      * Refuses (None) under live MoR deletes (a dead row's nullness is
      * unknowable from footers) or any file missing the stat (schema
      * evolution's null-filled old files legitimately lack it). */
    override def nullCount(col: String): Option[Long] = {
      if (snap.deleteFiles.nonEmpty) return None
      val per = snap.files.map(f =>
        snap.fileStats.get(f).flatMap(_.get(s"nulls.$col")).map(_.toLong))
      if (per.exists(_.isEmpty)) None else Some(per.map(_.get).sum)
    }

    /** Per-file hidden-transform units + exact footer row counts — the
      * inputs of [[MetadataCountRule]]'s `GROUP BY date_trunc` serve on
      * time-transform tables. Same refusal discipline as
      * [[partitionRowCounts]]: live MoR deletes, any file not `__pt`-laid
      * (adopted flat files), or a missing footer count return None.
      * CRITICAL null discipline: the write path COALESCES a null source
      * timestamp into ordinal 0 ([[SnapshotCatalog.transformize]]), so a
      * `__pt=0` file may mix genuine epoch-0 rows with null-timestamp
      * rows indistinguishably — any file at ordinal 0 refuses the whole
      * serve (real time-partitioned data never brushes 1970, so the
      * serve survives everywhere it matters). */
    override def transformRowCounts
        : Option[(String, String, Seq[(Long, Long)])] =
      tableMeta.transformSpec match {
        case Some((src, kind))
            if graft.catalog.TimeTransform.Kinds(kind) &&
              snap.deleteFiles.isEmpty =>
          val perFile = snap.files.map { f =>
            val pt = graft.catalog.TimeTransform.ptIdOf(f)
            val rows = snap.fileStats.get(f).flatMap(_.get("rows")).map(_.toLong)
            (pt, rows)
          }
          if (perFile.exists { case (pt, r) =>
              pt.isEmpty || pt.contains(0L) || r.isEmpty }) None
          else Some((src, kind,
            perFile.map { case (pt, r) => (pt.get, r.get) }))
        case _ => None
      }

    /** Snapshot-exact V2 statistics, served from metadata alone: numRows
      * from the log's record_count, numeric column min/max from the
      * commit-time Observation summary, null counts folded from per-file
      * footer stats. These flow through `transformV2Stats` into catalyst
      * ColumnStat, so CBO join ordering / filter selectivity get exact
      * inputs without any scan (the optimizer's 100-TB diet: estimates
      * come from the log, never the lake). sizeInBytes stays the
      * delegate's estimate — it models decompressed in-memory width.
      *
      * `exact=false` (the scan has pushed filters and/or runtime-pruned
      * files) falls back to the delegate ENTIRELY: the snapshot's
      * table-wide rowCount/min/max would be an exact-LOOKING overcount for
      * a filtered scan (e.g. CBO declining a broadcast for a side that is
      * actually tiny), while the delegate's size-based estimate tracks the
      * pruned file set. Computed once per table (lazy) — the null-count
      * fold is O(files x columns) and constant per snapshot. */
    private[spark] def snapV2Statistics(delegate: Scan, exact: Boolean)
        : org.apache.spark.sql.connector.read.Statistics = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val base = ScanDefaults.statisticsOf(delegate)
      if (!exact) return base
      val colStats = tableColStats
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          if (snap.recordCount >= 0) java.util.OptionalLong.of(snap.recordCount)
          else base.numRows()
        override def columnStats(): util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics] =
          colStats
      }
    }

    private lazy val tableColStats: util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val m = new util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics]()
      // per-column null counts: exact only when EVERY live file recorded
      // footer stats (a single statless file means unknown, not zero)
      val perFile = snap.files.map(snap.fileStats.get)
      val allStats = perFile.nonEmpty && !perFile.exists(_.isEmpty)
      val fileMaps = if (allStats) perFile.flatten else Seq.empty
      snap.schema.fields.filter(f => graft.catalog.ColumnStats.statable(f.dataType))
        .foreach { f =>
          val isNumeric = f.dataType != org.apache.spark.sql.types.StringType
          val mn = if (isNumeric) snap.summary.get(s"min.${f.name}")
            .flatMap(graft.catalog.ColumnStats.internalValue(f.dataType, _)) else None
          val mx = if (isNumeric) snap.summary.get(s"max.${f.name}")
            .flatMap(graft.catalog.ColumnStats.internalValue(f.dataType, _)) else None
          var nulls: Option[Long] = if (allStats) Some(0L) else None
          val it = fileMaps.iterator
          while (nulls.isDefined && it.hasNext) { // short-circuit on unknown
            nulls = it.next().get(s"nulls.${f.name}") match {
              case Some(n) => nulls.map(_ + n.toLong)
              case None => None
            }
          }
          // NDV from the commit-time HLL union (see NdvStats): the input
          // CBO's join-cardinality and selectivity math actually keys on
          val ndv = snap.summary.get(s"ndv.${f.name}").map(_.toLong)
          // equi-height histogram from analyze_histogram: selectivity
          // estimation sees skew instead of assuming uniform [min,max]
          val hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
            snap.summary.get(s"hist.${f.name}").flatMap { json =>
              try {
                val o = graft.catalog.Json.parse(json).asInstanceOf[graft.catalog.JObj]
                val h = o("h").asInstanceOf[graft.catalog.JNum].value
                val bs = o.arr("b").map { bv =>
                  val t = bv.asInstanceOf[graft.catalog.JArr].values
                  new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                    override def lo(): Double = t(0).asInstanceOf[graft.catalog.JNum].value
                    override def hi(): Double = t(1).asInstanceOf[graft.catalog.JNum].value
                    override def ndv(): Long = t(2).asInstanceOf[graft.catalog.JNum].value.toLong
                  }
                }.toArray
                Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
                  override def height(): Double = h
                  override def bins(): Array[
                    org.apache.spark.sql.connector.read.colstats.HistogramBin] = bs
                })
              } catch { case _: Exception => None } // malformed -> no histogram
            }
          if (mn.isDefined || mx.isDefined || nulls.isDefined ||
              ndv.isDefined || hist.isDefined)
            m.put(Expressions.column(f.name), new ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                mn.map(_.asInstanceOf[Object]).fold(java.util.Optional.empty[Object]())(java.util.Optional.of)
              override def max(): java.util.Optional[Object] =
                mx.map(_.asInstanceOf[Object]).fold(java.util.Optional.empty[Object]())(java.util.Optional.of)
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def distinctCount(): java.util.OptionalLong =
                ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]())(java.util.Optional.of)
            })
        }
      m
    }

    override def name(): String = tableName
    // bucketed/transform-partitioned tables hide their derived layout
    // columns (__bucket/__pt) from SQL: users CREATE/INSERT/SELECT base
    // columns only (writes re-derive them, scans prune them) — the
    // Iceberg hidden-partitioning UX
    override def schema(): StructType = {
      val hidden = tableMeta.hiddenCols
      val visible =
        if (hidden.isEmpty) entry.schema
        else StructType(entry.schema.fields.filterNot(f => hidden(f.name)))
      // column-default metadata rides the served schema: CURRENT_DEFAULT
      // lets the analyzer fill INSERTs that omit the column, and
      // EXISTS_DEFAULT makes the parquet readers serve the frozen
      // initial default for files written before the column existed
      cat.withDefaultMeta(db, table, visible)
    }
    private def bucketSpec: Option[(String, Int)] = tableMeta.bucketSpec
    override def partitioning(): Array[Transform] = bucketSpec match {
      case Some((c, n)) => Array(Expressions.bucket(n, c))
      case None => tableMeta.transformSpec match {
        // report the TRANSFORM (days(ts)/truncate(4, c)/...), not the
        // hidden col — what DESCRIBE shows and what Iceberg reports
        case Some((c, "day"))   => Array(Expressions.days(c))
        case Some((c, "hour"))  => Array(Expressions.hours(c))
        case Some((c, "month")) => Array(Expressions.months(c))
        case Some((c, "year"))  => Array(Expressions.years(c))
        case Some((c, graft.catalog.TruncateTransform.Kind)) =>
          Array(Expressions.apply("truncate",
            Expressions.literal(tableMeta.transformWidth.getOrElse(1)),
            Expressions.column(c)))
        case _ => tableMeta.partitionCols.map(c => Expressions.identity(c)).toArray
      }
    }
    override def properties(): util.Map[String, String] =
      (tableMeta.properties ++ Map(
        "provider" -> "snapcat",
        "location" -> java.nio.file.Paths.get(warehouse, db, table).toString,
        "current-snapshot-id" -> entry.snapshotId.toString,
        "record-count" -> snap.recordCount.toString) ++
        // surfaced only when live, so DESCRIBE shows the MoR state at a
        // glance without widening the default property set
        (if (liveDeletes.isEmpty) Map.empty[String, String]
         else Map("delete-files" -> liveDeletes.size.toString))).asJava
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        // dynamic partition overwrite is a REAL V2 batch write (no V1
        // fallback plan exists) — BATCH_WRITE advertises only that path;
        // plain INSERTs still route through the V1 InsertableRelation
        TableCapability.BATCH_WRITE, TableCapability.OVERWRITE_DYNAMIC,
        // filter-scoped overwrite (static INSERT OVERWRITE ... PARTITION,
        // writeTo().overwrite(cond)) rides the V1 path via SupportsOverwrite
        TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.STREAMING_WRITE)

    /** Scan over THIS table's snapshot (reader options already resolved).
      *
      * One [[GraftPruningScanBuilder]] (file-level data skipping from
      * footer stats, then Spark's stock vectorized parquet scan — full
      * pushdown/pruning/codegen) for every shape. Hive-style partition
      * dirs resolve via basePath; a PARTITIONED table whose file list
      * spans several snapshot dirs (append after append) has no single
      * basePath, so that shape assembles ONE PUSHED+PRUNED SUB-SCAN PER
      * DIR (each with its own basePath) and concatenates their input
      * partitions ([[UnionDirScan]] / [[UnionBatch]]) — scan-level
      * pushdown stays live, unlike the round-3 V1 TableScan bridge this
      * replaces. Bucketed tables get the same per-dir treatment inside
      * each bucket's batch, so storage-partitioned joins survive appends
      * (no more compact()-before-SPJ requirement). */
    /** Eager scan builder over the FULL inventory — the delta/rewrite
      * paths' form (their commit logic needs the complete file list
      * anyway). Plain reads go through [[lazyScan]] instead. */
    private[spark] def ownScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      scanBuilderOver(snap, options)

    /** TWO-LEVEL lazy scan builder: the candidate inventory is resolved
      * when the pushed filters arrive ([[SnapshotCatalog.resolveScanShards]]
      * — manifest shards whose pointer-log summary provably excludes the
      * conjuncts are never parsed), and the regular pruning builder is
      * constructed over that partial snapshot. A scan with no pushed
      * filters resolves everything (identical to the eager path). Every
      * downstream layer — per-file footer skipping, bloom sidecars,
      * LIMIT/TopN truncation, runtime (DPP) re-pruning, bucketed SPJ,
      * MoR merge — operates on the candidates exactly as before: the
      * shard tier only removes files the file tier would have removed
      * one by one. */
    private[spark] def lazyScan(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit
        with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
        import org.apache.spark.sql.catalyst.expressions.Expression
        private var inner: ScanBuilder = null
        // pushdowns recorded BEFORE the inner builder exists (a
        // filterless LIMIT / ORDER-BY-LIMIT scan): they pick the SHARD
        // resolution at build() — LIMIT loads a row-covering shard
        // prefix, TopN box-prunes shards ([[TopNPruning]] over summary
        // folds) — and then replay into the inner builder so the file
        // tier prunes within the loaded candidates as ever.
        private var pendingRequired: Option[StructType] = None
        private var pendingLimit: Option[Int] = None
        private var pendingTopN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None
        // Spark pushes filters FIRST (V2ScanRelationPushDown), so a scan
        // with filters resolves here and later calls forward directly;
        // filters also disarm the LIMIT/TopN file tier, so the deferred
        // lanes and this one never mix
        private def innerFor(preds: Seq[Expression]): ScanBuilder = {
          if (inner == null) {
            val part =
              try cat.resolveScanShards(st, entry.snapshotId, preds)
              catch { case scala.util.control.NonFatal(_) => snap }
            inner = scanBuilderOver(part, options)
          }
          inner
        }
        private def catalystInner(preds: Seq[Expression]) = innerFor(preds)
          .asInstanceOf[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]
        override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
          catalystInner(filters).pushFilters(filters)
        override def pushedFilters()
            : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
          if (inner == null) Array.empty
          else inner.asInstanceOf[
            org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]
            .pushedFilters
        override def pruneColumns(requiredSchema: StructType): Unit =
          if (inner != null)
            inner.asInstanceOf[
              org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
              .pruneColumns(requiredSchema)
          else pendingRequired = Some(requiredSchema)
        override def pushLimit(limit: Int): Boolean =
          if (inner != null)
            inner.asInstanceOf[
              org.apache.spark.sql.connector.read.SupportsPushDownLimit].pushLimit(limit)
          else if (limit > 0 && liveDeletes.isEmpty) {
            pendingLimit = Some(limit); true
          } else false
        override def pushTopN(
            orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
            limit: Int): Boolean =
          if (inner != null)
            inner.asInstanceOf[
              org.apache.spark.sql.connector.read.SupportsPushDownTopN]
              .pushTopN(orders, limit)
          else {
            val cols = translateOrders(orders)
            if (limit > 0 && liveDeletes.isEmpty && cols.isDefined) {
              pendingTopN = Some((cols.get, limit)); true
            } else false
          }
        override def isPartiallyPushed(): Boolean = true
        override def build(): Scan = {
          if (inner == null) {
            // filterless scan: pick the shard resolution from the
            // deferred pushdowns (limit-first mirrors the file tier)
            val part = try {
              (pendingLimit, pendingTopN) match {
                case (Some(n), _) =>
                  cat.resolveScanLimitShards(st, entry.snapshotId, n)
                case (_, Some((cols, n))) =>
                  cat.resolveScanTopNShards(st, entry.snapshotId, cols, n)
                case _ => cat.resolveScanShards(st, entry.snapshotId, Nil)
              }
            } catch { case scala.util.control.NonFatal(_) => snap }
            val partial = pendingLimit.isDefined || pendingTopN.isDefined
            inner = scanBuilderOver(part, options, fullInventory = !partial)
            // replay the deferred pushdowns so the FILE tier prunes
            // within the loaded candidates exactly as before
            pendingLimit.foreach(n => inner.asInstanceOf[
              org.apache.spark.sql.connector.read.SupportsPushDownLimit].pushLimit(n))
            pendingTopN.foreach { case (cols, n) =>
              inner.asInstanceOf[org.apache.spark.sql.GraftPruningScanBuilder]
                .adoptTopN(cols, n)
            }
            pendingRequired.foreach(s => inner.asInstanceOf[
              org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
              .pruneColumns(s))
          }
          inner.build()
        }
      }

    /** Connector sort orders -> the (column, ascending, nullsFirst)
      * triples the TopN pruning tiers consume; None when any order is
      * untranslatable or its column unprunable (same arming rules as
      * [[org.apache.spark.sql.GraftPruningScanBuilder.pushTopN]]). */
    private def translateOrders(
        orders: Array[org.apache.spark.sql.connector.expressions.SortOrder])
        : Option[Seq[(String, Boolean, Boolean)]] = {
      import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
      if (orders.length < 1 || orders.length > 4) return None
      val cols = orders.toSeq.map { o =>
        val c = o.expression match {
          case n: NamedReference if n.fieldNames.length == 1 => n.fieldNames.head
          case _ => return None
        }
        val statable = entry.schema.fields.find(_.name == c).map(_.dataType)
          .exists(graft.catalog.ColumnStats.statable)
        if (!statable) return None
        (c, o.direction == SortDirection.ASCENDING,
          o.nullOrdering == NullOrdering.NULLS_FIRST)
      }
      Some(cols)
    }

    private def scanBuilderOver(snap: Snapshot,
        options: CaseInsensitiveStringMap,
        // false when `snap` is a LIMIT/TopN-partial shard resolution: an
        // unfiltered scan over it must not claim snapshot-exact stats
        fullInventory: Boolean = true): ScanBuilder = {
      val root = java.nio.file.Paths.get(warehouse, db, table)
      val dirs = snap.files.map(_.split("/").take(2).mkString("/")).distinct
      val partitioned = tableMeta.partitionCols.nonEmpty
      val multiDir = partitioned && dirs.size > 1
      // a dir is hive-laid when its files sit under name=value partition
      // dirs; rewrite dirs are FLAT (partition cols in file content), and
      // partition-spec evolution leaves dirs hive-laid on DIFFERENT keys.
      // Any layout mix makes partition filters only advisorily enforceable
      // per dir — see allResidual below. Compared by the SET of hive keys
      // per dir ({} for flat), so A=-dirs vs B=-dirs count as mixed.
      val mixedLayout = multiDir && {
        val sigs = snap.files.groupBy(_.split("/").take(2).mkString("/"))
          .values.map(_.flatMap(_.split("/").drop(2)
            .filter(_.contains("=")).map(_.takeWhile(_ != '='))).toSet)
        sigs.toSet.size > 1
      }
      val rootPrefix = root.toString + java.io.File.separator
      // relative snapshot dir of an absolute file path (wrapScan callbacks
      // receive absolute paths)
      def dirOf(abs: String): String =
        abs.stripPrefix(rootPrefix).split("/").take(2).mkString("/")
      def dirOpts(dir: String): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(
          Map("basePath" -> root.resolve(dir).toString).asJava)
      val opts: Map[String, String] =
        if (!partitioned || snap.files.isEmpty) Map.empty
        else Map("basePath" -> root.resolve(dirs.head).toString)
      val snapSchema = cat.withDefaultMeta(db, table, snap.schema)
      // per-dir pushed+pruned stock sub-scans over a kept-file subset —
      // the assembly unit for multi-dir unions and bucket batches
      def dirScans(name: String, files: Seq[String],
          pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          required: Option[StructType]): Seq[Scan] =
        files.groupBy(dirOf).toSeq.sortBy(_._1).map { case (d, fs) =>
          org.apache.spark.sql.GraftScanUtils.parquetScanFor(spark, s"$name $d",
            fs, snapSchema, dirOpts(d), pushed, required)
        }
      new org.apache.spark.sql.GraftPruningScanBuilder(spark, tableName,
        snap.files.map(f => (root.resolve(f).toString, snap.fileStats.get(f))),
        snapSchema,
        new CaseInsensitiveStringMap(opts.asJava),
        (stats, conjuncts) =>
          conjuncts.forall(p => graft.catalog.FileStats.mayMatch(stats, snapSchema, p,
            rel => graft.catalog.BloomStats.load(root.resolve(rel)))),
        // multi-dir: the template builder negotiates pushdown over ONE
        // dir's files (a single-basePath subset); wrapScan re-plans the
        // full kept list per dir below
        planFiles = if (multiDir) _.filter(f => dirOf(f) == dirs.head) else identity,
        allResidual = mixedLayout,
        // bucket-key equality prunes whole __bucket=b/ dirs before any
        // footer-stat check — min/max can't exclude on a pmod key
        keepByPath = bucketSpec match {
          case Some((bCol, n)) => conjuncts => {
            val adm = graft.catalog.BucketPruning.admissible(conjuncts, bCol, n)
            p => adm.forall(s =>
              graft.catalog.BucketPruning.bucketIdOf(p).forall(s.contains))
          }
          // hidden transform partitioning: predicates on the SOURCE
          // column prune whole __pt=<v>/ dirs before any footer read
          case None => tableMeta.transformSpec match {
            case Some((srcCol, kind))
                if kind == graft.catalog.TruncateTransform.Kind => conjuncts => {
              val width = tableMeta.transformWidth.getOrElse(1)
              val dt = snap.schema.fields.find(_.name == srcCol)
                .map(_.dataType).getOrElse(org.apache.spark.sql.types.StringType)
              val adm = graft.catalog.TruncateTransform
                .admissible(conjuncts, srcCol, width, dt)
              p => graft.catalog.TruncateTransform.ptTokenOf(p).forall(adm)
            }
            case Some((tsCol, kind)) => conjuncts => {
              val r = graft.catalog.TimeTransform.admissibleRange(conjuncts, tsCol, kind)
              p => graft.catalog.TimeTransform.admits(r, p)
            }
            case None => _ => _ => true
          }
        },
        // runtime (DPP) re-pruning: a broadcast fact⋈filtered-dim join
        // narrows this scan to the matching partitions' files AFTER
        // planning. Partition columns on hive-laid tables; the bucket key
        // on bucketed tables (a runtime IN on it prunes whole __bucket=b/
        // dirs via BucketPruning — the wrapper forwards the scan's
        // KeyGroupedPartitioning so storage-partitioned joins still plan).
        // (the hidden __bucket layout column is not in the SQL-visible
        // schema — the DPP rule resolves filterAttributes against it, so
        // only the bucket SOURCE column may be advertised)
        //
        // Declared sort-order columns are advertised too (r13): every
        // library commit range-clusters output on `write.sort-order`, so
        // per-file footer bounds are tight — effectively DISJOINT on the
        // leading column — and a runtime join-key IN skips files through
        // the footer-stat tier the way partition columns skip dirs
        // (Iceberg advertises only partition columns; clustered footer
        // stats make data columns equally prunable here). Driver cost is
        // bounded by the wrapper's large-IN range collapse.
        runtimeFilterCols =
          (tableMeta.partitionCols.filterNot(tableMeta.hiddenCols) ++
            bucketSpec.map(_._1) ++
            tableMeta.properties.get("write.sort-order").toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
              .filter(c => snap.schema.fieldNames.contains(c))).distinct,
        // LIMIT/TopN pushdown truncate or bound-prune the file list from
        // exact footer metadata — armed only when no live MoR deletes
        // make counts overstate the visible rows (a preview or top-k of
        // a 100-TB table plans a handful of files, not the lake)
        limitRowsExact = snap.deleteFiles.isEmpty,
        statCompare = colName => snap.schema.fields
          .find(_.name == colName).map(_.dataType)
          .filter(graft.catalog.ColumnStats.statable)
          .map(dt => (a: String, b: String) =>
            graft.catalog.ColumnStats.gt(dt, a, b)),
        wrapScan = (scan, keptFiles, pushedExprs, requiredSchema) => {
          // snapshot-exact statistics are only honest for an UNFILTERED
          // scan of the full file list; any pushed/runtime conjunct means
          // the delegate's size-tracking estimate is the right one
          val exactStats = fullInventory && pushedExprs.isEmpty &&
            keptFiles.size == snap.files.size
          bucketSpec match {
          // bucketed table: report key-grouped partitioning and emit one
          // keyed partition group per __bucket=b, so co-bucketed joins
          // plan with zero exchanges (SPJ). Per-bucket batches rebuild
          // from the PRUNED file list with the SAME pushed filters and
          // column pruning — the data-skipping layer stays live, and a
          // bucket's files may span snapshot dirs (per-dir batches union).
          case Some((bCol, n)) =>
            // reader-level MoR merge (MorScanMerge): covered files read
            // through a row-indexed sub-scan whose tasks drop dead rows
            // (positions and equality keys of any type) — the scan keeps
            // its KeyGroupedPartitioning, so SPJ survives MoR DML
            val morLive =
              if (scanMergesDeletes(snap.deleteFiles)) snap.deleteFiles else Seq.empty
            val coveredRel = morLive.flatMap(_.covers.keys).toSet
            def relOf(abs: String): String = abs.stripPrefix(rootPrefix)
            def cleanBatch(label: String, files: Seq[String])
                : org.apache.spark.sql.connector.read.Batch =
              if (!multiDir)
                org.apache.spark.sql.GraftScanUtils.parquetBatchFor(spark,
                  label, files, snapSchema,
                  new CaseInsensitiveStringMap(opts.asJava),
                  pushedExprs, requiredSchema)
              else new UnionBatch(
                dirScans(label, files, pushedExprs, requiredSchema).map(_.toBatch))
            def bucketBatch(b: Int): org.apache.spark.sql.connector.read.Batch = {
              val files = keptFiles.filter(_.contains(s"/__bucket=$b/"))
              if (files.isEmpty) ScanDefaults.emptyBatch
              else if (coveredRel.isEmpty) cleanBatch(s"$tableName b$b", files)
              else {
                // mixed batch: every partition carries its own factory.
                // Columnar support stays UNIFORM without forcing row reads
                // (r7): merged partitions filter dead ordinals inside the
                // ColumnarBatch via a selection vector, so both factories
                // report whatever the stock parquet reader reports
                val (dirty, clean) = files.partition(f => coveredRel.contains(relOf(f)))
                val cleanParts: Seq[InputPartition] =
                  if (clean.isEmpty) Seq.empty
                  else {
                    val cb = cleanBatch(s"$tableName b$b", clean)
                    val f = cb.createReaderFactory()
                    cb.planInputPartitions().toSeq
                      .map(p => CarriedFactoryPartition(p, f))
                  }
                val dirtyParts: Seq[InputPartition] = MorScanMerge.mergedScan(spark,
                  s"$tableName mor b$b",
                  dirty.groupBy(dirOf).toSeq.sortBy(_._1).map { case (d, fs) => (dirOpts(d), fs) },
                  snapSchema, pushedExprs, requiredSchema.getOrElse(scan.readSchema()),
                  scan.readSchema(), rootPrefix,
                  rel => MorFile(morLive.filter(_.covers.contains(rel)))).planInputPartitions().toSeq
                val all = (cleanParts ++ dirtyParts).toArray
                new org.apache.spark.sql.connector.read.Batch {
                  override def planInputPartitions(): Array[InputPartition] = all
                  override def createReaderFactory(): PartitionReaderFactory =
                    CarryingReaderFactory
                }
              }
            }
            new BucketedScan(scan, n, Expressions.bucket(n, bCol),
              s"$catalogName.$db.$table", bucketBatch,
              readerFactoryOverride =
                if (coveredRel.isEmpty) None else Some(CarryingReaderFactory),
              // streaming tail of a bucketed table: appended files read
              // FLAT (no basePath -> __bucket= dirs resolve to nothing)
              // against the visible schema — __bucket is derivable, never
              // part of stream output
              microBatch = Some(_ => new SnapAppendStream(db, table,
                scan.readSchema(), partitioned = false, options,
                tableSchema = Some(StructType(snapSchema.fields.filterNot(f =>
                  tableMeta.hiddenCols(f.name)))))),
              stats = snapV2Statistics(_, exactStats))
          case None if multiDir =>
            val union = new UnionDirScan(scan,
              dirScans(tableName, keptFiles, pushedExprs, requiredSchema),
              s"$catalogName.$db.$table")
            new SnapStreamableScan(union, db, table, partitioned = true, options,
              stats = snapV2Statistics(_, exactStats))
          case None => new SnapStreamableScan(scan, db, table,
            partitioned = partitioned, options,
            stats = snapV2Statistics(_, exactStats))
        }
        })
    }

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // the reference's exact reader API: spark.read.option("snapshot-id", id)
      // .table(t) (`5_migrate_tables_data.py:72-74`) / "as_of_snapshot_id"
      // (`2_collect_database_schema_info.py:151-153`) — reader options land
      // here, so time travel works through DataFrameReader verbatim.
      val requested = Option(options.get("snapshot-id"))
        .orElse(Option(options.get("as_of_snapshot_id")))
      requested match {
        case Some(v) =>
          val snapId = try v.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"snapshot-id option must be numeric, got '$v'")
          }
          snapshotTable(Identifier.of(Array(db), table), st, st.entryAt(snapId))
            .asInstanceOf[SnapTable].lazyScan(options)
        case None => lazyScan(options)
      }
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      branch match {
        case Some(b) => new WriteBuilder with SupportsTruncate {
          override def truncate(): WriteBuilder = throw new UnsupportedOperationException(
            s"INSERT OVERWRITE of branch '$b' is not supported - append to the " +
              "branch or overwrite main and re-branch")
          override def build(): Write = new V1Write {
            override def toInsertableRelation: InsertableRelation =
              new InsertableRelation {
                override def insert(data: DataFrame, ignored: Boolean): Unit = {
                  cat.appendBranch(db, table, b, cat.deriveLayout(db, table, data))
                }
              }
          }
        }
        case None => new SnapWriteBuilder(db, table, startTruncated = false, info)
      }
  }

  /** Batch scan wrapper adding a STREAMING personality: `toBatch`
    * delegates to the stock pruned [[ParquetTable]] scan untouched, and
    * `toMicroBatchStream` tails the table's APPEND commits (see
    * [[SnapAppendStream]]), so `spark.readStream.table("snapcat.db.t")`
    * works like Iceberg's incremental streaming read. Statistics are
    * forwarded so AQE/join estimates keep working on the batch side. */
  private final class SnapStreamableScan(val delegate: Scan, db: String, table: String,
      partitioned: Boolean, options: CaseInsensitiveStringMap,
      stats: Scan => org.apache.spark.sql.connector.read.Statistics =
        ScanDefaults.statisticsOf)
      extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    override def readSchema(): StructType = delegate.readSchema()
    override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
    override def description(): String = delegate.description()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      delegate.columnarSupportMode()
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
      stats(delegate)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new SnapAppendStream(db, table, readSchema(), partitioned, options)
    // canonicalized-plan equality delegates to the stock scan's structural
    // equality, so a self-join's two identical snapcat scans still
    // canonicalize equal and ReuseExchange/scan-reuse keep working
    override def equals(other: Any): Boolean = other match {
      case s: SnapStreamableScan => delegate == s.delegate
      case _ => false
    }
    override def hashCode(): Int = delegate.hashCode()
  }

  /** Resolve a STREAM's checkpointed start offset to its pointer entry,
    * surfacing expiry actionably (r8): `expireSnapshots` may have removed
    * the snapshot a resumed checkpoint's high-water points at, and the
    * raw not-found error gives an operator nothing to act on. The message
    * names the earliest retained snapshot and both recovery paths. */
  private def resolveStreamStart(st: TableState, id: Long,
      what: String): SnapshotEntry =
    try st.entryAt(id)
    catch {
      case _: NoSuchElementException =>
        val retained = st.entries.map(_.snapshotId)
        throw new IllegalStateException(
          s"$what of ${st.db}.${st.table}: checkpointed offset points at snapshot $id, " +
            s"which has been EXPIRED (earliest retained: " +
            s"${retained.headOption.getOrElse(-1L)}, current head: " +
            s"${retained.lastOption.getOrElse(-1L)}). Restart the stream " +
            "from the current snapshot with a FRESH checkpoint, or full-" +
            "backfill first (batch-read the table, then stream from the " +
            "snapshot that read served)")
    }

  /** Micro-batch tail of a table's APPEND commits: offsets are snapshot
    * ids, and a batch (start, end] reads exactly the files those appends
    * added — the streaming face of [[SnapshotCatalog.readIncremental]],
    * resolved from pure metadata (the same commit-range walk and append
    * delta; at 100 TB a trigger costs the day's increment, never a table
    * scan). Row-preserving rewrites in range — compact, z-order, bin-pack
    * — are NO-OPS to the stream: their outputs are skipped and swallowed
    * in-range appends serve from their original write-once files, so a
    * table that compacts on a schedule never breaks its consumers. True
    * rewrites (overwrite, CoW DELETE/UPDATE), rollbacks and dropped
    * delete files fail the stream loudly: they change visibility of
    * EXISTING rows, which an append stream cannot represent.
    *
    * Starts from the CURRENT snapshot by default (tail semantics);
    * `.option("starting-snapshot-id", n)` backfills from an earlier
    * snapshot first. */
  private final class SnapAppendStream(db: String, table: String,
      prunedSchema: StructType, partitioned: Boolean,
      options: CaseInsensitiveStringMap,
      tableSchema: Option[StructType] = None)
      extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

    private case class SnapOffset(id: Long) extends Offset {
      override def json(): String = id.toString
    }

    // pointer-log read: latestOffset runs EVERY trigger — it must never
    // materialize a manifest. The PUBLISHED head, not the raw log tail: a
    // WAP-staged snapshot must not leak into the stream before its audit
    // passes (its rows arrive at publish time, via the endpoint file diff)
    private def currentId: Long = cat.currentSnapshotId(db, table)

    override def initialOffset(): Offset =
      SnapOffset(Option(options.get("starting-snapshot-id")) match {
        case None => currentId
        case Some(v) =>
          val id = v.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"starting-snapshot-id must be numeric, got '$v'"))
          // must name a real log entry: a typo'd future id would otherwise
          // make the tail silently empty forever (latest < start) —
          // existence check from the pointer log alone
          require(cat.loadTable(db, table).entries.exists(_.snapshotId == id),
            s"no snapshot $id in $db.$table")
          id
      })
    override def latestOffset(): Offset = SnapOffset(currentId)
    // Trigger.AvailableNow ("catch up on everything published, then
    // stop" — the incremental-batch deployment shape): the head is
    // PINNED once at query start, so commits landing while the catch-up
    // runs belong to the NEXT run and the query provably terminates.
    // Without the native interface Spark refuses AvailableNow on custom
    // DSv2 sources (the generic wrapper is gated to built-ins).
    @volatile private var availableNowCap: Option[Long] = None
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Some(currentId)
    // `max-commits-per-trigger` bounds how far one micro-batch may
    // advance past `start` — the backfill throttle: a tail resumed after
    // a long gap (or an AvailableNow catch-up over months of commits)
    // otherwise serves the WHOLE gap as one giant batch. Commits are the
    // admission unit (same as the changes stream), so a bound of k costs
    // at most k commits' files per trigger. Counted over the PUBLISHED
    // lineage — id gaps from staged/branch commits don't burn budget.
    private val maxCommitsPerTrigger: Option[Int] =
      Option(options.get("max-commits-per-trigger")).map { v =>
        val k = v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"max-commits-per-trigger must be numeric, got '$v'"))
        require(k > 0, s"max-commits-per-trigger must be positive, got $k")
        k
      }
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val st = cat.loadTable(db, table)
      val cur = st.published.snapshotId
      val head = availableNowCap.fold(cur)(c => math.min(cur, c))
      maxCommitsPerTrigger match {
        case None => SnapOffset(head)
        case Some(k) =>
          val s = start.asInstanceOf[SnapOffset].id
          val inRange = st.mainLineage
            .filter(e => e.snapshotId > s && e.snapshotId <= head)
          if (inRange.isEmpty) SnapOffset(math.max(s, head))
          else SnapOffset(inRange.take(k).last.snapshotId)
      }
    }
    // progress reporting sees the TRUE head even when the cap holds a
    // run short of it (Spark surfaces the lag in StreamingQueryProgress)
    override def reportLatestOffset(): Offset = SnapOffset(currentId)
    override def deserializeOffset(json: String): Offset = SnapOffset(json.trim.toLong)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    /** Pruned-schema batch over an explicit absolute-file list. */
    private def batchFor(opts: Map[String, String], files: Seq[String],
        schema: StructType): Batch = {
      val cism = new CaseInsensitiveStringMap(opts.asJava)
      val builder = ParquetTable(s"$db.$table stream", spark, cism, files,
        Some(schema), classOf[ParquetFileFormat])
        .newScanBuilder(cism)
      builder.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
        .pruneColumns(prunedSchema)
      builder.build().toBatch
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[SnapOffset].id
      val e = end.asInstanceOf[SnapOffset].id
      if (s >= e) return Array.empty
      // The batch is the append delta of the commit-range walk
      // (SnapshotCatalog.commitRange + appendDelta, the same fold
      // readIncremental serves): the files each APPEND-family commit
      // added — appends, WAP publish (the staged files surface there),
      // fastForward, and the MoR family, whose churn is new delta files
      // plus delete metadata. Row-preserving rewrites ("compact": compact
      // / z-order / bin-pack) are NO-OPS: their outputs only re-home rows
      // already accounted for, and in-range appends they swallowed still
      // serve from their ORIGINAL write-once files (they survive on disk
      // until expireSnapshots) under delete coverage FROZEN at the
      // pre-compact snapshot — a mid-stream compaction is invisible to
      // consumers. Emitted files otherwise merge under the END snapshot's
      // deletes: a row appended and deleted inside ONE batch range is
      // never emitted; a delete landing in a LATER range (or after an
      // in-range compact re-homed the row) is skipped — the row was
      // already served. The stream refuses loudly where the batch read
      // falls back to the exact row diff: a commit that changes the
      // visibility of EXISTING rows (overwrite, CoW DELETE/UPDATE,
      // rollback, a dropped delete file) — an append tail cannot retract
      // rows it already emitted — and a delete landing on the output of
      // an in-range compact that swallowed emitted appends (frozen
      // coverage cannot see it). A pure-append trigger parses only its
      // commits' own manifest shards, never the inventory.
      val st = cat.loadTable(db, table)
      val (added, deletes) = cat.appendDelta(cat.commitRange(st,
        resolveStreamStart(st, s, "streaming read"), e)).fold(
        why => throw new IllegalStateException(
          s"streaming read of $db.$table ($s, $e]: $why; restart the stream " +
            "from the current snapshot (or consume the batch db.t.changes " +
            "diff for this range)"),
        identity)
      def covFor(rel: String): Seq[graft.catalog.DeleteFile] =
        deletes.filter(_.covers.contains(rel))
      val coveredRel = added.filter(f => covFor(f).nonEmpty).toSet
      lazy val schema = tableSchema.getOrElse(st.entries.last.schema)
      val root = java.nio.file.Paths.get(warehouse, db, table)
      val rootPrefix = root.toString + java.io.File.separator
      // PARTITIONED tables: each appended snapshot dir is hive-laid, so the
      // batch assembles per dir with that dir's basePath (same per-dir
      // treatment as the batch read path) and every planned partition
      // carries its own reader factory — the stream-level factory exists
      // before these dirs do
      val byDir =
        if (partitioned) added.groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
        else Seq("" -> added)
      byDir.flatMap { case (dir, fs) =>
        val opts: Map[String, String] =
          if (partitioned) Map("basePath" -> root.resolve(dir).toString)
          else Map.empty
        val (dirty, clean) = fs.partition(coveredRel.contains)
        val cleanParts: Array[InputPartition] =
          if (clean.isEmpty) Array.empty
          else {
            val b = batchFor(opts, clean.map(f => root.resolve(f).toString), schema)
            // merged partitions stay columnar via selection vectors (r7),
            // so clean partitions keep the stock factory untouched and
            // columnar support is uniform either way
            val factory = b.createReaderFactory()
            b.planInputPartitions().map(p => CarriedFactoryPartition(p, factory))
          }
        val dirtyParts: Array[InputPartition] =
          if (dirty.isEmpty) Array.empty
          else {
            MorScanMerge.mergedScan(spark, s"$db.$table stream mor",
              Seq((new CaseInsensitiveStringMap(opts.asJava), dirty.map(f => root.resolve(f).toString))),
              schema, Nil,
              prunedSchema, prunedSchema, rootPrefix, rel => MorFile(covFor(rel))).planInputPartitions()
          }
        cleanParts ++ dirtyParts
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = CarryingReaderFactory
  }

  /** Micro-batch CDC tail (`spark.readStream.table("snapcat.db.t.changes")`):
    * emits each commit's ROW-LEVEL changes tagged `_change_type`, computed
    * from per-file scans only — never a table diff. Every image reads
    * through the one per-file reader ([[MorScanMerge.mergedScan]]):
    *  - append-family commits: added files read raw, tagged `insert`;
    *  - MoR delete / delta UPDATE / MERGE commits: PRE-IMAGE rows tagged
    *    `delete` — the rows of the (write-once) covered data files that
    *    were alive at the commit's parent and that the commit's NEW
    *    position or equality delete files kill (an update emits its delete
    *    + insert pair in one batch, the CDC contract). Equality coverage is
    *    pinned at commit time, so these pre-images are enumerable for keys
    *    of any type, and a replica table built by `applyCdcEpoch` can
    *    itself serve a changes stream (cascaded replication);
    *  - compact / z-order: no-ops (moved rows cancel);
    *  - commits the walk cannot enumerate (overwrite, CoW DML, rollback, a
    *    dropped delete file) refuse loudly — their retractions and
    *    resurrections are not enumerable from per-file metadata;
    *    consumers use the batch `db.t.changes` diff.
    * The commits come from the one commit-range walk
    * ([[SnapshotCatalog.commitRange]]), the same steps
    * `changeSetsAcrossRange` folds for MV and index refreshes.
    * Offsets advance ONE published commit per trigger
    * (SupportsAdmissionControl), so batch boundaries ARE commit
    * boundaries and consumers get commit-ordered changes without an
    * ordinal column. */
  private final class SnapChangesStream(db: String, table: String,
      prunedSchema: StructType, visibleSchema: StructType, partitioned: Boolean,
      options: CaseInsensitiveStringMap, lineageRid: Boolean = false)
      extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan => _}
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

    private case class ChgOffset(id: Long) extends Offset {
      override def json(): String = id.toString
    }

    override def initialOffset(): Offset =
      ChgOffset(Option(options.get("starting-snapshot-id")) match {
        case None => cat.currentSnapshotId(db, table)
        case Some(v) =>
          val id = v.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"starting-snapshot-id must be numeric, got '$v'"))
          require(cat.loadTable(db, table).entries.exists(_.snapshotId == id),
            s"no snapshot $id in $db.$table")
          id
      })
    // Trigger.AvailableNow: pin the head at query start; the
    // one-commit-per-trigger admission below then drains commit by
    // commit up to the pinned head and stops — CDC catch-up as a
    // terminating batch job, batch boundaries still commit boundaries.
    @volatile private var availableNowCap: Option[Long] = None
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Some(cat.currentSnapshotId(db, table))
    // one published commit per trigger BY DEFAULT: batch boundary =
    // commit boundary, so a CDC apply sink sees each commit's changes as
    // its own atomic batch (ordering between an insert and a later
    // delete of the same key is carried by the batch sequence). A
    // catch-up consumer that doesn't need per-commit batches (an
    // aggregator, a backfill into an order-insensitive sink) can raise
    // `max-commits-per-trigger` to drain k commits per micro-batch —
    // the range planner below already walks commit-by-commit inside the
    // batch, so pre-image semantics are identical, just co-batched.
    private val maxCommitsPerTrigger: Int =
      Option(options.get("max-commits-per-trigger")).map { v =>
        val k = v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"max-commits-per-trigger must be numeric, got '$v'"))
        require(k > 0, s"max-commits-per-trigger must be positive, got $k")
        k
      }.getOrElse(1)
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val s = start.asInstanceOf[ChgOffset].id
      val st = cat.loadTable(db, table)
      val trueHead = st.published.snapshotId
      val head = availableNowCap.fold(trueHead)(c => math.min(trueHead, c))
      val inRange = st.mainLineage
        .filter(e => e.snapshotId > s && e.snapshotId <= head)
      if (inRange.isEmpty) start
      else ChgOffset(inRange.take(maxCommitsPerTrigger).last.snapshotId)
    }
    override def reportLatestOffset(): Offset =
      ChgOffset(cat.currentSnapshotId(db, table))
    override def latestOffset(): Offset =
      throw new IllegalStateException("latestOffset(start, limit) is the entry point")
    override def deserializeOffset(json: String): Offset = ChgOffset(json.trim.toLong)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[ChgOffset].id
      val e = end.asInstanceOf[ChgOffset].id
      if (s >= e) return Array.empty
      val root = java.nio.file.Paths.get(warehouse, db, table)
      val rootPrefix = root.toString + java.io.File.separator
      // ROW LINEAGE: when the table tracks it and the consumer kept the
      // `_row_id` column, the reader derives each image's stable id
      // (`__rid`, served under the stream's name) from the file's
      // first_row_id, resolved from per-file commit metadata at planning
      val RidCol = "_row_id"
      val ridOn = lineageRid && prunedSchema.fieldNames.contains(RidCol)
      val out = StructType(prunedSchema.fields.map(f =>
        if (ridOn && f.name == RidCol) f.copy(name = MorScanMerge.RidCol) else f))
      def fileOf(snap: graft.catalog.Snapshot, rel: String, deletes: Seq[graft.catalog.DeleteFile],
          killedBy: Option[Seq[graft.catalog.DeleteFile]]): MorFile =
        MorFile(deletes.filter(_.covers.contains(rel)), killedBy.map(_.filter(_.covers.contains(rel))),
          firstRowId = snap.fileStats.get(rel).flatMap(_.get("first_row_id")).map(_.toLong))
      // one per-file merged read per change kind, each snapshot dir with
      // its own basePath on partitioned tables
      def changeParts(files: Seq[String], tag: String, of: String => MorFile): Seq[InputPartition] =
        if (files.isEmpty) Nil
        else MorScanMerge.mergedScan(spark, s"$db.$table changes $tag",
          (if (partitioned) files.groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
           else Seq("" -> files)).map { case (dir, fs) =>
            new CaseInsensitiveStringMap((if (partitioned) Map("basePath" -> root.resolve(dir).toString)
              else Map.empty[String, String]).asJava) -> fs.map(f => root.resolve(f).toString)
          }, visibleSchema, Nil, out, out, rootPrefix, of, Some(tag)).planInputPartitions().toSeq
      val st = cat.loadTable(db, table)
      cat.commitRange(st, resolveStreamStart(st, s, "changes stream"), e)
        .flatMap { st =>
          st.kind match {
            case CommitKind.NotEnumerable(why) =>
              throw new IllegalStateException(s"changes stream of $db.$table: $why - " +
                "its retractions are not enumerable per-file; use the batch " +
                "db.t.changes diff and restart the stream from the current snapshot")
            case CommitKind.Compact => Nil // moved rows cancel
            case CommitKind.Additive =>
              // pre-images: the rows alive at the parent that the commit's
              // NEW position or equality delete files kill, read back from
              // their (write-once) covered files
              changeParts(st.newDeletes.flatMap(_.covers.keys).distinct.sorted, "delete",
                rel => fileOf(st.parent, rel, st.parent.deleteFiles, Some(st.newDeletes))) ++
                changeParts(st.added, "insert", rel => fileOf(st.snap, rel, Nil, None))
          }
        }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = CarryingReaderFactory
  }

  /** A [[Scan]] exposing ONLY batch reading: the row-level rewrite reads
    * through this so Spark's runtime group-filtering rule (which matches
    * `SupportsRuntimeV2Filtering`) can never narrow the scan to matching
    * files — the write REPLACES the whole table state, so the scan must
    * produce it whole. */
  private final class PlainBatchScan(delegate: Scan)
      extends Scan {
    override def readSchema(): org.apache.spark.sql.types.StructType = delegate.readSchema()
    override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
    override def description(): String =
      s"snapcat full-snapshot rewrite scan over (${delegate.description()})"
  }

  /** V2 write for the row-level rewrite: delegates the data plane to the
    * stock parquet batch writer aimed at the next snapshot directory, then
    * adopts the written files as a log commit in BatchWrite.commit — the
    * same write-data-then-rename-log protocol as every library commit, so
    * a crash before commit leaves only an orphan dir
    * ([[SnapshotCatalog.removeOrphanFiles]] sweeps it). */
  private final class RewriteWriteBuilder(db: String, table: String,
      opName: String, info: LogicalWriteInfo,
      carry: () => Option[(Long, Seq[String], Map[String, Map[String, String]], Seq[String])],
      laidHidden: Boolean = false) extends WriteBuilder {
    import org.apache.spark.sql.connector.write._
    override def build(): Write = new Write {
      override def description(): String = s"snapcat $opName rewrite"
      override def toBatch: BatchWrite = {
        // a FRESH uniquely-named dir per write attempt: no collision with a
        // concurrent commit's data dir (dir naming needs no lock), no
        // debris from a crashed earlier attempt to clean up (orphan dirs
        // are removeOrphanFiles' job), and adoptRewrite atomically claims
        // the next snapshot id under the table lock at commit time
        val dirName = s"rw-${java.util.UUID.randomUUID().toString.take(12)}"
        val snapDir = java.nio.file.Paths.get(warehouse, db, table, "data", dirName)
        java.nio.file.Files.createDirectories(snapDir)
        val inner = ParquetTable(s"$db.$table $opName rewrite", spark,
          CaseInsensitiveStringMap.empty(), Seq(snapDir.toString),
          Some(info.schema), classOf[ParquetFileFormat])
          .newWriteBuilder(info).build().toBatch
        new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            // ReplaceDataExec hands the writer the rewrite query's rows
            // with the leading __row_operation marker column still
            // attached; strip it down to the table schema before parquet
            MarkerStrippingWriterFactory(inner.createBatchWriterFactory(p),
              info.schema.fields.map(_.dataType))
          override def onDataWriterCommit(message: WriterCommitMessage): Unit =
            inner.onDataWriterCommit(message)
          override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            inner.commit(messages)
            // bucketed/transform-partitioned table: the rewrite wrote the
            // visible schema flat; re-lay just this dir into its hidden
            // layout dirs before adoption so storage-partitioned joins /
            // dir pruning stay valid over the committed snapshot
            val adoptDir = if (laidHidden)
              cat.relayoutLaid(db, table, dirName) else dirName
            carry() match {
              // partial adoption: untouched files of opened shards carry
              // verbatim with their stats, two-level-skipped shards carry
              // BY NAME unparsed, and the pinned snapshot id fails the
              // commit if a concurrent write moved the table under the
              // rewrite
              case Some((snapId, untouched, st, shards)) =>
                cat.adoptRewrite(db, table, opName, adoptDir,
                  carryFiles = untouched, carryStats = st,
                  expectSnapshotId = Some(snapId), carryShards = shards)
              case None => cat.adoptRewrite(db, table, opName, adoptDir)
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            inner.abort(messages)
        }
      }
    }
  }

  private def snapshotTable(ident: Identifier, st: TableState, entry: SnapshotEntry): Table = {
    val db = ident.namespace().head
    val table = ident.name()
    new SnapTable(s"$catalogName.$db.$table", st, entry, cat.meta(db, table), db, table)
  }

  /** The `<table>.snapshots` metadata relation the reference scans
    * (`spark.table("cat.db.t.snapshots")`, `1_collect_src_snapshots.py:61-62`)
    * — resolved as identifier namespace [db, t] + name "snapshots" and
    * served as a driver-local scan (the log is KB-sized metadata). */
  private final class SnapshotsMetaTable(db: String, table: String)
      extends Table with SupportsRead {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.connector.read.{LocalScan, Scan}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    private val tableSchema = StructType(Seq(
      StructField("snapshot_id", LongType),
      StructField("committed_at", TimestampType),
      StructField("operation", StringType),
      StructField("summary", MapType(StringType, StringType))))

    override def name(): String = s"$catalogName.$db.$table.snapshots"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan with LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] =
          // pointer log only — never materializes manifest file lists
          cat.entryLog(db, table).map { s =>
            val micros = java.time.Instant.parse(s.committedAt)
            val ts = micros.getEpochSecond * 1000000L + micros.getNano / 1000L
            val keys = s.summary.keys.toArray.map(k => UTF8String.fromString(k): Any)
            val vals = s.summary.values.toArray.map(v => UTF8String.fromString(v): Any)
            InternalRow(s.snapshotId, ts, UTF8String.fromString(s.operation),
              ArrayBasedMapData(keys, vals))
          }.toArray
      }
  }

  /** The remaining Iceberg-style metadata relations: `db.t.files` (current
    * snapshot's file inventory + per-file stats — the data-skipping layer
    * made queryable), `db.t.refs` (tags), `db.t.history` (linear snapshot
    * lineage), `db.t.partitions` (per-partition file/row counts from the
    * recorded footer stats), `db.t.all_files` (every retained snapshot's
    * files with reference spans). All driver-local scans over KB-sized
    * log metadata, like `.snapshots`; none touches data files. */
  private final class InventoryMetaTable(db: String, table: String, kind: String)
      extends Table with SupportsRead {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.connector.read.{LocalScan, Scan}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    private val tableSchema = kind match {
      case "files" => StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("snapshot_dir", StringType, nullable = false),
        StructField("bucket", IntegerType),
        StructField("record_count", LongType),
        StructField("stats", MapType(StringType, StringType)),
        // Iceberg's content tier: data | position-deletes | equality-deletes
        StructField("content", StringType, nullable = false)))
      case "refs" => StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("type", StringType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false)))
      case "history" => StructType(Seq(
        StructField("made_current_at", TimestampType),
        StructField("snapshot_id", LongType, nullable = false),
        StructField("parent_id", LongType),
        StructField("is_current", BooleanType, nullable = false)))
      case "partitions" => StructType(Seq(
        StructField("partition", StringType), // null for an unpartitioned table
        StructField("file_count", LongType, nullable = false),
        StructField("record_count", LongType), // null if any file lacks a row count
        StructField("total_bytes", LongType))) // null if any file lacks a size
      case "manifests" => StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("file_count", LongType, nullable = false),
        StructField("record_count", LongType), // null if any file lacks a row count
        StructField("added_snapshot_id", LongType, nullable = false),
        StructField("referenced_by", LongType, nullable = false)))
      // every file any RETAINED snapshot references (Iceberg's all_files,
      // deduplicated): the storage-debugging view — what expire would or
      // would not reclaim. O(snapshots) manifest materializations,
      // driver-local metadata only.
      case "all_files" => StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("content", StringType, nullable = false),
        StructField("record_count", LongType),
        StructField("first_snapshot_id", LongType, nullable = false),
        StructField("last_snapshot_id", LongType, nullable = false),
        StructField("ref_count", LongType, nullable = false)))
    }

    override def name(): String = s"$catalogName.$db.$table.$kind"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)

    private def micros(iso: String): Long = {
      val t = java.time.Instant.parse(iso)
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    }

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan with LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] = kind match {
          case "files" =>
            val snap = cat.currentSnapshot(db, table)
            val dataRows = snap.files.sorted.map { f =>
              val st = snap.fileStats.getOrElse(f, Map.empty)
              InternalRow(
                UTF8String.fromString(f),
                UTF8String.fromString(f.split("/").take(2).mkString("/")),
                graft.catalog.BucketPruning.bucketIdOf(f).map(Int.box).orNull,
                st.get("rows").map(r => Long.box(r.toLong)).orNull,
                ArrayBasedMapData(
                  st.keys.toArray.map(k => UTF8String.fromString(k): Any),
                  st.values.toArray.map(v => UTF8String.fromString(v): Any)),
                UTF8String.fromString("data"))
            }
            // merge-on-read delete files inventory alongside the data tier
            // (record_count = recorded positions / key tuples; eq files
            // carry their key columns in stats)
            val delRows = snap.deleteFiles.sortBy(_.path).map { d =>
              val st: Map[String, String] =
                if (d.isPositional) Map.empty
                else Map("eq_cols" -> d.eqCols.mkString(","))
              InternalRow(
                UTF8String.fromString(d.path),
                UTF8String.fromString(d.path.split("/").take(2).mkString("/")),
                null,
                Long.box(d.rows),
                ArrayBasedMapData(
                  st.keys.toArray.map(k => UTF8String.fromString(k): Any),
                  st.values.toArray.map(v => UTF8String.fromString(v): Any)),
                UTF8String.fromString(
                  if (d.isPositional) "position-deletes" else "equality-deletes"))
            }
            (dataRows ++ delRows).toArray
          case "refs" =>
            val tm = cat.meta(db, table)
            (tm.refs.toSeq.map { case (n, id) => (n, "tag", id) } ++
              tm.branches.toSeq.map { case (n, id) => (n, "branch", id) })
              .sortBy(_._1).map { case (n, kind, id) =>
                InternalRow(UTF8String.fromString(n),
                  UTF8String.fromString(kind), id)
              }.toArray
          case "history" =>
            val snaps = cat.entryLog(db, table) // pointer log, no manifests
            val current = snaps.map(_.snapshotId).max
            snaps.map { s =>
              // branch commits record their true parent; main-lineage
              // entries are linear
              val parent = s.summary.get("branch.parent").map(p => Long.box(p.toLong))
                .getOrElse(if (s.snapshotId > 1) Long.box(s.snapshotId - 1) else null)
              InternalRow(micros(s.committedAt), s.snapshotId, parent,
                s.snapshotId == current)
            }.toArray
          case "all_files" =>
            val refs = scala.collection.mutable.LinkedHashMap
              .empty[(String, String), (Option[Long], Long, Long, Long)]
            val st = cat.loadTable(db, table)
            st.entries.foreach { e =>
              val snap = cat.materialize(st, e)
              val files =
                snap.files.map { f => (f, "data",
                  snap.fileStats.getOrElse(f, Map.empty)
                    .get("rows").map(_.toLong)) } ++
                snap.deleteFiles.map { d => (d.path,
                  if (d.isPositional) "position-deletes" else "equality-deletes",
                  Some(d.rows)) }
              files.foreach { case (f, content, rows) =>
                refs.get((f, content)) match {
                  case Some((r, first, _, n)) =>
                    refs((f, content)) = (r, first, e.snapshotId, n + 1)
                  case None =>
                    refs((f, content)) = (rows, e.snapshotId, e.snapshotId, 1L)
                }
              }
            }
            refs.toSeq.sortBy(_._1).map { case ((f, content), (rows, first, last, n)) =>
              InternalRow(UTF8String.fromString(f), UTF8String.fromString(content),
                rows.map(Long.box).orNull, first, last, n)
            }.toArray
          case "partitions" =>
            // per-partition file/row inventory, served ENTIRELY from the
            // snapshot log's per-file stats (Iceberg's `partitions` table):
            // the partition value is the hive path between the snapshot dir
            // and the file name, so values merge across snapshot dirs
            val snap = cat.currentSnapshot(db, table)
            snap.files.groupBy { f =>
              val segs = f.split("/")
              segs.drop(2).dropRight(1).mkString("/")
            }.toSeq.sortBy(_._1).map { case (part, fs) =>
              val rows = fs.map(f =>
                snap.fileStats.get(f).flatMap(_.get("rows")).map(_.toLong))
              val bytes = fs.map(f =>
                snap.fileStats.get(f).flatMap(_.get("bytes")).map(_.toLong))
              InternalRow(
                if (part.isEmpty) null else UTF8String.fromString(part),
                fs.size.toLong,
                if (rows.forall(_.isDefined)) Long.box(rows.flatten.sum) else null,
                if (bytes.forall(_.isDefined)) Long.box(bytes.flatten.sum) else null)
            }.toArray
          case "manifests" =>
            // shard-reuse accounting (Iceberg's `manifests` table): one row
            // per live shard, served from the pointer log + shard cache
            cat.manifestInventory(db, table).map { mi =>
              InternalRow(
                UTF8String.fromString(mi.name),
                mi.fileCount.toLong,
                mi.recordCount.map(Long.box).orNull,
                mi.addedSnapshotId,
                mi.referencedBy.toLong)
            }.toArray
        }
      }
  }

  /** The `db.t.changes` relation: row-level changelog between two
    * snapshots (Iceberg `create_changelog_view` as a READABLE TABLE) —
    * every visible column plus `_change_type` ('insert' | 'delete'; an
    * UPDATE appears as its delete + insert pair). Range via reader
    * options `from-snapshot-id`/`to-snapshot-id` (defaults: table
    * creation → current snapshot). The scan itself never executes — the
    * diff is file-pruned reads + exceptAll, an arbitrary plan, so
    * [[GraftSparkExtensions]]' ChangelogReadRule swaps the relation at
    * analysis time; reading without the extensions fails with guidance. */
  private final class ChangesMetaTable(db: String, table: String)
      extends Table with SupportsRead with ChangelogViewable {
    // row-lineage tables carry each pre/post-image's stable `_row_id`
    // through the CDC surface (Iceberg v3: consumers correlate a row's
    // delete and re-insert by identity, not value)
    private val withRid = cat.rowLineageEnabled(db, table)
    private val tableSchema = StructType(
      (cat.currentSnapshot(db, table).schema.fields
        .filterNot(f => cat.meta(db, table).hiddenCols(f.name)) ++
        (if (withRid) Seq(StructField("_row_id",
          org.apache.spark.sql.types.LongType, nullable = true)) else Nil)) :+
        StructField("_change_type", org.apache.spark.sql.types.StringType,
          nullable = false))
    override def name(): String = s"$catalogName.$db.$table.changes"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def changelogPlan(fromId: Option[Long],
        toId: Option[Long]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      val st = cat.loadTable(db, table)
      val diff = cat.changelogAt(st, fromId.getOrElse(st.entries.head.snapshotId),
        toId.getOrElse(st.published.snapshotId))
      // bucketed tables hide the derived __bucket layout column from SQL
      val visible = diff.select(tableSchema.fieldNames.map(n =>
        org.apache.spark.sql.functions.col(s"`$n`")).toIndexedSeq: _*)
      visible.queryExecution.analyzed
    }
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val visibleSchema = cat.withDefaultMeta(db, table, StructType(
        cat.currentSnapshot(db, table).schema.fields
          .filterNot(f => cat.meta(db, table).hiddenCols(f.name))))
      val partitioned = cat.meta(db, table).partitionCols
        .exists(c => !cat.meta(db, table).hiddenCols(c))
      new ScanBuilder
          with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
        private var pruned: StructType = tableSchema
        override def pruneColumns(req: StructType): Unit = pruned = req
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.Scan {
            override def readSchema(): StructType = pruned
            // batch reads are swapped at analysis time (ChangelogReadRule);
            // reaching toBatch means the extensions are not installed
            override def toBatch: org.apache.spark.sql.connector.read.Batch =
              throw new UnsupportedOperationException(
                s"$name() batch reads are served by the GraftSparkExtensions " +
                  "changelog rule - set spark.sql.extensions=" +
                  "graft.catalog.spark.GraftSparkExtensions")
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
              new SnapChangesStream(db, table, pruned, visibleSchema,
                partitioned, options, lineageRid = withRid)
            override def description(): String = s"$name CDC"
          }
      }
    }
  }

  /** `db.t.rows` — the row-LINEAGE relation: every visible row plus its
    * stable `_row_id` (see [[SnapshotCatalog.readWithRowIds]]), readable
    * from plain SQL. Rides the same analysis-time relation swap as
    * `.changes` (the plan is file reads + a metadata broadcast join, not
    * a V2 file scan). Requires `row.lineage=true` on the table. */
  private final class RowsMetaTable(db: String, table: String)
      extends Table with SupportsRead with ChangelogViewable {
    private val tableSchema = StructType(
      cat.currentSnapshot(db, table).schema.fields
        .filterNot(f => cat.meta(db, table).hiddenCols(f.name)) ++ Seq(
        StructField("_row_id", org.apache.spark.sql.types.LongType,
          nullable = true),
        StructField("_last_updated_snapshot_id",
          org.apache.spark.sql.types.LongType, nullable = true)))
    override def name(): String = s"$catalogName.$db.$table.rows"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def changelogPlan(fromId: Option[Long],
        toId: Option[Long]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      val visible = cat.readWithRowIds(db, table)
        .select(tableSchema.fieldNames.map(n =>
          org.apache.spark.sql.functions.col(s"`$n`")).toIndexedSeq: _*)
      visible.queryExecution.analyzed
    }
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new org.apache.spark.sql.connector.read.Scan {
        override def readSchema(): StructType = tableSchema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          throw new UnsupportedOperationException(
            s"$name() reads are served by the GraftSparkExtensions " +
              "relation swap - set spark.sql.extensions=" +
              "graft.catalog.spark.GraftSparkExtensions")
      }
  }

  private val metaTableKinds =
    Set("snapshots", "files", "refs", "history", "partitions", "manifests",
      "changes", "all_files", "rows")

  override def loadTable(ident: Identifier): Table = {
    // metadata-table addressing: snapcat.db.t.{snapshots,files,refs,history}
    // (unambiguous: namespaces are single-level, so a 2-level namespace can
    // only be a metadata address)
    if (ident.namespace().length == 2 && metaTableKinds(ident.name()) &&
      cat.tableExists(ident.namespace()(0), ident.namespace()(1))) {
      val (db, table) = (ident.namespace()(0), ident.namespace()(1))
      return if (ident.name() == "snapshots") new SnapshotsMetaTable(db, table)
      else if (ident.name() == "changes") new ChangesMetaTable(db, table)
      else if (ident.name() == "rows") {
        if (!cat.rowLineageEnabled(db, table))
          throw new UnsupportedOperationException(
            s"$catalogName.$db.$table.rows: the table does not track row " +
              "lineage - ALTER TABLE ... SET TBLPROPERTIES" +
              "('row.lineage'='true') and ids assign from the next commit")
        new RowsMetaTable(db, table)
      }
      else new InventoryMetaTable(db, table, ident.name())
    }
    // branch-write addressing (Iceberg's convention): snapcat.db.t.branch_x
    // reads AND writes the branch head — `DELETE FROM snapcat.db.t.branch_x`
    // commits a branch-marked MoR delete, `INSERT INTO` appends to the
    // branch, both invisible to main until fastForward
    if (ident.namespace().length == 2 && ident.name().startsWith("branch_") &&
      cat.tableExists(ident.namespace()(0), ident.namespace()(1))) {
      val (db, table) = (ident.namespace()(0), ident.namespace()(1))
      val name = ident.name().stripPrefix("branch_")
      val headId = cat.resolveBranch(db, table, name).getOrElse(
        throw new NoSuchTableException(ident))
      val st = cat.loadTable(db, table)
      return new SnapTable(s"$catalogName.$db.$table.branch_$name",
        st, st.entryAt(headId), cat.meta(db, table), db, table,
        branch = Some(name))
    }
    checkExists(ident)
    val st = cat.loadTable(ident.namespace().head, ident.name())
    snapshotTable(ident, st, st.published)
  }

  /** VERSION AS OF <snapshotId | 'tag' | 'branch'>
    * (`5_migrate_tables_data.py:72-74` surface, plus Iceberg named refs:
    * tags and branch heads resolve wherever a snapshot id does — branch
    * reads are `VERSION AS OF 'branchname'`). */
  override def loadTable(ident: Identifier, version: String): Table = {
    checkExists(ident)
    val db = ident.namespace().head
    val table = ident.name()
    val snapId = version.toLongOption
      .orElse(cat.resolveTag(db, table, version))
      .orElse(cat.resolveBranch(db, table, version))
      .getOrElse(throw new IllegalArgumentException(
        s"snapcat VERSION AS OF takes a numeric snapshot id, a tag or a " +
          s"branch name; '$version' is none (tags: " +
          cat.meta(db, table).refs.keys.toSeq.sorted.mkString(",") +
          "; branches: " +
          cat.meta(db, table).branches.keys.toSeq.sorted.mkString(",") + ")"))
    val st = cat.loadTable(db, table)
    snapshotTable(ident, st, st.entryAt(snapId))
  }

  /** TIMESTAMP AS OF — micros since epoch (Spark converts literals). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    checkExists(ident)
    val ts = java.time.Instant.EPOCH.plusNanos(timestamp * 1000L)
    val st = cat.loadTable(ident.namespace().head, ident.name())
    val e = st.entries
      .filter(s => !java.time.Instant.parse(s.committedAt).isAfter(ts))
      .maxByOption(_.snapshotId)
      .getOrElse(throw new NoSuchTableException(ident))
    snapshotTable(ident, st, e)
  }

  private def checkExists(ident: Identifier): Unit = {
    if (ident.namespace().length != 1 ||
      !cat.tableExists(ident.namespace().head, ident.name()))
      throw new NoSuchTableException(ident)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && cat.tableExists(ident.namespace().head, ident.name())

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(ident.namespace().length == 1, "snapcat namespaces are single-level")
    val db = ident.namespace().head
    // CREATE TABLE ... PARTITIONED BY (bucket(n, col)) -> bucketed table
    // (SQL writes derive __bucket in the write builder; co-bucketed joins
    // then plan shuffle-free, see BucketedScan)
    partitions match {
      case Array(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(throw new IllegalArgumentException(s"bucket transform without count: $t"))
        val colName = t.references.head.fieldNames.mkString(".")
        cat.createBucketedTable(db, ident.name(), schema, colName, n)
        return loadTable(ident)
      // CREATE TABLE ... PARTITIONED BY (days(ts)|hours(ts)|months(ts)|
      // years(ts)) -> HIDDEN time-transform partitioning: writes derive
      // __pt, reads prune timestamp ranges to __pt=N/ dirs, and the user
      // never sees the layout column (the Iceberg hidden-partitioning UX)
      case Array(t) if Set("days", "hours", "months", "years")(t.name) =>
        val kind = t.name.stripSuffix("s")
        val colName = t.references.head.fieldNames.mkString(".")
        cat.createTransformPartitionedTable(db, ident.name(), schema, colName,
          kind, properties.asScala.toMap - "provider" - "owner" - "location")
        return loadTable(ident)
      // CREATE TABLE ... PARTITIONED BY (truncate(4, col)) — Iceberg's
      // truncate transform; either argument order accepted
      case Array(t) if t.name == "truncate" =>
        val w = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"truncate transform without width: $t"))
        val colName = t.references.head.fieldNames.mkString(".")
        cat.createTruncatePartitionedTable(db, ident.name(), schema, colName,
          w, properties.asScala.toMap - "provider" - "owner" - "location")
        return loadTable(ident)
      case _ => ()
    }
    val partCols = partitions.map { t =>
      require(t.name == "identity",
        s"only identity, bucket(n, col), days(ts), hours(ts), months(ts), " +
          s"years(ts), or truncate(w, col) partitioning supported, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    cat.createTable(db, ident.name(), stripDefaultMeta(schema),
      partCols.toSeq, properties.asScala.toMap ++ defaultProps(schema))
    loadTable(ident)
  }

  /** Default metadata must NOT reach the stored schema: `toDDL` would
    * emit the DEFAULT clause and the DDL-string round-trip (`fromDDL`)
    * cannot parse it back — properties are the storage, metadata is the
    * serving surface. */
  private def stripDefaultMeta(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains("CURRENT_DEFAULT") &&
          !f.metadata.contains("EXISTS_DEFAULT")) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT").build())
    })

  /** Column-default metadata arriving on a CREATE TABLE schema (the
    * analyzer encodes `c INT DEFAULT 5` as CURRENT_DEFAULT/EXISTS_DEFAULT
    * field metadata), extracted into table properties — the DDL-string
    * schema storage cannot carry field metadata. */
  private def defaultProps(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      val cur =
        if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(s"default.current.${f.name}" -> f.metadata.getString("CURRENT_DEFAULT"))
        else None
      val ex =
        if (f.metadata.contains("EXISTS_DEFAULT"))
          Some(s"default.exists.${f.name}" -> f.metadata.getString("EXISTS_DEFAULT"))
        else None
      cur ++ ex
    }.toMap

  /** Schema evolution (ALTER TABLE ADD COLUMN / SET-UNSET TBLPROPERTIES).
    * Adding a column commits an `evolve` snapshot — same data files, new
    * schema; existing parquet files null-fill the new column on read, and
    * time travel to pre-evolution snapshots serves the old schema (each
    * snapshot stores its own DDL). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    checkExists(ident)
    val db = ident.namespace().head
    val table = ident.name()
    var schema = cat.currentSnapshot(db, table).schema
    var evolved = false
    var droppedAny = false
    // Two-phase: VALIDATE the whole change list first, buffering property
    // mutations — applying side effects while iterating would leave a
    // statement mixing a property change with a failing AddColumn (or an
    // unsupported change) partially applied.
    val propOps = Seq.newBuilder[(String, Option[String])]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.isNullable,
          "added columns must be nullable (pre-evolution files null-fill them)")
        schema = SchemaEvolve.addAt(schema, add.fieldNames.toIndexedSeq, add.dataType)
        evolved = true
        Option(add.defaultValue()).foreach { dv =>
          require(add.fieldNames.length == 1,
            "column DEFAULT is supported on top-level columns only")
          val name = add.fieldNames.head
          // the INITIAL (exists) default freezes NOW as a folded constant:
          // rows in files that predate the column serve it forever,
          // regardless of later SET DEFAULT changes (Iceberg v3 initial-
          // default semantics). Folding via Spark's own machinery keeps
          // expression defaults (e.g. DEFAULT 2 + 3) constant at read.
          val curMeta = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", dv.getSql).build()
          val folded = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .constantFoldCurrentDefaultsToExistDefaults(
              StructType(Seq(StructField(name, add.dataType, add.isNullable, curMeta))),
              "ALTER TABLE ADD COLUMN")
          propOps += ((s"default.current.$name", Some(dv.getSql)))
          propOps += ((s"default.exists.$name",
            Some(folded.head.metadata.getString("EXISTS_DEFAULT"))))
        }
      case del: TableChange.DeleteColumn =>
        schema = SchemaEvolve.dropAt(schema, del.fieldNames.toIndexedSeq)
        evolved = true
        // top-level drops narrow the visible schema (evolveSchema's
        // explicit-consent gate); nested drops rewrite a column TYPE and
        // never remove a top-level name
        if (del.fieldNames.length == 1) droppedAny = true
      case uc: TableChange.UpdateColumnType =>
        // safe WIDENING only (int family upward, float->double, decimal
        // precision growth): old files read through the parquet reader's
        // upcast, so no data rewrite is needed; anything lossy or
        // reader-breaking is refused
        schema = SchemaEvolve.widenAt(schema, uc.fieldNames.toIndexedSeq, uc.newDataType)
        evolved = true
      case sp: TableChange.SetProperty =>
        propOps += ((sp.property, Some(sp.value)))
      case rp: TableChange.RemoveProperty =>
        propOps += ((rp.property, None))
      case ud: TableChange.UpdateColumnDefaultValue =>
        // ALTER COLUMN ... SET/DROP DEFAULT mutates the CURRENT (write)
        // default only — the frozen initial default, if any, keeps
        // serving pre-evolution rows
        require(ud.fieldNames.length == 1,
          "column DEFAULT is supported on top-level columns only")
        val name = ud.fieldNames.head
        require(schema.fieldNames.contains(name), s"no such column: $name")
        val sql = Option(ud.newCurrentDefault()).map(_.getSql)
          .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
        propOps += ((s"default.current.$name", sql))
      case other =>
        // RENAME COLUMN stays unsupported by design: name-based column
        // mapping cannot re-bind existing files to a new name (that is
        // what Iceberg field-ids buy); add+backfill+drop is the safe path
        throw new UnsupportedOperationException(s"ALTER TABLE change not supported: $other")
    }
    propOps.result().foreach { case (k, v) => cat.setProperty(db, table, k, v) }
    if (evolved) cat.evolveSchema(db, table, schema, allowDrop = droppedAny)
    loadTable(ident)
  }

  // ---- staged writes: saveAsTable / CTAS / RTAS ----

  private def v2ToStruct(columns: Array[Column]): StructType =
    StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)))

  /** Staged table whose data write commits through the snapshot protocol.
    * `overwriteData` = RTAS shape: the write is an `overwrite` commit on the
    * EXISTING table, so — unlike drop-and-recreate — snapshot history stays
    * time-travelable across the replace (Iceberg RTAS semantics). */
  private def staged(ident: Identifier, overwriteData: Boolean,
      onAbort: () => Unit): StagedTable =
    new StagedTable with org.apache.spark.sql.connector.catalog.SupportsWrite {
      private val db = ident.namespace().head
      private val table = ident.name()
      override def name(): String = s"$catalogName.$db.$table"
      override def schema(): StructType = cat.currentSnapshot(db, table).schema
      override def partitioning(): Array[Transform] =
        cat.meta(db, table).partitionCols.map(c => Expressions.identity(c)).toArray
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
      override def commitStagedChanges(): Unit = ()
      override def abortStagedChanges(): Unit = onAbort()
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new SnapWriteBuilder(db, table, startTruncated = overwriteData, info)
    }

  /** CTAS / `df.write.saveAsTable` (create): the table is created up front
    * and dropped again on abort, so a failed CTAS leaves no trace. */
  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    createTable(ident, v2ToStruct(columns), partitions, properties)
    staged(ident, overwriteData = false,
      onAbort = () => cat.dropTable(ident.namespace().head, ident.name()))
  }

  /** RTAS / `df.write.mode("overwrite").saveAsTable` on an existing table:
    * ONE `overwrite` commit, history preserved. The replacing write may
    * carry a new partition spec/properties — applied to table meta up front
    * (the staged data write partitionBys against it), and RESTORED from the
    * stashed old meta on abort: a failed RTAS must not leave the table with
    * the new spec but the old data — the next append would partitionBy a
    * column the data is not laid out (or doesn't even exist) under. The new
    * schema rides the overwrite commit itself. */
  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    checkExists(ident)
    val db = ident.namespace().head
    val table = ident.name()
    val partCols = partitions.map { t =>
      require(t.name == "identity", s"only identity partitioning supported, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val oldMeta = cat.meta(db, table)
    cat.replaceTableSpec(db, table, partCols.toSeq, properties.asScala.toMap)
    staged(ident, overwriteData = true,
      onAbort = () =>
        cat.replaceTableSpec(db, table, oldMeta.partitionCols, oldMeta.properties))
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    if (tableExists(ident)) stageReplace(ident, columns, partitions, properties)
    else stageCreate(ident, columns, partitions, properties)

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    cat.dropTable(ident.namespace().head, ident.name())
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().length == 1 && newIdent.namespace().length == 1,
      "snapcat namespaces are single-level")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!cat.namespaceExists(newIdent.namespace().head))
      throw new NoSuchNamespaceException(newIdent.namespace())
    cat.renameTable(oldIdent.namespace().head, oldIdent.name(),
      newIdent.namespace().head, newIdent.name())
  }
}

/** Executor-side row projection for the SQL row-level rewrite write:
  * [[org.apache.spark.sql.execution.datasources.v2.ReplaceDataExec]]
  * delivers the rewrite query's rows with Spark's leading
  * `__row_operation` marker column still attached; the parquet writer
  * underneath was built with the TABLE schema, so each row is projected
  * down to the trailing `dataTypes.length` fields before writing. Rows
  * already at table width (no marker) pass through untouched. */
private final case class MarkerStrippingWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataTypes: Array[org.apache.spark.sql.types.DataType])
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.write.DataWriter

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val delegate = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      private lazy val strip = UnsafeProjection.create(
        dataTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(i + 1, dt, nullable = true): org.apache.spark.sql.catalyst.expressions.Expression
        }.toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == dataTypes.length + 1) delegate.write(strip(row))
        else delegate.write(row)
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
        delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}

/** V1 `sources.Filter` -> `Column` translation for the copy-on-write
  * DELETE path. Spark only offers filters it could translate FROM Catalyst,
  * so this is total over the V1 filter algebra; `translatable` guards
  * against future filter shapes (canDeleteWhere returns false and Spark
  * raises a clear unsupported-delete error instead of a MatchError). */
private[spark] object FilterToColumn {
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  private def c(attr: String): org.apache.spark.sql.Column = col(s"`$attr`")

  def translatable(f: Filter): Boolean = f match {
    case And(l, r) => translatable(l) && translatable(r)
    case Or(l, r) => translatable(l) && translatable(r)
    case Not(x) => translatable(x)
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith | _: StringEndsWith | _: StringContains |
         _: AlwaysTrue | _: AlwaysFalse => true
    case _ => false
  }

  def apply(f: Filter): org.apache.spark.sql.Column = f match {
    case EqualTo(a, v) => c(a) === lit(v)
    case EqualNullSafe(a, v) => c(a) <=> lit(v)
    case GreaterThan(a, v) => c(a) > lit(v)
    case GreaterThanOrEqual(a, v) => c(a) >= lit(v)
    case LessThan(a, v) => c(a) < lit(v)
    case LessThanOrEqual(a, v) => c(a) <= lit(v)
    case In(a, vs) => c(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => c(a).isNull
    case IsNotNull(a) => c(a).isNotNull
    case And(l, r) => apply(l) && apply(r)
    case Or(l, r) => apply(l) || apply(r)
    case Not(x) => not(apply(x))
    case StringStartsWith(a, v) => c(a).startsWith(v)
    case StringEndsWith(a, v) => c(a).endsWith(v)
    case StringContains(a, v) => c(a).contains(v)
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case other => throw new UnsupportedOperationException(s"untranslatable filter: $other")
  }
}
