package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

import graft.catalog.SnapshotCatalog
import graft.functions.OnePass

/** Command-line surface over [[graft.catalog.SnapshotCatalog]].
  *
  * The reference tool is operated entirely through per-stage CLIs
  * (`/root/reference/1_collect_src_snapshots.py:100-109` ...
  * `6_verify_data_integrity.py:213-235`); this is the equivalent operational
  * entry point for the catalog layer itself — create/append/overwrite a
  * versioned table from Parquet input, inspect its snapshot log, and read it
  * back as of any snapshot.
  *
  * Usage:
  * {{{
  *   SnapCli create    <warehouse> <db> <table> <parquetPath> [partCol,...]
  *   SnapCli append    <warehouse> <db> <table> <parquetPath>
  *   SnapCli overwrite <warehouse> <db> <table> <parquetPath>
  *   SnapCli tables    <warehouse> <db>
  *   SnapCli snapshots <warehouse> <db> <table>
  *   SnapCli files     <warehouse> <db> <table> <snapshotId>
  *   SnapCli show      <warehouse> <db> <table> [snapshotId] [limit]
  * }}}
  */
object SnapCli {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-snapcli")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.catalog.spark.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val cmd = args(0)
    val spark = session()
    try run(spark, cmd, args.drop(1))
    catch {
      case e: Exception =>
        val msg = Option(e.getMessage).filter(_.trim.nonEmpty).getOrElse(e.toString)
        System.err.println(s"error: $msg")
        sys.exit(1)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: String, a: Array[String]): Unit = cmd match {
    case "create" =>
      val Array(wh, db, table, path) = a.take(4)
      val partCols = if (a.length > 4) a(4).split(",").toSeq else Seq.empty
      val cat = new SnapshotCatalog(spark, wh)
      val df = spark.read.parquet(path)
      val created = cat.createTable(db, table, df.schema, partCols)
      if (!created) println(s"table $db.$table already exists (IF NOT EXISTS)")
      else {
        val snap = cat.append(db, table, df)
        println(s"created $db.$table snapshot=${snap.snapshotId} records=${snap.recordCount} files=${snap.files.size}")
      }
    case "append" | "overwrite" =>
      val Array(wh, db, table, path) = a.take(4)
      val cat = new SnapshotCatalog(spark, wh)
      val df = spark.read.parquet(path)
      val snap = if (cmd == "append") cat.append(db, table, df) else cat.overwrite(db, table, df)
      println(s"$cmd $db.$table snapshot=${snap.snapshotId} records=${snap.recordCount} files=${snap.files.size}")
    case "tables" =>
      val Array(wh, db) = a.take(2)
      new SnapshotCatalog(spark, wh).listTables(db).foreach(println)
    case "snapshots" =>
      val Array(wh, db, table) = a.take(3)
      new SnapshotCatalog(spark, wh).snapshots(db, table)
        .orderBy("committed_at").show(100, truncate = false)
    case "files" =>
      val Array(wh, db, table, id) = a.take(4)
      new SnapshotCatalog(spark, wh).files(db, table, id.toLong).foreach(println)
    case "show" =>
      val Array(wh, db, table) = a.take(3)
      val cat = new SnapshotCatalog(spark, wh)
      val df = if (a.length > 3) cat.readAsOf(db, table, a(3).toLong) else cat.readLatest(db, table)
      val limit = if (a.length > 4) a(4).toInt else 20
      println(s"count=${OnePass.aggregate(df, Seq(count(lit(1)))).getLong(0)}")
      df.show(limit, truncate = false)
    case "compact" =>
      val Array(wh, db, table, n) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh).compact(db, table, n.toInt)
      println(s"compact $db.$table snapshot=${snap.snapshotId} files=${snap.files.size} records=${snap.recordCount}")
    case "expire" =>
      val Array(wh, db, table, keep) = a.take(4)
      val deleted = new SnapshotCatalog(spark, wh).expireSnapshots(db, table, keep.toInt)
      println(s"expire $db.$table deleted_files=$deleted")
    case "expire-older-than" =>
      // SnapCli expire-older-than <wh> <db> <t> <ISO instant> [keepLast]
      val Array(wh, db, table, cutoff) = a.take(4)
      val keep = if (a.length > 4) a(4).toInt else 1
      val deleted = new SnapshotCatalog(spark, wh)
        .expireSnapshotsOlderThan(db, table, java.time.Instant.parse(cutoff), keep)
      println(s"expire-older-than $db.$table deleted_files=$deleted")
    case "sql" =>
      // arbitrary SQL against the warehouse via the V2 catalog plugin:
      // SnapCli sql <warehouse> "SELECT * FROM snapcat.db.t VERSION AS OF 2"
      // (covers DELETE FROM / UPDATE / MERGE INTO via the same plugin)
      val Array(wh, query) = a.take(2)
      spark.conf.set("spark.sql.catalog.snapcat", "graft.catalog.spark.SnapCatalogPlugin")
      spark.conf.set("spark.sql.catalog.snapcat.warehouse", wh)
      spark.sql(query).show(100, truncate = false)
    case "rollback" =>
      val Array(wh, db, table, id) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh).rollback(db, table, id.toLong)
      println(s"rollback $db.$table snapshot=${snap.snapshotId} " +
        s"rolled_back_to=${snap.summary("rolled_back_to")} records=${snap.recordCount}")
    case "tag" =>
      val Array(wh, db, table, name, id) = a.take(5)
      new SnapshotCatalog(spark, wh).createTag(db, table, name, id.toLong)
      println(s"tagged $db.$table snapshot=$id as '$name'")
    case "tags" =>
      val Array(wh, db, table) = a.take(3)
      new SnapshotCatalog(spark, wh).meta(db, table).refs.toSeq.sortBy(_._1)
        .foreach { case (n, id) => println(s"$n\t$id") }
    case "adopt" =>
      // SnapCli adopt <wh> <db> <t> <srcDir> [append|overwrite] — zero-copy
      // migration: externally-written parquet joins the table by RENAME
      val Array(wh, db, table, srcDir) = a.take(4)
      val op = if (a.length > 4) a(4) else "append"
      val snap = new SnapshotCatalog(spark, wh)
        .adoptFiles(db, table, java.nio.file.Paths.get(srcDir), op)
      println(s"adopt $db.$table snapshot=${snap.snapshotId} " +
        s"files=${snap.summary("added_files")} records=${snap.summary("added_records")}")
    case "changelog" =>
      // SnapCli changelog <wh> <db> <t> <fromId> <toId> [limit]
      val Array(wh, db, table, from, to) = a.take(5)
      val limit = if (a.length > 5) a(5).toInt else 50
      new SnapshotCatalog(spark, wh).readChangelog(db, table, from.toLong, to.toLong)
        .show(limit, truncate = false)
    case "incremental" =>
      val Array(wh, db, table, from, to) = a.take(5)
      val df = new SnapshotCatalog(spark, wh).readIncremental(db, table, from.toLong, to.toLong)
      println(s"count=${OnePass.aggregate(df, Seq(count(lit(1)))).getLong(0)}")
      df.show(20, truncate = false)
    case "orphans" =>
      val Array(wh, db, table) = a.take(3)
      val deleted = new SnapshotCatalog(spark, wh).removeOrphanFiles(db, table)
      println(s"removed ${deleted.size} orphan files")
      deleted.foreach(println)
    case "zorder" =>
      val Array(wh, db, table, cols, n) = a.take(5)
      val snap = new SnapshotCatalog(spark, wh)
        .compactZOrder(db, table, cols.split(",").toSeq, n.toInt)
      println(s"zorder $db.$table snapshot=${snap.snapshotId} files=${snap.files.size}")
    case "bucket-create" =>
      val Array(wh, db, table, path, bucketCol, n) = a.take(6)
      val cat = new SnapshotCatalog(spark, wh)
      val df = spark.read.parquet(path)
      val created = cat.createBucketedTable(db, table, df.schema, bucketCol, n.toInt)
      if (!created) println(s"table $db.$table already exists (IF NOT EXISTS)")
      else {
        val snap = cat.appendBucketed(db, table, df)
        println(s"bucket-created $db.$table bucket($n,$bucketCol) " +
          s"snapshot=${snap.snapshotId} records=${snap.recordCount}")
      }
    case "bucket-append" =>
      val Array(wh, db, table, path) = a.take(4)
      val cat = new SnapshotCatalog(spark, wh)
      val snap = cat.appendBucketed(db, table, spark.read.parquet(path))
      println(s"bucket-append $db.$table snapshot=${snap.snapshotId} records=${snap.recordCount}")
    case "stage" =>
      // write-audit-publish: land a batch as a STAGED snapshot (invisible
      // until `publish`); audit it with `show <db> <table> <stagedId>`
      val Array(wh, db, table, path) = a.take(4)
      val cat = new SnapshotCatalog(spark, wh)
      val snap = cat.stageAppend(db, table, spark.read.parquet(path))
      println(s"staged $db.$table snapshot=${snap.snapshotId} " +
        s"records=${snap.summary("added_records")} (current stays " +
        s"${cat.currentSnapshotId(db, table)}; publish or discard ${snap.snapshotId})")
    case "publish" =>
      val Array(wh, db, table, id) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh).publishStaged(db, table, id.toLong)
      println(s"published $db.$table snapshot=${snap.snapshotId} " +
        s"source=${snap.summary("wap.source")} records=${snap.recordCount}")
    case "discard" =>
      val Array(wh, db, table, id) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh).discardStaged(db, table, id.toLong)
      println(s"discarded staged ${snap.summary("wap.discarded")} of $db.$table; " +
        s"current snapshot=${snap.snapshotId} records=${snap.recordCount}")
    case "delete-mor" =>
      // merge-on-read DELETE: positions committed, no data file rewritten
      // SnapCli delete-mor <wh> <db> <t> "<sql condition>"
      val Array(wh, db, table, cond) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh)
        .deleteMoR(db, table, org.apache.spark.sql.functions.expr(cond))
      println(s"delete-mor $db.$table snapshot=${snap.snapshotId} " +
        s"deleted=${snap.summary("deleted_records")} records=${snap.recordCount} " +
        s"delete_files=${snap.deleteFiles.size}")
    case "delete-eq" =>
      // EQUALITY delete: zero-corpus-scan GDPR-by-key
      // SnapCli delete-eq <wh> <db> <t> <keyCol> <v1,v2,...>
      val Array(wh, db, table, keyCol, vals) = a.take(5)
      val cat = new SnapshotCatalog(spark, wh)
      val dt = cat.currentSnapshot(db, table).schema(keyCol).dataType
      import spark.implicits._
      val keys = vals.split(",").toSeq.toDF(keyCol)
        .select(org.apache.spark.sql.functions.col(keyCol).cast(dt).as(keyCol))
      val snap = cat.deleteMoREq(db, table, keys)
      println(s"delete-eq $db.$table snapshot=${snap.snapshotId} " +
        s"keys=${snap.deleteFiles.lastOption.map(_.eqTuples).getOrElse(0L)} " +
        s"records=${snap.recordCount} (unknown=-1 until compact)")
    case "branch" =>
      // SnapCli branch <wh> <db> <t> <name> [fromSnapshotId]
      val Array(wh, db, table, name) = a.take(4)
      val cat = new SnapshotCatalog(spark, wh)
      cat.createBranch(db, table, name,
        if (a.length > 4) Some(a(4).toLong) else None)
      println(s"branch '$name' of $db.$table at snapshot " +
        cat.resolveBranch(db, table, name).get)
    case "branch-append" =>
      // SnapCli branch-append <wh> <db> <t> <name> <parquetPath>
      val Array(wh, db, table, name, path) = a.take(5)
      val snap = new SnapshotCatalog(spark, wh)
        .appendBranch(db, table, name, spark.read.parquet(path))
      println(s"branch-append '$name' of $db.$table snapshot=${snap.snapshotId} " +
        s"records=${snap.recordCount} (published state unchanged)")
    case "branches" =>
      val Array(wh, db, table) = a.take(3)
      new SnapshotCatalog(spark, wh).meta(db, table).branches.toSeq.sortBy(_._1)
        .foreach { case (n, id) => println(s"$n\t$id") }
    case "fastforward" =>
      // SnapCli fastforward <wh> <db> <t> <branch>
      val Array(wh, db, table, name) = a.take(4)
      val snap = new SnapshotCatalog(spark, wh).fastForward(db, table, name)
      println(s"fastforward $db.$table to branch '$name': snapshot=" +
        s"${snap.snapshotId} records=${snap.recordCount}")
    case "evolve-partition" =>
      // SnapCli evolve-partition <wh> <db> <t> <col1,col2|-> ('-' = unpartition)
      val Array(wh, db, table, cols) = a.take(4)
      val spec = if (cols == "-") Seq.empty[String]
        else cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      new SnapshotCatalog(spark, wh).evolvePartitionSpec(db, table, spec)
      println(s"evolve-partition $db.$table -> (${spec.mkString(",")}) " +
        "(new snapshots only; existing layout kept)")
    case "stream-ingest" =>
      // native streaming sink drive: tail a parquet DIRECTORY as a stream
      // and land each micro-batch as one epoch-tagged snapshot via
      // df.writeStream.toTable (exactly-once; see SnapStreamingWrite)
      val Array(wh, db, table, dir) = a.take(4)
      spark.conf.set("spark.sql.catalog.snapcat", "graft.catalog.spark.SnapCatalogPlugin")
      spark.conf.set("spark.sql.catalog.snapcat.warehouse", wh)
      val schema = spark.read.parquet(dir).schema
      val ckpt = java.nio.file.Files.createTempDirectory("snapcli_ckpt_").toString
      val q = spark.readStream.schema(schema).parquet(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .toTable(s"snapcat.$db.$table")
      q.processAllAvailable()
      q.stop()
      val cat = new SnapshotCatalog(spark, wh)
      val cur = cat.currentSnapshot(db, table)
      println(s"stream-ingest $db.$table snapshot=${cur.snapshotId} " +
        s"records=${cur.recordCount} " +
        s"epochs=${cur.summary.view.filterKeys(_.startsWith("stream-epoch.")).toMap}")
    case other =>
      System.err.println(s"unknown command: $other\n$usage")
      sys.exit(2)
  }

  private val usage: String =
    """usage: SnapCli <create|append|overwrite|tables|snapshots|files|show> <warehouse> <db> [args...]
      |  create    <warehouse> <db> <table> <parquetPath> [partCol,...]
      |  append    <warehouse> <db> <table> <parquetPath>
      |  overwrite <warehouse> <db> <table> <parquetPath>
      |  tables    <warehouse> <db>
      |  snapshots <warehouse> <db> <table>
      |  files     <warehouse> <db> <table> <snapshotId>
      |  show      <warehouse> <db> <table> [snapshotId] [limit]
      |  compact   <warehouse> <db> <table> <numFiles>
      |  expire    <warehouse> <db> <table> <keepLast>
      |  rollback  <warehouse> <db> <table> <snapshotId>
      |  tag       <warehouse> <db> <table> <name> <snapshotId>
      |  tags      <warehouse> <db> <table>
      |  incremental <warehouse> <db> <table> <fromId> <toId>
      |  orphans   <warehouse> <db> <table>
      |  zorder    <warehouse> <db> <table> <col1,col2[,...]> <numFiles>
      |  bucket-create <warehouse> <db> <table> <parquetPath> <bucketCol> <nBuckets>
      |  bucket-append <warehouse> <db> <table> <parquetPath>
      |  stage     <warehouse> <db> <table> <parquetPath>   (write-audit-publish)
      |  publish   <warehouse> <db> <table> <stagedId>
      |  discard   <warehouse> <db> <table> <stagedId>
      |  delete-mor <warehouse> <db> <table> "<sql condition>"  (merge-on-read positions)
      |  delete-eq  <warehouse> <db> <table> <keyCol> <v1,v2,...>  (equality delete, no scan)
      |  branch        <warehouse> <db> <table> <name> [fromId]
      |  branch-append <warehouse> <db> <table> <name> <parquetPath>
      |  branches      <warehouse> <db> <table>
      |  fastforward   <warehouse> <db> <table> <branch>
      |  evolve-partition <warehouse> <db> <table> <col1,col2|->
      |  stream-ingest <warehouse> <db> <table> <parquetDir>  (native writeStream.toTable)
      |  sql       <warehouse> "<query using snapcat.db.table>"  (incl. DELETE/UPDATE/MERGE)""".stripMargin
}
