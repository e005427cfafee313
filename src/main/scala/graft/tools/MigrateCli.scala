package graft.tools

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.catalog.SnapshotCatalog
import graft.stages._

/** The six-stage migration pipeline as a CLI — the operational surface of
  * the reference tool (one script per stage, chained via JSON artifacts:
  * `/root/reference/1_collect_src_snapshots.py` ...
  * `6_verify_data_integrity.py`). Stages can run individually (artifact file
  * in, artifact file out, exactly like the reference) or chained with `full`.
  *
  * Usage:
  * {{{
  *   MigrateCli collect-snapshots --source-warehouse WH --database DB --work-dir D
  *   MigrateCli collect-schema    --source-warehouse WH --database DB \
  *       --snapshot-info-file F --timestamp 2026-01-01T00:00:00Z --work-dir D
  *   MigrateCli create-tables     --target-warehouse WH --info-file F --work-dir D
  *   MigrateCli verify-tables     --target-warehouse WH --info-file F --work-dir D
  *   MigrateCli migrate-data      --source-warehouse S --target-warehouse T --info-file F --work-dir D
  *   MigrateCli verify-data       --source-warehouse S --target-warehouse T --info-file F --work-dir D
  *   MigrateCli full --source-warehouse S --target-warehouse T --database DB \
  *       --timestamp 2026-01-01T00:00:00Z --work-dir D
  * }}}
  */
object MigrateCli {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-migrate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parseFlags(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: MigrateCli <stage> --flags ..."); sys.exit(2) }
    val cmd = args(0)
    val f = parseFlags(args.drop(1))
    def req(k: String): String =
      f.getOrElse(k, { System.err.println(s"error: --$k is required"); sys.exit(2) })
    val spark = session()
    try {
      cmd match {
        case "collect-snapshots" =>
          val cat = new SnapshotCatalog(spark, req("source-warehouse"))
          val infos = SnapshotCollector.run(cat, req("database"))
          if (infos.isEmpty) println("No snapshot information to save")
          else {
            val p = Artifacts.saveSnapshotsInfo(req("work-dir"), infos)
            println(s"Snapshot information saved to: $p")
          }

        case "collect-schema" =>
          val cat = new SnapshotCatalog(spark, req("source-warehouse"))
          val snaps = Artifacts.loadSnapshotsInfo(req("snapshot-info-file"))
          val resolved = AsOfResolver.resolve(snaps, req("timestamp"))
          if (resolved.isEmpty)
            throw new IllegalArgumentException(s"No valid snapshots found before ${req("timestamp")}")
          val infos = SchemaCapture.run(cat, req("database"), resolved)
          if (infos.isEmpty) println("No table information was collected successfully")
          else {
            val p = Artifacts.saveTablesInfo(req("work-dir"), infos)
            println(s"Table information saved to: $p")
          }

        case "create-tables" =>
          val cat = new SnapshotCatalog(spark, req("target-warehouse"))
          val infos = Artifacts.loadTablesInfo(req("info-file"))
          val t0 = Instant.now()
          val results = TableCreator.run(cat, infos)
          val p = Report.tableCreation(results, t0, req("work-dir"))
          println(s"Table creation report saved to: $p")

        case "verify-tables" =>
          val cat = new SnapshotCatalog(spark, req("target-warehouse"))
          val results = SchemaVerifier.run(cat, Artifacts.loadTablesInfo(req("info-file")))
          val p = Report.validation(results, req("work-dir"))
          println(s"Validation report saved to: $p")
          if (!results.forall(_.ok)) sys.exit(1)

        case "migrate-data" =>
          val src = new SnapshotCatalog(spark, req("source-warehouse"))
          val dst = new SnapshotCatalog(spark, req("target-warehouse"))
          val results = Migrator.run(src, dst, Artifacts.loadTablesInfo(req("info-file")))
          val p = Report.migration(results, req("work-dir"))
          println(s"Migration report saved to: $p")
          if (results.exists(_.status != "success")) sys.exit(1)

        case "verify-data" =>
          val src = new SnapshotCatalog(spark, req("source-warehouse"))
          val dst = new SnapshotCatalog(spark, req("target-warehouse"))
          val results = IntegrityVerifier.run(src, dst, Artifacts.loadTablesInfo(req("info-file")))
          val p = Report.dataVerification(results, req("work-dir"))
          println(s"Verification report saved to: $p")
          results.foreach(r => println(
            s"${if (r.ok) "✅" else "❌"} ${r.database}.${r.tableName}: " +
            s"src=${r.sourceCount} dst=${r.targetCount} checksum=${r.checksumMatch} " +
            s"source=${r.sourceDigest}"))
          if (!results.forall(_.ok)) sys.exit(1)

        case "full" =>
          val src = new SnapshotCatalog(spark, req("source-warehouse"))
          val dst = new SnapshotCatalog(spark, req("target-warehouse"))
          val db = req("database")
          val workDir = req("work-dir")
          val ts = req("timestamp")

          println(s"[1/6] collecting snapshots for $db")
          val snaps = SnapshotCollector.run(src, db)
          val snapsFile = Artifacts.saveSnapshotsInfo(workDir, snaps)
          println(s"      -> $snapsFile")

          println(s"[2/6] capturing schema as of $ts")
          val resolved = AsOfResolver.resolve(snaps, ts)
          require(resolved.nonEmpty, s"No valid snapshots found before $ts")
          val infos = SchemaCapture.run(src, db, resolved)
          val infoFile = Artifacts.saveTablesInfo(workDir, infos)
          println(s"      -> $infoFile (${infos.size} tables)")

          println(s"[3/6] creating target tables")
          val created = TableCreator.run(dst, infos)
          Report.tableCreation(created, Instant.now(), workDir)
          println(s"      -> ${created.count(_.status == "success")}/${created.size} created")

          println(s"[4/6] verifying target schemas")
          val validated = SchemaVerifier.run(dst, infos)
          Report.validation(validated, workDir)
          println(s"      -> ${validated.count(_.ok)}/${validated.size} match")

          println(s"[5/6] migrating data")
          val migrated = Migrator.run(src, dst, infos)
          Report.migration(migrated, workDir)
          println(s"      -> ${migrated.count(_.status == "success")}/${migrated.size} migrated, " +
            f"${migrated.filter(_.status == "success").map(_.recordsCount).sum}%,d records")

          println(s"[6/6] verifying data integrity")
          val verified = IntegrityVerifier.run(src, dst, infos)
          Report.dataVerification(verified, workDir)
          verified.foreach(r => println(
            s"      ${if (r.ok) "✅" else "❌"} ${r.database}.${r.tableName}: " +
            s"src=${r.sourceCount} dst=${r.targetCount} counts=${r.countsMatch} " +
            s"checksum=${r.checksumMatch} source=${r.sourceDigest}"))
          if (!verified.forall(_.ok)) { println("⚠️ verification FAILED"); sys.exit(1) }
          println("All tables migrated and verified ✅")

        case other =>
          System.err.println(s"unknown stage: $other")
          sys.exit(2)
      }
    } catch {
      case e: java.nio.file.NoSuchFileException =>
        System.err.println(s"error: file not found: ${e.getFile}")
        sys.exit(1)
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
