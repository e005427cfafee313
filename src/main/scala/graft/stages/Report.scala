package graft.stages

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** Text report writers — the reference's four per-stage reports share one
  * shape: group by database, fixed-width table with status icon, per-DB
  * stats, overall summary with failure warning (SURVEY §2.8;
  * `/root/reference/3_create_dst_tables.py:114-158`,
  * `4_verify_table_creation.py:110-169`, `5_migrate_tables_data.py:112-170`,
  * `6_verify_data_integrity.py:117-181`). Driver-side only; no Spark.
  */
object Report {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def save(baseDir: String, sub: String, prefix: String, body: String): Path = {
    val dir = Paths.get(baseDir, "migration_reports", sub)
    Files.createDirectories(dir)
    val stamp = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(ZoneOffset.UTC).format(Instant.now())
    val f = dir.resolve(s"${prefix}_$stamp.txt")
    Files.writeString(f, body)
    f
  }

  private def pad(s: String, w: Int): String = if (s.length >= w) s else s + " " * (w - s.length)

  def tableCreation(results: Seq[CreationResult], startTime: Instant, baseDir: String): Path = {
    val sb = new StringBuilder
    sb.append("Table Creation Report\n").append("=" * 50).append('\n')
    sb.append(s"Start Time: ${fmt.format(startTime)}\n")
    sb.append(s"End Time: ${fmt.format(Instant.now())}\n")
    sb.append("=" * 50).append("\n\n")
    results.groupBy(_.database).toSeq.sortBy(_._1).foreach { case (db, rs) =>
      sb.append(s"\n📁 Database: $db\n")
      sb.append(s"${pad("Table Name", 30)} ${pad("Status", 10)} ${pad("Time(s)", 15)} ${pad("Files Count", 10)}\n")
      sb.append("-" * 70).append('\n')
      rs.foreach { r =>
        val icon = if (r.status == "success") "✅" else "❌"
        sb.append(s"${pad(r.table, 30)} $icon ${pad(r.status, 8)} ${pad(f"${r.time}%.2f", 15)} ${pad(r.filesCount.toString, 10)}\n")
        r.error.foreach(e => sb.append(s"  Error: $e\n"))
      }
      val ok = rs.count(_.status == "success")
      sb.append(s"\nDatabase Statistics:\n")
      sb.append(s"Total Tables: ${rs.size}, Success: $ok, Failed: ${rs.size - ok}\n")
      sb.append("=" * 70).append('\n')
    }
    save(baseDir, "table_creation_reports", "migration_report", sb.toString)
  }

  def validation(results: Seq[ValidationResult], baseDir: String): Path = {
    val sb = new StringBuilder
    sb.append("Table Creation Validation Report\n").append("=" * 80).append("\n\n")
    results.groupBy(_.database).toSeq.sortBy(_._1).foreach { case (db, rs) =>
      sb.append(s"\n📁 Database: $db\n").append("-" * 80).append('\n')
      rs.foreach { r =>
        val icon = if (r.columnsMatch && r.partitionColsMatch) "✅" else "❌"
        sb.append(s"\n$icon Table: ${r.tableName}\n")
        r.error.foreach(e => sb.append(s"  Error: $e\n"))
        if (r.error.isEmpty) {
          if (r.missingColumns.nonEmpty)
            sb.append("  Missing columns: " + r.missingColumns.mkString(", ") + "\n")
          if (r.extraColumns.nonEmpty)
            sb.append("  Extra columns: " + r.extraColumns.mkString(", ") + "\n")
          if (r.missingPartitionCols.nonEmpty)
            sb.append("  Missing partition columns: " + r.missingPartitionCols.mkString(", ") + "\n")
          if (r.extraPartitionCols.nonEmpty)
            sb.append("  Extra partition columns: " + r.extraPartitionCols.mkString(", ") + "\n")
        }
      }
      sb.append("\n").append("-" * 80).append('\n')
    }
    val ok = results.count(_.ok)
    sb.append(s"\nSummary:\nTotal tables: ${results.size}\n")
    sb.append(s"Successfully matched: $ok\nFailed: ${results.size - ok}\n")
    save(baseDir, "tables_creation_verification_reports", "validation_report", sb.toString)
  }

  def migration(results: Seq[MigrationResult], baseDir: String): Path = {
    val sb = new StringBuilder
    sb.append("Table Data Migration Report\n").append("=" * 80).append("\n\n")
    val totalOk = results.count(_.status == "success")
    val totalRecords = results.filter(_.status == "success").map(_.recordsCount).sum
    results.groupBy(_.database).toSeq.sortBy(_._1).foreach { case (db, rs) =>
      sb.append(s"\n📁 Database: $db\n").append("-" * 80).append('\n')
      sb.append(s"${pad("Table Name", 40)} ${pad("Status", 10)} ${pad("Records", 10)} ${pad("Duration(s)", 10)}\n")
      sb.append("-" * 80).append('\n')
      var dbRecords = 0L
      rs.foreach { r =>
        val icon = if (r.status == "success") "✅" else "❌"
        val dur = if (r.status == "success") f"${r.duration}%.2f" else "N/A"
        sb.append(s"${pad(r.tableName, 40)} $icon ${pad(r.status, 8)} ${pad(r.recordsCount.toString, 10)} ${pad(dur, 10)}\n")
        r.error.foreach(e => sb.append(s"  Error: $e\n"))
        if (r.status == "success") dbRecords += r.recordsCount
      }
      val ok = rs.count(_.status == "success")
      sb.append(s"\nDatabase Summary:\n")
      sb.append(s"Successfully migrated tables: $ok/${rs.size}\n")
      sb.append(f"Total records migrated: $dbRecords%,d\n")
      sb.append("\n").append("-" * 80).append('\n')
    }
    sb.append(s"\nOverall Summary:\nTotal tables: ${results.size}\n")
    sb.append(s"Successfully migrated: $totalOk\nFailed: ${results.size - totalOk}\n")
    sb.append(f"Total records migrated: $totalRecords%,d\n")
    if (totalOk < results.size)
      sb.append("\n⚠️ WARNING: Some tables failed to migrate! Please check the error messages above.\n")
    save(baseDir, "tables_data_migration_reports", "data_migration_report", sb.toString)
  }

  def dataVerification(results: Seq[DataVerificationResult], baseDir: String): Path = {
    val sb = new StringBuilder
    sb.append("Data Verification Report\n").append("=" * 80).append("\n\n")
    val totalOk = results.count(_.ok)
    results.groupBy(_.database).toSeq.sortBy(_._1).foreach { case (db, rs) =>
      sb.append(s"\n📁 Database: $db\n").append("-" * 80).append('\n')
      sb.append(s"${pad("Table Name", 40)} ${pad("Status", 10)} ${pad("Records", 20)} ${pad("Duration(s)", 12)} ${pad("Source", 10)}\n")
      sb.append("-" * 96).append('\n')
      rs.foreach { r =>
        val icon = if (r.ok) "✅" else "❌"
        val records = f"${r.sourceCount}%,d → ${r.targetCount}%,d"
        sb.append(s"${pad(r.tableName, 40)} ${pad(icon, 10)} ${pad(records, 20)} ${pad(f"${r.duration}%.2f", 12)} ${pad(r.sourceDigest, 10)}\n")
        r.error.foreach(e => sb.append(s"  Error: $e\n"))
        if (r.error.isEmpty && !r.ok) {
          if (!r.countsMatch) sb.append("  ⚠️ Record counts do not match\n")
          if (!r.checksumMatch) sb.append("  ⚠️ Data checksums do not match\n")
          if (!r.sampleMatch) sb.append("  ⚠️ Sample data comparison failed\n")
        }
      }
      sb.append(s"\nDatabase Summary:\n")
      sb.append(s"Successfully verified tables: ${rs.count(_.ok)}/${rs.size}\n")
      sb.append("\n").append("-" * 80).append('\n')
    }
    sb.append(s"\nOverall Summary:\nTotal tables: ${results.size}\n")
    sb.append(s"Successfully verified: $totalOk\nFailed: ${results.size - totalOk}\n")
    if (totalOk < results.size)
      sb.append("\n⚠️ WARNING: Some tables failed verification! Please check the details above.\n")
    save(baseDir, "data_verification_reports", "data_integrity_verification_report", sb.toString)
  }
}
