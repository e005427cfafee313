package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

/** The per-layer metrics, named by module. Every traced run reports all
  * of them; a layer the workload never calls reads 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "stages.collect_s" -> "s", "stages.resolve_s" -> "s", "stages.capture_s" -> "s",
    "stages.create_s" -> "s", "stages.verify_schema_s" -> "s",
    "stages.migrate_s" -> "s", "stages.verify_data_s" -> "s",
    "catalog.commit.append_ms" -> "ms", "catalog.commit.overwrite_ms" -> "ms",
    "catalog.commit.delete_mor_ms" -> "ms", "catalog.commit.upsert_mor_ms" -> "ms",
    "catalog.commit.meta_bytes" -> "bytes", "catalog.commit.data_files" -> "count",
    "catalog.read.resolve_ms" -> "ms", "catalog.read.snapshot_dirs" -> "count",
    "catalog.read.files" -> "count", "catalog.read.delete_files" -> "count",
    "catalog.read.files_kept_ratio" -> "ratio",
    "catalog.meta.snapshot_list_ms" -> "ms", "catalog.meta.record_count_ms" -> "ms",
    "catalog.meta.files_ms" -> "ms",
    "catalog.spark.sql_asof_read_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.shuffle_bytes" -> "bytes", "spark.core_utilization" -> "ratio",
    "mv.agg.refresh_ms" -> "ms", "mv.distinct.refresh_ms" -> "ms",
    "mv.incremental_ratio" -> "ratio", "mv.commits_per_refresh" -> "count",
    "mv.jobs_per_refresh" -> "count",
    "index.text.refresh_ms" -> "ms", "index.dedup.refresh_ms" -> "ms",
    "index.vector.refresh_ms" -> "ms", "index.incremental_ratio" -> "ratio",
    "index.commits_per_refresh" -> "count",
    "migrate.rows_per_s" -> "rows/s",
    "timetravel.asof_read_p50_ms" -> "ms", "timetravel.asof_read_tail_ms" -> "ms",
    "timetravel.point_read_p50_ms" -> "ms", "timetravel.point_read_tail_ms" -> "ms",
    "timetravel.meta_p50_ms" -> "ms",
    "maintain.commit_p50_ms" -> "ms", "maintain.commit_tail_ms" -> "ms",
    "maintain.refresh_p50_ms" -> "ms", "maintain.refresh_tail_ms" -> "ms",
    "maintain.freshness_p50_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  private val unitMap = units.toMap
  def unitOf(k: String): String = unitMap.getOrElse(k, "count")

  private def med(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.map(_ / 1e6))

  /** Metrics every workload derives the same way: span medians for the
    * catalog and Spark calls, and Spark work per traced unit. */
  def common(rec: Recorder, t: Tracer, l: OpListener, cores: Int,
      commits: ArrayBuffer[(Long, Long)]): Map[String, Double] = {
    val spanMs = Seq(
      "catalog.commit.append", "catalog.commit.overwrite",
      "catalog.commit.delete_mor", "catalog.commit.upsert_mor",
      "catalog.read.resolve", "catalog.meta.snapshot_list",
      "catalog.meta.record_count", "catalog.meta.files",
      "catalog.spark.sql_asof_read", "spark.plan", "spark.exec")
      .map(n => s"${n}_ms" -> med(t.durations(n)))
    val nUnits = math.max(rec.units.size, 1).toDouble
    val c = SparkCounts.sum(l, _ != "untraced")
    val wallMs = rec.units.map(_.ms).sum
    val perCommit =
      if (commits.isEmpty) Seq("catalog.commit.meta_bytes" -> 0.0, "catalog.commit.data_files" -> 0.0)
      else Seq(
        "catalog.commit.meta_bytes" -> Stats.median(commits.map(_._1.toDouble).toSeq),
        "catalog.commit.data_files" -> Stats.median(commits.map(_._2.toDouble).toSeq))
    (spanMs ++ perCommit ++ Seq(
      "spark.jobs" -> c.jobs / nUnits, "spark.stages" -> c.stages / nUnits,
      "spark.tasks" -> c.tasks / nUnits, "spark.input_bytes" -> c.inputBytes / nUnits,
      "spark.output_bytes" -> c.outputBytes / nUnits,
      "spark.shuffle_bytes" -> c.shuffleBytes / nUnits,
      "spark.core_utilization" -> (if (wallMs > 0) c.runTimeMs / (wallMs * cores) else 0.0)
    )).toMap
  }

  /** Fill every per-layer name, 0 where the workload has no value. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    units.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
}

/** Commit calls, traced with the on-disk growth they cause. */
final class Commits(t: Tracer) {
  /** (metadata bytes, data + delete files) added by each traced commit. */
  val deltas = ArrayBuffer.empty[(Long, Long)]

  def apply[A](kind: String, tableDir: Path)(body: => A): A =
    if (!t.on) body
    else {
      val before = t.probe(DiskUse.of(tableDir))
      val a = t.span(s"catalog.commit.$kind")(body)
      val after = t.probe(DiskUse.of(tableDir))
      deltas += ((after.metaBytes - before.metaBytes,
        after.dataFiles + after.deleteFiles - before.dataFiles - before.deleteFiles))
      a
    }
}
