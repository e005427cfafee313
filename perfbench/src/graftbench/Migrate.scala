package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.SnapshotCatalog
import graft.stages._

/** `migrate`: the paper's six-stage pipeline, point in time.
  *
  * Setup builds a source warehouse holding every input table, each with a
  * history: create, a full append, a merge-on-read delete of a seeded key
  * slice, and, after the cutoff instant, an overwrite with a small seeded
  * slice. The cutoff therefore resolves to a non-latest snapshot that
  * carries position deletes. A round migrates every table, one unit per
  * table (collect, resolve, capture, create, verify-schema, migrate,
  * verify-data), into a fresh target warehouse. There is no warm-up: a
  * migration tool runs its pipeline once per process, so the pass a user
  * waits for is the first one after the source exists.
  *
  * Chosen because nearly all of its time is in the migrate and verify
  * stages, which read and write every row through a fixed number of
  * Spark jobs per table, while the metadata stages are cheap. Commit-path,
  * write and digest changes show here; planning changes should not. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx.spark

  private val db = "wh"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")
  private val stageNames = Seq("collect", "resolve", "capture", "create",
    "verify_schema", "migrate", "verify_data")
  private def file(t: String) = ctx.data.resolve(s"$t.parquet")
  private val raw: Map[String, DataFrame] =
    tables.map(t => t -> spark.read.parquet(file(t).toString)).toMap
  private def key(t: String) = col(raw(t).columns.head)
  // the seeded key slices: ~5% deleted before the cutoff, ~1% written after
  private def deleted(t: String) = pmod(xxhash64(key(t), lit(ctx.seed)), lit(20L)) === 0
  private def later(t: String) = pmod(xxhash64(key(t), lit(ctx.seed + 1)), lit(100L)) === 0

  // oracle: the as-of state of every table, plain Spark over the input files
  private val (rawCount, expected) = {
    // one job over every table: (table, as-of flag, row hash) rows
    val rows = tables.zipWithIndex.map { case (t, i) =>
      raw(t).select(lit(i).as("t"), (!deleted(t)).as("kept"),
        Digest.rowHash(raw(t).columns.toSeq).as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), count(when(col("kept"), lit(1))),
        coalesce(sum(when(col("kept"), col("h"))), lit(0).cast("decimal(38,0)")))
      .collect()
    (rows.map(r => tables(r.getInt(0)) -> r.getLong(1)).toMap,
      rows.map(r => tables(r.getInt(0)) -> Digest.of(r, 2)).toMap)
  }
  private val asOfRows = expected.values.map(_.count).sum

  final class State(val src: SnapshotCatalog, val dir: Path, val cutoff: String,
      val asOfId: Map[String, Long], val commits: Commits) {
    var target: Option[Path] = None
    var passes = 0
  }

  def setup(dir: Path): State = {
    val src = new SnapshotCatalog(spark, dir.resolve("source").toString)
    val commits = new Commits(ctx.tracer)
    def tdir(t: String) = dir.resolve("source").resolve(db).resolve(t)
    val asOf = tables.map { t =>
      src.createTable(db, t, raw(t).schema)
      commits("append", tdir(t))(src.append(db, t, raw(t)))
      t -> commits("delete_mor", tdir(t))(src.deleteMoR(db, t, deleted(t))).snapshotId
    }.toMap
    Thread.sleep(5)
    val cutoff = Instant.now()
    Thread.sleep(5)
    tables.foreach(t => commits("overwrite", tdir(t))(src.overwrite(db, t, raw(t).where(later(t)))))
    new State(src, dir, cutoff.toString, asOf, commits)
  }

  def round(st: State, r: Int, rec: Recorder): Unit = {
    st.passes += 1
    val tdir = st.dir.resolve(s"target${st.passes}")
    val dst = new SnapshotCatalog(spark, tdir.toString)
    tables.foreach { t =>
      rec.unit {
        for {
          snaps <- rec.op("stages.collect")(SnapshotCollector.collectTable(st.src, db, t)) { o =>
            Check.eq(s"$t snapshots", o.map(_.snapshots.size), Some(4))
          }
          ids <- rec.op("stages.resolve")(AsOfResolver.resolve(snaps.toSeq, st.cutoff)) { m =>
            Check.eq(s"$t as-of snapshot", m.get(s"$db.$t"), Some(st.asOfId(t)))
          }
          captured <- rec.op("stages.capture")(SchemaCapture.captureTable(st.src, db, t, ids(s"$db.$t"))) { o =>
            Check.that(s"$t capture", o.exists(i => i.files.nonEmpty && i.snapshotId == st.asOfId(t)))
          }
          info <- captured
          _ <- rec.op("stages.create")(TableCreator.createOne(dst, info)) { c =>
            Check.eq(s"$t create", c.status, "success")
          }
          _ <- rec.op("stages.verify_schema")(SchemaVerifier.verifyOne(dst, info)) { v =>
            Check.that(s"$t schema", v.columnsMatch && v.partitionColsMatch)
          }
          _ <- rec.op("stages.migrate")(Migrator.migrateOne(st.src, dst, info)) { m =>
            Check.eq(s"$t migrated", (m.status, m.recordsCount), ("success", expected(t).count))
          }
          _ <- rec.op("stages.verify_data")(IntegrityVerifier.verifyOne(st.src, dst, info)) { v =>
            Check.that(s"$t integrity", v.sampleMatch)
          }
        } yield ()
        expected(t).count
      }
    }
    // every target's count and checksum against the oracle, in one job
    rec.check("target digests") {
      val got = tables.zipWithIndex.filter(ti => dst.tableExists(db, ti._1)).map { case (t, i) =>
        val df = dst.readLatest(db, t)
        df.select(lit(i).as("t"), Digest.rowHash(df.columns.toSeq).as("h"))
      }.reduce(_ unionByName _)
        .groupBy("t").agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
        .collect().map(r => tables(r.getInt(0)) -> Digest.of(r, 1))
      Check.eq("target digests", got.toMap, expected)
    }
    st.target.foreach(Main.rm)
    st.target = Some(tdir)
  }

  // the target a pass writes (every pass writes the same one), against
  // the migrated rows at the input files' own bytes per row
  def space(st: State): Double =
    st.target.map(DiskUse.of(_).bytes.toDouble).getOrElse(0.0) / tables.map { t =>
      Files.size(file(t)).toDouble * expected(t).count / math.max(rawCount(t), 1)
    }.sum

  def sizes(st: State): Map[String, Double] = {
    val d = DiskUse.of(st.dir.resolve("source"))
    Map("rows" -> rawCount.values.sum.toDouble, "as_of_rows" -> asOfRows.toDouble,
      "bytes" -> tables.map(t => Files.size(file(t))).sum.toDouble,
      "tables" -> tables.size.toDouble, "snapshots" -> 4.0 * tables.size,
      "files" -> (d.dataFiles + d.deleteFiles).toDouble)
  }

  private def rowsPerS(rec: Recorder): Double = {
    val s = rec.units.map(_.ms).sum / 1e3
    if (s > 0) rec.units.map(_.rows).sum / s else 0.0
  }

  def breakdown(rec: Recorder): Map[String, Double] =
    Map("migrate.rows_per_s" -> rowsPerS(rec))

  def layers(st: State, rec: Recorder, t: Tracer, l: OpListener): Map[String, Double] = {
    // stage seconds per round (every table), mean over the rounds run
    val rounds = math.max(rec.units.size / tables.size, 1).toDouble
    val stages = stageNames.map(s =>
      s"stages.${s}_s" -> rec.byClass.get(s"stages.$s").map(_.sum / 1e3 / rounds).getOrElse(0.0))
    Layers.complete(Layers.common(rec, t, l, ctx.cores, st.commits.deltas) ++ stages ++ breakdown(rec))
  }
}
