package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Position-delete passes as one Spark job. `upsertMoR` matches a small
  * single-column key set as an inline `IN` on the candidate scan; its
  * result must equal a plain-Spark oracle (anti-join plus union) for
  * every key type and option. Delete coverage comes from the delete
  * files' footers, with a read-back only for files that span several
  * data files; the recorded `covers` must equal a plain group-by over
  * the delete files, whichever path wrote them. */
class PositionDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val dir = Files.createTempDirectory("graft_posdel_").toString
    var tick = 0L
    new SnapshotCatalog(spark, dir,
      clock = () => { tick += 1; Instant.parse("2026-07-01T00:00:00Z").plusSeconds(tick * 60) })
  }

  /** `body`'s result, the Spark jobs it ran, and the executed plans of
    * the queries it ran. */
  private def traced[A](body: => A): (A, Int, Seq[String]) = {
    val plans = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe; () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftColumnBridge.waitListenerBus(spark, 10000)
    spark.listenerManager.register(listener)
    val (out, jobs) = try SparkJobs.counted(spark)(body)
      finally {
        GraftColumnBridge.waitListenerBus(spark, 10000)
        spark.listenerManager.unregister(listener)
      }
    (out, jobs, plans.synchronized(plans.toSeq).map(_.executedPlan.toString))
  }

  /** The plan of the position-delete write among `plans`. */
  private def posDeletePlan(plans: Seq[String]): String = {
    val ps = plans.filter(_.contains(SnapshotCatalog.MorPosCol))
    assert(ps.size == 1, plans.mkString("\n----\n"))
    ps.head
  }

  /** Rows as sortable strings: -0.0 and NaN compare as written. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `db.t` over `target` (k, v), committed as two appends (two data
    * files), with v = 5 deleted merge-on-read so the candidate scan
    * applies a live delete. */
  private def twoFileTable(cat: SnapshotCatalog, target: DataFrame,
      properties: Map[String, String] = Map.empty): Unit = {
    cat.createTable("db", "t", target.schema, properties = properties)
    cat.append("db", "t", target.where(col("v") < 20).repartition(1))
    cat.append("db", "t", target.where(col("v") >= 20).repartition(1))
    cat.deleteMoR("db", "t", col("v") === 5)
  }

  /** `upsertMoR` of `source` (plus `alsoDelete` keys) on `db.t`, checked
    * against the oracle: the visible target rows no key matches (an
    * equi-join, null-safe when asked), plus every source row. Returns the
    * executed plans of the upsert. */
  private def checkUpsert(cat: SnapshotCatalog, source: DataFrame,
      alsoDelete: Option[DataFrame] = None, nullSafe: Boolean = false): Seq[String] = {
    val before = cat.readLatest("db", "t").localCheckpoint()
    val keys = alsoDelete.fold(source.select("k"))(d => source.select("k").unionByName(d))
      .withColumnRenamed("k", "ok")
    val survivors = before.join(keys,
      if (nullSafe) before("k") <=> keys("ok") else before("k") === keys("ok"), "left_anti")
    val want = rowsOf(survivors.unionByName(source))
    val (snap, _, plans) = traced(cat.upsertMoR("db", "t", source, Seq("k"),
      nullSafeKeys = nullSafe, alsoDeleteKeys = alsoDelete))
    assert(rowsOf(cat.readLatest("db", "t")) == want)
    assert(snap.recordCount == want.size, "record_count stays exact")
    plans
  }

  /** Key columns of each tested type, from a long column. The float and
    * double keys put NaN at 0, 0.0 at 1 and -0.0 at 2. */
  private val keyTypes: Seq[(String, Column => Column)] = Seq(
    "byte" -> (_.cast("byte")),
    "short" -> (_.cast("short")),
    "int" -> (_.cast("int")),
    "long" -> (c => c),
    "string" -> (c => concat(lit("k"), c.cast("string"))),
    "date" -> (c => date_add(lit("2026-01-01").cast("date"), c.cast("int"))),
    "timestamp" -> (c => timestamp_seconds(c * 86399)),
    "timestamp_ntz" -> (c => timestamp_seconds(c * 86399).cast("timestamp_ntz")),
    "decimal" -> (c => (c.cast("decimal(12,2)") / 4).cast("decimal(12,2)")),
    "float" -> (c => when(c === 0, lit(Float.NaN)).when(c === 1, lit(0.0f))
      .when(c === 2, lit(-0.0f)).otherwise(c.cast("float") / 3)),
    "double" -> (c => when(c === 0, lit(Double.NaN)).when(c === 1, lit(0.0))
      .when(c === 2, lit(-0.0)).otherwise(c.cast("double") / 3)))

  private def target(f: Column => Column): DataFrame =
    spark.range(0, 40).select(f(col("id") % 20).as("k"), col("id").cast("int").as("v"))

  private def source(f: Column => Column, ids: Seq[Long]): DataFrame =
    ids.toDF("x").select(f(col("x")).as("k"), (col("x") + 100).cast("int").as("v"))

  test("inline key match equals the semi-join oracle for every key type, with no Exchange") {
    // past ten values the optimizer plans the IN as a hashed InSet
    val fresh = 40L to 52L
    val cases = keyTypes.map { case (n, f) => (n, f, Seq(1L, 2L, 2L, 7L, 25L, 30L)) } ++
      keyTypes.map { case (n, f) => (s"$n, InSet", f, Seq(1L, 2L, 2L, 7L) ++ fresh) } ++ Seq(
        // one zero sign (and NaN) on the source side only: the join's float
        // normalization kills both signed zeros of the target
        ("double, -0.0 and NaN source", keyTypes.last._2, Seq(2L, 0L)),
        ("double, 0.0 source", keyTypes.last._2, Seq(1L)),
        ("double, -0.0 and NaN source, InSet", keyTypes.last._2, Seq(2L, 0L) ++ fresh),
        ("double, 0.0 source, InSet", keyTypes.last._2, Seq(1L) ++ fresh))
    for ((name, f, ids) <- cases) {
      val cat = freshCatalog()
      twoFileTable(cat, target(f))
      val plan = posDeletePlan(checkUpsert(cat, source(f, ids)))
      assert(!plan.contains("Exchange") && !plan.contains("Join"), s"$name:\n$plan")
    }
  }

  test("null-safe keys, alsoDeleteKeys, duplicate and empty sources match the oracle inline") {
    val f = (c: Column) => when(c === 3, lit(null).cast("int")).otherwise(c.cast("int"))
    for (nullSafe <- Seq(false, true)) {
      val cat = freshCatalog()
      twoFileTable(cat, target(f))
      // a null key on both sides: it replaces only when null-safe
      val plans = checkUpsert(cat, source(f, Seq(3L, 4L, 4L, 40L)), nullSafe = nullSafe)
      assert(!posDeletePlan(plans).contains("Exchange"), nullSafe)
      checkUpsert(cat, source(f, Seq(6L)), alsoDelete = Some(Seq(8, 9).toDF("k")),
        nullSafe = nullSafe)
      // delete-only keys and a null among them
      checkUpsert(cat, source(f, Seq(41L)),
        alsoDelete = Some(Seq(Some(10), None).toDF("k")), nullSafe = nullSafe)
      checkUpsert(cat, source(f, Nil), nullSafe = nullSafe)
      assert(cat.currentSnapshot("db", "t").summary("deleted_records") == "0")
    }
  }

  test("row lineage: matched keys inherit __rid, duplicates and new keys mint fresh ids") {
    val cat = freshCatalog()
    cat.createTable("db", "t", Seq((0L, "x")).toDF("k", "v").schema,
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "t", (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v").repartition(1))
    cat.append("db", "t", (10L until 20L).map(k => (k, s"a$k")).toDF("k", "v").repartition(1))
    def ids = cat.readWithRowIds("db", "t").select("k", "_row_id").as[(Long, Long)]
      .collect().toSeq
    val before = ids.toMap
    cat.upsertMoR("db", "t",
      Seq((3L, "U"), (12L, "U"), (15L, "D1"), (15L, "D2"), (50L, "N")).toDF("k", "v"), Seq("k"))
    val after = ids
    val byKey = after.groupMap(_._1)(_._2)
    assert(byKey(3L) == Seq(before(3L)) && byKey(12L) == Seq(before(12L)))
    assert(byKey(15L).size == 2 && byKey(15L).forall(id => !before.values.toSet(id)))
    assert(!before.values.toSet(byKey(50L).head))
    assert(after.map(_._2).distinct.size == after.size, "ids stay unique")
    assert(rowsOf(cat.readLatest("db", "t").where(col("k").isin(3L, 12L)).select("v")) ==
      Seq("[U]", "[U]"))
  }

  test("explicit rids: the replica takes the source's ids verbatim") {
    val cat = freshCatalog()
    cat.createTable("db", "t", Seq((0L, "x")).toDF("k", "v").schema,
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "t", (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v").repartition(1))
    cat.append("db", "t", (10L until 20L).map(k => (k, s"a$k")).toDF("k", "v").repartition(1))
    cat.upsertMoR("db", "t", Seq((4L, "U", 1000L), (60L, "N", 1001L)).toDF("k", "v", "__rid"),
      Seq("k"), explicitRids = true)
    val got = cat.readWithRowIds("db", "t").select("k", "v", "_row_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got.size == 21)
    assert(got.filter(_._1 == 4L) == Seq((4L, "U", 1000L)))
    assert(got.filter(_._1 == 60L) == Seq((60L, "N", 1001L)))
  }

  test("a key set past the bound takes the semi-join and matches the oracle") {
    val cat = freshCatalog()
    twoFileTable(cat, spark.range(0, 3000).select(col("id").as("k"), col("id").cast("int").as("v")))
    val n = SnapshotCatalog.InlineKeyBound + 1
    val plans = checkUpsert(cat,
      spark.range(0, n).select((col("id") * 2).as("k"), (-col("id")).cast("int").as("v")))
    assert(posDeletePlan(plans).contains("LeftSemi"), posDeletePlan(plans))
    // the bound holds on distinct keys: duplicates do not push a set past it
    val dup = spark.range(0, 4 * SnapshotCatalog.InlineKeyBound)
      .select((col("id") % 7).as("k"), lit(-1).as("v"))
    assert(!posDeletePlan(checkUpsert(cat, dup)).contains("Join"))
    // the key probe's one pass also yields the key range: no second
    // (min/max) pass over the key frame before the position-delete write
    val cat2 = freshCatalog()
    twoFileTable(cat2, spark.range(0, 3000).select(col("id").as("k"), col("id").cast("int").as("v")))
    val (_, jobs, _) = traced(cat2.upsertMoR("db", "t",
      spark.range(0, n).select((col("id") * 2).as("k"), (-col("id")).cast("int").as("v")), Seq("k")))
    info(s"past-the-bound upsert: $jobs Spark jobs")
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("job gates: a 50-row local upsert runs 2 jobs, a MoR delete 1") {
    val cat = freshCatalog()
    twoFileTable(cat, spark.range(0, 400).select(col("id").as("k"), col("id").cast("int").as("v")))
    val src = (0L until 50L).map(i => (i * 7, -i.toInt)).toDF("k", "v")
    val (_, jobs, plans) = traced(cat.upsertMoR("db", "t", src, Seq("k")))
    info(s"50-row LocalRelation upsert: $jobs Spark jobs")
    assert(jobs <= 2, s"$jobs jobs; the semi-join pass with a read-back took 7")
    assert(!posDeletePlan(plans).contains("Exchange"), posDeletePlan(plans))
    val (_, delJobs, _) = traced(cat.deleteMoR("db", "t", col("k") % 11 === 0))
    info(s"deleteMoR: $delJobs Spark jobs")
    assert(delJobs <= 1, s"$delJobs jobs; with the coverage read-back it took 2")
  }

  /** Every positional delete file of `db.t`'s current snapshot: its
    * recorded `covers` equal a plain count of its rows per `_file`, and
    * `record_count` equals the visible row count. Returns the largest
    * number of data files one delete file covers. */
  private def checkCoverage(cat: SnapshotCatalog): Int = {
    val snap = cat.currentSnapshot("db", "t")
    val root = Paths.get(cat.warehouse, "db", "t")
    val pos = snap.deleteFiles.filter(_.isPositional)
    assert(pos.nonEmpty)
    val name = (p: String) => p.substring(p.lastIndexOf('/') + 1)
    val counted = spark.read.parquet(pos.map(d => root.resolve(d.path).toString): _*)
      .groupBy(input_file_name().as("f"), col("_file")).count()
      .as[(String, String, Long)].collect().toSeq
      .groupMap(r => name(r._1))(r => r._2 -> r._3).view.mapValues(_.toMap).toMap
    assert(pos.map(d => name(d.path) -> d.covers).toMap == counted)
    assert(snap.recordCount == cat.readLatest("db", "t").count())
    pos.map(_.covers.size).max
  }

  test("footer coverage is exact when each delete file spans one data file") {
    val cat = freshCatalog()
    twoFileTable(cat, spark.range(0, 400).select(col("id").as("k"), col("id").cast("int").as("v")))
    cat.deleteMoR("db", "t", col("k") % 3 === 0)
    assert(checkCoverage(cat) == 1)
    cat.upsertMoR("db", "t", Seq((4L, 0), (200L, 0)).toDF("k", "v"), Seq("k"))
    assert(checkCoverage(cat) == 1)
    cat.updateMoR("db", "t", col("k") === 301L, Map("v" -> lit(-1)))
    assert(checkCoverage(cat) == 1)
  }

  /** `body` with broadcast joins off: the delete writes follow a
    * shuffled join's partitioning, so their files span several data
    * files. */
  private def shuffled[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("coverage is exact when delete files span several data files") {
    // an upsert past the bound
    val cat = freshCatalog()
    twoFileTable(cat, spark.range(0, 3000).select(col("id").as("k"), col("id").cast("int").as("v")))
    shuffled(checkUpsert(cat, spark.range(0, SnapshotCatalog.InlineKeyBound + 100)
      .select((col("id") * 2).as("k"), lit(0).as("v"))))
    assert(checkCoverage(cat) > 1)

    // convert_equality_deletes' range-sharded dead shards
    val eq = freshCatalog()
    twoFileTable(eq, spark.range(0, 400).select(col("id").as("k"), col("id").cast("int").as("v")))
    eq.deleteMoREq("db", "t", Seq(3L, 250L, 390L).toDF("k"))
    assert(eq.convertEqualityDeletes("db", "t").isDefined)
    assert(checkCoverage(eq) > 1)

    // a SQL MERGE: its delete writers follow the join's partitioning
    val sql = freshCatalog()
    spark.conf.set("spark.sql.catalog.posdel", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.posdel.warehouse", sql.warehouse)
    twoFileTable(sql, spark.range(0, 400).select(col("id").as("k"), col("id").cast("int").as("v")))
    (0L until 400L by 3L).map(k => (k, -1)).toDF("k", "v").createOrReplaceTempView("posdel_src")
    shuffled(spark.sql("""MERGE INTO posdel.db.t t USING posdel_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"""))
    assert(checkCoverage(sql) > 1)
    assert(sql.readLatest("db", "t").where(col("v") === -1).count() == 134)
  }
}
