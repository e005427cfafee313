package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{JObj, JStr, Json, SnapshotCatalog}
import graft.functions.Fingerprint
import graft.stages._

/** End-to-end: the reference's six-stage migration
  * (`/root/reference/1..6_*.py`) over a warehouse built from real testdata,
  * including point-in-time semantics (migrate snapshot N, not latest) and
  * checksum sensitivity. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def newCat(): SnapshotCatalog = {
    val dir = Files.createTempDirectory("graft_pipe_").toString
    var tick = 0L
    new SnapshotCatalog(spark, dir,
      clock = () => { tick += 1; Instant.parse("2026-02-01T00:00:00Z").plusSeconds(tick * 60) })
  }

  test("six-stage migration: point-in-time state moves and verifies") {
    val src = newCat()
    val dst = newCat()

    // source warehouse: two tables, multi-snapshot history
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val region = spark.read.parquet(s"$sf/region.parquet")
    src.createTable("tpch", "nation", nation.schema)
    src.createTable("tpch", "region", region.schema)
    val nSnap = src.append("tpch", "nation", nation)        // the state we migrate
    src.append("tpch", "region", region)
    // commits tick 60s apart: creates @+1m,+2m, appends @+3m,+4m, overwrite @+5m
    val cutoff = Instant.parse("2026-02-01T00:04:30Z")       // after the appends...
    src.overwrite("tpch", "nation", nation.limit(3))         // ...later state NOT migrated

    // [1] collect snapshots
    val snaps = SnapshotCollector.run(src, "tpch")
    assert(snaps.map(_.tableName).sorted == Seq("nation", "region"))
    assert(snaps.find(_.tableName == "nation").get.snapshots.map(_.operation) ==
      Seq("create", "append", "overwrite"))

    // [2] as-of resolution + schema capture: cutoff excludes the overwrite
    val resolved = AsOfResolver.resolve(snaps, cutoff.toString)
    assert(resolved("tpch.nation") == nSnap.snapshotId)
    val infos = SchemaCapture.run(src, "tpch", resolved)
    assert(infos.size == 2)
    val nInfo = infos.find(_.tableName == "nation").get
    assert(nInfo.columns.map(_.name) == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(nInfo.columns.forall(c => c.colType.nonEmpty && !c.colType.contains("(") || c.colType.contains("(")))
    assert(nInfo.files.nonEmpty && nInfo.snapshotId == nSnap.snapshotId)

    // artifact round-trip (stage interop via JSON files like the reference)
    val workDir = Files.createTempDirectory("graft_work_").toString
    val sFile = Artifacts.saveSnapshotsInfo(workDir, snaps)
    val tFile = Artifacts.saveTablesInfo(workDir, infos)
    assert(Artifacts.loadSnapshotsInfo(sFile.toString).map(_.tableName).sorted == Seq("nation", "region"))
    assert(Artifacts.loadTablesInfo(tFile.toString) == infos)

    // [3] create target tables, [4] verify schemas
    val created = TableCreator.run(dst, infos)
    assert(created.forall(_.status == "success"))
    val validated = SchemaVerifier.run(dst, infos)
    assert(validated.forall(_.ok), validated.mkString("\n"))

    // [5] migrate, [6] verify integrity
    val migrated = Migrator.run(src, dst, infos)
    assert(migrated.forall(_.status == "success"), migrated.mkString("\n"))
    assert(migrated.find(_.tableName == "nation").get.recordsCount == 25)
    val verified = IntegrityVerifier.run(src, dst, infos)
    assert(verified.forall(_.ok), verified.mkString("\n"))

    // migrated state is the PRE-overwrite snapshot (point-in-time, not latest)
    assert(dst.readLatest("tpch", "nation").count() == 25)
    assert(src.readLatest("tpch", "nation").count() == 3)

    // reports render
    assert(Files.exists(Report.migration(migrated, workDir)))
    assert(Files.exists(Report.dataVerification(verified, workDir)))
  }

  test("integrity verification detects tampering") {
    val src = newCat()
    val dst = newCat()
    val region = spark.read.parquet(s"$sf/region.parquet")
    src.createTable("db", "region", region.schema)
    val s = src.append("db", "region", region)
    val info = SchemaCapture.captureTable(src, "db", "region", s.snapshotId).get
    Migrator.run(src, dst, Seq(info))
    // tamper: same count, one value changed
    dst.overwrite("db", "region",
      region.withColumn("r_name", when(col("r_regionkey") === 0, lit("XXXXX")).otherwise(col("r_name"))))
    val r = IntegrityVerifier.verifyOne(src, dst, info)
    assert(r.countsMatch && !r.checksumMatch && !r.ok)
    assert(r.sourceDigest == "scanned", "the tampering commit unbinds the migrate record")
  }

  /** A source table `db.t` whose as-of snapshot (returned) carries live
    * position deletes, with a later commit on top so it is not the latest. */
  private def morSource(src: SnapshotCatalog): TableInfo = {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    src.createTable("db", "t", li.schema)
    src.append("db", "t", li)
    val asOf = src.deleteMoR("db", "t", col("l_quantity") < 5)
    assert(asOf.deleteFiles.nonEmpty, "as-of snapshot must carry position deletes")
    src.append("db", "t", li.limit(10))
    SchemaCapture.captureTable(src, "db", "t", asOf.snapshotId).get
  }

  private def recordedDigest(src: SnapshotCatalog, dst: SnapshotCatalog, info: TableInfo) =
    SourceDigest.recorded(src, dst, info, dst.currentSnapshotId(info.database, info.tableName))

  test("recorded source digest equals an independent digest of a MoR as-of snapshot") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    val m = Migrator.migrateOne(src, dst, info)
    assert(m.status == "success", m)
    val expected = Fingerprint.digest(src.readAsOf("db", "t", info.snapshotId))
    assert(expected.count > 0 && expected.count < 6000)
    assert(recordedDigest(src, dst, info).contains(expected))
  }

  test("recorded source digest covers top-level and nested map columns") {
    val src = newCat()
    val dst = newCat()
    // top-level map -> sort_array(map_entries); struct/array of map and a
    // map of maps -> to_json: every hashableCols branch runs inside observe
    val df = spark.range(0, 50).selectExpr("id",
      "map(concat('k', id % 3), id, 'z', id * 2) as m",
      "named_struct('inner', map('a', id)) as st",
      "array(map('x', cast(id as string))) as am",
      "map('outer', map('in', id)) as mm")
    src.createTable("db", "maps", df.schema)
    val s1 = src.append("db", "maps", df)
    val info = SchemaCapture.captureTable(src, "db", "maps", s1.snapshotId).get
    assert(Migrator.migrateOne(src, dst, info).status == "success")
    val expected = Fingerprint.digest(src.readAsOf("db", "maps", s1.snapshotId))
    assert(expected.count == 50)
    assert(recordedDigest(src, dst, info).contains(expected))
    val v = IntegrityVerifier.verifyOne(src, dst, info)
    assert(v.ok && v.sourceDigest == "recorded", v)
  }

  test("verify trusts only a matching record: source files gone still verifies; each mismatch scans") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    assert(Migrator.migrateOne(src, dst, info).status == "success")

    // move the source's data files away: a recorded verify never opens them
    val data = Paths.get(src.warehouse, "db", "t", "data")
    val parked = Files.createTempDirectory("graft_parked_").resolve("data")
    Files.move(data, parked)
    val r = IntegrityVerifier.verifyOne(src, dst, info)
    assert(r.ok && r.sourceDigest == "recorded", r)
    Files.move(parked, data)

    def verifyScans(why: String): Unit = {
      val v = IntegrityVerifier.verifyOne(src, dst, info)
      assert(v.ok && v.sourceDigest == "scanned", s"$why: $v")
    }
    val prop = dst.meta("db", "t").properties(SourceDigest.Property)
    // another source snapshot id in the record
    val fields = Json.parse(prop).asInstanceOf[JObj].fields.collect { case (k, JStr(v)) => k -> v }.toMap
    val otherSnap = fields + ("source_snapshot_id" -> (info.snapshotId + 1).toString)
    dst.setProperty("db", "t", SourceDigest.Property, Some(Json.write(Json.fromStrMap(otherSnap))))
    verifyScans("record names another source snapshot")
    // no record at all
    dst.setProperty("db", "t", SourceDigest.Property, None)
    verifyScans("record absent")
    // the record is back, but the target was re-committed since
    dst.setProperty("db", "t", SourceDigest.Property, Some(prop))
    assert(IntegrityVerifier.verifyOne(src, dst, info).sourceDigest == "recorded")
    dst.overwrite("db", "t", src.readAsOf("db", "t", info.snapshotId))
    verifyScans("target re-committed")
  }

  test("a sort-ordered target double-counts the observation: no record, verify scans") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    // the range partitioner's sampling job runs the observed frame too
    dst.createTable("db", "t", src.snapshotAt("db", "t", info.snapshotId).schema,
      properties = Map("write.sort-order" -> "l_quantity"))
    val m = Migrator.migrateOne(src, dst, info)
    assert(m.status == "success" &&
      m.recordsCount == src.readAsOf("db", "t", info.snapshotId).count(), m)
    assert(!dst.meta("db", "t").properties.contains(SourceDigest.Property))
    val v = IntegrityVerifier.verifyOne(src, dst, info)
    assert(v.ok && v.sourceDigest == "scanned", v)
  }

  test("separate migrate and verify catalogs match across relative and absolute warehouse paths") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    // as if `migrate-data` and `verify-data` ran as two processes: fresh
    // catalogs, one given a relative and one an absolute (unnormalized)
    // spelling of the same source warehouse
    val abs = Paths.get(src.warehouse).toAbsolutePath
    val rel = Paths.get("").toAbsolutePath.relativize(abs).toString
    assert(!Paths.get(rel).isAbsolute)
    val migrateSrc = new SnapshotCatalog(spark, rel)
    assert(Migrator.migrateOne(migrateSrc, new SnapshotCatalog(spark, dst.warehouse), info)
      .status == "success")
    val verifySrc = new SnapshotCatalog(spark, s"$abs/./../${abs.getFileName}")
    val v = IntegrityVerifier.verifyOne(verifySrc, new SnapshotCatalog(spark, dst.warehouse), info)
    assert(v.ok && v.sourceDigest == "recorded", v)
  }

  test("migrate + verify of one MoR table run 2 Spark jobs (counter gate)") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    assert(TableCreator.createOne(dst, info).status == "success")
    val (_, jobs) = SparkJobs.counted(spark) {
      assert(Migrator.migrateOne(src, dst, info).status == "success")
      val v = IntegrityVerifier.verifyOne(src, dst, info)
      assert(v.ok && v.sourceDigest == "recorded", v)
    }
    // Before the source digest rode the migrate write: 7 jobs. Migrate ran
    // 2 (the position-delete broadcast and the write); verify ran 5, 3 of
    // them a second source read (delete broadcast, partial and final
    // aggregate) and 2 for the target. Then 4: the same 2 for migrate, and
    // only the target's 2 for verify. Now the source read drops its dead
    // rows inside the parquet readers, so migrate is the write alone (3).
    // Now the target's digest is one observed pass with no shuffle: 1 job.
    assert(jobs == 2, s"jobs: $jobs")
  }

  test("migrating one table reads each pointer log once plus once per commit attempt") {
    val src = newCat()
    val dst = newCat()
    val ti = morSource(src)
    assert(TableCreator.createOne(dst, ti).status == "success")
    val r0 = SnapshotCatalog.logReads.get()
    assert(Migrator.migrateOne(src, dst, ti).status == "success")
    val reads = SnapshotCatalog.logReads.get() - r0
    info(s"migrate of one table: $reads pointer-log reads")
    // two tables touched (source and target), one commit attempt
    assert(reads <= 3, s"migrate read the pointer logs $reads times")
    assert(IntegrityVerifier.verifyOne(src, dst, ti).ok)
  }

  test("verify with no recorded source digest runs 2 Spark jobs (counter gate)") {
    val src = newCat()
    val dst = newCat()
    val info = morSource(src)
    assert(Migrator.migrateOne(src, dst, info).status == "success")
    dst.setProperty("db", "t", SourceDigest.Property, None)
    val (v, jobs) = SparkJobs.counted(spark)(IntegrityVerifier.verifyOne(src, dst, info))
    assert(v.ok && v.sourceDigest == "scanned", v)
    // one observed pass per side; each was a partial and a final
    // aggregate job before (4)
    assert(jobs == 2, s"jobs: $jobs")
  }

  test("schema verifier reports missing and extra columns") {
    val dst = newCat()
    val df = Seq((1L, "x")).toDF("id", "name")
    dst.createTable("db", "t", df.schema)
    val info = TableInfo("db", "t",
      columns = Seq(ColumnInfo("id", "BIGINT"), ColumnInfo("gone", "STRING")),
      partitionCols = Nil, location = "", properties = Map.empty, files = Nil, snapshotId = 1L)
    val r = SchemaVerifier.verifyOne(dst, info)
    assert(!r.columnsMatch)
    assert(r.missingColumns == Seq("gone"))
    assert(r.extraColumns == Seq("name"))
  }

  test("checksum is order-insensitive and value-sensitive (Fingerprint)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val a = Fingerprint.digest(li)
    val b = Fingerprint.digest(li.orderBy(rand(7)))            // same rows, shuffled order
    assert(a == b)
    val firstKey = li.agg(min("l_orderkey")).head.getLong(0)
    val c = Fingerprint.digest(li.withColumn("l_quantity",
      when(col("l_orderkey") === firstKey,
        col("l_quantity") + 1).otherwise(col("l_quantity"))))  // cells changed
    assert(a.count == c.count && a.checksum != c.checksum)
  }

  test("q37: partition filter reaches the scan as a PartitionFilter (pruning, not row filter)") {
    val fx = WarehouseFixture.forDir(spark, sf)
    val plan = fx.src.readLatest("maint", "orders_part")
      .where(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected partition pruning in:\n${plan.take(2000)}")
  }

  test("TableDigestAgg: order-insensitive, value-sensitive, multiplicity-sensitive") {
    import graft.functions.TableDigestAgg
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def digestOf(df: org.apache.spark.sql.DataFrame) =
      df.select(Fingerprint.rowHash(df).as("h")).as[Long]
        .select(TableDigestAgg.digest128).head()
    val a = digestOf(li)
    assert(a.count == 6000)
    assert(a == digestOf(li.orderBy(rand(11))), "order-insensitive")
    val firstKey = li.agg(min("l_orderkey")).head.getLong(0)
    val changed = li.withColumn("l_quantity",
      when(col("l_orderkey") === firstKey, col("l_quantity") + 1).otherwise(col("l_quantity")))
    assert(digestOf(changed) != a, "value-sensitive")
    // duplicating a row changes the digest (XOR alone would cancel pairs)
    val dup = li.unionByName(li.limit(1))
    val d = digestOf(dup)
    assert(d.count == 6001 && (d.sumLane != a.sumLane), "multiplicity-sensitive")
  }

  test("digest handles nested maps (struct/array of map)") {
    val df = spark.sql(
      """select 1L as id,
        |       named_struct('m', map('k', 1)) as st,
        |       array(map('a', 'b')) as am""".stripMargin)
    val d1 = Fingerprint.digest(df)
    assert(d1.count == 1)
    val df2 = spark.sql(
      """select 1L as id,
        |       named_struct('m', map('k', 2)) as st,
        |       array(map('a', 'b')) as am""".stripMargin)
    assert(Fingerprint.digest(df2).checksum != d1.checksum, "nested-map change must alter checksum")
    // map-of-map column (top-level map with map values)
    val mm = spark.sql("select 1L as id, map('outer', map('inner', 7)) as m")
    assert(Fingerprint.digest(mm).count == 1)
  }

  test("as-of tie on committed_at resolves to the higher snapshot id everywhere") {
    val infos = Seq(SnapshotInfo("db", "t", Seq(
      SnapshotRecord(1, "2026-02-01T00:00:00Z", "create", Map.empty),
      SnapshotRecord(2, "2026-02-01T01:00:00Z", "append", Map.empty),
      SnapshotRecord(3, "2026-02-01T01:00:00Z", "overwrite", Map.empty))))
    assert(AsOfResolver.resolve(infos, "2026-02-01T01:00:00Z")("db.t") == 3L)
  }

  test("as-of accepts any ISO offset, not just Z/+00:00") {
    val infos = Seq(SnapshotInfo("db", "t", Seq(
      SnapshotRecord(1, "2026-02-01T00:00:00Z", "create", Map.empty),
      SnapshotRecord(2, "2026-02-01T01:00:00Z", "append", Map.empty))))
    // 2026-02-01T02:30:00+02:00 == 00:30Z -> snapshot 1 only
    assert(AsOfResolver.resolve(infos, "2026-02-01T02:30:00+02:00")("db.t") == 1L)
    assert(AsOfResolver.resolve(infos, "2026-02-01T01:00:00+00:00")("db.t") == 2L)
    assert(AsOfResolver.resolve(infos, "2026-01-31T20:00:00-05:00")("db.t") == 2L)
  }

  test("resolveDF window form agrees with driver-side resolution") {
    val src = newCat()
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    src.createTable("tpch", "nation", nation.schema)
    src.append("tpch", "nation", nation)
    src.overwrite("tpch", "nation", nation.limit(5))
    val infos = SnapshotCollector.run(src, "tpch")
    val ts = "2026-02-01T00:02:30Z" // between 2nd and 3rd commit
    val driverSide = AsOfResolver.resolve(infos, ts)

    val snapsDF = src.snapshots("tpch", "nation")
      .withColumn("database", lit("tpch")).withColumn("table_name", lit("nation"))
    val sparkSide = AsOfResolver.resolveDF(snapsDF, ts)
      .select("table_name", "snapshot_id").as[(String, Long)].collect().toMap
    assert(sparkSide("nation") == driverSide("tpch.nation"))
  }
}
