package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** The sharded snapshot log (format v2): pointer entries + per-snapshot
  * manifest shards. These tests pin the 100-TB commit-cost contract — an
  * append writes ONE shard holding exactly its added files and never
  * rewrites history; rollback/evolve write no shard at all.
  */
class ManifestLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newCat(): SnapshotCatalog =
    new SnapshotCatalog(spark, Files.createTempDirectory("graft_mlog_").toString)

  private def snapDir(cat: SnapshotCatalog, db: String, t: String): Path =
    Paths.get(cat.warehouse, db, t, "_snapshots")

  private def logObj(cat: SnapshotCatalog, db: String, t: String): JObj =
    Json.parse(Files.readString(snapDir(cat, db, t).resolve("log.json"))).asInstanceOf[JObj]

  private def entryManifests(o: JObj): Seq[Seq[String]] =
    o.arr("entries").map(_.asInstanceOf[JObj].arr("manifests").collect { case JStr(s) => s })

  private def manifestFiles(cat: SnapshotCatalog, db: String, t: String,
      name: String): Seq[String] =
    Json.parse(Files.readString(snapDir(cat, db, t).resolve(name)))
      .asInstanceOf[JObj].arr("files").collect { case JStr(s) => s }

  test("append writes one delta shard; pointer log stays O(snapshots)") {
    val cat = newCat()
    cat.createTable("db", "t",
      Seq((1L, "a")).toDF("id", "v").schema)
    val s2 = cat.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s3 = cat.append("db", "t", Seq((3L, "c")).toDF("id", "v"))
    val s4 = cat.append("db", "t", Seq((4L, "d")).toDF("id", "v"))

    val o = logObj(cat, "db", "t")
    assert(o.long("format_version") == 2L)
    val ms = entryManifests(o)
    // create has no shard; each append adds exactly one, reusing the rest
    assert(ms == Seq(Seq(), Seq("m2.json"), Seq("m2.json", "m3.json"),
      Seq("m2.json", "m3.json", "m4.json")))

    // the delta shard holds EXACTLY the files that append added
    assert(manifestFiles(cat, "db", "t", "m4.json") == (s4.files diff s3.files))
    assert(manifestFiles(cat, "db", "t", "m3.json") == (s3.files diff s2.files))
    // and materialization reassembles the full list in commit order
    assert(cat.snapshotAt("db", "t", 4L).files == s4.files)
    assert(cat.currentSnapshot("db", "t").fileStats.keySet == s4.files.toSet)
  }

  test("rollback and evolve are pure pointer commits (no new shard)") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))
    cat.append("db", "t", Seq((2L, "b")).toDF("id", "v"))
    val before = Files.list(snapDir(cat, "db", "t")).count()
    cat.rollback("db", "t", 2L)
    val evolved = cat.snapshotAt("db", "t", 2L).schema
      .add(org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType))
    cat.evolveSchema("db", "t", evolved)
    assert(Files.list(snapDir(cat, "db", "t")).count() == before) // no m5/m6.json
    val ms = entryManifests(logObj(cat, "db", "t"))
    assert(ms(3) == Seq("m2.json"))            // rollback re-points at s2's shard
    assert(ms(4) == ms(3))                     // evolve reuses the head's shards
    assert(cat.currentSnapshot("db", "t").schema.fieldNames.contains("w"))
    assert(cat.readLatest("db", "t").count() == 1L)
  }

  test("overwrite starts a fresh single-shard lineage") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))
    val s3 = cat.overwrite("db", "t", Seq((9L, "z"), (8L, "y")).toDF("id", "v"))
    val ms = entryManifests(logObj(cat, "db", "t"))
    assert(ms(2) == Seq("m3.json"))
    assert(manifestFiles(cat, "db", "t", "m3.json") == s3.files)
    assert(cat.readAsOf("db", "t", 2L).count() == 1L) // history still readable
  }

  test("expireSnapshots deletes shards no kept entry references") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))
    cat.overwrite("db", "t", Seq((2L, "b")).toDF("id", "v")) // s3: fresh lineage
    cat.append("db", "t", Seq((3L, "c")).toDF("id", "v"))    // s4: m3+m4
    val deleted = cat.expireSnapshots("db", "t", 2)
    assert(deleted > 0)
    val sd = snapDir(cat, "db", "t")
    assert(!Files.exists(sd.resolve("m2.json"))) // only s2 referenced it
    assert(Files.exists(sd.resolve("m3.json")))  // s3 expired but s4 carries m3
    assert(Files.exists(sd.resolve("m4.json")))
    assert(cat.readLatest("db", "t").count() == 2L)
  }

  test("manifestInventory reports shard reuse, row counts, first reference") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // m2
    cat.append("db", "t", Seq((3L, "c")).toDF("id", "v").coalesce(1))            // m3
    val inv = cat.manifestInventory("db", "t")
    assert(inv.map(_.name) == Seq("m2.json", "m3.json"))
    val m2 = inv.find(_.name == "m2.json").get
    assert(m2.fileCount == 1 && m2.recordCount.contains(2L))
    assert(m2.addedSnapshotId == 2L)
    assert(m2.referencedBy == 2, "m2 is reused by snapshot 3's entry")
    val m3 = inv.find(_.name == "m3.json").get
    assert(m3.recordCount.contains(1L) && m3.addedSnapshotId == 3L && m3.referencedBy == 1)
  }

  test("expireSnapshotsOlderThan expires by commit time, always keeping the head") {
    var tick = 0L
    val dir = Files.createTempDirectory("graft_mlog_").toString
    val base = java.time.Instant.parse("2026-05-01T00:00:00Z")
    val cat = new SnapshotCatalog(spark, dir,
      clock = () => { tick += 1; base.plusSeconds(tick * 3600) })
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema) // +1h
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))             // +2h
    cat.append("db", "t", Seq((2L, "b")).toDF("id", "v"))             // +3h
    cat.append("db", "t", Seq((3L, "c")).toDF("id", "v"))             // +4h

    // nothing is old enough: no-op
    assert(cat.expireSnapshotsOlderThan("db", "t", base) == 0)
    // cutoff at +2h expires snapshots 1 and 2 (<= cutoff), keeps 3 and 4
    val deleted = cat.expireSnapshotsOlderThan("db", "t", base.plusSeconds(2 * 3600))
    assert(cat.entryLog("db", "t").map(_.snapshotId) == Seq(3L, 4L))
    assert(deleted >= 0) // snapshot 3 carries snapshot 2's files: they survive
    assert(cat.readLatest("db", "t").count() == 3L)
    // a cutoff beyond the head still keeps the last snapshot
    cat.expireSnapshotsOlderThan("db", "t", base.plusSeconds(100 * 3600))
    assert(cat.entryLog("db", "t").map(_.snapshotId) == Seq(4L))
    assert(cat.readLatest("db", "t").count() == 3L)
    // time travel to the expired range now fails loudly
    intercept[Exception](cat.readAsOf("db", "t", 2L).collect())
  }

  test("partial rewrite reuses untouched shards; delta lists only the rewrite") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))
    cat.append("db", "t", Seq((2L, "b")).toDF("id", "v"))
    // library DELETE prunes to candidate files → the untouched append's
    // shard is REUSED by name; the delta shard holds only the rewrite
    cat.delete("db", "t", org.apache.spark.sql.functions.col("id") === 2L)
    val ms = entryManifests(logObj(cat, "db", "t"))
    assert(ms(3) == Seq("m2.json", "m4.json"), ms.toString)
    assert(cat.readLatest("db", "t").as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("carry-commit metadata cost is O(touched shards), not O(table)") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    // 4 appends with disjoint id ranges -> 4 shards with disjoint bounds
    (0 to 3).foreach { k =>
      val lo = k * 100L + 1
      cat.append("db", "t",
        (lo to lo + 9).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    }
    val before = cat.currentSnapshot("db", "t") // s5: m2..m5
    assert(entryManifests(logObj(cat, "db", "t")).last ==
      Seq("m2.json", "m3.json", "m4.json", "m5.json"))
    // a delete pruned (via footer stats) to the LAST shard's file reuses
    // the other three shards verbatim and delta-lists one file
    val snap = cat.delete("db", "t", org.apache.spark.sql.functions.col("id") === 305L)
    val ms = entryManifests(logObj(cat, "db", "t")).last
    assert(ms == Seq("m2.json", "m3.json", "m4.json", "m6.json"), ms.toString)
    assert(manifestFiles(cat, "db", "t", "m6.json").size == 1)
    // materialization order matches the recorded snapshot exactly
    assert(cat.snapshotAt("db", "t", snap.snapshotId).files == snap.files)
    assert(cat.readLatest("db", "t").count() == 39L)
    // time travel to the pre-delete state is untouched
    assert(cat.readAsOf("db", "t", before.snapshotId).count() == 40L)
  }

  test("removeOrphanFiles sweeps manifest shards no entry references") {
    val cat = newCat()
    cat.createTable("db", "t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "v"))
    // crash debris: a shard written whose pointer-log rename never landed
    val stray = snapDir(cat, "db", "t").resolve("m999.json")
    Files.writeString(stray, """{"files": ["data/s999/x.parquet"], "file_stats": {}}""")
    val deleted = cat.removeOrphanFiles("db", "t")
    assert(deleted.exists(_.endsWith("m999.json")), deleted)
    assert(!Files.exists(stray))
    // referenced shards survive and the table still reads
    assert(cat.readLatest("db", "t").count() == 1L)
    assert(cat.removeOrphanFiles("db", "t").isEmpty)
  }
}
