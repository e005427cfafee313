package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog

/** POINTER-LEVEL WRITE PATH: commits must not pay an O(all files) manifest
  * parse. An append (library or streaming epoch) and a pure-metadata DDL
  * commit parse ZERO shards on a cold cache; a predicate-scoped DML (MoR
  * delete/update, CoW delete with carry) parses ONLY the shards the
  * two-level resolution admits — excluded shards carry by name unparsed.
  * Every gate also re-verifies the committed state (content, record_count,
  * total_files, summary bounds, time travel) so laziness never trades away
  * exactness. */
class PointerCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(): SnapshotCatalog = {
    val wh = Files.createTempDirectory("graft_pc_").toString
    var tick = 0L
    new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-08-12T00:00:00Z").plusSeconds(tick * 60) })
  }

  private def coldParses[A](body: => A): (A, Long) = {
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    val out = body
    (out, SnapshotCatalog.manifestParses.get() - p0)
  }

  test("append commits are pointer-level: zero manifest parses on a cold cache") {
    val cat = freshCat()
    cat.createTable("db", "a", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 8).foreach { i =>
      cat.append("db", "a",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (snap, parsed) = coldParses {
      cat.append("db", "a", Seq((900L, "tail")).toDF("id", "v"))
    }
    assert(parsed == 0L, s"cold append parsed $parsed shards (expected 0)")
    // pointer arithmetic stayed exact without the inventory
    assert(snap.recordCount == 81L)
    assert(snap.summary("total_files").toLong == snap.files.size.toLong) // forces: still exact
    // the deferred view resolves to exactly the materialized snapshot
    val again = cat.snapshotAt("db", "a", snap.snapshotId)
    assert(snap.files.toSet == again.files.toSet && snap.files.size == again.files.size)
    assert(snap.fileStats == again.fileStats)
    assert(cat.readLatest("db", "a").count() == 81L)
    // summary bounds folded pointer-level
    assert(snap.summary("min.id") == "0" && snap.summary("max.id") == "900")
  }

  test("MoR delete parses only the predicate's shards; counts stay exact") {
    val cat = freshCat()
    cat.createTable("db", "m", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 8).foreach { i =>
      cat.append("db", "m",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (snap, parsed) = coldParses {
      cat.deleteMoR("db", "m", col("id").isin(25L, 26L))
    }
    assert(parsed == 1L, s"cold MoR delete parsed $parsed shards (expected 1)")
    assert(snap.recordCount == 78L)
    assert(snap.summary("total_files").toLong == snap.files.size.toLong)
    assert(cat.readLatest("db", "m").count() == 78L)
    assert(cat.readLatestWhere("db", "m", col("id").between(20L, 29L))
      .select("id").as[Long].collect().toSet ==
      Set(20L, 21L, 22L, 23L, 24L, 27L, 28L, 29L))
    // deferred inventory resolves exactly
    assert(snap.files.toSet == cat.snapshotAt("db", "m", snap.snapshotId).files.toSet)
  }

  test("updateMoR parses only the matching shard on a cold cache") {
    val cat = freshCat()
    cat.createTable("db", "u", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 6).foreach { i =>
      cat.append("db", "u",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (_, parsed) = coldParses {
      cat.updateMoR("db", "u", col("id") === 33L, Map("v" -> lit("CHANGED")))
    }
    assert(parsed == 1L, s"cold MoR update parsed $parsed shards (expected 1)")
    val got = cat.readLatest("db", "u").where(col("id") === 33L)
      .select("v").as[String].collect().toSeq
    assert(got == Seq("CHANGED"))
    assert(cat.readLatest("db", "u").count() == 60L)
  }

  test("CoW delete carries excluded shards by name, unparsed; metadata exact") {
    val cat = freshCat()
    cat.createTable("db", "c", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 6).foreach { d =>
      cat.append("db", "c", (0 until 20).map(i =>
        (i.toLong, f"2024-01-$d%02d", i * 1.5)).toDF("id", "day", "v"))
    }
    val before = cat.currentSnapshotId("db", "c")
    val (snap, parsed) = coldParses {
      cat.delete("db", "c", col("day") === "2024-01-04" && col("id") < 5L)
    }
    assert(parsed == 1L, s"cold CoW delete parsed $parsed shards (expected 1)")
    // the excluded shards rode into the new entry BY NAME
    val entries = cat.entryLog("db", "c")
    val prevManifests = entries.find(_.snapshotId == before).get.manifests.toSet
    val newEntry = entries.last
    assert(newEntry.snapshotId == snap.snapshotId)
    val carried = newEntry.manifests.count(prevManifests.contains)
    assert(carried == 5, s"expected 5 carried shard names, got $carried")
    // pointer arithmetic stayed exact: rows, file count, bounds
    assert(snap.recordCount == 115L)
    assert(snap.summary("total_files").toLong == snap.files.size.toLong)
    assert(snap.summary("min.id") == "0" && snap.summary("max.id") == "19")
    assert(cat.readLatest("db", "c").count() == 115L)
    assert(cat.readLatest("db", "c").where(col("day") === "2024-01-04")
      .agg(min("id")).as[Long].head() == 5L)
    // untouched partitions unchanged; prior snapshot still time-travels
    assert(cat.readLatest("db", "c").where(col("day") === "2024-01-02").count() == 20L)
    assert(cat.readAsOf("db", "c", before).count() == 120L)
  }

  test("CoW update with carry shards keeps every other partition verbatim") {
    val cat = freshCat()
    cat.createTable("db", "cu", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 5).foreach { d =>
      cat.append("db", "cu", (0 until 10).map(i =>
        (i.toLong, f"2024-02-$d%02d", i * 1.0)).toDF("id", "day", "v"))
    }
    val (snap, parsed) = coldParses {
      cat.update("db", "cu", col("day") === "2024-02-03" && col("id") === 7L,
        Map("v" -> lit(99.0)))
    }
    assert(parsed == 1L, s"cold CoW update parsed $parsed shards (expected 1)")
    assert(snap.recordCount == 50L)
    assert(cat.readLatest("db", "cu")
      .where(col("day") === "2024-02-03" && col("id") === 7L)
      .select("v").as[Double].head() == 99.0)
    assert(cat.readLatest("db", "cu").agg(sum("v")).as[Double].head() ==
      5 * (0 until 10).map(_.toDouble).sum + 99.0 - 7.0)
  }

  test("streaming append epoch adopts with zero manifest parses") {
    val wh = Files.createTempDirectory("graft_pcs_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df = Seq((1L, "a")).toDF("id", "tag")
    cat.createTable("db", "se", df.schema)
    val root = java.nio.file.Paths.get(wh, "db", "se", "data")
    def writeEpochDir(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "tag").coalesce(1).write.parquet(root.resolve(name).toString)
    writeEpochDir("ep-0", Seq((1L, "a"), (2L, "a")))
    assert(cat.adoptStreaming("db", "se", "append", "ep-0", df.schema, "q", 0L).isDefined)
    writeEpochDir("ep-1", Seq((3L, "b")))
    assert(cat.adoptStreaming("db", "se", "append", "ep-1", df.schema, "q", 1L).isDefined)
    writeEpochDir("ep-2", Seq((4L, "c"), (5L, "c")))
    val (adopted, parsed) = coldParses {
      cat.adoptStreaming("db", "se", "append", "ep-2", df.schema, "q", 2L)
    }
    assert(adopted.isDefined)
    assert(parsed == 0L, s"cold streaming epoch parsed $parsed shards (expected 0)")
    val snap = adopted.get
    assert(snap.recordCount == 5L)
    assert(snap.summary("total_files").toLong == snap.files.size.toLong)
    assert(cat.readLatest("db", "se").count() == 5L)
    assert(snap.files.toSet == cat.snapshotAt("db", "se", snap.snapshotId).files.toSet)
  }

  test("evolveSchema commits without touching the inventory") {
    val cat = freshCat()
    cat.createTable("db", "ev", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 5).foreach { i =>
      cat.append("db", "ev",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (snap, parsed) = coldParses {
      cat.evolveSchema("db", "ev",
        StructType.fromDDL("id BIGINT, v STRING, score DOUBLE"))
    }
    assert(parsed == 0L, s"cold evolveSchema parsed $parsed shards (expected 0)")
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    val read = cat.readLatest("db", "ev")
    assert(read.schema.fieldNames.contains("score"))
    assert(read.where(col("score").isNull).count() == 50L)
    assert(snap.files.toSet == cat.snapshotAt("db", "ev", snap.snapshotId).files.toSet)
  }

  test("SQL group-based UPDATE parses only the matching shard; skipped shards carry by name") {
    val wh = Files.createTempDirectory("graft_pcsql_").toString
    val cat = new SnapshotCatalog(spark, wh)
    cat.createTable("db", "sq", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 6).foreach { d =>
      cat.append("db", "sq", (0 until 10).map(i =>
        (i.toLong, f"2024-04-$d%02d", i * 1.0)).toDF("id", "day", "v"))
    }
    spark.conf.set("spark.sql.catalog.pcsql", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.pcsql.warehouse", wh)
    val before = cat.currentSnapshotId("db", "sq")
    val prevManifests = cat.entryLog("db", "sq")
      .find(_.snapshotId == before).get.manifests.toSet
    // warm the non-manifest constants (catalog wiring, analysis)
    spark.sql("SELECT sum(v) FROM pcsql.db.sq WHERE day = '2024-04-01'").collect()
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    spark.sql("UPDATE pcsql.db.sq SET v = v + 100 WHERE day = '2024-04-03'")
    val parsed = SnapshotCatalog.manifestParses.get() - p0
    assert(parsed == 1, s"cold SQL UPDATE parsed $parsed of 6 shards (expected 1)")
    // the five excluded shards rode into the adopted entry BY NAME
    val newEntry = cat.entryLog("db", "sq").last
    assert(newEntry.snapshotId > before)
    assert(newEntry.manifests.count(prevManifests.contains) == 5,
      s"expected 5 carried shard names in ${newEntry.manifests}")
    // exactness: only the pinned day moved, totals and counts hold
    assert(cat.readLatest("db", "sq").count() == 60L)
    assert(newEntry.summary("record_count").toLong == 60L)
    assert(spark.sql("SELECT sum(v) FROM pcsql.db.sq WHERE day = '2024-04-03'")
      .as[Double].head() == 45.0 + 1000.0)
    assert(spark.sql("SELECT sum(v) FROM pcsql.db.sq WHERE day <> '2024-04-03'")
      .as[Double].head() == 5 * 45.0)
  }

  test("dynamic overwrite of one day parses only that day's shards") {
    val cat = freshCat()
    cat.createTable("db", "dyn", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 6).foreach { d =>
      cat.append("db", "dyn", (0 until 10).map(i =>
        (i.toLong, f"2024-05-$d%02d", i * 1.0)).toDF("id", "day", "v"))
    }
    val before = cat.currentSnapshotId("db", "dyn")
    val prevManifests = cat.entryLog("db", "dyn")
      .find(_.snapshotId == before).get.manifests.toSet
    val restated = (100 until 103).map(i =>
      (i.toLong, "2024-05-04", i * 2.0)).toDF("id", "day", "v")
    val (snap, parsed) = coldParses {
      cat.overwriteDynamic("db", "dyn", restated)
    }
    assert(parsed == 1L,
      s"cold dynamic overwrite parsed $parsed of 6 shards (expected 1)")
    val newEntry = cat.entryLog("db", "dyn").last
    assert(newEntry.snapshotId == snap.snapshotId)
    assert(newEntry.manifests.count(prevManifests.contains) == 5,
      s"expected 5 carried shard names in ${newEntry.manifests}")
    // the restated day holds exactly the new rows; every other day intact
    assert(cat.readLatest("db", "dyn").count() == 53L)
    assert(snap.recordCount == 53L)
    assert(cat.readLatest("db", "dyn").where(col("day") === "2024-05-04")
      .select("id").as[Long].collect().toSet == Set(100L, 101L, 102L))
    assert(cat.readLatest("db", "dyn").where(col("day") === "2024-05-02").count() == 10L)
  }

  test("expire parses only the doomed shards; append-only histories parse nothing") {
    // overwrite histories: each overwrite's shard is referenced only by its
    // own entry, so expiring old entries dooms exactly their shards
    val cat = freshCat()
    cat.createTable("db", "ex", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 4).foreach { i =>
      cat.overwrite("db", "ex",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (deleted, parsed) = coldParses {
      cat.expireSnapshots("db", "ex", keepLast = 2)
    }
    // 3 entries dropped (create + 2 oldest overwrites); the two old
    // overwrite shards are doomed and parse; kept shards live in other
    // s<id> dirs, so none of them parses
    assert(parsed == 2L, s"cold expire parsed $parsed shards (expected 2)")
    assert(deleted > 0)
    assert(cat.readLatest("db", "ex").select("id").as[Long].collect().toSet ==
      (30L until 40L).toSet)
    assert(cat.entryLog("db", "ex").size == 2)

    // append-only history: every shard is still referenced by the kept
    // tail — the expire is pure pointer trimming, zero parses
    val cat2 = freshCat()
    cat2.createTable("db", "ap", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 6).foreach { i =>
      cat2.append("db", "ap",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val (deleted2, parsed2) = coldParses {
      cat2.expireSnapshots("db", "ap", keepLast = 3)
    }
    assert(parsed2 == 0L, s"append-only expire parsed $parsed2 shards (expected 0)")
    assert(deleted2 == 0)
    assert(cat2.readLatest("db", "ap").count() == 60L)
  }

  test("carry commits on a table WITH live MoR deletes stay exact (degrade lane)") {
    val cat = freshCat()
    cat.createTable("db", "dg", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 4).foreach { d =>
      cat.append("db", "dg", (0 until 10).map(i =>
        (i.toLong, f"2024-03-$d%02d", i * 1.0)).toDF("id", "day", "v"))
    }
    // live position deletes in an UNTOUCHED partition force the degrade
    // lane (file-granular carry) — exactness must not depend on the gate
    cat.deleteMoR("db", "dg", col("day") === "2024-03-01" && col("id") === 9L)
    val snap = cat.delete("db", "dg", col("day") === "2024-03-03" && col("id") < 3L)
    assert(snap.recordCount == 40L - 1L - 3L)
    assert(cat.readLatest("db", "dg").count() == 36L)
    assert(cat.readLatest("db", "dg").where(col("day") === "2024-03-01")
      .count() == 9L) // the MoR delete still applies after the carry commit
    assert(cat.readLatest("db", "dg").where(col("day") === "2024-03-03")
      .select("id").as[Long].collect().toSet == (3L until 10L).toSet)
  }

  test("one CoW delete and one upsertMoR read the pointer log once per commit attempt") {
    val cat = freshCat()
    cat.createTable("db", "lr", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 4).foreach { i =>
      cat.append("db", "lr",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    def reads[A](body: => A): (A, Long) = {
      val r0 = SnapshotCatalog.logReads.get()
      val out = body
      (out, SnapshotCatalog.logReads.get() - r0)
    }
    val (del, delReads) = reads(cat.delete("db", "lr", col("id") < 5L))
    val (up, upReads) = reads(cat.upsertMoR("db", "lr",
      Seq((7L, "u7"), (99L, "n99")).toDF("id", "v"), Seq("id")))
    info(s"CoW delete: $delReads pointer-log reads; upsertMoR: $upReads")
    // one table touched, one commit attempt: its state load is the read
    assert(delReads <= 2, s"CoW delete read the pointer log $delReads times")
    assert(upReads <= 2, s"upsertMoR read the pointer log $upReads times")
    assert(del.recordCount == 35L && up.recordCount == 36L)
    assert(cat.readLatest("db", "lr").select("id", "v").as[(Long, String)]
      .collect().toMap.filter(r => r._1 == 7L || r._1 == 99L) == Map(7L -> "u7", 99L -> "n99"))
    assert(cat.readLatest("db", "lr").count() == 36L)
  }
}
