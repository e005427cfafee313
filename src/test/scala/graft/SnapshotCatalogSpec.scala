package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.catalog.spark.GraftSparkExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

class JsonSpec extends AnyFunSuite {
  test("round-trips nested values") {
    val v = Json.obj(
      "a" -> Json.num(42L),
      "b" -> Json.str("he said \"hi\"\n\ttab"),
      "c" -> Json.arr(Json.bool(true), JNull, Json.num(1.5)),
      "d" -> Json.obj("nested" -> Json.str("v")))
    val parsed = Json.parse(Json.write(v)).asInstanceOf[JObj]
    assert(parsed.long("a") == 42L)
    assert(parsed.str("b") == "he said \"hi\"\n\ttab")
    assert(parsed.arr("c").length == 3)
    assert(parsed.obj("d").str("nested") == "v")
    // pretty form parses back too (reference uses indent=2 artifacts)
    assert(Json.parse(Json.writePretty(v)).asInstanceOf[JObj].long("a") == 42L)
  }

  test("parses unicode escapes and numbers") {
    val p = Json.parse("""{"s":"aAb","n":-3.5e2,"i":7}""").asInstanceOf[JObj]
    assert(p.str("s") == "aAb")
    assert(p("n") == JNum(-350.0))
    assert(p.long("i") == 7L)
  }
}

class SnapshotCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val dir = Files.createTempDirectory("graft_wh_").toString
    var tick = 0L
    new SnapshotCatalog(spark, dir,
      clock = () => { tick += 1; Instant.parse("2026-01-01T00:00:00Z").plusSeconds(tick * 3600) })
  }

  test("create / list / describe namespaces and tables") {
    val cat = freshCatalog()
    cat.createNamespace("db1")
    assert(cat.listNamespaces() == Seq("db1"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(cat.createTable("db1", "t1", df.schema))
    assert(!cat.createTable("db1", "t1", df.schema), "IF NOT EXISTS semantics")
    assert(cat.listTables("db1") == Seq("t1"))
    assert(cat.tableExists("db1", "t1"))
    val snap = cat.currentSnapshot("db1", "t1")
    assert(snap.operation == "create" && snap.snapshotId == 1L && snap.files.isEmpty)
    assert(cat.readLatest("db1", "t1").count() == 0)
    assert(cat.readLatest("db1", "t1").schema == df.schema)
  }

  test("append and overwrite build a time-travelable history") {
    val cat = freshCatalog()
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val d2 = Seq((3L, "c")).toDF("id", "name")
    val d3 = Seq((9L, "z")).toDF("id", "name")
    cat.createTable("db", "t", d1.schema)
    val s2 = cat.append("db", "t", d1)     // state: {1,2}
    val s3 = cat.append("db", "t", d2)     // state: {1,2,3}
    val s4 = cat.overwrite("db", "t", d3)  // state: {9}

    assert(s2.recordCount == 2 && s3.recordCount == 3 && s4.recordCount == 1)
    assert(cat.readAsOf("db", "t", s2.snapshotId).as[(Long, String)].collect().sorted
      === Array((1L, "a"), (2L, "b")))
    assert(cat.readAsOf("db", "t", s3.snapshotId).as[(Long, String)].collect().sorted
      === Array((1L, "a"), (2L, "b"), (3L, "c")))
    assert(cat.readAsOf("db", "t", s4.snapshotId).as[(Long, String)].collect().sorted
      === Array((9L, "z")))
    assert(cat.readLatest("db", "t").count() == 1)

    // O(1) metadata counts match actual data
    assert(cat.recordCount("db", "t", s3.snapshotId) == 3L)

    // snapshots metadata table: 4 rows, chronological ids, operations recorded
    val snaps = cat.snapshots("db", "t").orderBy("committed_at").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(snaps.map(_.getString(2)).toSeq == Seq("create", "append", "append", "overwrite"))
  }

  test("as-of timestamp resolution uses <= semantics incl. exact tie") {
    val cat = freshCatalog()
    val d1 = Seq((1L, "a")).toDF("id", "name")
    val d2 = Seq((2L, "b")).toDF("id", "name")
    cat.createTable("db", "t", d1.schema) // committed t0+1h
    cat.append("db", "t", d1)             // committed t0+2h
    cat.append("db", "t", d2)             // committed t0+3h
    val base = Instant.parse("2026-01-01T00:00:00Z")
    // exactly at the 2nd commit -> includes it (tie = <=)
    assert(cat.readAsOfTimestamp("db", "t", base.plusSeconds(2 * 3600)).count() == 1)
    // just before the 2nd commit -> empty create snapshot
    assert(cat.readAsOfTimestamp("db", "t", base.plusSeconds(2 * 3600 - 1)).count() == 0)
    // after everything -> full state
    assert(cat.readAsOfTimestamp("db", "t", base.plusSeconds(10 * 3600)).count() == 2)
    // before table existed -> error
    intercept[NoSuchElementException] {
      cat.readAsOfTimestamp("db", "t", base)
    }
  }

  test("partitioned tables write Hive-style dirs and read back partition column") {
    val cat = freshCatalog()
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0)).toDF("id", "flag", "v")
    cat.createTable("db", "p", df.schema, partitionCols = Seq("flag"))
    val s = cat.append("db", "p", df)
    // files live under flag=A/ flag=B/ partition dirs
    assert(s.files.exists(_.contains("flag=A")))
    val back = cat.readAsOf("db", "p", s.snapshotId)
    assert(back.columns.toSet == Set("id", "flag", "v"))
    assert(back.where(col("flag") === "A").count() == 2)
    // partition pruning: only flag=A files in the scanned plan
    val plan = back.where(col("flag") === "A").queryExecution.executedPlan.toString
    assert(!plan.contains("flag=B"))
  }

  test("schema fidelity: decimal/timestamp/struct/array/map round-trip via DDL") {
    val cat = freshCatalog()
    val df = spark.sql(
      """select cast(1.23 as decimal(10,2)) dec,
        |       timestamp'2026-01-02 03:04:05' ts,
        |       date'2026-01-02' dt,
        |       named_struct('x', 1, 'y', 'two') st,
        |       array(1L, 2L) ar,
        |       map('k', 1.5d) mp""".stripMargin)
    cat.createTable("db", "types", df.schema)
    val s = cat.append("db", "types", df)
    val back = cat.readAsOf("db", "types", s.snapshotId)
    // DDL cannot encode nested nullability; reads relax to nullable
    // (Iceberg-like). Types and names must round-trip exactly.
    assert(back.schema.toDDL == df.schema.toDDL.replace(" NOT NULL", ""))
    assert(back.count() == 1)
  }

  test("compact rewrites current state into the requested file count, history intact") {
    val cat = freshCatalog()
    val df = spark.range(0, 1000).toDF("id")
    cat.createTable("db", "c", df.schema)
    cat.append("db", "c", df.repartition(6))
    val compacted = cat.compact("db", "c", numFiles = 2)
    assert(compacted.operation == "compact")
    assert(compacted.files.size == 2)
    assert(compacted.recordCount == 1000)
    assert(cat.readLatest("db", "c").agg(sum(col("id"))).head.getLong(0) == 499500L)
    // pre-compaction snapshot still readable with its 6 files
    assert(cat.readAsOf("db", "c", 2L).count() == 1000)
    assert(cat.snapshotAt("db", "c", 2L).files.size == 6)
  }

  test("expireSnapshots deletes only unreferenced files and keeps data") {
    val cat = freshCatalog()
    val df = spark.range(0, 100).toDF("id")
    cat.createTable("db", "e", df.schema)
    cat.append("db", "e", df.repartition(3))                    // snap 2: 3 files
    cat.overwrite("db", "e", df.limit(10).repartition(1))       // snap 3: 1 file
    val deleted = cat.expireSnapshots("db", "e", keepLast = 1)
    assert(deleted == 3, "the 3 files owned only by snapshot 2")
    val log = cat.snapshotList("db", "e")
    assert(log.map(_.snapshotId) == Seq(3L), "surviving snapshot keeps its id")
    assert(cat.readLatest("db", "e").count() == 10)
    intercept[NoSuchElementException] { cat.readAsOf("db", "e", 2L) }
    // expiring down to the same count is a no-op
    assert(cat.expireSnapshots("db", "e", keepLast = 1) == 0)
  }

  test("expire after append keeps shared files (append chains share files)") {
    val cat = freshCatalog()
    val df = spark.range(0, 50).toDF("id")
    cat.createTable("db", "sh", df.schema)
    cat.append("db", "sh", df.repartition(2))   // snap 2: files A
    cat.append("db", "sh", df.repartition(2))   // snap 3: files A + B
    val deleted = cat.expireSnapshots("db", "sh", keepLast = 1)
    assert(deleted == 0, "all of snap 2's files are still referenced by snap 3")
    assert(cat.readLatest("db", "sh").count() == 100)
  }

  test("z-order compaction enables file skipping on every z column") {
    val cat = freshCatalog()
    val df = (0L until 10000L).map(i => (i % 100, i / 100)).toDF("x", "y")
    cat.createTable("db", "zo", df.schema)
    cat.append("db", "zo", df.repartition(4))
    // hash-partitioned files span the full range of both columns: nothing skips
    val before = cat.currentSnapshot("db", "zo").snapshotId
    assert(cat.pruneFiles("db", "zo", before, col("x") === 5L)._2.isEmpty)

    cat.compactZOrder("db", "zo", Seq("x", "y"), numFiles = 16)
    val snap = cat.currentSnapshot("db", "zo")
    assert(snap.operation == "compact")
    assert(snap.files.size == 16)
    // the z layout clusters BOTH dimensions: a point predicate on either
    // column skips most files (a single-column sort would only help one)
    val (_, sx) = cat.pruneFiles("db", "zo", snap.snapshotId, col("x") === 5L)
    val (_, sy) = cat.pruneFiles("db", "zo", snap.snapshotId, col("y") === 5L)
    assert(sx.size >= 8, s"x-skip only ${sx.size}/16")
    assert(sy.size >= 8, s"y-skip only ${sy.size}/16")
    // rewrite is bit-identical data
    assert(cat.readLatest("db", "zo").count() == 10000)
    assert(cat.readLatest("db", "zo").agg(sum($"x"), sum($"y")).head ==
      df.agg(sum($"x"), sum($"y")).head)
    assert(cat.readWhere("db", "zo", snap.snapshotId, col("x") === 5L).count() == 100)
  }

  test("concurrent appenders never lose a commit (table lock)") {
    val cat = freshCatalog()
    cat.createTable("db", "cc", Seq(1L).toDF("id").schema)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        try {
          // separate catalog instances, same warehouse: the file lock (not
          // shared driver state) must serialize the read-modify-write
          val c = new SnapshotCatalog(spark, cat.warehouse)
          (1 to 3).foreach(i => c.append("db", "cc", Seq(t * 100L + i).toDF("id")))
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    // without the lock, racing appenders both write snapshot N+1 and one
    // commit silently vanishes
    assert(cat.snapshotList("db", "cc").size == 13, "create + 12 appends")
    assert(cat.readLatest("db", "cc").count() == 12)
  }

  test("tags: named immutable snapshot refs resolve and survive spec replace") {
    val cat = freshCatalog()
    val df = (1L to 10L).toDF("id")
    cat.createTable("db", "tg", df.schema)
    cat.append("db", "tg", df)                       // snap 2
    cat.createTag("db", "tg", "audit_2026q1", 2)
    cat.overwrite("db", "tg", df.where($"id" <= 3))  // snap 3
    assert(cat.readTag("db", "tg", "audit_2026q1").count() == 10)
    assert(cat.resolveTag("db", "tg", "audit_2026q1").contains(2L))
    // refs survive a replaceTableSpec (RTAS)
    cat.replaceTableSpec("db", "tg", Seq.empty, Map("k" -> "v"))
    assert(cat.resolveTag("db", "tg", "audit_2026q1").contains(2L))
    // guard rails
    intercept[IllegalArgumentException] { cat.createTag("db", "tg", "7", 2) }
    intercept[IllegalArgumentException] { cat.createTag("db", "tg", "audit_2026q1", 3) }
    intercept[NoSuchElementException] { cat.createTag("db", "tg", "ghost", 99) }
    cat.dropTag("db", "tg", "audit_2026q1")
    intercept[NoSuchElementException] { cat.readTag("db", "tg", "audit_2026q1") }
  }

  test("removeOrphanFiles deletes only unreferenced debris") {
    val cat = freshCatalog()
    val df = (1L to 10L).toDF("id")
    cat.createTable("db", "orph", df.schema)
    cat.append("db", "orph", df)
    // simulate a crashed write: a data dir the log never adopted
    val root = java.nio.file.Paths.get(cat.warehouse, "db", "orph")
    val dead = root.resolve("data").resolve("s99")
    Files.createDirectories(dead)
    val liveFile = cat.currentSnapshot("db", "orph").files.head
    Files.copy(root.resolve(liveFile), dead.resolve("leftover.parquet"))
    Files.writeString(dead.resolve("_SUCCESS"), "")
    val deleted = cat.removeOrphanFiles("db", "orph")
    assert(deleted == Seq("data/s99/leftover.parquet"), deleted.toString)
    assert(!Files.exists(dead), "emptied dead snapshot dir is swept")
    // live data untouched, table still reads
    assert(cat.readLatest("db", "orph").count() == 10)
    // idempotent
    assert(cat.removeOrphanFiles("db", "orph").isEmpty)
  }

  test("drop table removes it from the listing") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "name")
    cat.createTable("db", "gone", df.schema)
    cat.dropTable("db", "gone")
    assert(cat.listTables("db").isEmpty)
  }

  test("append rejects a frame that retypes an existing column") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "name")
    cat.createTable("db", "rt", df.schema)
    cat.append("db", "rt", df)
    val retyped = Seq((2, "b")).toDF("id", "name") // id: INT, table has BIGINT
    val e = intercept[IllegalArgumentException] { cat.append("db", "rt", retyped) }
    assert(e.getMessage.contains("type mismatch"))
    assert(cat.readLatest("db", "rt").count() == 1, "failed append must not commit")
    // validation happens BEFORE the data write: a rejected append must not
    // burn a full parquet write and leave orphaned files in data/s<newId>
    val orphanDir = java.nio.file.Paths.get(cat.warehouse, "db", "rt", "data", "s3")
    assert(!Files.exists(orphanDir),
      s"rejected append left orphaned data files under $orphanDir")
  }

  test("delete keeps FALSE and NULL rows (SQL three-valued semantics)") {
    val cat = freshCatalog()
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
      .toDF("id", "name")
    cat.createTable("db", "del", df.schema)
    cat.append("db", "del", df)
    cat.delete("db", "del", col("name") === "a") // NULL name -> predicate NULL -> survives
    assert(cat.readLatest("db", "del").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(cat.currentSnapshot("db", "del").operation == "delete")
    // pre-delete state stays time-travelable
    assert(cat.readAsOf("db", "del", 2).count() == 3)
    // stats on the delete snapshot are EXACT for the surviving rows
    assert(cat.currentSnapshot("db", "del").summary.get("min.id").contains("2"))
  }

  test("update casts assignments and rejects unknown columns") {
    val cat = freshCatalog()
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
    cat.createTable("db", "up", df.schema)
    cat.append("db", "up", df)
    cat.update("db", "up", col("id") === 1L, Map("price" -> lit(99))) // int -> double cast
    val rows = cat.readLatest("db", "up").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 99.0), (2L, 20.0)))
    assert(cat.currentSnapshot("db", "up").operation == "update")
    val e = intercept[IllegalArgumentException] {
      cat.update("db", "up", lit(true), Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown columns"))
  }

  test("upsert replaces matched keys, inserts new ones, rejects bad source") {
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    cat.createTable("db", "mg", df.schema)
    cat.append("db", "mg", df)
    cat.upsert("db", "mg", Seq((2L, "B2"), (3L, "c")).toDF("id", "name"), Seq("id"))
    val rows = cat.readLatest("db", "mg").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(cat.currentSnapshot("db", "mg").operation == "merge")
    val e = intercept[IllegalArgumentException] {
      cat.upsert("db", "mg", Seq((1L, "x", 0)).toDF("id", "name", "extra"), Seq("id"))
    }
    assert(e.getMessage.contains("columns"))
    // a mistyped source must not silently retype the table via union widening
    val e2 = intercept[IllegalArgumentException] {
      cat.upsert("db", "mg", Seq(("1", "x")).toDF("id", "name"), Seq("id"))
    }
    assert(e2.getMessage.contains("type mismatch"), e2.getMessage)
    assert(cat.currentSnapshot("db", "mg").schema("id").dataType.sql == "BIGINT")
  }

  test("compact restores summary bounds a partial rewrite dropped") {
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b"), (300L, "z")).toDF("id", "name")
    cat.createTable("db", "rec", df.schema)
    cat.append("db", "rec", (1L to 100L).map(i => (i, s"a$i")).toDF("id", "name").repartition(1))
    cat.append("db", "rec", (201L to 300L).map(i => (i, s"c$i")).toDF("id", "name").repartition(1))
    assert(cat.currentSnapshot("db", "rec").summary.contains("min.name"))
    // prune-aware delete: one file carried -> string bounds conservatively dropped
    cat.delete("db", "rec", col("id") > 250L)
    assert(!cat.currentSnapshot("db", "rec").summary.contains("min.name"))
    // compact rewrites everything through the Observation pass -> exact
    // bounds come back for every column, strings included
    cat.compact("db", "rec", numFiles = 2)
    val s = cat.currentSnapshot("db", "rec").summary
    assert(s.get("min.name").contains("a1"), s.toString)
    assert(s.get("min.id").contains("1") && s.get("max.id").contains("250"))
  }

  test("rewriteSmallFiles folds only sub-threshold files; big files carry verbatim") {
    val cat = freshCatalog()
    val small = (1L to 40L).map(i => (i, s"s$i")).toDF("id", "name")
    val big = (1001L to 3000L).map(i => (i, s"b$i" * 20)).toDF("id", "name")
    cat.createTable("db", "bin", small.schema)
    cat.append("db", "bin", small.repartition(4))
    cat.append("db", "bin", big.repartition(1))
    val before = cat.currentSnapshot("db", "bin")
    val root = java.nio.file.Paths.get(cat.warehouse, "db", "bin")
    val sizeOf = before.files.map(f =>
      f -> java.nio.file.Files.size(root.resolve(f))).toMap
    val bigFiles = before.files.filter(f => sizeOf(f) == sizeOf.values.max)
    assert(bigFiles.size == 1 && before.files.size == 5)
    // every recorded `bytes` stat matches the filesystem
    before.files.foreach(f =>
      assert(before.fileStats(f)("bytes").toLong == sizeOf(f)))

    val snap = cat.rewriteSmallFiles("db", "bin",
      smallBytes = sizeOf(bigFiles.head), targetBytes = Long.MaxValue / 4).get
    assert(snap.operation == "rewrite")
    // the big file carries VERBATIM: same relative path, same stats map
    assert(snap.files.contains(bigFiles.head))
    assert(snap.fileStats(bigFiles.head) == before.fileStats(bigFiles.head))
    // the 4 small files are gone from the current state, folded into one
    assert(snap.files.size == 2, snap.files.toString)
    assert(snap.recordCount == 2040L)
    // data is bit-identical and history remains time-travelable
    assert(cat.readLatest("db", "bin").as[(Long, String)].collect().sorted
      === cat.readAsOf("db", "bin", before.snapshotId).as[(Long, String)].collect().sorted)
    // no-op cases commit nothing: one (or zero) small files is churn
    assert(cat.rewriteSmallFiles("db", "bin", smallBytes = 1L,
      targetBytes = 1L << 30).isEmpty)
    assert(cat.currentSnapshot("db", "bin").snapshotId == snap.snapshotId)
  }

  test("rewriteSmallFiles preserves hive partition layout") {
    val cat = freshCatalog()
    val df = (1L to 60L).map(i => (i, if (i % 2 == 0) "E" else "O")).toDF("id", "par")
    cat.createTable("db", "pbin", df.schema, partitionCols = Seq("par"))
    cat.append("db", "pbin", df.repartition(3))
    cat.append("db", "pbin", df.withColumn("id", col("id") + 100L).repartition(3))
    val snap = cat.rewriteSmallFiles("db", "pbin",
      smallBytes = Long.MaxValue / 4, targetBytes = Long.MaxValue / 4).get
    // outputs land under par=E/ par=O/ dirs and read back partition-complete
    assert(snap.files.forall(f => f.contains("par=E/") || f.contains("par=O/")),
      snap.files.toString)
    val got = cat.readLatest("db", "pbin").groupBy("par").count()
      .as[(String, Long)].collect().toMap
    assert(got == Map("E" -> 60L, "O" -> 60L))
  }

  test("rollback re-points at an old snapshot without rewriting history") {
    val cat = freshCatalog()
    val df = (1L to 10L).toDF("id")
    cat.createTable("db", "rb", df.schema)
    cat.append("db", "rb", df)                        // snap 2
    cat.overwrite("db", "rb", df.where($"id" <= 3))   // snap 3
    cat.rollback("db", "rb", 2)                       // snap 4
    assert(cat.readLatest("db", "rb").count() == 10)
    assert(cat.snapshotList("db", "rb").map(_.operation) ==
      Seq("create", "append", "overwrite", "rollback"))
    // rolled-back-FROM state stays readable; rollback is itself metadata
    assert(cat.readAsOf("db", "rb", 3).count() == 3)
    assert(cat.currentSnapshot("db", "rb").summary.get("rolled_back_to").contains("2"))
    // metadata-served count stays correct after rollback
    assert(cat.recordCount("db", "rb", 4) == 10)
    val e = intercept[IllegalArgumentException] { cat.rollback("db", "rb", 4) }
    assert(e.getMessage.contains("already at"))
  }

  test("incremental read returns exactly the added rows; rewrites degrade to row-diff") {
    val cat = freshCatalog()
    val df1 = (1L to 5L).toDF("id")
    val df2 = (6L to 8L).toDF("id")
    cat.createTable("db", "inc", df1.schema)
    cat.append("db", "inc", df1)   // snap 2
    cat.append("db", "inc", df2)   // snap 3
    assert(cat.readIncremental("db", "inc", 2, 3).as[Long].collect().sorted.toSeq ==
      Seq(6L, 7L, 8L))
    // full range from create
    assert(cat.readIncremental("db", "inc", 1, 3).count() == 8)
    // empty range is empty, not an error
    assert(cat.readIncremental("db", "inc", 3, 3).count() == 0)
    // r7: a rewrite in range degrades to the changelog's INSERT side
    // instead of refusing — an overwrite BACK to snap 2's rows nets no
    // additions (moved rows cancel under the multiset diff)…
    cat.overwrite("db", "inc", df1) // snap 4 rewrites visibility
    assert(cat.readIncremental("db", "inc", 2, 4).count() == 0)
    // …an overwrite introducing fresh rows serves exactly those…
    cat.overwrite("db", "inc", Seq(100L, 101L).toDF("id")) // snap 5
    assert(cat.readIncremental("db", "inc", 2, 5).as[Long].collect().sorted.toSeq ==
      Seq(100L, 101L))
    // …and the canonical production shape — append, scheduled compact,
    // append — serves exactly the in-range appends, resolved METADATA-ONLY
    // (the lineage walk, not a row diff: no Except in the plan, and only
    // the two appends' files are scanned)
    cat.append("db", "inc", df2)          // snap 6
    cat.compact("db", "inc", numFiles = 1) // snap 7
    cat.append("db", "inc", df1)          // snap 8
    val walk = cat.readIncremental("db", "inc", 5, 8)
    assert(!walk.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Except]),
      "compact-only ranges must use the lineage walk, not the exceptAll diff:\n" +
        walk.queryExecution.analyzed.toString.take(500))
    assert(walk.as[Long].collect().sorted.toSeq ==
      (df1.as[Long].collect() ++ df2.as[Long].collect()).sorted.toSeq)
  }

  test("incremental reads across a rollback compose: (1,3] ∪ (3,4] == (1,4]") {
    // append {1,2} (2), MoR-delete 2 (3), roll back to 2 (4): the rollback
    // drops the delete file and resurrects row 2 without touching a data
    // file; the walk classifies it as not enumerable, so (3,4] takes the
    // exact row diff instead of an empty append delta
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "rbi", df.schema)
    cat.append("db", "rbi", df)                          // 2
    cat.deleteMoR("db", "rbi", col("id") === 2L)         // 3
    cat.rollback("db", "rbi", 2L)                        // 4
    def ids(from: Long, to: Long): Seq[Long] =
      cat.readIncremental("db", "rbi", from, to).select("id").as[Long].collect().sorted.toSeq
    assert(ids(1, 3) == Seq(1L))
    assert(ids(3, 4) == Seq(2L))
    assert((ids(1, 3) ++ ids(3, 4)).sorted == ids(1, 4))
    assert(ids(1, 4) == Seq(1L, 2L))
  }

  test("readIncremental reads the pointer log a constant number of times in its commit count") {
    val reads = new java.util.concurrent.atomic.AtomicLong
    val counting = new PointerLogStore {
      override def read(key: String) = { reads.incrementAndGet(); FilePointerLogStore.read(key) }
      override def writeIf(key: String, content: String, expected: Option[Long]): Long =
        FilePointerLogStore.writeIf(key, content, expected)
      override def delete(key: String): Unit = FilePointerLogStore.delete(key)
      override def migrate(oldKey: String, newKey: String): Unit =
        FilePointerLogStore.migrate(oldKey, newKey)
      override def conditional: Boolean = false
    }
    def readsFor(k: Int): Long = {
      val cat = new SnapshotCatalog(spark,
        Files.createTempDirectory("graft_logreads_").toString, log = counting)
      cat.createTable("db", "t", Seq(0L).toDF("id").schema)
      (1 to k).foreach(i => cat.append("db", "t", Seq(i.toLong).toDF("id")))
      val before = reads.get()
      assert(cat.readIncremental("db", "t", 1L, k + 1L).count() == k)
      reads.get() - before
    }
    val (r4, r16) = (readsFor(4), readsFor(16))
    assert(r16 <= r4, s"log reads grew with the commit count: k=4 -> $r4, k=16 -> $r16")
  }

  test("per-file footer stats drive file-level data skipping") {
    val cat = freshCatalog()
    val schema = Seq((1L, Some("a"))).toDF("id", "name").schema
    cat.createTable("db", "fs", schema)
    // three appends with disjoint key ranges -> three files with disjoint
    // [min,max] in the log
    cat.append("db", "fs", (1L to 100L).map(i => (i, Some(s"a$i"))).toDF("id", "name").repartition(1))
    cat.append("db", "fs", (101L to 200L).map(i => (i, Some(s"b$i"))).toDF("id", "name").repartition(1))
    cat.append("db", "fs", (201L to 300L).map(i => (i, None: Option[String])).toDF("id", "name").repartition(1))
    val snap = cat.currentSnapshot("db", "fs")
    assert(snap.files.size == 3)
    assert(snap.fileStats.size == 3, "every committed file gets footer stats")
    assert(snap.fileStats.values.forall(_.get("rows").contains("100")))

    // point lookup touches one file
    val (kept, skipped) = cat.pruneFiles("db", "fs", snap.snapshotId, col("id") === 150L)
    assert(kept.size == 1 && skipped.size == 2, s"kept=$kept skipped=$skipped")
    // range scan
    val (k2, s2) = cat.pruneFiles("db", "fs", snap.snapshotId, col("id") > 250L)
    assert(k2.size == 1 && s2.size == 2)
    // string equality prunes by [min,max] too
    val (k3, _) = cat.pruneFiles("db", "fs", snap.snapshotId, col("name") === "b150")
    assert(k3.size == 1)
    // IS NULL prunes files with zero recorded nulls
    val (k4, _) = cat.pruneFiles("db", "fs", snap.snapshotId, col("name").isNull)
    assert(k4.size == 1)
    // shapes the evaluator does not understand never prune
    val (k5, _) = cat.pruneFiles("db", "fs", snap.snapshotId, col("id") % 7 === 0)
    assert(k5.size == 3)
    // the skip layer never changes results
    assert(cat.readWhere("db", "fs", snap.snapshotId, col("id") === 150L)
      .select("name").as[String].head() == "b150")
    assert(cat.readLatestWhere("db", "fs", col("id") > 250L).count() == 50)
    // conjunction with an ununderstood term still prunes on the known term
    val (k6, _) = cat.pruneFiles("db", "fs", snap.snapshotId,
      col("id") === 150L && col("name").contains("5"))
    assert(k6.size == 1)
  }

  test("prune-aware delete/update rewrite only candidate files") {
    val cat = freshCatalog()
    val schema = Seq((1L, "a")).toDF("id", "name").schema
    cat.createTable("db", "pd", schema)
    cat.append("db", "pd", (1L to 100L).map(i => (i, s"a$i")).toDF("id", "name").repartition(1))
    cat.append("db", "pd", (101L to 200L).map(i => (i, s"b$i")).toDF("id", "name").repartition(1))
    cat.append("db", "pd", (201L to 300L).map(i => (i, s"c$i")).toDF("id", "name").repartition(1))
    val before = cat.currentSnapshot("db", "pd")

    // delete touches only the file whose range intersects the predicate
    cat.delete("db", "pd", col("id") > 250L)
    val afterDel = cat.currentSnapshot("db", "pd")
    assert(afterDel.files.count(before.files.contains) == 2,
      s"untouched files must carry over verbatim: ${afterDel.files}")
    assert(cat.readLatest("db", "pd").count() == 250)
    assert(afterDel.recordCount == 250, "carried footer rows + observed rewrite")
    // numeric summary bounds fold carried footer bounds with the rewrite
    assert(afterDel.summary.get("min.id").contains("1"))
    assert(afterDel.summary.get("max.id").contains("250"))
    // string bounds are dropped on partial rewrites (truncation-suspect)
    assert(!afterDel.summary.contains("min.name"))
    // per-file stats still cover the full final file list
    assert(afterDel.files.forall(afterDel.fileStats.contains))

    // update likewise carries non-matching files
    cat.update("db", "pd", col("id") <= 100L, Map("name" -> lit("LOW")))
    val afterUp = cat.currentSnapshot("db", "pd")
    assert(afterUp.files.count(afterDel.files.contains) == 2)
    assert(cat.readLatest("db", "pd").where($"name" === "LOW").count() == 100)
    assert(cat.readLatest("db", "pd").count() == 250)
    assert(afterUp.recordCount == 250)
  }

  test("q55 fixture: range-partitioned files really get skipped") {
    val fx = WarehouseFixture.forDir(spark, "/root/testdata/sf0.001")
    val snapId = fx.src.currentSnapshot("maint", "orders_bykey").snapshotId
    val (kept, skipped) = fx.src.pruneFiles("maint", "orders_bykey", snapId,
      col("o_orderkey") <= 1000L)
    assert(kept.nonEmpty, "at least the lowest-range file must be scanned")
    assert(skipped.nonEmpty,
      s"disjoint-range files above the cutoff must be skipped (kept=$kept)")
  }

  test("evolved column regains exact min/max once an append populates it") {
    val cat = freshCatalog()
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    cat.createTable("db", "ev", df.schema)
    cat.append("db", "ev", df)
    val evolved = new org.apache.spark.sql.types.StructType()
      .add("id", "bigint").add("v", "bigint").add("score", "double")
    cat.evolveSchema("db", "ev", evolved)
    // evolve records provenance: the new column is provably all-null in
    // every existing file
    assert(cat.currentSnapshot("db", "ev").summary.get("nullcol.score").contains("true"))
    // an all-null append keeps the marker (still no values anywhere)
    cat.append("db", "ev",
      Seq((3L, 30L)).toDF("id", "v").withColumn("score", lit(null).cast("double")))
    val afterNull = cat.currentSnapshot("db", "ev").summary
    assert(afterNull.get("nullcol.score").contains("true"))
    assert(!afterNull.contains("min.score"))
    // a populated append adopts the fresh bounds as EXACT (old files are
    // provably null-only for the column) and drops the marker
    cat.append("db", "ev",
      Seq((4L, 40L, 1.5), (5L, 50L, 2.5)).toDF("id", "v", "score"))
    val s = cat.currentSnapshot("db", "ev").summary
    assert(s.get("min.score").contains("1.5"), s.toString)
    assert(s.get("max.score").contains("2.5"), s.toString)
    assert(!s.contains("nullcol.score"))
    // the non-evolved columns merged across all four data snapshots
    assert(s.get("min.id").contains("1"))
    assert(s.get("max.id").contains("5"))
  }
  test("WAP: staged snapshot is invisible until published, addressable by id") {
    val cat = freshCatalog()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val batch = Seq((3L, "c")).toDF("id", "name")
    cat.createTable("db", "w", base.schema)
    cat.append("db", "w", base) // snap 2
    val staged = cat.stageAppend("db", "w", batch) // snap 3, staged
    assert(staged.snapshotId == 3L)
    // invisible to every current-state reader
    assert(cat.currentSnapshot("db", "w").snapshotId == 2L)
    assert(cat.currentSnapshotId("db", "w") == 2L)
    assert(cat.readLatest("db", "w").count() == 2)
    // but fully addressable for the audit
    assert(cat.readAsOf("db", "w", 3L).count() == 3)
    // metadata table shows it, flagged
    assert(cat.snapshotList("db", "w").last.summary.get("wap.staged").contains("true"))

    // every other commit path refuses while the stage is pending
    val e1 = intercept[IllegalArgumentException](cat.append("db", "w", batch))
    assert(e1.getMessage.contains("staged"))
    intercept[IllegalArgumentException](cat.overwrite("db", "w", batch))
    intercept[IllegalArgumentException](cat.delete("db", "w", col("id") === 1L))
    intercept[IllegalArgumentException](cat.compact("db", "w", 1))
    intercept[IllegalArgumentException](cat.rollback("db", "w", 2L))
    intercept[IllegalArgumentException](cat.expireSnapshots("db", "w", keepLast = 1))
    intercept[IllegalArgumentException](cat.stageAppend("db", "w", batch))

    // publish: pure pointer commit — no new manifest shard is written
    val shardsBefore = Files.list(java.nio.file.Paths.get(cat.warehouse, "db", "w", "_snapshots"))
      .filter(p => p.getFileName.toString.startsWith("m")).count()
    val pub = cat.publishStaged("db", "w", 3L)
    val shardsAfter = Files.list(java.nio.file.Paths.get(cat.warehouse, "db", "w", "_snapshots"))
      .filter(p => p.getFileName.toString.startsWith("m")).count()
    assert(shardsAfter == shardsBefore, "publish must write zero O(files) metadata")
    assert(pub.operation == "publish" && pub.snapshotId == 4L)
    assert(cat.readLatest("db", "w").count() == 3)
    assert(cat.recordCount("db", "w", 4L) == 3L)
    assert(pub.summary.get("wap.source").contains("3"))
    // normal commits work again
    cat.append("db", "w", Seq((4L, "d")).toDF("id", "name"))
    assert(cat.readLatest("db", "w").count() == 4)
  }

  test("WAP: discard restores the published head; expire reclaims the staged files") {
    val cat = freshCatalog()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    cat.createTable("db", "w", base.schema)
    cat.append("db", "w", base) // snap 2
    val staged = cat.stageAppend("db", "w", Seq((3L, "bad")).toDF("id", "name")) // snap 3
    // wrong-id guards
    intercept[IllegalArgumentException](cat.publishStaged("db", "w", 2L))
    intercept[IllegalArgumentException](cat.discardStaged("db", "w", 2L))
    val disc = cat.discardStaged("db", "w", 3L) // snap 4
    assert(disc.operation == "discard" && cat.readLatest("db", "w").count() == 2)
    assert(cat.currentSnapshotId("db", "w") == 4L)
    // nothing staged pending anymore: publish/discard refuse, commits work
    intercept[IllegalArgumentException](cat.publishStaged("db", "w", 3L))
    cat.append("db", "w", Seq((5L, "e")).toDF("id", "name")) // snap 5
    assert(cat.readLatest("db", "w").count() == 3)
    // the discarded batch stays addressable for post-mortem until expire
    assert(cat.readAsOf("db", "w", 3L).count() == 3)
    val stagedFiles = cat.files("db", "w", 3L).filterNot(cat.files("db", "w", 2L).toSet)
    assert(stagedFiles.nonEmpty)
    cat.expireSnapshots("db", "w", keepLast = 2)
    stagedFiles.foreach(f =>
      assert(!Files.exists(java.nio.file.Paths.get(f)), s"expire must reclaim $f"))
  }

  test("WAP: staged rows reach a snapcat stream only at publish; discarded rows never") {
    val cat = freshCatalog()
    // register this catalog for SQL streaming
    spark.conf.set("spark.sql.catalog.wapcat", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.wapcat.warehouse", cat.warehouse)
    val base = Seq((1L, "a")).toDF("id", "name")
    cat.createTable("db", "ws", base.schema)
    cat.append("db", "ws", base)
    val q = spark.readStream.option("starting-snapshot-id", "1").table("wapcat.db.ws")
      .writeStream.format("memory").queryName("wap_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wap_tail").count() == 1)
      val st = cat.stageAppend("db", "ws", Seq((2L, "staged")).toDF("id", "name"))
      q.processAllAvailable()
      // staged rows must NOT leak before the audit passes
      assert(spark.table("wap_tail").count() == 1)
      cat.publishStaged("db", "ws", st.snapshotId)
      q.processAllAvailable()
      assert(spark.table("wap_tail").as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "staged")))
      // a discarded stage contributes nothing, and the stream keeps working
      val st2 = cat.stageAppend("db", "ws", Seq((9L, "bad")).toDF("id", "name"))
      cat.discardStaged("db", "ws", st2.snapshotId)
      cat.append("db", "ws", Seq((3L, "c")).toDF("id", "name"))
      q.processAllAvailable()
      assert(spark.table("wap_tail").as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "staged"), (3L, "c")))
    } finally q.stop()
  }

  test("adoptFiles: zero-copy adoption by rename, exact stats, schema gate pre-move") {
    val cat = freshCatalog()
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    cat.createTable("db", "ad", d1.schema)
    cat.append("db", "ad", d1)

    // externally-written parquet (two files)
    val ext = Files.createTempDirectory("graft_ext_")
    Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("id", "name")
      .repartition(2).write.mode("overwrite").parquet(ext.toString)
    import scala.jdk.CollectionConverters._
    val snap = cat.adoptFiles("db", "ad", ext, "append")

    assert(snap.operation == "append" && snap.summary("adopted") == "true")
    assert(snap.recordCount == 5, "footer row counts sum exactly")
    assert(cat.readLatest("db", "ad").count() == 5)
    // the source files MOVED (no copy): source dir has no parquet left
    assert(!Files.walk(ext).iterator().asScala.exists(_.toString.endsWith(".parquet")))
    // numeric bounds folded from footers merge with the previous summary
    assert(snap.summary("min.id") == "1" && snap.summary("max.id") == "30")
    // string bounds drop on adoption-append (adopted side has no exact bound)
    assert(!snap.summary.contains("min.name"))
    // per-file footer stats recorded -> file skipping works on adopted files
    val (cands, _) = cat.pruneFiles("db", "ad", snap.snapshotId, col("id") === 20L)
    assert(cands.size < snap.files.size, s"cands=$cands")
    // incremental read sees the adopted rows as a plain append
    assert(cat.readIncremental("db", "ad", 2L, 3L).count() == 3)

    // create-then-adopt (the canonical migration path): the empty previous
    // snapshot contributes nothing, so the adopted footer bounds stand
    val cat2 = freshCatalog()
    cat2.createTable("db", "ad0", d1.schema)
    val ext0 = Files.createTempDirectory("graft_ext0_")
    Seq((7L, "h"), (9L, "i")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(ext0.toString)
    val s0 = cat2.adoptFiles("db", "ad0", ext0, "append")
    assert(s0.summary("min.id") == "7" && s0.summary("max.id") == "9",
      s"adopting over an empty table must keep the footer bounds: ${s0.summary}")

    // adopt-overwrite replaces state; history stays time-travelable
    val ext2 = Files.createTempDirectory("graft_ext2_")
    Seq((99L, "q")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(ext2.toString)
    val ow = cat.adoptFiles("db", "ad", ext2, "overwrite")
    assert(ow.operation == "overwrite" && cat.readLatest("db", "ad").count() == 1)
    assert(cat.readAsOf("db", "ad", snap.snapshotId).count() == 5)

    // schema mismatch fails BEFORE any move — the bad source dir is intact
    val bad = Files.createTempDirectory("graft_extbad_")
    Seq((1L, 2.5)).toDF("id", "score").write.mode("overwrite").parquet(bad.toString)
    val e = intercept[IllegalArgumentException](cat.adoptFiles("db", "ad", bad))
    assert(e.getMessage.contains("mismatch"), e.getMessage)
    assert(Files.walk(bad).iterator().asScala.exists(_.toString.endsWith(".parquet")),
      "failed adoption must leave the source untouched")
  }

  test("adoptFiles: field order / repetition differences are homogeneous; retypes refuse") {
    val cat = freshCatalog()
    val d1 = Seq((1L, "a")).toDF("id", "name")
    cat.createTable("db", "adr", d1.schema)
    // two writers, same name->type columns, DIFFERENT field order — the
    // name-based parquet read handles this fine, so adoption must too
    val ext = Files.createTempDirectory("graft_extord_")
    Seq((10L, "x")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(ext.resolve("a").toString)
    Seq(("y", 20L)).toDF("name", "id").select("name", "id").coalesce(1)
      .write.mode("overwrite").parquet(ext.resolve("b").toString)
    import scala.jdk.CollectionConverters._
    def parquets(p: java.nio.file.Path) =
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val flat = Files.createTempDirectory("graft_extflat_")
    parquets(ext).zipWithIndex.foreach { case (p, i) =>
      Files.move(p, flat.resolve(s"part-$i.parquet"))
    }
    val snap = cat.adoptFiles("db", "adr", flat, "append")
    assert(snap.recordCount == 2)
    assert(cat.readLatest("db", "adr").select("id").as[Long].collect().toSet == Set(10L, 20L))

    // a RE-TYPED column across files is the real silent-NULL hazard: refuse
    val bad = Files.createTempDirectory("graft_extmix_")
    Seq((30L, "z")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(bad.resolve("a").toString)
    Seq(("31", "w")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(bad.resolve("b").toString)
    val badFlat = Files.createTempDirectory("graft_extmixflat_")
    parquets(bad).zipWithIndex.foreach { case (p, i) =>
      Files.move(p, badFlat.resolve(s"part-$i.parquet"))
    }
    val e = intercept[Exception](cat.adoptFiles("db", "adr", badFlat, "append"))
    assert(e.getMessage.contains("divergence") || e.getMessage.contains("mismatch"),
      e.getMessage)
  }

  test("compactZOrder works right after MoR DML via per-file footer bounds") {
    val cat = freshCatalog()
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("k", (col("id") * 37) % 1000)
    cat.createTable("db", "zm", df.schema)
    cat.append("db", "zm", df.repartition(2))
    // MoR delete drops the summary bounds — z-order must fall back to the
    // per-file footer bounds (outer bounds: fine for bucketing) instead of
    // refusing with a commit-through-this-catalog error
    cat.deleteMoR("db", "zm", col("id") < 100)
    val z = cat.compactZOrder("db", "zm", Seq("id", "k"), numFiles = 4)
    assert(z.deleteFiles.isEmpty, "z-order compact folds the deletes in")
    assert(z.summary("record_count") == "900")
    assert(z.summary("min.id") == "100", "exact bounds restored by the rewrite")
    assert(cat.readLatest("db", "zm").count() == 900)
  }

  test("write.sort-order range-clusters commits: disjoint file bounds, systematic skipping") {
    val cat = freshCatalog()
    // deliberately scrambled input across 4 partitions
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("id", (col("id") * 2654435761L) % 4000)
      .repartition(4)
    cat.createTable("db", "s", df.schema)
    cat.setProperty("db", "s", "write.sort-order", Some("id"))
    // AQE rightly coalesces a 4000-row range shuffle to one partition in
    // production; hold it open here so several files exist to skip between
    val saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val snap = try cat.append("db", "s", df)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    assert(snap.files.size > 1, "range shuffle must produce several files")

    // per-file id ranges are pairwise DISJOINT (the clustering contract)
    val bounds = snap.files.map { f =>
      val st = snap.fileStats(f)
      (st("min.id").toLong, st("max.id").toLong)
    }.sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file bounds: $bounds")
      case _ =>
    }
    // a point predicate prunes to exactly one candidate file
    val (cands, untouched) = cat.pruneFiles("db", "s", snap.snapshotId, col("id") === 1234L)
    assert(cands.size == 1 && untouched.size == snap.files.size - 1, s"cands=$cands")
    // data unchanged by the re-layout
    assert(cat.readLatest("db", "s").agg(sum(col("id"))).head.getLong(0)
      == (0L until 4000L).map(i => (i * 2654435761L) % 4000).sum)

    // unknown sort column fails BEFORE any data write
    cat.setProperty("db", "s", "write.sort-order", Some("nope"))
    val e = intercept[IllegalArgumentException](
      cat.append("db", "s", df.limit(1)))
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("write.distribution-mode clusters partitioned commits (hash: one file per dir)") {
    val cat = freshCatalog()
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("grp", concat(lit("g"), (col("id") % 3).cast("string")))
      .repartition(4)
    // CONTRAST table, default mode=none: each of the 4 writer tasks fans
    // out across all 3 partition values — W x P files
    cat.createTable("db", "dn", df.schema, partitionCols = Seq("grp"))
    val saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val sn = cat.append("db", "dn", df)
      val perDirNone = sn.files.groupBy(_.split("/")(2)).view.mapValues(_.size).toMap
      assert(perDirNone.values.exists(_ > 1),
        s"mode=none must keep task fan-out (got $perDirNone)")

      // hash mode: every occupied dir receives exactly ONE file per commit
      cat.createTable("db", "dh", df.schema, partitionCols = Seq("grp"),
        properties = Map("write.distribution-mode" -> "hash"))
      val sh = cat.append("db", "dh", df)
      val perDirHash = sh.files.groupBy(_.split("/")(2)).view.mapValues(_.size).toMap
      assert(perDirHash.keySet == Set("grp=g0", "grp=g1", "grp=g2"), s"$perDirHash")
      assert(perDirHash.values.forall(_ == 1),
        s"hash distribution must cluster each partition into one file: $perDirHash")
      // data identical across layouts
      assert(cat.readLatest("db", "dh").except(cat.readLatest("db", "dn")).isEmpty
        && cat.readLatest("db", "dn").except(cat.readLatest("db", "dh")).isEmpty)

      // range mode + sort order: files inside a dir carry DISJOINT sort
      // ranges (footer-bound contract), dirs stay few-file
      cat.createTable("db", "dr", df.schema, partitionCols = Seq("grp"),
        properties = Map("write.distribution-mode" -> "range",
          "write.sort-order" -> "id"))
      val sr = cat.append("db", "dr", df)
      sr.files.groupBy(_.split("/")(2)).foreach { case (_, fs) =>
        val bounds = fs.map { f =>
          val st = sr.fileStats(f)
          (st("min.id").toLong, st("max.id").toLong)
        }.sortBy(_._1)
        bounds.sliding(2).foreach {
          case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $bounds")
          case _ =>
        }
      }
      assert(cat.readLatest("db", "dr").except(cat.readLatest("db", "dn")).isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)

    // hash on an unpartitioned table refuses before any write
    cat.createTable("db", "du", df.schema,
      properties = Map("write.distribution-mode" -> "hash"))
    val e1 = intercept[IllegalArgumentException](cat.append("db", "du", df))
    assert(e1.getMessage.contains("requires a"), e1.getMessage)
    // unknown mode refuses loudly
    cat.createTable("db", "dx", df.schema, partitionCols = Seq("grp"),
      properties = Map("write.distribution-mode" -> "shuffle"))
    val e2 = intercept[IllegalArgumentException](cat.append("db", "dx", df))
    assert(e2.getMessage.contains("none|hash|range"), e2.getMessage)
  }

  test("write.merge-schema: appends auto-evolve new columns, null-fill missing ones") {
    val cat = freshCatalog()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "m", base.schema)
    cat.append("db", "m", base)
    // without the property a new column refuses loudly
    val wide = Seq((3L, "c", 30L)).toDF("id", "v", "w")
    val e0 = intercept[IllegalArgumentException](cat.append("db", "m", wide))
    assert(e0.getMessage.contains("extra=w"), e0.getMessage)

    cat.setProperty("db", "m", "write.merge-schema", Some("true"))
    cat.append("db", "m", wide) // auto-evolves: w BIGINT, nullable
    assert(cat.currentSnapshot("db", "m").schema.fieldNames.toSeq == Seq("id", "v", "w"))
    // older files null-fill the evolved column
    val rows1 = cat.readLatest("db", "m").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(rows1 == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))

    // a frame MISSING table columns null-fills them for the batch
    cat.append("db", "m", Seq((4L, 40L)).toDF("id", "w"))
    val rows2 = cat.readLatest("db", "m").where(col("id") === 4L)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows2 == Seq((4L, None, Some(40L))))

    // type changes still refuse — widening is the explicit evolveSchema act
    val e1 = intercept[IllegalArgumentException](
      cat.append("db", "m", Seq((5, "e")).toDF("id", "v")
        .withColumn("id", col("id").cast("int"))))
    assert(e1.getMessage.contains("type mismatch"), e1.getMessage)
    // compact never merges: the full surviving state re-observes exactly
    cat.compact("db", "m", numFiles = 1)
    assert(cat.readLatest("db", "m").count() == 4)
  }

  test("overwriteWhere: delete-matching + insert as one prune-aware commit") {
    val cat = freshCatalog()
    val df = Seq((1L, "g0", 10L), (2L, "g0", 95L), (11L, "g1", 20L),
      (21L, "g2", 30L)).toDF("id", "grp", "score")
    cat.createTable("db", "ow", df.schema, partitionCols = Seq("grp"))
    cat.append("db", "ow", df)
    cat.deleteMoR("db", "ow", col("id") === 1L) // dead row in a CARRIED partition
    val before = cat.currentSnapshot("db", "ow")

    // partition-aligned predicate: only g1's files rewrite
    val snap = cat.overwriteWhere("db", "ow", col("grp") === "g1",
      Seq((99L, "g1", 70L)).toDF("id", "grp", "score"))
    assert(snap.operation == "overwrite-where")
    assert(before.files.filterNot(_.contains("grp=g1")).forall(snap.files.contains),
      "files proven clean by partition dirs must carry verbatim")
    assert(cat.readLatest("db", "ow").select("id").as[Long].collect().toSet ==
      Set(2L, 21L, 99L), "g1 replaced; MoR delete on carried g0 stays in force")

    // value predicate: candidates rewrite minus matches, insert lands
    cat.overwriteWhere("db", "ow", col("score") > 90L,
      Seq((3L, "g0", 50L)).toDF("id", "grp", "score"))
    assert(cat.readLatest("db", "ow").select("id").as[Long].collect().toSet ==
      Set(3L, 21L, 99L))

    // row lineage: survivors keep their ids, the insert mints fresh ones
    val li = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    cat.createTable("db", "owl", li.schema,
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "owl", li)
    val idsBefore = cat.readWithRowIds("db", "owl")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    cat.overwriteWhere("db", "owl", col("k") === 2L,
      Seq((20L, "x")).toDF("k", "v"))
    val idsAfter = cat.readWithRowIds("db", "owl")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(idsAfter(1L) == idsBefore(1L) && idsAfter(3L) == idsBefore(3L),
      "survivors keep their row ids across the rewrite")
    assert(!idsBefore.values.toSet.contains(idsAfter(20L)),
      "the inserted row must mint a fresh id")
  }

  test("zero-copy clone: hardlinked files, independent lifecycles") {
    val cat = freshCatalog()
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", (col("id") * 7) % 100)
    cat.createTable("db", "src", df.schema)
    cat.append("db", "src", df.where(col("id") < 500).repartition(2))
    cat.append("db", "src", df.where(col("id") >= 500).repartition(2))
    cat.deleteMoR("db", "src", col("id") % 10 === 0)       // live delete shard
    cat.createTag("db", "src", "audit", cat.currentSnapshotId("db", "src"))

    val snap = cat.cloneTable("db", "src", "db2", "dst")
    assert(snap.operation == "clone"
      && snap.summary("clone.source") == "db.src")
    // the link pass runs on the DEDICATED clone pool, never the JVM-common
    // ForkJoinPool (a 10^6-file clone must not starve other parallel work)
    assert(SnapshotCatalog.lastCloneThreads.nonEmpty &&
      SnapshotCatalog.lastCloneThreads.forall(_.startsWith("graft-clone-io-")),
      SnapshotCatalog.lastCloneThreads.toString)
    // and the pool size honors its conf
    spark.conf.set("graft.clone.ioThreads", "2")
    try {
      cat.cloneTable("db", "src", "db2", "dst_sized")
      assert(SnapshotCatalog.lastCloneThreads.size <= 2,
        SnapshotCatalog.lastCloneThreads.toString)
    } finally spark.conf.unset("graft.clone.ioThreads")
    // contents identical, MoR deletes in force on the clone
    val expect = (0L until 1000L).filter(_ % 10 != 0).toSet
    assert(cat.readLatest("db2", "dst").select("id").as[Long].collect().toSet == expect)
    assert(snap.recordCount == expect.size.toLong)
    // ZERO-COPY: same inode (hard link), not a byte copy
    val rel = snap.files.head
    def ino(p: java.nio.file.Path): Any = Files.getAttribute(p, "unix:ino")
    assert(ino(java.nio.file.Paths.get(cat.warehouse, "db", "src").resolve(rel))
      == ino(java.nio.file.Paths.get(cat.warehouse, "db2", "dst").resolve(rel)))
    // tags/branches do not carry; history starts at the clone
    assert(cat.meta("db2", "dst").refs.isEmpty)
    assert(cat.snapshotList("db2", "dst").size == 1)

    // AS-OF clone: a historical state becomes a live table ("reproduce
    // yesterday's training set"). Snapshot 2 = first append only,
    // predating the MoR delete.
    val asOf = cat.cloneTable("db", "src", "db2", "dst2", asOfSnapshotId = Some(2L))
    assert(asOf.snapshotId == 2L && asOf.operation == "clone")
    assert(cat.readLatest("db2", "dst2").select("id").as[Long].collect().toSet ==
      (0L until 500L).toSet)
    // its next commit takes id 3 with no dir collision against cloned state
    cat.append("db2", "dst2", df.limit(1))
    assert(cat.readLatest("db2", "dst2").count() == 501L)
    intercept[NoSuchElementException](
      cat.cloneTable("db", "src", "db2", "x2", asOfSnapshotId = Some(99L)))

    // diverge both sides: fully independent
    cat.append("db2", "dst", df.where(col("id") < 10)
      .withColumn("id", col("id") + 5000))
    cat.delete("db", "src", col("id") >= 100)
    assert(cat.readLatest("db", "src").count() == (0L until 100L).count(_ % 10 != 0))
    assert(cat.readLatest("db2", "dst").select("id").as[Long].collect().toSet ==
      expect ++ (5000L until 5010L))
    // clone-side maintenance works (MoR shard materializes; new ids never
    // collide with cloned dirs because they start above the cloned id)
    cat.compact("db2", "dst", numFiles = 1)
    assert(cat.readLatest("db2", "dst").count() == expect.size + 10L)

    // GC independence: expiring the source's history (its old files die)
    // never touches the clone's hardlinked copies. Drop the tag first —
    // named refs protect their targets from retention sweeps.
    cat.dropTag("db", "src", "audit")
    val srcDead = cat.expireSnapshots("db", "src", keepLast = 1)
    assert(srcDead > 0, "source expire must actually delete files")
    assert(cat.readLatest("db2", "dst").count() == expect.size + 10L)

    // refusals: existing target, missing source
    intercept[IllegalArgumentException](cat.cloneTable("db", "src", "db2", "dst"))
    intercept[IllegalArgumentException](cat.cloneTable("db", "nope", "db2", "x"))
  }

  test("dynamic partition overwrite: touched partitions replace, the rest carry") {
    val cat = freshCatalog()
    def rows(ids: Range, g: Int) = spark.createDataFrame(
      ids.map(i => (i.toLong, s"g$g", i * 10L))).toDF("id", "grp", "v")
    val init = rows(1 to 10, 0).union(rows(11 to 20, 1)).union(rows(21 to 30, 2))
    cat.createTable("db", "t", init.schema, partitionCols = Seq("grp"))
    cat.append("db", "t", init)                                         // snap 2
    cat.append("db", "t", rows(31 to 35, 0))                            // snap 3: more g0
    // MoR deletes: one in a partition that will CARRY (g1) and one in a
    // partition that will be REPLACED (g2)
    cat.deleteMoR("db", "t", col("id") === 11L || col("id") === 21L)    // snap 4
    val before = cat.currentSnapshot("db", "t")

    // replace g2, introduce g3; g0/g1 untouched
    val incoming = rows(100 to 104, 2).union(rows(200 to 203, 3))
    val snap = cat.overwriteDynamic("db", "t", incoming)
    assert(snap.operation == "dynamic-overwrite")

    // carried files are the SAME paths (no rewrite of untouched partitions)
    val carriedBefore = before.files.filterNot(_.contains("grp=g2")).toSet
    assert(carriedBefore.subsetOf(snap.files.toSet),
      s"untouched partitions must carry verbatim")
    assert(!snap.files.exists(f => before.files.contains(f) && f.contains("grp=g2")),
      "replaced partition files must not carry")

    // content: old g0 (both commits), old g1 minus the MoR-deleted row
    // (the carried delete shard stays live), new g2, new g3
    val got = cat.readLatest("db", "t").select("id").as[Long].collect().toSet
    val want = (1 to 10).map(_.toLong).toSet ++ (31 to 35).map(_.toLong) ++
      (12 to 20).map(_.toLong) ++ (100 to 104).map(_.toLong) ++
      (200 to 203).map(_.toLong)
    assert(got == want, s"diff: extra=${got.diff(want)} missing=${want.diff(got)}")
    // metadata record count stays exact through carry + dead-row arithmetic
    assert(snap.recordCount == want.size.toLong)

    // time travel to the pre-overwrite state is intact
    assert(cat.readAsOf("db", "t", before.snapshotId).count() ==
      (30 + 5 - 2).toLong)

    // an EMPTY incoming frame replaces nothing
    val snap2 = cat.overwriteDynamic("db", "t", incoming.limit(0))
    assert(snap2.files.toSet == snap.files.toSet && snap2.recordCount == snap.recordCount)

    // refusals: unpartitioned and bucketed tables
    cat.createTable("db", "flat", init.schema)
    val e1 = intercept[IllegalArgumentException](
      cat.overwriteDynamic("db", "flat", incoming))
    assert(e1.getMessage.contains("partitioned"), e1.getMessage)
    cat.createBucketedTable("db", "bkt", init.schema, bucketCol = "id", nBuckets = 4)
    val e2 = intercept[IllegalArgumentException](
      cat.overwriteDynamic("db", "bkt", incoming))
    assert(e2.getMessage.contains("bucket"), e2.getMessage)

    // sort-order + hash distribution compose: the replaced partition gets
    // ONE file whose footer bounds are the exact data bounds (clustered
    // write parity with commit()'s laid block)
    cat.createTable("db", "tsorted", init.schema, partitionCols = Seq("grp"),
      properties = Map("write.sort-order" -> "id",
        "write.distribution-mode" -> "hash"))
    cat.append("db", "tsorted", init)
    val s2 = cat.overwriteDynamic("db", "tsorted",
      rows(300 to 320, 2).repartition(4))
    val g2files = s2.files.filter(_.contains("grp=g2"))
    assert(g2files.size == 1, s"hash-distributed dynamic write: $g2files")
    val st = s2.fileStats(g2files.head)
    assert(st("min.id").toLong == 300L && st("max.id").toLong == 320L)
  }

  test("readChangelog: row-level +/- across deletes, updates, appends; compact is silent") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, Files.createTempDirectory("graft_cdc_").toString)
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    cat.createTable("db", "t", rows.toDF("id", "v").schema)              // 1
    cat.append("db", "t", rows.toDF("id", "v").repartition(2))           // 2
    cat.delete("db", "t", col("id") === 2L)                              // 3
    cat.update("db", "t", col("id") === 3L, Map("v" -> lit("C")))        // 4
    cat.append("db", "t", Seq((5L, "e")).toDF("id", "v"))                // 5
    cat.compact("db", "t", numFiles = 1)                                 // 6

    def cl(from: Long, to: Long): Set[(Long, String, String)] =
      cat.readChangelog("db", "t", from, to)
        .select("id", "v", "_change_type").as[(Long, String, String)].collect().toSet

    assert(cl(2, 3) == Set((2L, "b", "delete")), "delete emits the deleted row only")
    assert(cl(3, 4) == Set((3L, "c", "delete"), (3L, "C", "insert")),
      "update is delete+insert")
    assert(cl(4, 5) == Set((5L, "e", "insert")), "append is inserts only")
    assert(cl(5, 6).isEmpty, "compact moves rows without changing visibility")
    // a multi-operation range composes: net change from 2 to 6
    assert(cl(2, 6) == Set((2L, "b", "delete"), (3L, "c", "delete"),
      (3L, "C", "insert"), (5L, "e", "insert")))
    assert(cl(2, 2).isEmpty)
    // ADDITIVE schema evolution across the range serves in the TO schema
    // (r8): the evolution commit itself changes no rows, and a range
    // spanning it emits pre-evolution rows with the added column null
    cat.evolveSchema("db", "t",
      cat.currentSnapshot("db", "t").schema.add("w", "string"))          // 7
    assert(cat.readChangelog("db", "t", 6, 7).isEmpty,
      "the evolution commit alone changes no rows")
    val evolved = cat.readChangelog("db", "t", 4, 7)
    assert(evolved.schema.fieldNames.contains("w"), "diff serves in the TO schema")
    assert(evolved.select("id", "w", "_change_type")
      .as[(Long, Option[String], String)].collect().toSet ==
      Set((5L, None, "insert")), "pre-evolution insert null-fills w")
  }

  test("setProperties sets one key and unsets another in the same call") {
    val cat = freshCatalog()
    cat.createTable("db", "p", Seq((1L, "a")).toDF("id", "name").schema,
      properties = Map("keep" -> "k", "old" -> "o"))
    val snaps = cat.snapshotList("db", "p").size
    cat.setProperties("db", "p", Map("new" -> Some("n"), "old" -> None))
    assert(cat.meta("db", "p").properties == Map("keep" -> "k", "new" -> "n"))
    assert(cat.snapshotList("db", "p").size == snaps, "properties never commit")
    // setProperty is the one-key form of the same write
    cat.setProperty("db", "p", "keep", None)
    assert(cat.meta("db", "p").properties == Map("new" -> "n"))
  }

}

/** Pure unit tests for the stats-merge ordering edge cases (no Spark). */
class ColumnStatsSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(StructField("d", DoubleType)))

  test("NaN sorts largest in float merge (Spark ordering, not primitive >)") {
    // prev snapshot observed max=NaN; fresh append maxes at 1.0. Spark's
    // max() would keep NaN, so the merged bound must too.
    val merged = ColumnStats.merge(
      Map("max.d" -> "NaN", "min.d" -> "NaN"),
      Map("max.d" -> "1.0", "min.d" -> "1.0"),
      schema, prevRowCount = 5L)
    assert(merged("max.d") == "NaN")
    assert(merged("min.d") == "1.0", "NaN is the LARGEST value, never the min")
  }

  test("unknown prev rowcount (-1) never adopts fresh-only bounds") {
    // prev has rows-unknown and no recorded stat: a fresh-side bound must
    // NOT survive the merge (prev files may hold values outside it).
    val merged = ColumnStats.merge(
      Map.empty, Map("max.d" -> "1.0", "min.d" -> "0.5"),
      schema, prevRowCount = -1L)
    assert(merged.isEmpty)
    // but a PROVABLY empty previous snapshot does adopt them
    val adopted = ColumnStats.merge(
      Map.empty, Map("max.d" -> "1.0", "min.d" -> "0.5"),
      schema, prevRowCount = 0L)
    assert(adopted == Map("max.d" -> "1.0", "min.d" -> "0.5"))
  }
}
