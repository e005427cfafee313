package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Merge-on-read position deletes (Iceberg v2 semantics): a DELETE that
  * commits O(matched rows) of (file, pos) metadata instead of rewriting
  * data files. Asserts the commit SHAPE (no data files written), read
  * merging everywhere (library, SQL, time travel, changelog), exactness of
  * metadata-served counts, fold-in via compact(), and GC. */
class MorDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the warehouse path holds a space: every write and read of this spec
  // parses it, through the graft write scheme and plain read paths alike
  private def freshCatalog(): SnapshotCatalog = {
    val dir = Files.createTempDirectory("graft mor ").toString
    var tick = 0L
    new SnapshotCatalog(spark, dir,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 3600) })
  }

  private def nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

  /** create + append nation (25 rows, n_nationkey 0..24) -> snapshot 2. */
  private def withNation(cat: SnapshotCatalog): Unit = {
    cat.createTable("db", "nation", nation.schema)
    cat.append("db", "nation", nation)
  }

  test("MoR delete writes no data files, reads merge, time travel exact") {
    val cat = freshCatalog()
    withNation(cat)
    val before = cat.currentSnapshot("db", "nation")
    val snap = cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    // commit shape: data files untouched, delete shard + parquet present
    assert(snap.files == before.files, "a MoR delete must not touch data files")
    assert(snap.deleteFiles.nonEmpty)
    assert(snap.deleteFiles.map(_.rows).sum == 5)
    assert(snap.summary("deleted_records") == "5")
    assert(snap.summary("record_count") == "20")
    val root = Paths.get(cat.warehouse, "db", "nation")
    assert(Files.exists(root.resolve("_snapshots").resolve(s"d${snap.snapshotId}.json")))
    assert(snap.deleteFiles.forall(d => Files.exists(root.resolve(d.path))))
    // exact per-file coverage: covers point at real data files of the snapshot
    assert(snap.deleteFiles.flatMap(_.covers.keys).toSet.subsetOf(snap.files.toSet))
    // reads merge
    val keys = cat.readLatest("db", "nation").select("n_nationkey").as[Int].collect().sorted
    assert(keys.toSeq == (5 to 24))
    // O(1) metadata count stays exact
    assert(cat.recordCount("db", "nation", snap.snapshotId) == 20)
    // summary min/max dropped (the min row is dead; absent is honest)
    assert(!snap.summary.contains("min.n_nationkey"))
    // time travel to the pre-delete snapshot is untouched
    assert(cat.readAsOf("db", "nation", before.snapshotId).count() == 25)
  }

  test("re-delete of dead rows neither duplicates positions nor double-counts") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    val snap = cat.deleteMoR("db", "nation", col("n_nationkey") < 7) // overlaps 0..4
    assert(snap.summary("deleted_records") == "2", "only rows 5,6 newly die")
    assert(snap.summary("record_count") == "18")
    assert(snap.deleteFiles.map(_.rows).sum == 7)
    assert(cat.readLatest("db", "nation").count() == 18)
  }

  test("no-match MoR delete is a pointer-only commit (no shard, no dir)") {
    val cat = freshCatalog()
    withNation(cat)
    val snap = cat.deleteMoR("db", "nation", col("n_nationkey") > 1000)
    assert(snap.deleteFiles.isEmpty)
    assert(snap.summary("record_count") == "25")
    assert(snap.summary.contains("min.n_nationkey"), "no rows died - bounds keep")
    assert(!Files.exists(Paths.get(cat.warehouse, "db", "nation", "deletes",
      s"s${snap.snapshotId}")))
    assert(cat.readLatest("db", "nation").count() == 25)
  }

  test("append after MoR delete: deletes keep applying to old files only") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    val snap = cat.append("db", "nation", nation.limit(5)) // re-add keys 0..4 as NEW rows
    assert(snap.summary("record_count") == "25")
    val counts = cat.readLatest("db", "nation").groupBy("n_nationkey").count()
      .as[(Int, Long)].collect().toMap
    assert((0 to 4).forall(k => counts(k) == 1), "re-appended keys appear exactly once")
    assert(cat.readLatest("db", "nation").count() == 25)
  }

  test("CoW delete and update over live MoR deletes never resurrect") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5) // 20 live
    val afterCow = cat.delete("db", "nation", col("n_nationkey") >= 20) // kills 20..24
    assert(afterCow.summary("record_count") == "15")
    val keys = cat.readLatest("db", "nation").select("n_nationkey").as[Int].collect().sorted
    assert(keys.toSeq == (5 to 19), "rows 0..4 must not resurrect through the rewrite")
    val upd = cat.update("db", "nation", col("n_nationkey") === 10,
      Map("n_name" -> lit("X")))
    assert(upd.summary("record_count") == "15")
    assert(cat.readLatest("db", "nation").where(col("n_name") === "X").count() == 1)
    assert(cat.readLatest("db", "nation").count() == 15)
  }

  test("compact() materializes deletes and restores summary bounds") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    val compacted = cat.compact("db", "nation", 1)
    assert(compacted.deleteFiles.isEmpty, "compact folds deletes into data files")
    assert(compacted.summary("record_count") == "20")
    assert(compacted.summary("min.n_nationkey") == "5", "bounds recomputed exactly")
    assert(compacted.summary("max.n_nationkey") == "24")
    assert(cat.readLatest("db", "nation").count() == 20)
    // the delete entry no longer rides the current log entry
    assert(cat.entryLog("db", "nation").last.deletes.isEmpty)
  }

  test("changelog across a MoR delete is row-exact") {
    val cat = freshCatalog()
    withNation(cat)
    val from = cat.currentSnapshot("db", "nation").snapshotId
    val to = cat.deleteMoR("db", "nation", col("n_nationkey") < 3).snapshotId
    val changes = cat.readChangelog("db", "nation", from, to)
      .select("_change_type", "n_nationkey").as[(String, Int)].collect().sorted
    assert(changes.toSeq == Seq(("delete", 0), ("delete", 1), ("delete", 2)))
  }

  test("rollback and schema evolution carry the delete set") {
    val cat = freshCatalog()
    withNation(cat)
    val deleted = cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    // evolve: add a column; deletes must still apply
    val evolved = cat.evolveSchema("db", "nation",
      org.apache.spark.sql.types.StructType(nation.schema.fields :+
        org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType)))
    assert(evolved.deleteFiles == deleted.deleteFiles)
    assert(cat.readLatest("db", "nation").count() == 20)
    // rollback to the pre-delete snapshot resurrects (by design), rollback
    // back to the delete snapshot re-applies
    cat.rollback("db", "nation", deleted.snapshotId - 1)
    assert(cat.readLatest("db", "nation").count() == 25)
    cat.rollback("db", "nation", deleted.snapshotId)
    assert(cat.readLatest("db", "nation").count() == 20)
  }

  test("expire + orphan sweep reclaim delete files and shards") {
    val cat = freshCatalog()
    withNation(cat)
    val del = cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    val root = Paths.get(cat.warehouse, "db", "nation")
    val delParquet = del.deleteFiles.map(d => root.resolve(d.path))
    cat.compact("db", "nation", 1)
    // orphan debris: a crashed MoR delete's unadopted dir + shard
    val stray = root.resolve("deletes").resolve("s99")
    Files.createDirectories(stray)
    Files.copy(delParquet.head, stray.resolve("stray.parquet"))
    Files.writeString(root.resolve("_snapshots").resolve("d99.json"), "{\"entries\":[]}")
    val swept = cat.removeOrphanFiles("db", "nation")
    assert(swept.exists(_.contains("deletes/s99")), "crashed delete debris swept")
    assert(swept.exists(_.endsWith("d99.json")))
    assert(delParquet.forall(Files.exists(_)), "referenced delete files survive the sweep")
    // expiring history reclaims the delete files + shard of expired snapshots
    cat.expireSnapshots("db", "nation", keepLast = 1)
    assert(delParquet.forall(!Files.exists(_)), "expired delete files reclaimed")
    assert(!Files.exists(root.resolve("_snapshots").resolve(s"d${del.snapshotId}.json")))
    assert(cat.readLatest("db", "nation").count() == 20)
  }

  test("partitioned table: MoR delete + pruned read stay exact") {
    val cat = freshCatalog()
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    cat.createTable("db", "orders_p", orders.schema, partitionCols = Seq("o_orderstatus"))
    cat.append("db", "orders_p", orders)
    val total = orders.count()
    val fCount = orders.where(col("o_orderstatus") === "F").count()
    val snap = cat.deleteMoR("db", "orders_p", col("o_orderstatus") === "F")
    assert(snap.files == cat.snapshotAt("db", "orders_p", snap.snapshotId - 1).files)
    assert(snap.summary("record_count").toLong == total - fCount)
    assert(cat.readLatest("db", "orders_p").where(col("o_orderstatus") === "F").count() == 0)
    assert(cat.readLatest("db", "orders_p").count() == total - fCount)
    // prune-scoped read through readWhere still merges
    assert(cat.readLatestWhere("db", "orders_p", col("o_orderstatus") === "O").count() ==
      orders.where(col("o_orderstatus") === "O").count())
  }

  test("SQL: write.delete.mode=merge-on-read routes DELETE, reads merge, rewrites go delta") {
    val cat = freshCatalog()
    withNation(cat)
    cat.setProperty("db", "nation", "write.delete.mode", Some("merge-on-read"))
    spark.conf.set("spark.sql.catalog.morsql", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.morsql.warehouse", cat.warehouse)
    val before = cat.currentSnapshot("db", "nation")
    spark.sql("DELETE FROM morsql.db.nation WHERE n_nationkey < 5")
    val after = cat.currentSnapshot("db", "nation")
    assert(after.files == before.files, "SQL DELETE took the position-delete path")
    assert(after.deleteFiles.map(_.rows).sum == 5)
    // SQL reads merge (the MorReadRule path), including aggregates and joins
    val r = spark.sql(
      "SELECT count(*) AS c, min(n_nationkey) AS mn FROM morsql.db.nation").head()
    assert(r.getLong(0) == 20 && r.getInt(1) == 5)
    assert(spark.sql("SELECT * FROM morsql.db.nation WHERE n_nationkey < 7").count() == 2)
    // time travel: pre-delete snapshot unmerged, delete snapshot merged
    assert(spark.sql(
      s"SELECT sum(n_nationkey) AS s FROM morsql.db.nation VERSION AS OF ${before.snapshotId}")
      .head.getLong(0) == (0 to 24).sum)
    assert(spark.sql(
      s"SELECT sum(n_nationkey) AS s FROM morsql.db.nation VERSION AS OF ${after.snapshotId}")
      .head.getLong(0) == (5 to 24).sum)
    // a subquery over the MoR table merges too (it is a plain read)
    assert(spark.sql(
      """SELECT count(*) AS c FROM morsql.db.nation a
        |WHERE a.n_nationkey IN (SELECT n_nationkey FROM morsql.db.nation)""".stripMargin)
      .head.getLong(0) == 20)
    // row-level SQL over live deletes routes the SupportsDelta path (r6):
    // no compact needed, no data file rewritten, counts stay exact
    spark.sql("UPDATE morsql.db.nation SET n_name = 'X' WHERE n_nationkey = 10")
    val u = cat.currentSnapshot("db", "nation")
    assert(after.files.forall(u.files.contains), "UPDATE rewrote no data file")
    assert(u.operation == "update" && u.summary("record_count") == "20")
    assert(spark.sql(
      "SELECT count(*) AS c FROM morsql.db.nation WHERE n_name = 'X'").head.getLong(0) == 1)
    // second MoR delete through SQL still works (translatable downgrade)
    spark.sql("DELETE FROM morsql.db.nation WHERE n_nationkey < 7")
    assert(spark.sql("SELECT count(*) AS c FROM morsql.db.nation").head.getLong(0) == 18)
    // after compact() the table takes the copy-on-write rewrite again
    cat.compact("db", "nation", 1)
    spark.sql("UPDATE morsql.db.nation SET n_name = 'Y' WHERE n_nationkey = 10")
    assert(spark.sql(
      "SELECT count(*) AS c FROM morsql.db.nation WHERE n_name = 'Y'").head.getLong(0) == 1)
  }

  test("SQL: ALIASED DELETE target stays bare and routes to the MoR path") {
    val cat = freshCatalog()
    withNation(cat)
    cat.setProperty("db", "nation", "write.delete.mode", Some("merge-on-read"))
    spark.conf.set("spark.sql.catalog.moral", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.moral.warehouse", cat.warehouse)
    val before = cat.currentSnapshot("db", "nation")
    // `DELETE FROM t x` wraps the relation in SubqueryAlias — MorReadRule
    // must still protect it (not swap in the merged read, which would break
    // the row-level planner) so the translatable delete downgrades to the
    // metadata path and lands as a position-delete commit
    spark.sql("DELETE FROM moral.db.nation x WHERE x.n_nationkey < 5")
    val after = cat.currentSnapshot("db", "nation")
    assert(after.files == before.files, "aliased SQL DELETE took the position-delete path")
    assert(after.deleteFiles.map(_.rows).sum == 5)
    // and an aliased delete over the now-LIVE deletes still routes
    spark.sql("DELETE FROM moral.db.nation AS y WHERE y.n_nationkey < 7")
    assert(spark.sql("SELECT count(*) AS c FROM moral.db.nation").head.getLong(0) == 18)
  }

  test("updateMoR: position-delete + re-insert in one commit, no candidate rewrite") {
    val cat = freshCatalog()
    withNation(cat)
    val before = cat.currentSnapshot("db", "nation")
    val snap = cat.updateMoR("db", "nation", col("n_nationkey") < 3,
      Map("n_name" -> lit("REDACTED"), "n_regionkey" -> lit(null)))
    // commit shape: ALL previous data files still present (none rewritten),
    // plus a small delta of re-inserted copies, plus a delete shard
    assert(before.files.forall(snap.files.contains))
    val delta = snap.files.filterNot(before.files.toSet)
    assert(delta.nonEmpty && snap.deleteFiles.map(_.rows).sum == 3)
    assert(snap.summary("record_count") == "25", "update keeps the row count")
    assert(snap.summary("deleted_records") == "3" && snap.summary("added_records") == "3")
    // reads: exactly one copy per key, updated where matched
    val rows = cat.readLatest("db", "nation")
      .select("n_nationkey", "n_name").as[(Int, String)].collect()
    assert(rows.length == 25)
    assert(rows.filter(_._1 < 3).forall(_._2 == "REDACTED"))
    assert(rows.count(_._2 == "REDACTED") == 3)
    // time travel: pre-update snapshot untouched
    assert(cat.readAsOf("db", "nation", before.snapshotId)
      .where(col("n_name") === "REDACTED").count() == 0)
    // changelog: 3 deletes (old values) + 3 inserts (new values)
    val ch = cat.readChangelog("db", "nation", before.snapshotId, snap.snapshotId)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(ch == Map("delete" -> 3L, "insert" -> 3L))
    // chained MoR ops stay exact: delete one of the updated rows
    val d = cat.deleteMoR("db", "nation", col("n_nationkey") === 1)
    assert(d.summary("deleted_records") == "1" && d.summary("record_count") == "24")
    assert(cat.readLatest("db", "nation").where(col("n_nationkey") === 1).count() == 0)
    // compact folds everything back to plain files
    val c = cat.compact("db", "nation", 1)
    assert(c.deleteFiles.isEmpty && c.summary("record_count") == "24")
    // no-match update is a pointer-only commit
    val noop = cat.updateMoR("db", "nation", col("n_nationkey") > 999,
      Map("n_name" -> lit("X")))
    assert(noop.summary("deleted_records") == "0" && noop.files == c.files)
    // guards: unknown column, partitioned tables work, bucketed refuse
    intercept[IllegalArgumentException] {
      cat.updateMoR("db", "nation", lit(true), Map("ghost" -> lit(1)))
    }
  }

  test("updateMoR/upsertMoR on BUCKETED tables keep the bucket invariant") {
    val cat = freshCatalog()
    val rows = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    cat.createBucketedTable("db", "bk", rows.schema, bucketCol = "k", nBuckets = 4)
    cat.appendBucketed("db", "bk", rows)
    val before = cat.currentSnapshot("db", "bk")

    // MoR update: the re-inserted copy lands in its key's bucket dir
    val up = cat.updateMoR("db", "bk", col("k") === 19L, Map("v" -> lit("x")))
    assert(before.files.forall(up.files.contains), "no data file rewritten")
    val delta = up.files.filterNot(before.files.toSet)
    assert(delta.nonEmpty && delta.forall(_.contains("__bucket=3/")),
      s"pmod(19,4)=3 — delta must land in bucket 3: $delta")
    assert(cat.readLatest("db", "bk").where(col("k") === 19L)
      .select("v").as[String].head() == "x")

    // an update that MOVES the bucket source value re-derives __bucket
    val mv = cat.updateMoR("db", "bk", col("k") === 19L, Map("k" -> lit(21L)))
    val mvDelta = mv.files.filterNot(up.files.toSet)
    assert(mvDelta.nonEmpty && mvDelta.forall(_.contains("__bucket=1/")),
      s"pmod(21,4)=1 — moved row must re-bucket: $mvDelta")
    assert(cat.readLatest("db", "bk").where(col("k") === 21L).count() == 2,
      "the moved copy joins the existing k=21 row")
    // bucket-key pruning still holds on the post-MoR snapshot
    val (cands, _) = cat.pruneFiles("db", "bk", mv.snapshotId, col("k") === 21L)
    assert(cands.nonEmpty && cands.forall(_.contains("__bucket=1/")), cands.toString)

    // MoR upsert: caller passes the VISIBLE columns (no __bucket); the
    // delta is bucketized and record_count stays exact
    val src = Seq((2L, "updated"), (999L, "inserted")).toDF("k", "v")
    val us = cat.upsertMoR("db", "bk", src, keys = Seq("k"))
    assert(us.summary("record_count") == "101")
    assert(us.files.forall(_.contains("__bucket=")), "every file stays bucket-laid")
    val usDelta = us.files.filterNot(mv.files.toSet)
    assert(usDelta.forall(f => f.contains("__bucket=2/") || f.contains("__bucket=3/")),
      s"pmod(2,4)=2, pmod(999,4)=3: $usDelta")
    assert(cat.readLatest("db", "bk").where(col("k") === 2L)
      .select("v").as[String].head() == "updated")
    assert(cat.readLatest("db", "bk").count() == 101)

    // compact folds the deletes; the layout survives and SPJ works again
    val c = cat.compact("db", "bk", 4)
    assert(c.deleteFiles.isEmpty && c.summary("record_count") == "101")
    assert(c.files.forall(_.contains("__bucket=")))
  }

  test("updateMoR on a partitioned table moves rows across partitions") {
    val cat = freshCatalog()
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    cat.createTable("db", "op", orders.schema, partitionCols = Seq("o_orderstatus"))
    cat.append("db", "op", orders)
    val total = orders.count()
    val pCount = orders.where(col("o_orderstatus") === "P").count()
    // reclassify P -> F: positions die in P dirs, copies land in F dirs
    val snap = cat.updateMoR("db", "op", col("o_orderstatus") === "P",
      Map("o_orderstatus" -> lit("F")))
    assert(snap.summary("deleted_records").toLong == pCount)
    assert(snap.summary("record_count").toLong == total)
    assert(cat.readLatest("db", "op").where(col("o_orderstatus") === "P").count() == 0)
    assert(cat.readLatest("db", "op").where(col("o_orderstatus") === "F").count() ==
      orders.where(col("o_orderstatus").isin("F", "P")).count())
    assert(snap.files.exists(f => f.contains("o_orderstatus=F") &&
      f.startsWith(s"data/s${snap.snapshotId}/")), "copies land hive-laid under the new value")
  }

  test("merged SQL plan shape: pushdown reaches the merged scan, no join, no broadcast") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    cat.deleteMoREq("db", "nation", Seq(12).toDF("n_nationkey"))
    spark.conf.set("spark.sql.catalog.morplan", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.morplan.warehouse", cat.warehouse)
    val df = spark.sql("SELECT n_name FROM morplan.db.nation WHERE n_nationkey >= 10")
    val phys = df.queryExecution.executedPlan.toString
    // the user predicate must reach the file scan as a pushed filter (the
    // relation swap happens at ANALYSIS time precisely so the optimizer
    // can still push into the merged scan)
    assert(phys.contains("GreaterThanOrEqual(n_nationkey,10)"),
      s"predicate not pushed:\n$phys")
    // both delete kinds apply inside the scan's readers: the merge adds
    // no anti join and no broadcast
    assert(!phys.contains("LeftAnti"), s"merge still anti-joins:\n$phys")
    assert(!phys.contains("BroadcastHashJoin") && !phys.contains("BroadcastExchange"),
      s"merge still broadcasts:\n$phys")
    assert(df.count() == 14)
    // clean scan shortcut: after compact there is no merge at all
    cat.compact("db", "nation", 1)
    val phys2 = spark.sql("SELECT n_name FROM morplan.db.nation WHERE n_nationkey >= 10")
      .queryExecution.executedPlan.toString
    assert(!phys2.contains("LeftAnti") && !phys2.contains("merge-on-read"),
      s"compacted table still pays the merge:\n$phys2")
  }

  /** Spark jobs `body` submits. */
  private def jobsOf(body: => Unit): Int = SparkJobs.counted(spark)(body)._2

  test("reads over live position and equality deletes run no more jobs than over a compacted copy (counter gate)") {
    val cat = freshCatalog()
    for (t <- Seq("live", "flat")) {
      cat.createTable("db", t, nation.schema)
      cat.append("db", t, nation)
      cat.deleteMoR("db", t, col("n_nationkey") < 5)
      cat.deleteMoREq("db", t, Seq(12, 17).toDF("n_nationkey"))
    }
    cat.compact("db", "flat", 1)
    assert(cat.currentSnapshot("db", "live").deleteFiles.map(_.isPositional).toSet ==
      Set(true, false))
    assert(cat.currentSnapshot("db", "flat").deleteFiles.isEmpty)
    // first read of the equality history backfills its exact count (a
    // commit of its own); the gate measures the reads after it
    assert(cat.readLatest("db", "live").count() == 18)
    def jobsOfRead(read: String => org.apache.spark.sql.DataFrame, t: String): (Int, Seq[Int]) = {
      val df = read(t)
      var keys = Seq.empty[Int]
      val n = jobsOf { keys = df.select("n_nationkey").as[Int].collect().sorted.toSeq }
      (n, keys)
    }
    val reads: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "readLatest" -> (t => cat.readLatest("db", t)),
      "readAsOf" -> (t => cat.readAsOf("db", t, cat.currentSnapshot("db", t).snapshotId)),
      "readWhere" -> (t => cat.readWhere("db", t, cat.currentSnapshot("db", t).snapshotId,
        col("n_nationkey") >= 3)))
    for ((name, read) <- reads) {
      val (live, liveKeys) = jobsOfRead(read, "live")
      val (flat, flatKeys) = jobsOfRead(read, "flat")
      info(s"$name: $live jobs over live deletes, $flat compacted")
      assert(liveKeys == flatKeys, name)
      assert(live <= flat, s"$name: $live jobs over live deletes vs $flat compacted")
    }
  }

  test("a library read over position and equality deletes builds its merged scan once per executed plan") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    cat.deleteMoREq("db", "nation", Seq(12, 17).toDF("n_nationkey"))
    assert(cat.readLatest("db", "nation").count() == 18) // backfills the eq count first
    val id = cat.currentSnapshot("db", "nation").snapshotId
    val builds = graft.catalog.spark.MorScanMerge.builds
    builds.set(0)
    val df = cat.readWhere("db", "nation", id, col("n_nationkey") >= 3)
    assert(builds.get() == 0, "building the frame plans no scan")
    assert(df.collect().length == 18)
    assert(builds.get() == 1, s"one executed plan built the merged scan ${builds.get()} times")
    assert(df.count() == 18)
    assert(builds.get() == 2, s"two executed plans built the merged scan ${builds.get()} times")
  }

  test("convert_equality_deletes submits no more Spark jobs than the mask-join conversion (15)") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") === 20)
    cat.deleteMoREq("db", "nation", Seq(3, 7, 20).toDF("n_nationkey"))
    cat.append("db", "nation", nation.where(col("n_nationkey") === 3))
    cat.deleteMoREq("db", "nation", Seq(9).toDF("n_nationkey"))
    val jobs = jobsOf { assert(cat.convertEqualityDeletes("db", "nation").isDefined) }
    info(s"convertEqualityDeletes: $jobs Spark jobs")
    // 3 since delete coverage comes from footers first
    assert(jobs <= 3, s"$jobs jobs; the mask-join conversion took 15")
  }

  /** One key type of the equality-delete matrix: `data` (an `id` column
    * plus the key columns) commits to a plain and a bucketed table, the
    * same `keys` rows delete from both, and each read must equal a plain
    * Spark null-safe left_anti join. */
  private def eqTypeCase(name: String, data: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], keyWhere: String, extraKeys: Seq[org.apache.spark.sql.Row] = Nil): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_eqtype_").toString
    val cat = new SnapshotCatalog(spark, dir)
    val rows = data.collect().toSeq
    val local = spark.createDataFrame(rows.asJava, data.schema)
    val keySchema = org.apache.spark.sql.types.StructType(keyCols.map(data.schema(_)))
    val keyRows = (data.where(keyWhere).select(keyCols.map(col): _*).collect().toSeq ++
      extraKeys)
    def keys = spark.createDataFrame(keyRows.asJava, keySchema)
    cat.createTable("db", "p", data.schema)
    cat.append("db", "p", local)
    cat.createBucketedTable("db", "b", data.schema, bucketCol = "id", nBuckets = 2)
    cat.appendBucketed("db", "b", local)
    cat.deleteMoREq("db", "p", keys)
    cat.deleteMoREq("db", "b", keys)
    val k = keys
    val expect = local.join(k, keyCols.map(c => local(c) <=> k(c)).reduce(_ && _), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    assert(expect.size < rows.size && expect.nonEmpty, s"$name: the case must delete some rows")
    assert(cat.readLatest("db", "p").select("id").as[Long].collect().sorted.toSeq == expect,
      s"$name: library read")
    // a session caches a catalog by name: one name per warehouse
    val catName = s"eqty${dir.hashCode.abs}"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", dir)
    val q = spark.sql(s"SELECT id FROM $catName.db.b")
    assert(!q.queryExecution.executedPlan.toString.contains("LeftAnti"), s"$name: in-scan merge")
    assert(q.as[Long].collect().sorted.toSeq == expect, s"$name: bucketed SQL scan")
  }

  /** The equality-key type matrix: (name, data with an `id` column and
    * the key columns, key columns, the rows whose keys delete). */
  private def eqTypeMatrix: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String], String)] = {
    val base = spark.range(0, 40).withColumn("m", col("id") % 7)
    def typed(expr: String) = base.selectExpr("id", s"CASE WHEN m = 6 THEN NULL ELSE $expr END AS k")
    // -0.0 and 0.0 are one key; NaN matches NaN (Spark's join-key
    // normalization — the <=> an equality delete means)
    val dbl = base.selectExpr("id", "CASE m WHEN 0 THEN 0.0D WHEN 1 THEN -0.0D " +
      "WHEN 2 THEN double('NaN') WHEN 3 THEN 1.5D WHEN 4 THEN -2.5D ELSE NULL END AS k")
    Seq(
      ("date", typed("date_add(DATE'2020-02-27', cast(m AS INT))"), Seq("k"), "m IN (1, 3)"),
      ("timestamp", typed("timestamp_seconds(m * 3600 + 1)"), Seq("k"), "m IN (0, 6)"),
      ("decimal(10,2)", typed("cast(m * 1.25 AS DECIMAL(10,2))"), Seq("k"), "m = 2"),
      ("decimal(38,6)",
        typed("cast(concat(cast(m AS STRING), '2345678901234567890123.456789') AS DECIMAL(38,6))"),
        Seq("k"), "m IN (4, 5)"),
      ("boolean", typed("m % 2 = 0"), Seq("k"), "m = 1"),
      ("binary", typed("cast(cast(m AS STRING) AS BINARY)"), Seq("k"), "m IN (0, 6)"),
      ("double -0.0", dbl, Seq("k"), "m = 1"),
      ("double NaN", dbl, Seq("k"), "m = 2"),
      ("composite with nulls",
        base.selectExpr("id", "CASE WHEN m < 2 THEN NULL ELSE cast(m % 3 AS INT) END AS a",
          "CASE WHEN m IN (2, 5) THEN NULL ELSE concat('s', cast(m % 2 AS STRING)) END AS b"),
        Seq("a", "b"), "m IN (0, 2, 4)"))
  }

  test("equality keys of every type match in the reader like a null-safe anti join") {
    for ((name, data, keyCols, keyWhere) <- eqTypeMatrix) eqTypeCase(name, data, keyCols, keyWhere)
  }

  test("convert_equality_deletes over every key type keeps the visible rows (null-safe anti join)") {
    import scala.jdk.CollectionConverters._
    for ((name, data, keyCols, keyWhere) <- eqTypeMatrix) {
      val cat = new SnapshotCatalog(spark, Files.createTempDirectory("graft_eqconv_").toString)
      val local = spark.createDataFrame(data.collect().toSeq.asJava, data.schema)
      val keys = spark.createDataFrame(
        data.where(keyWhere).select(keyCols.map(col): _*).collect().toSeq.asJava,
        org.apache.spark.sql.types.StructType(keyCols.map(data.schema(_))))
      cat.createTable("db", "p", data.schema)
      cat.append("db", "p", local.repartition(2))
      cat.deleteMoR("db", "p", col("id") === 5L) // a positional shard beside the eq one
      cat.deleteMoREq("db", "p", keys)
      val expect = local.where(col("id") =!= 5L)
        .join(keys, keyCols.map(c => local(c) <=> keys(c)).reduce(_ && _), "left_anti")
        .select("id").as[Long].collect().sorted.toSeq
      def visible = cat.readLatest("db", "p").select("id").as[Long].collect().sorted.toSeq
      assert(visible == expect, s"$name: before conversion")
      val snap = cat.convertEqualityDeletes("db", "p").get
      assert(snap.deleteFiles.forall(_.isPositional), s"$name: eq shards remain")
      assert(visible == expect, s"$name: after conversion")
      assert(snap.summary("record_count").toLong == expect.size, s"$name: record_count")
    }
  }

  test("convert_equality_deletes applies every shard of a key set past 64 shards") {
    val cat = freshCatalog()
    val schema = Seq((0L, "x")).toDF("k", "v").schema
    cat.createTable("db", "many", schema)
    cat.append("db", "many", (0L until 100L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1))
    cat.append("db", "many", (100L until 200L).map(k => (k, s"b$k")).toDF("k", "v").coalesce(1))
    // 70 single-key equality commits on one key set: shards 65..70 sit
    // past the old 64-shard chunk boundary
    val dead = (0L until 70L).map(i => i * 3 % 200)
    dead.foreach(k => cat.deleteMoREq("db", "many", Seq(k).toDF("k")))
    assert(cat.currentSnapshot("db", "many").deleteFiles.count(!_.isPositional) == 70)
    val expect = (0L until 200L).filterNot(dead.toSet)
    def visible = cat.readLatest("db", "many").select("k").as[Long].collect().sorted.toSeq
    assert(visible == expect)
    val snap = cat.convertEqualityDeletes("db", "many").get
    assert(snap.summary("converted_delete_files").toInt == 70)
    assert(snap.deleteFiles.forall(_.isPositional))
    assert(snap.deleteFiles.map(_.covers.values.sum).sum == 70)
    assert(visible == expect)
    assert(snap.summary("record_count").toLong == expect.size)
  }

  test("bucketed table: library MoR delete merges across __bucket dirs") {
    val cat = freshCatalog()
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    cat.createBucketedTable("db", "ob", orders.schema, bucketCol = "o_custkey", nBuckets = 4)
    cat.appendBucketed("db", "ob", orders)
    val total = orders.count()
    val dead = orders.where(col("o_orderkey") % 3 === 0).count()
    val snap = cat.deleteMoR("db", "ob", col("o_orderkey") % 3 === 0)
    assert(snap.files == cat.snapshotAt("db", "ob", snap.snapshotId - 1).files)
    assert(snap.summary("record_count").toLong == total - dead)
    assert(cat.readLatest("db", "ob").count() == total - dead)
    assert(cat.readLatest("db", "ob").where(col("o_orderkey") % 3 === 0).count() == 0)
  }

  test("bucketed table: SQL read merges IN-SCAN (reader-level, value-exact, pruned)") {
    // the reader-level merge path (MorScanMerge): SQL reads of a bucketed
    // table with live position deletes keep the single key-grouped
    // BatchScan (no logical anti-join rewrite) and covered files drop dead
    // positions inside the partition reader. Values must be exact across
    // multi-dir file lists, splits of covered/clean files, pruning, and
    // reader-option time travel.
    val dir = Files.createTempDirectory("graft_morscan_").toString
    val cat = new SnapshotCatalog(spark, dir)
    spark.conf.set("spark.sql.catalog.morsc", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.morsc.warehouse", dir)
    val rows = (1L to 500L).map(k => (k, k % 97, s"v$k")).toDF("k", "grp", "v")
    cat.createBucketedTable("db", "sb", rows.schema, bucketCol = "k", nBuckets = 4)
    cat.appendBucketed("db", "sb", rows)
    cat.appendBucketed("db", "sb",
      (501L to 600L).map(k => (k, k % 97, s"v$k")).toDF("k", "grp", "v"))
    val before = cat.currentSnapshot("db", "sb")
    cat.deleteMoR("db", "sb", col("k") % 7 === 0) // kills across both dirs
    val after = cat.currentSnapshot("db", "sb")
    assert(after.files == before.files, "position delete adds no data files")

    val expect = (1L to 600L).filterNot(_ % 7 == 0)
    // the plan stays ONE key-grouped batch scan — no Union, no anti-join
    val q = spark.sql("SELECT k FROM morsc.db.sb")
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1 && scans.head.scan.description().contains("bucketed("),
      s"expected the bucketed V2 scan, got:\n${q.queryExecution.executedPlan.toString.take(800)}")
    // r7: the merged scan stays COLUMNAR — dead ordinals filter inside the
    // ColumnarBatch through selection vectors, so a live delete no longer
    // de-vectorizes the whole scan until compact()
    assert(scans.head.supportsColumnar,
      "merged bucketed scan must keep the columnar handoff under live deletes")
    assert(q.as[Long].collect().sorted.toSeq == expect)
    // pruning: a bucket-key equality still reads one bucket's files and
    // merges exactly (21 % 7 == 0 -> dead; 22 survives)
    assert(spark.sql("SELECT count(*) AS n FROM morsc.db.sb WHERE k = 21").head.getLong(0) == 0)
    assert(spark.sql("SELECT v FROM morsc.db.sb WHERE k = 22").head.getString(0) == "v22")
    // projection narrower than the delete's needs: column pruning holds
    assert(spark.sql("SELECT sum(grp) AS s FROM morsc.db.sb").head.getLong(0) ==
      expect.map(_ % 97).sum)
    // reader-option time travel: pre-delete snapshot reads unmerged
    assert(spark.read.option("snapshot-id", before.snapshotId.toString)
      .table("morsc.db.sb").count() == 600)
    // post-delete snapshot id resolves the merged read
    assert(spark.read.option("snapshot-id", after.snapshotId.toString)
      .table("morsc.db.sb").count() == expect.size.toLong)
  }

  test("bucketed table: EQUALITY deletes merge in-scan; SPJ and columnar survive") {
    val dir = Files.createTempDirectory("graft_eqscan_").toString
    val cat = new SnapshotCatalog(spark, dir)
    spark.conf.set("spark.sql.catalog.eqsc", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.eqsc.warehouse", dir)
    val rows = (1L to 300L).map(k => (k, k % 17, s"v$k")).toDF("k", "grp", "v")
    cat.createBucketedTable("db", "eb", rows.schema, bucketCol = "k", nBuckets = 4)
    cat.appendBucketed("db", "eb", rows)
    // stacked MIXED deletes: an equality key frame (incl. a NULL key — it
    // must match nothing here, rows have no null keys) and a positional
    // delete, both live at once
    cat.deleteMoREq("db", "eb",
      Seq(Some(3L), Some(7L), Some(250L), None).toDF("k"))
    cat.deleteMoR("db", "eb", col("k") % 100 === 0)
    val expect = (1L to 300L).filterNot(k => Set(3L, 7L, 250L)(k) || k % 100 == 0)

    // the equivalence oracle: the SQL in-scan merge must agree with the
    // library's logical merge exactly
    val lib = cat.readLatest("db", "eb").select("k").as[Long].collect().sorted.toSeq
    assert(lib == expect)
    val q = spark.sql("SELECT k FROM eqsc.db.eb")
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1 && scans.head.scan.description().contains("bucketed("),
      s"expected ONE bucketed V2 scan (in-scan eq merge), got:\n" +
        q.queryExecution.executedPlan.toString.take(800))
    assert(scans.head.supportsColumnar, "eq-merged scan must stay columnar")
    assert(q.as[Long].collect().sorted.toSeq == expect)
    // projection that prunes the key column away: the merge force-includes
    // it into the sub-scan and still filters exactly
    assert(spark.sql("SELECT sum(grp) AS s FROM eqsc.db.eb").head.getLong(0) ==
      expect.map(_ % 17).sum)
    // SPJ against a co-bucketed dim keeps zero exchanges over the merged read
    val dims = (1L to 50L).map(k => (k, s"d$k")).toDF("k", "dv")
    cat.createBucketedTable("db", "ed", dims.schema, bucketCol = "k", nBuckets = 4)
    cat.appendBucketed("db", "ed", dims)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.sql(
        "SELECT f.k, d.dv FROM eqsc.db.eb f JOIN eqsc.db.ed d ON f.k = d.k")
      val got = joined.as[(Long, String)].collect().map(_._1).sorted.toSeq
      assert(got == expect.filter(_ <= 50L), got.toString)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, "SPJ must survive live equality deletes:\n" +
        joined.queryExecution.executedPlan.toString.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // a MULTI-column (composite-key) equality delete merges in-scan too
    // (r8): the plan stays the single columnar bucketed scan, and a tuple
    // whose second component mismatches must kill nothing (tuple-wise
    // matching, not per-column)
    cat.deleteMoREq("db", "eb",
      Seq((5L, 5L), (9L, 999L)).toDF("k", "grp")) // 9's grp is 9 -> no match
    val expect2 = expect.filterNot(_ == 5L)
    val q2 = spark.sql("SELECT k FROM eqsc.db.eb")
    val scans2 = q2.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans2.size == 1 && scans2.head.scan.description().contains("bucketed("),
      s"multi-col eq delete must stay in-scan:\n" +
        q2.queryExecution.executedPlan.toString.take(800))
    assert(scans2.head.supportsColumnar, "multi-col eq merge must stay columnar")
    assert(q2.as[Long].collect().sorted.toSeq == expect2)
    assert(cat.readLatest("db", "eb").select("k").as[Long].collect().sorted.toSeq
      == expect2)
    // SPJ stays exchange-free with composite-key eq deletes live — the
    // r8 point: (tenant_id, row_id)-keyed CDC must not re-shuffle the
    // bucketed fact scans the in-scan merge protects
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined2 = spark.sql(
        "SELECT f.k, d.dv FROM eqsc.db.eb f JOIN eqsc.db.ed d ON f.k = d.k")
      assert(joined2.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "SPJ must survive live multi-column equality deletes")
      assert(joined2.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
        expect2.filter(_ <= 50L))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // randomized equivalence: alternating single- and composite-key
    // frames, SQL in-scan == library logical path
    val rng = new scala.util.Random(42)
    cat.compact("db", "eb", 2) // reset to a clean base
    var alive = expect2.toSet
    (1 to 4).foreach { i =>
      if (i % 2 == 1) {
        val kill = Seq.fill(8)(rng.between(1L, 301L)).distinct
        cat.deleteMoREq("db", "eb", kill.toDF("k"))
        alive = alive -- kill
      } else {
        // half real (k, k%17) tuples, half mismatched (kill nothing)
        val ks = Seq.fill(8)(rng.between(1L, 301L)).distinct
        val (real, decoy) = ks.splitAt(ks.size / 2)
        cat.deleteMoREq("db", "eb",
          (real.map(k => (k, k % 17)) ++ decoy.map(k => (k, k % 17 + 100)))
            .toDF("k", "grp"))
        alive = alive -- real
      }
      val sqlRead = spark.sql("SELECT k FROM eqsc.db.eb").as[Long].collect().sorted.toSeq
      val libRead = cat.readLatest("db", "eb").select("k").as[Long].collect().sorted.toSeq
      assert(sqlRead == libRead, "in-scan eq merge diverged from the logical path")
      assert(sqlRead == alive.toSeq.sorted, sqlRead.take(10).toString)
    }
  }

  test("upsertMoR: matched keys replace via positions, new keys insert, no table rewrite") {
    val cat = freshCatalog()
    withNation(cat) // keys 0..24
    val before = cat.currentSnapshot("db", "nation")
    val source = nation.where(col("n_nationkey") >= 20)
      .withColumn("n_name", lit("UPD"))
      .unionByName(nation.limit(3)
        .withColumn("n_nationkey", col("n_nationkey") + 100))
    val snap = cat.upsertMoR("db", "nation", source, keys = Seq("n_nationkey"))
    // commit shape: every previous data file survives; delta + delete shard
    assert(before.files.forall(snap.files.contains), "upsertMoR must not rewrite")
    assert(snap.summary("deleted_records") == "5" && snap.summary("added_records") == "8")
    assert(snap.summary("record_count") == "28")
    val rows = cat.readLatest("db", "nation")
      .select("n_nationkey", "n_name").as[(Int, String)].collect()
    assert(rows.length == 28)
    assert(rows.count(_._2 == "UPD") == 5)
    assert(rows.filter(_._1 >= 100).map(_._1).sorted.toSeq == Seq(100, 101, 102))
    assert(rows.groupBy(_._1).forall(_._2.length == 1), "exactly one row per key")
    // pure-insert merge on a compacted table FOLDS bounds (inserted keys
    // may extend them; stale-narrow bounds would be served as exact)
    cat.compact("db", "nation", 1)
    val ins = cat.upsertMoR("db", "nation",
      nation.limit(1).withColumn("n_nationkey", col("n_nationkey") + 500),
      keys = Seq("n_nationkey"))
    assert(ins.summary("deleted_records") == "0")
    assert(ins.summary("max.n_nationkey") == "500", s"got ${ins.summary.get("max.n_nationkey")}")
    assert(cat.readLatest("db", "nation").count() == 29)
  }

  /** Bytes Hadoop has counted as written through `scheme`, every thread. */
  @annotation.nowarn("cat=deprecation")
  private def bytesWritten(scheme: String): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == scheme).map(_.getBytesWritten).sum
  }

  test("the graft write scheme lays out files, .crc sidecars and modes like file:") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import scala.jdk.CollectionConverters._
    freshCatalog() // a catalog registers the scheme
    val conf = spark.sparkContext.hadoopConfiguration
    def layout(fs: FileSystem): Seq[(String, String)] = {
      val dir = Files.createTempDirectory("graft fs ")
      val out = fs.create(new HPath(fs.getUri.getScheme, null, dir.resolve("a/b/f").toString))
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(fs.mkdirs(new HPath(fs.getUri.getScheme, null, dir.resolve("d/e").toString)))
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
        .toSeq.sorted
      finally walk.close()
    }
    val graftFs = FileSystem.get(java.net.URI.create(s"${GraftLocalFileSystem.Scheme}:///"), conf)
    assert(graftFs.isInstanceOf[GraftLocalFileSystem])
    val stock = layout(FileSystem.getLocal(conf))
    assert(stock.map(_._1).contains("a/b/.f.crc"), s"stock layout: $stock")
    assert(layout(graftFs) == stock)
  }

  test("graft's Spark writes go through its scheme, none through file:") {
    val cat = freshCatalog()
    val (file0, graft0) = (bytesWritten("file"), bytesWritten(GraftLocalFileSystem.Scheme))
    withNation(cat) // keys 0..24
    cat.upsertMoR("db", "nation", nation.where(col("n_nationkey") >= 20)
      .withColumn("n_name", lit("UPD")), keys = Seq("n_nationkey"))
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)
    cat.compact("db", "nation", 1)
    assert(bytesWritten("file") == file0, "a Spark write went through file:")
    assert(bytesWritten(GraftLocalFileSystem.Scheme) > graft0)
    // and the warehouse, whose path holds a space, reads back
    val rows = cat.readLatest("db", "nation").select("n_nationkey", "n_name")
      .as[(Int, String)].collect()
    assert(rows.map(_._1).sorted.toSeq == (5 to 24))
    assert(rows.count(_._2 == "UPD") == 5)
  }

  test("SQL UPDATE, DELETE and MERGE on a merge-on-read table write nothing through file:") {
    val cat = freshCatalog()
    withNation(cat) // keys 0..24
    cat.deleteMoR("db", "nation", col("n_nationkey") < 3) // live deletes: SQL DML writes deltas
    spark.conf.set("spark.sql.catalog.mordml", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.mordml.warehouse", cat.warehouse)
    val (file0, graft0) = (bytesWritten("file"), bytesWritten(GraftLocalFileSystem.Scheme))
    val live = cat.currentSnapshot("db", "nation").files
    def committed(op: String): Unit = {
      val s = cat.currentSnapshot("db", "nation")
      // a position delta: no data file rewritten
      assert(s.operation == op && live.forall(s.files.contains), s"${s.operation}: ${s.files}")
    }
    spark.sql("UPDATE mordml.db.nation SET n_name = lower(n_name) WHERE n_nationkey % 4 = 1")
    committed("update")
    spark.sql("DELETE FROM mordml.db.nation WHERE n_name RLIKE '^[AEe]'")
    committed("delete")
    spark.sql(
      """MERGE INTO mordml.db.nation t
        |USING (SELECT * FROM VALUES (6, 'SIX', 0), (2, 'TWO', 1), (99, 'NEW', 2)
        |  AS s(n_nationkey, n_name, n_regionkey)) s
        |ON t.n_nationkey = s.n_nationkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    committed("merge")
    assert(bytesWritten("file") == file0, "a SQL delta write went through file:")
    assert(bytesWritten(GraftLocalFileSystem.Scheme) > graft0)
    // plain-Spark oracle of the three statements
    val updated = nation.where(col("n_nationkey") >= 3).withColumn("n_name",
      when(col("n_nationkey") % 4 === 1, lower(col("n_name"))).otherwise(col("n_name")))
    val deleted = updated.where(!col("n_name").rlike("^[AEe]"))
    val src = Seq((6, "SIX", 0), (2, "TWO", 1), (99, "NEW", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val want = deleted.join(src.select("n_nationkey"), Seq("n_nationkey"), "left_anti")
      .unionByName(src)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("n_nationkey", "n_name", "n_regionkey").as[(Int, String, Int)].collect().sorted.toSeq
    assert(sorted(cat.readLatest("db", "nation")) == sorted(want))
    assert(sorted(spark.table("mordml.db.nation")) == sorted(want))
  }

  test("equality delete: zero-corpus-scan commit, appends-after untouched, honest unknowns") {
    val cat = freshCatalog()
    withNation(cat) // keys 0..24
    val before = cat.currentSnapshot("db", "nation")
    val snap = cat.deleteMoREq("db", "nation",
      Seq(0, 1, 2).toDF("n_nationkey"))
    // commit shape: no data files touched, one eq-delete file recorded
    assert(snap.files == before.files)
    assert(snap.deleteFiles.exists(d => !d.isPositional && d.eqTuples == 3))
    // exactness surrendered honestly: count unknown until materialized
    assert(snap.recordCount == -1L)
    assert(!snap.summary.contains("min.n_nationkey"))
    // reads merge by key
    assert(cat.readLatest("db", "nation").count() == 22)
    assert(cat.readLatest("db", "nation").where(col("n_nationkey") < 3).count() == 0)
    // r6: the first merged read BACKFILLED the exact count into the log —
    // snapshots metadata is exact again (so metadata-served count(*)
    // works) and the eq entry's deleted_records is repaired from the
    // known previous count
    assert(cat.recordCount("db", "nation", snap.snapshotId) == 22L)
    assert(cat.currentSnapshot("db", "nation").summary("deleted_records") == "3")
    // rows appended AFTER the eq delete are untouched even with dead keys
    cat.append("db", "nation", nation.limit(2)) // re-add keys 0,1 as new rows
    val counts = cat.readLatest("db", "nation").groupBy("n_nationkey").count()
      .as[(Int, Long)].collect().toMap
    assert(counts(0) == 1 && counts(1) == 1 && !counts.contains(2))
    assert(cat.readLatest("db", "nation").count() == 24)
    // stacking: a position delete over the eq-merged view stays exact
    val pos = cat.deleteMoR("db", "nation", col("n_nationkey") === 3)
    assert(pos.summary("deleted_records") == "1")
    assert(cat.readLatest("db", "nation").count() == 23)
    // compact materializes everything and restores exact metadata
    val c = cat.compact("db", "nation", 1)
    assert(c.deleteFiles.isEmpty && c.recordCount == 23L)
    assert(c.summary("min.n_nationkey") == "0")
    // SQL reads merge too (plugin path; count is an honest scan)
    spark.conf.set("spark.sql.catalog.eqcat", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.eqcat.warehouse", cat.warehouse)
    assert(spark.sql("SELECT count(*) AS c FROM eqcat.db.nation").head.getLong(0) == 23)
    // guards: unknown column, type mismatch
    intercept[IllegalArgumentException] {
      cat.deleteMoREq("db", "nation", Seq(1).toDF("ghost"))
    }
    intercept[IllegalArgumentException] {
      cat.deleteMoREq("db", "nation", Seq("x").toDF("n_nationkey"))
    }
    // empty key frame: pointer-only no-op
    val noop = cat.deleteMoREq("db", "nation",
      Seq.empty[Int].toDF("n_nationkey"))
    assert(noop.deleteFiles.isEmpty && noop.recordCount == 23L)
  }

  test("equality delete: count backfill races safely with commits (CommitMutex)") {
    val cat = freshCatalog()
    withNation(cat) // 25 rows
    val eq = cat.deleteMoREq("db", "nation", Seq(0, 1, 2).toDF("n_nationkey"))
    assert(eq.recordCount == -1L)
    // backfill and an append race: the write-back targets the eq snapshot
    // id under the table lock and forward-propagates, so EITHER ordering
    // converges to the same exact chain
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(cat.backfillEqCount("db", "nation", eq.snapshotId))
    val f2 = Future(cat.append("db", "nation", nation.limit(4)))
    assert(Await.result(f1, 120.seconds) == 22L)
    Await.result(f2, 120.seconds)
    assert(cat.recordCount("db", "nation", eq.snapshotId) == 22L)
    // the append's entry is exact whichever side won the lock first
    // (computed from a repaired prev, or repaired by the propagation);
    // a second read settles any -1 the race left behind
    cat.readLatest("db", "nation").count()
    assert(cat.currentSnapshot("db", "nation").recordCount == 26L)
    // double-backfill is idempotent
    assert(cat.backfillEqCount("db", "nation", eq.snapshotId) == 22L)
    assert(cat.readLatest("db", "nation").count() == 26)
  }

  test("equality delete: null-safe key matching and multi-column keys") {
    val cat = freshCatalog()
    val df = Seq((Some(1L), "a", "x"), (None, "b", "y"), (Some(3L), "a", "z"),
      (Some(4L), "c", "w")).toDF("id", "grp", "v")
    cat.createTable("db", "e", df.schema)
    cat.append("db", "e", df)
    // null key tuple kills the null-keyed row (Iceberg null-safe equality)
    cat.deleteMoREq("db", "e", Seq[Option[Long]](None).toDF("id"))
    assert(cat.readLatest("db", "e").count() == 3)
    assert(cat.readLatest("db", "e").where(col("id").isNull).count() == 0)
    // multi-column key: only the exact (id, grp) pair dies
    cat.deleteMoREq("db", "e", Seq((3L, "a")).toDF("id", "grp"))
    val left = cat.readLatest("db", "e").select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(1L, 4L))
  }

  test("equality delete: a local key frame commits what the same keys commit distributed") {
    val cat = freshCatalog()
    val df = ((0L until 30L).map(k => (Option(k), s"g${k % 3}", k * 2)) :+
      ((None: Option[Long], "g0", -1L))).toDF("k", "g", "v")
    cat.createTable("db", "t", df.schema)
    // three appends of one file each, with disjoint k ranges, so a ranged
    // key set scopes its coverage; `files(i)` is the table after append i
    val files = Seq(col("k") < 10, col("k").between(10, 19), col("k") >= 20 || col("k").isNull)
      .map(c => cat.append("db", "t", df.where(c).coalesce(1)).files.toSet)
    val base = cat.currentSnapshotId("db", "t")
    def eqFiles(s: Snapshot) =
      s.deleteFiles.filterNot(_.isPositional).map(d => (d.covers, d.eqCols, d.eqTuples))
    def visible(s: Snapshot) =
      cat.readAsOf("db", "t", s.snapshotId).collect().map(_.toString).sorted.toSeq
    val cases = Seq(
      "one column, duplicates" -> Seq(3L, 3L, 12L).toDF("k"),
      "one column, duplicates and a null" -> Seq(Some(3L), None, Some(3L)).toDF("k"),
      "two columns, duplicates and a null" ->
        Seq((Option(4L), "g1"), (Option(4L), "g1"), (None, "g0"), (Option(5L), "g0"))
          .toDF("k", "g"))
    for ((label, keys) <- cases) {
      assert(keys.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], label)
      val local = cat.deleteMoREq("db", "t", keys)
      cat.rollback("db", "t", base)
      val distributed = cat.deleteMoREq("db", "t", keys.repartition(2))
      cat.rollback("db", "t", base)
      assert(eqFiles(local).nonEmpty, label)
      assert(eqFiles(local) == eqFiles(distributed), label)
      assert(local.summary("delete_files") == distributed.summary("delete_files"), label)
      assert(visible(local) == visible(distributed), label)
    }
    // the ranged key set {3, 12} covers the first two files only
    assert(eqFiles(cat.deleteMoREq("db", "t", Seq(3L, 12L).toDF("k"))).head._1.keySet ==
      files(1))
    cat.rollback("db", "t", base)
    // an empty local frame is the pointer no-op: no delete file
    val noop = cat.deleteMoREq("db", "t", Seq.empty[Long].toDF("k"))
    assert(noop.deleteFiles.isEmpty && noop.summary("added_records") == "0")
    assert(visible(noop).length == 31)
  }
  test("randomized: stacked MoR deletes reproduce progressive filtering, value-exact") {
    val rng = new scala.util.Random(20260813L)
    val cat = freshCatalog()
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    cat.createTable("db", "r", orders.schema)
    cat.append("db", "r", orders.repartition(3))
    var expected = orders
    (1 to 5).foreach { i =>
      val cond = rng.nextInt(3) match {
        case 0 => col("o_orderkey") % (2 + rng.nextInt(5)) === rng.nextInt(2)
        case 1 => col("o_custkey") < (rng.nextInt(800) + 100)
        case 2 => col("o_orderstatus") === Seq("O", "F", "P")(rng.nextInt(3))
      }
      cat.deleteMoR("db", "r", cond)
      expected = expected.where(!coalesce(cond, lit(false)))
      val got = cat.readLatest("db", "r")
      // value-exact, not just count-exact: the visible multiset equals the
      // progressively filtered base (exceptAll both ways is empty)
      assert(got.count() == expected.count(), s"step $i count")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"step $i rows diverged")
      assert(cat.currentSnapshot("db", "r").recordCount == expected.count())
    }
    // and the whole stack folds into one clean state
    val c = cat.compact("db", "r", 2)
    assert(c.deleteFiles.isEmpty && c.recordCount == expected.count())
  }

  test("reader-option time travel (snapshot-id) merges per effective snapshot") {
    val cat = freshCatalog()
    withNation(cat)
    val pre = cat.currentSnapshot("db", "nation").snapshotId
    val del = cat.deleteMoR("db", "nation", col("n_nationkey") < 5).snapshotId
    cat.append("db", "nation", nation.limit(2)) // current moves past the delete
    spark.conf.set("spark.sql.catalog.moropt", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.moropt.warehouse", cat.warehouse)
    // the reference's literal reader API redirects the scan; the MoR rule
    // must key the merge off the EFFECTIVE snapshot, not the table's own
    assert(spark.read.option("snapshot-id", pre.toString)
      .table("moropt.db.nation").count() == 25, "pre-delete snapshot unmerged")
    assert(spark.read.option("snapshot-id", del.toString)
      .table("moropt.db.nation").count() == 20, "delete snapshot merged")
    assert(spark.table("moropt.db.nation").count() == 22)
    // DESCRIBE-visible MoR state
    assert(spark.table("moropt.db.nation").count() == 22)
    val props = spark.sql("DESCRIBE TABLE EXTENDED moropt.db.nation")
      .where(col("col_name") === "Table Properties").select("data_type")
      .as[String].head()
    assert(props.contains("delete-files=1"), props)
    // the files metadata table inventories the delete tier (Iceberg's
    // content column): one positional delete file of 5 recorded positions
    val delTier = spark.sql("SELECT record_count FROM moropt.db.nation.files " +
      "WHERE content = 'position-deletes'").as[Long].collect()
    assert(delTier.toSeq == Seq(5L), s"got ${delTier.toSeq}")
    assert(spark.sql("SELECT count(*) AS c FROM moropt.db.nation.files " +
      "WHERE content = 'data'").head.getLong(0) > 0)
  }

  test("readIncremental serves the exact append-delta across MoR commits") {
    // pre-r6 a range containing a MoR delete refused; now the endpoint
    // file-diff rule serves added files merged under the END snapshot's
    // deletes: a row appended then deleted inside the range is never
    // served, delta UPDATEs serve post-images, true rewrites still refuse
    val cat = freshCatalog()
    withNation(cat) // snap2: 25 rows, n_nationkey 0..24
    val from = cat.currentSnapshot("db", "nation").snapshotId
    cat.deleteMoR("db", "nation", col("n_nationkey") < 5)     // snap3
    cat.append("db", "nation", nation.where(col("n_nationkey") < 3)) // snap4
    val to4 = cat.currentSnapshot("db", "nation").snapshotId
    // (2,4]: the delete covers only pre-range files -> delta = the append
    assert(cat.readIncremental("db", "nation", from, to4)
      .select("n_nationkey").as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
    // a delete of an IN-RANGE appended row is merged out of the delta
    cat.deleteMoR("db", "nation", col("n_nationkey") === 1)   // snap5 (both files)
    val to5 = cat.currentSnapshot("db", "nation").snapshotId
    assert(cat.readIncremental("db", "nation", from, to5)
      .select("n_nationkey").as[Int].collect().sorted.toSeq == Seq(0, 2))
    // an in-range MoR update serves the post-image copies
    cat.updateMoR("db", "nation", col("n_nationkey") === 2,
      Map("n_name" -> lit("ZZ")))                             // snap6
    val to6 = cat.currentSnapshot("db", "nation").snapshotId
    val got = cat.readIncremental("db", "nation", from, to6)
      .select("n_nationkey", "n_name").as[(Int, String)].collect().sortBy(_._1).toSeq
    // key 2's ORIGINAL copy died at snap3 (< 5): only the re-appended one
    // matches the update, and the delta serves its post-image
    assert(got.map(_._1) == Seq(0, 2), got.toString)
    assert(got.count(_._2 == "ZZ") == 1, got.toString)
    // r7: a compact inside the range no longer refuses — the lineage walk
    // serves the in-range appends from their ORIGINAL write-once files
    // with delete coverage frozen pre-compact: the surviving appended
    // copy of key 0 and the update's post-image of key 2, exactly the
    // "rows added in range still visible at to" contract, zero extra read
    // cost for the compact itself.
    cat.compact("db", "nation", numFiles = 1)
    val to7 = cat.currentSnapshot("db", "nation").snapshotId
    val across = cat.readIncremental("db", "nation", from, to7)
      .select("n_nationkey", "n_name").as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(across == Seq((0, "NATION_0"), (2, "ZZ")), across.toString)
    // a DELETE landing AFTER the swallowing compact targets re-homed
    // copies the walk cannot see — the exactness guard degrades to the
    // changelog's insert side (where key 0's identical re-append cancels
    // against the pre-range copy under multiset diffing)
    cat.deleteMoR("db", "nation", col("n_nationkey") === 0) // snap8
    val to8 = cat.currentSnapshot("db", "nation").snapshotId
    val guarded = cat.readIncremental("db", "nation", from, to8)
      .select("n_nationkey", "n_name").as[(Int, String)].collect().toSeq
    assert(guarded == Seq((2, "ZZ")), guarded.toString)
  }

  test("readIncremental keeps the walk when a delete after an in-range compact hits a pre-range row") {
    // the walk's taint rule: only a delete landing on the OUTPUT of a
    // compact that swallowed emitted appends leaves the walk; a delete of
    // a pre-range row in a file no such compact touched stays exact. The
    // compact also swallows the pre-range file p2, so no shard-name
    // shortcut can prove the range pure-append.
    val cat = freshCatalog()
    def rows(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    cat.createTable("db", "tw", rows(1L).schema)
    cat.append("db", "tw", rows(1L to 5L: _*))                      // 2: p1
    val from = cat.append("db", "tw", rows(50L to 55L: _*)).snapshotId // 3: p2
    cat.append("db", "tw", rows(100L, 101L))                        // 4
    cat.append("db", "tw", rows(102L))                              // 5
    assert(cat.compactWhere("db", "tw", col("id") >= 50L, numFiles = 1).isDefined) // 6
    val to = cat.deleteMoR("db", "tw", col("id") === 1L).snapshotId // 7: covers p1
    val inc = cat.readIncremental("db", "tw", from, to)
    assert(!inc.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Except]),
      "a pre-range delete must keep the lineage walk:\n" +
        inc.queryExecution.analyzed.toString.take(500))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.as[(Long, String)].collect().sorted.toSeq
    val exact = cat.readAsOf("db", "tw", to).exceptAll(cat.readAsOf("db", "tw", from))
    assert(sorted(inc) == sorted(exact))
    assert(sorted(inc).map(_._1) == Seq(100L, 101L, 102L))
  }

  test("a key re-inserted AFTER an equality delete is not retro-killed (sequence-number rule)") {
    val cat = freshCatalog()
    withNation(cat)
    // kill keys 3 and 7 by equality, then RE-INSERT key 3
    cat.deleteMoREq("db", "nation",
      Seq(3, 7).toDF("n_nationkey"))                              // snap 3
    val back = nation.where(col("n_nationkey") === 3)
    cat.append("db", "nation", back)                                // snap 4
    val keys = cat.readLatest("db", "nation")
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
    assert(keys.contains(3L), "re-inserted key must survive the older eq shard")
    assert(!keys.contains(7L))
    assert(keys.count(_ == 3L) == 1)
    // a SECOND eq delete of key 3 kills the re-inserted copy too (its
    // shard covers the new file); key 5 re-inserted afterwards survives
    cat.deleteMoREq("db", "nation",
      Seq(3, 5).toDF("n_nationkey"))                              // snap 5
    cat.append("db", "nation", nation.where(col("n_nationkey") === 5)) // snap 6
    val keys2 = cat.readLatest("db", "nation")
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
    assert(!keys2.contains(3L) && !keys2.contains(7L))
    assert(keys2.count(_ == 5L) == 1)
    // time travel: at snap 3 both 3 and 7 are gone; at snap 4 key 3 is back
    assert(!cat.readAsOf("db", "nation", 3).select(col("n_nationkey").cast("long"))
      .as[Long].collect().contains(3L))
    assert(cat.readAsOf("db", "nation", 4).select(col("n_nationkey").cast("long"))
      .as[Long].collect().contains(3L))
    // incremental/changelog stay exact across the interleaving
    val chg = cat.readChangelog("db", "nation", 2, 6)
      .select(col("_change_type"), col("n_nationkey").cast("long"))
      .as[(String, Long)].collect().sorted.toSeq
    assert(chg.count(_ == ("delete", 3L)) - chg.count(_ == ("insert", 3L)) == 1)
  }

  test("convert_equality_deletes: coverage-exact positions, re-inserted keys stay alive, counts exact") {
    val cat = freshCatalog()
    withNation(cat)
    cat.deleteMoR("db", "nation", col("n_nationkey") === 20)          // positional, snap 3
    cat.deleteMoREq("db", "nation", Seq(3, 7, 20).toDF("n_nationkey")) // eq, snap 4 (20 doubly dead)
    cat.append("db", "nation", nation.where(col("n_nationkey") === 3)) // re-insert 3, snap 5
    cat.deleteMoREq("db", "nation", Seq(9).toDF("n_nationkey"))        // eq covering snap-5 file too
    val before = cat.readLatest("db", "nation")
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq

    val snap = cat.convertEqualityDeletes("db", "nation").get
    assert(snap.summary("converted_delete_files").toInt == 2)
    assert(snap.deleteFiles.nonEmpty && snap.deleteFiles.forall(_.isPositional),
      "no equality shards may remain")
    // reads identical before/after; the re-inserted key 3 still alive
    val after = cat.readLatest("db", "nation")
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
    assert(after == before)
    assert(after.contains(3L) && !after.contains(7L) &&
      !after.contains(9L) && !after.contains(20L))
    // positional shards stay pairwise disjoint -> metadata count is exact
    assert(snap.summary("record_count").toLong == after.length.toLong)
    assert(cat.readLatest("db", "nation").count() == after.length.toLong)
    // a second convert is a no-op
    assert(cat.convertEqualityDeletes("db", "nation").isEmpty)
    // time travel to the pre-convert snapshot still serves the eq view
    assert(cat.readAsOf("db", "nation", snap.snapshotId - 1)
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq == before)
  }

  test("delete consolidation writes RANGE-SHARDED parquet, never one task (r13)") {
    // the 100-TB posture: a table-wide dead set consolidates across N
    // disjoint range shards, not through repartition(1). Force the
    // multi-shard path with a tiny per-shard target and assert >1 shard,
    // pairwise-disjoint coverage, exact reads and changelog across it.
    val cat = freshCatalog()
    spark.conf.set("graft.maintenance.deadRowsPerShard", "4")
    try {
      withNation(cat)
      val from = cat.currentSnapshot("db", "nation").snapshotId
      cat.deleteMoR("db", "nation", col("n_nationkey") < 6)            // 6 dead
      cat.deleteMoR("db", "nation", col("n_nationkey").between(10, 18)) // 9 dead
      val before = cat.readLatest("db", "nation")
        .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq

      val snap = cat.compactDeleteFiles("db", "nation").get
      val shards = snap.deleteFiles
      assert(shards.forall(_.isPositional))
      assert(shards.size > 1, s"15 dead @ 4/shard must range-shard, got ${shards.size}")
      // pairwise disjoint by range construction: per-(file,count) sums
      // equal the true dead count with no overlap
      assert(shards.map(_.covers.values.sum).sum == 15)
      assert(snap.summary("rewritten_delete_files").toInt == 2)
      assert(snap.summary("record_count").toLong == 10)
      val after = cat.readLatest("db", "nation")
        .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
      assert(after == before)
      // consolidation is changelog-invisible (row-preserving compact)
      val chg = cat.readChangelog("db", "nation", snap.snapshotId - 1, snap.snapshotId)
      assert(chg.count() == 0)
      // incremental across the whole window still serves the survivors
      assert(cat.readIncremental("db", "nation", from - 1, snap.snapshotId).count() == 10)
    } finally spark.conf.unset("graft.maintenance.deadRowsPerShard")
  }

  test("convert_equality_deletes range-shards a large dead set (r13)") {
    val cat = freshCatalog()
    spark.conf.set("graft.maintenance.deadRowsPerShard", "4")
    try {
      withNation(cat)
      cat.deleteMoREq("db", "nation",
        (0 to 12).toDF("n_nationkey"))                                  // 13 dead
      val before = cat.readLatest("db", "nation")
        .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
      val snap = cat.convertEqualityDeletes("db", "nation").get
      val shards = snap.deleteFiles
      assert(shards.forall(_.isPositional))
      assert(shards.size > 1, s"13 dead @ 4/shard must range-shard, got ${shards.size}")
      assert(shards.map(_.covers.values.sum).sum == 13)
      assert(snap.summary("record_count").toLong == 12)
      val after = cat.readLatest("db", "nation")
        .select(col("n_nationkey").cast("long")).as[Long].collect().sorted.toSeq
      assert(after == before && after.length == 12)
    } finally spark.conf.unset("graft.maintenance.deadRowsPerShard")
  }

  test("scoped rewrite_position_deletes: out-of-scope shards carry VERBATIM (r13)") {
    val cat = freshCatalog()
    val schema = Seq((0L, "x")).toDF("k", "v").schema
    cat.createTable("db", "scoped", schema)
    cat.append("db", "scoped", (0L to 9L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1))
    cat.append("db", "scoped", (100L to 109L).map(k => (k, s"b$k")).toDF("k", "v").coalesce(1))
    cat.deleteMoR("db", "scoped", col("k") === 1)    // covers the low file
    cat.deleteMoR("db", "scoped", col("k") === 2)    // covers the low file
    cat.deleteMoR("db", "scoped", col("k") === 101)  // covers the high file
    val prev = cat.currentSnapshot("db", "scoped")
    val highShards = prev.deleteFiles.filter(
      _.covers.keysIterator.exists(f => prev.fileStats(f).get("min.k").exists(_.toLong >= 100)))
    assert(highShards.size == 1)

    // scope admits only the low file (footer min/max prune): its two
    // shards fold, the high shard carries byte-identical
    val snap = cat.compactDeleteFiles("db", "scoped", Some(col("k") < 50)).get
    assert(snap.summary("rewritten_delete_files").toInt == 2)
    assert(snap.deleteFiles.map(_.path).contains(highShards.head.path),
      "out-of-scope shard must carry verbatim")
    assert(snap.deleteFiles.map(_.covers.values.sum).sum == 3)
    assert(cat.readLatest("db", "scoped").select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 9L) ++ (100L to 109L)).filterNot(Set(1L, 2L, 101L)))
    // a scope admitting only ONE shard folds nothing
    assert(cat.compactDeleteFiles("db", "scoped", Some(col("k") >= 50)).isEmpty)
  }

  test("scoped convert_equality_deletes: out-of-scope eq shards carry VERBATIM (r13)") {
    val cat = freshCatalog()
    val schema = Seq((0L, "x")).toDF("k", "v").schema
    cat.createTable("db", "eqscope", schema)
    cat.append("db", "eqscope", (0L to 9L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1))
    cat.deleteMoREq("db", "eqscope", Seq(1L).toDF("k"))   // covers low file only
    cat.append("db", "eqscope", (100L to 109L).map(k => (k, s"b$k")).toDF("k", "v").coalesce(1))
    cat.deleteMoREq("db", "eqscope", Seq(101L).toDF("k")) // covers both files
    val prev = cat.currentSnapshot("db", "eqscope")
    // eq coverage is footer-pruned at commit: each shard covers only the
    // file that can hold its key
    val lowOnly = prev.deleteFiles.filter(d => !d.isPositional &&
      d.covers.keysIterator.forall(f =>
        prev.fileStats(f).get("max.k").exists(_.toLong < 50)))
    assert(lowOnly.size == 1, prev.deleteFiles.toString)

    // scope admits only the high file: its covering shard converts
    // WHOLE, the low-only shard carries
    val snap = cat.convertEqualityDeletes("db", "eqscope", Some(col("k") >= 50)).get
    assert(snap.summary("converted_delete_files").toInt == 1)
    val (posS, eqS) = snap.deleteFiles.partition(_.isPositional)
    assert(eqS.map(_.path) == lowOnly.map(_.path), "out-of-scope eq shard carries verbatim")
    assert(posS.map(_.covers.values.sum).sum == 1) // key 101's position
    // an eq shard remains -> record_count stays honestly unknown
    assert(!snap.summary.get("record_count").exists(_.toLong >= 0))
    val keys = cat.readLatest("db", "eqscope").select("k").as[Long].collect().sorted.toSeq
    assert(keys == ((0L to 9L) ++ (100L to 109L)).filterNot(Set(1L, 101L)))
    // the unscoped follow-up retires the remaining eq debt; count exact
    val full = cat.convertEqualityDeletes("db", "eqscope").get
    assert(full.deleteFiles.forall(_.isPositional))
    assert(full.summary("record_count").toLong == 18)
    assert(cat.readLatest("db", "eqscope").count() == 18)
  }

  test("convert after a partial rewrite ignores rewritten-away covers (r13 advice fix)") {
    // carryDeleteShards keeps an eq shard if ANY covered file survives, so
    // covers can name files a compact_where already rewrote away (their
    // rows re-homed with deletes materialized). The conversion must scan
    // and record positions for LIVE files only: stale names may not even
    // exist on disk post-expire, and counting their positions would
    // understate record_count.
    val cat = freshCatalog()
    val schema = Seq((0L, "x")).toDF("k", "v").schema
    cat.createTable("db", "stale", schema)
    cat.append("db", "stale", (0L to 24L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1))
    cat.append("db", "stale", Seq((100L, "b0"), (101L, "b1")).toDF("k", "v").coalesce(1))
    cat.append("db", "stale", Seq((200L, "c0"), (201L, "c1")).toDF("k", "v").coalesce(1))
    cat.deleteMoREq("db", "stale", Seq(3L, 100L, 200L).toDF("k")) // covers all 3 files
    // partial rewrite: the two high files fold into one, deletes
    // materialized; the eq shard carries (still covers the low file)
    // with two now-dead names in its covers
    assert(cat.compactWhere("db", "stale", col("k") >= 100, numFiles = 1).isDefined)
    val mid = cat.currentSnapshot("db", "stale")
    val eqShard = mid.deleteFiles.filter(!_.isPositional)
    assert(eqShard.size == 1)
    assert(eqShard.head.covers.keysIterator.exists(f => !mid.files.contains(f)),
      "fixture must exhibit stale covers")
    // expire removes the rewritten-away parquet: the conversion must not
    // try to open it
    cat.expireSnapshots("db", "stale", keepLast = 1)

    val snap = cat.convertEqualityDeletes("db", "stale").get
    assert(snap.deleteFiles.forall(_.isPositional))
    assert(snap.deleteFiles.flatMap(_.covers.keys).toSet.subsetOf(snap.files.toSet),
      "converted coverage must name live files only")
    // 25 + 2 + 2 rows, minus eq-killed {3,100,200} = 26 — exact again
    assert(snap.summary("record_count").toLong == 26)
    assert(cat.readLatest("db", "stale").count() == 26)
    assert(cat.readLatest("db", "stale").select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 24L) ++ Seq(101L, 201L)).filterNot(_ == 3L))
  }
}
