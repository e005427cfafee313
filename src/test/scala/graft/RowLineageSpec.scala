package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog

/** Row lineage (`row.lineage=true`, the Iceberg-v3 identity model): every
  * commit claims a contiguous id range, each new file records its
  * `first_row_id`, a row's id is first_row_id + file position — and
  * REWRITES (compact/z-order/bin-pack) materialize ids physically so
  * identity survives them. */
class RowLineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(): (SnapshotCatalog, String) = {
    val wh = Files.createTempDirectory("graft_rl_").toString
    var tick = 0L
    (new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-08-02T00:00:00Z").plusSeconds(tick * 60) }), wh)
  }

  private def lineageTable(cat: SnapshotCatalog, name: String): Unit =
    cat.createTable("db", name,
      Seq((0L, "x")).toDF("k", "v").schema,
      properties = Map("row.lineage" -> "true"))

  private def ids(cat: SnapshotCatalog, name: String): Map[Long, Long] =
    cat.readWithRowIds("db", name).select("k", "_row_id")
      .as[(Long, Long)].collect().toMap

  test("ids assign per commit in contiguous ranges and persist in metadata") {
    val (cat, _) = freshCat()
    lineageTable(cat, "t")
    // deterministic single-file commits: 1 partition, sorted
    cat.append("db", "t", (0L until 5L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    cat.append("db", "t", (10L until 13L).map(k => (k, s"b$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    val got = ids(cat, "t")
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      10L -> 5L, 11L -> 6L, 12L -> 7L), got.toString)
    // the ranges are in the commit summaries; per-file first_row_id stored
    val snap = cat.currentSnapshot("db", "t")
    assert(snap.summary.get("first-row-id").contains("5"))
    assert(snap.summary.get("next-row-id").contains("8"))
    assert(snap.files.flatMap(f => snap.fileStats(f).get("first_row_id"))
      .map(_.toLong).sorted == Seq(0L, 5L))
  }

  test("identity survives compact, z-order, and bin-pack rewrites") {
    val (cat, _) = freshCat()
    cat.createTable("db", "c",
      Seq((0L, 0L, "x")).toDF("k", "n", "v").schema,
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "c", (0L until 40L).map(k => (k, k * 3 % 7, s"a$k"))
      .toDF("k", "n", "v").repartition(1).sortWithinPartitions("k"))
    cat.append("db", "c", (100L until 140L).map(k => (k, k % 5, s"b$k"))
      .toDF("k", "n", "v").repartition(1).sortWithinPartitions("k"))
    val before = cat.readWithRowIds("db", "c").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(before.size == 80 && before.values.toSet.size == 80)

    cat.compact("db", "c", numFiles = 2)
    val afterCompact = cat.readWithRowIds("db", "c").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(afterCompact == before, "compact must not re-mint row identity")
    // the rewritten files are marked, not re-assigned
    val snap = cat.currentSnapshot("db", "c")
    assert(snap.files.forall(f =>
      snap.fileStats(f).get("rid_materialized").contains("true")), snap.fileStats.toString)
    assert(snap.summary.get("next-row-id").contains("80"))

    cat.compactZOrder("db", "c", Seq("k", "n"), numFiles = 2)
    assert(cat.readWithRowIds("db", "c").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap == before, "z-order must preserve identity")

    // a post-rewrite append continues the sequence from the high-water
    cat.append("db", "c", Seq((500L, 1L, "new")).toDF("k", "n", "v"))
    val withNew = cat.readWithRowIds("db", "c").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(withNew(500L) == 80L, withNew(500L).toString)

    cat.rewriteSmallFiles("db", "c", smallBytes = 1L << 20, targetBytes = 1L << 22)
    assert(cat.readWithRowIds("db", "c").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap == withNew, "bin-pack must preserve identity")
  }

  test("MoR delete keeps survivors' ids; update/upsert PRESERVE identity (v3)") {
    val (cat, _) = freshCat()
    lineageTable(cat, "m")
    cat.append("db", "m", (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    cat.deleteMoR("db", "m", col("k") === 3L)
    val after = ids(cat, "m")
    assert(!after.contains(3L) && after.size == 9)
    assert(after(7L) == 7L, "survivors keep their ids")

    cat.upsertMoR("db", "m", Seq((7L, "UPDATED"), (50L, "NEW")).toDF("k", "v"),
      keys = Seq("k"))
    val up = ids(cat, "m")
    // Iceberg-v3 upsert split: the matched post-image INHERITS the dying
    // row's identity (it is an update), the new-key row mints fresh
    assert(up(7L) == 7L, s"matched post-image must inherit id 7: $up")
    assert(up(50L) >= 10L, s"new-key row must mint a fresh id: $up")
    assert(up.values.toSet.size == up.size, "ids stay unique")
    assert(cat.readLatest("db", "m").where(col("k") === 7L)
      .select("v").as[String].head() == "UPDATED")

    // uniqueness + density: all ids distinct, none exceeds the high-water
    val next = cat.currentSnapshot("db", "m").summary("next-row-id").toLong
    assert(up.values.forall(_ < next))

    // updateMoR: every matched row's post-image keeps its own id
    cat.updateMoR("db", "m", col("k") === 5L, Map("v" -> lit("patched")))
    val upd = ids(cat, "m")
    assert(upd == up, s"update must move values, never identity: $upd vs $up")
    assert(cat.readLatest("db", "m").where(col("k") === 5L)
      .select("v").as[String].head() == "patched")

    // identity survives a compact OVER the preserved post-images
    cat.compact("db", "m", numFiles = 1)
    assert(ids(cat, "m") == upd, "compact after update/upsert keeps ids")

    // DUPLICATE source keys take fresh ids for every copy — inheriting
    // one id twice would mint duplicate identities
    cat.upsertMoR("db", "m", Seq((4L, "d1"), (4L, "d2")).toDF("k", "v"),
      keys = Seq("k"))
    val rows = cat.readWithRowIds("db", "m").select("k", "_row_id")
      .as[(Long, Long)].collect().toSeq
    val k4 = rows.filter(_._1 == 4L).map(_._2)
    assert(k4.size == 2 && k4.distinct.size == 2 && !k4.contains(4L),
      s"dup-key copies must all mint fresh: $k4")
    assert(rows.map(_._2).distinct.size == rows.size, "global id uniqueness")
  }

  test("lineage reads plan no join and no broadcast: readWithRowIds and the MoR update scan") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.QueryExecution
    val (cat, _) = freshCat()
    lineageTable(cat, "pj")
    cat.append("db", "pj", (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    cat.append("db", "pj", (10L until 15L).map(k => (k, s"b$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    cat.deleteMoR("db", "pj", col("k") === 3L) // one covered file, one clean
    // the ids derive inside the reader: no file -> first_row_id frame
    // joined on, so neither the logical plan nor the physical one has a
    // join or a broadcast
    def joinFree(qe: QueryExecution, what: String): Unit = {
      val opt = qe.optimizedPlan
      assert(opt.collect { case j: Join => j }.isEmpty, s"$what joins:\n$opt")
      val phys = qe.executedPlan.toString
      assert(!phys.contains("BroadcastExchange"), s"$what broadcasts:\n$phys")
    }
    val rows = cat.readWithRowIds("db", "pj")
    joinFree(rows.queryExecution, "readWithRowIds")
    assert(ids(cat, "pj") == ((0L until 15L).filterNot(_ == 3L).map(k => k -> k).toMap))
    // every query the lineage MoR update runs: its position-tagged,
    // id-carrying scan included
    val seen = scala.collection.mutable.Buffer.empty[(String, QueryExecution)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += f -> qe; () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      cat.updateMoR("db", "pj", col("k") === 7L, Map("v" -> lit("u")))
      org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark, 10000)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.nonEmpty)
    seen.foreach { case (f, qe) => joinFree(qe, s"updateMoR ($f)") }
    assert(ids(cat, "pj")(7L) == 7L) // the update kept the row's identity
  }

  test("changelog carries _row_id: deletes serve the dying id, updates keep it") {
    val (cat, wh) = freshCat()
    lineageTable(cat, "cl")
    cat.append("db", "cl", (0L until 6L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // snap 2: ids 0..5
    val base = cat.currentSnapshotId("db", "cl")
    cat.deleteMoR("db", "cl", col("k") === 2L)
    cat.upsertMoR("db", "cl", Seq((4L, "U"), (50L, "N")).toDF("k", "v"),
      keys = Seq("k"))
    val head = cat.currentSnapshotId("db", "cl")
    val diff = cat.readChangelog("db", "cl", base, head)
      .select("k", "_row_id", "_change_type")
      .as[(Long, Long, String)].collect().toSeq
    val dels = diff.filter(_._3 == "delete").map(r => r._1 -> r._2).toMap
    val ins = diff.filter(_._3 == "insert").map(r => r._1 -> r._2).toMap
    assert(dels == Map(2L -> 2L, 4L -> 4L), s"dying pre-images carry their ids: $diff")
    // the upsert's update half carries id 4 on BOTH images — the
    // correlation Iceberg v3 carries identity for; the new row is fresh
    assert(ins(4L) == 4L, s"post-image keeps the pre-image id: $diff")
    assert(ins(50L) >= 6L, diff.toString)

    // the SQL `.changes` relation serves the same, with _row_id in schema
    spark.conf.set("spark.sql.catalog.rlcg", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlcg.warehouse", wh)
    val sqlDiff = spark.read
      .option("from-snapshot-id", base).option("to-snapshot-id", head)
      .table("rlcg.db.cl.changes")
      .select("k", "_row_id", "_change_type")
      .as[(Long, Long, String)].collect().toSeq
    assert(sqlDiff.toSet == diff.toSet, s"$sqlDiff vs $diff")
  }

  test(".changes STREAM serves _row_id per commit (insert and delete images)") {
    val (cat, wh) = freshCat()
    lineageTable(cat, "cs")
    cat.append("db", "cs", (0L until 5L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // ids 0..4, before stream
    spark.conf.set("spark.sql.catalog.rlcs", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlcs.warehouse", wh)
    val q = spark.readStream.table("rlcs.db.cs.changes")
      .writeStream.format("memory").queryName("cs_chg").outputMode("append").start()
    try {
      q.processAllAvailable()
      cat.append("db", "cs", Seq((10L, "n1"), (11L, "n2")).toDF("k", "v")
        .repartition(1).sortWithinPartitions("k")) // ids 5,6
      q.processAllAvailable()
      cat.deleteMoR("db", "cs", col("k") === 1L) // dying id 1
      q.processAllAvailable()
      cat.updateMoR("db", "cs", col("k") === 10L, Map("v" -> lit("patched")))
      q.processAllAvailable()
      val got = spark.table("cs_chg").select("k", "_row_id", "_change_type")
        .as[(Long, Long, String)].collect().toSeq.sorted
      assert(got == Seq(
        (1L, 1L, "delete"),                        // dying pre-image's id
        (10L, 5L, "delete"), (10L, 5L, "insert"),  // update: both images, SAME id
        (10L, 5L, "insert"),                       // original append image
        (11L, 6L, "insert")
      ).sorted, got.toString)
    } finally q.stop()
  }

  test("COPY-ON-WRITE delete/update/upsert preserve identity like their MoR twins") {
    val (cat, _) = freshCat()
    lineageTable(cat, "cw")
    cat.append("db", "cw", (0L until 8L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // ids 0..7
    val base = ids(cat, "cw")

    // CoW delete rewrites candidate files: survivors keep their ids
    cat.delete("db", "cw", col("k") === 3L)
    val afterDel = ids(cat, "cw")
    assert(afterDel == base - 3L, s"CoW delete must not re-mint: $afterDel")

    // CoW update rewrites candidates: matched AND unmatched keep ids;
    // only the matched row's last-updated moves
    cat.update("db", "cw", col("k") === 5L, Map("v" -> lit("patched")))
    val sU = cat.currentSnapshotId("db", "cw")
    assert(ids(cat, "cw") == afterDel, s"CoW update must not re-mint")
    val lu = cat.readWithRowIds("db", "cw")
      .select("k", "_last_updated_snapshot_id").as[(Long, Long)].collect().toMap
    assert(lu(5L) == sU && lu(6L) != sU, lu.toString)

    // CoW upsert (full-state merge): retained rows keep ids, the matched
    // post-image inherits, the new key mints fresh
    cat.upsert("db", "cw", Seq((7L, "UP"), (90L, "NEW")).toDF("k", "v"),
      keys = Seq("k"))
    val up = ids(cat, "cw")
    assert(up(7L) == 7L, s"CoW upsert matched row must inherit: $up")
    assert(up(90L) >= 8L, s"new key mints fresh: $up")
    assert((up - 7L - 90L) == (afterDel - 7L), "retained rows untouched")
    assert(up.values.toSet.size == up.size, "ids stay unique")
    val next = cat.currentSnapshot("db", "cw").summary("next-row-id").toLong
    assert(up.values.forall(_ < next))
  }

  test("SQL UPDATE / MERGE / DELETE preserve identity (delta route on lineage)") {
    val (cat, wh) = freshCat()
    lineageTable(cat, "sq")
    cat.append("db", "sq", (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // ids 0..9
    spark.conf.set("spark.sql.catalog.rlsq", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlsq.warehouse", wh)
    val base = ids(cat, "sq")

    // SQL UPDATE (no live deletes — lineage alone must route the
    // identity-preserving delta path, never the re-minting CoW rewrite)
    spark.sql("UPDATE rlsq.db.sq SET v = 'X' WHERE k % 3 = 1")
    val s1 = cat.currentSnapshot("db", "sq")
    assert(s1.operation == "update", s1.operation)
    val afterU = ids(cat, "sq")
    assert(afterU == base, s"SQL UPDATE must not re-mint: $afterU vs $base")
    assert(spark.sql("SELECT count(*) FROM rlsq.db.sq WHERE v = 'X'")
      .head.getLong(0) == 3L)
    // the post-images' last-updated moved; untouched rows kept theirs
    val lu = cat.readWithRowIds("db", "sq")
      .select("k", "_last_updated_snapshot_id").as[(Long, Long)].collect().toMap
    assert(lu(1L) == s1.snapshotId && lu(2L) != s1.snapshotId, lu.toString)

    // SQL MERGE: matched rows inherit, fresh keys mint above the
    // high-water, ids stay globally unique
    val hw = cat.currentSnapshot("db", "sq").summary("next-row-id").toLong
    spark.sql(
      """MERGE INTO rlsq.db.sq t
        |USING (SELECT * FROM VALUES (2L, 'merged'), (50L, 'new')
        |  AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterM = ids(cat, "sq")
    assert(afterM(2L) == base(2L), s"merged row must inherit its id: $afterM")
    assert(afterM(50L) >= hw, s"new key must mint above $hw: $afterM")
    assert((afterM - 50L) == afterU, "untouched rows keep their ids")
    assert(afterM.values.toSet.size == afterM.size, "global uniqueness")

    // the changelog correlates the SQL update's images by ONE shared id
    val chg = cat.readChangelog("db", "sq",
        s1.snapshotId - 1, s1.snapshotId)
      .select("k", "_row_id", "_change_type")
      .as[(Long, Long, String)].collect().toSeq
    assert(chg.filter(_._3 == "delete").map(r => r._1 -> r._2).toMap ==
      Map(1L -> base(1L), 4L -> base(4L), 7L -> base(7L)), chg.toString)
    assert(chg.filter(_._3 == "insert").map(r => r._1 -> r._2).toMap ==
      Map(1L -> base(1L), 4L -> base(4L), 7L -> base(7L)), chg.toString)

    // non-translatable SQL DELETE keeps survivors' ids
    spark.sql("DELETE FROM rlsq.db.sq WHERE v RLIKE '^a0$'") // kills k=0 only
    val afterD = ids(cat, "sq")
    assert(!afterD.contains(0L) && afterD(3L) == base(3L), afterD.toString)

    // identity survives a compact over the SQL-updated state
    cat.compact("db", "sq", numFiles = 1)
    assert(ids(cat, "sq") == afterD, "compact keeps SQL-preserved ids")
  }

  test("SQL delta DML on a PARTITIONED lineage table keeps ids through re-layout") {
    val (cat, wh) = freshCat()
    val rows = (0L until 12L).map(k => (k, s"a$k", k % 3)).toDF("k", "v", "g")
    cat.createTable("db", "pq", rows.schema, partitionCols = Seq("g"),
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "pq", rows.repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.rlpq", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlpq.warehouse", wh)
    val base = cat.readWithRowIds("db", "pq").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    // the delta's insert files re-lay into g=.. dirs — __rid must ride
    spark.sql("UPDATE rlpq.db.pq SET v = 'X' WHERE k = 4")
    val after = cat.readWithRowIds("db", "pq").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(after == base, s"partitioned SQL UPDATE must not re-mint: $after vs $base")
    assert(spark.sql("SELECT v FROM rlpq.db.pq WHERE k = 4").head.getString(0) == "X")
    assert(cat.currentSnapshot("db", "pq").files.forall(_.contains("g=")),
      cat.currentSnapshot("db", "pq").files.toString)
  }

  test("_last_updated_snapshot_id: fresh at write, moves on update, survives compact") {
    val (cat, _) = freshCat()
    lineageTable(cat, "lu")
    cat.append("db", "lu", (0L until 4L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    val s1 = cat.currentSnapshotId("db", "lu")
    cat.append("db", "lu", Seq((10L, "b")).toDF("k", "v"))
    val s2 = cat.currentSnapshotId("db", "lu")
    def lus(): Map[Long, Long] =
      cat.readWithRowIds("db", "lu").select("k", "_last_updated_snapshot_id")
        .as[(Long, Long)].collect().toMap
    val base = lus()
    assert((0L until 4L).forall(base(_) == s1), base.toString)
    assert(base(10L) == s2, base.toString)

    // a MoR delete leaves survivors' last-updated untouched
    cat.deleteMoR("db", "lu", col("k") === 1L)
    assert(lus() == base - 1L, lus().toString)

    // an update moves ONLY the touched row's last-updated to the update
    // commit (its _row_id stays, proven elsewhere)
    cat.updateMoR("db", "lu", col("k") === 2L, Map("v" -> lit("patched")))
    val sUpd = cat.currentSnapshotId("db", "lu")
    val afterUpd = lus()
    assert(afterUpd(2L) == sUpd, afterUpd.toString)
    assert(afterUpd - 2L == base - 1L - 2L, afterUpd.toString)

    // compact materializes the values physically: nothing moves
    cat.compact("db", "lu", numFiles = 1)
    assert(lus() == afterUpd, lus().toString)
    // and a post-compact update still moves just its row
    cat.updateMoR("db", "lu", col("k") === 3L, Map("v" -> lit("again")))
    val sUpd2 = cat.currentSnapshotId("db", "lu")
    val afterUpd2 = lus()
    assert(afterUpd2(3L) == sUpd2 && afterUpd2(2L) == sUpd, afterUpd2.toString)

    // upsert: matched post-image AND new row stamp the merge commit
    cat.upsertMoR("db", "lu", Seq((0L, "U"), (50L, "N")).toDF("k", "v"),
      keys = Seq("k"))
    val sM = cat.currentSnapshotId("db", "lu")
    val afterUp = lus()
    assert(afterUp(0L) == sM && afterUp(50L) == sM, afterUp.toString)

    // identity stays decoupled from last-updated through the upsert
    val ids = cat.readWithRowIds("db", "lu")
      .select("k", "_row_id", "_last_updated_snapshot_id")
      .as[(Long, Long, Long)].collect()
      .map { case (k, r, l) => k -> ((r, l)) }.toMap
    assert(ids(0L) == ((0L, sM)), ids.toString)
  }

  test("cascaded replication preserves identity: apply sink writes source ids") {
    val (cat, wh) = freshCat()
    lineageTable(cat, "src")
    cat.createTable("db", "replica",
      Seq((0L, "x")).toDF("k", "v").schema,
      properties = Map("row.lineage" -> "true"))
    cat.append("db", "src", (0L until 6L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k")) // ids 0..5
    spark.conf.set("spark.sql.catalog.rlcas", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlcas.warehouse", wh)
    val q = spark.readStream
      .option("starting-snapshot-id", "1").table("rlcas.db.src.changes")
      .writeStream.foreachBatch(
        graft.streaming.EventStream.applyCdcEpoch(cat, "db", "replica",
          keys = Seq("k")) _)
      .start()
    try {
      q.processAllAvailable()
      assert(ids(cat, "replica") == ids(cat, "src"),
        s"replica ids must BE the source ids: ${ids(cat, "replica")} vs ${ids(cat, "src")}")
      // churn flows through with identity intact: an update keeps its id,
      // a delete removes it, on BOTH tables
      cat.updateMoR("db", "src", col("k") === 2L, Map("v" -> lit("patched")))
      cat.deleteMoR("db", "src", col("k") === 4L)
      q.processAllAvailable()
      assert(ids(cat, "replica") == ids(cat, "src"), s"${ids(cat, "replica")}")
      assert(cat.readLatest("db", "replica").where(col("k") === 2L)
        .select("v").as[String].head() == "patched")
      // the REPLICA's own id high-water advanced past the replicated
      // ids: a direct append to it mints a non-colliding fresh id
      cat.append("db", "replica", Seq((100L, "local")).toDF("k", "v"))
      val rep = ids(cat, "replica")
      assert(rep(100L) >= 6L, s"local append must mint past the floor: $rep")
      assert(rep.values.toSet.size == rep.size, "no id collisions")
      // and the replica itself serves a changes stream with those ids —
      // the CASCADE: a third tier would key on the same identity
      val diff = cat.readChangelog("db", "replica", 1L,
          cat.currentSnapshotId("db", "replica"))
        .where(col("_change_type") === "insert")
        .select("k", "_row_id").as[(Long, Long)].collect().toMap
      assert(diff.view.filterKeys(_ != 100L).toMap ==
        ids(cat, "src"), s"cascade tier serves source ids: $diff")
    } finally q.stop()
  }

  test("SQL surface: db.t.rows serves _row_id; refuses on untracked tables") {
    val (cat, wh) = freshCat()
    lineageTable(cat, "sq")
    cat.append("db", "sq", (0L until 6L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))
    cat.deleteMoR("db", "sq", col("k") === 2L)
    spark.conf.set("spark.sql.catalog.rlcat", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.rlcat.warehouse", wh)
    val got = spark.sql("SELECT k, _row_id FROM rlcat.db.sq.rows ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 0L), (1L, 1L), (3L, 3L), (4L, 4L), (5L, 5L)), got.toString)
    // aggregations and filters compose over the relation like any table
    assert(spark.sql("SELECT max(_row_id) FROM rlcat.db.sq.rows WHERE k >= 3")
      .as[Long].head() == 5L)

    cat.createTable("db", "plain2", Seq((0L, "x")).toDF("k", "v").schema)
    val e = intercept[UnsupportedOperationException] {
      spark.sql("SELECT * FROM rlcat.db.plain2.rows").collect()
    }
    assert(e.getMessage.contains("row.lineage"), e.getMessage)
  }

  test("the id high-water survives snapshot EXPIRY: ids never re-mint") {
    val (cat, _) = freshCat()
    lineageTable(cat, "ex")
    cat.append("db", "ex", (0L until 8L).map(k => (k, s"a$k")).toDF("k", "v")
      .repartition(1).sortWithinPartitions("k"))                 // ids 0..7
    // data-less commits after the append: each must CARRY next-row-id,
    // because expiry may leave only them in the log
    cat.deleteMoR("db", "ex", col("k") === 0L)
    cat.deleteMoR("db", "ex", col("k") === 1L)
    cat.expireSnapshots("db", "ex", keepLast = 2) // the append entry is gone
    assert(cat.currentSnapshot("db", "ex")
      .summary.get("next-row-id").contains("8"),
      cat.currentSnapshot("db", "ex").summary.toString)
    cat.append("db", "ex", Seq((100L, "new")).toDF("k", "v"))
    val got = ids(cat, "ex")
    assert(got(100L) == 8L, s"ids must continue from the high-water: $got")
    assert(got.values.toSet.size == got.size)
  }

  test("lineage is opt-in; reads refuse on untracked tables") {
    val (cat, _) = freshCat()
    cat.createTable("db", "plain", Seq((0L, "x")).toDF("k", "v").schema)
    cat.append("db", "plain", Seq((1L, "y")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      cat.readWithRowIds("db", "plain")
    }
    assert(e.getMessage.contains("row.lineage"), e.getMessage)
    // and an untracked table's commits carry no lineage keys
    val snap = cat.currentSnapshot("db", "plain")
    assert(!snap.summary.contains("next-row-id"))
  }
}
