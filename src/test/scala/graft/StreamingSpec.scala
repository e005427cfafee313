package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Streaming semantics vs their batch twins: the windowed agg must agree
  * with q17's batch aggregation, and streaming sessionization must close
  * the same sessions q30's lag/gap form counts. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // events.parquet's ts has shipped as both TIMESTAMP(NANOS) (int64 under
  // nanosAsLong) and TIMESTAMP(MICROS); stream through a copy normalized
  // to session-TZ TIMESTAMP either way
  private lazy val eventsDir: String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = Files.createTempDirectory("graft_events_").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val conv = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    conv.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed agg matches the batch aggregation") {
    val batchEvents = spark.read.parquet(eventsDir)
    val stream = spark.readStream.schema(batchEvents.schema).parquet(eventsDir)
    val q = EventStream.windowedAgg(stream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n_events", "value_e2")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet

    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("value_e2"))
      .select(col("window.start"), col("event_type"), col("n_events"), col("value_e2"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("stream-stream attribution join matches the batch pointIntervalJoin") {
    val batchEvents = spark.read.parquet(eventsDir)
    val views = spark.readStream.schema(batchEvents.schema).parquet(eventsDir)
      .where(col("event_type") === "view")
    val clicks = spark.readStream.schema(batchEvents.schema).parquet(eventsDir)
      .where(col("event_type") === "click")
    val q = EventStream.attributionJoin(views, clicks)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_out")
      .select("view_id", "click_id").as[(Long, Long)].collect().toSet

    val hourUs = 3600000000L
    val iv = batchEvents.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("win_start"),
        (unix_micros(col("ts")) + hourUs).as("win_end"))
    val pts = batchEvents.where(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val batch = graft.ops.TemporalJoin.pointIntervalJoin(pts, iv, Seq("user_id"),
        pointTs = "click_us", startCol = "win_start", endCol = "win_end",
        binWidth = hourUs, pointValueCols = Seq("click_id"))
      .select("view_id", "click_id").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "testdata should produce at least one attribution pair")
    assert(streamed == batch)
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    // duplicate every event once (simulated at-least-once redelivery)
    val dupDir = Files.createTempDirectory("graft_dup_").toString
    val base = spark.read.parquet(eventsDir)
    base.unionByName(base).coalesce(1).write.mode("overwrite").parquet(dupDir)

    val stream = spark.readStream.schema(base.schema).parquet(dupDir)
    val q = EventStream.dedupeStream(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() == base.count(), "each event exactly once")
    assert(got.select("event_id").distinct().count() == base.count())
  }

  test("EventTimeTimeout flushes an idle user's open session and drops its state") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = Files.createTempDirectory("graft_timeout_").toString
    def writeEvents(name: String, rows: Seq[(Long, String, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .coalesce(1).write.mode("append").parquet(dir)

    // batch 1: user 1 has a 2-event session; user 99 drives the watermark
    writeEvents("b1", Seq(
      (1L, "2026-01-01 10:00:00", 1L, "click", 1.0),
      (2L, "2026-01-01 10:05:00", 1L, "click", 1.0),
      (3L, "2026-01-01 10:00:00", 99L, "click", 1.0)))

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Event]
    val q = EventStream.sessionizeWithTimeout(spark, stream).toDF()
      .writeStream.format("memory").queryName("timeout_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(spark.table("timeout_out").where(col("user_id") === 1L).isEmpty,
      "session still open inside the watermark horizon")

    // batch 2 advances the watermark hours past user 1's lastSeen + gap;
    // batch 3 gives the engine a micro-batch in which the timeout fires.
    // user 1 itself NEVER sends another event.
    writeEvents("b2", Seq((4L, "2026-01-01 14:00:00", 99L, "click", 1.0)))
    q.processAllAvailable()
    writeEvents("b3", Seq((5L, "2026-01-01 14:01:00", 99L, "click", 1.0)))
    q.processAllAvailable()
    q.stop()

    val flushed = spark.table("timeout_out").where(col("user_id") === 1L)
      .select("session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    val us = (s: String) => java.sql.Timestamp.valueOf(s).getTime * 1000L
    assert(flushed == Seq((us("2026-01-01 10:00:00"), us("2026-01-01 10:05:00"), 2L)),
      s"idle session must flush via timeout, got $flushed")
    // user 99's first session closed by its own 14:00 event (gap rule)
    assert(spark.table("timeout_out").where(col("user_id") === 99L).count() >= 1)
  }

  test("streaming sessionization closes the same sessions as the batch lag/gap form") {
    val closed = EventStream.runSessionizeBatch(spark, eventsDir,
      spark.read.parquet(eventsDir).schema)
    // batch truth: sessions per user via lag/gap (the q30 form), minus the
    // final (still-open) session per user, which streaming hasn't emitted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val batchSessions = spark.read.parquet(eventsDir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          (unix_micros(col("ts")) - col("prev_us")) > 30L * 60L * 1000000L, 1L).otherwise(0L))
      .groupBy("user_id").agg(sum("new_sess").as("n_sessions"))
      .as[(Long, Long)].collect().toMap

    val closedPerUser = closed.groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    batchSessions.foreach { case (user, total) =>
      val c = closedPerUser.getOrElse(user, 0L)
      assert(c == total - 1, s"user $user: streaming closed $c, batch total $total (expected total-1)")
    }
    // event conservation: closed sessions' event counts never exceed user totals
    val evTotals = spark.read.parquet(eventsDir).groupBy("user_id")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    closed.groupBy("user_id").agg(sum("n_events").as("n")).as[(Long, Long)].collect()
      .foreach { case (u, n) => assert(n <= evTotals(u)) }
  }

  test("streaming read tails snapcat table appends (metadata-resolved increments)") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_tailwh_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "pre")).toDF("id", "tag")
    cat.createTable("db", "tail", df0.schema)
    cat.append("db", "tail", df0) // pre-stream state: NOT in tail output
    spark.conf.set("spark.sql.catalog.snaptail", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snaptail.warehouse", wh)

    val q = spark.readStream.table("snaptail.db.tail")
      .writeStream.format("memory").queryName("snap_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_tail").count() == 0, "tail starts at the current snapshot")
      cat.append("db", "tail", Seq((2L, "a"), (3L, "a")).toDF("id", "tag"))
      q.processAllAvailable()
      cat.append("db", "tail", Seq((4L, "b")).toDF("id", "tag"))
      q.processAllAvailable()
      val got = spark.table("snap_tail").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((2L, "a"), (3L, "a"), (4L, "b")), got.toString)
    } finally q.stop()

    // backfill from the beginning via starting-snapshot-id
    val q2 = spark.readStream.option("starting-snapshot-id", "1")
      .table("snaptail.db.tail")
      .writeStream.format("memory").queryName("snap_tail_all").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("snap_tail_all").count() == 4, "backfill sees every appended row")
    } finally q2.stop()

    // a rewrite inside the tailed range fails the stream loudly
    val q3 = spark.readStream.table("snaptail.db.tail")
      .writeStream.format("memory").queryName("snap_tail_rw").outputMode("append").start()
    try {
      q3.processAllAvailable()
      cat.overwrite("db", "tail", df0)
      cat.append("db", "tail", Seq((9L, "z")).toDF("id", "tag"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
        q3.awaitTermination(10000)
      }
      assert(e.getMessage.contains("rewrote existing") ||
        e.getCause.getMessage.contains("rewrote existing"), e.getMessage)
    } finally q3.stop()
  }

  test("stream tails across MoR deletes: merged in-range, later deletes skipped") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_tailmor_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "pre")).toDF("id", "tag")
    cat.createTable("db", "tmor", df0.schema)
    cat.append("db", "tmor", df0) // snap2, before the stream
    spark.conf.set("spark.sql.catalog.snaptm", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snaptm.warehouse", wh)

    val q = spark.readStream.table("snaptm.db.tmor")
      .writeStream.format("memory").queryName("tmor_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      cat.append("db", "tmor", Seq((10L, "a"), (11L, "a"), (12L, "a")).toDF("id", "tag"))
      q.processAllAvailable() // batch emits 10,11,12
      // a LATER MoR delete of an already-emitted row cannot retract it:
      // the batch range (snap3, snap4] adds no files -> empty, no failure
      cat.deleteMoR("db", "tmor", col("id") === 11L)
      q.processAllAvailable()
      // the tail keeps going across the delete
      cat.append("db", "tmor", Seq((13L, "b")).toDF("id", "tag"))
      q.processAllAvailable()
      val got = spark.table("tmor_tail").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(10L, 11L, 12L, 13L), got.toString)
    } finally q.stop()

    // a fresh stream whose FIRST batch spans the whole history serves the
    // net rows: append+delete inside one batch range merge reader-level
    val q2 = spark.readStream.option("starting-snapshot-id", "1")
      .table("snaptm.db.tmor")
      .writeStream.format("memory").queryName("tmor_all").outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("tmor_all").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(1L, 10L, 12L, 13L), got.toString) // 11 dead
    } finally q2.stop()
  }

  test("stream tails across EQUALITY deletes: keys merge in the reader even when pruned") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_taileq_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df0 = Seq((1L, "pre"), (2L, "pre")).toDF("id", "tag")
    cat.createTable("db", "teq", df0.schema)
    cat.append("db", "teq", df0)
    cat.append("db", "teq", Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("id", "tag"))
    cat.deleteMoREq("db", "teq", Seq(2L, 11L).toDF("id"))
    cat.append("db", "teq", Seq((11L, "d")).toDF("id", "tag")) // re-inserted: stays alive
    spark.conf.set("spark.sql.catalog.snapte", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapte.warehouse", wh)
    // the first batch spans the whole history; the projection prunes the
    // key column, which the merge still reads
    val q = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapte.db.teq").select("tag")
      .writeStream.format("memory").queryName("teq_all").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("teq_all").as[String].collect().sorted.toSeq
      assert(got == Seq("a", "c", "d", "pre"), got.toString)
    } finally q.stop()
  }

  test("stream survives a mid-stream compact: row-preserving rewrites are no-ops") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_tailcmp_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "pre")).toDF("id", "tag")
    cat.createTable("db", "tcmp", df0.schema)
    cat.append("db", "tcmp", df0) // snap2, before the stream
    spark.conf.set("spark.sql.catalog.snapcmp", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapcmp.warehouse", wh)

    val q = spark.readStream.table("snapcmp.db.tcmp")
      .writeStream.format("memory").queryName("tcmp_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      cat.append("db", "tcmp", Seq((10L, "a"), (11L, "a"), (12L, "a")).toDF("id", "tag"))
      q.processAllAvailable() // emits 10,11,12
      // a scheduled compaction between triggers is INVISIBLE: its outputs
      // re-home already-emitted rows, so the next batch emits nothing and
      // the stream does not fail
      cat.compact("db", "tcmp", numFiles = 1) // snap4
      q.processAllAvailable()
      cat.append("db", "tcmp", Seq((13L, "b")).toDF("id", "tag")) // snap5
      q.processAllAvailable()
      val got = spark.table("tcmp_tail").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(10L, 11L, 12L, 13L), got.toString)
    } finally q.stop()

    // the hard shape, all inside ONE batch range: append, MoR delete of
    // one appended row, compact (which swallows the appended files and
    // materializes the delete), then another append — committed while no
    // stream is polling so a fresh stream's first batch spans them all.
    // The swallowed files serve from their ORIGINAL write-once parquet
    // with delete coverage frozen at the pre-compact snapshot: 14 stays
    // dead, 15 and 16 are emitted, the compact outputs are never read.
    cat.append("db", "tcmp", Seq((14L, "c"), (15L, "c")).toDF("id", "tag")) // snap6
    cat.deleteMoR("db", "tcmp", col("id") === 14L)                          // snap7
    cat.compact("db", "tcmp", numFiles = 1)                                 // snap8
    cat.append("db", "tcmp", Seq((16L, "d")).toDF("id", "tag"))             // snap9
    val q2 = spark.readStream.option("starting-snapshot-id", "5")
      .table("snapcmp.db.tcmp")
      .writeStream.format("memory").queryName("tcmp_hard").outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("tcmp_hard").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(15L, 16L), got.toString)
    } finally q2.stop()

    // a backfill whose first batch spans the WHOLE history (two compacts,
    // one MoR delete) serves the net appended rows exactly once
    val q3 = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapcmp.db.tcmp")
      .writeStream.format("memory").queryName("tcmp_all").outputMode("append").start()
    try {
      q3.processAllAvailable()
      val got = spark.table("tcmp_all").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(1L, 10L, 11L, 12L, 13L, 15L, 16L), got.toString)
    } finally q3.stop()
  }

  test("CDC stream: db.t.changes emits tagged inserts and pre-image deletes per commit") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdcwh_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "pre"), (2L, "pre")).toDF("id", "tag")
    cat.createTable("db", "cdc", df0.schema)
    cat.append("db", "cdc", df0) // snap2, before the stream
    spark.conf.set("spark.sql.catalog.snapcdc", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapcdc.warehouse", wh)

    // history while nothing polls: append, MoR delete (pre-image!), MoR
    // update (delete+insert pair), compact (must be silent), append
    cat.append("db", "cdc", Seq((10L, "a"), (11L, "a")).toDF("id", "tag")) // 3
    cat.deleteMoR("db", "cdc", col("id") === 1L)                           // 4
    cat.updateMoR("db", "cdc", col("id") === 10L, Map("tag" -> lit("u")))  // 5
    cat.compact("db", "cdc", numFiles = 1)                                 // 6
    cat.append("db", "cdc", Seq((12L, "b")).toDF("id", "tag"))             // 7

    val q = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapcdc.db.cdc.changes")
      .writeStream.format("memory").queryName("cdc_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cdc_tail").select("_change_type", "id", "tag")
        .as[(String, Long, String)].collect().sortBy(r => (r._2, r._1, r._3)).toSeq
      assert(got == Seq(
        ("delete", 1L, "pre"), ("insert", 1L, "pre"),   // appended then MoR-deleted
        ("insert", 2L, "pre"),
        ("delete", 10L, "a"),                            // update: pre-image delete…
        ("insert", 10L, "a"), ("insert", 10L, "u"),      // …original insert + post-image
        ("insert", 11L, "a"),
        ("insert", 12L, "b")), got.toString)
      // commit-ordered: one micro-batch per published commit means the
      // delete of id=1 arrives in a LATER batch than its insert
      // (asserted implicitly by append-mode memory sink row order per id)
    } finally q.stop()

    // a true rewrite fails the stream loudly
    cat.overwrite("db", "cdc", df0)
    val q2 = spark.readStream.option("starting-snapshot-id", "7")
      .table("snapcdc.db.cdc.changes")
      .writeStream.format("memory").queryName("cdc_rw").outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q2.processAllAvailable(); q2.awaitTermination(10000) } finally q2.stop()
    }
    assert(e.getMessage.contains("rewrote existing") ||
      e.getCause.getMessage.contains("rewrote existing"), e.getMessage)

    // hive-partitioned table: both sides resolve partition values through
    // per-dir basePath reads — the pre-image delete carries the partition
    // column even though the parquet file does not store it
    val pf = Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("id", "v", "part")
    cat.createTable("db", "cdcp", pf.schema, partitionCols = Seq("part"))
    cat.append("db", "cdcp", pf)                       // 2
    cat.deleteMoR("db", "cdcp", col("id") === 2L)      // 3
    val q3 = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapcdc.db.cdcp.changes")
      .writeStream.format("memory").queryName("cdcp_tail").outputMode("append").start()
    try {
      q3.processAllAvailable()
      val got = spark.table("cdcp_tail").select("_change_type", "id", "part")
        .as[(String, Long, String)].collect().sortBy(r => (r._2, r._1)).toSeq
      assert(got == Seq(("insert", 1L, "p1"), ("delete", 2L, "p2"),
        ("insert", 2L, "p2")), got.toString)
    } finally q3.stop()
  }

  test("CDC catch-up with max-commits-per-trigger drains multi-commit batches, same feed") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdcmc_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-02T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "a")).toDF("id", "tag")
    cat.createTable("db", "mc", df0.schema)
    cat.append("db", "mc", df0)                                        // 2
    cat.append("db", "mc", Seq((3L, "b"), (4L, "b")).toDF("id", "tag")) // 3
    cat.deleteMoR("db", "mc", col("id") === 1L)                         // 4
    cat.append("db", "mc", Seq((5L, "c")).toDF("id", "tag"))            // 5
    spark.conf.set("spark.sql.catalog.snapmc", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapmc.warehouse", wh)

    def drain(qn: String, opts: Map[String, String]): (Seq[(String, Long, String)], Long) = {
      var r = spark.readStream.option("starting-snapshot-id", "1")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table("snapmc.db.mc.changes")
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table(qn).select("_change_type", "id", "tag")
          .as[(String, Long, String)].collect().sortBy(t => (t._2, t._1)).toSeq
        // number of non-empty micro-batches actually processed
        val batches = q.recentProgress.count(_.numInputRows > 0).toLong
        (rows, batches)
      } finally q.stop()
    }
    val (perCommit, nPer) = drain("mc_default", Map.empty)
    val (coarse, nCoarse) = drain("mc_coarse",
      Map("max-commits-per-trigger" -> "1000"))
    // identical feed content either way — co-batching changes boundaries,
    // never rows (the range planner walks commit-by-commit internally)
    assert(perCommit == coarse, s"$perCommit vs $coarse")
    assert(perCommit.count(_._1 == "delete") == 1 && perCommit.size == 6, perCommit.toString)
    // default = one commit per trigger (4 data commits); coarse = ONE batch
    assert(nPer == 4L, s"default should process 4 per-commit batches, got $nPer")
    assert(nCoarse == 1L, s"coarse catch-up should drain in one batch, got $nCoarse")
  }

  test("CDC over a bucketed table: batch relation and stream hide __bucket") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdcbk_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "b"), (9L, "c")).toDF("id", "v")
    cat.createBucketedTable("db", "bk", df0.schema, bucketCol = "id", nBuckets = 4)
    cat.appendBucketed("db", "bk", df0)                 // 2
    cat.deleteMoR("db", "bk", col("id") === 9L)         // 3
    spark.conf.set("spark.sql.catalog.snapbk", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapbk.warehouse", wh)
    // batch relation: visible columns + tag only, no __bucket leak
    val rel = spark.read.option("from-snapshot-id", "1").table("snapbk.db.bk.changes")
    assert(rel.schema.fieldNames.toSeq == Seq("id", "v", "_change_type"),
      rel.schema.fieldNames.toSeq.toString)
    val batchRows = rel.select("_change_type", "id")
      .as[(String, Long)].collect().sorted.toSeq
    assert(batchRows == Seq(("insert", 1L), ("insert", 2L)), batchRows.toString)
    // stream: pre-image delete read from the __bucket=…/ file, tag exact
    val q = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapbk.db.bk.changes")
      .writeStream.format("memory").queryName("bk_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bk_tail").select("_change_type", "id", "v")
        .as[(String, Long, String)].collect().sortBy(r => (r._2, r._1)).toSeq
      assert(got == Seq(("insert", 1L, "a"), ("insert", 2L, "b"),
        ("delete", 9L, "c"), ("insert", 9L, "c")), got.toString)
    } finally q.stop()
  }

  test("CDC stream resumes from its checkpoint without duplicates or gaps") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdcrs_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "rs", df0.schema)
    cat.append("db", "rs", df0) // snap2
    spark.conf.set("spark.sql.catalog.snapcdr", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapcdr.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft_cdcrs_ck_").toString
    val out = Files.createTempDirectory("graft_cdcrs_out_").toString
    def drain(): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table("snapcdr.db.rs.changes")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // emits snap2's inserts, checkpoint at offset 2
    cat.deleteMoR("db", "rs", col("id") === 1L)            // 3
    cat.append("db", "rs", Seq((3L, "c")).toDF("id", "v")) // 4
    drain() // MUST resume at 2: the delete + insert arrive exactly once
    val got = spark.read.parquet(out).select("_change_type", "id")
      .as[(String, Long)].collect().sortBy(r => (r._2, r._1)).toSeq
    assert(got == Seq(("delete", 1L), ("insert", 1L),
      ("insert", 2L), ("insert", 3L)), got.toString)
  }

  test("CDC apply sink: a .changes feed replicates a keyed table exactly-once") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdcap_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "s", df0.schema)
    cat.append("db", "s", df0) // snap2
    cat.createTable("db", "d", df0.schema)
    spark.conf.set("spark.sql.catalog.snapap", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapap.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft_cdcap_ck_").toString
    def drain(): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table("snapap.db.s.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(graft.streaming.EventStream.applyCdcEpoch(
          cat, "db", "d", keys = Seq("id")) _)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def state(t: String): Seq[(Long, String)] =
      cat.readLatest("db", t).as[(Long, String)].collect().sortBy(_._1).toSeq
    drain()
    assert(state("d") == Seq((1L, "a"), (2L, "b")), state("d").toString)
    // source churn: keyed delete, update (delete+insert pair in one
    // commit), fresh insert — the replica must converge to the source
    cat.deleteMoR("db", "s", col("id") === 1L)                      // 3
    cat.updateMoR("db", "s", col("id") === 2L, Map("v" -> lit("B"))) // 4
    cat.append("db", "s", Seq((3L, "c")).toDF("id", "v"))            // 5
    drain()
    assert(state("d") == state("s"), s"replica ${state("d")} != source ${state("s")}")
    assert(state("d") == Seq((2L, "B"), (3L, "c")))
    // restart with the same checkpoint and no new source commits: the
    // replayed epoch is dropped by the high-water mark — no state change,
    // no extra commit on the target
    val head = cat.currentSnapshot("db", "d").snapshotId
    drain()
    assert(cat.currentSnapshot("db", "d").snapshotId == head, "replayed epoch re-applied")
    assert(state("d") == Seq((2L, "B"), (3L, "c")))
  }

  test("stream fails loudly when a delete lands after an in-range compact") {
    // The delete-after-compact exactness hole (r8): a compact inside a
    // batch range swallows emitted appends and freezes their coverage;
    // a LATER in-range delete targets the re-homed copies, which frozen
    // coverage cannot see — the batch path falls back to the exact row
    // diff, a stream must refuse actionably instead of emitting rows that
    // were appended AND deleted inside the range.
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_dac_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "dac", df0.schema)
    cat.append("db", "dac", df0) // 2
    spark.conf.set("spark.sql.catalog.snapdac", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapdac.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft_dac_ck_").toString
    val out = Files.createTempDirectory("graft_dac_out_").toString
    def drain(): Unit = {
      val q = spark.readStream.table("snapdac.db.dac")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // checkpoint at offset 2
    cat.append("db", "dac", Seq((3L, "c"), (4L, "d")).toDF("id", "v")) // 3
    cat.compact("db", "dac", numFiles = 1)                             // 4 swallows 3's files
    cat.deleteMoR("db", "dac", col("id") === 3L)                       // 5 targets re-homed copy
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("after an in-range compact"), msg)
    assert(msg.contains("restart the stream"), msg)
  }

  /** append {1,2} (2), MoR-delete 2 (3) and, once `beforeRollback` ran,
    * roll back to 2 (4): the rollback resurrects row 2 without touching a
    * data file. The table is `db.t` of catalog `name`. */
  private def rollbackFixture(name: String)(beforeRollback: String => Unit): Unit = {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory(s"graft_${name}_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "t", df.schema)
    cat.append("db", "t", df)                     // 2
    cat.deleteMoR("db", "t", col("id") === 2L)    // 3
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    beforeRollback(name)
    cat.rollback("db", "t", 2L)                   // 4
  }

  test("append tail refuses a range that contains a rollback") {
    val ckpt = Files.createTempDirectory("graft_rbt_ck_").toString
    val out = Files.createTempDirectory("graft_rbt_out_").toString
    var catName = ""
    def drain(): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table(s"$catName.db.t")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    rollbackFixture("snaprbt") { n =>
      catName = n
      drain() // (1,3]: row 2 was deleted in range, never emitted
      assert(spark.read.parquet(out).select("id").as[Long].collect().toSeq == Seq(1L))
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("rollback"), msg)
    assert(msg.contains("restart the stream"), msg)
  }

  test("CDC stream refuses a range that contains a rollback and names the batch diff") {
    rollbackFixture("snaprbc")(_ => ())
    val q = spark.readStream.option("starting-snapshot-id", "3")
      .table("snaprbc.db.t.changes")
      .writeStream.format("memory").queryName("rbc_cdc").outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q.processAllAvailable(); q.awaitTermination(10000) } finally q.stop()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("rollback"), msg)
    assert(msg.contains("db.t.changes"), msg)
  }

  test("an append-stream drain reads the pointer log a constant number of times in its commit count") {
    import graft.catalog.SnapshotCatalog
    import org.apache.spark.sql.streaming.Trigger
    def readsFor(k: Int): Long = {
      val wh = Files.createTempDirectory("graft_drainreads_").toString
      val cat = new SnapshotCatalog(spark, wh)
      cat.createTable("db", "g", Seq(0L).toDF("id").schema)
      (1 to k).foreach(i => cat.append("db", "g", Seq(i.toLong).toDF("id")))
      spark.conf.set(s"spark.sql.catalog.snapdr$k", "graft.catalog.spark.SnapCatalogPlugin")
      spark.conf.set(s"spark.sql.catalog.snapdr$k.warehouse", wh)
      val before = SnapshotCatalog.logReads.get()
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table(s"snapdr$k.db.g")
        .writeStream.format("memory").queryName(s"drain_reads_$k")
        .trigger(Trigger.AvailableNow()).outputMode("append").start()
      try assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      finally q.stop()
      val n = SnapshotCatalog.logReads.get() - before
      assert(spark.table(s"drain_reads_$k").count() == k)
      info(s"k=$k: $n pointer-log reads")
      n
    }
    val (r4, r16) = (readsFor(4), readsFor(16))
    assert(r16 <= r4, s"log reads grew with the commit count: k=4 -> $r4, k=16 -> $r16")
    // each offset and planning call loads the log once
    assert(r16 <= 14, s"a drain read the pointer log $r16 times")
  }

  test("resume from an expired snapshot surfaces an actionable error; re-checkpoint recovers") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_exp_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df0 = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("db", "ex", df0.schema)
    cat.append("db", "ex", df0) // 2
    spark.conf.set("spark.sql.catalog.snapex", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapex.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft_exp_ck_").toString
    val out = Files.createTempDirectory("graft_exp_out_").toString
    def drain(ck: String): Unit = {
      val q = spark.readStream.table("snapex.db.ex")
        .writeStream.format("parquet")
        .option("checkpointLocation", ck).option("path", out)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain(ckpt) // checkpoint high-water = snapshot 2
    cat.append("db", "ex", Seq((2L, "b")).toDF("id", "v")) // 3
    cat.append("db", "ex", Seq((3L, "c")).toDF("id", "v")) // 4
    cat.expireSnapshots("db", "ex", keepLast = 1)          // snapshot 2 gone
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain(ckpt) }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("EXPIRED"), msg)
    assert(msg.contains("FRESH checkpoint"), msg)
    // recovery: a fresh checkpoint tails from the current snapshot
    val ckpt2 = Files.createTempDirectory("graft_exp_ck2_").toString
    drain(ckpt2)
    cat.append("db", "ex", Seq((4L, "d")).toDF("id", "v"))
    drain(ckpt2)
    val got = spark.read.parquet(out.toString).select("id").as[Long].collect().sorted.toSeq
    // the recovered stream tails from the current snapshot and delivers
    // the post-recovery append (the pre-expiry backlog is the backfill's
    // job, as the error message directs)
    assert(got == Seq(4L), got.toString)
  }

  test("cascaded CDC: a replica built by the apply sink serves its own .changes stream") {
    // The r8 closure of the CDC loop: source --.changes--> applyCdcEpoch
    // replica --.changes--> second replica. The apply sink writes
    // EQUALITY-delete commits (zero-scan deleteMoREq) that the changes
    // stream previously refused; the per-file reader enumerates
    // their pre-images from the write-once covered files, so replication
    // cascades to depth 2 and the replica's feed replays the source's
    // row-for-row.
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdccas_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("db", "cs", df0.schema)
    cat.append("db", "cs", df0) // snap2
    cat.createTable("db", "cd", df0.schema)
    cat.createTable("db", "cdd", df0.schema)
    spark.conf.set("spark.sql.catalog.snapcas", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapcas.warehouse", wh)
    val ckptS = Files.createTempDirectory("graft_cdccas_ck1_").toString
    val ckptD = Files.createTempDirectory("graft_cdccas_ck2_").toString
    def drain(src: String, dst: String, ckpt: String): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table(s"snapcas.db.$src.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(graft.streaming.EventStream.applyCdcEpoch(
          cat, "db", dst, keys = Seq("id")) _)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def state(t: String): Seq[(Long, String)] =
      cat.readLatest("db", t).as[(Long, String)].collect().sortBy(_._1).toSeq
    drain("cs", "cd", ckptS)
    drain("cd", "cdd", ckptD)
    assert(state("cdd") == Seq((1L, "a"), (2L, "b")), state("cdd").toString)
    // source churn: a keyed delete (becomes an EQ-delete commit on cd —
    // no same-epoch re-insert), an update, a fresh insert
    cat.deleteMoR("db", "cs", col("id") === 1L)                       // 3
    cat.updateMoR("db", "cs", col("id") === 2L, Map("v" -> lit("B"))) // 4
    cat.append("db", "cs", Seq((3L, "c")).toDF("id", "v"))            // 5
    drain("cs", "cd", ckptS)
    // the replica now carries a live equality-delete commit — the exact
    // shape the changes stream refused before r8
    assert(cat.currentSnapshot("db", "cd").deleteFiles.exists(!_.isPositional),
      "expected applyCdcEpoch to have written an equality-delete commit")
    drain("cd", "cdd", ckptD)
    assert(state("cd") == state("cs"), s"depth-1 ${state("cd")} != ${state("cs")}")
    assert(state("cdd") == state("cs"), s"depth-2 ${state("cdd")} != ${state("cs")}")
    assert(state("cdd") == Seq((2L, "B"), (3L, "c")))
    // feed equivalence: the replica's FULL .changes stream replays the
    // source's feed as the same row multiset (epoch batching differs;
    // rows must not)
    def feed(t: String, name: String): Seq[(String, Long, String)] = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table(s"snapcas.db.$t.changes")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).select("_change_type", "id", "v")
        .as[(String, Long, String)].collect().sortBy(r => (r._2, r._1, r._3)).toSeq
    }
    val srcFeed = feed("cs", "cas_src_feed")
    val repFeed = feed("cd", "cas_rep_feed")
    assert(repFeed == srcFeed, s"replica feed $repFeed != source feed $srcFeed")
    assert(srcFeed == Seq(("delete", 1L, "a"), ("insert", 1L, "a"),
      ("delete", 2L, "b"), ("insert", 2L, "B"), ("insert", 2L, "b"),
      ("insert", 3L, "c")), srcFeed.toString)
  }

  test("cascaded CDC keyed on date and decimal(10,2): the replica's stream emits the batch diff's pre-images") {
    // the apply sink turns each keyed source delete into an EQUALITY
    // delete on the replica; the replica's .changes stream enumerates
    // those pre-images for key columns of any type
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cdckt_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    def typed(rows: (String, String, String)*) = rows.toDF("d", "m", "v")
      .selectExpr("cast(d AS DATE) AS d", "cast(m AS DECIMAL(10,2)) AS m", "v")
    val df0 = typed(("2024-01-01", "1.25", "a"), ("2024-01-01", "2.50", "b"),
      ("2024-02-29", "1.25", "c"), ("2024-02-29", "7.00", "d"))
    cat.createTable("db", "ks", df0.schema)
    cat.append("db", "ks", df0)
    cat.createTable("db", "kd", df0.schema)
    spark.conf.set("spark.sql.catalog.snapkt", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapkt.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft_cdckt_ck_").toString
    def drain(): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table("snapkt.db.ks.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(graft.streaming.EventStream.applyCdcEpoch(
          cat, "db", "kd", keys = Seq("d", "m")) _)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val from = cat.currentSnapshotId("db", "kd")
    cat.deleteMoR("db", "ks", col("v") === "a") // key (2024-01-01, 1.25); c shares m
    cat.deleteMoR("db", "ks", col("v") === "d") // key (2024-02-29, 7.00)
    cat.append("db", "ks", typed(("2024-03-01", "1.25", "e")))
    drain()
    val to = cat.currentSnapshotId("db", "kd")
    assert(cat.currentSnapshot("db", "kd").deleteFiles.count(!_.isPositional) == 2,
      "expected two equality-delete commits on the replica")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] =
      df.selectExpr("_change_type", "cast(d AS STRING)", "cast(m AS STRING)", "v")
        .as[(String, String, String, String)].collect().sorted.toSeq
    val q = spark.readStream.option("starting-snapshot-id", from.toString)
      .table("snapkt.db.kd.changes")
      .writeStream.format("memory").queryName("cdckt_feed").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = sorted(spark.table("cdckt_feed"))
    val batch = sorted(spark.read.option("from-snapshot-id", from.toString)
      .option("to-snapshot-id", to.toString).table("snapkt.db.kd.changes"))
    assert(streamed == batch, s"stream $streamed != batch diff $batch")
    assert(streamed == Seq(("delete", "2024-01-01", "1.25", "a"),
      ("delete", "2024-02-29", "7.00", "d"), ("insert", "2024-03-01", "1.25", "e")),
      streamed.toString)
  }

  test("native writeStream.toTable appends one epoch-tagged snapshot per batch") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_nswh_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-07-01T00:00:00Z").plusSeconds(tick * 60) })
    cat.createTable("db", "nsink", Seq((1L, "x")).toDF("id", "tag").schema)
    spark.conf.set("spark.sql.catalog.snapns", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapns.warehouse", wh)

    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_nsck_").toString
    val q = source.toDF().toDF("id", "tag")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("snapns.db.nsink")
    try {
      source.addData((1L, "a"), (2L, "a"))
      q.processAllAvailable()
      source.addData((3L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(cat.readLatest("db", "nsink").count() == 3)
    val snaps = cat.snapshotList("db", "nsink")
    assert(snaps.count(_.operation == "append") == 2)
    // the epoch high-water mark rides the current snapshot's summary under
    // the streaming query's own id
    val cur = cat.currentSnapshot("db", "nsink")
    assert(cur.summary.keys.exists(_.startsWith("stream-epoch.")))
    // the native sink's snapshots tail back out through readStream
    val q2 = spark.readStream.option("starting-snapshot-id", "1").table("snapns.db.nsink")
      .writeStream.format("memory").queryName("ns_roundtrip").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("ns_roundtrip").count() == 3)
    } finally q2.stop()
  }

  test("native writeStream.toTable on a BUCKETED table re-lays each epoch") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_bswh_").toString
    val cat = new SnapshotCatalog(spark, wh)
    cat.createBucketedTable("db", "bsink",
      Seq((1L, "x")).toDF("k", "tag").schema, bucketCol = "k", nBuckets = 4)
    spark.conf.set("spark.sql.catalog.snapbs", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapbs.warehouse", wh)

    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_bsck_").toString
    val q = source.toDF().toDF("k", "tag")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("snapbs.db.bsink")
    try {
      source.addData((1L, "a"), (2L, "a"), (5L, "b"))
      q.processAllAvailable()
      source.addData((6L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // rows landed, every committed file is in the hive bucket layout, and
    // the hidden column stays hidden from SQL
    assert(cat.readLatest("db", "bsink").count() == 4)
    val cur = cat.currentSnapshot("db", "bsink")
    assert(cur.files.nonEmpty && cur.files.forall(_.contains("__bucket=")),
      cur.files.mkString("\n"))
    assert(spark.table("snapbs.db.bsink").schema.fieldNames.toSeq == Seq("k", "tag"))
    assert(spark.sql("SELECT sum(k) AS s FROM snapbs.db.bsink").head.getLong(0) == 14)
    // epoch high-water mark rides the summary (exactly-once protocol)
    assert(cur.summary.keys.exists(_.startsWith("stream-epoch.")))
    // and the bucketed table tails back OUT through readStream too — the
    // stream reads appended files flat (visible schema, no layout column)
    val q2 = spark.readStream.option("starting-snapshot-id", "1").table("snapbs.db.bsink")
      .writeStream.format("memory").queryName("bs_roundtrip").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("bs_roundtrip").schema.fieldNames.toSeq == Seq("k", "tag"))
      assert(spark.table("bs_roundtrip").count() == 4)
    } finally q2.stop()
  }

  test("adoptStreaming drops a replayed epoch and deletes its files") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_rpwh_").toString
    val cat = new SnapshotCatalog(spark, wh)
    val df = Seq((1L, "a")).toDF("id", "tag")
    cat.createTable("db", "rp", df.schema)
    val root = java.nio.file.Paths.get(wh, "db", "rp", "data")

    def writeEpochDir(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "tag").coalesce(1).write.parquet(root.resolve(name).toString)

    writeEpochDir("se-one", Seq((1L, "a"), (2L, "a")))
    assert(cat.adoptStreaming("db", "rp", "append", "se-one", df.schema, "q1", 0L).isDefined)
    assert(cat.readLatest("db", "rp").count() == 2)
    // same epoch again (restart redelivery): dropped, files cleaned up
    writeEpochDir("se-two", Seq((9L, "dup")))
    assert(cat.adoptStreaming("db", "rp", "append", "se-two", df.schema, "q1", 0L).isEmpty)
    assert(cat.readLatest("db", "rp").count() == 2)
    assert(!java.nio.file.Files.exists(root.resolve("se-two")))
    // next epoch goes through; a different sink id keeps its own marks
    writeEpochDir("se-three", Seq((3L, "b")))
    assert(cat.adoptStreaming("db", "rp", "append", "se-three", df.schema, "q1", 1L).isDefined)
    writeEpochDir("se-four", Seq((4L, "c")))
    assert(cat.adoptStreaming("db", "rp", "append", "se-four", df.schema, "q2", 0L).isDefined)
    assert(cat.readLatest("db", "rp").count() == 4)
    assert(cat.currentSnapshot("db", "rp").summary.get("stream-epoch.q1").contains("1"))
    assert(cat.currentSnapshot("db", "rp").summary.get("stream-epoch.q2").contains("0"))
  }

  test("complete-mode streaming aggregation overwrites table state per epoch") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_cmwh_").toString
    val cat = new SnapshotCatalog(spark, wh)
    cat.createTable("db", "agg", Seq(("x", 1L)).toDF("tag", "n").schema)
    spark.conf.set("spark.sql.catalog.snapcm", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapcm.warehouse", wh)

    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_cmck_").toString
    val q = source.toDF().toDF("id", "tag")
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .toTable("snapcm.db.agg")
    try {
      source.addData((1L, "a"), (2L, "a"))
      q.processAllAvailable()
      source.addData((3L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    val got = cat.readLatest("db", "agg").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L), got.toString)
    assert(cat.currentSnapshot("db", "agg").operation == "overwrite")
  }

  test("streaming near-dup dedup sink admits only novel documents") {
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_ddwh_").toString
    val cat = new SnapshotCatalog(spark, wh)
    // long shared prefixes so 5-word shingles overlap at jaccard >= 0.9
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def nearDup(tail: String) = s"$base $tail"

    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(EventStream.dedupEpoch(cat, "db", "corpus", "doc_id", "text") _)
      .start()
    try {
      // epoch 0: two distinct docs plus a WITHIN-BATCH near-dup of doc 1
      source.addData((1L, nearDup("a")), (2L, "completely different words " +
        (100 to 140).map(i => s"w$i").mkString(" ")), (3L, nearDup("b")))
      q.processAllAvailable()
      // epoch 1: a near-dup of doc 1 (cross-epoch, via the bands index),
      // plus a genuinely new doc
      source.addData((10L, nearDup("c")),
        (11L, "another fresh batch " + (200 to 240).map(i => s"v$i").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = cat.readLatest("db", "corpus").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 11L), s"kept=$kept")
    // the bands index tracks exactly the admitted docs
    assert(cat.readLatest("db", "corpus__bands").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 11L))

    // replayed epoch: no double-admit, no state change
    EventStream.dedupEpoch(cat, "db", "corpus", "doc_id", "text")(
      Seq((99L, nearDup("z"))).toDF("doc_id", "text"), 0L)
    assert(cat.readLatest("db", "corpus").count() == 3)

    // crash protocol: band rows whose corpus row is missing (a crash
    // between the two appends) must not block re-admission — simulate by
    // appending orphan bands for an id the corpus lacks, then admit a
    // doc that collides with NOTHING textually
    val orphan = Seq((500L, 0, 123456)).toDF("doc_id", "band_idx", "band_hash")
    cat.append("db", "corpus__bands", orphan)
    EventStream.dedupEpoch(cat, "db", "corpus", "doc_id", "text")(
      Seq((20L, "post crash doc " + (300 to 340).map(i => s"u$i").mkString(" ")))
        .toDF("doc_id", "text"), 5L)
    assert(cat.readLatest("db", "corpus").select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 11L, 20L))
  }

  test("streaming sink appends epoch-tagged snapshots; replays are dropped") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    val wh = Files.createTempDirectory("graft_sinkwh_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-06-01T00:00:00Z").plusSeconds(tick * 60) })
    val schema = Seq((1L, "x")).toDF("id", "tag").schema
    cat.createTable("db", "sink", schema)

    // drive micro-batches through a real memory-source stream
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = source.toDF().toDF("id", "tag")
      .writeStream
      .foreachBatch(EventStream.appendEpoch(cat, "db", "sink", "qA") _)
      .start()
    try {
      source.addData((1L, "a"), (2L, "a"))
      q.processAllAvailable()
      source.addData((3L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(cat.readLatest("db", "sink").count() == 3)
    // the CURRENT snapshot carries the sink's high-water mark
    assert(cat.currentSnapshot("db", "sink").summary.get("stream-epoch.qA").contains("1"))

    // a REPLAYED epoch (at-least-once redelivery) must not double-append
    EventStream.appendEpoch(cat, "db", "sink", "qA")(Seq((9L, "dup")).toDF("id", "tag"), 0L)
    assert(cat.readLatest("db", "sink").count() == 3, "replayed epoch 0 was re-appended")
    // the appended snapshots tail straight back out through readStream
    spark.conf.set("spark.sql.catalog.snapsink", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapsink.warehouse", wh)
    val q2 = spark.readStream.option("starting-snapshot-id", "1").table("snapsink.db.sink")
      .writeStream.format("memory").queryName("sink_roundtrip").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("sink_roundtrip").count() == 3)
    } finally q2.stop()
    // the mark survives a compact between batches (no reopened window)
    cat.compact("db", "sink", numFiles = 1)
    EventStream.appendEpoch(cat, "db", "sink", "qA")(Seq((9L, "dup")).toDF("id", "tag"), 1L)
    assert(cat.readLatest("db", "sink").count() == 3, "replay after compact was re-appended")
    // a DIFFERENT sink feeding the same table keeps its own epochs
    EventStream.appendEpoch(cat, "db", "sink", "qB")(Seq((10L, "other")).toDF("id", "tag"), 0L)
    assert(cat.readLatest("db", "sink").count() == 4, "second sink's epoch 0 was dropped")
  }

  test("Trigger.AvailableNow drains the append tail, terminates, and resumes on the delta") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft_anwh_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a"), (2L, "a")).toDF("id", "tag")
    cat.createTable("db", "an", df0.schema)
    cat.append("db", "an", df0)                                  // 2
    cat.append("db", "an", Seq((3L, "b")).toDF("id", "tag"))     // 3
    spark.conf.set("spark.sql.catalog.snapan", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapan.warehouse", wh)

    val out = Files.createTempDirectory("graft_anout_").toString
    val ckpt = Files.createTempDirectory("graft_anckpt_").toString
    // "catch up, then stop": the query must terminate BY ITSELF — no
    // processAllAvailable/stop — which only works because the source
    // implements SupportsTriggerAvailableNow natively (Spark refuses the
    // generic wrapper for custom DSv2 sources)
    def runOnce(): Unit = {
      val q = spark.readStream.option("starting-snapshot-id", "1")
        .table("snapan.db.an")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).outputMode("append").start()
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 3, "first run drains the full backfill")

    cat.append("db", "an", Seq((4L, "c"), (5L, "c")).toDF("id", "tag")) // 4
    runOnce() // same checkpoint: only the delta
    val got = spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L, 5L), got.toString)
  }

  test("max-commits-per-trigger throttles a backfill to commit-sized batches") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft_mct_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "a")).toDF("id", "tag")
    cat.createTable("db", "mct", df0.schema)
    cat.append("db", "mct", df0)                                  // 2
    cat.append("db", "mct", Seq((2L, "b")).toDF("id", "tag"))     // 3
    cat.append("db", "mct", Seq((3L, "c")).toDF("id", "tag"))     // 4
    spark.conf.set("spark.sql.catalog.snapmct", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapmct.warehouse", wh)

    val q = spark.readStream
      .option("starting-snapshot-id", "1")
      .option("max-commits-per-trigger", "1")
      .table("snapmct.db.mct")
      .writeStream.format("memory").queryName("mct_out")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    assert(q.awaitTermination(120000), "throttled AvailableNow must still terminate")
    val got = spark.table("mct_out").select("id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L), got.toString)
    // three appends, one commit per trigger -> three non-empty batches
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      q.recentProgress.map(_.numInputRows).mkString(","))

    // a bad value fails loudly at stream construction
    val e = intercept[Exception] {
      spark.readStream.option("max-commits-per-trigger", "0")
        .table("snapmct.db.mct")
        .writeStream.format("memory").queryName("mct_bad")
        .outputMode("append").start().processAllAvailable()
    }
    assert(e.getMessage.contains("max-commits-per-trigger") ||
      e.getCause != null, e.getMessage)
  }

  test("Trigger.AvailableNow on .changes drains commit-per-batch and terminates") {
    import java.time.Instant
    import graft.catalog.SnapshotCatalog
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft_anchg_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh,
      clock = () => { tick += 1; Instant.parse("2026-05-01T00:00:00Z").plusSeconds(tick * 60) })
    val df0 = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("id", "tag")
    cat.createTable("db", "anc", df0.schema)
    cat.append("db", "anc", df0)                                 // 2
    cat.deleteMoR("db", "anc", col("id") === 2L)                 // 3
    cat.append("db", "anc", Seq((4L, "y")).toDF("id", "tag"))    // 4
    spark.conf.set("spark.sql.catalog.snapanc", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapanc.warehouse", wh)

    val q = spark.readStream.option("starting-snapshot-id", "1")
      .table("snapanc.db.anc.changes")
      .writeStream.format("memory").queryName("an_changes")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    assert(q.awaitTermination(120000), "AvailableNow .changes query did not self-terminate")
    val got = spark.table("an_changes").select("_change_type", "id")
      .as[(String, Long)].collect().sortBy(r => (r._2, r._1)).toSeq
    assert(got == Seq(("delete", 2L), ("insert", 2L),
      ("insert", 1L), ("insert", 3L), ("insert", 4L)).sortBy(r => (r._2, r._1)), got.toString)
    // the one-commit-per-trigger admission survives under AvailableNow:
    // three data commits -> at least three non-empty micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      q.recentProgress.map(_.numInputRows).mkString(","))
  }
}
