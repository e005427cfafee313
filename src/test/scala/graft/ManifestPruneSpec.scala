package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Manifest, ShardSummary, SnapshotCatalog}

/** TWO-LEVEL scan planning: per-shard summaries recorded in the pointer
  * log let a predicate skip whole manifest shards UNREAD — the 10^6-file
  * regime's fix for "the first plan per JVM parses every shard's JSON
  * inventory before any file-level skipping can happen".
  *
  * Gates: a pinned query opens ONLY the matching shards (asserted on the
  * resolution accounting AND on the loadManifest instrumentation across a
  * cold cache), results stay exactly scan-truth (randomized parity
  * battery, non-vacuous: skips must actually happen), and the summary
  * fold itself is a sound widening (unit battery). */
class ManifestPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(): SnapshotCatalog = {
    val wh = Files.createTempDirectory("graft_mp_").toString
    var tick = 0L
    new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-08-10T00:00:00Z").plusSeconds(tick * 60) })
  }

  test("pinned key-range query opens only the matching shard (10 shards)") {
    val cat = freshCat()
    cat.createTable("db", "t", StructType.fromDDL("id BIGINT, name STRING"))
    // 10 appends, each a disjoint id range -> 10 one-range shards
    (0 until 10).foreach { i =>
      cat.append("db", "t",
        (i * 100 until i * 100 + 50).map(j => (j.toLong, s"n$j")).toDF("id", "name"))
    }
    val cur = cat.currentSnapshotId("db", "t")
    val r = cat.resolveWhere(cat.loadTable("db", "t"), cur, col("id") === 240L)
    assert(r.shardsTotal == 10, s"expected 10 shards, got ${r.shardsTotal}")
    assert(r.shardsOpened == 1, s"expected 1 opened shard, got ${r.shardsOpened}")
    assert(r.kept.nonEmpty)

    // instrumentation across a COLD cache: the skipped shards' JSON is
    // never parsed (this is the driver-cost claim, not just bookkeeping)
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    val r2 = cat.resolveWhere(cat.loadTable("db", "t"), cur, col("id") === 240L)
    val parsed = SnapshotCatalog.manifestParses.get() - p0
    assert(r2.shardsOpened == 1 && parsed == 1,
      s"cold plan parsed $parsed shards (expected 1)")

    // and the read itself is exact
    val got = cat.readLatestWhere("db", "t", col("id") === 240L)
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((240L, "n240")))

    // a predicate spanning two ranges opens exactly those two shards
    val r3 = cat.resolveWhere(cat.loadTable("db", "t"), cur,
      col("id").isin(40L, 440L))
    assert(r3.shardsOpened == 2, s"got ${r3.shardsOpened}")
    // an unmatched predicate opens nothing
    val r4 = cat.resolveWhere(cat.loadTable("db", "t"), cur, col("id") === 99999L)
    assert(r4.shardsOpened == 0 && r4.kept.isEmpty)
  }

  test("pinned-partition query on a hive-partitioned table opens 1 of 8 shards") {
    val cat = freshCat()
    cat.createTable("db", "p", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 8).foreach { d =>
      cat.append("db", "p", (0 until 20).map(i =>
        (i.toLong, f"2024-01-$d%02d", i * 1.5)).toDF("id", "day", "v"))
    }
    val cur = cat.currentSnapshotId("db", "p")
    val r = cat.resolveWhere(cat.loadTable("db", "p"), cur, col("day") === "2024-01-05")
    assert(r.shardsTotal == 8 && r.shardsOpened == 1,
      s"opened ${r.shardsOpened} of ${r.shardsTotal}")
    assert(cat.readLatestWhere("db", "p", col("day") === "2024-01-05").count() == 20L)
    // cold-cache parse accounting
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    cat.resolveWhere(cat.loadTable("db", "p"), cur, col("day") === "2024-01-03")
    assert(SnapshotCatalog.manifestParses.get() - p0 == 1)
  }

  test("hidden day-transform table: timestamp pin opens only its day's shard") {
    val cat = freshCat()
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(Instant.parse(f"2024-02-$day%02dT10:00:00Z"))
    val mk = (d: Int) => (0 until 10).map(i => (i.toLong + d * 100, ts(d), s"v$i"))
      .toDF("id", "t", "tag")
    cat.createTransformPartitionedTable("db", "ev",
      mk(1).schema, "t", "day")
    (1 to 8).foreach(d => cat.appendTransformed("db", "ev", mk(d)))
    val cur = cat.currentSnapshotId("db", "ev")
    val r = cat.resolveWhere(cat.loadTable("db", "ev"), cur,
      col("t") >= lit("2024-02-04 00:00:00").cast("timestamp") &&
        col("t") < lit("2024-02-05 00:00:00").cast("timestamp"))
    assert(r.shardsTotal == 8 && r.shardsOpened == 1,
      s"opened ${r.shardsOpened} of ${r.shardsTotal}")
    val cnt = cat.readLatestWhere("db", "ev",
      col("t") >= lit("2024-02-04 00:00:00").cast("timestamp") &&
        col("t") < lit("2024-02-05 00:00:00").cast("timestamp")).count()
    assert(cnt == 10L)
  }

  test("MoR deletes: two-level reads stay exact and delete shards still apply") {
    val cat = freshCat()
    cat.createTable("db", "m", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 6).foreach { i =>
      cat.append("db", "m",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    cat.deleteMoR("db", "m", col("id") === 25L || col("id") === 26L)
    val cur = cat.currentSnapshotId("db", "m")
    val r = cat.resolveWhere(cat.loadTable("db", "m"), cur, col("id").between(20L, 29L))
    assert(r.shardsOpened < r.shardsTotal, s"${r.shardsOpened}/${r.shardsTotal}")
    val got = cat.readLatestWhere("db", "m", col("id").between(20L, 29L))
      .select("id").as[Long].collect().toSet
    assert(got == Set(20L, 21L, 22L, 23L, 24L, 27L, 28L, 29L))
  }

  test("randomized many-shard parity battery (non-vacuous skipping)") {
    val cat = freshCat()
    cat.createTable("db", "r", StructType.fromDDL("id BIGINT, k BIGINT, s STRING"))
    val rng = new scala.util.Random(20260816L)
    var live = Map.empty[Long, (Long, String)] // id -> (k, s) scan truth
    var skips = 0L
    var plans = 0L
    def checkParity(): Unit = {
      val cur = cat.currentSnapshotId("db", "r")
      val preds = Seq(
        col("id") === rng.nextInt(400).toLong,
        col("k").between(rng.nextInt(50).toLong, rng.nextInt(50).toLong + 25L),
        col("s").isin((0 until 3).map(_ => s"s${rng.nextInt(40)}"): _*),
        col("id") > rng.nextInt(300).toLong && col("k") < rng.nextInt(60).toLong)
      preds.foreach { p =>
        val r = cat.resolveWhere(cat.loadTable("db", "r"), cur, p)
        plans += 1; skips += (r.shardsTotal - r.shardsOpened)
        val twoLevel = cat.readLatestWhere("db", "r", p)
          .select("id", "k", "s").as[(Long, Long, String)].collect().toSet
        val truth = live.toSeq.map { case (id, (k, s)) => (id, k, s) }.toDF("id", "k", "s")
          .where(p).as[(Long, Long, String)].collect().toSet
        assert(twoLevel == truth, s"parity broke under $p")
      }
    }
    (0 until 14).foreach { step =>
      rng.nextInt(4) match {
        case 0 | 1 => // append a random (often narrow) id/k range
          val base = rng.nextInt(400)
          val n = 5 + rng.nextInt(20)
          val rows = (0 until n).map { j =>
            val id = (base + j).toLong
            (id, rng.nextInt(60).toLong, s"s${rng.nextInt(40)}")
          }
          cat.append("db", "r", rows.toDF("id", "k", "s"))
          rows.foreach { case (id, k, s) => live += id -> (k, s) }
        case 2 => // MoR delete of a random id band
          val lo = rng.nextInt(400).toLong; val hi = lo + rng.nextInt(40)
          cat.deleteMoR("db", "r", col("id").between(lo, hi))
          live = live.filterNot { case (id, _) => id >= lo && id <= hi }
        case 3 => // value-pinned delete on the string column
          val v = s"s${rng.nextInt(40)}"
          cat.deleteMoR("db", "r", col("s") === v)
          live = live.filterNot { case (_, (_, s)) => s == v }
      }
      if (step % 3 == 2) checkParity()
    }
    checkParity()
    assert(skips > 0, s"vacuous battery: $plans plans, zero shard skips")
  }

  test("summary fold is a sound widening (unit battery)") {
    val schema = StructType.fromDDL("id BIGINT, s STRING, d DOUBLE")
    val m = Manifest(
      files = Seq("data/s2/a.parquet", "data/s3/b.parquet"),
      fileStats = Map(
        "data/s2/a.parquet" -> Map("rows" -> "10", "min.id" -> "5", "max.id" -> "9",
          "nulls.id" -> "0", "min.s" -> "aa", "max.s" -> "bz", "nulls.s" -> "2",
          "bloom.id" -> "blooms/a"),
        "data/s3/b.parquet" -> Map("rows" -> "4", "min.id" -> "100", "max.id" -> "140",
          "nulls.id" -> "0", "min.s" -> "ba", "max.s" -> "ca", "nulls.s" -> "4")))
    val s = ShardSummary.of(m, schema, Seq.empty)
    assert(s.fileCount == 2)
    assert(s.stats("rows") == "14")
    assert(s.stats("min.id") == "5" && s.stats("max.id") == "140")
    assert(s.stats("min.s") == "aa" && s.stats("max.s") == "ca")
    assert(s.stats("nulls.s") == "6")
    // per-file-only keys never fold
    assert(!s.stats.contains("bloom.id") && !s.stats.contains("bytes"))
    assert(s.dirs.contains(Seq("data/s2", "data/s3")))

    def may(c: org.apache.spark.sql.Column): Boolean = {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      val preds = empty.where(c).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      ShardSummary.mayMatch(s, schema, preds, None, None)
    }
    assert(!may(col("id") === 200L)) // beyond the fold: provably excluded
    assert(may(col("id") === 50L)) // inside the folded range: shard loads
    assert(!may(col("s") === "zz"))
    assert(may(col("s").startsWith("b")))
    assert(!may(col("id").isNull)) // summed nulls prove none
    assert(may(col("s").isNull))
    // a column with no folded stats never skips
    assert(may(col("d") === 1.0))

    // empty shard matches nothing
    val empty = ShardSummary.of(Manifest.empty, schema, Seq.empty)
    assert(!ShardSummary.mayMatch(empty, schema, Seq.empty, None, None))

    // a file MISSING a stat poisons only that key's fold
    val m2 = Manifest(Seq("data/s2/a.parquet", "data/s4/c.parquet"),
      Map("data/s2/a.parquet" -> Map("rows" -> "10", "min.id" -> "5", "max.id" -> "9"),
        "data/s4/c.parquet" -> Map("rows" -> "3")))
    val s2 = ShardSummary.of(m2, schema, Seq.empty)
    assert(s2.stats.get("rows").contains("13"))
    assert(!s2.stats.contains("min.id") && !s2.stats.contains("max.id"))

    // JSON round trip
    val back = ShardSummary.fromJson(
      graft.catalog.Json.parse(graft.catalog.Json.writePretty(s.toJson))
        .asInstanceOf[graft.catalog.JObj])
    assert(back == s)
  }

  test("many-file planning battery: one MILLION synthetic files, pinned plan stays O(matching shards)") {
    // Forge the METADATA of a 10^6-file table (125 shards x 8000 files,
    // one hive day-partition per shard) directly in the on-disk formats —
    // planning never stats or opens data files, so the battery measures
    // exactly the driver cost the two-level planner bounds. This is the
    // scale axis the sf0.1 bench cannot see.
    val wh = Files.createTempDirectory("graft_mp_big_").toString
    val cat = new SnapshotCatalog(spark, wh, clock = () =>
      Instant.parse("2026-08-10T00:00:00Z"))
    val schema = StructType.fromDDL("id BIGINT, day STRING, v DOUBLE")
    cat.createTable("db", "big", schema, partitionCols = Seq("day"))
    val snapDir = java.nio.file.Paths.get(wh, "db", "big", "_snapshots")
    val nShards = 125
    val filesPerShard = 8000
    val sums = Map.newBuilder[String, ShardSummary]
    val names = (0 until nShards).map { k =>
      val day = f"2024-03-$k%03d" // synthetic; distinctness is what matters
      val files = (0 until filesPerShard).map(j =>
        s"data/s${k + 2}/day=$day/part-$j.parquet")
      val stats = files.zipWithIndex.map { case (f, j) =>
        val base = (k.toLong * filesPerShard + j) * 100
        f -> Map("rows" -> "100", "nulls.id" -> "0",
          "min.id" -> base.toString, "max.id" -> (base + 99).toString)
      }.toMap
      val m = Manifest(files, stats)
      val name = s"m${k + 2}.json"
      Files.write(snapDir.resolve(name),
        graft.catalog.Json.writePretty(m.toJson).getBytes("UTF-8"))
      sums += name -> ShardSummary.of(m, schema, Seq("day"))
      name
    }
    // splice the forged shards into the log as snapshot 2 (the formats are
    // the catalog's own: entries + table-level shard_summaries)
    val entry = graft.catalog.SnapshotEntry(2L, "2026-08-10T00:01:00Z", "append",
      Map("record_count" -> (nShards.toLong * filesPerShard * 100).toString),
      schema.toDDL, names)
    val logFile = snapDir.resolve("log.json")
    val prior = graft.catalog.Json.parse(
      new String(Files.readAllBytes(logFile), "UTF-8")).asInstanceOf[graft.catalog.JObj]
    import graft.catalog.{JArr, JObj, JValue, Json}
    Files.write(logFile, Json.writePretty(Json.obj(
      "format_version" -> (Json.num(2L): JValue),
      "entries" -> (JArr(prior.arr("entries") :+ (entry.toJson: JValue)): JValue),
      "shard_summaries" -> (JObj(sums.result().toVector.sortBy(_._1)
        .map { case (n, s) => n -> (s.toJson: JValue) }): JValue))).getBytes("UTF-8"))

    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1000000L)
    }
    // warm the JVM constants (first-call Catalyst analysis, classloading)
    // so the timed comparison isolates METADATA cost, the thing that
    // scales with file count
    cat.resolveWhere(cat.loadTable("db", "big"), 2L, col("day") === "2024-03-000")
    // pinned-partition plan, COLD manifest cache: parses exactly 1 of the
    // 125 shards — the million-file inventory is never read
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    val (r, coldMs) = timed(cat.resolveWhere(cat.loadTable("db", "big"), 2L, col("day") === "2024-03-042"))
    assert(r.shardsTotal == nShards && r.shardsOpened == 1,
      s"opened ${r.shardsOpened} of ${r.shardsTotal}")
    assert(SnapshotCatalog.manifestParses.get() - p0 == 1)
    assert(r.kept.size == filesPerShard) // every file of the day's shard
    // a key pin composes: day + id range prunes to the one file
    val r2 = cat.resolveWhere(cat.loadTable("db", "big"), 2L,
      col("day") === "2024-03-042" && col("id") === 33600550L)
    assert(r2.shardsOpened == 1 && r2.kept.size == 1, s"${r2.kept.size} files")
    // and the pinned plan is an order of magnitude cheaper than full
    // materialization of the same inventory (both cold) — the relative
    // assertion is machine-drift-proof. Since r15 `materialize` is LAZY
    // (snapshot fields defer until walked), so the comparison must FORCE
    // the full inventory — `.files.size` walks every shard.
    SnapshotCatalog.clearManifestCacheForTest()
    val (_, fullMs) = timed(cat.snapshotAt("db", "big", 2L).files.size)
    assert(coldMs * 5 < math.max(fullMs, 250L),
      s"pinned cold plan ${coldMs}ms vs full materialize ${fullMs}ms")
    // LAZY MATERIALIZE (r15): schema/summary/snapshot-id access through
    // the Snapshot surface — the SQL plugin's per-analysis table
    // resolution shape — parses ZERO shards on a cold cache; only walking
    // the inventory pays for it
    SnapshotCatalog.clearManifestCacheForTest()
    val lz0 = SnapshotCatalog.manifestParses.get()
    val curSnap = cat.currentSnapshot("db", "big")
    assert(curSnap.schema.fieldNames.sameElements(Seq("id", "day", "v")))
    assert(curSnap.recordCount == nShards.toLong * filesPerShard * 100)
    assert(cat.snapshotList("db", "big").map(_.snapshotId).nonEmpty)
    val lazyParsed = SnapshotCatalog.manifestParses.get() - lz0
    assert(lazyParsed == 0,
      s"schema/summary reads parsed $lazyParsed shards (expected 0)")
    // WRITE PATH at the same scale: an append to the million-file table is
    // pointer-level — zero shard parses on a cold cache, and the commit's
    // file-count arithmetic comes off the recorded summaries
    SnapshotCatalog.clearManifestCacheForTest()
    val ap0 = SnapshotCatalog.manifestParses.get()
    val snap = cat.append("db", "big",
      Seq((999999999L, "2024-03-125", 1.0)).toDF("id", "day", "v"))
    val appendParsed = SnapshotCatalog.manifestParses.get() - ap0
    assert(appendParsed == 0,
      s"append to the million-file table parsed $appendParsed shards (expected 0)")
    assert(snap.summary("total_files").toLong ==
      nShards.toLong * filesPerShard + snap.summary("added_files").toLong)
    assert(snap.recordCount == nShards.toLong * filesPerShard * 100 + 1)
  }

  test("SQL scan path: pinned-partition SELECT parses only the matching shards (cold cache)") {
    val wh = Files.createTempDirectory("graft_mp_sql_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-08-10T00:00:00Z").plusSeconds(tick * 60) })
    cat.createTable("db", "p", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    (1 to 8).foreach { d =>
      cat.append("db", "p", (0 until 20).map(i =>
        (i.toLong + d * 100, f"2024-01-$d%02d", i * 1.5)).toDF("id", "day", "v"))
    }
    spark.conf.set("spark.sql.catalog.mpsql", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.mpsql.warehouse", wh)
    // warm the non-manifest constants (catalog wiring, analysis)
    spark.sql("SELECT id, v FROM mpsql.db.p WHERE day = '2024-01-01'").collect()
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    val got = spark.sql("SELECT id, v FROM mpsql.db.p WHERE day = '2024-01-05'")
      .as[(Long, Double)].collect().toSet
    val parsed = SnapshotCatalog.manifestParses.get() - p0
    assert(got == (0 until 20).map(i => (i.toLong + 500, i * 1.5)).toSet)
    assert(parsed == 1, s"pinned SQL plan parsed $parsed of 8 shards (expected 1)")
    // time-travel reader option rides the same two-level lane
    SnapshotCatalog.clearManifestCacheForTest()
    val p1 = SnapshotCatalog.manifestParses.get()
    val tt = spark.read.option("snapshot-id",
        cat.currentSnapshotId("db", "p").toString)
      .table("mpsql.db.p").where(col("day") === "2024-01-03").count()
    assert(tt == 20L)
    val parsedTt = SnapshotCatalog.manifestParses.get() - p1
    assert(parsedTt <= 2, s"time-travel pinned plan parsed $parsedTt shards")
  }

  test("shard-tier LIMIT and TopN: filterless pushdowns parse only covering/extreme shards") {
    val wh = Files.createTempDirectory("graft_mp_tn_").toString
    var tick = 0L
    val cat = new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-08-10T00:00:00Z").plusSeconds(tick * 60) })
    // 10 appends of disjoint ascending id ranges — the time-series shape
    // where shard summaries are disjoint on the sort column
    cat.createTable("db", "t", StructType.fromDDL("id BIGINT, v BIGINT"))
    (0 until 10).foreach { i =>
      cat.append("db", "t",
        (i * 100 until i * 100 + 60).map(j => (j.toLong, j.toLong * 3)).toDF("id", "v"))
    }
    spark.conf.set("spark.sql.catalog.mptn", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.mptn.warehouse", wh)
    spark.sql("SELECT id FROM mptn.db.t LIMIT 1").collect() // warm wiring
    // bare LIMIT: the first shard's 60 recorded rows cover n=25 — one
    // shard parses cold, and the scan serves exactly 25 rows
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    assert(spark.sql("SELECT id, v FROM mptn.db.t LIMIT 25").count() == 25L)
    val limitParsed = SnapshotCatalog.manifestParses.get() - p0
    assert(limitParsed == 1, s"LIMIT parsed $limitParsed of 10 shards (expected 1)")
    // ORDER BY id DESC LIMIT: only the TOP shard's range can hold the
    // top-5; every other shard is box-excluded unread
    SnapshotCatalog.clearManifestCacheForTest()
    val p1 = SnapshotCatalog.manifestParses.get()
    val top = spark.sql("SELECT id FROM mptn.db.t ORDER BY id DESC LIMIT 5")
      .as[Long].collect().toSeq
    val topParsed = SnapshotCatalog.manifestParses.get() - p1
    assert(top == (0 until 5).map(i => (959 - i).toLong), top.toString)
    assert(topParsed == 1, s"TopN parsed $topParsed of 10 shards (expected 1)")
    // ascending leaderboard reads the BOTTOM shard only
    SnapshotCatalog.clearManifestCacheForTest()
    val bottom = spark.sql("SELECT id FROM mptn.db.t ORDER BY id ASC LIMIT 5")
      .as[Long].collect().toSeq
    assert(bottom == (0 until 5).map(_.toLong))
    // a live MoR delete disarms both shard tiers (counts overstate
    // visible rows) — results stay exact
    cat.deleteMoR("db", "t", col("id") === 959L)
    assert(spark.sql("SELECT id FROM mptn.db.t ORDER BY id DESC LIMIT 2")
      .as[Long].collect().toSeq == Seq(958L, 957L))
    assert(spark.sql("SELECT id FROM mptn.db.t LIMIT 25").count() == 25L)
  }

  test("partition-aligned manifest consolidation keeps pinned plans one-shard") {
    val cat = freshCat()
    cat.createTable("db", "c", StructType.fromDDL("id BIGINT, day STRING, v DOUBLE"),
      partitionCols = Seq("day"))
    // two appends per day -> 2 shards/day; consolidation must fold them
    // BY PARTITION, not into one all-spanning shard
    (1 to 6).foreach { d =>
      (0 until 2).foreach { half =>
        cat.append("db", "c", (0 until 10).map(i =>
          (i.toLong + half * 100, f"2024-02-$d%02d", i * 1.0)).toDF("id", "day", "v"))
      }
    }
    assert(cat.rewriteManifests("db", "c").isDefined)
    val cur = cat.currentSnapshotId("db", "c")
    val r = cat.resolveWhere(cat.loadTable("db", "c"), cur, col("day") === "2024-02-04")
    assert(r.shardsTotal == 6, s"expected one shard per day, got ${r.shardsTotal}")
    assert(r.shardsOpened == 1, s"opened ${r.shardsOpened}")
    assert(cat.readLatestWhere("db", "c", col("day") === "2024-02-04").count() == 20L)
    // idempotent: the sharding already matches the target
    assert(cat.rewriteManifests("db", "c").isEmpty)
    // content identical across the consolidation
    assert(cat.readLatest("db", "c").count() == 120L)
    // an unpartitioned sort-ordered table consolidates into range-disjoint
    // splits (summary bounds stay tight for TopN/limit tiers)
    val cat2 = freshCat()
    cat2.createTable("db", "u", StructType.fromDDL("id BIGINT, v BIGINT"),
      properties = Map("write.sort-order" -> "id"))
    (0 until 6).foreach { i =>
      cat2.append("db", "u",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, j.toLong)).toDF("id", "v"))
    }
    spark.conf.set("graft.manifest.maxFilesPerShard", "2")
    try {
      assert(cat2.rewriteManifests("db", "u").isDefined)
      val cur2 = cat2.currentSnapshotId("db", "u")
      val r2 = cat2.resolveWhere(cat2.loadTable("db", "u"), cur2, col("id") === 5L)
      assert(r2.shardsTotal > 1 && r2.shardsOpened == 1,
        s"${r2.shardsOpened}/${r2.shardsTotal}")
      assert(cat2.readLatest("db", "u").count() == 60L)
    } finally spark.conf.unset("graft.manifest.maxFilesPerShard")
  }

  test("incremental read shard-diff: a pure-append range parses only the delta shards") {
    val cat = freshCat()
    cat.createTable("db", "i", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 8).foreach { i =>
      cat.append("db", "i",
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    val ids = cat.entryLog("db", "i").map(_.snapshotId)
    val (fromId, toId) = (ids(4), ids(6)) // appends 4 and 5 in range
    // cold cache: only the TWO delta shards parse — from/to are never
    // materialized for a range the pointer log proves pure-append
    SnapshotCatalog.clearManifestCacheForTest()
    val p0 = SnapshotCatalog.manifestParses.get()
    val got = cat.readIncremental("db", "i", fromId, toId)
      .select("id").as[Long].collect().toSet
    val parsed = SnapshotCatalog.manifestParses.get() - p0
    assert(got == (40L until 60L).toSet, got.toString)
    assert(parsed == 2, s"pure-append increment parsed $parsed shards (expected 2)")
    // a MoR delete inside the range still rides the fast path (delete
    // shards are pointer metadata) and the added rows read MERGED
    cat.deleteMoR("db", "i", col("id") === 65L)
    cat.append("db", "i",
      (80 until 90).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    val head = cat.currentSnapshotId("db", "i")
    val got2 = cat.readIncremental("db", "i", ids(5), head)
      .select("id").as[Long].collect().toSet
    assert(got2 == ((50L until 80L).toSet - 65L) ++ (80L until 90L), got2.toString)
    // a rewrite in range falls off the fast path and stays exact
    cat.compact("db", "i", 2)
    cat.append("db", "i",
      (90 until 95).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    val got3 = cat.readIncremental("db", "i", head, cat.currentSnapshotId("db", "i"))
      .select("id").as[Long].collect().toSet
    assert(got3 == (90L until 95L).toSet, got3.toString)
  }

  test("summaries survive the log round trip and GC with expired shards") {
    val cat = freshCat()
    cat.createTable("db", "g", StructType.fromDDL("id BIGINT, v STRING"))
    (0 until 5).foreach { i =>
      cat.append("db", "g",
        (i * 10 until i * 10 + 5).map(j => (j.toLong, s"v$j")).toDF("id", "v"))
    }
    // compaction rewrites the inventory into fresh shards; expiry then
    // drops the old entries — their shard names must leave the summary map
    cat.compact("db", "g", 1)
    cat.expireSnapshots("db", "g", keepLast = 1)
    val cur = cat.currentSnapshotId("db", "g")
    val r = cat.resolveWhere(cat.loadTable("db", "g"), cur, col("id") === 3L)
    assert(r.shardsOpened <= r.shardsTotal)
    assert(cat.readLatestWhere("db", "g", col("id") === 3L).count() == 1L)
  }
}
