package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog

/** Versioned SQL views (Iceberg view-spec shape): create/replace keeps a
  * full version history through the CAS pointer-log seam; plain SQL
  * SELECT resolves through the extensions' substitution rule (Spark 4.1
  * has the ViewCatalog API but no analyzer integration of its own). */
class ViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(): (SnapshotCatalog, String) = {
    val wh = Files.createTempDirectory("graft_view_").toString
    var tick = 0L
    (new SnapshotCatalog(spark, wh, clock = () =>
      { tick += 1; Instant.parse("2026-07-01T00:00:00Z").plusSeconds(tick * 60) }), wh)
  }

  private def register(wh: String, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  /** Ground-truth recomputes must NOT be served by the MV rewrite rule —
    * a fresh MV would otherwise answer both sides of the assertion. */
  private def noRewrite[T](body: => T): T = {
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try body finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
  }

  /** One refresh of `db.<view>`, gated: it starts at most `maxJobs` Spark
    * jobs, and every frame it checkpointed is released by the time it
    * returns (no RDD it persisted is still registered). Returns the mode. */
  private def gatedRefresh(cat: SnapshotCatalog, view: String,
      maxJobs: Int = Int.MaxValue): String = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ((mode, _), jobs) =
      SparkJobs.counted(spark)(cat.refreshMaterializedView("db", view))
    info(s"$view refresh ($mode): $jobs jobs")
    assert(jobs <= maxJobs, s"$view refresh ($mode) ran $jobs Spark jobs, gate $maxJobs")
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.isEmpty, s"$view refresh ($mode) left RDDs persisted: $held")
    mode
  }

  test("create, SELECT through plain SQL, late binding, version history, restore") {
    val (cat, wh) = freshCat()
    register(wh, "vcat")
    val a = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L)).toDF("id", "tag", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)

    cat.createView("db", "xs", "SELECT id, v FROM vcat.db.base WHERE tag = 'x'")
    // plain SQL resolves the view via the substitution rule
    val got = spark.sql("SELECT * FROM vcat.db.xs ORDER BY id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L), (3L, 30L)), got.toString)

    // LATE binding: new rows in the base table flow through on next query
    cat.append("db", "base", Seq((4L, "x", 40L)).toDF("id", "tag", "v"))
    assert(spark.sql("SELECT count(*) AS c FROM vcat.db.xs").as[Long].head() == 3L)

    // replace bumps the version and keeps history
    cat.createView("db", "xs", "SELECT id FROM vcat.db.base WHERE tag = 'y'",
      replace = true)
    assert(spark.sql("SELECT * FROM vcat.db.xs").as[Long].collect().toSeq == Seq(2L))
    val hist = spark.sql("CALL vcat.system.view_versions('db.xs')")
      .collect().map(r => (r.getInt(0), r.getBoolean(2))).toSeq
    assert(hist == Seq((1, false), (2, true)), hist.toString)

    // restore re-points at v1 SQL as a NEW version 3
    val restored = spark.sql("CALL vcat.system.restore_view('db.xs', 1)").collect()
    assert(restored(0).getInt(1) == 3)
    assert(spark.sql("SELECT count(*) AS c FROM vcat.db.xs").as[Long].head() == 3L)
  }

  test("nested views resolve; replace-to-cycle refuses; DML on a view refuses") {
    val (cat, wh) = freshCat()
    register(wh, "vnest")
    val a = Seq((1L, 5L), (2L, 6L)).toDF("id", "v")
    cat.createTable("db", "t", a.schema)
    cat.append("db", "t", a)
    cat.createView("db", "v1", "SELECT id, v * 2 AS v2 FROM vnest.db.t")
    cat.createView("db", "v2", "SELECT sum(v2) AS s FROM vnest.db.v1")
    assert(spark.sql("SELECT s FROM vnest.db.v2").as[Long].head() == 22L)

    // v1 -> v2 -> v1 would be a cycle: the replace refuses
    val e = intercept[IllegalArgumentException] {
      cat.createView("db", "v1", "SELECT s AS x FROM vnest.db.v2", replace = true)
    }
    assert(e.getMessage.contains("reference itself"), e.getMessage)
    // ...and the view still serves its old definition
    assert(spark.sql("SELECT s FROM vnest.db.v2").as[Long].head() == 22L)

    // views are not write targets
    val w = intercept[Exception] {
      spark.sql("INSERT INTO vnest.db.v1 VALUES (9, 9)")
    }
    assert(w.getMessage.toLowerCase.contains("not found") ||
      w.getMessage.toLowerCase.contains("view"), w.getMessage)
  }

  test("SQL-only lifecycle: create_view with aliases, show_views, drop_view") {
    val (cat, wh) = freshCat()
    register(wh, "vsql")
    val a = Seq((1L, 2L)).toDF("x", "y")
    cat.createTable("db", "t2", a.schema)
    cat.append("db", "t2", a)
    spark.sql(
      "CALL vsql.system.create_view('db.pair', 'SELECT x, y FROM vsql.db.t2', false, 'a,b')")
    val got = spark.sql("SELECT a, b FROM vsql.db.pair").as[(Long, Long)].head()
    assert(got == ((1L, 2L)))
    val shown = spark.sql("CALL vsql.system.show_views('db')")
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("db.pair"), shown.toString)
    assert(spark.sql("CALL vsql.system.drop_view('db.pair')").collect()(0).getBoolean(0))
    assert(spark.sql("CALL vsql.system.show_views('db')").count() == 0)
    // a typo'd body fails at CREATE (analysis gate), not at first read
    val e = intercept[Exception] {
      spark.sql("CALL vsql.system.create_view('db.bad', 'SELECT zz FROM vsql.db.t2', false, NULL)")
    }
    assert(e.getMessage.contains("zz") || e.getMessage.contains("UNRESOLVED"), e.getMessage)
  }

  test("materialized view: reads serve the table; incremental refresh appends the delta") {
    val (cat, wh) = freshCat()
    register(wh, "mvcat")
    val a = (0 until 100).map(i => (i.toLong, s"t${i % 4}", i * 10L)).toDF("id", "tag", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)

    spark.sql("CALL mvcat.system.create_materialized_view('db.t0s', " +
      "'SELECT id, v FROM mvcat.db.base WHERE tag = ''t0''', false)")
    assert(spark.sql("SELECT count(*) AS c FROM mvcat.db.t0s").as[Long].head() == 25L)
    // the read plan hits the BACKING TABLE, not the base (materialized:
    // a base append is invisible until refresh — unlike the live view)
    cat.append("db", "base", Seq((100L, "t0", 1000L)).toDF("id", "tag", "v"))
    assert(spark.sql("SELECT count(*) AS c FROM mvcat.db.t0s").as[Long].head() == 25L,
      "materialized reads must serve the stored results, not re-run the body")

    // refresh: single-base project/filter over an append-only range ->
    // INCREMENTAL (backing table gets an append commit, not a rebuild)
    val mvSnaps0 = cat.snapshotList("db", "__mv_t0s").size
    val r1 = spark.sql("CALL mvcat.system.refresh_materialized_view('db.t0s')")
      .collect()(0)
    assert(r1.getString(0) == "incremental" && r1.getLong(1) == 1L, r1.toString)
    assert(spark.sql("SELECT count(*) AS c FROM mvcat.db.t0s").as[Long].head() == 26L)
    assert(cat.snapshotList("db", "__mv_t0s").size == mvSnaps0 + 1)
    assert(cat.currentSnapshot("db", "__mv_t0s").operation == "append")

    // fresh: nothing to do
    val r2 = spark.sql("CALL mvcat.system.refresh_materialized_view('db.t0s')").collect()(0)
    assert(r2.getString(0) == "fresh" && r2.getLong(1) == 0L)

    // a DELETE in the base forces a FULL rebuild (append-only range broken)
    cat.deleteMoR("db", "base", col("id") === 0L)
    val r3 = spark.sql("CALL mvcat.system.refresh_materialized_view('db.t0s')").collect()(0)
    assert(r3.getString(0) == "full", r3.toString)
    assert(spark.sql("SELECT count(*) AS c FROM mvcat.db.t0s").as[Long].head() == 25L)
    // result agrees with running the body directly
    assert(spark.sql("SELECT sum(v) FROM mvcat.db.t0s").as[Long].head() ==
      spark.sql("SELECT sum(v) FROM mvcat.db.base WHERE tag = 't0'").as[Long].head())

    // an AGGREGATE body with mergeable functions refreshes via the r9
    // group-wise merge path (incremental_agg), value-identical to full
    spark.sql("CALL mvcat.system.create_materialized_view('db.tagsum', " +
      "'SELECT tag, sum(v) AS sv FROM mvcat.db.base GROUP BY tag', false)")
    cat.append("db", "base", Seq((101L, "t1", 7L)).toDF("id", "tag", "v"))
    val r4 = spark.sql("CALL mvcat.system.refresh_materialized_view('db.tagsum')").collect()(0)
    assert(r4.getString(0) == "incremental_agg", r4.toString)
    assert(spark.sql("SELECT sv FROM mvcat.db.tagsum WHERE tag = 't1'").as[Long].head() ==
      spark.sql("SELECT sum(v) FROM mvcat.db.base WHERE tag = 't1'").as[Long].head())

    // dropping the MV drops the backing table too
    spark.sql("CALL mvcat.system.drop_view('db.t0s')")
    assert(!cat.tableExists("db", "__mv_t0s"))
  }

  test("VERSION/TIMESTAMP AS OF on a view time-travels the DEFINITION, evaluated live") {
    val (cat, wh) = freshCat() // clock ticks +60s per call from 2026-07-01T00:00Z
    register(wh, "vtt")
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    cat.createTable("db", "t", a.schema)
    cat.append("db", "t", a)
    cat.createView("db", "m", "SELECT sum(v) AS metric FROM vtt.db.t")          // v1
    cat.createView("db", "m", "SELECT sum(v) * 2 AS metric FROM vtt.db.t",
      replace = true)                                                           // v2
    assert(spark.sql("SELECT metric FROM vtt.db.m").as[Long].head() == 60L)
    // the OLD definition, evaluated against TODAY's data
    assert(spark.sql("SELECT metric FROM vtt.db.m VERSION AS OF 1")
      .as[Long].head() == 30L)
    // ...including data that arrived after the replace (live evaluation)
    cat.append("db", "t", Seq((3L, 5L)).toDF("id", "v"))
    assert(spark.sql("SELECT metric FROM vtt.db.m VERSION AS OF 1")
      .as[Long].head() == 35L)
    // timestamp between v1 and v2 resolves the version current THEN
    val ts = java.time.Instant.parse(
      cat.loadView("db", "m").get.versions.head.timestampUtc).plusSeconds(1)
    assert(spark.sql(s"SELECT metric FROM vtt.db.m TIMESTAMP AS OF '$ts'")
      .as[Long].head() == 35L)
    // bad version / pre-creation timestamp fail loudly
    val e = intercept[Exception] {
      spark.sql("SELECT metric FROM vtt.db.m VERSION AS OF 9").collect()
    }
    assert(e.getMessage.contains("no version 9"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT metric FROM vtt.db.m TIMESTAMP AS OF '2020-01-01T00:00:00Z'")
        .collect()
    }
    assert(e2.getMessage.contains("no version existed"), e2.getMessage)
  }

  test("view documents ride the CAS pointer-log seam: object-store deployment works") {
    import graft.catalog.{CasCommitMutex, InMemoryObjectStore, ObjectStorePointerLogStore}
    val wh = Files.createTempDirectory("graft_viewcas_").toString
    val store = new InMemoryObjectStore
    def mk() = new SnapshotCatalog(spark, wh,
      mutex = new CasCommitMutex, log = new ObjectStorePointerLogStore(store))
    val cat = mk()
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    // the object-store catalog has no session-registered SQL identity
    // here (a registered plugin would build a FILE-store instance and
    // miss the store-only pointer log) — the view body resolves through
    // a temp view; what this test pins down is the DOCUMENT round-trip:
    // create/replace/load/drop through the conditional store alone.
    cat.readLatest("db", "base").createOrReplaceTempView("cas_base")
    cat.createView("db", "doubled", "SELECT id, v * 2 AS v2 FROM cas_base")
    val cat2 = mk() // fresh instance: state lives in the STORE
    assert(cat2.viewExists("db", "doubled"))
    assert(cat2.loadView("db", "doubled").get.currentVersion.sql.contains("v * 2"))
    cat2.createView("db", "doubled", "SELECT id, v * 3 AS v2 FROM cas_base",
      replace = true)
    assert(mk().loadView("db", "doubled").get.versions.map(_.version) == Seq(1, 2))
    assert(mk().dropView("db", "doubled"))
    assert(!mk().viewExists("db", "doubled"))
  }

  test("ViewCatalog API surface: loadView metadata, rename, properties") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange}
    val (cat, wh) = freshCat()
    register(wh, "vapi")
    val a = Seq((1L, "p")).toDF("id", "s")
    cat.createTable("db", "t3", a.schema)
    cat.append("db", "t3", a)
    cat.createView("db", "vv", "SELECT id FROM vapi.db.t3",
      properties = Map("comment" -> "ids only"))
    val plugin = spark.sessionState.catalogManager.catalog("vapi")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
    val ident = Identifier.of(Array("db"), "vv")
    assert(plugin.viewExists(ident))
    val v = plugin.loadView(ident)
    assert(v.query().contains("SELECT id"))
    assert(v.properties().get("comment") == "ids only")
    assert(v.schema().fieldNames.toSeq == Seq("id"))
    plugin.alterView(ident, ViewChange.setProperty("owner", "ops"))
    assert(plugin.loadView(ident).properties().get("owner") == "ops")
    plugin.renameView(ident, Identifier.of(Array("db"), "vv2"))
    assert(!plugin.viewExists(ident))
    assert(spark.sql("SELECT id FROM vapi.db.vv2").as[Long].head() == 1L)
    assert(plugin.listViews("db").map(_.name()).toSeq == Seq("vv2"))
  }

  test("MV with a subquery body: subquery base pins, refresh is full and never stale-fresh") {
    val (cat, wh) = freshCat()
    register(wh, "vsub")
    val t = Seq(1L, 5L, 9L, 13L).toDF("a")
    val u = Seq(4L).toDF("x")
    cat.createTable("db", "t", t.schema); cat.append("db", "t", t)
    cat.createTable("db", "u", u.schema); cat.append("db", "u", u)

    cat.createMaterializedView("db", "big",
      "SELECT a FROM vsub.db.t WHERE a > (SELECT max(x) FROM vsub.db.u)")
    assert(spark.sql("SELECT a FROM vsub.db.big ORDER BY a").as[Long].collect().toSeq ==
      Seq(5L, 9L, 13L))
    // the subquery's base is harvested + pinned like any other base
    val props = cat.loadView("db", "big").get.properties
    assert(props.contains("mv.base.db.t") && props.contains("mv.base.db.u"),
      props.toString)

    // ONLY the subquery base moves: the refresh must see it (not "fresh")
    // and must re-run FULL (delta-substitution is invalid under a subquery)
    cat.append("db", "u", Seq(8L).toDF("x"))
    val (mode1, _) = cat.refreshMaterializedView("db", "big")
    assert(mode1 == "full", s"expected full refresh when subquery base moved, got $mode1")
    assert(spark.sql("SELECT a FROM vsub.db.big ORDER BY a").as[Long].collect().toSeq ==
      Seq(9L, 13L))

    // an append-only range on the MAIN base alone still refuses
    // incremental: the body carries a subquery expression
    cat.append("db", "t", Seq(20L).toDF("a"))
    val (mode2, _) = cat.refreshMaterializedView("db", "big")
    assert(mode2 == "full", s"subquery bodies must never take the incremental path, got $mode2")
    assert(spark.sql("SELECT a FROM vsub.db.big ORDER BY a").as[Long].collect().toSeq ==
      Seq(9L, 13L, 20L))

    // a cycle routed THROUGH a subquery expression still refuses
    cat.createView("db", "other", "SELECT a AS b FROM vsub.db.big")
    val e = intercept[IllegalArgumentException] {
      cat.createView("db", "big",
        "SELECT a FROM vsub.db.t WHERE a > (SELECT max(b) FROM vsub.db.other)",
        replace = true)
    }
    assert(e.getMessage.contains("reference itself"), e.getMessage)
  }

  test("createView refuses command/DML bodies WITHOUT executing them") {
    val (cat, wh) = freshCat()
    register(wh, "vcmd")
    val a = Seq((1L, 2L)).toDF("id", "v")
    cat.createTable("db", "prey", a.schema)
    cat.append("db", "prey", a)
    for (body <- Seq(
        "DROP TABLE vcmd.db.prey",
        "INSERT INTO vcmd.db.prey VALUES (9, 9)",
        "DELETE FROM vcmd.db.prey WHERE id = 1",
        "CALL vcmd.system.expire_snapshots('db.prey', 1)")) {
      val e = intercept[IllegalArgumentException] {
        cat.createView("db", "evil", body)
      }
      assert(e.getMessage.contains("must be a query"), s"$body -> ${e.getMessage}")
    }
    // nothing executed: table intact, row intact, no view created
    assert(cat.tableExists("db", "prey"))
    assert(spark.sql("SELECT v FROM vcmd.db.prey").as[Long].collect().toSeq == Seq(2L))
    assert(!cat.viewExists("db", "evil"))
  }

  test("view/table name collisions refuse in both directions; rename checks too") {
    val (cat, wh) = freshCat()
    register(wh, "vcol")
    val a = Seq(1L).toDF("id")
    cat.createTable("db", "obj", a.schema); cat.append("db", "obj", a)
    // view over an existing table name: refused
    val e1 = intercept[IllegalArgumentException] {
      cat.createView("db", "obj", "SELECT 1 AS one")
    }
    assert(e1.getMessage.contains("a table with that name exists"), e1.getMessage)
    // table over an existing view name: refused
    cat.createView("db", "vw", "SELECT id FROM vcol.db.obj")
    val e2 = intercept[IllegalArgumentException] {
      cat.createTable("db", "vw", a.schema)
    }
    assert(e2.getMessage.contains("a view with that name exists"), e2.getMessage)
    // rename paths land on occupied names: refused
    cat.createTable("db", "obj2", a.schema)
    intercept[IllegalArgumentException] {
      cat.renameTable("db", "obj2", "db", "vw")
    }
    cat.createView("db", "vw2", "SELECT id FROM vcol.db.obj")
    intercept[IllegalArgumentException] {
      cat.renameView("db", "vw2", "db", "obj")
    }
  }

  test("aggregate MV: append-only deltas MERGE group-wise (incremental_agg), O(delta) not O(corpus)") {
    val (cat, wh) = freshCat()
    register(wh, "vagg")
    val a = (0 until 120).map(i => (i.toLong, s"g${i % 3}", (i * 7 % 50).toLong))
      .toDF("id", "grp", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    cat.createMaterializedView("db", "stats",
      "SELECT grp, count(*) AS n, sum(v) AS sv, min(v) AS mn, max(v) AS mx " +
        "FROM vagg.db.base GROUP BY grp")
    def expect() = noRewrite(spark.sql(
      "SELECT grp, count(*) AS n, sum(v) AS sv, min(v) AS mn, max(v) AS mx " +
        "FROM vagg.db.base GROUP BY grp ORDER BY grp")
      .as[(String, Long, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vagg.db.stats ORDER BY grp")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got() == expect())

    // delta touches one existing group (new min candidate 1, new max 99)
    // and creates a brand-new group
    cat.append("db", "base",
      Seq((200L, "g0", 1L), (201L, "g0", 99L), (202L, "gNEW", 5L))
        .toDF("id", "grp", "v"))
    val backingSnaps0 = cat.snapshotList("db", "__mv_stats").size
    val (m1, _) = cat.refreshMaterializedView("db", "stats")
    assert(m1 == "incremental_agg", m1)
    assert(got() == expect())
    // the backing commit is an UPSERT (MoR), not an overwrite rebuild
    assert(cat.currentSnapshot("db", "__mv_stats").operation == "merge",
      cat.currentSnapshot("db", "__mv_stats").operation)
    assert(cat.snapshotList("db", "__mv_stats").size == backingSnaps0 + 1)

    // fresh short-circuits; a base DELETE now MERGES even with min/max
    // in the body (r11): id=201 held g0's max (99) — extremum death —
    // so that group's min/max recompute from the base, everything else
    // merges arithmetically
    assert(cat.refreshMaterializedView("db", "stats")._1 == "fresh")
    cat.deleteMoR("db", "base", col("id") === 201L)
    val (m2, _) = cat.refreshMaterializedView("db", "stats")
    assert(m2 == "incremental_agg", m2)
    assert(got() == expect())

    // a NULL group key in the delta merges like any other value (r13:
    // null-safe upsert keys — pre-r13 this forced a full refresh)
    cat.append("db", "base",
      Seq((300L, null.asInstanceOf[String], 7L)).toDF("id", "grp", "v"))
    val (m3, _) = cat.refreshMaterializedView("db", "stats")
    assert(m3 == "incremental_agg", m3)
    assert(spark.sql("SELECT n FROM vagg.db.stats WHERE grp IS NULL")
      .as[Long].head() == 1L)

    // an avg body decomposes to sum+count partials (r10): refreshes
    // INCREMENTALLY and equals the full recompute exactly (long sums
    // are exact; the division is the same double division avg performs)
    cat.createMaterializedView("db", "avgv",
      "SELECT grp, avg(v) AS av FROM vagg.db.base WHERE grp IS NOT NULL GROUP BY grp")
    cat.append("db", "base", Seq((400L, "g1", 10L)).toDF("id", "grp", "v"))
    assert(cat.refreshMaterializedView("db", "avgv")._1 == "incremental_agg")
    assert(spark.sql("SELECT grp, av FROM vagg.db.avgv ORDER BY grp")
      .as[(String, Double)].collect().toSeq ==
      spark.sql("SELECT grp, avg(v) AS av FROM vagg.db.base " +
        "WHERE grp IS NOT NULL GROUP BY grp ORDER BY grp")
        .as[(String, Double)].collect().toSeq)
    // the hidden partial columns never surface through the view
    assert(spark.table("vagg.db.avgv").columns.toSeq == Seq("grp", "av"))

    // GLOBAL aggregate (no GROUP BY): single-row merge, still incremental
    cat.createMaterializedView("db", "tot",
      "SELECT count(*) AS n, sum(v) AS sv FROM vagg.db.base")
    cat.append("db", "base", Seq((500L, "g2", 3L)).toDF("id", "grp", "v"))
    val (m4, _) = cat.refreshMaterializedView("db", "tot")
    assert(m4 == "incremental_agg", m4)
    assert(spark.sql("SELECT n, sv FROM vagg.db.tot").as[(Long, Long)].head() ==
      spark.sql("SELECT count(*) AS n, sum(v) AS sv FROM vagg.db.base")
        .as[(Long, Long)].head())

    // a WINDOW-function body is whole-table: never plain-incremental
    // (it parses as a Project — the misclassification would append
    // re-numbered delta rows), always full
    cat.createMaterializedView("db", "ranked",
      "SELECT id, row_number() OVER (ORDER BY id) AS rn FROM vagg.db.base")
    cat.append("db", "base", Seq((450L, "g1", 4L)).toDF("id", "grp", "v"))
    assert(cat.refreshMaterializedView("db", "ranked")._1 == "full")
    assert(spark.sql("SELECT count(*) FROM vagg.db.ranked").as[Long].head() ==
      spark.sql("SELECT count(*) FROM vagg.db.base").as[Long].head())

    // SELECT DISTINCT: delta rows upsert keyed on all columns
    cat.createMaterializedView("db", "grps",
      "SELECT DISTINCT grp FROM vagg.db.base WHERE grp IS NOT NULL")
    cat.append("db", "base",
      Seq((600L, "g0", 1L), (601L, "gOTHER", 2L)).toDF("id", "grp", "v"))
    val (m5, _) = cat.refreshMaterializedView("db", "grps")
    assert(m5 == "incremental_agg", m5)
    assert(spark.sql("SELECT grp FROM vagg.db.grps ORDER BY grp")
      .as[String].collect().toSeq ==
      Seq("g0", "g1", "g2", "gNEW", "gOTHER"))
  }

  test("SELECT DISTINCT MV retracts: rows die only with their LAST copy") {
    val (cat, wh) = freshCat()
    register(wh, "vsd")
    val a = Seq((1L, "x", 1L), (2L, "x", 1L), (3L, "y", 2L), (4L, "z", 3L))
      .toDF("id", "tag", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    cat.createMaterializedView("db", "tags",
      "SELECT DISTINCT tag, v FROM vsd.db.base")
    def expect() = noRewrite(spark.sql(
      "SELECT DISTINCT tag, v FROM vsd.db.base ORDER BY tag")
      .as[(String, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vsd.db.tags ORDER BY tag")
      .as[(String, Long)].collect().toSeq
    assert(got() == expect())
    assert(spark.table("vsd.db.tags").columns.toSeq == Seq("tag", "v"),
      "the copy-count partial must never surface")

    def refresh() = cat.refreshMaterializedView("db", "tags")._1
    // delete ONE copy of a duplicated row: the distinct row SURVIVES
    cat.deleteMoR("db", "base", col("id") === 1L)
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().contains(("x", 1L)))
    // delete the LAST copy: the row dies
    cat.deleteMoR("db", "base", col("id") === 2L)
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(!got().exists(_._1 == "x"))
    // update moves a row's distinct identity; insert + delete in one range
    cat.updateMoR("db", "base", col("id") === 3L, Map("v" -> lit(20L)))
    cat.append("db", "base", Seq((5L, "z", 3L), (6L, "w", 9L)).toDF("id", "tag", "v"))
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    // the duplicated ("z", 3) row survives one copy's death
    cat.deleteMoR("db", "base", col("id") === 4L)
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().contains(("z", 3L)))
  }

  test("retractable aggregate MV: deletes/updates in range MERGE, groups die exactly") {
    val (cat, wh) = freshCat()
    register(wh, "vret")
    val a = (0 until 90).map(i => (i.toLong, s"g${i % 3}", (i % 10).toLong))
      .toDF("id", "grp", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    // count/sum/avg body + count(*): the retractable family
    cat.createMaterializedView("db", "agg",
      "SELECT grp, count(*) AS n, sum(v) AS sv, avg(v) AS av " +
        "FROM vret.db.base GROUP BY grp")
    def expect() = noRewrite(spark.sql(
      "SELECT grp, count(*) AS n, sum(v) AS sv, avg(v) AS av " +
        "FROM vret.db.base GROUP BY grp ORDER BY grp")
      .as[(String, Long, Option[Long], Option[Double])].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vret.db.agg ORDER BY grp")
      .as[(String, Long, Option[Long], Option[Double])].collect().toSeq
    assert(got() == expect())
    assert(spark.table("vret.db.agg").columns.toSeq == Seq("grp", "n", "sv", "av"),
      "partial columns must never surface through the view")

    // a MoR DELETE in range: merges (retraction), never full
    cat.deleteMoR("db", "base", col("v") >= 8L) // kills rows across groups
    val (m1, _) = cat.refreshMaterializedView("db", "agg")
    assert(m1 == "incremental_agg", s"delete in range must merge, got $m1")
    assert(got() == expect())
    // the backing commit was a merge, not a rebuild
    assert(cat.currentSnapshot("db", "__mv_agg").operation == "merge")

    // a MoR UPDATE in range retracts the pre-image and adds the post
    cat.updateMoR("db", "base", col("id") === 5L, Map("v" -> lit(0L)))
    val (m2, _) = cat.refreshMaterializedView("db", "agg")
    assert(m2 == "incremental_agg", s"update in range must merge, got $m2")
    assert(got() == expect())

    // GROUP DEATH: delete every g1 row — the group must vanish from the
    // view exactly as SQL drops it, via the liveness partial
    cat.deleteMoR("db", "base", col("grp") === "g1")
    val (m3, _) = cat.refreshMaterializedView("db", "agg")
    assert(m3 == "incremental_agg", s"group-killing delete must merge, got $m3")
    assert(got() == expect())
    assert(!got().exists(_._1 == "g1"), got().toString)

    // a group resurrects later with fresh arithmetic
    cat.append("db", "base", Seq((900L, "g1", 4L)).toDF("id", "grp", "v"))
    val (m4, _) = cat.refreshMaterializedView("db", "agg")
    assert(m4 == "incremental_agg", m4)
    assert(got() == expect())

    // all-null sum edge: a group whose remaining v are all null reports
    // sum NULL / avg NULL, count alive (the __mv_c partial, not a guess)
    val withNulls = Seq((950L, "gz", Some(3L)), (951L, "gz", None))
      .toDF("id", "grp", "v")
    cat.append("db", "base", withNulls)
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())
    cat.deleteMoR("db", "base", col("id") === 950L) // only the null-v row remains
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())
    val gz = spark.sql("SELECT n, sv, av FROM vret.db.agg WHERE grp = 'gz'")
      .as[(Long, Option[Long], Option[Double])].head()
    assert(gz == ((1L, None, None)), gz.toString)

    // an in-range COMPACT is transparent to the metadata change-set walk
    // (row-preserving: moved rows are neither inserts nor deletes)
    cat.deleteMoR("db", "base", col("id") === 0L)
    cat.compact("db", "base", numFiles = 1)
    cat.append("db", "base", Seq((960L, "g0", 2L)).toDF("id", "grp", "v"))
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())

    // an EQUALITY-delete commit in range now takes the METADATA path
    // (r11): changeSetsAcrossRange evaluates the recorded tuples against
    // rows visible at the eq commit's parent — no changelog diff job —
    // and the merge stays exact
    val eqLo = cat.currentSnapshotId("db", "base")
    cat.deleteMoREq("db", "base", Seq(Tuple1(2L)).toDF("id"))
    val eqHi = cat.currentSnapshotId("db", "base")
    val eqSets = cat.changeSetsAcrossRange(cat.loadTable("db", "base"), eqLo, eqHi)
    assert(eqSets.isDefined, "eq-delete range must resolve from metadata")
    val (eqIns, eqDel) = eqSets.get
    assert(eqIns.isEmpty && eqDel.select("id").as[Long].collect().toSeq == Seq(2L),
      "eq pre-images must enumerate exactly the killed rows")
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())

    // a ROLLBACK in range (of a MoR-delete-only commit — the file set
    // stays identical, only the delete shard vanishes) must NOT pass the
    // metadata walk as a no-op: the resurrected rows would be lost.
    // changeSetsAcrossRange declines; the refresh stays exact via the
    // changelog value diff
    val rbLo = cat.currentSnapshotId("db", "base")
    cat.deleteMoR("db", "base", col("id") === 960L) // a LIVE row dies
    cat.rollback("db", "base", rbLo)               // ...and resurrects
    val rbHi = cat.currentSnapshotId("db", "base")
    assert(cat.changeSetsAcrossRange(cat.loadTable("db", "base"), rbLo, rbHi).isEmpty,
      "a shard-dropping rollback must decline the metadata walk")
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())

    // null group key arriving in the delta merges incrementally (r13)
    cat.append("db", "base", Seq((980L, null.asInstanceOf[String], 1L)).toDF("id", "grp", "v"))
    assert(cat.refreshMaterializedView("db", "agg")._1 == "incremental_agg")
    assert(got() == expect())

    // KEYED min/max bodies are retractable too (r11): deletes merge,
    // recomputing only groups whose extremum died
    cat.createMaterializedView("db", "mm",
      "SELECT grp, min(v) AS mn FROM vret.db.base GROUP BY grp")
    cat.deleteMoR("db", "base", col("id") === 900L)
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(spark.sql("SELECT grp, mn FROM vret.db.mm ORDER BY grp")
      .as[(String, Option[Long])].collect().toSeq ==
      spark.sql("SELECT grp, min(v) AS mn FROM vret.db.base GROUP BY grp ORDER BY grp")
        .as[(String, Option[Long])].collect().toSeq)
  }

  test("min/max MV retraction: extremum-death recompute, non-extremum merges") {
    val (cat, wh) = freshCat()
    register(wh, "vmm")
    val a = Seq(
      (1L, "g0", 10L), (2L, "g0", 20L), (3L, "g0", 30L),
      (4L, "g1", 5L), (5L, "g1", 5L), (6L, "g1", 50L),
      (7L, "g2", 100L)).toDF("id", "grp", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    cat.createMaterializedView("db", "mm",
      "SELECT grp, min(v) AS mn, max(v) AS mx, count(*) AS n " +
        "FROM vmm.db.base GROUP BY grp")
    def expect() = noRewrite(spark.sql(
      "SELECT grp, min(v) AS mn, max(v) AS mx, count(*) AS n " +
        "FROM vmm.db.base GROUP BY grp ORDER BY grp")
      .as[(String, Option[Long], Option[Long], Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vmm.db.mm ORDER BY grp")
      .as[(String, Option[Long], Option[Long], Long)].collect().toSeq
    assert(got() == expect())
    assert(spark.table("vmm.db.mm").columns.toSeq == Seq("grp", "mn", "mx", "n"))

    // NON-extremum delete (g0's middle value): pure arithmetic merge
    cat.deleteMoR("db", "base", col("id") === 2L)
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())

    // extremum DEATH: g0's min (10) dies — that group recomputes, min
    // moves to 30; g1/g2 untouched
    cat.deleteMoR("db", "base", col("id") === 1L)
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g0").get._2.contains(30L), got().toString)

    // DUPLICATED extremum: g1's min 5 exists twice; deleting ONE copy
    // ties the candidate (recompute) and the min correctly STAYS 5
    cat.deleteMoR("db", "base", col("id") === 4L)
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g1").get._2.contains(5L), got().toString)

    // UPDATE that moves an extremum: pre-image retracts (death) and the
    // post-image inserts — both min and max stay exact
    cat.updateMoR("db", "base", col("id") === 6L, Map("v" -> lit(1L)))
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g1").get._2.contains(1L), got().toString)

    // insert below the stored min + delete of the old min in ONE range:
    // candidate comes from the insert side, recompute still exact
    cat.append("db", "base", Seq((10L, "g2", 7L)).toDF("id", "grp", "v"))
    cat.deleteMoR("db", "base", col("id") === 7L) // g2's 100 dies
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g2").get == (("g2", Some(7L), Some(7L), 1L)), got().toString)

    // GROUP DEATH alongside extremum logic: delete every g0 row
    cat.deleteMoR("db", "base", col("grp") === "g0")
    assert(cat.refreshMaterializedView("db", "mm")._1 == "incremental_agg")
    assert(got() == expect())
    assert(!got().exists(_._1 == "g0"), got().toString)

    // GLOBAL min/max stays non-retractable: a delete forces full
    cat.createMaterializedView("db", "gmm",
      "SELECT min(v) AS mn, max(v) AS mx FROM vmm.db.base")
    cat.deleteMoR("db", "base", col("id") === 10L)
    assert(cat.refreshMaterializedView("db", "gmm")._1 == "full")
    assert(spark.sql("SELECT mn, mx FROM vmm.db.gmm")
      .as[(Option[Long], Option[Long])].head() ==
      spark.sql("SELECT min(v) AS mn, max(v) AS mx FROM vmm.db.base")
        .as[(Option[Long], Option[Long])].head())
  }

  test("two-base JOIN MV: append-only deltas refresh as incremental_join") {
    val (cat, wh) = freshCat()
    register(wh, "vjn")
    val cust = Seq((1L, "ann"), (2L, "bob"), (3L, "cat")).toDF("k", "name")
    val ord = Seq((1L, 10L), (1L, 20L), (2L, 30L), (9L, 99L)).toDF("k", "v")
    cat.createTable("db", "cust", cust.schema)
    cat.createTable("db", "ord", ord.schema)
    cat.append("db", "cust", cust)
    cat.append("db", "ord", ord)
    cat.createMaterializedView("db", "jv",
      "SELECT c.k AS k, c.name AS name, o.v AS v " +
        "FROM vjn.db.cust c JOIN vjn.db.ord o ON c.k = o.k WHERE o.v > 5")
    def expect() = noRewrite(spark.sql(
      "SELECT c.k AS k, c.name AS name, o.v AS v " +
        "FROM vjn.db.cust c JOIN vjn.db.ord o ON c.k = o.k WHERE o.v > 5 " +
        "ORDER BY k, v").as[(Long, String, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vjn.db.jv ORDER BY k, v")
      .as[(Long, String, Long)].collect().toSeq
    assert(got() == expect())

    // ΔB only: new orders join the full customer side
    cat.append("db", "ord", Seq((2L, 40L), (3L, 7L)).toDF("k", "v"))
    val (m1, _) = cat.refreshMaterializedView("db", "jv")
    assert(m1 == "incremental_join", m1)
    assert(got() == expect())
    assert(cat.currentSnapshot("db", "__mv_jv").operation == "append",
      "join-incremental refresh must append, not rebuild")

    // ΔA only: a new customer picks up her pre-existing orders (k=9
    // was dangling until now)
    cat.append("db", "cust", Seq((9L, "zed")).toDF("k", "name"))
    val (m2, _) = cat.refreshMaterializedView("db", "jv")
    assert(m2 == "incremental_join", m2)
    assert(got() == expect())

    // BOTH sides move in one range: the ΔA x ΔB cross term must appear
    // exactly once (ΔA joins B', A_old joins ΔB)
    cat.append("db", "cust", Seq((5L, "eve")).toDF("k", "name"))
    cat.append("db", "ord", Seq((5L, 50L), (1L, 60L), (9L, 90L)).toDF("k", "v"))
    val m3 = gatedRefresh(cat, "jv", maxJobs = 3)
    assert(m3 == "incremental_join", m3)
    assert(got() == expect())

    // fresh short-circuits; a DELETE in range forces full, still exact
    assert(cat.refreshMaterializedView("db", "jv")._1 == "fresh")
    cat.deleteMoR("db", "ord", col("v") === 30L)
    val (m4, _) = cat.refreshMaterializedView("db", "jv")
    assert(m4 == "full", m4)
    assert(got() == expect())

    // an OUTER-join body never takes the join-incremental path (a new
    // right row would retract a null-extended left row)
    cat.createMaterializedView("db", "ljv",
      "SELECT c.k AS k, o.v AS v FROM vjn.db.cust c " +
        "LEFT JOIN vjn.db.ord o ON c.k = o.k")
    cat.append("db", "ord", Seq((3L, 70L)).toDF("k", "v"))
    assert(cat.refreshMaterializedView("db", "ljv")._1 == "full")
    assert(spark.sql("SELECT * FROM vjn.db.ljv ORDER BY k, v")
      .as[(Long, Option[Long])].collect().toSeq ==
      spark.sql("SELECT c.k AS k, o.v AS v FROM vjn.db.cust c " +
        "LEFT JOIN vjn.db.ord o ON c.k = o.k ORDER BY k, v")
        .as[(Long, Option[Long])].collect().toSeq)

    // a SELF-join body stays full (the delta algebra needs distinct sides)
    cat.createMaterializedView("db", "sjv",
      "SELECT a.k AS k FROM vjn.db.ord a JOIN vjn.db.ord b ON a.k = b.k")
    cat.append("db", "ord", Seq((8L, 80L)).toDF("k", "v"))
    assert(cat.refreshMaterializedView("db", "sjv")._1 == "full")
  }

  test("null group keys merge incrementally: replace, retract, die, rebirth (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vnk")
    val df0 = Seq((1L, Option("a"), 10L), (2L, Option("a"), 20L),
      (3L, Option.empty[String], 5L), (4L, Option.empty[String], 7L))
      .toDF("id", "g", "v")
    cat.createTable("db", "t", df0.schema)
    cat.append("db", "t", df0)
    cat.createMaterializedView("db", "nkv",
      "SELECT g, count(*) AS n, sum(v) AS sv, min(v) AS mn, " +
        "count(DISTINCT v) AS cd FROM vnk.db.t GROUP BY g")
    def expect() = noRewrite(spark.sql(
      "SELECT g, count(*) AS n, sum(v) AS sv, min(v) AS mn, " +
        "count(DISTINCT v) AS cd FROM vnk.db.t GROUP BY g ORDER BY g")
      .as[(Option[String], Long, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vnk.db.nkv ORDER BY g")
      .as[(Option[String], Long, Long, Long, Long)].collect().toSeq
    assert(got() == expect())
    assert(got().count(_._1.isEmpty) == 1, "exactly one null-group row")

    // null-group INSERT in the delta: the stored row must REPLACE (the
    // pre-r13 equality upsert would duplicate it; the pre-r13 guard
    // forced a full refresh instead)
    cat.append("db", "t", Seq((5L, Option.empty[String], 7L),
      (6L, Option("a"), 1L)).toDF("id", "g", "v"))
    // the refresh classifies the base's range once: the pointer-log reads
    // of one single-base aggregate refresh are gated
    val reads0 = SnapshotCatalog.logReads.get()
    val (m1, _) = cat.refreshMaterializedView("db", "nkv")
    val reads = SnapshotCatalog.logReads.get() - reads0
    info(s"incremental_agg refresh: $reads pointer-log reads")
    // the base and the backing load once each for the refresh's reads,
    // and each commit attempt loads its table once
    assert(reads <= 5, s"incremental_agg refresh read the pointer log $reads times")
    assert(m1 == "incremental_agg", m1)
    assert(got() == expect())
    assert(got().count(_._1.isEmpty) == 1, got().toString)

    // null-group RETRACTION, including an extremum death (v=5 is the
    // stored min) — the recompute's key predicate must match null <=>
    cat.deleteMoR("db", "t", col("id") === 3L)
    val (m2, _) = cat.refreshMaterializedView("db", "nkv")
    assert(m2 == "incremental_agg", m2)
    assert(got() == expect())
    assert(got().find(_._1.isEmpty).get._4 == 7L, "null group min recomputed")

    // GROUP DEATH: every null-group row dies (the eq delete of the
    // backing row is null-safe by the delete writer's contract)
    cat.deleteMoR("db", "t", col("g").isNull)
    val (m3, _) = cat.refreshMaterializedView("db", "nkv")
    assert(m3 == "incremental_agg", m3)
    assert(got() == expect())
    assert(!got().exists(_._1.isEmpty), got().toString)

    // REBIRTH in a later range
    cat.append("db", "t", Seq((7L, Option.empty[String], 42L)).toDF("id", "g", "v"))
    val (m4, _) = cat.refreshMaterializedView("db", "nkv")
    assert(m4 == "incremental_agg", m4)
    assert(got() == expect())
    assert(got().count(_._1.isEmpty) == 1)
  }

  test("N-way star MV: 3-base bodies refresh via the multilinear telescope (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vj3")
    val cust = Seq((1L, "s1"), (2L, "s2")).toDF("ck", "seg")
    val prod = Seq((10L, "pa"), (20L, "pb")).toDF("pk", "cat")
    val fact = Seq((1L, 10L, 5L), (1L, 20L, 7L), (2L, 10L, 11L),
      (3L, 10L, 99L), (1L, 30L, 50L)).toDF("ck", "pk", "v") // two dangling tails
    cat.createTable("db", "cust", cust.schema)
    cat.createTable("db", "prod", prod.schema)
    cat.createTable("db", "fact", fact.schema)
    cat.append("db", "cust", cust)
    cat.append("db", "prod", prod)
    cat.append("db", "fact", fact)
    cat.createMaterializedView("db", "star",
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv, " +
        "min(f.v) AS mn FROM vj3.db.fact f JOIN vj3.db.cust c ON f.ck = c.ck " +
        "JOIN vj3.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat")
    def expect() = noRewrite(spark.sql(
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv, " +
        "min(f.v) AS mn FROM vj3.db.fact f JOIN vj3.db.cust c ON f.ck = c.ck " +
        "JOIN vj3.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat " +
        "ORDER BY seg, cat").as[(String, String, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vj3.db.star ORDER BY seg, cat")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got() == expect())

    // Δfact only: the telescope's fact term joins both pinned dims
    cat.append("db", "fact", Seq((2L, 20L, 4L)).toDF("ck", "pk", "v"))
    val (m1, _) = cat.refreshMaterializedView("db", "star")
    assert(m1 == "incremental_join_agg", m1)
    assert(got() == expect())

    // Δdim only: a new customer picks up its DANGLING fact rows (ck=3)
    cat.append("db", "cust", Seq((3L, "s1")).toDF("ck", "seg"))
    val (m2, _) = cat.refreshMaterializedView("db", "star")
    assert(m2 == "incremental_join_agg", m2)
    assert(got() == expect())

    // ALL THREE bases move in ONE range: each cross term must appear
    // exactly once (from/cur pinnings make the telescope multiset-exact)
    cat.append("db", "cust", Seq((4L, "s2")).toDF("ck", "seg"))
    cat.append("db", "prod", Seq((30L, "pc")).toDF("pk", "cat")) // picks up (1,30,50)
    cat.append("db", "fact", Seq((4L, 30L, 6L), (3L, 20L, 8L)).toDF("ck", "pk", "v"))
    val m3 = gatedRefresh(cat, "star", maxJobs = 17)
    assert(m3 == "incremental_join_agg", m3)
    assert(got() == expect())

    // fact delete (non-extremum) retracts arithmetically
    cat.deleteMoR("db", "fact", col("v") === 11L)
    val (m4, _) = cat.refreshMaterializedView("db", "star")
    assert(m4 == "incremental_join_agg", m4)
    assert(got() == expect())

    // extremum death THROUGH the 3-way join: the affected group
    // recomputes from the body at cur under a literal key predicate
    cat.deleteMoR("db", "fact", col("v") === 5L) // (s1, pa)'s stored min
    val (m5, _) = cat.refreshMaterializedView("db", "star")
    assert(m5 == "incremental_join_agg", m5)
    assert(got() == expect())

    // dim-side delete: every joined fact row retracts, groups die
    cat.deleteMoR("db", "prod", col("cat") === "pc")
    val (m6, _) = cat.refreshMaterializedView("db", "star")
    assert(m6 == "incremental_join_agg", m6)
    assert(got() == expect())
    assert(!got().exists(_._2 == "pc"))

    // plain (non-aggregate) 3-base join MV rides incremental_join under
    // append-only deltas on any subset of sides
    cat.createMaterializedView("db", "star_rows",
      "SELECT c.seg AS seg, p.cat AS cat, f.v AS v FROM vj3.db.fact f " +
        "JOIN vj3.db.cust c ON f.ck = c.ck JOIN vj3.db.prod p ON f.pk = p.pk")
    cat.append("db", "fact", Seq((1L, 10L, 13L)).toDF("ck", "pk", "v"))
    cat.append("db", "prod", Seq((40L, "pd")).toDF("pk", "cat"))
    val (m7, _) = cat.refreshMaterializedView("db", "star_rows")
    assert(m7 == "incremental_join", m7)
    assert(spark.sql("SELECT * FROM vj3.db.star_rows ORDER BY seg, cat, v")
      .as[(String, String, Long)].collect().toSeq ==
      noRewrite(spark.sql("SELECT c.seg AS seg, p.cat AS cat, f.v AS v " +
        "FROM vj3.db.fact f JOIN vj3.db.cust c ON f.ck = c.ck " +
        "JOIN vj3.db.prod p ON f.pk = p.pk ORDER BY seg, cat, v")
        .as[(String, String, Long)].collect().toSeq))
  }

  test("RANKED top-k MV: inserts merge, stored-row deaths recompute the group (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vtk")
    val t0 = Seq(("a", 1L, 50L), ("a", 2L, 40L), ("a", 3L, 30L), ("a", 4L, 20L),
      ("b", 5L, 9L), ("b", 6L, 8L)).toDF("g", "id", "v")
    cat.createTable("db", "t", t0.schema)
    cat.append("db", "t", t0)
    val body = "SELECT g, id, v, rn FROM (SELECT g, id, v, " +
      "row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn " +
      "FROM vtk.db.t) s WHERE rn <= 3"
    cat.createMaterializedView("db", "tk", body)
    def expect() = noRewrite(spark.sql(body + " ORDER BY g, rn")
      .as[(String, Long, Long, Long)].collect().toSeq)
    def got() = noRewrite(spark.sql("SELECT * FROM vtk.db.tk ORDER BY g, rn")
      .as[(String, Long, Long, Long)].collect().toSeq)
    assert(got() == expect())
    def refresh(expectMode: String): Unit = {
      val (m, _) = cat.refreshMaterializedView("db", "tk")
      assert(m == expectMode, m)
      assert(got() == expect())
    }

    // insert-only: a new top row displaces, a below-cutoff row no-ops,
    // and a brand-new group is born
    cat.append("db", "t", Seq(("a", 7L, 45L), ("a", 8L, 1L), ("c", 9L, 5L))
      .toDF("g", "id", "v"))
    refresh("incremental_topk")

    // delete BELOW the cutoff: stored top-3 untouched
    cat.deleteMoR("db", "t", col("id") === 8L)
    refresh("incremental_topk")

    // delete a STORED row: v=30 (id=3, pushed below by the 45 insert)
    // gets promoted from below — only the base knows it, so the group
    // recomputes
    cat.deleteMoR("db", "t", col("id") === 2L)
    refresh("incremental_topk")
    assert(got().exists(r => r._1 == "a" && r._2 == 3L), got().toString)

    // GROUP DEATH: every b row dies
    cat.deleteMoR("db", "t", col("g") === "b")
    refresh("incremental_topk")
    assert(!got().exists(_._1 == "b"))

    // update MOVES a row between groups (del+ins in one range)
    cat.updateMoR("db", "t", col("id") === 9L, Map("g" -> lit("a")))
    refresh("incremental_topk")

    // in-range add+delete of the same row nets out (exceptAll)
    cat.append("db", "t", Seq(("a", 10L, 99L)).toDF("g", "id", "v"))
    cat.deleteMoR("db", "t", col("id") === 10L)
    refresh("incremental_topk")
    assert(!got().exists(_._2 == 10L), got().toString)

    // GLOBAL top-k (no PARTITION BY): inserts merge; a stored death
    // falls to full honestly
    val gbody = "SELECT id, v FROM (SELECT id, v, " +
      "row_number() OVER (ORDER BY v DESC, id) AS rn FROM vtk.db.t) s " +
      "WHERE rn <= 2"
    cat.createMaterializedView("db", "gtk", gbody)
    def gotG() = noRewrite(spark.sql("SELECT * FROM vtk.db.gtk ORDER BY v DESC, id")
      .as[(Long, Long)].collect().toSeq)
    def expectG() = noRewrite(spark.sql(gbody + " ORDER BY v DESC, id")
      .as[(Long, Long)].collect().toSeq)
    cat.append("db", "t", Seq(("z", 11L, 77L)).toDF("g", "id", "v"))
    val (gm1, _) = cat.refreshMaterializedView("db", "gtk")
    assert(gm1 == "incremental_topk", gm1)
    assert(gotG() == expectG())
    cat.deleteMoR("db", "t", col("id") === 11L) // kills the stored global top
    val (gm2, _) = cat.refreshMaterializedView("db", "gtk")
    assert(gm2 == "full", gm2)
    assert(gotG() == expectG())

    // rank() is NOT row_number: the shape refuses, refresh stays full
    cat.createMaterializedView("db", "rk",
      "SELECT g, v FROM (SELECT g, v, rank() OVER (PARTITION BY g " +
        "ORDER BY v DESC) AS rn FROM vtk.db.t) s WHERE rn <= 2")
    cat.append("db", "t", Seq(("a", 12L, 60L)).toDF("g", "id", "v"))
    val (rm, _) = cat.refreshMaterializedView("db", "rk")
    assert(rm == "full", rm)
  }

  test("LEFT-JOIN CHAIN MV: N-way outer bodies refresh via per-dim brackets (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vch")
    val fact = Seq((1L, 10L, 5L), (2L, 20L, 7L), (9L, 99L, 11L),
      (3L, 10L, 13L)).toDF("ck", "pk", "v") // ck=9 and pk=99 dangle
    val cust = Seq((1L, "s1"), (2L, "s2"), (3L, "s1")).toDF("ck", "seg")
    val prod = Seq((10L, "pa"), (20L, "pb")).toDF("pk", "cat")
    cat.createTable("db", "fact", fact.schema)
    cat.createTable("db", "cust", cust.schema)
    cat.createTable("db", "prod", prod.schema)
    cat.append("db", "fact", fact)
    cat.append("db", "cust", cust)
    cat.append("db", "prod", prod)
    // star with OPTIONAL dimensions: dangling fact rows keep their rows
    // with null-extended dim columns — an inner star would drop them
    cat.createMaterializedView("db", "chain",
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv, " +
        "min(f.v) AS mn FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat")
    def expect() = noRewrite(spark.sql(
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv, " +
        "min(f.v) AS mn FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat " +
        "ORDER BY seg NULLS FIRST, cat NULLS FIRST")
      .as[(Option[String], Option[String], Long, Long, Long)].collect().toSeq)
    def got() = spark.sql(
      "SELECT * FROM vch.db.chain ORDER BY seg NULLS FIRST, cat NULLS FIRST")
      .as[(Option[String], Option[String], Long, Long, Long)].collect().toSeq
    assert(got() == expect())
    assert(got().exists(r => r._1.isEmpty && r._2.isEmpty), "dangling fixture")

    // fact churn only: the fact bracket alone (left-linearity)
    cat.append("db", "fact", Seq((2L, 10L, 3L), (8L, 88L, 17L)).toDF("ck", "pk", "v"))
    cat.deleteMoR("db", "fact", col("v") === 13L)
    val (m1, _) = cat.refreshMaterializedView("db", "chain")
    assert(m1 == "incremental_outer_agg", m1)
    assert(got() == expect())

    // dim1 churn COVERS a null-extended key: ck=9 leaves the null group
    cat.append("db", "cust", Seq((9L, "s9")).toDF("ck", "seg"))
    val (m2, _) = cat.refreshMaterializedView("db", "chain")
    assert(m2 == "incremental_outer_agg", m2)
    assert(got() == expect())

    // dim2 churn UNCOVERS keys: deleting pa null-extends its fact rows
    cat.deleteMoR("db", "prod", col("cat") === "pa")
    val (m3, _) = cat.refreshMaterializedView("db", "chain")
    assert(m3 == "incremental_outer_agg", m3)
    assert(got() == expect())

    // ALL THREE bases move in ONE range, extremum death through the
    // chain included (v=5 is (s1, null)'s stored min after pa died)
    cat.append("db", "cust", Seq((8L, "s2")).toDF("ck", "seg"))
    cat.append("db", "prod", Seq((99L, "pz"), (10L, "pa2")).toDF("pk", "cat"))
    cat.deleteMoR("db", "fact", col("v") === 5L)
    cat.append("db", "fact", Seq((9L, 20L, 2L)).toDF("ck", "pk", "v"))
    val m4 = gatedRefresh(cat, "chain", maxJobs = 40)
    assert(m4 == "incremental_outer_agg", m4)
    assert(got() == expect())

    // DISTINCT aggregates ride the chain's brackets through the sidecar
    cat.createMaterializedView("db", "chain_d",
      "SELECT c.seg AS seg, count(DISTINCT f.v) AS dv FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg")
    def expectD() = noRewrite(spark.sql(
      "SELECT c.seg AS seg, count(DISTINCT f.v) AS dv FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg " +
        "ORDER BY seg NULLS FIRST")
      .as[(Option[String], Long)].collect().toSeq)
    cat.deleteMoR("db", "fact", col("v") === 7L)
    cat.append("db", "fact", Seq((1L, 10L, 17L)).toDF("ck", "pk", "v"))
    cat.append("db", "cust", Seq((4L, "s1")).toDF("ck", "seg"))
    val (m5, _) = cat.refreshMaterializedView("db", "chain_d")
    assert(m5 == "incremental_outer_agg", m5)
    assert(noRewrite(spark.sql(
      "SELECT * FROM vch.db.chain_d ORDER BY seg NULLS FIRST")
      .as[(Option[String], Long)].collect().toSeq) == expectD())

    // a SNOWFLAKE chain (dim2 keyed off dim1) maintains too: the second
    // bracket's owner is dim1, restricted at CUR
    val reg = Seq(("s1", "emea"), ("s2", "apac")).toDF("seg", "reg")
    cat.createTable("db", "reg", reg.schema)
    cat.append("db", "reg", reg)
    cat.createMaterializedView("db", "snow",
      "SELECT r.reg AS reg, count(*) AS n, sum(f.v) AS sv FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.reg r ON c.seg = r.seg GROUP BY r.reg")
    def expectS() = noRewrite(spark.sql(
      "SELECT r.reg AS reg, count(*) AS n, sum(f.v) AS sv FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.reg r ON c.seg = r.seg GROUP BY r.reg " +
        "ORDER BY reg NULLS FIRST")
      .as[(Option[String], Long, Long)].collect().toSeq)
    cat.append("db", "reg", Seq(("s9", "amer")).toDF("seg", "reg")) // covers s9
    cat.deleteMoR("db", "fact", col("v") === 17L)
    val (m6, _) = cat.refreshMaterializedView("db", "snow")
    assert(m6 == "incremental_outer_agg", m6)
    assert(noRewrite(spark.sql(
      "SELECT * FROM vch.db.snow ORDER BY reg NULLS FIRST")
      .as[(Option[String], Long, Long)].collect().toSeq) == expectS())

    // refusal: an ON clause mixing owner bases is not restrictable —
    // the refresh falls to full, never answers wrong
    cat.createMaterializedView("db", "mixed",
      "SELECT p.cat AS cat, count(*) AS n FROM vch.db.fact f " +
        "LEFT JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk AND c.ck = p.pk GROUP BY p.cat")
    cat.append("db", "fact", Seq((1L, 10L, 23L)).toDF("ck", "pk", "v"))
    val (m7, _) = cat.refreshMaterializedView("db", "mixed")
    assert(m7 == "full", m7)

    // a MIXED chain (inner then left — required dim, optional dim) rides
    // the same brackets: the cancellation argument is join-type-agnostic
    cat.createMaterializedView("db", "mixed_io",
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv " +
        "FROM vch.db.fact f JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat")
    def expectM() = noRewrite(spark.sql(
      "SELECT c.seg AS seg, p.cat AS cat, count(*) AS n, sum(f.v) AS sv " +
        "FROM vch.db.fact f JOIN vch.db.cust c ON f.ck = c.ck " +
        "LEFT JOIN vch.db.prod p ON f.pk = p.pk GROUP BY c.seg, p.cat " +
        "ORDER BY seg NULLS FIRST, cat NULLS FIRST")
      .as[(String, Option[String], Long, Long)].collect().toSeq)
    cat.deleteMoR("db", "fact", col("v") === 3L)
    cat.append("db", "prod", Seq((88L, "pq")).toDF("pk", "cat")) // covers pk=88
    cat.append("db", "fact", Seq((2L, 77L, 29L)).toDF("ck", "pk", "v"))
    val (m8, _) = cat.refreshMaterializedView("db", "mixed_io")
    assert(m8 == "incremental_outer_agg", m8)
    assert(noRewrite(spark.sql(
      "SELECT * FROM vch.db.mixed_io ORDER BY seg NULLS FIRST, cat NULLS FIRST")
      .as[(String, Option[String], Long, Long)].collect().toSeq) == expectM())
  }

  test("DISTINCT aggregates over JOIN bodies refresh incrementally via sidecar re-aggregation (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vjd")
    val dim = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("k", "seg")
    val fact = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 20L), (3L, 30L),
      (7L, 70L)).toDF("k", "v") // duplicate (1,10): one copy's death must not drop the value
    cat.createTable("db", "dim", dim.schema)
    cat.createTable("db", "fact", fact.schema)
    cat.append("db", "dim", dim)
    cat.append("db", "fact", fact)
    cat.createMaterializedView("db", "djr",
      "SELECT d.seg AS seg, count(DISTINCT f.v) AS dv, sum(DISTINCT f.v) AS sv, " +
        "count(*) AS n FROM vjd.db.dim d JOIN vjd.db.fact f ON d.k = f.k " +
        "GROUP BY d.seg")
    def expect() = noRewrite(spark.sql(
      "SELECT d.seg AS seg, count(DISTINCT f.v) AS dv, sum(DISTINCT f.v) AS sv, " +
        "count(*) AS n FROM vjd.db.dim d JOIN vjd.db.fact f ON d.k = f.k " +
        "GROUP BY d.seg ORDER BY seg")
      .as[(String, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vjd.db.djr ORDER BY seg")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got() == expect())

    // Δfact: a brand-new value AND another copy of an existing one
    cat.append("db", "fact", Seq((1L, 5L), (3L, 30L)).toDF("k", "v"))
    val (m1, _) = cat.refreshMaterializedView("db", "djr")
    assert(m1 == "incremental_join_agg", m1)
    assert(got() == expect())

    // PARTIAL COPY DEATH: one (1,10) dies, the other copy keeps value 10
    // alive in s1's distinct set
    cat.deleteMoREq("db", "fact", Seq((1L, 10L)).toDF("k", "v").limit(1)
      .select("k", "v"))
    val (m2, _) = cat.refreshMaterializedView("db", "djr")
    assert(m2 == "incremental_join_agg", m2)
    assert(got() == expect())

    // Δdim: a new dim key picks up dangling fact rows — new group with
    // its own distinct set (the cross term flows through the sidecar)
    cat.append("db", "dim", Seq((7L, "s3")).toDF("k", "seg"))
    val (m3, _) = cat.refreshMaterializedView("db", "djr")
    assert(m3 == "incremental_join_agg", m3)
    assert(got() == expect())

    // FULL VALUE DEATH through the join: v=20 leaves s1's set entirely
    cat.deleteMoR("db", "fact", col("v") === 20L)
    val (m4, _) = cat.refreshMaterializedView("db", "djr")
    assert(m4 == "incremental_join_agg", m4)
    assert(got() == expect())

    // dim-side delete retracts every joined copy: group s3 dies whole
    cat.deleteMoR("db", "dim", col("seg") === "s3")
    val (m5, _) = cat.refreshMaterializedView("db", "djr")
    assert(m5 == "incremental_join_agg", m5)
    assert(got() == expect())
    assert(!got().exists(_._1 == "s3"))

    // both sides churn in ONE range (update moves a value between dims)
    cat.append("db", "dim", Seq((8L, "s2")).toDF("k", "seg"))
    cat.updateMoR("db", "fact", col("k") === 3L, Map("v" -> lit(31L)))
    cat.append("db", "fact", Seq((8L, 31L)).toDF("k", "v"))
    val m6 = gatedRefresh(cat, "djr", maxJobs = 46)
    assert(m6 == "incremental_join_agg", m6)
    assert(got() == expect())
  }

  test("DISTINCT aggregates over OUTER-JOIN and UNION bodies ride their telescopes (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "vod")
    val dim = Seq((1L, "s1"), (2L, "s2")).toDF("k", "seg")
    val fact = Seq((1L, 10L), (1L, 10L), (2L, 20L), (9L, 90L)).toDF("k", "v")
    cat.createTable("db", "dim", dim.schema)
    cat.createTable("db", "fact", fact.schema)
    cat.append("db", "dim", dim)
    cat.append("db", "fact", fact)
    // LEFT JOIN: the null-extended group (k=9 has no dim) carries a
    // distinct set too
    cat.createMaterializedView("db", "odr",
      "SELECT d.seg AS seg, count(DISTINCT f.v) AS dv, count(*) AS n " +
        "FROM vod.db.fact f LEFT JOIN vod.db.dim d ON f.k = d.k GROUP BY d.seg")
    def expectO() = noRewrite(spark.sql(
      "SELECT d.seg AS seg, count(DISTINCT f.v) AS dv, count(*) AS n " +
        "FROM vod.db.fact f LEFT JOIN vod.db.dim d ON f.k = d.k " +
        "GROUP BY d.seg ORDER BY seg NULLS FIRST")
      .as[(Option[String], Long, Long)].collect().toSeq)
    def gotO() = spark.sql("SELECT * FROM vod.db.odr ORDER BY seg NULLS FIRST")
      .as[(Option[String], Long, Long)].collect().toSeq
    assert(gotO() == expectO())

    // fact churn: copy death keeps the value, full death drops it
    cat.deleteMoREq("db", "fact", Seq((1L, 10L)).toDF("k", "v"))
    cat.append("db", "fact", Seq((1L, 11L), (9L, 90L)).toDF("k", "v"))
    val (mo1, _) = cat.refreshMaterializedView("db", "odr")
    assert(mo1 == "incremental_outer_agg", mo1)
    assert(gotO() == expectO())

    // dim churn COVERS a null-extended key: k=9 moves from the NULL
    // group into s9 — both groups' distinct sets move through bracket 2
    cat.append("db", "dim", Seq((9L, "s9")).toDF("k", "seg"))
    val mo2 = gatedRefresh(cat, "odr", maxJobs = 41)
    assert(mo2 == "incremental_outer_agg", mo2)
    assert(gotO() == expectO())
    assert(!gotO().exists(_._1.isEmpty), gotO().toString)

    // UNION ALL body: distinct over two sources, deletes retract
    cat.createMaterializedView("db", "udr",
      "SELECT seg, count(DISTINCT v) AS dv FROM (" +
        "SELECT 'a' AS seg, v FROM vod.db.fact UNION ALL " +
        "SELECT 'b' AS seg, k AS v FROM vod.db.dim) u GROUP BY seg")
    def expectU() = noRewrite(spark.sql(
      "SELECT seg, count(DISTINCT v) AS dv FROM (" +
        "SELECT 'a' AS seg, v FROM vod.db.fact UNION ALL " +
        "SELECT 'b' AS seg, k AS v FROM vod.db.dim) u GROUP BY seg ORDER BY seg")
      .as[(String, Long)].collect().toSeq)
    def gotU() = spark.sql("SELECT * FROM vod.db.udr ORDER BY seg")
      .as[(String, Long)].collect().toSeq
    assert(gotU() == expectU())
    cat.deleteMoR("db", "fact", col("v") === 20L)
    cat.append("db", "fact", Seq((4L, 11L)).toDF("k", "v")) // duplicate value 11
    val mu1 = gatedRefresh(cat, "udr", maxJobs = 35)
    assert(mu1 == "incremental_union_agg", mu1)
    assert(gotU() == expectU())
    cat.deleteMoR("db", "dim", col("k") === 2L)
    val (mu2, _) = cat.refreshMaterializedView("db", "udr")
    assert(mu2 == "incremental_union_agg", mu2)
    assert(gotU() == expectU())
  }

  test("aggregate-over-join MV: fact-dim rollup merges as incremental_join_agg") {
    val (cat, wh) = freshCat()
    register(wh, "vja")
    val dim = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("k", "seg")
    val fact = Seq((1L, 10L), (2L, 20L), (3L, 30L), (7L, 70L)).toDF("k", "v")
    cat.createTable("db", "dim", dim.schema)
    cat.createTable("db", "fact", fact.schema)
    cat.append("db", "dim", dim)
    cat.append("db", "fact", fact)
    cat.createMaterializedView("db", "rollup",
      "SELECT d.seg AS seg, count(*) AS n, sum(f.v) AS sv, min(f.v) AS mn " +
        "FROM vja.db.dim d JOIN vja.db.fact f ON d.k = f.k GROUP BY d.seg")
    def expect() = noRewrite(spark.sql(
      "SELECT d.seg AS seg, count(*) AS n, sum(f.v) AS sv, min(f.v) AS mn " +
        "FROM vja.db.dim d JOIN vja.db.fact f ON d.k = f.k GROUP BY d.seg " +
        "ORDER BY seg").as[(String, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vja.db.rollup ORDER BY seg")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got() == expect())
    assert(spark.table("vja.db.rollup").columns.toSeq == Seq("seg", "n", "sv", "mn"),
      "partials must never surface")

    // Δfact only: new fact rows roll into existing segments
    cat.append("db", "fact", Seq((1L, 5L), (3L, 3L)).toDF("k", "v"))
    val (m1, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m1 == "incremental_join_agg", m1)
    assert(got() == expect())
    assert(cat.currentSnapshot("db", "__mv_rollup").operation == "merge",
      "join-agg refresh must merge group-wise, not rebuild")

    // Δdim only: a new dim key picks up its DANGLING fact rows (k=7) —
    // and births a brand-new group
    cat.append("db", "dim", Seq((7L, "s3")).toDF("k", "seg"))
    val (m2, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m2 == "incremental_join_agg", m2)
    assert(got() == expect())

    // both sides move in one range: cross term counted exactly once
    cat.append("db", "dim", Seq((8L, "s2")).toDF("k", "seg"))
    cat.append("db", "fact", Seq((8L, 80L), (7L, 7L)).toDF("k", "v"))
    val (m3, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m3 == "incremental_join_agg", m3)
    assert(got() == expect())

    // r11: deletes RETRACT through the bilinear join-delta identity
    // (Δ⁻ = ΔA⁻ ⋈ B@cur ∪ A@from ⋈ ΔB⁻) — a fact delete whose value is
    // strictly inside the stored range folds arithmetically
    cat.deleteMoR("db", "fact", col("v") === 20L) // s1 keeps mn=5
    val (m4, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m4 == "incremental_join_agg", m4)
    assert(got() == expect())

    // EXTREMUM DEATH through the join: s2's stored min dies — the
    // affected group recomputes from the body at cur under a literal
    // group-key predicate (pushes below the Aggregate into both sides)
    cat.deleteMoR("db", "fact", col("v") === 3L)
    val (m5, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m5 == "incremental_join_agg", m5)
    assert(got() == expect())

    // DIM-side delete: the segment's dim rows vanish, every joined fact
    // row retracts, and the GROUP DIES out of the backing
    cat.deleteMoR("db", "dim", col("seg") === "s3")
    val (m6, _) = cat.refreshMaterializedView("db", "rollup")
    assert(m6 == "incremental_join_agg", m6)
    assert(got() == expect())
    assert(!got().exists(_._1 == "s3"))

    // fact UPDATE in range: pre-image retracts, post-image inserts —
    // one range, both terms through the same merge
    cat.updateMoR("db", "fact", col("k") === 1L && col("v") === 10L,
      Map("v" -> lit(12L)))
    cat.append("db", "fact", Seq((8L, 2L)).toDF("k", "v"))
    val m7 = gatedRefresh(cat, "rollup", maxJobs = 18)
    assert(m7 == "incremental_join_agg", m7)
    assert(got() == expect())
  }

  test("UNION ALL MV: per-arm deltas append as incremental_union") {
    val (cat, wh) = freshCat()
    register(wh, "vun")
    val t1 = Seq((1L, 10L), (2L, -5L)).toDF("id", "v")
    val t2 = Seq((7L, 70L)).toDF("id", "w")
    cat.createTable("db", "t1", t1.schema)
    cat.createTable("db", "t2", t2.schema)
    cat.append("db", "t1", t1)
    cat.append("db", "t2", t2)
    cat.createMaterializedView("db", "u",
      "SELECT id, v AS x, 's1' AS src FROM vun.db.t1 WHERE v > 0 " +
        "UNION ALL SELECT id, w, 's2' FROM vun.db.t2")
    def expect() = noRewrite(spark.sql(
      "SELECT id, v AS x, 's1' AS src FROM vun.db.t1 WHERE v > 0 " +
        "UNION ALL SELECT id, w, 's2' FROM vun.db.t2")
      .as[(Long, Long, String)].collect().toSeq.sorted)
    def got() = spark.sql("SELECT * FROM vun.db.u")
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(got() == expect())

    // one arm moves: only ITS delta evaluates and appends
    cat.append("db", "t1", Seq((3L, 30L), (4L, -1L)).toDF("id", "v"))
    val (m1, _) = cat.refreshMaterializedView("db", "u")
    assert(m1 == "incremental_union", m1)
    assert(got() == expect())
    assert(cat.currentSnapshot("db", "__mv_u").operation == "append",
      "union refresh must append the arm deltas, not rebuild")

    // both arms move in one range
    cat.append("db", "t1", Seq((5L, 50L)).toDF("id", "v"))
    cat.append("db", "t2", Seq((8L, 80L)).toDF("id", "w"))
    assert(cat.refreshMaterializedView("db", "u")._1 == "incremental_union")
    assert(got() == expect())

    // a delete on either base forces full (a materialized row cannot be
    // retracted from a plain union body), still exact
    cat.deleteMoR("db", "t2", col("id") === 7L)
    assert(cat.refreshMaterializedView("db", "u")._1 == "full")
    assert(got() == expect())

    // TWO ARMS over the SAME base maintain too (each arm gets the delta)
    cat.createMaterializedView("db", "u2",
      "SELECT id, v FROM vun.db.t1 WHERE v > 20 " +
        "UNION ALL SELECT id, -v FROM vun.db.t1 WHERE v < 0")
    cat.append("db", "t1", Seq((6L, 60L), (9L, -9L)).toDF("id", "v"))
    assert(cat.refreshMaterializedView("db", "u2")._1 == "incremental_union")
    assert(spark.sql("SELECT * FROM vun.db.u2").as[(Long, Long)]
      .collect().toSeq.sorted ==
      noRewrite(spark.sql("SELECT id, v FROM vun.db.t1 WHERE v > 20 " +
        "UNION ALL SELECT id, -v FROM vun.db.t1 WHERE v < 0")
        .as[(Long, Long)].collect().toSeq.sorted))

    // UNION DISTINCT is not row-local — stays full, stays exact
    cat.createMaterializedView("db", "ud",
      "SELECT id FROM vun.db.t1 UNION SELECT id FROM vun.db.t2")
    cat.append("db", "t1", Seq((8L, 1L)).toDF("id", "v")) // id 8 exists in t2
    assert(cat.refreshMaterializedView("db", "ud")._1 == "full")
    assert(spark.sql("SELECT * FROM vun.db.ud").as[Long].collect().toSeq.sorted ==
      noRewrite(spark.sql("SELECT id FROM vun.db.t1 UNION SELECT id FROM vun.db.t2")
        .as[Long].collect().toSeq.sorted))
  }

  test("aggregate-over-UNION-ALL MV: per-base deltas fold as incremental_union_agg") {
    val (cat, wh) = freshCat()
    register(wh, "vua")
    val t1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "g", "v")
    val t2 = Seq((7L, "a", 7L), (8L, "c", 8L)).toDF("id", "grp", "w")
    cat.createTable("db", "t1", t1.schema)
    cat.createTable("db", "t2", t2.schema)
    cat.append("db", "t1", t1)
    cat.append("db", "t2", t2)
    val body =
      "SELECT g, count(*) AS n, sum(v) AS sv, max(v) AS mx FROM (" +
        "SELECT g, v FROM vua.db.t1 WHERE v > 0 " +
        "UNION ALL SELECT grp, w FROM vua.db.t2) GROUP BY g"
    cat.createMaterializedView("db", "ua", body)
    def expect() = noRewrite(spark.sql(body + " ORDER BY g")
      .as[(String, Long, Long, Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vua.db.ua ORDER BY g")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got() == expect())

    def refresh() = cat.refreshMaterializedView("db", "ua")._1
    // one source ingests: its arm's delta folds into the partials
    cat.append("db", "t1", Seq((4L, "c", 40L)).toDF("id", "g", "v"))
    assert(refresh() == "incremental_union_agg")
    assert(got() == expect())
    // both sources move in one range — one plus evaluation covers both
    cat.append("db", "t1", Seq((5L, "d", 50L)).toDF("id", "g", "v"))
    cat.append("db", "t2", Seq((9L, "d", 9L)).toDF("id", "grp", "w"))
    assert(refresh() == "incremental_union_agg")
    assert(got() == expect())

    // DELETES RETRACT (linearity): a non-extremum delete on t2 folds
    cat.deleteMoR("db", "t2", col("id") === 7L)
    assert(refresh() == "incremental_union_agg")
    assert(got() == expect())
    // extremum death across arms: group d's max (50, from t1) dies —
    // recompute runs the BODY at cur under a literal key predicate
    cat.deleteMoR("db", "t1", col("v") === 50L)
    assert(refresh() == "incremental_union_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "d").get._4 == 9L)
    // group death: c's rows vanish from both arms
    cat.deleteMoR("db", "t1", col("g") === "c")
    cat.deleteMoR("db", "t2", col("grp") === "c")
    assert(refresh() == "incremental_union_agg")
    assert(got() == expect())
    assert(!got().exists(_._1 == "c"))

    // SINGLE-base union-agg (two arms over the same table) maintains too
    cat.createMaterializedView("db", "ua1",
      "SELECT g, count(*) AS n FROM (SELECT g FROM vua.db.t1 WHERE v > 15 " +
        "UNION ALL SELECT g FROM vua.db.t1 WHERE v < 0) GROUP BY g")
    cat.append("db", "t1", Seq((6L, "a", 60L), (10L, "a", -1L)).toDF("id", "g", "v"))
    assert(cat.refreshMaterializedView("db", "ua1")._1 == "incremental_union_agg")
    assert(spark.sql("SELECT * FROM vua.db.ua1 ORDER BY g")
      .as[(String, Long)].collect().toSeq ==
      noRewrite(spark.sql(
        "SELECT g, count(*) AS n FROM (SELECT g FROM vua.db.t1 WHERE v > 15 " +
          "UNION ALL SELECT g FROM vua.db.t1 WHERE v < 0) GROUP BY g ORDER BY g")
        .as[(String, Long)].collect().toSeq))
  }

  test("namespace lifecycle sees MV backing tables: emptiness + log cleanup") {
    val (cat, wh) = freshCat()
    register(wh, "vns")
    val a = Seq((1L, 10L)).toDF("id", "v")
    cat.createTable("ns9", "base", a.schema)
    cat.append("ns9", "base", a)
    cat.createMaterializedView("ns9", "mv", "SELECT v FROM vns.ns9.base")
    cat.dropTable("ns9", "base")
    // only the MV remains; its backing table is hidden from listTables —
    // but the namespace is NOT empty, so a non-cascade drop must refuse
    assert(cat.listTables("ns9").isEmpty)
    assert(cat.listTablesRaw("ns9") == Seq("__mv_mv"))
    val err = intercept[IllegalStateException] {
      spark.sql("DROP NAMESPACE vns.ns9")
    }
    assert(err.getMessage.contains("not empty"), err.getMessage)
    // cascade drops everything, view document included
    spark.sql("DROP NAMESPACE vns.ns9 CASCADE")
    assert(!cat.namespaceExists("ns9"))
    assert(!cat.viewExists("ns9", "mv"))
    assert(cat.listTablesRaw("ns9").isEmpty)
  }

  test("DISTINCT-aggregate MV retraction: sidecar folds, touched groups recompute") {
    val (cat, wh) = freshCat()
    register(wh, "vdv")
    val a = Seq(
      (1L, "g0", Option(10L)), (2L, "g0", Option(10L)), (3L, "g0", Option(20L)),
      (4L, "g1", Option(5L)), (5L, "g1", Option(7L)),
      (6L, "g2", Option(9L))).toDF("id", "grp", "v")
    cat.createTable("db", "base", a.schema)
    cat.append("db", "base", a)
    cat.createMaterializedView("db", "dv",
      "SELECT grp, count(DISTINCT v) AS cd, sum(DISTINCT v) AS sd, " +
        "count(*) AS n FROM vdv.db.base GROUP BY grp")
    def expect() = noRewrite(spark.sql(
      "SELECT grp, count(DISTINCT v) AS cd, sum(DISTINCT v) AS sd, " +
        "count(*) AS n FROM vdv.db.base GROUP BY grp ORDER BY grp")
      .as[(String, Long, Option[Long], Long)].collect().toSeq)
    def got() = spark.sql("SELECT * FROM vdv.db.dv ORDER BY grp")
      .as[(String, Long, Option[Long], Long)].collect().toSeq
    assert(got() == expect())
    // the view serves visible outputs only; the sidecar table exists but
    // is hidden from the user listing like the backing table
    assert(spark.table("vdv.db.dv").columns.toSeq == Seq("grp", "cd", "sd", "n"))
    assert(cat.listTables("db") == Seq("base"))
    assert(cat.listTablesRaw("db").exists(_.startsWith("__mv_dv__dv")),
      cat.listTablesRaw("db").toString)

    def refresh() = cat.refreshMaterializedView("db", "dv")._1
    // DUPLICATE of an existing value: distinct untouched, n moves
    cat.append("db", "base", Seq((7L, "g0", Option(10L))).toDF("id", "grp", "v"))
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g0").get._2 == 2L)

    // NEW value: distinct count and distinct sum both move
    cat.append("db", "base", Seq((8L, "g1", Option(11L))).toDF("id", "grp", "v"))
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g1").get == (("g1", 3L, Some(23L), 3L)))

    // delete ONE copy of a triplicated value: distinct stays (the
    // sidecar count drops 3 -> 2, the value survives)
    cat.deleteMoR("db", "base", col("id") === 1L)
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g0").get._2 == 2L)

    // delete the LAST copies of a value: it leaves the distinct set
    cat.deleteMoR("db", "base", col("v") === 10L)
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g0").get == (("g0", 1L, Some(20L), 1L)))

    // UPDATE moving a value: pre-image retracts, post-image inserts
    cat.updateMoR("db", "base", col("id") === 3L, Map("v" -> lit(21L)))
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g0").get == (("g0", 1L, Some(21L), 1L)))

    // NULL values are invisible to DISTINCT aggregates: a group of only
    // nulls counts 0 with a NULL distinct sum, and n still counts rows
    cat.append("db", "base",
      Seq((9L, "g3", Option.empty[Long])).toDF("id", "grp", "v"))
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(got().find(_._1 == "g3").get == (("g3", 0L, None, 1L)))

    // GROUP DEATH cleans both backing and sidecar state
    cat.deleteMoR("db", "base", col("grp") === "g2")
    assert(refresh() == "incremental_agg")
    assert(got() == expect())
    assert(!got().exists(_._1 == "g2"))

    // GLOBAL distinct aggregates retract too: the recompute reads the
    // sidecar (O(distinct values)), never the base
    cat.createMaterializedView("db", "gdv",
      "SELECT count(DISTINCT v) AS cd, avg(DISTINCT v) AS ad FROM vdv.db.base")
    cat.deleteMoR("db", "base", col("id") === 8L) // g1's 11 dies
    assert(cat.refreshMaterializedView("db", "gdv")._1 == "incremental_agg")
    assert(spark.sql("SELECT * FROM vdv.db.gdv")
      .as[(Long, Option[Double])].head() ==
      noRewrite(spark.sql("SELECT count(DISTINCT v) AS cd, avg(DISTINCT v) AS ad " +
        "FROM vdv.db.base").as[(Long, Option[Double])].head()))
    assert(cat.refreshMaterializedView("db", "dv")._1 == "incremental_agg")
    assert(got() == expect())

    // a MISSING sidecar disables the merge (falls back to full, stays
    // correct) — the distinct state cannot be reconstructed from deltas
    val side = cat.listTablesRaw("db").find(_.startsWith("__mv_dv__dv")).get
    cat.dropTable("db", side)
    cat.append("db", "base", Seq((10L, "g1", Option(7L))).toDF("id", "grp", "v"))
    assert(refresh() == "full")
    assert(got() == expect())

    // dropping the view drops backing AND sidecars
    cat.dropView("db", "dv")
    cat.dropView("db", "gdv")
    assert(cat.listTablesRaw("db") == Seq("base"), cat.listTablesRaw("db").toString)
  }

  test("partitioned MV backing: hive layout, pruned residual reads, layout survives incremental refresh") {
    val (cat, wh) = freshCat()
    register(wh, "vpt")
    val df = (1 to 300).map(i => (s"k${i % 3}", s"g${i % 5}", i.toLong))
      .toDF("k1", "k2", "v")
    cat.createTable("db", "t", df.schema)
    cat.append("db", "t", df)
    cat.createMaterializedView("db", "pmv",
      "SELECT k1, k2, count(*) AS n, sum(v) AS sv FROM db.t GROUP BY k1, k2",
      partitionBy = Seq("k1"))
    // hive layout on disk, and a residual-keyed read prunes to one dir
    val backing = "__mv_pmv"
    val scan0 = cat.readLatestWhere("db", backing, col("k1") === "k1")
    assert(scan0.inputFiles.nonEmpty)
    scan0.inputFiles.foreach(f => assert(f.contains("k1=k1"), f))
    // churn + incremental refresh keeps BOTH the values and the layout
    cat.deleteMoR("db", "t", col("v") % 4 === 0)
    cat.append("db", "t", Seq(("k1", "g9", 7777L)).toDF("k1", "k2", "v"))
    val (mode, _) = cat.refreshMaterializedView("db", "pmv")
    assert(mode == "incremental_agg", mode)
    val got = spark.sql("SELECT k1, k2, n, sv FROM vpt.db.pmv ORDER BY k1, k2")
      .as[(String, String, Long, Long)].collect().toSeq
    val want = noRewrite {
      cat.readLatest("db", "t").groupBy("k1", "k2")
        .agg(count(lit(1)).as("n"), sum("v").as("sv")).orderBy("k1", "k2")
        .as[(String, String, Long, Long)].collect().toSeq
    }
    assert(got == want)
    // data files stay pruned to the key's directory; the incremental
    // refresh's MoR delete shards (merged in-scan) are the only
    // out-of-dir reads
    val scan1 = cat.readLatestWhere("db", backing, col("k1") === "k1")
    val dataFiles = scan1.inputFiles.filterNot(_.contains("/deletes/"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(f => assert(f.contains("k1=k1"), f))
    // the automatic rewrite with a residual filter reads the backing
    val q = "SELECT k2, sum(sv2.v) AS s FROM (SELECT k1, k2, v FROM vpt.db.t) sv2 " +
      "WHERE k1 = 'k1' GROUP BY k2"
    val rdf = spark.sql(
      "SELECT k2, count(*) AS c, sum(v) AS s FROM vpt.db.t WHERE k1 = 'k1' GROUP BY k2")
    assert(rdf.queryExecution.optimizedPlan.toString.contains("__mv_pmv"))
    val rOn = rdf.collect().map(_.toSeq).toSet
    val rOff = noRewrite { spark.sql(
      "SELECT k2, count(*) AS c, sum(v) AS s FROM vpt.db.t WHERE k1 = 'k1' GROUP BY k2")
      .collect().map(_.toSeq).toSet }
    assert(rOn == rOff)
    val _ = q
    // a non-output partition column refuses loudly
    val e = intercept[IllegalArgumentException] {
      cat.createMaterializedView("db", "pmv2",
        "SELECT k1, count(*) AS n FROM db.t GROUP BY k1", partitionBy = Seq("v"))
    }
    assert(e.getMessage.contains("partitionBy"))
  }

  test("randomized MV battery: backings equal recomputes under every churn interleaving (r13)") {
    // the differential-checker class that found r12's eq-delete bug,
    // pointed at the MV machinery: random base/dim churn (null group
    // keys included) interleaved with refreshes of four view shapes —
    // plain partials, DISTINCT sidecar, keyed min/max, and a fact-dim
    // join rollup — each refresh's backing compared against a
    // rewrite-off recompute of the body.
    val (cat, wh) = freshCat()
    register(wh, "vmrb")
    val rng = new scala.util.Random(77)
    def gOf(i: Long): Option[String] =
      if (i % 7 == 3) None else Some(s"g${i % 3}")
    def rows(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, gOf(i), i % 5, (i % 23) * 3)).toDF("id", "g", "k", "v")
    var nextId = 0L
    def batch(n: Int): org.apache.spark.sql.DataFrame = {
      val ids = (nextId until nextId + n); nextId += n; rows(ids)
    }
    cat.createTable("db", "t", rows(Seq(0L)).schema)
    cat.append("db", "t", batch(40))
    val dim = Seq((0L, "s0"), (1L, "s0"), (2L, "s1"), (3L, "s1"), (4L, "s2"))
      .toDF("k", "s")
    cat.createTable("db", "d", dim.schema)
    cat.append("db", "d", dim)

    val bodies = Map(
      "m1" -> ("SELECT g, count(*) AS n, sum(v) AS sv, avg(v) AS av " +
        "FROM vmrb.db.t GROUP BY g"),
      "m2" -> ("SELECT g, count(DISTINCT v) AS cd, count(*) AS n " +
        "FROM vmrb.db.t GROUP BY g"),
      "m3" -> ("SELECT g, min(v) AS mn, max(v) AS mx, count(*) AS n " +
        "FROM vmrb.db.t GROUP BY g"),
      "m4" -> ("SELECT d.s AS s, count(*) AS n, sum(t.v) AS sv " +
        "FROM vmrb.db.t t JOIN vmrb.db.d d ON t.k = d.k GROUP BY d.s"),
      // outer-join shape (r13): null-extended groups live and die under
      // the same random churn — the two-bracket telescope's battery
      "m5" -> ("SELECT d.s AS s, count(*) AS n, sum(t.v) AS sv, avg(t.v) AS av " +
        "FROM vmrb.db.t t LEFT JOIN vmrb.db.d d ON t.k = d.k GROUP BY d.s"),
      // blocklist anti-join shape (r13): rows leave and re-enter the
      // counts as dim keys are born and die under the same churn
      "m6" -> ("SELECT g, count(*) AS n, sum(v) AS sv " +
        "FROM vmrb.db.t t LEFT ANTI JOIN vmrb.db.d d ON t.k = d.k GROUP BY g"),
      // ranked top-k shape (r13): stored tops die and get promoted-into
      // under the same churn; the total (v DESC, id) order keeps ranks
      // deterministic for the differential compare
      "m7" -> ("SELECT g, id, v, rn FROM (SELECT g, id, v, row_number() " +
        "OVER (PARTITION BY g ORDER BY v DESC, id) AS rn FROM vmrb.db.t) s " +
        "WHERE rn <= 3"))
    bodies.foreach { case (m, sql) => cat.createMaterializedView("db", m, sql) }
    val modes = scala.collection.mutable.Map.empty[String, List[String]]
      .withDefaultValue(Nil)
    def refreshAndCheck(m: String): Unit = {
      val (mode, _) = cat.refreshMaterializedView("db", m)
      modes(m) = mode :: modes(m)
      // sorted-string compare: m1-m6 are one row per group, m7 carries
      // k rows per group — a full row sort keeps the diff deterministic
      val want = noRewrite(spark.sql(bodies(m))
        .collect().map(_.toString).sorted.toSeq)
      val got = spark.sql(s"SELECT * FROM vmrb.db.$m")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, s"$m diverged after mode=$mode:\n got=$got\nwant=$want")
    }

    for (step <- 1 to 14) {
      rng.nextInt(6) match {
        case 0 => cat.append("db", "t", batch(3 + rng.nextInt(8)))
        case 1 =>
          val (m, r) = (2 + rng.nextInt(4), rng.nextInt(4))
          cat.deleteMoR("db", "t", col("id") % m === r.toLong)
        case 2 =>
          val c = rng.nextInt(60).toLong
          cat.updateMoR("db", "t", col("v") === c, Map("v" -> lit(c + 100L)))
        case 3 => // dim churn: new key picks up dangling facts / key dies
          if (rng.nextBoolean()) {
            val k = 5L + rng.nextInt(3)
            cat.append("db", "d", Seq((k, s"s${k % 3}")).toDF("k", "s"))
          } else cat.deleteMoR("db", "d", col("k") === rng.nextInt(5).toLong)
        case 4 => refreshAndCheck(Seq("m1", "m2", "m3", "m4", "m5", "m6", "m7")(rng.nextInt(7)))
        case 5 => // eq delete by id (covers the sequence rule on bases)
          val vic = (0 until 3).map(_ => rng.nextLong(math.max(1L, nextId)))
          cat.deleteMoREq("db", "t", vic.toDF("id"))
      }
      if (step % 5 == 0) Seq("m1", "m2", "m3", "m4", "m5", "m6", "m7").foreach(refreshAndCheck)
    }
    Seq("m1", "m2", "m3", "m4", "m5", "m6", "m7").foreach(refreshAndCheck)
    // the battery must actually exercise the incremental machinery —
    // an all-full run would vacuously pass
    for (m <- Seq("m1", "m2", "m3", "m4", "m5", "m6", "m7"))
      assert(modes(m).exists(_.startsWith("incremental")),
        s"$m never refreshed incrementally: ${modes(m).reverse}")
  }

  test("outer-join MV refreshes incrementally: fact churn, dim covers and uncovers (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "ocat")
    // fact keys: %5==0 rows carry UNCOVERED keys (null-extend), %11==7
    // rows carry a NULL key (never match, under any dim churn)
    def mkFact(ids: Seq[Long]) = ids.map { i =>
      val ck: java.lang.Long =
        if (i % 11 == 7) null
        else if (i % 5 == 0) java.lang.Long.valueOf(1000L + i % 3)
        else java.lang.Long.valueOf(i % 10)
      (i, ck, i % 7)
    }.toDF("id", "ck", "v")
    val dim = (0L until 10L).map(k => (k, s"s${k % 3}")).toDF("ck", "seg")
    cat.createTable("db", "fact", mkFact(Seq(1L)).schema)
    cat.append("db", "fact", mkFact(1L to 300L))
    cat.createTable("db", "dim", dim.schema)
    cat.append("db", "dim", dim)
    cat.createMaterializedView("db", "omv",
      "SELECT d.seg, count(*) AS n, sum(f.v) AS sv, avg(f.v) AS av, max(f.v) AS mx " +
        "FROM db.fact f LEFT JOIN db.dim d ON f.ck = d.ck GROUP BY d.seg")
    def truth = noRewrite(spark.sql(
      "SELECT d.seg, count(*) AS n, sum(f.v) AS sv, avg(f.v) AS av, max(f.v) AS mx " +
        "FROM ocat.db.fact f LEFT JOIN ocat.db.dim d ON f.ck = d.ck " +
        "GROUP BY d.seg ORDER BY d.seg").collect().toSeq)
    def check(label: String, maxJobs: Int = Int.MaxValue): Unit = {
      val mode = gatedRefresh(cat, "omv", maxJobs)
      assert(mode == "incremental_outer_agg", s"$label took '$mode'")
      val got = spark.sql("SELECT * FROM ocat.db.omv ORDER BY seg").collect().toSeq
      assert(got == truth, s"$label: $got vs $truth")
    }
    // 1. fact-only churn (bracket 1 only): MoR delete + append, one range
    cat.deleteMoR("db", "fact", col("id") % 9 === 2)
    cat.append("db", "fact", mkFact(301L to 340L))
    check("fact churn")
    // 2. dim insert COVERING key 1000: its rows LEAVE the null-extended
    //    group and surface under the new segment — the retraction an
    //    insert-only delta algebra cannot express
    cat.append("db", "dim", Seq((1000L, "sNEW")).toDF("ck", "seg"))
    check("dim covers")
    // 3. dim MoR delete UN-covering key 3: its fact rows fall back into
    //    the null-extended group
    cat.deleteMoR("db", "dim", col("ck") === 3)
    check("dim uncovers")
    // 4. both sides churn inside ONE refresh range
    cat.append("db", "fact", mkFact(341L to 360L))
    cat.deleteMoR("db", "fact", col("id") % 13 === 1)
    cat.append("db", "dim", Seq((1001L, "sNEW2")).toDF("ck", "seg"))
    cat.deleteMoR("db", "dim", col("ck") === 4)
    check("both sides", maxJobs = 30)
    // 5. a fresh view is a no-op
    assert(cat.refreshMaterializedView("db", "omv")._1 == "fresh")
    // 6. a filtered JOIN SIDE declines to full (its delta is not the raw
    //    table delta) — and full is still exact
    cat.createMaterializedView("db", "omv2",
      "SELECT d.seg, count(*) AS n FROM db.fact f LEFT JOIN " +
        "(SELECT * FROM db.dim WHERE ck < 5) d ON f.ck = d.ck GROUP BY d.seg")
    cat.append("db", "fact", mkFact(361L to 370L))
    val (m2, _) = cat.refreshMaterializedView("db", "omv2")
    assert(m2 == "full", s"filtered side must refuse the outer telescope, took '$m2'")
    // 7. a RIGHT JOIN body normalizes to LEFT with swapped sides and
    //    rides the same telescope
    cat.createMaterializedView("db", "omv_r",
      "SELECT d.seg, count(*) AS n FROM db.dim d RIGHT JOIN db.fact f " +
        "ON f.ck = d.ck GROUP BY d.seg")
    cat.append("db", "fact", mkFact(371L to 380L))
    val (mr, _) = cat.refreshMaterializedView("db", "omv_r")
    assert(mr == "incremental_outer_agg", s"RIGHT-join body took '$mr'")
    val tr = noRewrite(spark.sql(
      "SELECT d.seg, count(*) AS n FROM ocat.db.dim d RIGHT JOIN ocat.db.fact f " +
        "ON f.ck = d.ck GROUP BY d.seg ORDER BY d.seg").collect().toSeq)
    assert(spark.sql("SELECT * FROM ocat.db.omv_r ORDER BY seg").collect().toSeq == tr)
  }

  test("FULL OUTER MV refreshes incrementally: both brackets affected-key (r13)") {
    val (cat, wh) = freshCat()
    register(wh, "focat")
    // reconciliation shape: two feeds keyed by the SAME column name k
    // (the normal FULL OUTER spelling — exercises the duplicate-source-
    // name shape relaxation), both with NULL keys and keys the other
    // side lacks — every FULL OUTER row class present
    def feedA(ids: Seq[Long]) = ids.map { i =>
      val k: java.lang.Long = if (i % 11 == 7) null
        else java.lang.Long.valueOf(i % 17)
      (i, k, i % 5)
    }.toDF("ida", "k", "va")
    def feedB(ids: Seq[Long]) = ids.map { i =>
      val k: java.lang.Long = if (i % 13 == 4) null
        else java.lang.Long.valueOf(i % 23) // 17..22 never in A
      (i, k, i % 3)
    }.toDF("idb", "k", "vb")
    cat.createTable("db", "fa", feedA(Seq(1L)).schema)
    cat.append("db", "fa", feedA(1L to 200L))
    cat.createTable("db", "fb", feedB(Seq(1L)).schema)
    cat.append("db", "fb", feedB(1L to 150L))
    cat.createMaterializedView("db", "fomv",
      "SELECT a.k AS ka, b.k AS kb, count(*) AS n, sum(a.va) AS sa, sum(b.vb) AS sb " +
        "FROM db.fa a FULL JOIN db.fb b ON a.k = b.k GROUP BY a.k, b.k")
    def truth = noRewrite(spark.sql(
      "SELECT a.k AS ka, b.k AS kb, count(*) AS n, sum(a.va) AS sa, sum(b.vb) AS sb " +
        "FROM focat.db.fa a FULL JOIN focat.db.fb b ON a.k = b.k " +
        "GROUP BY a.k, b.k ORDER BY ka, kb").collect().toSeq)
    def check(label: String, maxJobs: Int = Int.MaxValue): Unit = {
      val mode = gatedRefresh(cat, "fomv", maxJobs)
      assert(mode == "incremental_outer_agg", s"$label took '$mode'")
      val got = spark.sql("SELECT * FROM focat.db.fomv ORDER BY ka, kb")
        .collect().toSeq
      assert(got == truth, s"$label:\n got=$got\nwant=$truth")
    }
    // 1. left-side churn alone (delete + append, null keys included)
    cat.deleteMoR("db", "fa", col("ida") % 9 === 2)
    cat.append("db", "fa", feedA(201L to 240L))
    check("left churn")
    // 2. right-side churn alone: covers keys 17..22's other direction and
    //    retracts some of A's null-extensions
    cat.append("db", "fb", feedB(151L to 190L))
    check("right insert")
    // 3. right delete UN-covers keys (A rows fall back to null-extended)
    cat.deleteMoR("db", "fb", col("k") === 3 || col("idb") % 8 === 1)
    check("right delete")
    // 4. both sides churn in one range, null-key rows on both
    cat.append("db", "fa", feedA(241L to 260L))
    cat.deleteMoR("db", "fa", col("k") === 5)
    cat.append("db", "fb", feedB(191L to 210L))
    cat.deleteMoR("db", "fb", col("idb") % 10 === 6)
    check("both sides", maxJobs = 37)
    assert(cat.refreshMaterializedView("db", "fomv")._1 == "fresh")
  }

  test("blocklist ANTI-JOIN MV maintains incrementally as the blocklist churns (r13)") {
    // the decontamination shape: per-language counts of documents NOT on
    // a blocklist — blocklist growth must RETRACT counted docs, shrinkage
    // must re-admit them, and doc churn folds linearly
    val (cat, wh) = freshCat()
    register(wh, "bcat")
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, s"lang${i % 4}", s"h${i % 50}")).toDF("doc_id", "lang", "h")
    cat.createTable("db", "docs", docs(Seq(1L)).schema)
    cat.append("db", "docs", docs(1L to 300L))
    cat.createTable("db", "block", Seq(("h1", "seed")).toDF("h", "why").schema)
    cat.append("db", "block", Seq(("h3", "seed"), ("h17", "seed")).toDF("h", "why"))
    cat.createMaterializedView("db", "clean_counts",
      "SELECT d.lang, count(*) AS n FROM db.docs d " +
        "LEFT ANTI JOIN db.block b ON d.h = b.h GROUP BY d.lang")
    def truth = noRewrite(spark.sql(
      "SELECT d.lang, count(*) AS n FROM bcat.db.docs d " +
        "LEFT ANTI JOIN bcat.db.block b ON d.h = b.h " +
        "GROUP BY d.lang ORDER BY d.lang").collect().toSeq)
    def check(label: String, maxJobs: Int = Int.MaxValue): Unit = {
      val mode = gatedRefresh(cat, "clean_counts", maxJobs)
      assert(mode == "incremental_outer_agg", s"$label took '$mode'")
      assert(spark.sql("SELECT * FROM bcat.db.clean_counts ORDER BY lang")
        .collect().toSeq == truth, s"$label diverged")
    }
    // doc churn alone (linear bracket)
    cat.append("db", "docs", docs(301L to 360L))
    cat.deleteMoR("db", "docs", col("doc_id") % 9 === 4)
    check("doc churn")
    // blocklist GROWS: every h7/h23 doc must leave the counts
    cat.append("db", "block", Seq(("h7", "new"), ("h23", "new")).toDF("h", "why"))
    check("blocklist growth")
    // blocklist SHRINKS: h3 docs re-admit
    cat.deleteMoR("db", "block", col("h") === "h3")
    check("blocklist shrink", maxJobs = 16)
    // the SEMI twin: docs ON the blocklist, same machinery
    cat.createMaterializedView("db", "dirty_counts",
      "SELECT d.lang, count(*) AS n FROM db.docs d " +
        "LEFT SEMI JOIN db.block b ON d.h = b.h GROUP BY d.lang")
    cat.append("db", "block", Seq(("h30", "x")).toDF("h", "why"))
    cat.append("db", "docs", docs(361L to 380L))
    val (ms, _) = cat.refreshMaterializedView("db", "dirty_counts")
    assert(ms == "incremental_outer_agg", s"semi body took '$ms'")
    val wantS = noRewrite(spark.sql(
      "SELECT d.lang, count(*) AS n FROM bcat.db.docs d " +
        "LEFT SEMI JOIN bcat.db.block b ON d.h = b.h " +
        "GROUP BY d.lang ORDER BY d.lang").collect().toSeq)
    assert(spark.sql("SELECT * FROM bcat.db.dirty_counts ORDER BY lang")
      .collect().toSeq == wantS)
  }

  test("window inside a FROM-subquery refuses every incremental mode (full, exact)") {
    // REGRESSION (r13): pfOnly checks node TYPES, and a window function
    // inside a subquery's Project is no Window node until analysis — it
    // slipped into incremental_agg and merged WRONG (a->140 instead of
    // 300 here: the append changed every OLD row's window value, which
    // no delta-substitution can see). The shape gate now refuses
    // aggregate/window EXPRESSIONS in the aggregate's child outright.
    val (cat, wh) = freshCat()
    register(wh, "winh")
    cat.createTable("db", "t", Seq((1L, "a", 1L)).toDF("id", "k", "v").schema)
    cat.append("db", "t", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "k", "v"))
    cat.createMaterializedView("db", "wmv",
      "SELECT k, sum(m) AS s FROM " +
        "(SELECT k, max(v) OVER (PARTITION BY k) AS m FROM db.t) GROUP BY k")
    assert(spark.sql("SELECT * FROM winh.db.wmv ORDER BY k")
      .as[(String, Long)].collect().toSeq == Seq(("a", 40L), ("b", 5L)))
    // a new per-group max rewrites every old row's window value
    cat.append("db", "t", Seq((4L, "a", 100L)).toDF("id", "k", "v"))
    val (mode, _) = cat.refreshMaterializedView("db", "wmv")
    assert(mode == "full", s"windowed bodies must refuse incremental, took '$mode'")
    assert(spark.sql("SELECT * FROM winh.db.wmv ORDER BY k")
      .as[(String, Long)].collect().toSeq == Seq(("a", 300L), ("b", 5L)))
    // same hole family: a GLOBAL aggregate expression inside the subquery
    cat.createMaterializedView("db", "gmv",
      "SELECT k, sum(r) AS s FROM " +
        "(SELECT k, v - (SELECT avg(v) FROM db.t) AS r FROM db.t) GROUP BY k")
    cat.append("db", "t", Seq((5L, "b", 1000L)).toDF("id", "k", "v"))
    val (mode2, _) = cat.refreshMaterializedView("db", "gmv")
    assert(mode2 == "full", s"subquery bodies must refuse incremental, took '$mode2'")
    val truth = noRewrite(spark.sql(
      "SELECT k, sum(r) AS s FROM (SELECT k, v - (SELECT avg(v) FROM winh.db.t) AS r " +
        "FROM winh.db.t) GROUP BY k ORDER BY k").collect().toSeq)
    assert(spark.sql("SELECT * FROM winh.db.gmv ORDER BY k").collect().toSeq == truth)
  }
}
