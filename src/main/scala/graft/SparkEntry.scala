package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.OnePass
import graft.ops.{Dedup, Multimodal, Similarity, Skew, TextOps}

/** Driver contract — the engine's query surface (SURVEY §2 inventory) with
  * DuckDB-oracle SQL for every SQL-expressible operator.
  *
  * Portability rules (the driver hash-compares our parquet output against
  * DuckDB's result, so values must match bit-for-bit):
  *   - every integer output is BIGINT on both sides;
  *   - money/metric doubles are scaled to integer cents with
  *     `FLOOR(x * 100)`: the multiply and floor are IEEE-754-deterministic,
  *     identical in any engine, and immune to round-half mode differences
  *     (Spark rounds half-up, DuckDB half-even — ROUND is a trap);
  *   - no Spark `hash`/`xxhash64` in oracle-checked queries (not
  *     reproducible in DuckDB; the real checksum surface is exercised by
  *     `IntegrityVerifier` inside q10 and asserted as booleans);
  *   - every query ends in a deterministic ORDER BY.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    s.read.parquet(s"$dir/$n.parquet")

  /** events.parquet has shipped with two physical `ts` encodings across
    * driver generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * only serves as raw int64 under `spark.sql.legacy.parquet.nanosAsLong`
    * (set once by [[prepare]]) — and plain TIMESTAMP(MICROS). Normalize
    * both to session-TZ TIMESTAMP so every downstream query sees one type:
    * int64 nanos convert by integer `div` (no double round-trip — nanos
    * exceed 2^53); micros (read as NTZ) cast, which in the UTC session is
    * the identical instant the nanos path produced. */
  private def eventsT(s: SparkSession, dir: String): DataFrame = {
    val raw = T(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Money/metric double -> integer cents, deterministically. */
  private def cents(c: Column): Column = floor(c * 100).cast("long")

  /** Row-lineage fixture shared by q121/q122 (either may run first):
    * two deterministic single-file appends (evens then odds, sorted) and
    * one full compact — ids are therefore rank arithmetic, and the
    * compact proves rewrites preserve them. */
  private def lineageOrdersFixture(s: SparkSession,
      dir: String): graft.catalog.SnapshotCatalog = {
    val cat = WarehouseFixture.forDir(s, dir).src
    if (!cat.tableExists("maint", "lineage_orders")) {
      val o = T(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      cat.createTable("maint", "lineage_orders", o.schema,
        properties = Map("row.lineage" -> "true"))
      cat.append("maint", "lineage_orders",
        o.where(col("o_orderkey") % 2 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      cat.append("maint", "lineage_orders",
        o.where(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      cat.compact("maint", "lineage_orders", numFiles = 3)
    }
    cat
  }

  /** Row-lineage CDC fixture (q124): the q121 append shape (evens then
    * odds, sorted, single-file — ids are rank arithmetic), then a MoR
    * delete of `key % 100 == 7` and a MoR update of `key % 100 == 11`
    * whose post-images must carry their pre-images' ids through the
    * changelog. */
  private def lineageCdcFixture(s: SparkSession,
      dir: String): graft.catalog.SnapshotCatalog = {
    val cat = WarehouseFixture.forDir(s, dir).src
    if (!cat.tableExists("maint", "lineage_cdc")) {
      val o = T(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      cat.createTable("maint", "lineage_cdc", o.schema,
        properties = Map("row.lineage" -> "true"))
      cat.append("maint", "lineage_cdc",
        o.where(col("o_orderkey") % 2 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      cat.append("maint", "lineage_cdc",
        o.where(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      cat.deleteMoR("maint", "lineage_cdc", col("o_orderkey") % 100 === 7)
      cat.updateMoR("maint", "lineage_cdc", col("o_orderkey") % 100 === 11,
        Map("o_orderstatus" -> lit("X")))
    }
    cat
  }

  /** SQL-delta lineage fixture (q133): the q121 append shape (evens then
    * odds, sorted, single-file — ids are rank arithmetic), then a SQL
    * UPDATE through the plugin catalog. The update routes the
    * SupportsDelta path (lineage tables always do) and every matched
    * post-image must carry its pre-image's id — Iceberg-v3 identity
    * across the SQL surface, not just the DataFrame API. */
  private def lineageSqlFixture(s: SparkSession,
      dir: String): graft.catalog.SnapshotCatalog = {
    val cat = WarehouseFixture.forDir(s, dir).src
    if (!cat.tableExists("maint", "lineage_sqldml")) {
      val o = T(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      cat.createTable("maint", "lineage_sqldml", o.schema,
        properties = Map("row.lineage" -> "true"))
      cat.append("maint", "lineage_sqldml",
        o.where(col("o_orderkey") % 2 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      cat.append("maint", "lineage_sqldml",
        o.where(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"))
      val before = cat.currentSnapshot("maint", "lineage_sqldml")
      s.sql("UPDATE snapdml.maint.lineage_sqldml SET o_orderstatus = 'X' " +
        "WHERE o_orderkey % 100 = 11")
      // the gate REQUIRES the delta shape: a position delta, never a
      // rewrite (a rewrite would re-mint the very ids the oracle replays)
      val after = cat.currentSnapshot("maint", "lineage_sqldml")
      require(after.operation == "update" &&
        before.files.forall(after.files.contains),
        s"SQL UPDATE on a lineage table must commit a delta: ${after.operation}")
    }
    cat
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    prepare(spark, "/root/testdata/sf0.001")
    queries("q12_join_multi")(spark, "/root/testdata/sf0.001")
  }

  /** Pre-builds cached fixtures so Bench timings measure queries, not setup. */
  def prepare(spark: SparkSession, dir: String): Unit = {
    // Session settings individual queries rely on, set ONCE up front so
    // every query sees identical session state regardless of execution
    // order. The bench runs the map alphabetically and a mid-run conf flip
    // is a measurement-interference source (the r3 q43/q44 "regressions"
    // reproduced at r2 speed in isolation — shared-session noise, not
    // code). prepare() is therefore REQUIRED before invoking `queries`
    // directly — Verify, Bench and entry() all call it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val fx = WarehouseFixture.forDir(spark, dir)
    spark.conf.set("spark.sql.catalog.snapfix", "graft.catalog.spark.SnapCatalogPlugin")
    spark.conf.set("spark.sql.catalog.snapfix.warehouse", fx.src.warehouse)
    ()
  }

  // -------------------------------------------------------------------
  // queries
  // -------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- reference-parity: scans, filters, projections (S1/P1/P2) ----

    // TPC-H Q1-shaped pricing summary: the agg pattern of SURVEY §2.4.
    "q01_pricing_summary" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1999-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_e4"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
            * (lit(100L) + cents(col("l_tax")))).as("charge_e6"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // predicate + projection pushdown to the parquet scan (P1/P2).
    "q02_scan_filter_project" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .where(col("l_quantity") >= 49 &&
          col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("qty"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- reference-parity: snapshot catalog surface (S2/S3/A5/E3) ----

    // snapshots metadata table, chronological (S3 + O1; `1_collect_src_snapshots.py:61-70`).
    "q03_snapshots_meta" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.snapshots("tpch", "orders")
        .select(col("snapshot_id"),
          col("operation"),
          element_at(col("summary"), "record_count").cast("long").as("record_count"))
        .orderBy("snapshot_id")
    }),

    // time-travel read of the pre-overwrite snapshot (S2; `5_migrate_tables_data.py:72-76`).
    "q04_timetravel_asof" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readAsOf("tpch", "orders", 2L)
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // current-state read after overwrite (S1; `6_verify_data_integrity.py:71`).
    "q05_timetravel_latest" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("tpch", "orders")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
    }),

    // as-of resolution as a window query over real data (A5 mapping):
    // latest order per customer at a cutoff, row_number desc.
    "q06_asof_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      T(s, dir, "orders")
        .where(col("o_orderdate") <= lit("1998-01-01 00:00:00").cast("timestamp"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("last_orderkey"),
          cents(col("o_totalprice")).as("last_total_cents"))
        .orderBy("o_custkey")
    }),

    // portable whole-table fingerprint (A4 intent, DuckDB-checkable form).
    "q07_checksum_portable" -> ((s, dir) => {
      T(s, dir, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sum(col("l_orderkey")).as("sum_orderkey"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_discount"))).as("sum_disc_cents"),
        sum(length(col("l_returnflag")) + length(col("l_linestatus"))).cast("long").as("sum_flag_len"),
        min(col("l_shipdate")).cast("date").as("min_ship"),
        max(col("l_shipdate")).cast("date").as("max_ship"))
    }),

    // set difference (J2/§2.6): nations with customers but no suppliers.
    "q08_except" -> ((s, dir) => {
      T(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey")).distinct()
        .except(T(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey")).distinct())
        .orderBy("nationkey")
    }),

    // per-snapshot file/row inventory (P1 intent: file enumeration,
    // `2_collect_database_schema_info.py:219-224`).
    "q09_files_enum" -> ((s, dir) => {
      import s.implicits._
      WarehouseFixture.forDir(s, dir).src.snapshotList("tpch", "orders")
        .map(sn => (sn.snapshotId, sn.files.size.toLong, sn.recordCount))
        .toDF("snapshot_id", "num_files", "record_count")
        .orderBy("snapshot_id")
    }),

    // the full data plane: stage-5 migration + stage-6 integrity verdicts
    // (E3; count+checksum equality surfaced as booleans).
    "q10_migrate_verify" -> ((s, dir) => {
      import s.implicits._
      WarehouseFixture.forDir(s, dir).verification
        .map(r => (r.tableName, r.sourceCount, r.targetCount, r.countsMatch, r.checksumMatch))
        .toDF("table_name", "src_count", "dst_count", "counts_match", "checksum_match")
        .orderBy("table_name")
    }),

    // ---- engine coverage: joins, aggregates, windows, set ops ----

    // dim join (J1 mapping). No forced broadcast hint on customer: it grows
    // linearly with SF, so AQE's runtime size check decides the strategy
    // (broadcast at bench SFs, shuffle join at 100x) — a forced hint would
    // OOM the driver at scale. Bounded dims (nation/region) keep hints.
    "q11_join_broadcast" -> ((s, dir) => {
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("orders_cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("c_mktsegment")
    }),

    // multi-way join: revenue per nation for one region + year (Q5 shape).
    "q12_join_multi" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region").where(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey")) // AQE-sized: customer grows with SF
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // left-semi / left-anti (J-exists mapping).
    "q13_semi_anti" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("grp"), col("n"))
      val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("grp"), col("n"))
      withO.unionByName(withoutO).orderBy("grp")
    }),

    // top-k by aggregate (O2 mapping).
    "q14_topk" -> ((s, dir) => {
      T(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("spend_cents").desc, col("o_custkey"))
        .limit(10)
    }),

    // distinct aggregation.
    "q15_distinct_agg" -> ((s, dir) => {
      T(s, dir, "supplier")
        .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(countDistinct(col("s_suppkey")).as("n_supp"),
          count(lit(1)).as("n_rows"),
          sum(cents(col("s_acctbal"))).as("bal_cents"))
        .orderBy("n_name")
    }),

    // running window aggregate over an explicit ROWS frame.
    "q16_window_running" -> ((s, dir) => {
      val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_suppkey").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wr = Window.partitionBy("l_suppkey").orderBy(order: _*)
      T(s, dir, "lineitem").where(col("l_suppkey") <= 3)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          sum(col("l_quantity").cast("long")).over(w).as("running_qty"),
          row_number().over(wr).cast("long").as("rn"))
        .orderBy("l_suppkey", "rn")
    }),

    // tumbling time window over the events stream table (batch form; the
    // Structured Streaming variant is exercised in StreamingSpec).
    "q17_events_window" -> ((s, dir) => {
      eventsT(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("value_e2"))
        .orderBy("event_type", "hour_ts")
    }),

    // set intersection.
    "q18_intersect" -> ((s, dir) => {
      T(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey")).distinct()
        .intersect(T(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey")).distinct())
        .orderBy("nationkey")
    }),

    // rollup (grouping sets family).
    "q19_rollup" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // scalar string functions (F-class coverage).
    "q20_scalar_funcs" -> ((s, dir) => {
      T(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        upper(col("n_name")).as("uname"),
        substring(col("n_name"), 1, 3).as("pre3"),
        length(col("n_name")).cast("long").as("name_len"),
        concat(col("n_name"), lit("#"), col("n_nationkey").cast("string")).as("tagged"))
        .orderBy("n_nationkey")
    }),

    // ---- LLM-data-pipeline extensions (north-star; SURVEY §2.9) ----

    // exact dedup: one hash-partitioned aggregation on the content key.
    "q21_dedup_exact" -> ((s, dir) => {
      Dedup.exact(T(s, dir, "documents"), "doc_id", Seq("text"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("dup_count")).as("n_docs"),
          max(col("dup_count")).as("max_dup"))
    }),

    // per-language quality stats, integer-exact formulas.
    "q22_text_stats" -> ((s, dir) => {
      TextOps.textStats(T(s, dir, "documents"), col("text"), col("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_stopwords")).as("sum_stopwords"),
          sum(col("avg_wordlen_e4")).as("sum_awl_e4"))
        .orderBy("lang")
    }),

    // n-gram-heuristic language id; the oracle reproduces the identical
    // marker scoring, so the heuristic's OUTPUT is fully checked.
    "q23_langid" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(TextOps.langIdColumn(col("text")).as("pred_lang"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("pred_lang")
    }),

    // MinHash LSH candidates + exact Jaccard verification at 9/10 — the
    // production dedup pipeline shape. The verified OUTPUT is the
    // deterministic true-pair set, so the DuckDB oracle states it as plain
    // all-pairs Jaccard (candidate recall at the threshold is total:
    // miss probability <= (1-0.81)^32 per pair with 32 bands of 2 rows).
    "q24_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashVerifiedPairs(T(s, dir, "documents"), "doc_id", "text",
        w = 5, num = 9, den = 10, numHashes = 64, bands = 32)
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dups at hamming<=3. Chunk banding has perfect recall by
    // pigeonhole, and the MD5-based token hash is engine-portable, so the
    // DuckDB oracle recomputes the signatures and the exact pair set.
    "q25_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // exact shingle-Jaccard near-dups >= 1/2 among pairs sharing a rare
    // (df<=1000) shingle, integer threshold arithmetic; full DuckDB oracle
    // (the oracle mirrors the df cap, so the semantics are checked exactly).
    "q26_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        w = 5, num = 1, den = 2, maxDocFreq = 1000)
        .orderBy("id_a", "id_b")
    }),

    // brute-force cosine top-10 for 5 query vectors (exact ANN baseline).
    "q27_cosine_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.cosineTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // OR-amplified LSH approximate top-k (the corpus-prune scale path;
    // recall vs brute force asserted in OpsSpec).
    "q28_ann_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.lshTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10, dim = 64, nPlanes = 8, nTables = 8)
        .orderBy("query_id", "rank")
    }),

    // multimodal: binary payload -> batched stub decode -> typed metadata.
    "q29_multimodal_decode" -> ((s, dir) => {
      Multimodal.decodeFeatures(s, Multimodal.toMedia(T(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("channels"))
        .orderBy("doc_id")
    }),

    // sessionization by 30-min inactivity gap (batch form of the streaming
    // stateful op; integer-microsecond arithmetic for portability).
    "q30_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      eventsT(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > 30L * 60L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // embedding near-duplicate pairs within OR-amplified LSH buckets.
    "q31_embedding_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDup(T(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, minCosine = 0.35, nPlanes = 8, nTables = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // frame sampling over binary payloads (integer-div offsets; oracled).
    "q32_frame_sample" -> ((s, dir) => {
      Multimodal.frameSample(Multimodal.toMedia(T(s, dir, "documents")),
        nFrames = 4, frameLen = 16)
        .select(col("doc_id"), col("frame_idx"), col("offset"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- table maintenance (Iceberg rewrite_data_files / expire_snapshots
    //      equivalents on the snapshot catalog) ----

    // compaction: 2 appends of 4 files each -> compact to 2 files; row
    // counts must be untouched at every snapshot.
    "q33_compact" -> ((s, dir) => {
      import s.implicits._
      WarehouseFixture.forDir(s, dir).src.snapshotList("maint", "orders_small")
        .map(sn => (sn.snapshotId, sn.operation, sn.files.size.toLong, sn.recordCount))
        .toDF("snapshot_id", "operation", "num_files", "record_count")
        .orderBy("snapshot_id")
    }),

    // snapshot expiration: history of 3 -> keepLast=1; unreferenced files
    // deleted, surviving snapshot keeps its id and exact data.
    "q34_expire" -> ((s, dir) => {
      import s.implicits._
      val fx = WarehouseFixture.forDir(s, dir)
      val remaining = fx.src.snapshotList("maint", "exp")
      val cnt = OnePass.aggregate(fx.src.readLatest("maint", "exp"), Seq(count(lit(1)))).getLong(0)
      Seq((remaining.size.toLong, remaining.head.snapshotId,
        cnt, fx.expiredFileCount.toLong))
        .toDF("n_snapshots", "surviving_id", "record_count", "deleted_files")
    }),

    // TARGETED bin-pack compaction (Iceberg rewrite_data_files): only the
    // 6 small files fold into one output; the larger file carries over
    // verbatim — the steady-state maintenance op that costs the debris,
    // never the lake (a full compact() at 100 TB rewrites 100 TB).
    "q77_binpack" -> ((s, dir) => {
      import s.implicits._
      WarehouseFixture.forDir(s, dir).src.snapshotList("maint", "orders_bin")
        .map(sn => (sn.snapshotId, sn.operation, sn.files.size.toLong, sn.recordCount))
        .toDF("snapshot_id", "operation", "num_files", "record_count")
        .orderBy("snapshot_id")
    }),

    // `db.t.partitions` metadata table: per-partition row counts served
    // ENTIRELY from the snapshot log's per-file footer stats — answering
    // "how big is each partition" without scheduling a single task.
    "q78_partitions" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      s.sql("SELECT `partition`, record_count FROM snapfix.maint.orders_part.partitions")
        .orderBy("partition")
    }),

    // catalog listing (S4: the SHOW TABLES surface,
    // `1_collect_src_snapshots.py:49-56`).
    "q35_list_tables" -> ((s, dir) => {
      import s.implicits._
      WarehouseFixture.forDir(s, dir).src.listTables("tpch")
        .toDF("table_name").orderBy("table_name")
    }),

    // structured describe (S5: the DESCRIBE TABLE EXTENDED surface,
    // `2_collect_database_schema_info.py:162-214`, without string parsing).
    "q36_describe" -> ((s, dir) => {
      import s.implicits._
      val fx = WarehouseFixture.forDir(s, dir)
      val info = graft.stages.SchemaCapture.captureTable(fx.src, "tpch", "orders",
        fx.src.currentSnapshot("tpch", "orders").snapshotId).get
      info.columns.zipWithIndex
        .map { case (c, i) => (i.toLong, c.name, c.colType) }
        .toDF("ordinal", "column_name", "col_type")
        .orderBy("ordinal")
    }),

    // partitioned table scan through time travel: the filter on the
    // partition column prunes to the o_orderstatus=F directories (the
    // PARTITIONED BY capability the reference records but drops,
    // `3_create_dst_tables.py:84-89`; PartitionFilters asserted in tests).
    "q37_partition_pruning" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      fx.src.readLatest("maint", "orders_part")
        .where(col("o_orderstatus") === "F")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          countDistinct(col("o_custkey")).as("n_cust"))
    }),

    // ---- additional canonical shapes ----

    // outer join + two-level aggregation (TPC-H Q13 shape): distribution of
    // customers by order count, including zero-order customers.
    "q38_outerjoin_hist" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders")) // count(col): nulls excluded
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    }),

    // correlated-max semantics (TPC-H Q2 shape): suppliers whose balance is
    // the maximum of their nation, via a window max (scale-friendly form of
    // the correlated subquery the oracle states directly).
    "q39_correlated_max" -> ((s, dir) => {
      val w = Window.partitionBy("s_nationkey")
      T(s, dir, "supplier")
        .withColumn("max_bal", max(cents(col("s_acctbal"))).over(w))
        .where(cents(col("s_acctbal")) === col("max_bal"))
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("s_nationkey"),
          cents(col("s_acctbal")).as("bal_cents"))
        .orderBy("s_nationkey", "s_suppkey")
    }),

    // LIKE + IN-list predicates on strings.
    "q40_like_in" -> ((s, dir) => {
      T(s, dir, "part")
        .where(col("p_type").like("%AND%") &&
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
        .orderBy("p_partkey")
    }),

    // conditional aggregation pivot: events per type as columns, by day.
    "q41_case_pivot" -> ((s, dir) => {
      eventsT(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day_ts"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(!col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("n_other"))
        .orderBy("day_ts")
    }),

    // calendar rollup: monthly revenue (date_trunc month).
    "q42_monthly_rollup" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month_ts"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("month_ts")
    }),

    // token counting: whitespace words + BPE-ish regex tokens per language
    // (the two token-budget estimators an LLM-data pipeline carries).
    "q44_token_count" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("lang"),
          TextOps.wordCount(col("text")).as("ws_tokens"),
          TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_tokens")).as("sum_bpe_tokens"))
        .orderBy("lang")
    }),

    // CSV + JSON data sources (S-class source formats beyond parquet):
    // round-trip a documents projection through both and re-aggregate;
    // the oracle states the same result off the original parquet.
    "q47_csv_json_sources" -> ((s, dir) => {
      val (csvDir, jsonDir) = WarehouseFixture.csvJsonSources(s, dir)
      val fromCsv = s.read.option("header", "true").option("inferSchema", "true").csv(csvDir)
        .groupBy("lang").agg(count(lit(1)).as("n_csv"),
          sum(col("n_chars").cast("long")).as("chars_csv"))
      val fromJson = s.read.json(jsonDir)
        .groupBy("lang").agg(count(lit(1)).as("n_json"),
          sum(col("n_chars").cast("long")).as("chars_json"))
      fromCsv.join(fromJson, Seq("lang")).orderBy("lang")
    }),

    // storage-partitioned join: both sides bucketed pmod(custkey, 4), so
    // with V2 bucketing enabled the join plans with zero exchanges (the
    // no-shuffle plan is spec-asserted; the oracle checks rows).
    "q62_bucketed_join" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      s.sql(
        """SELECT c.c_mktsegment, count(*) AS cnt, sum(o.o_orderkey) AS key_sum
          |FROM snapfix.spj.orders_b o
          |JOIN snapfix.spj.customer_b c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
        .select(col("c_mktsegment"), col("cnt"), col("key_sum").cast("long").as("key_sum"))
    }),

    // the CURATION PIPELINE capstone: language gate -> quality gate ->
    // exact dedup -> per-language yield, composed from the engine's own
    // operators in ONE declarative plan (filters push to the scan, one
    // dedup shuffle, one final agg) — the end-to-end shape a training-data
    // pipeline runs nightly, fully stated in SQL by the oracle.
    "q61_curation_pipeline" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val gated = docs
        .withColumn("pred_lang", TextOps.langIdColumn(col("text")))
        .where(col("pred_lang").isin("en", "de", "fr"))
        .where(col("n_chars") >= 200L && col("n_chars") <= 20000L)
      // exact dedup on the text: keep the minimum doc_id per identical body
      val kept = gated
        .groupBy("text", "pred_lang")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      kept.groupBy("pred_lang")
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("copies") - 1).as("dropped_dups"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
        .orderBy("pred_lang")
    }),

    // deterministic train/val/test split: hash-threshold assignment on a
    // stable key (md5 prefix, bit-portable) — unlike rand(), a retried
    // task, a backfill, or another engine re-derives IDENTICAL membership;
    // pure per-row projection, no shuffle at any scale.
    "q63_hash_split" -> ((s, dir) => {
      T(s, dir, "documents")
        .withColumn("split",
          ops.Sampling.assignSplit(col("doc_id"), trainFrac = 0.8, valFrac = 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars_sum"))
        .orderBy("split")
    }),

    // per-stratum deterministic downsample (corpus rebalance): the head
    // language keeps 25%, tail languages keep everything — ONE per-row
    // hash filter, no groupBy/join/second pass.
    "q64_stratified_sample" -> ((s, dir) => {
      ops.Sampling.stratifiedSample(T(s, dir, "documents"),
          col("lang"), col("doc_id"), rates = Map("en" -> 0.25))
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),

    // as-of join (the kdb / pandas merge_asof / DuckDB ASOF JOIN surface):
    // each click adopts the latest view by the same user at or before it.
    // ONE shuffle — tagged union + running last_value — never an
    // inequality join (see TemporalJoin.asOfJoin's scale note).
    "q65_asof_join" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("click_us"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_eid"),
          unix_micros(col("ts")).as("view_us"))
      ops.TemporalJoin.asOfJoin(clicks, views, Seq("user_id"),
          leftTs = "click_us", rightTs = "view_us",
          rightValueCols = Seq("view_us"), rightTiebreak = Some("view_eid"))
        .select(col("event_id"), col("click_us"), col("view_us"),
          (col("click_us") - col("view_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // point-in-interval range join: clicks landing in each view's
    // one-hour attribution window — the binned equi-join rewrite (each
    // side shuffles once on (user, hour-bin); no theta-join blowup).
    "q66_range_join" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val hourUs = 3600000000L
      val iv = ev.where(col("event_type") === "view")
        .select(col("event_id").as("iv_id"), col("user_id"),
          unix_micros(col("ts")).as("win_start"),
          (unix_micros(col("ts")) + hourUs).as("win_end"))
      val pts = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          cents(col("value")).as("v_e2"))
      val pairs = ops.TemporalJoin.pointIntervalJoin(pts, iv, Seq("user_id"),
        pointTs = "click_us", startCol = "win_start", endCol = "win_end",
        binWidth = hourUs, pointValueCols = Seq("v_e2"))
      val counts = pairs.groupBy("iv_id")
        .agg(count(lit(1)).as("n_in"), sum(col("v_e2")).as("sum_v_e2"))
      iv.select("iv_id").join(counts, Seq("iv_id"), "left")
        .select(col("iv_id"),
          coalesce(col("n_in"), lit(0L)).as("n_in"),
          coalesce(col("sum_v_e2"), lit(0L)).as("sum_v_e2"))
        .orderBy("iv_id")
    }),

    // CUBE grouping sets with grouping() provenance columns.
    "q67_cube" -> ((s, dir) => {
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"),
          count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("price_cents"))
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n", "price_cents")
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // UNPIVOT: wide per-flag measures melted to (measure, value) rows via
    // the native Dataset.unpivot (no UNION ALL re-scan of the input).
    "q68_unpivot" -> ((s, dir) => {
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("cnt"), col("price_cents")), "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // analytic-function battery: lag/lead/ntile/percent_rank in one
    // window pass (one shuffle on the partition key, single sort).
    "q69_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders").where(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("price_cents"))
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          lag("price_cents", 1).over(w).as("prev_cents"),
          lead("price_cents", 1).over(w).as("next_cents"),
          ntile(4).over(w).cast("long").as("quartile"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("pr_e6"))
        .orderBy("o_custkey", "rn")
    }),

    // Gopher/RefinedWeb-style repetition quality gates: top-word share and
    // duplicate-bigram share per doc, rolled up per language. ZERO-shuffle
    // per-doc histograms (sorted-array fold inside the row, see
    // TextOps.wordRepetition) — the corpus never re-keys.
    "q70_repetition" -> ((s, dir) => {
      TextOps.wordRepetition(T(s, dir, "documents"), Seq("doc_id", "lang"), "text")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          sum(col("top_word_count")).as("sum_top_word"),
          sum(col("n_bigrams")).as("sum_bigrams"),
          sum(col("dup_bigram_count")).as("sum_dup_bigrams"),
          sum(when(col("top_word_count") * 5 > col("n_words"), 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy("lang")
    }),

    // sequence packing (concat-then-chunk, the GPT pretraining recipe):
    // per-language token streams cut into 2048-token context chunks; docs
    // straddle boundaries. Streams are the parallelism unit (see
    // Packing.packChunks) — one window pass per stream, no global sort.
    "q71_sequence_pack" -> ((s, dir) => {
      val window = 2048L
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.bpeTokenCount(col("text")).as("toks"))
      ops.Packing.packChunks(toks, Seq("lang"), "doc_id", col("toks"), window)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          (max(col("first_chunk") + col("n_chunks"))).as("n_chunks"),
          sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_straddling"))
        .orderBy("lang")
    }),

    // write-audit-publish: the snapshots metadata table of a table that
    // staged two batches — one published after audit, one discarded.
    // Staged snapshots are invisible to current-state readers but recorded
    // (flagged) in history; publish/discard are pure pointer commits.
    "q72_wap" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.snapshots("maint", "orders_wap")
        .select(col("snapshot_id"), col("operation"),
          element_at(col("summary"), "record_count").cast("long").as("record_count"),
          coalesce(element_at(col("summary"), "wap.staged"), lit("false")).as("staged"))
        .orderBy("snapshot_id")
    }),

    // write-audit-publish WITHOUT LEAVING SQL (r7): write.wap.enabled
    // arms staging, INSERT INTO stages, CALL system.publish_staged /
    // discard_staged decide — the q72 cycle through the SQL-only route.
    // The oracle restates the end state: orders plus the published F
    // batch, the discarded O batch invisible.
    "q96_wap_sql" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_wapsql")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // the row-level changelog as a SQL-readable RELATION (r7): the
    // `db.t.changes` metadata table serves readChangelog through reader
    // options — CDC consumers who only speak SQL get tagged row diffs.
    // Range (2, current] of orders_inc spans a MoR delete, a compact, and
    // an append: inserts = the key-shifted F batch, deletes = the %10
    // keys, the compact's moved rows cancel exactly.
    "q97_changes_sql" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val toId = fx.src.currentSnapshot("maint", "orders_inc").snapshotId
      s.read.option("from-snapshot-id", "2").option("to-snapshot-id", toId.toString)
        .table("snapdml.maint.orders_inc.changes")
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // changelog ACROSS ADDITIVE SCHEMA EVOLUTION (r8): the range spans a
    // MoR delete AND an ADD COLUMN; the diff serves in the evolved
    // schema — pre-evolution pre-image deletes null-fill o_disc, the
    // wide append's inserts carry it. Previously refused with
    // requireOneSchema; now only incompatible changes refuse.
    "q100_changelog_evolution" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val toId = fx.src.currentSnapshot("maint", "orders_evo").snapshotId
      s.read.option("from-snapshot-id", "2").option("to-snapshot-id", toId.toString)
        .table("snapdml.maint.orders_evo.changes")
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_disc")).as("disc_sum"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // per-file BLOOM data skipping (r8): point lookups through a
    // bloom-armed table whose two files fully OVERLAP in o_orderkey
    // range (evens/odds) — min/max can never exclude a file there, so
    // any skipping is the bloom sidecars' (file counts asserted in
    // BloomSkippingSpec); this oracles that the bloom-armed read path
    // returns exactly the right rows, absent keys contributing nothing.
    "q101_bloom_point_lookup" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val snapId = fx.src.currentSnapshot("maint", "orders_bloom").snapshotId
      fx.src.readWhere("maint", "orders_bloom", snapId,
        col("o_orderkey").isin(2L, 7L, 32L, 33L, 4000000123L))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // EXACT duplicate-SPAN detection (r8; Lee et al. 2021 substring
    // dedup, k-gram-anchor distributed form): maximal runs of >=8
    // tokens duplicated anywhere in the corpus — the tier document-level
    // dedup cannot see. The oracle replays the same anchors/merge from
    // gram STRINGS; the engine shuffles only 64-bit gram hashes.
    "q102_duplicate_spans" -> ((s, dir) =>
      graft.ops.SpanDedup.duplicateSpans(
          T(s, dir, "documents"), "doc_id", "text", minTokens = 8)
        .orderBy("doc_id", "span_start")),

    // ...and the scrub: every document re-emitted with ALL duplicated
    // spans removed (docs without one pass through token-identically)
    "q103_span_scrub" -> ((s, dir) =>
      graft.ops.SpanDedup.scrubDuplicateSpans(
          T(s, dir, "documents"), "doc_id", "text", minTokens = 8)
        .orderBy("doc_id")),

    // SEMANTIC dedup (r8; Abbas et al. 2023 SemDeDup): coarse-quantizer
    // cells bound the pairwise comparison, cosine>=0.35 components keep
    // their min id. Same index params as q50, so the oracle replays the
    // cells bit-for-bit, then the pair graph + components recursively.
    "q107_semdedup" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.semDedup(emb, "vec_id", "embedding", tau = 0.35,
        nlist = 8, iters = 2, sampleMod = 3)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // DSIR importance resampling (r8; Xie et al. 2023): %10==0 docs are
    // the TARGET domain, the rest the raw pool; hashed-unigram+bigram
    // bucket models, add-0.5 smoothing, Gumbel top-64 without
    // replacement. Portable md5 buckets + md5-derived Gumbel noise +
    // 1e-4-quantized sums make the full selector replayable in SQL.
    "q108_dsir_resample" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      graft.ops.Dsir.resample(
          d.where(col("doc_id") % 10 =!= 0), d.where(col("doc_id") % 10 === 0),
          "doc_id", "text", k = 64)
        .orderBy(col("key_q").desc, col("doc_id"))
    }),

    // fastText-shape quality scoring (r8; Joulin et al. 2016): hashed
    // bag-of-ngrams logistic margin under EXPLICIT weights (w_b from
    // Knuth-hash arithmetic on the bucket id — the frozen-model
    // deployment path; training is spec-gated). Per-doc logits quantize
    // at 1e-4; the oracle replays buckets, normalization, and weights.
    "q109_quality_score" -> ((s, dir) => {
      val m = graft.ops.QualityClassifier.Model(4096,
        Array.tabulate(4096)(b => (((b.toLong * 2654435761L) % 1000L) - 500L) / 1000.0),
        bias = 0.25)
      graft.ops.QualityClassifier.score(
          T(s, dir, "documents").where(col("doc_id") < 2000), "doc_id", "text", m)
        .orderBy("doc_id")
    }),

    // versioned SQL views (r8): a nested pair of views — status slice,
    // then per-customer aggregate — created through the catalog (replace
    // = idempotent per run, history append-only) and read through PLAIN
    // SQL via the extensions' substitution rule. Late-binding: the view
    // body re-resolves against the fixture's current snapshot. The
    // oracle replays both view bodies inline over the raw parquet.
    "q112_versioned_view" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      fx.src.createView("tpch", "orders_f",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM snapdml.tpch.orders",
        replace = fx.src.viewExists("tpch", "orders_f"))
      fx.src.createView("tpch", "cust_f_totals",
        "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
          "CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
          "FROM snapdml.tpch.orders_f GROUP BY o_custkey",
        replace = fx.src.viewExists("tpch", "cust_f_totals"))
      s.sql("SELECT o_custkey, n_orders, cents FROM snapdml.tpch.cust_f_totals " +
        "WHERE n_orders >= 2 ORDER BY o_custkey")
    }),

    // the MODERN curation pipeline composed end-to-end (r8 capstone):
    // NFC-normalize -> Gopher rule gate -> frozen-classifier quality
    // threshold -> DSIR importance resampling of the survivors toward
    // the target domain. Every stage is individually oracle-proven
    // (q113/q111/q109/q108); this gate proves the COMPOSITION — the
    // DuckDB replay chains the same four stages over the raw parquet.
    "q115_curation_pipeline" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id"), graft.ops.TextOps.normalize(col("text")).as("text"))
      val gated = graft.ops.TextOps.gopherRules(d, "doc_id", "text", minWords = 8L)
        .where(col("passes")).select("doc_id")
      val m = graft.ops.QualityClassifier.Model(4096,
        Array.tabulate(4096)(b => (((b.toLong * 2654435761L) % 1000L) - 500L) / 1000.0),
        bias = 0.25)
      val quality = graft.ops.QualityClassifier.score(
          d.join(gated, "doc_id"), "doc_id", "text", m)
        .where(col("logit_q") >= 2500L).select("doc_id")
      val pool = d.join(quality, "doc_id")
      graft.ops.Dsir.resample(
          pool.where(col("doc_id") % 10 =!= 0),
          d.where(col("doc_id") % 10 === 0),
          "doc_id", "text", k = 32)
        .orderBy(col("key_q").desc, col("doc_id"))
    }),

    // INCREMENTAL aggregate-MV maintenance (r9): a count/sum/min/max
    // GROUP BY body materializes over HALF the orders, the other half
    // lands as an append, and the refresh must take the
    // `incremental_agg` path — the delta re-aggregates and MERGES
    // group-wise into the backing table via a keyed upsert (O(delta +
    // touched groups), never the corpus; the self-maintainable
    // aggregate set of the view-maintenance literature). The query
    // REQUIRES the mode (a silent full rebuild fails the gate), and the
    // oracle replays the whole-table aggregation — any merge slip
    // (double-counted group, stale min/max) hash-mismatches.
    "q116_mv_agg_incremental" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val cat = fx.src
      // idempotent per run: own table + MV, never touching shared tables
      if (cat.viewExists("maint", "ostats")) cat.dropView("maint", "ostats")
      if (cat.tableExists("maint", "mvagg_orders")) cat.dropTable("maint", "mvagg_orders")
      val orders = T(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "mvagg_orders", orders.schema)
      cat.append("maint", "mvagg_orders", orders.where(col("o_orderkey") % 2 === 0))
      cat.createMaterializedView("maint", "ostats",
        "SELECT o_orderstatus, count(*) AS n, sum(cents) AS sum_cents, " +
          "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
          "FROM maint.mvagg_orders GROUP BY o_orderstatus")
      cat.append("maint", "mvagg_orders", orders.where(col("o_orderkey") % 2 === 1))
      val (mode, _) = cat.refreshMaterializedView("maint", "ostats")
      require(mode == "incremental_agg",
        s"aggregate MV refresh must merge incrementally, took '$mode'")
      s.sql("SELECT o_orderstatus, n, sum_cents, min_key, max_key " +
        "FROM snapdml.maint.ostats ORDER BY o_orderstatus")
    }),

    // RETRACTABLE aggregate MV (r10): a count/sum/avg body materializes
    // with hidden sum+count partial columns, so MoR DELETES and UPDATES
    // in the refresh range MERGE — Q(new) = Q(old) + Q(ins) - Q(del),
    // O(churn + touched groups) — instead of rebuilding the corpus. avg
    // recomputes exactly from its partials (exact long sums; the same
    // double division both engines perform). The query REQUIRES the
    // merge path, then the oracle replays the post-churn aggregate from
    // scratch.
    "q127_mv_agg_retract" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "rstats")) cat.dropView("maint", "rstats")
      if (cat.tableExists("maint", "mvret_orders")) cat.dropTable("maint", "mvret_orders")
      val orders = T(s, dir, "orders").where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "mvret_orders", orders.schema)
      cat.append("maint", "mvret_orders", orders)
      cat.createMaterializedView("maint", "rstats",
        "SELECT o_orderstatus, count(*) AS n, sum(cents) AS sum_cents, " +
          "avg(cents) AS avg_cents FROM maint.mvret_orders GROUP BY o_orderstatus")
      // churn IN RANGE: a delete and an update — the refresh must
      // retract both pre-images through the partials, never rebuild
      cat.deleteMoR("maint", "mvret_orders", col("o_orderkey") % 10 === 3)
      cat.updateMoR("maint", "mvret_orders", col("o_orderkey") % 10 === 5,
        Map("cents" -> lit(0L)))
      val (mode, _) = cat.refreshMaterializedView("maint", "rstats")
      require(mode == "incremental_agg",
        s"retractable MV must merge under deletes/updates, took '$mode'")
      s.sql("SELECT o_orderstatus, n, sum_cents, " +
        "CAST(FLOOR(avg_cents) AS BIGINT) AS avg_floor " +
        "FROM snapdml.maint.rstats ORDER BY o_orderstatus")
    }),

    // RETRACTABLE min/max MV (r11): a KEYED min/max body now merges
    // under deletes too, via the extremum-death probe — a deleted value
    // strictly inside the range folds arithmetically; only groups whose
    // stored extremum actually died recompute, from the base restricted
    // to exactly those group keys. The query kills the global-max row
    // (guaranteed extremum death for its group) plus a middling batch,
    // REQUIRES the merge path, then the oracle replays min/max/count
    // from scratch.
    "q134_mv_minmax_retract" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "mmstats")) cat.dropView("maint", "mmstats")
      if (cat.tableExists("maint", "mvmm_orders")) cat.dropTable("maint", "mvmm_orders")
      val orders = T(s, dir, "orders").where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "mvmm_orders", orders.schema)
      cat.append("maint", "mvmm_orders", orders)
      cat.createMaterializedView("maint", "mmstats",
        "SELECT o_orderstatus, min(cents) AS min_cents, max(cents) AS max_cents, " +
          "count(*) AS n FROM maint.mvmm_orders GROUP BY o_orderstatus")
      val maxCents = OnePass.aggregate(cat.readLatest("maint", "mvmm_orders"),
        Seq(max("cents"))).getLong(0)
      cat.deleteMoR("maint", "mvmm_orders",
        col("cents") === maxCents || col("o_orderkey") % 10 === 4)
      val (mode, _) = cat.refreshMaterializedView("maint", "mmstats")
      require(mode == "incremental_agg",
        s"min/max MV must merge under deletes (extremum-death probe), took '$mode'")
      s.sql("SELECT o_orderstatus, min_cents, max_cents, n " +
        "FROM snapdml.maint.mmstats ORDER BY o_orderstatus")
    }),

    // DISTINCT-aggregate MV retraction (r11): count/sum(DISTINCT x)
    // maintain through a per-(group, value) copy-count SIDECAR — the
    // refresh folds the churn's value counts into the sidecar and
    // re-derives the distinct outputs for ONLY the touched groups
    // (O(distinct values) auxiliary state, the known-minimal for exact
    // distinct maintenance). The query REQUIRES the merge path under a
    // delete+insert range; the oracle replays the survivors from raw.
    "q139_mv_distinct_retract" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "dvstats")) cat.dropView("maint", "dvstats")
      if (cat.tableExists("maint", "mvdv_orders")) cat.dropTable("maint", "mvdv_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "mvdv_orders", base.schema)
      cat.append("maint", "mvdv_orders", base.where(col("o_orderkey") % 3 === 0))
      cat.createMaterializedView("maint", "dvstats",
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS cust_d, " +
          "sum(DISTINCT cents) AS sum_d, count(*) AS n " +
          "FROM maint.mvdv_orders GROUP BY o_orderstatus")
      // one range carrying BOTH a MoR delete and an append: copies of
      // shared custkeys retract (some die, some survive elsewhere) and
      // new distinct values arrive
      cat.deleteMoR("maint", "mvdv_orders", col("o_orderkey") % 5 === 0)
      cat.append("maint", "mvdv_orders",
        base.where(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 7 === 0))
      val (mode, _) = cat.refreshMaterializedView("maint", "dvstats")
      require(mode == "incremental_agg",
        s"distinct MV must merge via the sidecar, took '$mode'")
      s.sql("SELECT o_orderstatus, cust_d, sum_d, n " +
        "FROM snapdml.maint.dvstats ORDER BY o_orderstatus")
    }),

    // AUTOMATIC MV QUERY REWRITE (r11, aggregate navigation): a plain
    // aggregate over the BASE table — the query never names the view —
    // is served from a fresh MV's backing: the group-subset rollup
    // re-aggregates the stored per-group partials, the residual filter
    // on a group-key column re-applies on the backing, and avg rebuilds
    // as Σsum/Σcount. At 100 TB this replaces the fact-table scan +
    // shuffle with a read of a few thousand pre-aggregated rows. The
    // query REQUIRES the rewrite fired (plan reads the backing) against
    // a MoR-churned, incrementally-refreshed MV; the oracle replays the
    // aggregate from the raw surviving rows — so the rewrite path is
    // held to exact-result parity with the from-scratch plan.
    "q140_mv_autorewrite" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "arw_mv")) cat.dropView("maint", "arw_mv")
      if (cat.tableExists("maint", "arw_orders")) cat.dropTable("maint", "arw_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "arw_orders", base.schema)
      cat.append("maint", "arw_orders", base)
      cat.createMaterializedView("maint", "arw_mv",
        "SELECT o_orderstatus, o_orderpriority, sum(cents) AS sc, " +
          "count(*) AS n, avg(cents) AS ac, min(cents) AS mn, max(cents) AS mx " +
          "FROM maint.arw_orders GROUP BY o_orderstatus, o_orderpriority")
      // MoR churn + incremental refresh: the rewrite must hold against a
      // delete-retracted backing, not a pristine materialization
      cat.deleteMoR("maint", "arw_orders", col("o_orderkey") % 10 === 3)
      val (mode, _) = cat.refreshMaterializedView("maint", "arw_mv")
      require(mode == "incremental_agg", s"refresh took '$mode'")
      val df = s.sql(
        "SELECT o_orderstatus, sum(cents) AS sc, count(*) AS n, " +
          "avg(cents) AS ac, min(cents) AS mn, max(cents) AS mx, " +
          "count(cents) AS nc FROM snapdml.maint.arw_orders " +
          "WHERE o_orderpriority <> '3-MEDIUM' " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_arw_mv"),
        "aggregate must be answered from the MV backing (automatic rewrite)")
      df
    }),

    // JOIN-MV NAVIGATION (r11): a fact-dim JOIN aggregate — written with
    // the join condition in the WHERE clause and the tables in the
    // OPPOSITE order from the view body — is answered from the join-MV's
    // backing (inner joins normalize to σ(cond)(A × B), so conjunct
    // placement and leaf order never matter), rolled up to the dim key
    // with a residual filter on a fact group key. At 100 TB this removes
    // the fact-side shuffle join entirely. REQUIRES the plan reads the
    // backing; the oracle replays the join aggregate from raw.
    "q141_mv_join_navigate" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "arwj_mv")) cat.dropView("maint", "arwj_mv")
      if (cat.tableExists("maint", "arwj_orders")) cat.dropTable("maint", "arwj_orders")
      if (cat.tableExists("maint", "arwj_cust")) cat.dropTable("maint", "arwj_cust")
      val fact = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val dim = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      cat.createTable("maint", "arwj_orders", fact.schema)
      cat.append("maint", "arwj_orders", fact.where(col("o_orderkey") % 2 === 0))
      cat.createTable("maint", "arwj_cust", dim.schema)
      cat.append("maint", "arwj_cust", dim)
      cat.createMaterializedView("maint", "arwj_mv",
        "SELECT c.c_mktsegment, o.o_orderstatus, sum(o.cents) AS sc, " +
          "count(*) AS n FROM maint.arwj_orders o JOIN maint.arwj_cust c " +
          "ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment, o.o_orderstatus")
      // append-only churn on the FACT side, then the incremental
      // join-agg refresh — navigation must hold against a merged backing
      cat.append("maint", "arwj_orders", fact.where(col("o_orderkey") % 2 === 1))
      val (mode, _) = cat.refreshMaterializedView("maint", "arwj_mv")
      require(mode == "incremental_join_agg", s"refresh took '$mode'")
      val df = s.sql(
        "SELECT c_mktsegment, sum(cents) AS sc, count(*) AS n, " +
          "avg(cents) AS ac FROM snapdml.maint.arwj_cust c, " +
          "snapdml.maint.arwj_orders o WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_orderstatus <> 'P' GROUP BY c_mktsegment ORDER BY c_mktsegment")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_arwj_mv"),
        "join aggregate must be answered from the join-MV backing")
      df
    }),

    // RETRACTABLE JOIN MVs (r11): a fact-dim rollup MV refreshes
    // incrementally under DELETE churn on BOTH sides — the bilinear
    // join-delta identity Δ± = ΔA± ⋈ B@cur ∪ A@from ⋈ ΔB± feeds the
    // same partial merge (group death included); each term is churn ⋈
    // one side, never a corpus-by-corpus rebuild. REQUIRES the merge
    // path; the oracle replays the surviving join from raw.
    "q142_mv_join_retract" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "jr_mv")) cat.dropView("maint", "jr_mv")
      if (cat.tableExists("maint", "jr_orders")) cat.dropTable("maint", "jr_orders")
      if (cat.tableExists("maint", "jr_cust")) cat.dropTable("maint", "jr_cust")
      val fact = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val dim = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      cat.createTable("maint", "jr_orders", fact.schema)
      cat.append("maint", "jr_orders", fact)
      cat.createTable("maint", "jr_cust", dim.schema)
      cat.append("maint", "jr_cust", dim)
      cat.createMaterializedView("maint", "jr_mv",
        "SELECT c.c_mktsegment, o.o_orderstatus, sum(o.cents) AS sc, " +
          "count(*) AS n, avg(o.cents) AS ac FROM maint.jr_orders o " +
          "JOIN maint.jr_cust c ON o.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment, o.o_orderstatus")
      // one range with a FACT-side MoR delete and a DIM-side MoR delete:
      // joined rows retract on both paths through the bilinear identity
      cat.deleteMoR("maint", "jr_orders", col("o_orderkey") % 7 === 2)
      cat.deleteMoR("maint", "jr_cust", col("c_custkey") % 10 === 4)
      val (mode, _) = cat.refreshMaterializedView("maint", "jr_mv")
      require(mode == "incremental_join_agg",
        s"join retraction must merge, took '$mode'")
      s.sql("SELECT c_mktsegment, o_orderstatus, sc, n, ac " +
        "FROM snapdml.maint.jr_mv ORDER BY c_mktsegment, o_orderstatus")
    }),

    // UNION ALL MVs (r11, the multi-source ingestion shape): a view over
    // UNION ALL of row-local arms maintains incrementally — each arm's
    // body evaluates over ITS base's increment and the union of the arm
    // deltas APPENDS (row-local bodies distribute over union); refresh
    // cost is the day's increments across all sources, never a rebuild.
    // REQUIRES the mode; the oracle replays the union from raw.
    "q144_mv_union" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "un_mv")) cat.dropView("maint", "un_mv")
      if (cat.tableExists("maint", "un_a")) cat.dropTable("maint", "un_a")
      if (cat.tableExists("maint", "un_b")) cat.dropTable("maint", "un_b")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "un_a", base.schema)
      cat.append("maint", "un_a", base.where(col("o_orderkey") % 3 === 0))
      cat.createTable("maint", "un_b", base.schema)
      cat.append("maint", "un_b", base.where(col("o_orderkey") % 3 === 1))
      cat.createMaterializedView("maint", "un_mv",
        "SELECT o_orderkey, o_orderstatus, cents, 'a' AS src " +
          "FROM maint.un_a WHERE cents > 10000 " +
          "UNION ALL SELECT o_orderkey, o_orderstatus, cents, 'b' " +
          "FROM maint.un_b WHERE o_orderstatus <> 'P'")
      // both sources ingest new batches; ONLY the increments evaluate
      cat.append("maint", "un_a",
        base.where(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 2 === 0))
      cat.append("maint", "un_b",
        base.where(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 2 === 1))
      val (mode, _) = cat.refreshMaterializedView("maint", "un_mv")
      require(mode == "incremental_union", s"union refresh took '$mode'")
      s.sql("SELECT o_orderkey, o_orderstatus, cents, src " +
        "FROM snapdml.maint.un_mv ORDER BY src, o_orderkey")
    }),

    // AGGREGATE-over-UNION-ALL MVs (r11): a rollup over multiple sources
    // is LINEAR in every base — one evaluation of the augmented
    // aggregate per delta side (all bases substituted at once) and the
    // usual partial merge; deletes RETRACT through the same identity.
    // REQUIRES the mode under a range carrying an append on one source
    // and a MoR delete on the other; oracle replays the rollup from raw.
    "q145_mv_union_agg" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "ua_mv")) cat.dropView("maint", "ua_mv")
      if (cat.tableExists("maint", "ua_a")) cat.dropTable("maint", "ua_a")
      if (cat.tableExists("maint", "ua_b")) cat.dropTable("maint", "ua_b")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "ua_a", base.schema)
      cat.append("maint", "ua_a", base.where(col("o_orderkey") % 2 === 0))
      cat.createTable("maint", "ua_b", base.schema)
      cat.append("maint", "ua_b",
        base.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 =!= 0))
      cat.createMaterializedView("maint", "ua_mv",
        "SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          "max(cents) AS mx FROM (" +
          "SELECT o_orderstatus, cents FROM maint.ua_a WHERE cents > 5000 " +
          "UNION ALL SELECT o_orderstatus, cents FROM maint.ua_b) " +
          "GROUP BY o_orderstatus")
      // one range: source b ingests its missing batch, source a loses a
      // slice to a MoR delete — insert AND retract fold in one merge
      cat.append("maint", "ua_b",
        base.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0))
      cat.deleteMoR("maint", "ua_a", col("o_orderkey") % 10 === 6)
      val (mode, _) = cat.refreshMaterializedView("maint", "ua_mv")
      require(mode == "incremental_union_agg", s"union-agg refresh took '$mode'")
      s.sql("SELECT o_orderstatus, n, sc, mx " +
        "FROM snapdml.maint.ua_mv ORDER BY o_orderstatus")
    }),

    // SELECT DISTINCT MV RETRACTION (r11): the distinct-row view carries
    // a hidden copy count, so a distinct row dies exactly when its LAST
    // copy does — deletes refresh through the partial merge, never a
    // rebuild. REQUIRES the merge path under a range that kills some
    // rows' every copy and only SOME copies of others; oracle replays
    // the surviving distinct set.
    "q147_mv_select_distinct_retract" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "sd_mv")) cat.dropView("maint", "sd_mv")
      if (cat.tableExists("maint", "sd_orders")) cat.dropTable("maint", "sd_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          (col("o_custkey") % 50).as("bucket"))
      cat.createTable("maint", "sd_orders", base.schema)
      cat.append("maint", "sd_orders", base)
      cat.createMaterializedView("maint", "sd_mv",
        "SELECT DISTINCT o_orderstatus, o_orderpriority, bucket " +
          "FROM maint.sd_orders")
      // kill every P row (their distinct tuples die) and HALF the F rows
      // (their tuples survive through remaining copies)
      cat.deleteMoR("maint", "sd_orders",
        col("o_orderstatus") === "P" ||
          (col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0))
      val (mode, _) = cat.refreshMaterializedView("maint", "sd_mv")
      require(mode == "incremental_agg", s"distinct retraction took '$mode'")
      s.sql("SELECT o_orderstatus, o_orderpriority, bucket FROM " +
        "snapdml.maint.sd_mv ORDER BY o_orderstatus, o_orderpriority, bucket")
    }),

    // PERSISTENT INCREMENTAL VECTOR INDEX (r12): the IVF coarse index as
    // CATALOG TABLES — centroids trained once on the initial corpus and
    // FROZEN, assignments hive-partitioned by cell so a probe reads
    // nprobe/nlist of the index files (directory pruning, asserted in
    // VectorIndexSpec). The base then churns (MoR delete + append) and
    // the refresh advances from PER-COMMIT METADATA: deleted ids retract
    // as an equality delete on the index, new vectors assign to the
    // frozen centroids and append — one churn-sized pass, never a corpus
    // rescan, never a retrain (both REQUIRED below). Top-k is served
    // entirely from the index; the oracle replays training on the
    // initial slice, frozen-centroid assignment of the churned corpus,
    // probing, and the exact cosine re-rank.
    "q148_vector_index" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("vix_idx", "vix_idx_cent", "vix_emb"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val emb = T(s, dir, "embeddings")
      cat.createTable("maint", "vix_emb", emb.schema)
      cat.append("maint", "vix_emb", emb.where(col("vec_id") % 2 === 0))
      graft.ops.VectorIndex.create(cat, "maint", "vix_emb", "vix_idx",
        "vec_id", "embedding", nlist = 8, iters = 2, sampleMod = 3)
      cat.deleteMoR("maint", "vix_emb", col("vec_id") % 10 === 0)
      cat.append("maint", "vix_emb", emb.where(col("vec_id") % 2 === 1))
      val t0 = graft.ops.VectorIndex.trainingCount
      val (mode, _) = graft.ops.VectorIndex.refresh(cat, "maint", "vix_idx")
      require(mode == "incremental", s"index refresh took '$mode'")
      require(graft.ops.VectorIndex.trainingCount == t0,
        "index refresh must not retrain the coarse quantizer")
      graft.ops.VectorIndex.topK(cat, "maint", "vix_idx",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // PERSISTENT IVF-PQ VECTOR INDEX (r13): the same index lifecycle as
    // q148 with product-quantized storage — assignments hold m-BYTE
    // codes + the row norm instead of d doubles (at 10^10 x d=768 a
    // flat index is ~60 TB; PQ stores 16-64 B/row, the published FAISS
    // IVFPQ serving shape), codebooks persist frozen beside the coarse
    // centroids, the churn refresh carries over unchanged (codes are
    // per-row values), and topK ADC-scores the probed cells then
    // re-ranks an exact shortlist against the base AT THE PIN. REQUIRES
    // the incremental refresh, zero retrains, and index bytes strictly
    // below the equivalent flat index; refine covers the probed cells at
    // this scale, so the q148 oracle states the answer VERBATIM.
    "q160_vector_index_pq" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("vpq_idx", "vpq_idx_cent", "vpq_idx_books",
          "vpq_flat", "vpq_flat_cent", "vpq_emb"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val emb = T(s, dir, "embeddings")
      cat.createTable("maint", "vpq_emb", emb.schema)
      cat.append("maint", "vpq_emb", emb.where(col("vec_id") % 2 === 0))
      graft.ops.VectorIndex.create(cat, "maint", "vpq_emb", "vpq_idx",
        "vec_id", "embedding", nlist = 8, iters = 2, sampleMod = 3,
        pq = Some((16, 8)))
      graft.ops.VectorIndex.create(cat, "maint", "vpq_emb", "vpq_flat",
        "vec_id", "embedding", nlist = 8, iters = 2, sampleMod = 3)
      def bytes(n: String): Long = {
        val snap = cat.currentSnapshot("maint", n)
        snap.files.map(f => snap.fileStats(f)("bytes").toLong).sum
      }
      require(bytes("vpq_idx") * 2 < bytes("vpq_flat"),
        s"PQ index must be far smaller than flat: " +
          s"${bytes("vpq_idx")}B vs ${bytes("vpq_flat")}B")
      cat.deleteMoR("maint", "vpq_emb", col("vec_id") % 10 === 0)
      cat.append("maint", "vpq_emb", emb.where(col("vec_id") % 2 === 1))
      val t0 = graft.ops.VectorIndex.trainingCount
      val (mode, _) = graft.ops.VectorIndex.refresh(cat, "maint", "vpq_idx")
      require(mode == "incremental", s"PQ index refresh took '$mode'")
      require(graft.ops.VectorIndex.trainingCount == t0,
        "PQ index refresh must retrain neither quantizer")
      graft.ops.VectorIndex.topK(cat, "maint", "vpq_idx",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10, nprobe = 3, refine = 500)
        .orderBy("query_id", "rank")
    }),

    // INDEX-SERVED NEAR-DUP PAIRS (r13): the SemDeDup cell comparison as
    // a maintained-index QUERY — the per-call training + full-corpus
    // assignment q107's semDedup pays every invocation is already
    // materialized in the q148-style index, so after churn + one
    // incremental refresh, continuous dedup costs the within-cell pair
    // stage alone (exact cosine over the stored vectors, reading the
    // cell-partitioned index files). The oracle replays training on the
    // initial slice, frozen-centroid assignment of the churned corpus,
    // and the exact pairwise cosine within cells.
    "q161_index_neardup" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("vnd_idx", "vnd_idx_cent", "vnd_emb"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val emb = T(s, dir, "embeddings")
      cat.createTable("maint", "vnd_emb", emb.schema)
      cat.append("maint", "vnd_emb", emb.where(col("vec_id") % 2 === 0))
      graft.ops.VectorIndex.create(cat, "maint", "vnd_emb", "vnd_idx",
        "vec_id", "embedding", nlist = 8, iters = 2, sampleMod = 3)
      cat.deleteMoR("maint", "vnd_emb", col("vec_id") % 10 === 0)
      cat.append("maint", "vnd_emb", emb.where(col("vec_id") % 2 === 1))
      val (mode, _) = graft.ops.VectorIndex.refresh(cat, "maint", "vnd_idx")
      require(mode == "incremental", s"index refresh took '$mode'")
      graft.ops.VectorIndex.nearDupPairs(cat, "maint", "vnd_idx", tau = 0.35)
        .orderBy("id_a", "id_b")
    }),

    // CONTINUOUS MV MAINTENANCE (r12, the streaming-MV / DLT shape): a
    // Structured Streaming query tails the base table's CDC stream as a
    // COMMIT SIGNAL (the batch frame is never acted on — no pre-image
    // job) and folds every signal into refreshMaterializedView, whose
    // pin-advancing refresh makes the maintainer exactly-once and
    // restart-idempotent by construction. The query REQUIRES the drained
    // maintenance took the incremental-agg path (never full) across a
    // delete+append churn; the oracle replays the aggregate from raw.
    "q149_mv_streaming" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "smv")) cat.dropView("maint", "smv")
      if (cat.tableExists("maint", "smv_orders")) cat.dropTable("maint", "smv_orders")
      val base = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "smv_orders", base.schema)
      cat.append("maint", "smv_orders", base.where(col("o_orderkey") % 2 === 0))
      cat.createMaterializedView("maint", "smv",
        "SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc " +
          "FROM maint.smv_orders GROUP BY o_orderstatus")
      // churn AFTER the view materialized: a retraction and an ingest
      cat.deleteMoR("maint", "smv_orders", col("o_orderkey") % 10 === 0)
      cat.append("maint", "smv_orders", base.where(col("o_orderkey") % 2 === 1))
      val modes = scala.collection.mutable.ArrayBuffer.empty[String]
      val qs = graft.streaming.MvMaintainer.maintain(s, cat, "snapdml",
        "maint", "smv", availableNow = true,
        onRefresh = (m, _) => modes.synchronized { modes += m })
      qs.foreach(q => require(q.awaitTermination(180000),
        "MV maintainer did not drain under Trigger.AvailableNow"))
      require(modes.contains("incremental_agg"),
        s"streamed maintenance must merge incrementally, saw $modes")
      require(!modes.contains("full"), s"saw a full refresh: $modes")
      s.sql("SELECT o_orderstatus, n, sc FROM snapdml.maint.smv " +
        "ORDER BY o_orderstatus")
    }),

    // PERCEPTUAL-HASH IMAGE NEAR-DUP (r12): DCT pHash over REAL decoded
    // rasters, then the 4x16-bit banded Hamming self-join (exact recall
    // at <= 3 bits by pigeonhole — never all-pairs). The fixture builds
    // 100 groups x 3 renderings of the same pixel content — native size,
    // an exact 2x pixel-doubled upscale, and a 4x upscale — so payload
    // bytes differ in every pair while the box-downsampled luma grid is
    // IDENTICAL (sums of 2^k equal ints divide exactly): the classic
    // re-encoded/resized dup classes land at Hamming 0 by construction,
    // and the oracle states the pair set from id arithmetic. A single
    // cross-group collision or a single in-group bit flip breaks the
    // match, so the whole decode->DCT->band->verify pipeline is held
    // exact.
    "q150_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select("doc_id").where(col("doc_id") < 300)
        .as[Long].map { id =>
          val g = id / 3
          val scale = 1 << (id % 3).toInt // 1x, 2x, 4x renderings
          val n = 32 * scale
          val img = new java.awt.image.BufferedImage(n, n,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          // group-dependent SPATIAL FREQUENCIES, not a brightness offset:
          // pHash is deliberately invariant to constant shifts, so groups
          // must differ structurally ((fx, fy) uniquely determines g for
          // g < 112, plus a per-group xy cross term)
          val fx = 7 + (g % 16)
          val fy = 11 + (g / 16)
          val fxy = 1 + (g % 7)
          var y = 0
          while (y < n) {
            var x = 0
            while (x < n) {
              val (px, py) = (x / scale, y / scale)
              val v = ((px * fx + py * fy + px * py * fxy) % 240).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image", bos.toByteArray)
        }.toDF("doc_id", "modality", "payload")
      graft.ops.Multimodal.phashNearDupPairs(s, media, maxHamming = 2)
        .orderBy("id_a", "id_b")
    }),

    // EXACT DISTRIBUTED HEAVY HITTERS (r12): one Misra-Gries sketch scan
    // (O(k) state per partition, map-side combinable, carries exact n)
    // whose frequent-items invariant guarantees no item above n/k is
    // missed, then one exact-count scan over the <= k-1 candidates. The
    // result is exactly {token : count*k > n} — vocabulary-sized shuffle
    // replaced by k counters per partition — and DuckDB states the same
    // set from a plain GROUP BY.
    "q151_heavy_hitters" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      graft.ops.HeavyHitters.exact(toks, col("tok"), k = 50)
    }),

    // GROUPING-SETS MV NAVIGATION (r12): a ROLLUP over the BASE table —
    // the query never names the view — is served from the MV backing:
    // grouping-set semantics is "aggregate per set over the input", and
    // every merged-form aggregate composes over pre-aggregated rows, so
    // the whole analytic re-issues as the same ROLLUP over the
    // churn-thin backing (count → Σn, sum → Σsums, avg → Σ__mv_s/Σ__mv_c,
    // min folds; grouping() carries over bit-exactly). At 100 TB a CUBE
    // over the fact table becomes a CUBE over a few thousand rows. The
    // query REQUIRES the plan reads the backing against a MoR-churned,
    // incrementally-refreshed MV; the oracle replays the ROLLUP raw.
    "q152_mv_groupingsets" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "gs_mv")) cat.dropView("maint", "gs_mv")
      if (cat.tableExists("maint", "gs_orders")) cat.dropTable("maint", "gs_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "gs_orders", base.schema)
      cat.append("maint", "gs_orders", base)
      cat.createMaterializedView("maint", "gs_mv",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
          "sum(cents) AS sc, avg(cents) AS ac, min(cents) AS mn " +
          "FROM maint.gs_orders GROUP BY o_orderstatus, o_orderpriority")
      cat.deleteMoR("maint", "gs_orders", col("o_orderkey") % 10 === 3)
      val (mode, _) = cat.refreshMaterializedView("maint", "gs_mv")
      require(mode == "incremental_agg", s"refresh took '$mode'")
      val df = s.sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
          "sum(cents) AS sc, avg(cents) AS ac, min(cents) AS mn, " +
          "CAST(grouping(o_orderstatus) AS BIGINT) AS g1, " +
          "CAST(grouping(o_orderpriority) AS BIGINT) AS g2 " +
          "FROM snapdml.maint.gs_orders " +
          "GROUP BY ROLLUP(o_orderstatus, o_orderpriority) " +
          "ORDER BY g1, g2, o_orderstatus, o_orderpriority")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_gs_mv"),
        "the ROLLUP must be answered from the MV backing (grouping-sets navigation)")
      df
    }),

    // PER-GROUP EXACT HEAVY HITTERS (r12): tokens above a 1/30 share of
    // THEIR language's stream — one Misra-Gries sketch per group (typed
    // aggregate with partial merge: per-partition state is O(groups×k),
    // the shuffle moves sketches, never the token stream), then exact
    // counts of the candidate sliver against each group's own exact n.
    // DuckDB states the identical set from a full per-group GROUP BY.
    "q157_heavy_hitters_grouped" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      graft.ops.HeavyHitters.exactPerGroup(toks, col("lang"), col("tok"), k = 30)
    }),

    // EXACT EDIT-DISTANCE JOIN (r13): every pair within Levenshtein
    // distance 2 over a short key column, via FastSS deletion-
    // neighborhood banding (radius-2 variants equi-joined — exact recall
    // by the alignment/pigeonhole argument, NEVER all-pairs) and the
    // codegen'd thresholded levenshtein verify. The fixture derives keys
    // with three per-group mutation classes (identity / 1-insert /
    // substitute+insert) so in-group distances hit 1 and 2 and adjacent
    // groups collide at distance 1-2 through digit edits; DuckDB replays
    // the TRUE distance over all id-ordered pairs, so one missed or
    // spurious pair (or one off-by-one distance) fails the hash.
    "q162_fuzzy_join" -> ((s, dir) => {
      // doc_id < 2000 bounds the (inherently quadratic-in-duplicates)
      // id-pair OUTPUT at the bench scale; every mutation class and
      // digit-adjacency collision shape is already present below it
      val keyed = T(s, dir, "documents").where(col("doc_id") < 2000)
        .select(col("doc_id"),
          concat(lit("tok"), (col("doc_id") % 120).cast("string"),
            when(col("doc_id") % 3 === 1, lit("x"))
              .when(col("doc_id") % 3 === 2, lit("qz"))
              .otherwise(lit(""))).as("s"))
      graft.ops.FuzzyJoin.pairs(keyed, col("doc_id"), col("s"), k = 2)
        .orderBy("id_a", "id_b")
    }),

    // OUTER-JOIN MV NAVIGATION (r13): an aggregate over fact LEFT JOIN dim
    // serves from a covering MV whose body is the IDENTICAL join tree —
    // the strict shape lane (outer joins don't commute with filters, so
    // unlike the inner lane the trees must match node for node; top-level
    // residuals on group keys still re-apply). The dim drops every third
    // customer so a genuine null-extended segment group exists — exactly
    // the rows an inner-join MV could never answer. Fact-side MoR churn +
    // refresh first; REQUIREs the rewrite fires; the oracle replays the
    // raw LEFT JOIN over the survivors.
    "q163_mv_outer_navigate" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "lo_mv")) cat.dropView("maint", "lo_mv")
      for (t <- Seq("lo_fact", "lo_dim"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val fact = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val dim = T(s, dir, "customer").where(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      cat.createTable("maint", "lo_fact", fact.schema)
      cat.append("maint", "lo_fact", fact)
      cat.createTable("maint", "lo_dim", dim.schema)
      cat.append("maint", "lo_dim", dim)
      cat.createMaterializedView("maint", "lo_mv",
        "SELECT d.c_mktsegment, f.o_orderstatus, count(*) AS n, sum(f.cents) AS sc " +
          "FROM maint.lo_fact f LEFT JOIN maint.lo_dim d ON f.o_custkey = d.c_custkey " +
          "GROUP BY d.c_mktsegment, f.o_orderstatus")
      cat.deleteMoR("maint", "lo_fact", col("o_orderkey") % 7 === 3)
      val (mode, _) = cat.refreshMaterializedView("maint", "lo_mv")
      require(mode == "incremental_outer_agg",
        s"fact-side churn must ride the outer telescope, took '$mode'")
      val df = s.sql(
        "SELECT c_mktsegment, sum(cents) AS sc, count(*) AS n " +
          "FROM snapdml.maint.lo_fact f LEFT JOIN snapdml.maint.lo_dim d " +
          "ON f.o_custkey = d.c_custkey WHERE f.o_orderstatus = 'F' " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_lo_mv"),
        "the LEFT JOIN rollup must be answered from the outer-join MV backing")
      df
    }),

    // MULTI-TABLE ATOMIC TRANSACTION (r13): two tables land together or
    // not at all — the stage-everything / durable-intent / publish-all
    // protocol over WAP staging. The first transaction commits half the
    // fact plus the whole dim; the second VIOLATES the dim's declared
    // expectation, so its fact rows must vanish with it (the discard
    // leaves no pending stage and no intent debris). The join aggregate
    // then sees exactly transaction 1's state — one leaked odd-key fact
    // row doubles a group's count and fails the hash.
    "q164_txn_atomic" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("txn_fact", "txn_dim"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val fact = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val dim = T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      cat.createTable("maint", "txn_fact", fact.schema)
      cat.createTable("maint", "txn_dim", dim.schema)
      cat.setProperty("maint", "txn_dim", "expect.seg_nonnull",
        Some("c_mktsegment IS NOT NULL"))
      val pins = cat.beginTransaction()
        .append("maint", "txn_fact", fact.where(col("o_orderkey") % 2 === 0))
        .append("maint", "txn_dim", dim)
        .commit()
      require(pins.size == 2, s"expected two pins, got $pins")
      val refused = try {
        cat.beginTransaction()
          .append("maint", "txn_fact", fact.where(col("o_orderkey") % 2 === 1))
          .append("maint", "txn_dim", dim.limit(5)
            .withColumn("c_mktsegment", lit(null).cast("string")))
          .commit()
        false
      } catch { case _: IllegalStateException => true }
      require(refused, "the expectation-violating transaction must refuse")
      require(cat.pendingStagedId("maint", "txn_fact").isEmpty &&
        cat.pendingStagedId("maint", "txn_dim").isEmpty,
        "an aborted transaction must leave no pending stage")
      s.sql("SELECT c_mktsegment, count(*) AS n, sum(cents) AS sc " +
        "FROM snapdml.maint.txn_fact f JOIN snapdml.maint.txn_dim d " +
        "ON f.o_custkey = d.c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    }),

    // FULL OUTER MV, INCREMENTALLY MAINTAINED (r13): the reconciliation
    // shape — two feeds with disjoint key gaps FULL JOINed, so matched,
    // left-anti, and right-anti row classes all exist (the st=NULL group
    // is the right-anti class). Churn hits BOTH sides in one range (a
    // MoR delete on feed A, an append on feed B), which exercises both
    // telescope brackets: full outer joins are linear in NEITHER input,
    // so each bracket is an affected-key recompute. REQUIRES the
    // incremental mode and the automatic rewrite; DuckDB replays the raw
    // FULL JOIN over the final states.
    "q165_mv_full_outer" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "fo_mv")) cat.dropView("maint", "fo_mv")
      for (t <- Seq("fo_a", "fo_b"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val a = T(s, dir, "orders").where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      val b = T(s, dir, "lineitem").where(col("l_orderkey") % 4 =!= 0)
        .select(col("l_orderkey").as("okey"),
          col("l_quantity").cast("long").as("qty"))
      cat.createTable("maint", "fo_a", a.schema)
      cat.append("maint", "fo_a", a)
      cat.createTable("maint", "fo_b", b.schema)
      cat.append("maint", "fo_b", b.where(col("okey") % 4 =!= 3))
      cat.createMaterializedView("maint", "fo_mv",
        "SELECT a.o_orderstatus AS st, count(*) AS n, sum(b.qty) AS sq " +
          "FROM maint.fo_a a FULL JOIN maint.fo_b b ON a.okey = b.okey " +
          "GROUP BY a.o_orderstatus")
      cat.deleteMoR("maint", "fo_a", col("okey") % 7 === 2)
      cat.append("maint", "fo_b", b.where(col("okey") % 4 === 3))
      val (mode, _) = cat.refreshMaterializedView("maint", "fo_mv")
      require(mode == "incremental_outer_agg",
        s"both-sides churn must ride the outer telescope, took '$mode'")
      val df = s.sql(
        "SELECT a.o_orderstatus AS st, count(*) AS n, sum(b.qty) AS sq " +
          "FROM snapdml.maint.fo_a a FULL JOIN snapdml.maint.fo_b b " +
          "ON a.okey = b.okey GROUP BY a.o_orderstatus ORDER BY st")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_fo_mv"),
        "the FULL JOIN rollup must be answered from the MV backing")
      df
    }),

    // PERSISTENT INVERTED TEXT INDEX (r13 continuation): BM25 serving
    // from a maintained catalog table — the lexical twin of the q148
    // vector index. Postings hive-partition by term-hash bucket, so a
    // query batch reads ONLY its own terms' bucket directories (the
    // nprobe/nlist analogue, asserted in TextIndexSpec); the corpus
    // scalars (N, total dl) fold EXACTLY from the multiset changelog at
    // each refresh. The base churns (MoR delete + append) and the
    // refresh advances from per-commit metadata — REQUIRED incremental:
    // deleted ids retract as an equality delete on the index, new docs
    // tokenize and append, never a corpus re-tokenization. The oracle
    // replays the whole BM25 (tokenize → postings → df → score → rank)
    // over the surviving corpus; any drift in stored postings, folded
    // scalars, or pruning fails the hash.
    "q166_text_index" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("lex_idx", "lex_docs"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val d = T(s, dir, "documents").select("doc_id", "text")
      cat.createTable("maint", "lex_docs", d.schema)
      cat.append("maint", "lex_docs", d.where(col("doc_id") % 2 === 0))
      graft.ops.TextIndex.create(cat, "maint", "lex_docs", "lex_idx",
        "doc_id", "text", nbuckets = 16)
      cat.deleteMoR("maint", "lex_docs", col("doc_id") % 10 === 0)
      cat.append("maint", "lex_docs", d.where(col("doc_id") % 2 === 1))
      val (mode, _) = graft.ops.TextIndex.refresh(cat, "maint", "lex_idx")
      require(mode == "incremental", s"text-index refresh took '$mode'")
      graft.ops.TextIndex.topK(cat, "maint", "lex_idx",
        d.where(col("doc_id") < 5)
          .select(col("doc_id").as("qid"),
            substring(col("text"), 1, 48).as("qtext")),
        "qid", "qtext", k = 10, k1 = 1.5, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    // DISTINCT AGGREGATES OVER A JOIN BODY (r13 continuation): a
    // fact ⋈ dim rollup carrying count/sum(DISTINCT) maintains
    // INCREMENTALLY — previously any multi-base body with a DISTINCT
    // aggregate fell to full. The per-(group, value) copy-count sidecar
    // folds the SAME join-delta telescope terms the main partials ride,
    // re-aggregated under the sidecar's own plan (counts are additive
    // over the telescope's multiset union), so copy death vs value
    // death resolve exactly through the join. REQUIRES the telescope
    // mode after a range carrying BOTH a fact MoR delete and an append;
    // the oracle replays the raw join DISTINCT over the survivors.
    "q167_mv_join_distinct" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "jd_mv")) cat.dropView("maint", "jd_mv")
      for (t <- Seq("jd_fact", "jd_dim"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val f = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"),
          col("l_quantity").cast("long").as("qty"))
      val d = T(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      cat.createTable("maint", "jd_fact", f.schema)
      cat.append("maint", "jd_fact", f.where(col("okey") % 3 =!= 0))
      cat.createTable("maint", "jd_dim", d.schema)
      cat.append("maint", "jd_dim", d)
      cat.createMaterializedView("maint", "jd_mv",
        "SELECT d.o_orderstatus AS st, count(DISTINCT f.qty) AS dq, " +
          "sum(DISTINCT f.qty) AS sq, count(*) AS n " +
          "FROM maint.jd_fact f JOIN maint.jd_dim d ON f.okey = d.okey " +
          "GROUP BY d.o_orderstatus")
      cat.deleteMoR("maint", "jd_fact", col("okey") % 7 === 2)
      cat.append("maint", "jd_fact", f.where(col("okey") % 3 === 0))
      val (mode, _) = cat.refreshMaterializedView("maint", "jd_mv")
      require(mode == "incremental_join_agg",
        s"join DISTINCT churn must ride the telescope, took '$mode'")
      s.sql("SELECT st, dq, sq, n FROM snapdml.maint.jd_mv ORDER BY st")
    }),

    // N-WAY LEFT-JOIN CHAIN MV (r13 continuation): the star with
    // OPTIONAL dimensions — fact LEFT JOIN dim1 LEFT JOIN dim2, where
    // dangling fact rows keep their rows with null-extended dim columns
    // (an inner star would drop them) — refreshes INCREMENTALLY via the
    // per-dim bracket telescope: fact churn rides left-linearity, a
    // moved dim rides affected-key recompute against its own churn's
    // key set (earlier relations pinned at cur, later at from; rows
    // outside the key set contribute cancelling ± partials). Previously
    // any 3+-base outer body fell to full. The range carries a fact MoR
    // delete AND a dim append that COVERS previously null-extended keys;
    // REQUIRES the outer telescope mode; the oracle replays the raw
    // LEFT chain over the survivors.
    "q168_mv_outer_chain" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "oc_mv")) cat.dropView("maint", "oc_mv")
      for (t <- Seq("oc_fact", "oc_ord", "oc_part"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val f = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"),
          col("l_quantity").cast("long").as("qty"))
      val d1 = T(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      val d2 = T(s, dir, "part")
        .select(col("p_partkey").as("pkey"), col("p_brand"))
      cat.createTable("maint", "oc_fact", f.schema)
      cat.append("maint", "oc_fact", f)
      cat.createTable("maint", "oc_ord", d1.schema)
      cat.append("maint", "oc_ord", d1.where(col("okey") % 5 =!= 0))
      cat.createTable("maint", "oc_part", d2.schema)
      cat.append("maint", "oc_part", d2.where(col("pkey") % 3 =!= 0))
      cat.createMaterializedView("maint", "oc_mv",
        "SELECT d1.o_orderstatus AS st, d2.p_brand AS brand, " +
          "count(*) AS n, sum(f.qty) AS sq FROM maint.oc_fact f " +
          "LEFT JOIN maint.oc_ord d1 ON f.okey = d1.okey " +
          "LEFT JOIN maint.oc_part d2 ON f.pkey = d2.pkey " +
          "GROUP BY d1.o_orderstatus, d2.p_brand")
      cat.deleteMoR("maint", "oc_fact", col("okey") % 7 === 3)
      cat.append("maint", "oc_ord",
        d1.where(col("okey") % 5 === 0 && col("okey") % 2 === 0))
      val (mode, _) = cat.refreshMaterializedView("maint", "oc_mv")
      require(mode == "incremental_outer_agg",
        s"chain churn must ride the per-dim brackets, took '$mode'")
      s.sql("SELECT st, brand, n, sq FROM snapdml.maint.oc_mv " +
        "ORDER BY st NULLS FIRST, brand NULLS FIRST")
    }),

    // HYBRID RETRIEVAL SERVED FROM MAINTAINED INDEXES (r13 continuation,
    // the retrieval capstone): ONE corpus table carrying text AND an
    // embedding, TWO persistent indexes over it — the q166 inverted text
    // index and the q148 IVF vector index — maintained through the SAME
    // churn (MoR delete + append) by their incremental refreshes (both
    // REQUIRED), then one call fuses BM25 and ANN rankings by RRF.
    // Neither leg touches the corpus at query time: the lexical leg
    // reads the query terms' bucket directories, the semantic leg the
    // probed cells' partitions. The oracle replays EVERYTHING in SQL —
    // tokenize→postings→BM25, integer-grid Lloyd's→frozen assignment→
    // probe→exact cosine, and the integer-quantized RRF fold — so drift
    // in either index, either refresh, or the fusion fails the hash.
    "q169_hybrid_index" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("hy_tix", "hy_vix", "hy_vix_cent", "hy_base"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val d = T(s, dir, "documents").select("doc_id", "text")
      val e = T(s, dir, "embeddings")
      val base = d.join(e, d("doc_id") === e("vec_id"))
        .select(d("doc_id"), col("text"), col("embedding"))
      cat.createTable("maint", "hy_base", base.schema)
      cat.append("maint", "hy_base", base.where(col("doc_id") % 2 === 0))
      graft.ops.TextIndex.create(cat, "maint", "hy_base", "hy_tix",
        "doc_id", "text", nbuckets = 16)
      graft.ops.VectorIndex.create(cat, "maint", "hy_base", "hy_vix",
        "doc_id", "embedding", nlist = 8, iters = 2, sampleMod = 3)
      cat.deleteMoR("maint", "hy_base", col("doc_id") % 10 === 0)
      cat.append("maint", "hy_base", base.where(col("doc_id") % 2 === 1))
      val (m1, _) = graft.ops.TextIndex.refresh(cat, "maint", "hy_tix")
      require(m1 == "incremental", s"text leg refresh took '$m1'")
      val (m2, _) = graft.ops.VectorIndex.refresh(cat, "maint", "hy_vix")
      require(m2 == "incremental", s"vector leg refresh took '$m2'")
      graft.ops.Retrieval.hybridIndexTopK(cat, "maint", "hy_tix", "hy_vix",
        base.where(col("doc_id") < 5)
          .select(col("doc_id").as("qid"),
            substring(col("text"), 1, 48).as("qtext"),
            col("embedding").as("qvec")),
        "qid", "qtext", "qvec", k = 10, nprobe = 3, fuseK = 60,
        k1 = 1.5, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    // HYBRID RETRIEVAL, PQ LEG (r14): the q169 stack with the vector leg
    // a PQ-CODED index — the ANN side stores m-byte codes instead of
    // vectors, ADC-scores the probed cells, and the covering refine's
    // exact re-rank against the base at the pin reproduces the flat
    // leg's ranking exactly (the q160 argument, now through the hybrid
    // surface). Both legs' refreshes REQUIRED incremental across the
    // same churn; the oracle is q169's full SQL replay VERBATIM — the
    // fused ranking must match the flat fixture bit-for-bit.
    "q185_hybrid_pq" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("hyp_tix", "hyp_vix", "hyp_vix_cent", "hyp_vix_books",
          "hyp_base"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val d = T(s, dir, "documents").select("doc_id", "text")
      val e = T(s, dir, "embeddings")
      val base = d.join(e, d("doc_id") === e("vec_id"))
        .select(d("doc_id"), col("text"), col("embedding"))
      cat.createTable("maint", "hyp_base", base.schema)
      cat.append("maint", "hyp_base", base.where(col("doc_id") % 2 === 0))
      graft.ops.TextIndex.create(cat, "maint", "hyp_base", "hyp_tix",
        "doc_id", "text", nbuckets = 16)
      graft.ops.VectorIndex.create(cat, "maint", "hyp_base", "hyp_vix",
        "doc_id", "embedding", nlist = 8, iters = 2, sampleMod = 3,
        pq = Some((16, 8)))
      cat.deleteMoR("maint", "hyp_base", col("doc_id") % 10 === 0)
      cat.append("maint", "hyp_base", base.where(col("doc_id") % 2 === 1))
      val (m1, _) = graft.ops.TextIndex.refresh(cat, "maint", "hyp_tix")
      require(m1 == "incremental", s"text leg refresh took '$m1'")
      val (m2, _) = graft.ops.VectorIndex.refresh(cat, "maint", "hyp_vix")
      require(m2 == "incremental", s"PQ vector leg refresh took '$m2'")
      graft.ops.Retrieval.hybridIndexTopK(cat, "maint", "hyp_tix", "hyp_vix",
        base.where(col("doc_id") < 5)
          .select(col("doc_id").as("qid"),
            substring(col("text"), 1, 48).as("qtext"),
            col("embedding").as("qvec")),
        "qid", "qtext", "qvec", k = 10, nprobe = 3, fuseK = 60,
        k1 = 1.5, b = 0.75, refine = 500)
        .orderBy("query_id", "rank")
    }),

    // RANKED TOP-K MATERIALIZED VIEW (r13 continuation): a top-5-per-
    // group leaderboard body (`row_number() OVER (PARTITION BY ...) <=
    // k`) maintains INCREMENTALLY — the one window shape with an exact
    // incremental algebra. Inserts merge against the stored top-k (a
    // row below the cutoff can never rise by an insertion), and a
    // delete that hits a STORED row recomputes exactly that group from
    // the base under a literal key predicate (rows below the cutoff may
    // get promoted and only the base knows them — the extremum-death
    // discipline generalized from k = 1). The churn range carries BOTH
    // (a value-threshold MoR delete that kills every initial stored
    // top AND an append that supplies new tops); REQUIRES the topk
    // mode; the oracle replays the window + rank filter raw.
    "q170_mv_topk" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "tk_li")) cat.dropView("maint", "tk_li")
      if (cat.tableExists("maint", "tk_base")) cat.dropTable("maint", "tk_base")
      val li = T(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
        col("l_orderkey").as("okey"),
        col("l_linenumber").cast("long").as("line"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "tk_base", li.schema)
      cat.append("maint", "tk_base", li.where(col("okey") % 3 =!= 0))
      cat.createMaterializedView("maint", "tk_li",
        "SELECT flag, okey, line, cents, rn FROM (SELECT flag, okey, " +
          "line, cents, row_number() OVER (PARTITION BY flag " +
          "ORDER BY cents DESC, okey, line) AS rn " +
          "FROM maint.tk_base) s WHERE rn <= 5")
      cat.deleteMoR("maint", "tk_base", col("cents") > 9000000L)
      cat.append("maint", "tk_base", li.where(col("okey") % 3 === 0))
      val (mode, _) = cat.refreshMaterializedView("maint", "tk_li")
      require(mode == "incremental_topk",
        s"top-k churn must merge/recompute group-wise, took '$mode'")
      // NAVIGATION: the raw window query (never naming the view) must be
      // served from the ranked backing — groups x 5 stored rows instead
      // of a full sort-heavy window over the fact table
      val df = s.sql("SELECT flag, okey, line, cents, CAST(rn AS BIGINT) AS rn " +
        "FROM (SELECT flag, okey, line, cents, row_number() OVER " +
        "(PARTITION BY flag ORDER BY cents DESC, okey, line) AS rn " +
        "FROM snapdml.maint.tk_base) s WHERE rn <= 5 ORDER BY flag, rn")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_tk_li"),
        "the rank-filtered window must be answered from the ranked backing")
      df
    }),

    // PERSISTENT MINHASH NEAR-DUP INDEX (r13 continuation): the dedup
    // leg of the maintained-index trilogy. The corpus's banded MinHash
    // sketch is a DURABLE bucket-partitioned table maintained
    // churn-sized from per-commit metadata (REQUIRED incremental across
    // a MoR delete + append range — never a corpus re-sketch), and the
    // continuous-ingest flagship runs against it: sketch ONLY the probe
    // batch, read ONLY its band hashes' bucket directories, verify
    // candidates with exact integer Jaccard against the base at the
    // pin. With 32 bands of 2 rows candidate recall at J >= 9/10 is
    // total (miss <= 10^-23), so the DuckDB oracle states the result as
    // plain all-pairs Jaccard between batch and corpus.
    "q171_dedup_index" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("dd_idx", "dd_docs"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val d = T(s, dir, "documents").select("doc_id", "text")
      cat.createTable("maint", "dd_docs", d.schema)
      cat.append("maint", "dd_docs", d.where(col("doc_id") % 2 === 0))
      graft.ops.DedupIndex.create(cat, "maint", "dd_docs", "dd_idx",
        "doc_id", "text", nbuckets = 16)
      cat.deleteMoR("maint", "dd_docs", col("doc_id") % 10 === 0)
      cat.append("maint", "dd_docs",
        d.where(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0))
      val (mode, _) = graft.ops.DedupIndex.refresh(cat, "maint", "dd_idx")
      require(mode == "incremental", s"dedup-index refresh took '$mode'")
      graft.ops.DedupIndex.pairsAgainst(cat, "maint", "dd_idx",
        d.where(col("doc_id") % 2 === 1 && col("doc_id") % 3 =!= 0),
        "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),

    // INGEST-DEDUP GATE CAPSTONE (r13 continuation): the persistent
    // MinHash index doing its production job — a new batch is probed
    // against the corpus BEFORE ingestion (sketch only the batch, read
    // only its band hashes' buckets, verify with exact Jaccard against
    // the base at the pin), batch docs with any corpus near-dup at
    // J >= 9/10 are rejected, survivors append, and the index advances
    // incrementally (REQUIRED — never a corpus re-sketch). The oracle
    // replays the whole gate as one CTE chain: evens plus the odds
    // without an all-pairs-Jaccard near-dup among the evens.
    "q175_ingest_dedup_gate" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("ig_idx", "ig_docs"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val d = T(s, dir, "documents").select("doc_id", "text")
      cat.createTable("maint", "ig_docs", d.schema)
      cat.append("maint", "ig_docs", d.where(col("doc_id") % 2 === 0))
      graft.ops.DedupIndex.create(cat, "maint", "ig_docs", "ig_idx",
        "doc_id", "text", nbuckets = 16)
      val batch = d.where(col("doc_id") % 2 === 1)
      val dupIds = graft.ops.DedupIndex.pairsAgainst(cat, "maint", "ig_idx",
        batch, "doc_id", "text")
        .select(col("batch_id").as("doc_id")).distinct()
      cat.append("maint", "ig_docs", batch.join(dupIds, Seq("doc_id"), "left_anti"))
      val (mode, _) = graft.ops.DedupIndex.refresh(cat, "maint", "ig_idx")
      require(mode == "incremental", s"post-gate refresh took '$mode'")
      cat.readLatest("maint", "ig_docs").select("doc_id").orderBy("doc_id")
    }),

    // LIMIT PUSHDOWN (r13 continuation): an unfiltered preview over the
    // catalog plans a row-covering FILE PREFIX instead of the table —
    // SupportsPushDownLimit truncates the scanned list by exact footer
    // row counts (armed only with no live MoR deletes; filters disable
    // it). REQUIRED: the limited scan reads strictly fewer files than
    // the table holds. The count-over-limit shape keeps the oracle
    // deterministic (any 1234-row prefix counts to 1234).
    "q176_limit_pushdown" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "lim_li")) cat.dropTable("maint", "lim_li")
      val li = T(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      cat.createTable("maint", "lim_li", li.schema)
      cat.append("maint", "lim_li", li.where(col("l_orderkey") % 2 === 0).repartition(4))
      cat.append("maint", "lim_li", li.where(col("l_orderkey") % 2 === 1).repartition(4))
      import org.apache.spark.sql.execution.datasources.FilePartition
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scanned(df: DataFrame): Int =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
            case _ => Seq.empty[String]
          }.distinct.size
        }.getOrElse(0)
      val total = cat.currentSnapshot("maint", "lim_li").files.size
      val lim = s.sql("SELECT * FROM snapdml.maint.lim_li LIMIT 1234")
      require(scanned(lim) > 0 && scanned(lim) < total,
        s"limit must plan a file prefix: ${scanned(lim)} of $total")
      s.sql("SELECT CAST(count(*) AS BIGINT) AS n " +
        "FROM (SELECT * FROM snapdml.maint.lim_li LIMIT 1234) t")
    }),

    // TOP-N PUSHDOWN (r13 continuation): `ORDER BY uid LIMIT n` over a
    // range-clustered table prunes to the files whose footer BOUNDS can
    // hold the top-n — a leaderboard over a 100-TB clustered table
    // reads its extreme files, not the lake (sound for ANY layout: on
    // overlapping bounds everything stays; SnapCatalogPluginSpec's
    // randomized battery holds exactness on unclustered data). The
    // unique sort key keeps the result deterministic for the oracle.
    "q177_topn_pushdown" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "tn_li")) cat.dropTable("maint", "tn_li")
      val li = T(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("uid"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "tn_li", li.schema)
      cat.append("maint", "tn_li", li.repartitionByRange(8, col("uid")))
      import org.apache.spark.sql.execution.datasources.FilePartition
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scanned(df: DataFrame): Int =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
            case _ => Seq.empty[String]
          }.distinct.size
        }.getOrElse(0)
      val total = cat.currentSnapshot("maint", "tn_li").files.size
      val df = s.sql("SELECT uid, cents FROM snapdml.maint.tn_li " +
        "ORDER BY uid DESC LIMIT 25")
      require(scanned(df) > 0 && scanned(df) < total,
        s"top-n must prune bound-excluded files: ${scanned(df)} of $total")
      df
    }),

    // COMPOSITE TOP-N PUSHDOWN (r14): `ORDER BY day DESC, uid DESC LIMIT
    // n` prunes files through per-file BOX bounds — each column's footer
    // bounds oriented along its direction lower/upper-bound the row's
    // TUPLE in lexicographic order, so no clustering assumption is
    // needed for soundness; the table's `write.sort-order` matching the
    // ordering prefix is what makes the boxes disjoint enough to prune
    // (a composite leaderboard reads the extreme files, not the lake —
    // the r13 single-column refusal, closed). REQUIRED: strictly fewer
    // files scanned than the table holds. uid is unique, so the top-25
    // is deterministic for the oracle.
    "q184_topn_composite" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "tnc_li")) cat.dropTable("maint", "tnc_li")
      val li = T(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").cast("string").as("day"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"))
      cat.createTable("maint", "tnc_li", li.schema,
        properties = Map("write.sort-order" -> "day,uid",
          // split the sorted write into several files so the box bounds
          // have something to exclude at this SF (each split is a
          // consecutive sorted run — bounds stay tight and disjoint)
          "write.target-records-per-file" -> "2000"))
      cat.append("maint", "tnc_li", li)
      import org.apache.spark.sql.execution.datasources.FilePartition
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scanned(df: DataFrame): Int =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
            case _ => Seq.empty[String]
          }.distinct.size
        }.getOrElse(0)
      val total = cat.currentSnapshot("maint", "tnc_li").files.size
      val df = s.sql("SELECT day, uid FROM snapdml.maint.tnc_li " +
        "ORDER BY day DESC, uid DESC LIMIT 25")
      require(total > 1 && scanned(df) > 0 && scanned(df) < total,
        s"composite top-n must prune box-excluded files: ${scanned(df)} of $total")
      df
    }),

    // WRITE DISTRIBUTION MODES (r13 continuation): Iceberg's
    // `write.distribution-mode` table property. `hash` clusters every
    // commit's rows on the layout columns before the partitioned write,
    // so an append lands exactly ONE file per occupied partition dir —
    // the default mode fans each writer task across every partition
    // value it holds (W tasks x P values files), the small-files
    // explosion that wrecks 100-TB scan planning on daily-partitioned
    // ingest. REQUIREs the contrast: the hash table's commit writes one
    // file per status dir while the default-mode twin of the SAME 8-task
    // input writes strictly more; the oracle replays the per-status
    // aggregate raw, proving the clustering changed only the layout.
    "q178_write_distribution" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("wd_hash", "wd_none"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val o = T(s, dir, "orders").select(col("o_orderstatus").as("status"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "wd_none", o.schema, partitionCols = Seq("status"))
      cat.append("maint", "wd_none", o.repartition(8))
      cat.createTable("maint", "wd_hash", o.schema, partitionCols = Seq("status"),
        properties = Map("write.distribution-mode" -> "hash"))
      cat.append("maint", "wd_hash", o.repartition(8))
      def perDir(t: String): Map[String, Int] = {
        val sn = cat.currentSnapshot("maint", t)
        sn.files.groupBy(_.split("/")(2)).view.mapValues(_.size).toMap
      }
      val h = perDir("wd_hash")
      val n = perDir("wd_none")
      require(h.values.forall(_ == 1) && h.keySet == n.keySet,
        s"hash distribution must write one file per occupied dir: $h vs $n")
      require(n.values.sum > h.values.sum,
        s"default mode must keep task fan-out (none=$n hash=$h)")
      cat.readLatest("maint", "wd_hash")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("status")
    }),

    // DYNAMIC PARTITION OVERWRITE (r13 continuation): Iceberg's
    // `replacePartitions` / Spark's INSERT OVERWRITE under
    // `partitionOverwriteMode=dynamic` — replace exactly the partitions
    // the incoming frame touches, carry every other partition's files
    // VERBATIM (the late-data restatement shape; a full overwrite turns
    // it into a 100-TB rewrite). The fixture restates the F partition
    // (doubled cents for a key slice) and introduces a new X partition
    // over a table whose carried O partition holds live MoR deletes —
    // REQUIREs the op tag, verbatim carry of untouched partition files,
    // and that the carried delete shard stays in force; the oracle
    // replays survivors + restatement raw.
    "q179_dynamic_overwrite" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "dyn_orders")) cat.dropTable("maint", "dyn_orders")
      val o = T(s, dir, "orders").select(col("o_orderstatus").as("status"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "dyn_orders", o.schema, partitionCols = Seq("status"))
      cat.append("maint", "dyn_orders", o)
      cat.deleteMoR("maint", "dyn_orders",
        col("status") === "O" && col("okey") % 10 === 0)
      val restated = o.where(col("status") === "F" && col("okey") % 3 === 0)
        .withColumn("cents", col("cents") * 2)
        .unionByName(o.where(col("okey") % 97 === 0).withColumn("status", lit("X")))
      val snap = cat.overwriteDynamic("maint", "dyn_orders", restated)
      require(snap.operation == "dynamic-overwrite", s"took '${snap.operation}'")
      val before = cat.snapshotAt("maint", "dyn_orders", snap.snapshotId - 1)
      require(before.files.filterNot(_.contains("status=F"))
          .forall(snap.files.contains),
        "untouched partitions must carry verbatim (no rewrite)")
      require(!snap.files.exists(f => before.files.contains(f) && f.contains("status=F")),
        "the replaced partition's files must not carry")
      cat.readLatest("maint", "dyn_orders")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("status")
    }),

    // ZERO-COPY TABLE CLONE (r13 continuation): Iceberg's `snapshot`
    // procedure / Delta's shallow CLONE, hardened — the clone's data
    // files are HARD LINKS of the source's at the same relative paths
    // (REQUIRED: same inode — zero bytes copied), live MoR delete shards
    // carry in force, and the two tables diverge with fully independent
    // lifecycles (append to the clone, CoW-delete from the source).
    // The oracle replays BOTH end states from raw; a retro-leak in either
    // direction fails the hash.
    "q180_clone_table" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      for (t <- Seq("cl_dst", "cl_src"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val o = T(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "cl_src", o.schema)
      cat.append("maint", "cl_src", o.where(col("okey") % 2 === 0))
      cat.deleteMoR("maint", "cl_src", col("okey") % 10 === 0)
      val snap = cat.cloneTable("maint", "cl_src", "maint", "cl_dst")
      require(snap.operation == "clone", s"took '${snap.operation}'")
      val rel = snap.files.head
      val wh = java.nio.file.Paths.get(cat.warehouse, "maint")
      require(java.nio.file.Files.getAttribute(wh.resolve("cl_src").resolve(rel), "unix:ino")
          == java.nio.file.Files.getAttribute(wh.resolve("cl_dst").resolve(rel), "unix:ino"),
        "clone must hard-link (same inode), never copy bytes")
      cat.append("maint", "cl_dst",
        o.where(col("okey") % 2 === 1 && col("okey") % 7 === 0))
      cat.delete("maint", "cl_src", col("status") === "O")
      val src = cat.readLatest("maint", "cl_src").withColumn("side", lit("src"))
      val dst = cat.readLatest("maint", "cl_dst").withColumn("side", lit("dst"))
      src.unionByName(dst)
        .groupBy("side")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("side")
    }),

    // SCHEMA AUTO-MERGE ON INGEST (r13 continuation): with
    // `write.merge-schema=true` an append whose frame carries a NEW
    // column auto-evolves the table (older files null-fill it through
    // the schema'd read), and a frame MISSING columns null-fills them
    // for the batch — the open-schema ingest shape (Spark mergeSchema /
    // Iceberg accept-any-schema) where producers add fields without a
    // coordinated DDL step. Three appends with three different shapes;
    // REQUIREs the evolved schema; the oracle replays the projections
    // with explicit NULLs, so a mis-filled batch fails the hash.
    "q181_schema_merge" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "sm_orders")) cat.dropTable("maint", "sm_orders")
      val o = T(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val narrow = o.select("okey", "status")
      cat.createTable("maint", "sm_orders", narrow.schema,
        properties = Map("write.merge-schema" -> "true"))
      cat.append("maint", "sm_orders", narrow.where(col("okey") % 3 === 0))
      cat.append("maint", "sm_orders", o.where(col("okey") % 3 === 1))
      cat.append("maint", "sm_orders",
        o.select("okey", "cents").where(col("okey") % 3 === 2))
      require(cat.currentSnapshot("maint", "sm_orders").schema.fieldNames.toSeq
          == Seq("okey", "status", "cents"),
        "the second append must auto-evolve the cents column")
      cat.readLatest("maint", "sm_orders")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), count(col("cents")).as("nc"),
          sum("cents").as("total_cents"))
        .orderBy("status")
    }),

    // FILTER-SCOPED OVERWRITE (r13 continuation): Spark's
    // OverwriteByExpression — `INSERT OVERWRITE ... PARTITION (p='x')`
    // in static mode / `writeTo().overwrite(cond)` — delete-matching +
    // insert as ONE prune-aware commit: files proven clean by partition
    // dirs/footer stats carry verbatim (REQUIRED), MoR deletes on
    // carried partitions stay in force, and restating one partition of
    // a 100-TB table rewrites that partition, not the lake. The oracle
    // replays survivors + restatement raw.
    "q182_overwrite_where" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "ow_orders")) cat.dropTable("maint", "ow_orders")
      val o = T(s, dir, "orders").select(col("o_orderstatus").as("status"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "ow_orders", o.schema, partitionCols = Seq("status"))
      cat.append("maint", "ow_orders", o)
      cat.deleteMoR("maint", "ow_orders",
        col("status") === "O" && col("okey") % 10 === 0)
      val restated = o.where(col("status") === "P" && col("okey") % 2 === 0)
        .withColumn("cents", col("cents") + 1)
      val snap = cat.overwriteWhere("maint", "ow_orders",
        col("status") === "P", restated)
      require(snap.operation == "overwrite-where", s"took '${snap.operation}'")
      val before = cat.snapshotAt("maint", "ow_orders", snap.snapshotId - 1)
      require(before.files.filterNot(_.contains("status=P"))
          .forall(snap.files.contains),
        "files proven clean by their partition dir must carry verbatim")
      cat.readLatest("maint", "ow_orders")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("status")
    }),

    // LATE-DATA RESTATEMENT CAPSTONE (r13 continuation): the operational
    // sequence the new write surface exists for — a days(ts)
    // hidden-partitioned events table with a maintained aggregate MV, a
    // correction batch DYNAMICALLY OVERWRITING one day (half the rows,
    // shifted uids), the MV refreshing INCREMENTALLY (REQUIRED: the
    // replaced files' rows retract, the restatement's insert — the
    // refresh is sized by the restated day, never the table), and the
    // raw aggregate query auto-navigating to the refreshed backing
    // (REQUIRED). One DuckDB CTE chain replays the restatement + rollup;
    // drift anywhere in the layout derivation, day classification,
    // retraction arithmetic, or rewrite fails the hash.
    "q183_restatement_capstone" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "rs_daily")) cat.dropView("maint", "rs_daily")
      if (cat.tableExists("maint", "rs_ev")) cat.dropTable("maint", "rs_ev")
      val ev = T(s, dir, "events").select(col("event_id").as("eid"), col("ts"),
        col("user_id").as("uid"),
        floor(col("value") * 100).cast("long").as("vc"))
      cat.createTransformPartitionedTable("maint", "rs_ev", ev.schema, "ts", "day")
      cat.appendTransformed("maint", "rs_ev", ev)
      cat.createMaterializedView("maint", "rs_daily",
        "SELECT uid, count(*) AS n, sum(vc) AS sv FROM maint.rs_ev GROUP BY uid")
      val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-11 00:00:00")
      val restated = ev
        .where(col("ts") >= lit(lo).cast("timestamp")
          && col("ts") < lit(hi).cast("timestamp") && col("eid") % 2 === 0)
        .withColumn("uid", col("uid") + 1000000L)
      cat.overwriteDynamic("maint", "rs_ev", restated)
      val (mode, _) = cat.refreshMaterializedView("maint", "rs_daily")
      require(mode == "incremental_agg",
        s"the restatement must refresh churn-sized via retraction, took '$mode'")
      val df = s.sql("SELECT uid, count(*) AS n, sum(vc) AS sv " +
        "FROM snapdml.maint.rs_ev GROUP BY uid ORDER BY uid")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_rs_daily"),
        "the aggregate must auto-navigate to the refreshed backing")
      df
    }),

    // METADATA-SERVED GROUP-BY-PARTITION COUNT (r13 continuation):
    // `SELECT p, count(*) ... GROUP BY p` over a hive-laid table answers
    // from per-file partition values + exact footer row counts — zero
    // tasks, zero files read ("rows per day" over a 100-TB table as a
    // driver-side metadata fold). REQUIRED: the optimized plan's only
    // leaf is the LocalRelation the rule materialized (the multi-append
    // fixture spans snapshot dirs, so a scan would be a real union).
    // Soundness gates (MoR deletes, flat rewrite files, transforms)
    // refuse to the scan path — spec-asserted in SnapCatalogPluginSpec.
    "q172_meta_partition_count" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "pc_orders")) cat.dropTable("maint", "pc_orders")
      val o = T(s, dir, "orders").select(col("o_orderstatus").as("status"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "pc_orders", o.schema,
        partitionCols = Seq("status"))
      cat.append("maint", "pc_orders", o.where(col("okey") % 3 =!= 0))
      cat.append("maint", "pc_orders", o.where(col("okey") % 3 === 0))
      val df = s.sql("SELECT status, count(*) AS n " +
        "FROM snapdml.maint.pc_orders GROUP BY status ORDER BY status")
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.nonEmpty && leaves.forall(_.nodeName == "LocalRelation"),
        s"partition count must serve from metadata, scanned: $leaves")
      df
    }),

    // METADATA-SERVED PARTITION STATS (r13 continuation): the full
    // daily-stats shape — partition-only WHERE + GROUP BY partition +
    // COUNT(*), COUNT(col) (footer null counts), MIN/MAX(col) (integral
    // footer bounds; all-null files contribute nothing, the SQL
    // semantics) — answers with ZERO tasks from per-file commit
    // metadata. REQUIRED: LocalRelation-only optimized plan. The
    // nullable column exercises the null-count arithmetic end to end.
    "q173_meta_partition_stats" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "ps_orders")) cat.dropTable("maint", "ps_orders")
      val o = T(s, dir, "orders").select(col("o_orderstatus").as("status"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") * 2).as("bonus"))
      cat.createTable("maint", "ps_orders", o.schema,
        partitionCols = Seq("status"))
      cat.append("maint", "ps_orders", o.where(col("okey") % 3 =!= 0))
      cat.append("maint", "ps_orders", o.where(col("okey") % 3 === 0))
      val df = s.sql("SELECT status, count(*) AS n, count(bonus) AS nb, " +
        "min(cents) AS mn, max(cents) AS mx, max(bonus) AS mb " +
        "FROM snapdml.maint.ps_orders WHERE status <> 'P' " +
        "GROUP BY status ORDER BY status")
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.nonEmpty && leaves.forall(_.nodeName == "LocalRelation"),
        s"partition stats must serve from metadata, scanned: $leaves")
      df
    }),

    // METADATA-SERVED DAILY COUNTS ON A HIDDEN-TRANSFORM TABLE (r13
    // continuation): `GROUP BY date_trunc('DAY', ts)` over a days(ts)
    // table answers from per-file `__pt` ordinals + footer row counts —
    // the single most common query on a time-partitioned lake ("rows
    // ingested per day"), zero tasks, and the user never names a
    // partition column (hidden-partitioning's whole point). Sound
    // because the layout is UTC-fixed epoch arithmetic and the
    // expression's zone resolves to UTC; the plan REQUIRE is gated on a
    // UTC session (elsewhere the serve correctly refuses and scans).
    "q174_meta_daily_counts" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "tc_events")) cat.dropTable("maint", "tc_events")
      val ev = T(s, dir, "events").select("event_id", "ts")
      cat.createTransformPartitionedTable("maint", "tc_events", ev.schema,
        "ts", "day")
      cat.appendTransformed("maint", "tc_events", ev.where(col("event_id") % 2 === 0))
      cat.appendTransformed("maint", "tc_events", ev.where(col("event_id") % 2 === 1))
      // CAST(ts AS DATE) rides the same __pt serve as date_trunc('DAY')
      // (spec-asserted for both); DATE round-trips tz-free through
      // parquet on both engines, which the oracle compare needs. The
      // UNIT-ALIGNED half-open range admits whole day units row-exactly
      // — "daily counts for a date range" stays a zero-task serve.
      val df = s.sql("SELECT CAST(ts AS DATE) AS d, count(*) AS n, " +
        "count(ts) AS nt FROM snapdml.maint.tc_events " +
        "WHERE ts >= TIMESTAMP'2024-01-05 00:00:00' " +
        "AND ts < TIMESTAMP'2024-01-25 00:00:00' GROUP BY 1 ORDER BY d")
      val utcSession = java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone)
        .normalized() == java.time.ZoneOffset.UTC
      if (utcSession) {
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        require(leaves.nonEmpty && leaves.forall(_.nodeName == "LocalRelation"),
          s"daily counts must serve from __pt metadata, scanned: $leaves")
      }
      df
    }),

    // EQUALITY→POSITIONAL DELETE CONVERSION (r12, Iceberg
    // convert_equality_deletes): after eq-heavy CDC ingest, one
    // maintenance commit materializes each eq shard's kills as exact
    // (file, pos) pairs under the shard's own COVERAGE — a key
    // re-inserted after its delete stays alive through the convert (the
    // sequence-number rule, exercised here by re-appending %7 keys
    // after the eq delete) — and reads drop the key-hash joins. The
    // query REQUIRES only positional shards remain; the oracle replays
    // the merged survivors from raw.
    "q156_convert_eq_deletes" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.tableExists("maint", "ceq_orders")) cat.dropTable("maint", "ceq_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "ceq_orders", base.schema)
      cat.append("maint", "ceq_orders", base.where(col("o_orderkey") % 2 === 0))
      cat.deleteMoR("maint", "ceq_orders", col("o_orderkey") % 10 === 2)
      cat.deleteMoREq("maint", "ceq_orders",
        base.where(col("o_orderkey") % 7 === 0)
          .select("o_orderkey").distinct())
      cat.append("maint", "ceq_orders",
        base.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 9 === 0))
      val snap = cat.convertEqualityDeletes("maint", "ceq_orders")
        .getOrElse(throw new IllegalStateException("nothing to convert"))
      require(snap.deleteFiles.nonEmpty && snap.deleteFiles.forall(_.isPositional),
        "conversion must leave only positional shards")
      require(snap.summary("converted_delete_files").toInt == 1)
      s.sql("SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc " +
        "FROM snapdml.maint.ceq_orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }),

    // N-WAY STAR NAVIGATION (r13): a 3-table star rollup (fact ⋈ two
    // dimensions) is served from a covering join-MV backing without the
    // query referencing the view — the real-warehouse shape the 2-way
    // matcher previously scanned the fact table for. The join conjuncts
    // arrive in WHERE form with shuffled table order (σ(cond)(A×B×C)
    // placement normalizes away), the grouping rolls up to ONE dimension
    // key, and the residual o_orderstatus filter re-applies on the
    // backing. Fact-side MoR churn + refresh first, so the navigation is
    // asserted against a refreshed backing. REQUIRES the rewrite fires;
    // the oracle replays the raw 3-way join.
    "q158_mv_star_navigate" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "star_mv")) cat.dropView("maint", "star_mv")
      for (t <- Seq("st_li", "st_ord", "st_part"))
        if (cat.tableExists("maint", t)) cat.dropTable("maint", t)
      val fact = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      val part = T(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      cat.createTable("maint", "st_li", fact.schema)
      cat.append("maint", "st_li", fact)
      cat.createTable("maint", "st_ord", ord.schema)
      cat.append("maint", "st_ord", ord)
      cat.createTable("maint", "st_part", part.schema)
      cat.append("maint", "st_part", part)
      cat.createMaterializedView("maint", "star_mv",
        "SELECT o.o_orderstatus, p.p_brand, sum(l.cents) AS sc, count(*) AS n " +
          "FROM maint.st_li l JOIN maint.st_ord o ON l.l_orderkey = o.o_orderkey " +
          "JOIN maint.st_part p ON l.l_partkey = p.p_partkey " +
          "GROUP BY o.o_orderstatus, p.p_brand")
      // MoR churn on the FACT, then refresh — the N-way multilinear
      // telescope (r13) retracts the deleted join rows incrementally:
      // each term is churn ⋈ the pinned sides, never a 3-way rebuild
      cat.deleteMoR("maint", "st_li", col("l_orderkey") % 7 === 3)
      val (mode, _) = cat.refreshMaterializedView("maint", "star_mv")
      require(mode == "incremental_join_agg",
        s"3-way star refresh must ride the telescope, took '$mode'")
      val df = s.sql(
        "SELECT p_brand, sum(cents) AS sc, count(*) AS n " +
          "FROM snapdml.maint.st_part p, snapdml.maint.st_li l, snapdml.maint.st_ord o " +
          "WHERE l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey " +
          "AND o.o_orderstatus = 'F' GROUP BY p_brand ORDER BY p_brand")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_star_mv"),
        "3-way star aggregate must be answered from the join-MV backing")
      df
    }),

    // GROUPING-SETS DISTINCT NAVIGATION (r13): a ROLLUP asking
    // count(DISTINCT x) over the base is served from the MV's
    // per-(group, value) copy-count SIDECAR — the same grouping sets
    // re-issue over the sidecar (values shared across collapsed
    // subgroups dedupe via the DISTINCT over the value column) and join
    // back to the backing's sets null-safely on (keys, gid), while the
    // non-distinct outputs merge from the backing as usual. Delete +
    // append churn with an incremental refresh first, so the sidecar
    // state asserted is the RETRACTED one. REQUIRES the merge mode and
    // the rewrite; the oracle replays the raw rollup.
    "q159_mv_gs_distinct" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "gsd_mv")) cat.dropView("maint", "gsd_mv")
      if (cat.tableExists("maint", "gsd_orders")) cat.dropTable("maint", "gsd_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_custkey"))
      cat.createTable("maint", "gsd_orders", base.schema)
      cat.append("maint", "gsd_orders", base.where(col("o_orderkey") % 3 =!= 1))
      cat.createMaterializedView("maint", "gsd_mv",
        "SELECT o_orderstatus, o_orderpriority, count(DISTINCT o_custkey) AS cd, " +
          "count(*) AS n FROM maint.gsd_orders GROUP BY o_orderstatus, o_orderpriority")
      cat.deleteMoR("maint", "gsd_orders", col("o_orderkey") % 10 === 6)
      cat.append("maint", "gsd_orders", base.where(col("o_orderkey") % 3 === 1))
      val (mode, _) = cat.refreshMaterializedView("maint", "gsd_mv")
      require(mode == "incremental_agg",
        s"distinct MV must merge via the sidecar, took '$mode'")
      val df = s.sql(
        "SELECT o_orderstatus, o_orderpriority, " +
          "count(DISTINCT o_custkey) AS cd, count(*) AS n, " +
          "CAST(grouping(o_orderstatus) AS BIGINT) AS g1, " +
          "CAST(grouping(o_orderpriority) AS BIGINT) AS g2 " +
          "FROM snapdml.maint.gsd_orders " +
          "GROUP BY ROLLUP(o_orderstatus, o_orderpriority) " +
          "ORDER BY g1, g2, o_orderstatus, o_orderpriority")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_gsd_mv"),
        "the DISTINCT rollup must be answered from the MV sidecar + backing")
      df
    }),

    // PARTITIONED MV BACKING (r12): the materialization hive-lays the
    // backing by a group key, every incremental refresh preserves the
    // layout (the merge's upsert/delete are layout-aware writes), and a
    // residual-filtered read — the automatic-rewrite path included —
    // prunes to the key's DIRECTORY. At 100 TB an MV over a high-
    // cardinality key is itself billions of rows; `WHERE key = x`
    // should read one directory of it. The query REQUIRES the pruned
    // data-file set, the incremental refresh, and the rewrite; the
    // oracle replays the filtered aggregate from raw.
    "q154_mv_partitioned" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (cat.viewExists("maint", "pmv")) cat.dropView("maint", "pmv")
      if (cat.tableExists("maint", "pt_orders")) cat.dropTable("maint", "pt_orders")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      cat.createTable("maint", "pt_orders", base.schema)
      cat.append("maint", "pt_orders", base)
      cat.createMaterializedView("maint", "pmv",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(cents) AS sc " +
          "FROM maint.pt_orders GROUP BY o_orderstatus, o_orderpriority",
        partitionBy = Seq("o_orderstatus"))
      cat.deleteMoR("maint", "pt_orders", col("o_orderkey") % 10 === 7)
      val (mode, _) = cat.refreshMaterializedView("maint", "pmv")
      require(mode == "incremental_agg", s"refresh took '$mode'")
      val pruned = cat.readLatestWhere("maint", "__mv_pmv",
        col("o_orderstatus") === "F")
      val dataFiles = pruned.inputFiles.filterNot(_.contains("/deletes/"))
      require(dataFiles.nonEmpty && dataFiles.forall(_.contains("o_orderstatus=F")),
        s"residual read must prune to the key's directory: ${dataFiles.mkString(",")}")
      val df = s.sql("SELECT o_orderpriority, count(*) AS n, sum(cents) AS sc " +
        "FROM snapdml.maint.pt_orders WHERE o_orderstatus = 'F' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
      require(df.queryExecution.optimizedPlan.toString.contains("__mv_pmv"),
        "the filtered aggregate must be served from the partitioned backing")
      df
    }),

    // TRAINING-SHARD BUILD CAPSTONE (r12): the end-to-end data-build
    // pipeline a pretraining run actually ships — Gopher quality gate →
    // exact content dedup (min-id representative) → multilingual
    // temperature mix (alpha=0.5) → BPE-ish token counts → GPT-style
    // 2048-token sequence packing per language stream → shard
    // assignment. Every stage is an already-gated operator; the capstone
    // holds their COMPOSITION to one DuckDB replay (filter conditions,
    // dedup choice, the quantized-sqrt mix, the md5 copy rule, the
    // cumulative-offset chunk arithmetic, the shard residue — any drift
    // anywhere breaks the hash). All stages are scans/window passes; the
    // only shuffles are the dedup key-agg and the per-language pack
    // window — the irreducible ones.
    "q155_shard_build" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // the quality gate is ONE row-local predicate riding the scan — no
      // metrics frame, no join-back
      val kept = docs.where(TextOps.gopherPasses(col("text"), minWords = 8L))
      val uniq = kept.join(
        Dedup.exact(kept, "doc_id", Seq("text"))
          .select(col("keep_id").as("doc_id")),
        Seq("doc_id"))
      val mixed = ops.Sampling.temperatureResample(
        uniq.select("doc_id", "lang", "text"), col("lang"), col("doc_id"), alpha = 0.5)
      val toks = mixed.select(col("lang"), col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("toks"),
        (col("doc_id") * 100L + col("copy_idx")).as("ord"))
      ops.Packing.packChunks(toks, Seq("lang"), "ord", col("toks"), 2048L)
        .withColumn("shard", pmod(col("first_chunk"), lit(4L)))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_rows"), sum(col("toks")).as("tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_straddling"))
        .orderBy("lang", "shard")
    }),

    // MULTILINGUAL TEMPERATURE SAMPLING (r12, the XLM-R/mT5 alpha-
    // smoothing recipe at alpha=0.5): per-language weights derive from
    // the corpus's own counts — tail languages upsample, the head
    // downsamples, expected corpus size is preserved — and every step
    // (sqrt is correctly rounded BY IEEE REQUIREMENT, the quantized
    // grid sums exactly, the weight evaluates in one fixed shape) is
    // engine-portable, so DuckDB replays the exact copy multiset.
    "q153_temperature_sampling" -> ((s, dir) => {
      ops.Sampling.temperatureResample(T(s, dir, "documents"),
          col("lang"), col("doc_id"), alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars_out"),
          max(col("copy_idx")).as("max_copy"))
        .orderBy("lang")
    }),

    // COLUMN DEFAULT VALUES (r11, the Iceberg-v3 defaults model): ALTER
    // TABLE ADD COLUMN ... DEFAULT freezes an INITIAL default that
    // pre-evolution files serve on read (Spark's parquet readers fill
    // EXISTS_DEFAULT for physically-missing columns — never a data
    // rewrite), while INSERTs that omit the column take the CURRENT
    // default. The oracle replays the whole pre/post-evolution state
    // from the raw rows.
    "q138_column_defaults" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.tableExists("maint", "def_orders")) {
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        s.sql("CREATE TABLE snapdml.maint.def_orders (o_orderkey BIGINT, cents BIGINT)")
        o.where(col("o_orderkey") % 2 === 0).createOrReplaceTempView("def_ev")
        s.sql("INSERT INTO snapdml.maint.def_orders SELECT * FROM def_ev")
        s.sql("ALTER TABLE snapdml.maint.def_orders " +
          "ADD COLUMN region STRING DEFAULT 'emea'")
        o.where(col("o_orderkey") % 2 === 1)
          .withColumn("region", when(col("o_orderkey") % 4 === 1, lit("apac")))
          .createOrReplaceTempView("def_od")
        s.sql("INSERT INTO snapdml.maint.def_orders SELECT * FROM def_od")
      }
      s.sql("SELECT coalesce(region, 'none') AS region, count(*) AS n, " +
        "sum(cents) AS sum_cents FROM snapdml.maint.def_orders " +
        "GROUP BY 1 ORDER BY 1")
    }),

    // MERGE WHEN NOT MATCHED BY SOURCE (r11): the full three-clause SQL
    // MERGE — matched update, not-matched insert, and not-matched-by-
    // source rows conditionally deleted or updated — commits through the
    // SupportsDelta position-delta path (the query REQUIRES no data file
    // was rewritten), and the oracle replays the whole reconciliation
    // from the raw tables.
    "q136_merge_not_matched_by_source" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.tableExists("maint", "nms_orders")) {
        val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        cat.createTable("maint", "nms_orders", o.schema)
        cat.append("maint", "nms_orders", o.where(col("o_orderkey") % 2 === 0))
        cat.createTable("maint", "nms_src", o.schema)
        cat.append("maint", "nms_src", o.where(col("o_orderkey") % 3 === 0)
          .withColumn("cents", col("cents") * 2))
        cat.setProperty("maint", "nms_orders", "write.merge.mode",
          Some("merge-on-read"))
        val before = cat.currentSnapshot("maint", "nms_orders")
        s.sql(
          """MERGE INTO snapdml.maint.nms_orders t
            |USING snapdml.maint.nms_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET cents = s.cents
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 0 THEN DELETE
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'Z'""".stripMargin)
        val after = cat.currentSnapshot("maint", "nms_orders")
        require(after.operation == "merge" &&
          before.files.forall(after.files.contains),
          "NMBS merge must commit a position delta, not a rewrite")
      }
      s.sql("SELECT o_orderstatus, count(*) AS n, sum(cents) AS sum_cents " +
        "FROM snapdml.maint.nms_orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }),

    // TWO-BASE JOIN MV refreshes incrementally (r11): an inner-join
    // body over append-only ranges on both sides maintains by the
    // classic identity ΔA ⋈ B' ∪ A ⋈ ΔB — each term joins a churn-sized
    // delta against one full side and APPENDS, never |A| × |B|. The
    // query REQUIRES the incremental_join path after both sides moved,
    // then the oracle replays the join aggregate from the raw tables.
    "q135_mv_join_incremental" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.viewExists("maint", "jstats")) {
        val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        cat.createTable("maint", "jmv_cust", cust.schema)
        cat.createTable("maint", "jmv_ord", ord.schema)
        cat.append("maint", "jmv_cust", cust.where(col("c_custkey") % 2 === 0))
        cat.append("maint", "jmv_ord", ord.where(col("o_orderkey") % 3 === 0))
        cat.createMaterializedView("maint", "jstats",
          "SELECT c.c_mktsegment AS seg, o.o_orderkey AS okey, o.cents AS cents " +
            "FROM maint.jmv_cust c JOIN maint.jmv_ord o ON c.c_custkey = o.o_custkey")
        cat.append("maint", "jmv_cust", cust.where(col("c_custkey") % 2 === 1))
        cat.append("maint", "jmv_ord", ord.where(col("o_orderkey") % 3 === 1))
        val (mode, _) = cat.refreshMaterializedView("maint", "jstats")
        require(mode == "incremental_join",
          s"two-base join MV must refresh incrementally, took '$mode'")
      }
      s.sql("SELECT seg, count(*) AS n, sum(cents) AS sum_cents " +
        "FROM snapdml.maint.jstats GROUP BY seg ORDER BY seg")
    }),

    // AGGREGATE-OVER-JOIN MV (r11): the fact-dim rollup — GROUP BY over
    // an inner join of two bases — maintains incrementally under append-
    // only ranges: the augmented aggregate runs over the JOIN DELTA
    // (ΔA ⋈ B' ∪ A ⋈ ΔB) and the per-group partials merge into the
    // backing, count/sum arithmetic + min/max least/greatest folds. The
    // query REQUIRES the incremental_join_agg path after both sides
    // moved, then the oracle replays the rollup from the raw tables.
    "q137_mv_join_agg" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.viewExists("maint", "jarollup")) {
        val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        cat.createTable("maint", "ja_cust", cust.schema)
        cat.createTable("maint", "ja_ord", ord.schema)
        cat.append("maint", "ja_cust", cust.where(col("c_custkey") % 2 === 0))
        cat.append("maint", "ja_ord", ord.where(col("o_orderkey") % 3 === 0))
        cat.createMaterializedView("maint", "jarollup",
          "SELECT c.c_mktsegment AS seg, count(*) AS n, sum(o.cents) AS sum_cents, " +
            "min(o.cents) AS min_cents, max(o.cents) AS max_cents " +
            "FROM maint.ja_cust c JOIN maint.ja_ord o ON c.c_custkey = o.o_custkey " +
            "GROUP BY c.c_mktsegment")
        cat.append("maint", "ja_cust", cust.where(col("c_custkey") % 2 === 1))
        cat.append("maint", "ja_ord", ord.where(col("o_orderkey") % 3 === 1))
        val (mode, _) = cat.refreshMaterializedView("maint", "jarollup")
        require(mode == "incremental_join_agg",
          s"aggregate-over-join MV must merge incrementally, took '$mode'")
      }
      s.sql("SELECT seg, n, sum_cents, min_cents, max_cents " +
        "FROM snapdml.maint.jarollup ORDER BY seg")
    }),

    // VARIANT ingestion + shredded extraction (r9): semi-structured JSON
    // is BUILT deterministically from events columns, parsed into Spark
    // 4's VariantType (the open binary-JSON column type), then typed
    // fields extract back out via variant_get paths — nested object,
    // array index, and a try_variant_get miss. The aggregate proves the
    // encode->shred round-trip by value: the oracle computes the same
    // numbers straight from the source columns, so any variant
    // mis-extraction (wrong path, wrong cast, lost row) hash-mismatches.
    "q117_variant_shred" -> ((s, dir) => {
      val e = T(s, dir, "events").where(col("event_id") <= 2000)
      val js = concat(
        lit("{\"t\":\""), col("event_type"),
        lit("\",\"m\":{\"k\":"), get_json_object(col("props"), "$.k"),
        lit(",\"c\":"), floor(col("value") * 100).cast("long").cast("string"),
        lit("},\"a\":["), (col("event_id") % 7).cast("string"),
        lit(","), (col("event_id") % 11).cast("string"), lit("]}"))
      e.select(col("event_type"), parse_json(js).as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.m.k", "long").as("k"),
          variant_get(col("v"), "$.m.c", "long").as("c"),
          variant_get(col("v"), "$.a[1]", "long").as("a1"),
          try_variant_get(col("v"), "$.zz", "long").as("zz"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), sum("c").as("sum_c"),
          sum("a1").as("sum_a1"), count(col("zz")).as("n_zz"))
        .orderBy("event_type")
    }),

    // Okapi BM25 lexical retrieval (r9; Robertson & Spärck Jones):
    // query docs' 48-char prefixes rank the corpus through an inverted
    // postings index — query terms BROADCAST onto the postings, top-k
    // per query via rank window. k1=1.5/b=0.75 chosen exactly binary-
    // representable so both engines fold identical doubles; scores
    // quantize at 1e-4 (q104 discipline).
    "q118_bm25_retrieval" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val q = d.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), substring(col("text"), 1, 48).as("qtext"))
      graft.ops.Retrieval.bm25TopK(d, "doc_id", "text", q, "qid", "qtext",
          k = 10, k1 = 1.5, b = 0.75)
        .orderBy("query_id", "rank")
    }),

    // distributed PCA over embeddings (r10): ONE moment pass (per-
    // partition (n, sum, gram) accumulators, fixed-size reduce — the
    // driver holds O(d²) doubles, never vectors), deterministic
    // driver-side power iteration, then a row-local compiled projection
    // against LITERAL components. Learning is spec-gated (eigenvectors
    // aren't SQL); the projection oracle embeds the learned components
    // (the BPE-oracle discipline) so DuckDB replays every projected
    // value exactly.
    "q131_pca_embed" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val m = graft.ops.Pca.train(e, "embedding", k = 4)
      pcaLearned = Some(m)
      graft.ops.Pca.project(e, "embedding", m)
        .select((col("vec_id") +: (0 until 4).map(j =>
          floor(col(s"pc$j") * 1e4).cast("long").as(s"pc${j}_q"))): _*)
        .orderBy("vec_id")
    }),

    // RAG document CHUNKING (r10): sliding word windows of 32 with
    // 8-word overlap — the fixed-size splitter with overlap every
    // embedding pipeline runs before indexing. Row-local (no shuffle);
    // the oracle replays windowing, word counts, and the exact chunk
    // text, so an off-by-one in stride/slice hash-mismatches.
    "q130_rag_chunking" -> ((s, dir) =>
      graft.ops.TextOps.chunkDocuments(
          T(s, dir, "documents"), "doc_id", "text",
          windowWords = 32, overlapWords = 8)
        .orderBy("doc_id", "chunk_idx")),

    // HYBRID retrieval via Reciprocal Rank Fusion (r10; Cormack et al.
    // 2009): BM25 lexical top-20 and embedding-cosine semantic top-20
    // fuse rank-wise — integer-quantized 1/(60+rank) contributions sum
    // exactly, so the fused ranking is bit-identical on any engine. The
    // id spaces align by construction (doc_id == vec_id), the join a
    // real RAG corpus maintains between its text and embedding tables.
    "q128_hybrid_rrf" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val e = T(s, dir, "embeddings")
      val qd = d.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), substring(col("text"), 1, 48).as("qtext"))
      val lex = graft.ops.Retrieval.bm25TopK(d, "doc_id", "text",
          qd, "qid", "qtext", k = 20, k1 = 1.5, b = 0.75)
        .select("query_id", "doc_id", "rank")
      val qe = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val sem = graft.ops.Similarity.cosineTopK(e, "vec_id", "embedding",
          qe, "qid", "qvec", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(lex, sem), k = 60, topK = 10)
        .orderBy("query_id", "rank")
    }),

    // per-source TF-IDF keyword extraction (r9): the terms that
    // CHARACTERIZE each crawl source — frequent inside, rare across.
    // One explode + term-bounded broadcast stats; top-5 per source.
    "q119_tfidf_terms" -> ((s, dir) =>
      graft.ops.Retrieval.tfIdfTopTerms(
          T(s, dir, "documents"), "source", "text", k = 5)
        .orderBy("group", "rank")),

    // CCNet-style perplexity bucketing (r9; Wenzek et al. 2020): the
    // q104 bigram-LM scores normalize per bigram and split into
    // head/middle/tail TERTILES within each source — the published
    // "keep the head, maybe the middle, drop the tail" curation gate.
    // ntile ties break on doc_id, so the bucketing is deterministic and
    // the oracle replays it exactly. Scale shape: one window pass
    // partitioned by source — no global sort, no driver state.
    "q123_ccnet_buckets" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val scored = graft.ops.TextOps.bigramLmScore(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "doc_id", "text", addK = 0.5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(col("nq").desc, col("doc_id").asc)
      scored.join(d.select("doc_id", "source"), "doc_id")
        .where(col("n_bigrams") > 0)
        .withColumn("nq",
          floor(col("logprob_q").cast("double") / col("n_bigrams")).cast("long"))
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .select("doc_id", "source", "nq", "bucket")
        .orderBy("doc_id")
    }),

    // ROW LINEAGE (r9; the Iceberg-v3 identity model, opt-in via
    // row.lineage=true): two deterministic single-file appends claim
    // contiguous id ranges, then a COMPACT rewrites every file — and the
    // ids must come back bit-identical (rewrites materialize identity
    // physically; re-minting would break every downstream incremental
    // consumer keyed on row identity). The oracle replays the assignment
    // arithmetic: ids are rank-within-append plus the prior high-water.
    "q121_row_lineage" -> ((s, dir) => {
      val cat = lineageOrdersFixture(s, dir)
      cat.readWithRowIds("maint", "lineage_orders")
        .select(col("o_orderkey"), col("_row_id"))
        .orderBy("o_orderkey")
    }),

    // ...and the SQL surface for the same identity: `db.t.rows` swaps at
    // analysis time for the lineage read, so plain SQL aggregates over
    // `_row_id` like any column — grouped id sums replayed by the oracle
    // from the same rank arithmetic.
    "q122_rows_sql" -> ((s, dir) => {
      lineageOrdersFixture(s, dir)
      s.sql("SELECT o_orderstatus, count(*) AS n, sum(_row_id) AS id_sum, " +
        "min(_row_id) AS id_min, max(_row_id) AS id_max " +
        "FROM snapdml.maint.lineage_orders.rows " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }),

    // _last_updated_snapshot_id (r10; Iceberg v3's second lineage
    // field): every row carries the snapshot that last touched it —
    // fresh files default to their commit, rewrites materialize the
    // values physically. Over the q121 fixture (append evens @2, odds
    // @3, then compact @4) the compact must be INVISIBLE: evens still
    // say 2, odds still say 3, and the ids replay by rank arithmetic.
    "q129_rows_last_updated" -> ((s, dir) => {
      lineageOrdersFixture(s, dir)
      s.sql("SELECT o_orderkey % 2 AS par, count(*) AS n, " +
        "min(_last_updated_snapshot_id) AS lu_min, " +
        "max(_last_updated_snapshot_id) AS lu_max, " +
        "sum(_row_id) AS id_sum " +
        "FROM snapdml.maint.lineage_orders.rows GROUP BY par ORDER BY par")
    }),

    // ROW LINEAGE THROUGH CDC (r10): the changelog over a MoR delete +
    // MoR update range carries each pre/post-image's stable `_row_id` —
    // the dying row serves its id, and the update's post-image carries
    // the SAME id as its pre-image (Iceberg-v3: identity survives
    // updates precisely so a CDC consumer can correlate them). The
    // oracle replays every id by the append rank arithmetic.
    "q124_changelog_rid" -> ((s, dir) => {
      val cat = lineageCdcFixture(s, dir)
      val base = cat.entryLog("maint", "lineage_cdc")
        .filter(_.operation == "append").map(_.snapshotId).max
      val head = cat.currentSnapshotId("maint", "lineage_cdc")
      cat.readChangelog("maint", "lineage_cdc", base, head)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_row_id"), col("_change_type"))
        .orderBy("o_orderkey", "_change_type")
    }),

    // SQL UPDATE preserves row identity (r11): the update runs through
    // the plugin's SupportsDelta path, the post-images carry their
    // pre-images' physical __rid, and the oracle replays EVERY id by the
    // q121 rank arithmetic — any re-minted id hash-mismatches.
    "q133_sql_update_rid" -> ((s, dir) => {
      val cat = lineageSqlFixture(s, dir)
      cat.readWithRowIds("maint", "lineage_sqldml")
        .select(col("o_orderkey"), col("o_orderstatus"), col("_row_id"))
        .orderBy("o_orderkey")
    }),

    // HIDDEN time-transform partitioning (r9; Iceberg's signature
    // model): events lay out under day(ts)-derived `__pt=N/` dirs the
    // user never sees; a timestamp range on the SOURCE column must plan
    // only the window's directories — the query REQUIRES that pruning
    // actually happened (kept < total files), then the SQL aggregate
    // over the pruned scan must equal the oracle's full-table replay.
    "q120_hidden_partitioning" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val cat = fx.src
      if (!cat.tableExists("maint", "events_daily")) {
        val ev = T(s, dir, "events").select("event_id", "ts", "event_type", "value")
        cat.createTransformPartitionedTable("maint", "events_daily", ev.schema,
          "ts", "day")
        cat.appendTransformed("maint", "events_daily", ev)
      }
      val snap = cat.currentSnapshot("maint", "events_daily")
      val kept = cat.pruneFiles("maint", "events_daily", snap.snapshotId,
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))._1.size
      require(kept < snap.files.size,
        s"hidden partitioning must prune the scan: kept $kept of ${snap.files.size}")
      s.sql("SELECT event_type, count(*) AS n, " +
        "sum(CAST(FLOOR(value*100) AS BIGINT)) AS cents " +
        "FROM snapdml.maint.events_daily " +
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-15 00:00:00' " +
        "GROUP BY event_type ORDER BY event_type")
    }),

    // SCOPED compaction (r10): over the q125 month-partitioned fixture,
    // compact exactly ONE month's small files. The query REQUIRES the
    // rewrite was scoped (only that month's dir changed, everything else
    // carried verbatim), then the aggregate over the compacted table
    // must equal the oracle's raw replay — the rewrite moved bytes, not
    // rows.
    "q132_compact_where" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.tableExists("maint", "orders_cw")) {
        val o = T(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
        cat.createTransformPartitionedTable("maint", "orders_cw",
          o.schema, "o_orderdate", "month")
        // two appends: every month dir holds >= 2 files, so the scoped
        // rewrite has something to fold in its window
        cat.appendTransformed("maint", "orders_cw",
          o.where(col("o_orderkey") % 2 === 0).repartition(1))
        cat.appendTransformed("maint", "orders_cw",
          o.where(col("o_orderkey") % 2 === 1).repartition(1))
        val before = cat.currentSnapshot("maint", "orders_cw")
        val snap = cat.compactWhere("maint", "orders_cw",
          col("o_orderdate") >= lit("1997-03-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"),
          numFiles = 1).getOrElse(
            throw new IllegalStateException("scoped compact must fold the window"))
        // March 1997 = month ordinal (1997-1970)*12 + 2 = 326
        val untouched = before.files.filterNot(_.contains("__pt=326"))
        require(untouched.forall(snap.files.contains) &&
          snap.files.count(_.contains("__pt=326")) == 1 &&
          snap.files.size == before.files.size - 1,
          s"rewrite must be scoped to the month: ${before.files.size} -> ${snap.files.size}")
      }
      s.sql("SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon, " +
        "count(*) AS n, sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS cents " +
        "FROM snapdml.maint.orders_cw " +
        "WHERE o_orderdate >= TIMESTAMP '1997-02-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-05-01 00:00:00' " +
        "GROUP BY mon ORDER BY mon")
    }),

    // MONTH-granularity hidden partitioning (r10): orders lay out under
    // months(o_orderdate) — CALENDAR units (28-31 days, leap years), not
    // the constant-length floor division of q120. The query REQUIRES
    // that a 5-month window pruned the scan to at most 5 month dirs
    // (kept < total), then the monthly aggregate over the pruned scan
    // must equal the oracle's full-table replay.
    "q125_month_partitioning" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.tableExists("maint", "orders_monthly")) {
        val o = T(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
        cat.createTransformPartitionedTable("maint", "orders_monthly",
          o.schema, "o_orderdate", "month")
        cat.appendTransformed("maint", "orders_monthly", o.repartition(1))
      }
      val snap = cat.currentSnapshot("maint", "orders_monthly")
      val kept = cat.pruneFiles("maint", "orders_monthly", snap.snapshotId,
        col("o_orderdate") >= lit("1996-02-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))._1.size
      require(kept < snap.files.size && kept <= 5,
        s"month partitioning must prune to the window: kept $kept of ${snap.files.size}")
      s.sql("SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon, count(*) AS n, " +
        "sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS cents " +
        "FROM snapdml.maint.orders_monthly " +
        "WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' " +
        "GROUP BY mon ORDER BY mon")
    }),

    // TRUNCATE[W] hidden partitioning (r10): part lays out under
    // truncate[7](p_brand) prefix dirs ("Brand#1".."Brand#5") — string
    // dir values, the non-time half of Iceberg's transform set. The
    // query REQUIRES a brand-family prefix predicate pruned the scan
    // (kept < total), then the per-brand aggregate over the pruned scan
    // must equal the oracle's full-table replay.
    "q126_truncate_partitioning" -> ((s, dir) => {
      val cat = WarehouseFixture.forDir(s, dir).src
      if (!cat.tableExists("maint", "part_brand")) {
        val p = T(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice")
        cat.createTruncatePartitionedTable("maint", "part_brand",
          p.schema, "p_brand", 7)
        cat.appendTransformed("maint", "part_brand", p.repartition(1))
      }
      val snap = cat.currentSnapshot("maint", "part_brand")
      val kept = cat.pruneFiles("maint", "part_brand", snap.snapshotId,
        col("p_brand").startsWith("Brand#2"))._1.size
      require(kept < snap.files.size,
        s"truncate partitioning must prune the scan: kept $kept of ${snap.files.size}")
      s.sql("SELECT p_brand, count(*) AS n, " +
        "sum(CAST(FLOOR(p_retailprice*100) AS BIGINT)) AS cents " +
        "FROM snapdml.maint.part_brand " +
        "WHERE p_brand LIKE 'Brand#2%' " +
        "GROUP BY p_brand ORDER BY p_brand")
    }),

    // materialized view (r8): the body runs once against pinned base
    // snapshots into a backing table; the SQL read serves the TABLE via
    // the substitution redirect. The oracle replays the body + the
    // consumer aggregation inline over the raw parquet (latest
    // tpch.orders = the 'F' slice, as q05 establishes).
    "q114_materialized_view" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      fx.src.createMaterializedView("tpch", "big_orders",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM tpch.orders " +
          "WHERE o_totalprice > 100000",
        replace = fx.src.viewExists("tpch", "big_orders"))
      s.sql("SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big, " +
        "CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM snapdml.tpch.big_orders GROUP BY o_custkey ORDER BY o_custkey")
    }),

    // Unicode NFC normalization (r8): decomposed sequences are BUILT
    // cluster-side from doc_id arithmetic (combining acute/grave after
    // ASCII letters — a denormalized corpus in miniature), then folded by
    // the compiled kernel; the oracle rebuilds the same strings with
    // chr() and replays nfc_normalize. Composition shrinks char length
    // (e + U+0301 -> é), which the length column proves engine-exactly.
    "q113_nfc_normalize" -> ((s, dir) => {
      val d = T(s, dir, "documents").where(col("doc_id") < 400)
      val raw = concat(
        lit("e"), lit("\u0301"),                        // -> é
        when(col("doc_id") % 2 === 0, concat(lit("a"), lit("\u0300")))
          .otherwise(lit("o")),                         // -> à | o
        substring(col("text"), 1, 24))
      d.select(col("doc_id"),
          graft.ops.TextOps.normalize(raw).as("norm"))
        .select(col("doc_id"),
          length(col("norm")).as("n_chars_norm"),
          md5(col("norm").cast("binary")).as("h"))
        .orderBy("doc_id")
    }),

    // Gopher quality-rule battery (r8; Rae et al. 2021 A1.1): integer
    // metrics + cross-multiplied thresholds, so the pass verdict is
    // bit-exact on any engine. minWords=8 fits the synthetic corpus.
    "q111_gopher_rules" -> ((s, dir) =>
      graft.ops.TextOps.gopherRules(T(s, dir, "documents"),
          "doc_id", "text", minWords = 8L)
        .orderBy("doc_id")),

    // distributed BPE (r8; Sennrich et al. 2016): merges learned from the
    // DISTINCT-WORD frequency table of the training half (iterative
    // argmax — deterministic via lexicographic tie-break, but not
    // SQL-expressible: the LEARNING stays spec-gated in BpeSpec's
    // hand-computed reference walk), then per-doc token counts via
    // dictionary join with novel-word merge application. The ENCODE path
    // is oracle-gated (r10): the learned merges embed into the oracle as
    // literals and DuckDB replays the greedy left-to-right merge fold
    // over the target half — string `replace` over a sentinel-delimited
    // symbol string IS the greedy non-overlapping pass — so a wrong
    // dictionary join, novel-word walk, or count hash-mismatches.
    "q110_bpe_tokenize" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val (merges, dict) = graft.ops.Bpe.train(
        d.where(col("doc_id") < 300), "text", numMerges = 10)
      bpeLearnedMerges = Some(merges)
      val out = graft.ops.Bpe.tokenCounts(
          d.where(col("doc_id") >= 300 && col("doc_id") < 600),
          "doc_id", "text", merges, dict)
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("words"),
          sum("n_tokens").as("tokens"))
      dict.unpersist()
      out
    }),

    // REAL audio decode, oracle-gated (r8; the q98 pattern for sound):
    // deterministic 8-segment constant-amplitude PCM WAVs are ENCODED
    // cluster-side (JDK javax.sound writer) from doc_id arithmetic, then
    // DECODED by Multimodal.decodeAudio (JDK codec — real decode work).
    // A constant-a segment's RMS is exactly a, so the argmax segment
    // normalizes to exactly 1.0f — the oracle replays peak and argmax
    // bin from the same id arithmetic; any mis-decoded rate/frame/
    // amplitude hash-mismatches.
    "q106_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select("doc_id").where(col("doc_id") < 300)
        .as[Long].map { id =>
          val samples = Array.tabulate(1000) { f =>
            val seg = f / 125
            (100 + ((id * 31 + seg * 17) % 900)).toShort
          }
          (id, "audio", graft.ops.Multimodal.wavPcm16Mono(8000, samples))
        }.toDF("doc_id", "modality", "payload")
      graft.ops.Multimodal.decodeAudio(s, media).toDF()
        .where(col("decoded"))
        .select(col("doc_id"), col("peak_abs"), col("n_frames"), col("duration_ms"),
          (expr("array_position(feature, CAST(1.0 AS FLOAT))") - 1L).as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"), sum("peak_abs").as("peak_sum"),
          sum("n_frames").as("frames_sum"), sum("duration_ms").as("ms_sum"))
        .orderBy("bin")
    }),

    // smoothed bigram LM quality scoring (r8; the CCNet/KenLM perplexity
    // filter, Wenzek et al. 2020): even-id documents train the reference
    // model, odd-id documents score against it. Count columns are
    // integer-exact; the log-likelihood sum quantizes at 1e-4 so
    // cross-engine fp summation order cannot flip the compare.
    "q104_bigram_lm_score" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      graft.ops.TextOps.bigramLmScore(
          d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
          "doc_id", "text", addK = 0.5)
        .orderBy("doc_id")
    }),

    // streaming CDC across EQUALITY-delete commits (r8): the `.changes`
    // STREAM (run synchronously to a memory sink) serves a history whose
    // middle two commits are zero-scan eq deletes — one single-key, one
    // COMPOSITE-key — the commits the engine's own CDC apply sink writes.
    // Pre-images enumerate from the write-once covered files; the second
    // delete's pre-images exclude rows the first already killed. The
    // oracle replays the whole feed from the raw orders parquet.
    "q99_changes_stream_eq" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val _ = fx.src // fixture built; snapdml catalog registered
      val q = s.readStream.option("starting-snapshot-id", "1")
        // catch-up aggregation: order-insensitive, so drain the whole
        // backlog in ONE micro-batch (per-commit batching — the default,
        // what a CDC apply sink needs — is exercised by StreamingSpec)
        .option("max-commits-per-trigger", "1000000")
        .table("snapdml.maint.orders_cdceq.changes")
        .writeStream.format("memory").queryName("q99_feed")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q99_feed")
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // REAL image decode, oracle-gated (r7): deterministic solid-color
    // PNGs are ENCODED cluster-side (JDK ImageIO writer) from doc_id
    // arithmetic, then DECODED by Multimodal.decodeImages (JDK ImageIO
    // reader — real codec work, not the stub), and the aggregate of the
    // decoded metadata is replayed by the oracle from the same
    // arithmetic: a mis-decoded dimension, channel count, or histogram
    // bin hash-mismatches. Solid gray level g puts the whole luminance
    // histogram in bin g/32, read back via array_position(feature, 1.0).
    "q98_image_decode" -> ((s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select("doc_id").where(col("doc_id") < 500)
        .as[Long].map { id =>
          val w = 8 + (id % 16).toInt
          val h = 8 + ((id * 3) % 16).toInt
          val g = ((id * 37) % 256).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image", bos.toByteArray)
        }.toDF("doc_id", "modality", "payload")
      graft.ops.Multimodal.decodeImages(s, media).toDF()
        .where(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          (expr("array_position(feature, CAST(1.0 AS FLOAT))") - 1L).as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"), sum(col("width")).as("w_sum"),
          sum(col("height")).as("h_sum"), sum(col("channels")).as("ch_sum"))
        .orderBy("bin")
    }),

    // calendar-function battery: extract fields, date arithmetic, month
    // boundaries — all codegen'd builtins, engine-portable by value.
    "q73_datetime_funcs" -> ((s, dir) => {
      T(s, dir, "orders").where(col("o_orderkey") <= 200)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .select(col("o_orderkey"), col("d"),
          year(col("d")).cast("long").as("y"),
          quarter(col("d")).cast("long").as("q"),
          month(col("d")).cast("long").as("m"),
          dayofmonth(col("d")).cast("long").as("dom"),
          date_add(col("d"), 30).as("d_plus30"),
          last_day(col("d")).as("month_end"),
          datediff(lit("1998-12-31").cast("date"), col("d")).cast("long").as("days_to_ref"))
        .orderBy("o_orderkey")
    }),

    // benchmark decontamination: flag training docs whose word 3-grams
    // overlap the held-out benchmark slice (doc_id % 97 == 0). The
    // benchmark n-gram set is tiny by construction -> broadcast; the
    // corpus side explodes per-row and aggregates per doc with map-side
    // combine — the corpus shingle stream never shuffles.
    "q74_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      ops.Decontaminate.overlapCounts(corpus, Seq("doc_id", "lang"), "text",
          bench, "text", n = 3)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_shingles")).as("sum_shingles"),
          sum(col("n_overlap")).as("sum_overlap"),
          sum(when(col("n_overlap") * 20 >= col("n_shingles"), 1L).otherwise(0L))
            .as("n_contaminated"))
        .orderBy("lang")
    }),

    // PII/pattern scrub: ordered regex redaction with per-rule match
    // counts — pure per-row codegen'd regexp work, no shuffle; at 100 TB
    // scrubbing rides the scan. The digit rule fires on this corpus; the
    // email rule proves a non-matching rule passes text through intact
    // (real PII patterns are spec-tested against literal strings).
    "q75_pii_scrub" -> ((s, dir) => {
      val rules = Seq(
        TextOps.ScrubRule("email",
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
        TextOps.ScrubRule("num", "[0-9]+", "<NUM>"))
      TextOps.scrub(eventsT(s, dir), "props", rules)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("n_email")).as("n_emails"),
          sum(col("n_num")).as("n_nums"),
          sum(length(col("props")).cast("long")).as("chars_in"),
          sum(length(col("scrubbed")).cast("long")).as("chars_out"))
        .orderBy("event_type")
    }),

    // deterministic epoch mixing: head sources upweighted 2.5x, two tail
    // sources downsampled to 0.4x, the rest 1.0x. Copies are
    // exact-in-expectation and reproducible (hash-membership fractional
    // copy, see Sampling.resampleWeighted) — a narrow per-row explode, no
    // shuffle until the output agg.
    "q76_domain_mix" -> ((s, dir) => {
      val weight = when(col("source").isin("src0", "src1", "src2"), 2.5)
        .when(col("source").isin("src3", "src4"), 0.4)
        .otherwise(1.0)
      ops.Sampling.resampleWeighted(T(s, dir, "documents"), col("doc_id"), weight)
        .groupBy("source")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars_out"),
          max(col("copy_idx")).as("max_copy"))
        .orderBy("source")
    }),

    // per-domain token-budget selection: keep the best documents per
    // language (quality = length, ties by doc_id) until a 15k-char budget
    // fills — greedy prefix, ONE window pass, groups are the parallelism
    // unit (see Curation.selectToBudget's scale note).
    "q79_token_budget" -> ((s, dir) => {
      ops.Curation.selectToBudget(T(s, dir, "documents"), Seq("lang"), "doc_id",
          quality = col("n_chars"), tokens = col("n_chars"), budget = 15000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars").cast("long")).as("chars_kept"),
          max(col("rank")).as("last_rank"))
        .orderBy("lang")
    }),

    // corpus n-gram analytics: top document-frequency bigrams — the
    // boilerplate-detection scan a dedup pipeline runs before choosing its
    // df-cap (explode -> one hash-partitioned count -> top-k).
    "q60_ngram_topk" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(explode(Dedup.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram"))
        .limit(20)
    }),

    // ORC source (the remaining columnar format Spark ships): same
    // projection round-tripped through ORC; predicate pushdown and
    // vectorized reading are the stock ORC path.
    "q59_orc_source" -> ((s, dir) => {
      s.read.orc(WarehouseFixture.orcSource(s, dir))
        .where(col("n_chars") > 200L)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars_sum"))
        .orderBy("lang")
    }),

    // JSON scalar functions over the events.props payload column.
    "q46_json_extract" -> ((s, dir) => {
      eventsT(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // skew-salted two-phase aggregation: hot keys (5 event types over the
    // whole table) spread across salt buckets, partials merged; result must
    // equal the plain GROUP BY the oracle states.
    "q45_salted_agg" -> ((s, dir) => {
      Skew.saltedSumCount(
        eventsT(s, dir).withColumn("value_e2", floor(col("value") * 100).cast("long")),
        Seq("event_type"), col("value_e2"), saltBuckets = 16)
        .orderBy("event_type")
    }),

    // SQL DESCRIBE TABLE EXTENDED through the V2 catalog plugin: the exact
    // surface the reference string-parses for partition spec and provider
    // (`2_collect_database_schema_info.py:162-214`). Deterministic rows only
    // (Location is a temp dir and is asserted separately in the spec).
    "q48_describe_extended" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      s.sql("DESCRIBE TABLE EXTENDED snapfix.maint.orders_part")
        .where(col("col_name").isin("# Partition Information", "Provider", "o_orderstatus"))
        .select("col_name", "data_type").distinct()
        .orderBy("col_name")
    }),

    // metadata-served aggregates through the V2 catalog: unfiltered
    // count/min/max answered from snapshot-summary column stats (recorded
    // in the commit's own Observation pass) — an O(1) log lookup instead
    // of a table scan; the rewrite itself is plan-asserted in the spec.
    "q49_metadata_minmax" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      s.table("snapfix.tpch.orders").agg(
        count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_orderstatus")).as("min_status"),
        max(col("o_totalprice")).as("max_price"))
    }),

    // IVF ANN (the re-indexable scale path next to q28's LSH): coarse
    // k-means quantizer trained on a deterministic id-sample in exact
    // integer arithmetic, one-pass cell assignment, nprobe=3 of nlist=8
    // cells probed, exact cosine re-rank. Fully replayed by the DuckDB
    // oracle (training included) because every arithmetic step is
    // IEEE-exact. Recall vs brute force asserted in OpsSpec.
    "q50_ann_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10, nlist = 8, nprobe = 3, iters = 2, sampleMod = 3)
        .orderBy("query_id", "rank")
    }),

    // HARD-NEGATIVE MINING (r11, the DPR/sentence-transformers recipe):
    // for each query, the top-k most-similar corpus vectors that are NOT
    // its labeled positives — the negatives nearest the decision
    // boundary, where the contrastive gradient lives. Same IVF index and
    // params as q50 (so the oracle replays the identical candidate set),
    // positives = the arithmetic pair set (q, n) with n % 17 = q,
    // anti-joined BEFORE the rank window so each query still yields k
    // full negatives.
    "q143_hard_negatives" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val positives = emb
        .select((col("vec_id") % 17).as("pq"), col("vec_id").as("pn"))
        .where(col("pq") < 5)
      Similarity.hardNegatives(emb, "vec_id", "embedding",
        queries, "qid", "qvec", positives, "pq", "pn",
        k = 10, nlist = 8, nprobe = 3, iters = 2, sampleMod = 3)
        .orderBy("query_id", "rank")
    }),

    // TOPIC-BALANCED SUBSAMPLING (r11): cluster by embedding with the
    // SAME deterministic coarse quantizer as q50, keep the top-40 rows
    // per cluster by a deterministic quality surrogate (vec_id % 97) —
    // head topics can no longer crowd out the tail. The oracle replays
    // the identical k-means cells, then the per-cluster rank cut.
    "q146_cluster_balance" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        score = col("vec_id") % 97, nClusters = 8, perCluster = 40,
        iters = 2, sampleMod = 3)
        .select(col("vec_id"), col("cluster"), col("cluster_rank"))
        .orderBy("cluster", "cluster_rank")
    }),

    // IVF-PQ ANN (r8): the same coarse index as q50 (so the q50 oracle
    // replay states the answer), candidates scored from m-BYTE product-
    // quantization codes via compiled ADC kernels, exact re-rank of the
    // shortlist. `refine=500` COVERS the probed cells at the correctness
    // and bench scales, making the output the exact in-cell top-k —
    // production tunes refine down (recall/IO trade spec'd in OpsSpec).
    "q105_ann_ivfpq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10, nlist = 8, nprobe = 3, iters = 2, sampleMod = 3,
        m = 16, refine = 500)
        .orderBy("query_id", "rank")
    }),

    // copy-on-write DELETE (Iceberg row-level surface): the fixture deleted
    // all open ('O') orders; survivors aggregate per status, and the
    // snapshot history (asserted in the spec) keeps the pre-delete state
    // time-travelable.
    "q51_delete_where" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_del")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ delete (Iceberg v2 position deletes): the fixture
    // committed two stacked position-delete files — all open ('O') orders,
    // then every key divisible by 10 — without rewriting ANY data file
    // (shape asserted in MorDeleteSpec; a 1-row GDPR delete on a 100-TB
    // table commits KB of positions, not rewritten files). The read
    // drops dead positions inside the covered files' readers only.
    "q88_mor_delete" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_mor")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // TYPE WIDENING (int->bigint, float->double as a pointer commit): the
    // fixture created orders_widen narrow, widened it, appended wide rows.
    // Old files serve through the vectorized reader's upcast — zero
    // rewrite; this aggregate spans both file generations.
    "q89_type_widening" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_widen")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // NESTED schema evolution: info.disc added mid-history; files written
    // before the evolve null-fill the nested field at scan time (sum
    // ignores them), files after carry real values.
    "q90_nested_evolution" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_nested")
        .select(col("o_orderkey"), col("info.st").as("st"), col("info.disc").as("disc"))
        .groupBy("st")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(col("disc")).as("disc_sum"))
        .orderBy("st")
    }),

    // MERGE-ON-READ update: open-P orders repriced by position-delete +
    // re-insert in ONE commit — no candidate data file rewritten (shape
    // asserted in MorDeleteSpec); the read merges positions and the
    // appended copies.
    "q91_mor_update" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_morup")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // copy-on-write MERGE/upsert: matched keys replaced (F orders at
    // doubled totals), unmatched source keys inserted (P orders shifted to
    // new key space) — `MERGE .. WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
    // INSERT *`, stated relationally by the oracle.
    "q52_merge_upsert" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_up")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ upsert: q52's merge shape committed as positions +
    // delta (O(matched + source), the CoW path's full-table rewrite
    // avoided — the steady-state CDC ingest at 100 TB). Same oracle
    // restatement as q52.
    "q92_mor_merge" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_upmor")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // SQL row-level DML over LIVE MoR deletes (SupportsDelta delta writes,
    // r6): delete-as-positions, then SQL UPDATE + MERGE with NO compact
    // between — each statement reads the merged state and commits
    // (position delete shard + insert delta) as one snapshot; no data file
    // is ever rewritten (shape asserted in SqlDeltaDmlSpec). The oracle
    // restates the three-commit history relationally.
    "q93_sql_delta_dml" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_sqldml")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // incremental read across MERGE-ON-READ DML (r6): the range spans a
    // position delete + delta UPDATE + delta MERGE, and serves exactly the
    // rows ADDED in the range that are still visible at its end — the
    // update's post-image P copies (minus keys the merge re-killed), the
    // merge's zeroed copies of keys 1/2, and the inserted row. Resolution
    // stays metadata-only (endpoint file diff); deletes of pre-range rows
    // are changelog's job.
    "q94_incremental_across_dml" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val toId = fx.src.currentSnapshot("maint", "orders_sqldml").snapshotId
      fx.src.readIncremental("maint", "orders_sqldml", fromId = 2, toId = toId)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // incremental read across a SCHEDULED COMPACTION (r7): the range spans
    // a MoR delete, a compact() that materializes it and rewrites every
    // file, and a post-compact append. The file-diff shortcut is unusable
    // (compact outputs re-home old rows), so the read degrades to the
    // changelog's INSERT side — one exceptAll over the changed files,
    // under which the compact's moved rows cancel exactly and ONLY the
    // post-compact append survives. The refusal this replaces was the last
    // functional gap on a CDC consumer's happy path: production tables
    // compact on a schedule.
    "q95_incremental_across_compact" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val toId = fx.src.currentSnapshot("maint", "orders_inc").snapshotId
      fx.src.readIncremental("maint", "orders_inc", fromId = 2, toId = toId)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // incremental (changes-between-snapshots) read: METADATA-resolved file
    // diff of two log entries — the CDC consumer pays for the added rows
    // only, never a table scan. Snapshot 2 -> 3 of orders_small added one
    // full copy of orders.
    "q53_incremental_read" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src
        .readIncremental("maint", "orders_small", fromId = 2, toId = 3)
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
    }),

    // file-level data skipping: per-file footer stats recorded at commit
    // prove 3 of the 4 range-partitioned files unmatchable for this
    // predicate, so they are never read (spec-asserted skip counts; the
    // oracle checks the skip layer never changes RESULTS).
    "q55_file_skipping" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val snapId = fx.src.currentSnapshot("maint", "orders_bykey").snapshotId
      fx.src.readWhere("maint", "orders_bykey", snapId, col("o_orderkey") <= 1000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // z-order-clustered table: the interleaved layout gives BOTH key
    // columns tight per-file ranges, so this o_custkey predicate skips
    // files even though the curve also clusters o_orderkey (spec-asserted
    // skip counts; the oracle checks the rewrite + skip change no rows).
    "q56_zorder_skip" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      val snapId = fx.src.currentSnapshot("maint", "orders_z").snapshotId
      fx.src.readWhere("maint", "orders_z", snapId, col("o_custkey") <= 100L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // near-dup CLUSTERS from verified pairs: Pregel-style min-label
    // propagation (connected components) — the keep-one-per-cluster step a
    // dedup pipeline actually ships (pairs alone overcount when A~B~C but
    // A!~C); the DuckDB oracle recomputes components with a recursive
    // transitive-closure CTE.
    "q57_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        w = 5, num = 1, den = 2, maxDocFreq = 1000).select("id_a", "id_b")
      Dedup.clusters(pairs).orderBy("doc_id")
    }),

    // dedup RETENTION: the action behind the clusters — drop every
    // near-duplicate except the cluster's min-id representative, then the
    // corpus-level yield per language. Clusters run over the PAIRS only;
    // the corpus is touched by exactly one anti-join.
    "q80_dedup_retention" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        w = 5, num = 1, den = 2, maxDocFreq = 1000).select("id_a", "id_b")
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars").cast("long")).as("chars_kept"))
        .orderBy("lang")
    }),

    // exact grouped percentiles over integer cents, SCALE-SOUND twice over:
    // Spark's percentile() buffers every group's values in executor memory
    // (OOM at 100 TB), and a per-group window sort funnels each group
    // through ONE task (a 3-value group column sends a third of the table
    // through a single straggler). This is histogram SELECTION instead:
    // (0) per-group min/max — one column-pruned agg scan;
    // (1) one hash-partitioned (group, bucket) count pass — map-side
    //     combined, ≤ groups×1024 rows to the driver (KB);
    // (2) row_number ONLY inside the ≤ 2 buckets per quartile that contain
    //     a target rank (each ~1/1024 of a group), reading just those rows.
    // No full-table shuffle or sort at any point; every pass is fully
    // parallel. Deterministic width_bucket assignment (NOT a sampled range
    // partitioner: the count pass and the pick pass must agree on
    // placement across separate executions). Quartile positions
    // interpolate with exactly-representable fractions over integers <
    // 2^52, so the result matches DuckDB's quantile_cont bit-for-bit.
    "q58_percentiles" -> ((s, dir) => {
      graft.ops.Percentiles.groupedQuantiles(
        T(s, dir, "orders").select(col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").cast("double").as("cents")),
        groupCol = "o_orderstatus", valueCol = "cents",
        qs = Seq(0.25, 0.5, 0.75),
        outNames = Seq("p25_cents", "median_cents", "p75_cents"))
        .orderBy("o_orderstatus")
    }),

    // snapshot rollback: a NEW log entry re-pointing at snapshot 2's files
    // (pure metadata, no data movement) — current state is the full table
    // again even though an overwrite happened in between.
    "q54_rollback" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_rb")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
    }),

    // the spark.sql surface itself: SQL text over registered temp views —
    // the engine accepts the same ANSI SQL the oracle runs.
    "q43_sql_surface" -> ((s, dir) => {
      T(s, dir, "nation").createOrReplaceTempView("nation_v")
      T(s, dir, "supplier").createOrReplaceTempView("supplier_v")
      s.sql(
        """SELECT n.n_name, CAST(count(s.s_suppkey) AS BIGINT) AS n_supp
          |FROM nation_v n LEFT JOIN supplier_v s ON n.n_nationkey = s.s_nationkey
          |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    }),

    // SQL surface of the native kernels (GraftSqlFunctions): the same
    // compiled Catalyst expressions the Column API uses, callable from
    // plain SQL — no UDF wrapper, identical per-row cost and semantics.
    // register() is idempotent; sessions built with
    // spark.sql.extensions=GraftSparkExtensions already have them.
    "q81_sql_functions" -> ((s, dir) => {
      graft.catalog.spark.GraftSqlFunctions.register(s)
      T(s, dir, "documents").createOrReplaceTempView("docs_fn_v")
      s.sql(
        """SELECT graft_lang_id(text) AS pred_lang,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  sum(graft_bpe_token_count(text)) AS sum_bpe_tokens
          |FROM docs_fn_v GROUP BY 1 ORDER BY pred_lang""".stripMargin)
    }),

    // dynamic partition pruning through the snapshot catalog: a broadcast
    // join against a filtered dim hands the fact scan the surviving join
    // keys at RUNTIME (SupportsRuntimeV2Filtering), so only the matching
    // hive partition's files are read — the 100-TB fact⋈dim shape. The
    // file-level effect is plan-asserted in SnapCatalogPluginSpec; here the
    // row results ride the correctness gate.
    "q82_dpp_join" -> ((s, dir) => {
      import s.implicits._
      val fx = WarehouseFixture.forDir(s, dir)
      Seq(("F", "keep"), ("O", "drop"), ("P", "drop")).toDF("st", "label")
        .createOrReplaceTempView("status_dim_v")
      s.sql(
        """SELECT /*+ BROADCAST(d) */ f.o_orderstatus,
          |  CAST(count(*) AS BIGINT) AS n_orders,
          |  sum(f.o_orderkey) AS key_sum
          |FROM snapfix.maint.orders_part f
          |JOIN status_dim_v d ON f.o_orderstatus = d.st
          |WHERE d.label = 'keep'
          |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin)
    }),

    // manifests metadata table: the shard-reuse ledger of the sharded
    // snapshot log (one row per live shard; appends reuse prior shards, a
    // compact starts a fresh full-state shard). orders_small's history is
    // create -> append(4 files) -> append(4 files) -> compact(2 files), so
    // the inventory is fully deterministic and the oracle restates it with
    // row counts tied to the orders table.
    "q83_manifests" -> ((s, dir) => {
      val fx = WarehouseFixture.forDir(s, dir)
      s.sql(
        """SELECT path, file_count, record_count, added_snapshot_id, referenced_by
          |FROM snapfix.maint.orders_small.manifests ORDER BY path""".stripMargin)
    }),

    // declared sort order: the fixture table was committed under
    // write.sort-order=o_orderkey, so its files carry DISJOINT key ranges
    // and this range predicate plans only the overlapping files (the skip
    // counts are spec-asserted; content equality rides the oracle).
    "q87_sorted_table" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatestWhere("maint", "orders_sorted",
        col("o_orderkey") >= 100 && col("o_orderkey") < 500)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // deterministic training-export shuffle: the corpus ordered by a
    // seed-salted md5 — a reproducible pseudo-random permutation (retries,
    // backfills, engines agree; new seed = new epoch order). The query pins
    // the permutation's head: the 100 (hash, doc_id) pairs that sort first.
    "q86_shuffle_export" -> ((s, dir) => {
      ops.Sampling.shuffleDeterministic(T(s, dir, "documents"), col("doc_id"), seed = 42L)
        .select(col("doc_id"),
          ops.Sampling.hashPoint(
            concat(col("doc_id").cast("string"), lit(":"), lit("42"))).as("h"))
        .limit(100)
    }),

    // zero-copy adoption (Iceberg add_files; the migration data plane
    // without the rewrite): the fixture adopted externally-written F-order
    // parquet by RENAME — per-file cost one footer read. The adopted files
    // read back exactly; footer stats make them skippable like any commit's.
    "q85_adopt" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readLatest("maint", "orders_adopt")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderstatus")
    }),

    // row-level changelog (CDC view): the fixture's orders_del history is
    // create(1) -> append(2) -> DELETE open orders(3); the changelog of
    // (2,3] is exactly the 'O' rows as deletes — computed from the
    // file-granular diff (carried files never read) + one exceptAll over
    // the churn. Rows the prune-aware delete merely rewrote cancel out.
    "q84_changelog" -> ((s, dir) => {
      WarehouseFixture.forDir(s, dir).src.readChangelog("maint", "orders_del", 2L, 3L)
        .groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy("_change_type", "o_orderstatus")
    }))

  // -------------------------------------------------------------------
  // oracles
  // -------------------------------------------------------------------

  /** [[graft.ops.Similarity.planeComponent]] as DuckDB SQL — the mix is
    * 64-bit-integer exact and the final division is by a power of two, so
    * both engines produce bit-identical doubles. */
  private def mixSql(k: String): String = {
    val h1 = s"((xor($k, $k >> 15)) * 486187739) & 4294967295"
    val h2 = s"((xor(($h1), ($h1) >> 13)) * 368040263) & 4294967295"
    val h3 = s"xor(($h2), ($h2) >> 16)"
    s"(($h3) / 4294967296.0 - 0.5)"
  }

  /** Shared LSH-replay CTEs for the q28/q31 oracles: hyperplanes from the
    * integer mix, double-cast vectors, per-table sign buckets. DuckDB's
    * list_inner_product sums element products left-to-right in double —
    * the same op order as [[graft.functions.DotProduct]] — so the bucket
    * signs (and cosine ranks) match Spark bit-for-bit. */
  private def lshCtes(nPlanes: Int, nTables: Int, dim: Int): String = {
    val comp = mixSql(s"CAST((t*$nPlanes + j)*$dim + i + 1 AS BIGINT)")
    s"""planes AS (
       |  SELECT t, j, list_transform(range(0, $dim), i -> $comp) AS p
       |  FROM range(0, $nTables) tt(t), range(0, $nPlanes) jj(j)),
       |vecs AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |buckets AS (
       |  SELECT vec_id, t,
       |    bit_or(CASE WHEN list_inner_product(v, p) >= 0
       |           THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS bucket
       |  FROM vecs, planes GROUP BY vec_id, t)""".stripMargin
  }

  /** One unrolled Lloyd's iteration for the q50 oracle: assign the sample
    * to the nearest `prev` centroid (exact integer dists held in doubles),
    * recompute floored per-dimension means, keep an empty cell's previous
    * centroid — the same semantics as
    * [[graft.ops.Similarity.trainIvfCentroids]]. */
  private def ivfIterCtes(n: Int, prev: String, dim: Int): String =
    s"""a$n AS (SELECT vec_id, q, cid FROM (
       |    SELECT s.vec_id, s.q, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |        list_inner_product(s.q, s.q) + list_inner_product(c.c, c.c)
       |        - 2.0*list_inner_product(s.q, c.c), c.cid) AS rn
       |    FROM samp s, $prev c) WHERE rn = 1),
       |m$n AS (SELECT cid, i, floor(sum(q[i]) / count(*)) AS val
       |       FROM a$n, range(1, ${dim + 1}) r(i) GROUP BY cid, i),
       |c$n AS (SELECT p.cid, coalesce(m.lst, p.c) AS c
       |       FROM $prev p LEFT JOIN
       |         (SELECT cid, list(val ORDER BY i) AS lst FROM m$n GROUP BY cid) m
       |       USING (cid))""".stripMargin

  /** Merges q110 learned this run — training is iterative argmax (not
    * SQL-expressible; spec-gated), but once learned the tiny ordered
    * merge list embeds into the ORACLE as literals so DuckDB can replay
    * the encode path independently. Set by q110; None when it didn't
    * run (the driver then records its rows-only check as before). */
  @volatile private var bpeLearnedMerges: Option[Seq[(String, String)]] = None

  /** q110's oracle, built from the learned merges: each word becomes a
    * chr(2)-delimited symbol string (chars + the chr(1) end-of-word
    * sentinel — the corpus is control-char-free, verified at gen time),
    * and each merge (a,b) applies as `replace(s, a·sep·b·sep, ab·sep)` —
    * string replace scans left-to-right non-overlapping, which IS the
    * greedy merge fold ("aaa" under (a,a) -> [aa, a]). Token count =
    * the number of remaining separators. */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    // SQL literal of a symbol, splicing the U+0001 sentinel through
    // chr(1) so the oracle text stays printable
    def lit(sym: String): String =
      sym.split(graft.ops.Bpe.Eow, -1).map(p => "'" + p.replace("'", "''") + "'")
        .mkString(" || chr(1) || ")
    val base = "regexp_replace(w, '(?s)(.)', '\\1' || chr(2), 'g') || chr(1) || chr(2)"
    val folded = merges.foldLeft(base) { case (e, (a, b)) =>
      s"replace($e, ${lit(a)} || chr(2) || ${lit(b)} || chr(2), ${lit(a + b)} || chr(2))"
    }
    s"""WITH tgt AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 600
       |), words AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w
       |  FROM tgt
       |), dw AS (SELECT DISTINCT w FROM words),
       |enc AS (SELECT w, $folded AS s FROM dw),
       |wtok AS (
       |  SELECT w, (length(s) - length(replace(s, chr(2), ''))) AS n_tokens FROM enc
       |), per_doc AS (
       |  SELECT doc_id, count(*) AS n_words, sum(n_tokens) AS n_tokens
       |  FROM words JOIN wtok USING (w) GROUP BY doc_id
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS words,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens
       |FROM per_doc""".stripMargin
  }

  /** PCA model q131 learned this run — the projection oracle embeds its
    * components/offsets as literals (see [[bpeLearnedMerges]]). */
  @volatile private var pcaLearned: Option[graft.ops.Pca.PcaModel] = None

  /** q131's oracle: `pc_j = inner(CAST(x AS DOUBLE[]), c_j) - <mean·c_j>`
    * with the learned component arrays spliced verbatim — both engines
    * then run the identical sequence of f64 multiply-adds, so the
    * quantized projections match bit-for-bit. */
  private def pcaOracleSql(m: graft.ops.Pca.PcaModel): String = {
    def arr(c: Array[Double]): String =
      "[" + c.map(_.toString).mkString(", ") + "]"
    val cols = m.components.indices.map { j =>
      s"CAST(floor((list_inner_product(CAST(embedding AS DOUBLE[]), " +
        s"${arr(m.components(j))}) - (${m.meanOffset(j)})) * 10000) AS BIGINT) " +
        s"AS pc${j}_q"
    }.mkString(", ")
    s"SELECT vec_id, $cols FROM embeddings ORDER BY vec_id"
  }

  def oracleSql: Map[String, String] =
    bpeLearnedMerges.map(m => Map("q110_bpe_tokenize" -> bpeOracleSql(m)))
      .getOrElse(Map.empty) ++
    pcaLearned.map(m => Map("q131_pca_embed" -> pcaOracleSql(m)))
      .getOrElse(Map.empty) ++ Map(

    // full IVF replay, TRAINING INCLUDED: the integer-grid quantization,
    // both Lloyd's iterations, assignment, probing, and the cosine re-rank
    // are all IEEE-exact, so DuckDB reproduces the trained index
    // bit-for-bit from the base table alone.
    "q50_ann_ivf" ->
      s"""WITH iv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding, x ->
         |      floor((least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) + 2.0) * 1048576.0)) AS q
         |  FROM embeddings),
         |samp AS (SELECT vec_id, q FROM iv WHERE vec_id % 3 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT 8)),
         |${ivfIterCtes(1, "c0", 64)},
         |${ivfIterCtes(2, "c1", 64)},
         |cells AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM iv i, c2 c) WHERE rn = 1),
         |probes AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM iv i, c2 c WHERE i.vec_id < 5) WHERE rn <= 3),
         |cand AS (SELECT p.vec_id AS query_id, ce.vec_id AS neighbor_id
         |         FROM probes p JOIN cells ce ON p.cid = ce.cid
         |         WHERE ce.vec_id <> p.vec_id),
         |sims AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_inner_product(cv.v, qv.v) /
         |        (sqrt(list_inner_product(cv.v, cv.v)) * sqrt(list_inner_product(qv.v, qv.v))) DESC,
         |      neighbor_id) AS rank
         |  FROM cand JOIN iv cv ON cv.vec_id = neighbor_id
         |            JOIN iv qv ON qv.vec_id = query_id)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
         |FROM sims WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // all-pairs exact Jaccard >= 9/10: the verified-pair output of the
    // MinHash pipeline equals the true-pair set (recall argument at the
    // queries entry), which DuckDB states with integer arithmetic.
    "q24_minhash_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter_sz,
        |  CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS union_sz
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.shingles, b.shingles)) * 10 >=
        |      9 * (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
        |ORDER BY id_a, id_b""".stripMargin,

    // full simhash replay: MD5-nibble token hash -> per-bit votes ->
    // signature -> all-pairs hamming <= 3 (bit 63 via the min-long literal;
    // DuckDB raises on 1<<63).
    "q25_simhash_pairs" ->
      """WITH wt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
        |v AS (
        |  SELECT doc_id, b, sum(CASE WHEN
        |      (((strpos('0123456789abcdef', substr(md5(wd), b // 4 + 1, 1)) - 1) >> (b % 4)) & 1) = 1
        |    THEN 1 ELSE -1 END) AS vote
        |  FROM wt, range(0, 64) r(b) GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id, bit_or(CASE WHEN vote > 0 THEN
        |      (CASE WHEN b = 63 THEN (-9223372036854775807 - 1) ELSE (1::BIGINT << b) END)
        |    ELSE 0 END) AS sig
        |  FROM v GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sig a, sig b WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // full LSH replay: multi-probe candidate rule "bucket hamming <= 2 in
    // any table" (equivalent to the query-side XOR-mask explode), then
    // exact cosine re-rank with the identical float formula.
    "q28_ann_lsh" ->
      s"""WITH ${lshCtes(nPlanes = 8, nTables = 8, dim = 64)},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets c
         |    ON q.t = c.t AND bit_count(xor(q.bucket, c.bucket)) <= 2
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |sims AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_inner_product(cv.v, qv.v) /
         |        (sqrt(list_inner_product(cv.v, cv.v)) * sqrt(list_inner_product(qv.v, qv.v))) DESC,
         |      neighbor_id) AS rank
         |  FROM cand JOIN vecs cv ON cv.vec_id = neighbor_id
         |            JOIN vecs qv ON qv.vec_id = query_id)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
         |FROM sims WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // full LSH replay (exact bucket match, no probes), then the exact
    // cosine >= 0.35 recheck with the identical float formula.
    "q31_embedding_neardup" ->
      s"""WITH ${lshCtes(nPlanes = 8, nTables = 8, dim = 64)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b
         |FROM cand JOIN vecs va ON va.vec_id = id_a JOIN vecs vb ON vb.vec_id = id_b
         |WHERE list_inner_product(va.v, vb.v) /
         |      (sqrt(list_inner_product(va.v, va.v)) * sqrt(list_inner_product(vb.v, vb.v))) >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS cnt_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(FLOOR(l_extendedprice*100) AS BIGINT) * (100 - CAST(FLOOR(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  CAST(sum(CAST(FLOOR(l_extendedprice*100) AS BIGINT) * (100 - CAST(FLOOR(l_discount*100) AS BIGINT)) * (100 + CAST(FLOOR(l_tax*100) AS BIGINT))) AS BIGINT) AS charge_e6
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_scan_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_snapshots_meta" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'create', CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'append', (SELECT CAST(count(*) AS BIGINT) FROM orders)),
        |  (CAST(3 AS BIGINT), 'overwrite', (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F'))
        |) AS t(snapshot_id, operation, record_count) ORDER BY snapshot_id""".stripMargin,

    "q04_timetravel_asof" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin,

    "q05_timetravel_latest" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q06_asof_window" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey,
        |  CAST(FLOOR(o_totalprice*100) AS BIGINT) AS last_total_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders WHERE o_orderdate <= TIMESTAMP '1998-01-01 00:00:00') s
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q07_checksum_portable" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(FLOOR(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS sum_flag_len,
        |  CAST(min(l_shipdate) AS DATE) AS min_ship,
        |  CAST(max(l_shipdate) AS DATE) AS max_ship
        |FROM lineitem""".stripMargin,

    "q08_except" ->
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |EXCEPT
        |SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q09_files_enum" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM orders)),
        |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F'))
        |) AS t(snapshot_id, num_files, record_count) ORDER BY snapshot_id""".stripMargin,

    "q10_migrate_verify" ->
      """SELECT * FROM (VALUES
        |  ('nation', (SELECT CAST(count(*) AS BIGINT) FROM nation),
        |   (SELECT CAST(count(*) AS BIGINT) FROM nation), true, true),
        |  ('orders', (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders), true, true)
        |) AS t(table_name, src_count, dst_count, counts_match, checksum_match)
        |ORDER BY table_name""".stripMargin,

    "q11_join_broadcast" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS orders_cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q12_join_multi" ->
      """SELECT n_name,
        |  CAST(sum(CAST(FLOOR(l_extendedprice*100) AS BIGINT) * (100 - CAST(FLOOR(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q13_semi_anti" ->
      """SELECT 'with_orders' AS grp, CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS grp, CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY grp""".stripMargin,

    "q14_topk" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY spend_cents DESC, o_custkey LIMIT 10""".stripMargin,

    "q15_distinct_agg" ->
      """SELECT n_name, CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_supp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(FLOOR(s_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q16_window_running" ->
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty,
        |  CAST(row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS rn
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q17_events_window" ->
      """SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_e2
        |FROM events GROUP BY event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)
        |ORDER BY event_type, hour_ts""".stripMargin,

    "q18_intersect" ->
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT
        |SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q20_scalar_funcs" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  upper(n_name) AS uname, substr(n_name, 1, 3) AS pre3,
        |  CAST(length(n_name) AS BIGINT) AS name_len,
        |  concat(n_name, '#', CAST(n_nationkey AS VARCHAR)) AS tagged
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(max(c) AS BIGINT) AS max_dup
        |FROM (SELECT text, count(*) AS c FROM documents GROUP BY text) g""".stripMargin,

    "q22_text_stats" -> {
      val stop = TextOps.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT lang,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |       w -> list_contains($stop, w))) AS BIGINT) AS n_stopwords
         |FROM documents),
         |t2 AS (SELECT *, (n_chars - (n_words - 1)) * 10000 // n_words AS awl FROM t)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_words) AS BIGINT) AS sum_words,
         |  CAST(sum(n_stopwords) AS BIGINT) AS sum_stopwords,
         |  CAST(sum(awl) AS BIGINT) AS sum_awl_e4
         |FROM t2 GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q23_langid" -> {
      val score = TextOps.Markers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), $lst)) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextOps.Markers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n    ")
      s"""WITH s AS (SELECT text,
         |  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
         |  $score
         |FROM documents),
         |b AS (SELECT *, $best AS best FROM s)
         |SELECT CASE WHEN cjk > 0 AND cjk * 5 >= length(text) THEN 'zh'
         |    $cases
         |    ELSE 'und' END AS pred_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM b GROUP BY 1 ORDER BY pred_lang""".stripMargin
    },

    "q81_sql_functions" -> {
      // q23's langid replay + q44's BPE-token replay, grouped by PREDICTED
      // language — the oracle checks the SQL-registered kernels end to end
      val score = TextOps.Markers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), $lst)) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextOps.Markers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n    ")
      s"""WITH s AS (SELECT text,
         |  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
         |  $score
         |FROM documents),
         |b AS (SELECT *, $best AS best FROM s)
         |SELECT CASE WHEN cjk > 0 AND cjk * 5 >= length(text) THEN 'zh'
         |    $cases
         |    ELSE 'und' END AS pred_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS sum_bpe_tokens
         |FROM b GROUP BY 1 ORDER BY pred_lang""".stripMargin
    },

    "q82_dpp_join" ->
      """WITH dim AS (SELECT * FROM (VALUES ('F','keep'),('O','drop'),('P','drop')) AS t(st, label))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN dim ON o_orderstatus = st WHERE label = 'keep'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q83_manifests" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders)
        |SELECT t.path, CAST(t.fc AS BIGINT) AS file_count,
        |  CAST(t.rc AS BIGINT) AS record_count,
        |  CAST(t.sid AS BIGINT) AS added_snapshot_id,
        |  CAST(t.rb AS BIGINT) AS referenced_by
        |FROM (VALUES
        |  ('m2.json', 4, (SELECT c FROM n), 2, 2),
        |  ('m3.json', 4, (SELECT c FROM n), 3, 1),
        |  ('m4.json', 2, (SELECT 2*c FROM n), 4, 1)) AS t(path, fc, rc, sid, rb)
        |ORDER BY t.path""".stripMargin,

    "q87_sorted_table" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 500
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q86_shuffle_export" ->
      """SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT) AS h
        |FROM documents
        |ORDER BY h, doc_id LIMIT 100""".stripMargin,

    "q85_adopt" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q84_changelog" ->
      """SELECT 'delete' AS _change_type, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q61_curation_pipeline" -> {
      // same language-ID replay as q23's oracle, then the curation gates
      val score = TextOps.Markers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), $lst)) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val langs = TextOps.Markers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n    ")
      s"""WITH s AS (SELECT doc_id, text, n_chars,
         |  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
         |  $score
         |FROM documents),
         |b AS (SELECT *, $best AS best FROM s),
         |langed AS (SELECT doc_id, text, n_chars,
         |  CASE WHEN cjk > 0 AND cjk * 5 >= length(text) THEN 'zh'
         |    $cases
         |    ELSE 'und' END AS pred_lang FROM b),
         |gated AS (SELECT * FROM langed
         |  WHERE pred_lang IN ('en', 'de', 'fr')
         |    AND n_chars BETWEEN 200 AND 20000),
         |kept AS (SELECT text, pred_lang, min(doc_id) AS keep_id,
         |    CAST(count(*) AS BIGINT) AS copies
         |  FROM gated GROUP BY text, pred_lang)
         |SELECT pred_lang, CAST(count(*) AS BIGINT) AS kept_docs,
         |  CAST(sum(copies - 1) AS BIGINT) AS dropped_dups,
         |  CAST(sum(length(text)) AS BIGINT) AS kept_chars
         |FROM kept GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
    },

    "q26_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN rare r ON a.s = r.s JOIN inv b ON b.s = a.s
        |  WHERE a.doc_id < b.doc_id)
        |SELECT c.id_a, c.id_b,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter_sz,
        |  CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS union_sz
        |FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |WHERE len(list_intersect(a.shingles, b.shingles)) * 2 >=
        |      1 * (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
        |ORDER BY id_a, id_b""".stripMargin,

    "q27_cosine_topk" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |sims AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id) AS rank
        |  FROM embeddings e, q WHERE e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
        |FROM sims WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q29_multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 31) % 577 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q32_frame_sample" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, CAST(f.frame_idx AS BIGINT) AS frame_idx,
        |  CAST(f.frame_idx * greatest(n_bytes // 4, 1) AS BIGINT) AS offset,
        |  CAST(least(16, greatest(n_bytes - f.frame_idx * greatest(n_bytes // 4, 1), 0)) AS BIGINT) AS frame_len
        |FROM m, (SELECT unnest(range(0, 4)) AS frame_idx) f
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q33_compact" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'create', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'append', CAST(4 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM orders)),
        |  (CAST(3 AS BIGINT), 'append', CAST(8 AS BIGINT), (SELECT CAST(2 * count(*) AS BIGINT) FROM orders)),
        |  (CAST(4 AS BIGINT), 'compact', CAST(2 AS BIGINT), (SELECT CAST(2 * count(*) AS BIGINT) FROM orders))
        |) AS t(snapshot_id, operation, num_files, record_count)
        |ORDER BY snapshot_id""".stripMargin,

    "q51_delete_where" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderstatus <> 'O'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the widened history replayed: narrow generation (values as float-
    // rounded ints) plus the wide generation
    "q89_type_widening" ->
      """WITH widened AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS p FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 4000000000, o_orderstatus, o_totalprice FROM orders)
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM widened GROUP BY st ORDER BY st""".stripMargin,

    // pre-evolve rows carry NULL disc (sum skips), post-evolve rows k % 7
    "q90_nested_evolution" ->
      """WITH nested AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(NULL AS BIGINT) AS disc FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 4000000000, o_orderstatus, o_orderkey % 7 FROM orders)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(disc) AS BIGINT) AS disc_sum
        |FROM nested GROUP BY st ORDER BY st""".stripMargin,

    // the MoR update restated relationally: P orders at doubled totals
    "q91_mor_update" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(floor((CASE WHEN o_orderstatus = 'P'
        |    THEN o_totalprice * 2 ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // merged visibility after the two stacked position-delete commits
    "q88_mor_delete" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderstatus <> 'O' AND o_orderkey % 10 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the post-merge state, stated relationally: unmatched target rows
    // as-is, matched keys at doubled totals, new keys inserted
    "q52_merge_upsert" ->
      """WITH merged AS (
        |  SELECT * FROM orders WHERE o_orderstatus NOT IN ('F', 'P')
        |  UNION ALL
        |  SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + 4000000000 AS o_orderkey)
        |  FROM orders WHERE o_orderstatus = 'P')
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // identical post-merge state, reached merge-on-read
    "q92_mor_merge" ->
      """WITH merged AS (
        |  SELECT * FROM orders WHERE o_orderstatus NOT IN ('F', 'P')
        |  UNION ALL
        |  SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT * REPLACE (o_orderkey + 4000000000 AS o_orderkey)
        |  FROM orders WHERE o_orderstatus = 'P')
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the range's append-delta restated: the UPDATE's doubled-P copies
    // (keys 1/2 excluded when P — the merge re-killed them), the MERGE's
    // zeroed copies of keys 1/2, and the inserted 'X' row
    "q94_incremental_across_dml" ->
      """WITH alive AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |upd_delta AS (SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
        |  FROM alive WHERE o_orderstatus = 'P' AND o_orderkey NOT IN (1, 2)),
        |mrg_delta AS (
        |  SELECT * REPLACE (CAST(0.0 AS DOUBLE) AS o_totalprice) FROM alive
        |  WHERE o_orderkey IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(4000000001 AS BIGINT), CAST(0 AS BIGINT), 'X',
        |    CAST(123.0 AS DOUBLE), TIMESTAMP '2026-01-01 00:00:00', '0-NEW'),
        |delta AS (SELECT * FROM upd_delta UNION ALL SELECT * FROM mrg_delta)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM delta GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the oracle replays the image-generation arithmetic the cluster-side
    // decode must reproduce: solid gray g=(id*37)%256 lands the whole
    // luminance histogram in bin g/32; dimensions from the same id math
    "q98_image_decode" ->
      """WITH gen AS (
        |  SELECT doc_id,
        |    8 + doc_id % 16 AS w,
        |    8 + (doc_id * 3) % 16 AS h,
        |    ((doc_id * 37) % 256) // 32 AS bin
        |  FROM documents WHERE doc_id < 500)
        |SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(w) AS BIGINT) AS w_sum,
        |  CAST(sum(h) AS BIGINT) AS h_sum,
        |  CAST(count(*) * 3 AS BIGINT) AS ch_sum
        |FROM gen GROUP BY bin ORDER BY bin""".stripMargin,

    // the exact multiset diff of the same range, tagged: inserts are the
    // shifted F batch, deletes are the %10 keys the MoR delete killed
    "q97_changes_sql" ->
      """WITH ch AS (
        |  SELECT 'insert' AS _change_type, o_orderstatus,
        |    o_orderkey + 4000000000 AS k
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'delete' AS _change_type, o_orderstatus, o_orderkey AS k
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT _change_type, o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM ch GROUP BY _change_type, o_orderstatus
        |ORDER BY _change_type, o_orderstatus""".stripMargin,

    // the evolved-schema changelog restated: %10 pre-images delete with
    // NULL o_disc, the wide F append inserts with its computed o_disc
    "q100_changelog_evolution" ->
      """WITH feed AS (
        |  SELECT 'delete' AS _change_type, o_orderstatus, o_orderkey AS k,
        |    CAST(NULL AS BIGINT) AS disc
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, o_orderkey + 4000000000,
        |    (o_orderkey + 4000000000) % 7
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT _change_type, o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(disc) AS BIGINT) AS disc_sum
        |FROM feed GROUP BY _change_type, o_orderstatus
        |ORDER BY _change_type, o_orderstatus""".stripMargin,

    "q101_bloom_point_lookup" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey IN (2, 7, 32, 33, 4000000123)
        |ORDER BY o_orderkey""".stripMargin,

    // duplicated >=8-token spans from gram STRINGS (the engine anchors on
    // xxhash64 of the same grams); 1-based DuckDB positions shift to the
    // engine's 0-based start / exclusive end
    "q102_duplicate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, u.i AS pos, array_to_string(ts[u.i:u.i+7], ' ') AS g
        |  FROM toks, unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS u(i)
        |), marked AS (
        |  SELECT doc_id, pos FROM grams
        |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) > 1)
        |), w AS (
        |  SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM marked
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM w)
        |SELECT doc_id, CAST(min(pos) - 1 AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,

    "q103_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, u.i AS pos, array_to_string(ts[u.i:u.i+7], ' ') AS g
        |  FROM toks, unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS u(i)
        |), marked AS (
        |  SELECT doc_id, pos FROM grams
        |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) > 1)
        |), w AS (
        |  SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM marked
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM w
        |), spans AS (
        |  SELECT doc_id, min(pos) AS sp, max(pos) + 7 AS ep
        |  FROM isl GROUP BY doc_id, island
        |), toku AS (
        |  SELECT doc_id, u.i AS pos, ts[u.i] AS tok
        |  FROM toks, unnest(generate_series(1, len(ts))) AS u(i)
        |), keep AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toku t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.sp AND s.ep)
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS t2
        |  FROM keep GROUP BY doc_id)
        |SELECT k.doc_id, coalesce(a.t2, '') AS text_scrubbed
        |FROM toks k LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // SemDeDup replay: q50's exact IVF cell replay -> within-cell cosine
    // pair graph at 0.35 -> recursive components -> survivors = ids that
    // are their own component minimum (isolated ids never enter `reach`
    // and survive trivially)
    "q107_semdedup" ->
      s"""WITH RECURSIVE iv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding, x ->
         |      floor((least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) + 2.0) * 1048576.0)) AS q
         |  FROM embeddings),
         |samp AS (SELECT vec_id, q FROM iv WHERE vec_id % 3 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT 8)),
         |${ivfIterCtes(1, "c0", 64)},
         |${ivfIterCtes(2, "c1", 64)},
         |cells AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM iv i, c2 c) WHERE rn = 1),
         |pairs AS (
         |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
         |  FROM cells ca JOIN cells cb ON ca.cid = cb.cid AND ca.vec_id < cb.vec_id
         |  JOIN iv a ON a.vec_id = ca.vec_id JOIN iv b ON b.vec_id = cb.vec_id
         |  WHERE list_inner_product(a.v, b.v) /
         |    (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.35),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |losers AS (
         |  SELECT src AS vec_id FROM reach GROUP BY src
         |  HAVING least(src, min(dst)) <> src)
         |SELECT vec_id FROM iv
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    // DSIR replayed end-to-end: md5 buckets over unigrams+bigrams, add-k
    // bucket models, per-doc quantized log-weight, md5-derived Gumbel
    // noise, top-64 by (key_q, doc_id)
    "q108_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, u.w AS g FROM toks, unnest(ts) AS u(w)
        |  UNION ALL
        |  SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1]
        |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |), gb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
        |  FROM grams
        |), tgt AS (
        |  SELECT b, count(*) AS ct FROM gb WHERE doc_id % 10 = 0 GROUP BY b
        |), rawb AS (
        |  SELECT b, count(*) AS cr FROM gb WHERE doc_id % 10 <> 0 GROUP BY b
        |), nt AS (SELECT coalesce(sum(ct), 0) AS n FROM tgt),
        |nr AS (SELECT coalesce(sum(cr), 0) AS n FROM rawb),
        |docb AS (
        |  SELECT doc_id, b, count(*) AS cnt FROM gb WHERE doc_id % 10 <> 0
        |  GROUP BY doc_id, b
        |), w AS (
        |  SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS n_grams,
        |    CAST(floor(sum(d.cnt *
        |      (ln((coalesce(t.ct, 0) + 0.5) / ((SELECT n FROM nt) + 0.5 * 4096))
        |       - ln((r.cr + 0.5) / ((SELECT n FROM nr) + 0.5 * 4096)))) * 10000)
        |      AS BIGINT) AS logw_q
        |  FROM docb d LEFT JOIN tgt t USING (b) JOIN rawb r USING (b)
        |  GROUP BY d.doc_id
        |), keyed AS (
        |  SELECT doc_id, n_grams, logw_q,
        |    CAST(floor((logw_q / 10000.0 -
        |      ln(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0))) * 10000) AS BIGINT) AS key_q
        |  FROM w)
        |SELECT doc_id, n_grams, logw_q, key_q FROM keyed
        |ORDER BY key_q DESC, doc_id LIMIT 64""".stripMargin,

    // capstone replay: the four stages chained — nfc_normalize, integer
    // Gopher gate, integer-exact classifier threshold, then the DSIR
    // selector whose raw model is built from the surviving pool
    // same id arithmetic, aggregated per status through the SQL relation
    "q122_rows_sql" ->
      """WITH evens AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    (SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |al AS (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rid) AS BIGINT) AS id_sum,
        |  CAST(min(rid) AS BIGINT) AS id_min,
        |  CAST(max(rid) AS BIGINT) AS id_max
        |FROM al GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // evens appended at snapshot 2, odds at 3, compact at 4 preserves:
    // last-updated is constant per parity, ids replay by rank
    "q129_rows_last_updated" ->
      """WITH evens AS (
        |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT o_orderkey,
        |    (SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |al AS (
        |  SELECT o_orderkey % 2 AS par, rid,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 3 END AS lu
        |  FROM (SELECT * FROM evens UNION ALL SELECT * FROM odds))
        |SELECT CAST(par AS BIGINT) AS par, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(lu) AS BIGINT) AS lu_min, CAST(max(lu) AS BIGINT) AS lu_max,
        |  CAST(sum(rid) AS BIGINT) AS id_sum
        |FROM al GROUP BY par ORDER BY par""".stripMargin,

    // the changelog's images replayed by the same rank arithmetic: the
    // %100==7 rows die with their ids, the %100==11 rows emit a delete
    // (original status) + insert (status 'X') pair SHARING one id
    "q124_changelog_rid" ->
      """WITH evens AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    (SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |al AS (SELECT * FROM evens UNION ALL SELECT * FROM odds),
        |img AS (
        |  SELECT o_orderkey, o_orderstatus, rid, 'delete' AS _change_type
        |  FROM al WHERE o_orderkey % 100 = 7
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, rid, 'delete' FROM al WHERE o_orderkey % 100 = 11
        |  UNION ALL
        |  SELECT o_orderkey, 'X', rid, 'insert' FROM al WHERE o_orderkey % 100 = 11)
        |SELECT o_orderkey, o_orderstatus, CAST(rid AS BIGINT) AS _row_id, _change_type
        |FROM img ORDER BY o_orderkey, _change_type""".stripMargin,

    // every row's id replayed by rank arithmetic ACROSS a SQL UPDATE:
    // the %100==11 post-images show status 'X' with their ORIGINAL ids
    "q133_sql_update_rid" ->
      """WITH evens AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    (SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |al AS (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        |SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 100 = 11 THEN 'X' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CAST(rid AS BIGINT) AS _row_id
        |FROM al ORDER BY o_orderkey""".stripMargin,

    // id = rank within its append + the prior append's high-water;
    // compact in the query must not change a single value
    "q121_row_lineage" ->
      """WITH evens AS (
        |  SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (SELECT count(*) AS c FROM evens),
        |odds AS (
        |  SELECT o_orderkey,
        |    (SELECT c FROM n) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderkey, CAST(rid AS BIGINT) AS _row_id
        |FROM (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        |ORDER BY o_orderkey""".stripMargin,

    // the pruned brand-prefix scan must equal the full-table replay
    "q126_truncate_partitioning" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(p_retailprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM part
        |WHERE p_brand LIKE 'Brand#2%'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the compacted window's rows must be byte-for-byte the raw rows —
    // the scoped rewrite moved bytes, never values
    "q132_compact_where" ->
      """SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-02-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-05-01 00:00:00'
        |GROUP BY mon ORDER BY mon""".stripMargin,

    // the pruned month-window scan must equal the full-table replay
    "q125_month_partitioning" ->
      """SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY mon ORDER BY mon""".stripMargin,

    // the pruned day-window scan must equal the full-table replay
    "q120_hidden_partitioning" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the variant round-trip must equal direct column arithmetic
    "q117_variant_shred" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
        |  CAST(sum(event_id % 11) AS BIGINT) AS sum_a1,
        |  CAST(0 AS BIGINT) AS n_zz
        |FROM events WHERE event_id <= 2000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the window/stride/slice arithmetic replayed exactly, chunk text
    // compared verbatim
    "q130_rag_chunking" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, ts,
        |    1 + CAST(ceil(greatest(len(ts) - 32, 0) / 24.0) AS INT) AS nc
        |  FROM tok WHERE len(ts) > 0
        |), ix AS (
        |  SELECT doc_id, ts, unnest(range(0, nc)) AS ci FROM d
        |), ch AS (
        |  SELECT doc_id, ci AS chunk_idx, ts[ci*24 + 1 : ci*24 + 32] AS w FROM ix
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  array_to_string(w, ' ') AS chunk_text
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // both rankings replayed in full (the q118 BM25 pipeline at k=20 +
    // the q27 cosine ranking at k=20), then the integer-quantized RRF
    // fold — the fused ranking must match rank for rank
    "q128_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), post AS (
        |  SELECT doc_id, len(ts) AS dl, u.term AS term, count(*) AS tf
        |  FROM tok, unnest(ts) AS u(term) GROUP BY 1, 2, 3
        |), dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
        |        FROM (SELECT DISTINCT doc_id, dl FROM post)),
        |q AS (
        |  SELECT doc_id AS query_id,
        |    list_filter(regexp_split_to_array(lower(substr(text, 1, 48)), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < 5
        |), qterm AS (
        |  SELECT DISTINCT query_id, u.term FROM q, unnest(ts) AS u(term)
        |), scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    CAST(floor(sum(
        |      ln(1 + (t.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.5) /
        |      (p.tf + 1.5 * (0.25 + 0.75 * p.dl / t.avgdl))) * 10000) AS BIGINT) AS score_q
        |  FROM qterm qt JOIN dfreq d USING (term) JOIN post p USING (term), tot t
        |  GROUP BY 1, 2
        |), lex AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, doc_id) AS rank
        |  FROM scored
        |), qv AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |sem AS (
        |  SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY qv.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding, qv.embedding) DESC, e.vec_id) AS rank
        |  FROM embeddings e, qv WHERE e.vec_id <> qv.vec_id
        |), uni AS (
        |  SELECT query_id, doc_id, rank FROM lex WHERE rank <= 20
        |  UNION ALL
        |  SELECT query_id, doc_id, rank FROM sem WHERE rank <= 20
        |), fused AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf_q
        |  FROM uni GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, rrf_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_q DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT query_id, doc_id, rrf_q, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q118_bm25_retrieval" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), post AS (
        |  SELECT doc_id, len(ts) AS dl, u.term AS term, count(*) AS tf
        |  FROM tok, unnest(ts) AS u(term) GROUP BY 1, 2, 3
        |), dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
        |        FROM (SELECT DISTINCT doc_id, dl FROM post)),
        |q AS (
        |  SELECT doc_id AS query_id,
        |    list_filter(regexp_split_to_array(lower(substr(text, 1, 48)), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < 5
        |), qterm AS (
        |  SELECT DISTINCT query_id, u.term FROM q, unnest(ts) AS u(term)
        |), scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    CAST(floor(sum(
        |      ln(1 + (t.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.5) /
        |      (p.tf + 1.5 * (0.25 + 0.75 * p.dl / t.avgdl))) * 10000) AS BIGINT) AS score_q
        |  FROM qterm qt JOIN dfreq d USING (term) JOIN post p USING (term), tot t
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, score_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, score_q, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q119_tfidf_terms" ->
      """WITH terms AS (
        |  SELECT source AS "group", u.term AS term, count(*) AS tf
        |  FROM (SELECT source,
        |          list_filter(regexp_split_to_array(lower(text), '\s+'),
        |            t -> t <> '') AS ts
        |        FROM documents), unnest(ts) AS u(term)
        |  GROUP BY 1, 2
        |), gf AS (SELECT term, count(*) AS gf FROM terms GROUP BY 1),
        |ng AS (SELECT count(DISTINCT "group") AS n_groups FROM terms),
        |scored AS (
        |  SELECT t."group", t.term, t.tf,
        |    CAST(floor(t.tf * ln(CAST(n.n_groups AS DOUBLE) / g.gf) * 10000)
        |      AS BIGINT) AS tfidf_q
        |  FROM terms t JOIN gf g USING (term), ng n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY "group"
        |    ORDER BY tfidf_q DESC, term) AS rank FROM scored)
        |SELECT "group", term, CAST(tf AS BIGINT) AS tf, tfidf_q,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY "group", rank""".stripMargin,

    // the merged MV must equal the whole-table aggregation
    "q116_mv_agg_incremental" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // post-churn aggregate replayed from scratch: %10==3 rows retracted,
    // %10==4 rows' cents updated to 0 — every value must equal the
    // partial-merged view exactly
    "q127_mv_agg_retract" ->
      """WITH rem AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 5 THEN 0
        |         ELSE CAST(FLOOR(o_totalprice*100) AS BIGINT) END AS cents
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 10 <> 3
        |)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(FLOOR(avg(cents)) AS BIGINT) AS avg_floor
        |FROM rem GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the evolved state replayed from the raw rows: evens predate the
    // column (initial default 'emea'), odds carry apac-or-null explicitly
    "q138_column_defaults" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice*100) AS BIGINT) AS c,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'emea'
        |         WHEN o_orderkey % 4 = 1 THEN 'apac' ELSE NULL END AS region
        |  FROM orders)
        |SELECT coalesce(region, 'none') AS region,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // the three-clause reconciliation replayed relationally: matched
    // keys take the doubled source cents, source-only keys insert,
    // target-only keys die on %5 or restamp status 'Z'
    "q136_merge_not_matched_by_source" ->
      """WITH t0 AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    2 * CAST(FLOOR(o_totalprice*100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |fin AS (
        |  SELECT t0.k, t0.st, src.c FROM t0 JOIN src ON t0.k = src.k
        |  UNION ALL
        |  SELECT src.k, src.st, src.c FROM src LEFT JOIN t0 ON src.k = t0.k
        |  WHERE t0.k IS NULL
        |  UNION ALL
        |  SELECT t0.k, 'Z', t0.c FROM t0 LEFT JOIN src ON t0.k = src.k
        |  WHERE src.k IS NULL AND t0.k % 5 <> 0
        |)
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY st ORDER BY st""".stripMargin,

    // the incrementally-merged rollup must equal the from-scratch join
    // aggregate over exactly the appended unions
    "q137_mv_join_agg" ->
      """SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(max(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_cents
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey % 3 IN (0, 1)
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // the incrementally-maintained join state must equal the from-scratch
    // join over exactly the appended unions
    "q135_mv_join_incremental" ->
      """SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey % 3 IN (0, 1)
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // post-churn distinct aggregates replayed from scratch over exactly
    // the surviving + appended rows: the sidecar-merged counts must
    // equal the raw distinct state
    "q139_mv_distinct_retract" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_custkey,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders
        |), state AS (
        |  SELECT * FROM base
        |  WHERE (o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0)
        |     OR (o_orderkey % 3 = 1 AND o_orderkey % 7 = 0)
        |)
        |SELECT o_orderstatus,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS cust_d,
        |  CAST(sum(DISTINCT cents) AS BIGINT) AS sum_d,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM state GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the MV-rewritten aggregate replayed from the raw surviving rows:
    // the rollup-from-partials answer must equal the from-scratch one
    // exactly (integer cents keep every sum/avg bit-exact cross-engine)
    "q140_mv_autorewrite" ->
      """WITH state AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |)
        |SELECT o_orderstatus,
        |  CAST(sum(cents) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(avg(cents) AS DOUBLE) AS ac,
        |  CAST(min(cents) AS BIGINT) AS mn,
        |  CAST(max(cents) AS BIGINT) AS mx,
        |  CAST(count(cents) AS BIGINT) AS nc
        |FROM state WHERE o_orderpriority <> '3-MEDIUM'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the join-MV-navigated aggregate replayed as the raw fact-dim join:
    // the rollup-from-backing answer must equal the from-scratch join
    "q141_mv_join_navigate" ->
      """SELECT c.c_mktsegment,
        |  CAST(sum(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(avg(CAST(FLOOR(o.o_totalprice*100) AS BIGINT)) AS DOUBLE) AS ac
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus <> 'P'
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    // post-churn fact-dim rollup replayed from the raw SURVIVING join:
    // the bilinear-retracted backing must equal the from-scratch join
    "q142_mv_join_retract" ->
      """WITH f AS (
        |  SELECT o_custkey, o_orderstatus,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 2
        |), d AS (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 4
        |)
        |SELECT d.c_mktsegment, f.o_orderstatus,
        |  CAST(sum(f.cents) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(avg(f.cents) AS DOUBLE) AS ac
        |FROM f JOIN d ON f.o_custkey = d.c_custkey
        |GROUP BY d.c_mktsegment, f.o_orderstatus
        |ORDER BY d.c_mktsegment, f.o_orderstatus""".stripMargin,

    // the union MV replayed from raw: arm a = %3∈{0} ∪ (%3=2 ∧ even)
    // keys filtered cents>10000; arm b = %3∈{1} ∪ (%3=2 ∧ odd) keys
    // filtered status<>'P'
    "q144_mv_union" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders
        |), a AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 3 = 0 OR (o_orderkey % 3 = 2 AND o_orderkey % 2 = 0)
        |), b AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 3 = 1 OR (o_orderkey % 3 = 2 AND o_orderkey % 2 = 1)
        |)
        |SELECT o_orderkey, o_orderstatus, cents, 'a' AS src FROM a
        |WHERE cents > 10000
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, cents, 'b' FROM b
        |WHERE o_orderstatus <> 'P'
        |ORDER BY src, o_orderkey""".stripMargin,

    // the union-agg MV replayed from raw after the append+delete churn:
    // arm a = even keys surviving %10<>6, filtered cents>5000; arm b =
    // all odd keys (the %3 batch arrived in-range)
    "q145_mv_union_agg" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders
        |), u AS (
        |  SELECT o_orderstatus, cents FROM base
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 6 AND cents > 5000
        |  UNION ALL
        |  SELECT o_orderstatus, cents FROM base WHERE o_orderkey % 2 = 1
        |)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sc, CAST(max(cents) AS BIGINT) AS mx
        |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the surviving distinct tuples replayed from raw: all P rows and
    // the even-key F rows died; a tuple lives iff a copy survived
    "q147_mv_select_distinct_retract" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority,
        |  CAST(o_custkey % 50 AS BIGINT) AS bucket
        |FROM orders
        |WHERE NOT (o_orderstatus = 'P'
        |  OR (o_orderstatus = 'F' AND o_orderkey % 2 = 0))
        |ORDER BY o_orderstatus, o_orderpriority, bucket""".stripMargin,

    // full persistent-index replay: train on the initial (even-id) slice
    // — sample ids %6==0, both Lloyd iterations on the exact integer grid
    // — then assign the CHURNED corpus (the %10 deletes hit only even
    // ids, so current = ids %10<>0) to those frozen centroids, probe,
    // and re-rank. Identical arithmetic to the q50 replay; only the
    // training slice and the corpus differ.
    "q148_vector_index" ->
      s"""WITH iv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding, x ->
         |      floor((least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) + 2.0) * 1048576.0)) AS q
         |  FROM embeddings),
         |samp AS (SELECT vec_id, q FROM iv WHERE vec_id % 6 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT 8)),
         |${ivfIterCtes(1, "c0", 64)},
         |${ivfIterCtes(2, "c1", 64)},
         |cur AS (SELECT * FROM iv WHERE vec_id % 10 <> 0),
         |cells AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM cur i, c2 c) WHERE rn = 1),
         |probes AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM iv i, c2 c WHERE i.vec_id < 5) WHERE rn <= 3),
         |cand AS (SELECT p.vec_id AS query_id, ce.vec_id AS neighbor_id
         |         FROM probes p JOIN cells ce ON p.cid = ce.cid
         |         WHERE ce.vec_id <> p.vec_id),
         |sims AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_inner_product(cv.v, qv.v) /
         |        (sqrt(list_inner_product(cv.v, cv.v)) * sqrt(list_inner_product(qv.v, qv.v))) DESC,
         |      neighbor_id) AS rank
         |  FROM cand JOIN cur cv ON cv.vec_id = neighbor_id
         |            JOIN iv qv ON qv.vec_id = query_id)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
         |FROM sims WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // q148's training/assignment replay, then the exact pairwise cosine
    // within each frozen cell over the churned corpus
    "q161_index_neardup" ->
      s"""WITH iv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding, x ->
         |      floor((least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) + 2.0) * 1048576.0)) AS q
         |  FROM embeddings),
         |samp AS (SELECT vec_id, q FROM iv WHERE vec_id % 6 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT 8)),
         |${ivfIterCtes(1, "c0", 64)},
         |${ivfIterCtes(2, "c1", 64)},
         |cur AS (SELECT * FROM iv WHERE vec_id % 10 <> 0),
         |cells AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM cur i, c2 c) WHERE rn = 1)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |JOIN cur va ON va.vec_id = a.vec_id
         |JOIN cur vb ON vb.vec_id = b.vec_id
         |WHERE list_inner_product(va.v, vb.v) /
         |  (sqrt(list_inner_product(va.v, va.v)) * sqrt(list_inner_product(vb.v, vb.v)))
         |  >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    // the per-language heavy-hitter set from a plain grouped GROUP BY
    "q157_heavy_hitters_grouped" ->
      """WITH toks AS (
        |  SELECT lang AS grp, unnest(string_split(text, ' ')) AS item FROM documents),
        |tot AS (SELECT grp, count(*) AS n FROM toks GROUP BY grp),
        |c AS (SELECT grp, item, count(*) AS cnt FROM toks GROUP BY grp, item)
        |SELECT c.grp, item, CAST(cnt AS BIGINT) AS cnt
        |FROM c JOIN tot USING (grp) WHERE cnt * 30 > n
        |ORDER BY grp, cnt DESC, item""".stripMargin,

    // the true distance over every id-ordered pair of the derived keys
    "q162_fuzzy_join" ->
      """WITH s AS (
        |  SELECT doc_id, 'tok' || CAST(doc_id % 120 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 1 THEN 'x'
        |         WHEN doc_id % 3 = 2 THEN 'qz' ELSE '' END AS s
        |  FROM documents WHERE doc_id < 2000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // the raw LEFT JOIN rollup over the churn survivors (the %7==3 MoR
    // delete as a filter; the dim keeps only c_custkey % 3 <> 0)
    "q163_mv_outer_navigate" ->
      """WITH f AS (
        |  SELECT o_custkey, o_orderstatus,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 3),
        |d AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0)
        |SELECT d.c_mktsegment, CAST(sum(f.cents) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM f LEFT JOIN d ON f.o_custkey = d.c_custkey
        |WHERE f.o_orderstatus = 'F'
        |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin,

    // only transaction 1's state: even-key fact rows joined to the dims
    "q164_txn_atomic" ->
      """WITH f AS (
        |  SELECT o_custkey, CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT d.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(f.cents) AS BIGINT) AS sc
        |FROM f JOIN customer d ON f.o_custkey = d.c_custkey
        |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin,

    // the raw FULL JOIN over the final feed states (A minus the %7==2
    // MoR delete; B complete after the second append)
    "q165_mv_full_outer" ->
      """WITH a AS (
        |  SELECT o_orderkey AS okey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 2),
        |b AS (
        |  SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 4 <> 0)
        |SELECT a.o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(b.qty) AS BIGINT) AS sq
        |FROM a FULL JOIN b ON a.okey = b.okey
        |GROUP BY a.o_orderstatus ORDER BY st""".stripMargin,

    // full BM25 replay over the surviving corpus (evens %10==0 died —
    // every %10==0 id is even — then every odd ingested): the q118
    // pipeline with the churn applied as a corpus filter. Queries come
    // from the RAW table (doc_id < 5), independent of the churn.
    "q166_text_index" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |), tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM corpus
        |), post AS (
        |  SELECT doc_id, len(ts) AS dl, u.term AS term, count(*) AS tf
        |  FROM tok, unnest(ts) AS u(term) GROUP BY 1, 2, 3
        |), dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
        |        FROM (SELECT DISTINCT doc_id, dl FROM post)),
        |q AS (
        |  SELECT doc_id AS query_id,
        |    list_filter(regexp_split_to_array(lower(substr(text, 1, 48)), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < 5
        |), qterm AS (
        |  SELECT DISTINCT query_id, u.term FROM q, unnest(ts) AS u(term)
        |), scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    CAST(floor(sum(
        |      ln(1 + (t.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.5) /
        |      (p.tf + 1.5 * (0.25 + 0.75 * p.dl / t.avgdl))) * 10000) AS BIGINT) AS score_q
        |  FROM qterm qt JOIN dfreq d USING (term) JOIN post p USING (term), tot t
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, score_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_q DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, score_q, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the raw join DISTINCT over the surviving fact rows: %7==2 keys
    // deleted from the initial (non-%3) slice, then every %3==0 row
    // appended AFTER the delete (those survive — order matters)
    "q167_mv_join_distinct" ->
      """WITH f AS (
        |  SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_orderkey % 3 = 0 OR l_orderkey % 7 <> 2)
        |SELECT d.o_orderstatus AS st,
        |  CAST(count(DISTINCT f.qty) AS BIGINT) AS dq,
        |  CAST(sum(DISTINCT f.qty) AS BIGINT) AS sq,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM f JOIN orders d ON f.okey = d.o_orderkey
        |GROUP BY d.o_orderstatus ORDER BY st""".stripMargin,

    // the raw LEFT chain over the survivors: fact minus the %7==3 MoR
    // delete; orders dim = the non-%5 slice plus the even %5 keys
    // appended by the churn; part dim = the non-%3 slice
    "q168_mv_outer_chain" ->
      """WITH f AS (
        |  SELECT l_orderkey AS okey, l_partkey AS pkey,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 7 <> 3),
        |d1 AS (
        |  SELECT o_orderkey AS okey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 5 <> 0 OR o_orderkey % 2 = 0),
        |d2 AS (
        |  SELECT p_partkey AS pkey, p_brand FROM part WHERE p_partkey % 3 <> 0)
        |SELECT d1.o_orderstatus AS st, d2.p_brand AS brand,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(f.qty) AS BIGINT) AS sq
        |FROM f LEFT JOIN d1 ON f.okey = d1.okey
        |LEFT JOIN d2 ON f.pkey = d2.pkey
        |GROUP BY d1.o_orderstatus, d2.p_brand
        |ORDER BY st NULLS FIRST, brand NULLS FIRST""".stripMargin,

    // the full hybrid replay: the q166 BM25 pipeline and the q148 IVF
    // pipeline over the SAME churned corpus (survivors = %10 <> 0),
    // fused by the integer-quantized RRF fold (the q128 discipline)
    "q169_hybrid_index" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
         |), tok AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ts
         |  FROM corpus
         |), post AS (
         |  SELECT doc_id, len(ts) AS dl, u.term AS term, count(*) AS tf
         |  FROM tok, unnest(ts) AS u(term) GROUP BY 1, 2, 3
         |), dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
         |tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
         |        FROM (SELECT DISTINCT doc_id, dl FROM post)),
         |qq AS (
         |  SELECT doc_id AS query_id,
         |    list_filter(regexp_split_to_array(lower(substr(text, 1, 48)), '\\s+'),
         |      t -> t <> '') AS ts
         |  FROM documents WHERE doc_id < 5
         |), qterm AS (
         |  SELECT DISTINCT query_id, u.term FROM qq, unnest(ts) AS u(term)
         |), bscored AS (
         |  SELECT qt.query_id, p.doc_id,
         |    CAST(floor(sum(
         |      ln(1 + (t.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.5) /
         |      (p.tf + 1.5 * (0.25 + 0.75 * p.dl / t.avgdl))) * 10000) AS BIGINT) AS score_q
         |  FROM qterm qt JOIN dfreq d USING (term) JOIN post p USING (term), tot t
         |  GROUP BY 1, 2
         |), lex AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_q DESC, doc_id) AS rank
         |  FROM bscored
         |), iv AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_transform(embedding, x ->
         |      floor((least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) + 2.0) * 1048576.0)) AS q
         |  FROM embeddings),
         |samp AS (SELECT vec_id, q FROM iv WHERE vec_id % 6 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, q AS c
         |       FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT 8)),
         |${ivfIterCtes(1, "c0", 64)},
         |${ivfIterCtes(2, "c1", 64)},
         |cur AS (SELECT * FROM iv WHERE vec_id % 10 <> 0),
         |cells AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM cur i, c2 c) WHERE rn = 1),
         |probes AS (SELECT vec_id, cid FROM (
         |    SELECT i.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |        list_inner_product(i.q, i.q) + list_inner_product(c.c, c.c)
         |        - 2.0*list_inner_product(i.q, c.c), c.cid) AS rn
         |    FROM iv i, c2 c WHERE i.vec_id < 5) WHERE rn <= 3),
         |cand AS (SELECT p.vec_id AS query_id, ce.vec_id AS doc_id
         |         FROM probes p JOIN cells ce ON p.cid = ce.cid
         |         WHERE ce.vec_id <> p.vec_id),
         |sem AS (SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_inner_product(cv.v, qv.v) /
         |        (sqrt(list_inner_product(cv.v, cv.v)) * sqrt(list_inner_product(qv.v, qv.v))) DESC,
         |      doc_id) AS rank
         |  FROM cand JOIN cur cv ON cv.vec_id = doc_id
         |            JOIN iv qv ON qv.vec_id = query_id),
         |uni AS (
         |  SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10
         |  UNION ALL
         |  SELECT query_id, doc_id, rank FROM sem WHERE rank <= 10
         |), fused AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf_q
         |  FROM uni GROUP BY 1, 2
         |), ranked AS (
         |  SELECT query_id, doc_id, rrf_q,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_q DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT query_id, doc_id, rrf_q, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the window + rank filter replayed raw over the survivors: the
    // value-threshold delete hits the initial (non-%3) slice only; the
    // %3==0 rows appended AFTER the delete survive, high cents included
    "q170_mv_topk" ->
      """WITH base AS (
        |  SELECT l_returnflag AS flag, l_orderkey AS okey,
        |    CAST(l_linenumber AS BIGINT) AS line,
        |    CAST(floor(l_extendedprice*100) AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE l_orderkey % 3 = 0 OR floor(l_extendedprice*100) <= 9000000
        |), ranked AS (
        |  SELECT flag, okey, line, cents,
        |    row_number() OVER (PARTITION BY flag
        |      ORDER BY cents DESC, okey, line) AS rn
        |  FROM base)
        |SELECT flag, okey, line, cents, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 5 ORDER BY flag, rn""".stripMargin,

    // batch-vs-corpus near-dups as plain all-pairs Jaccard: corpus =
    // evens surviving the %10 MoR delete plus the %3 odds appended by
    // the churn; batch = the remaining odds. Total candidate recall at
    // 9/10 (32 bands x 2 rows) lets the oracle skip the banding.
    "q171_dedup_index" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |), corpus AS (
        |  SELECT * FROM sh WHERE (doc_id % 2 = 0 AND doc_id % 10 <> 0)
        |     OR (doc_id % 2 = 1 AND doc_id % 3 = 0)
        |), batch AS (
        |  SELECT * FROM sh WHERE doc_id % 2 = 1 AND doc_id % 3 <> 0
        |)
        |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
        |  CAST(len(list_intersect(b.shingles, c.shingles)) AS BIGINT) AS inter_sz,
        |  CAST(len(b.shingles) + len(c.shingles) - len(list_intersect(b.shingles, c.shingles)) AS BIGINT) AS union_sz
        |FROM batch b, corpus c
        |WHERE len(list_intersect(b.shingles, c.shingles)) * 10 >=
        |      9 * (len(b.shingles) + len(c.shingles) - len(list_intersect(b.shingles, c.shingles)))
        |ORDER BY batch_id, corpus_id""".stripMargin,

    // the gate replayed raw: evens, plus every odd doc with NO even
    // near-dup at 9/10 true Jaccard (candidate recall is total at that
    // threshold — the q171 banding argument)
    "q175_ingest_dedup_gate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |), evens AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
        |odds AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
        |kept_odds AS (
        |  SELECT o.doc_id FROM odds o WHERE NOT EXISTS (
        |    SELECT 1 FROM evens e
        |    WHERE len(list_intersect(o.shingles, e.shingles)) * 10 >=
        |      9 * (len(o.shingles) + len(e.shingles) - len(list_intersect(o.shingles, e.shingles)))
        |  ))
        |SELECT doc_id FROM evens
        |UNION ALL SELECT doc_id FROM kept_odds
        |ORDER BY doc_id""".stripMargin,

    // any 1234-row prefix of the table counts to 1234
    "q176_limit_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM lineitem LIMIT 1234) t""".stripMargin,

    // the unique sort key makes the top-25 deterministic
    "q177_topn_pushdown" ->
      """SELECT l_orderkey * 10 + l_linenumber AS uid,
        |  CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |FROM lineitem ORDER BY uid DESC LIMIT 25""".stripMargin,

    // uid is unique, so the composite top-25 is deterministic
    "q184_topn_composite" ->
      """SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS day,
        |  l_orderkey * 10 + l_linenumber AS uid
        |FROM lineitem ORDER BY day DESC, uid DESC LIMIT 25""".stripMargin,

    // the hash-distributed write changed only the file layout
    "q178_write_distribution" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    // survivors of the carried partitions (O minus its MoR-deleted slice,
    // all of P) plus the F restatement and the new X partition
    "q179_dynamic_overwrite" ->
      """WITH o AS (SELECT o_orderstatus AS status, o_orderkey AS okey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |survivors AS (
        |  SELECT * FROM o
        |  WHERE status <> 'F' AND NOT (status = 'O' AND okey % 10 = 0)),
        |restated AS (
        |  SELECT status, okey, cents * 2 AS cents FROM o
        |  WHERE status = 'F' AND okey % 3 = 0
        |  UNION ALL
        |  SELECT 'X' AS status, okey, cents FROM o WHERE okey % 97 = 0),
        |final AS (SELECT * FROM survivors UNION ALL SELECT * FROM restated)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM final GROUP BY 1 ORDER BY status""".stripMargin,

    // both divergent end states replayed raw: the clone keeps the MoR
    // survivors plus its own append; the source loses its O rows
    "q180_clone_table" ->
      """WITH o AS (SELECT o_orderkey AS okey, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |base AS (SELECT * FROM o WHERE okey % 2 = 0 AND okey % 10 <> 0),
        |src AS (SELECT 'src' AS side, cents FROM base WHERE status <> 'O'),
        |dst AS (SELECT 'dst' AS side, cents FROM base
        |  UNION ALL
        |  SELECT 'dst' AS side, cents FROM o WHERE okey % 2 = 1 AND okey % 7 = 0)
        |SELECT side, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM (SELECT * FROM src UNION ALL SELECT * FROM dst) u
        |GROUP BY 1 ORDER BY side""".stripMargin,

    // the three ingest shapes replayed with explicit NULLs: batch 1 has
    // no cents column yet, batch 3 arrived without status
    "q181_schema_merge" ->
      """WITH o AS (SELECT o_orderkey AS okey, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (
        |  SELECT okey, status, CAST(NULL AS BIGINT) AS cents FROM o
        |  WHERE okey % 3 = 0
        |  UNION ALL SELECT okey, status, cents FROM o WHERE okey % 3 = 1
        |  UNION ALL SELECT okey, CAST(NULL AS VARCHAR) AS status, cents FROM o
        |  WHERE okey % 3 = 2)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(cents) AS BIGINT) AS nc,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM f GROUP BY 1 ORDER BY status""".stripMargin,

    // the restatement replayed raw: day 2024-01-10 replaced by its even
    // half with shifted uids, everything else carried; then the rollup
    "q183_restatement_capstone" ->
      """WITH e AS (SELECT event_id AS eid, ts, user_id AS uid,
        |    CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        |f AS (
        |  SELECT uid, vc FROM e
        |  WHERE NOT (ts >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-11 00:00:00')
        |  UNION ALL
        |  SELECT uid + 1000000 AS uid, vc FROM e
        |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-11 00:00:00' AND eid % 2 = 0)
        |SELECT uid, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vc) AS BIGINT) AS sv
        |FROM f GROUP BY uid ORDER BY uid""".stripMargin,

    // survivors of the untouched partitions (O minus its MoR slice, all
    // of F) plus the P restatement (even keys, cents + 1)
    "q182_overwrite_where" ->
      """WITH o AS (SELECT o_orderstatus AS status, o_orderkey AS okey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (
        |  SELECT status, cents FROM o
        |  WHERE status <> 'P' AND NOT (status = 'O' AND okey % 10 = 0)
        |  UNION ALL
        |  SELECT status, cents + 1 AS cents FROM o
        |  WHERE status = 'P' AND okey % 2 = 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM f GROUP BY 1 ORDER BY status""".stripMargin,

    // the two appends cover every orders row exactly once
    "q172_meta_partition_count" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    // same coverage; bonus replicates the fixture's nullable projection
    "q173_meta_partition_stats" ->
      """WITH t AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderkey * 2 END AS bonus
        |  FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(bonus) AS BIGINT) AS nb,
        |  min(cents) AS mn, max(cents) AS mx, CAST(max(bonus) AS BIGINT) AS mb
        |FROM t WHERE status <> 'P' GROUP BY status ORDER BY status""".stripMargin,

    // the two appends cover every events row exactly once
    "q174_meta_daily_counts" ->
      """SELECT CAST(ts AS DATE) AS d,
        |  CAST(count(*) AS BIGINT) AS n, CAST(count(ts) AS BIGINT) AS nt
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1 ORDER BY d""".stripMargin,

    // the merged survivors from raw: evens minus the positional %10==2
    // minus the eq-killed %7==0 EVENS, plus every %9==0 odd — including
    // the %7==0 odds appended AFTER the eq delete (the sequence rule)
    "q156_convert_eq_deletes" ->
      """WITH surv AS (
        |  SELECT o_orderstatus, CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE (o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2 AND o_orderkey % 7 <> 0)
        |     OR (o_orderkey % 2 = 1 AND o_orderkey % 9 = 0))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sc
        |FROM surv GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the 3-way star rollup replayed from the raw join over the
    // surviving fact rows (the %7==3 MoR delete applied as a filter)
    "q158_mv_star_navigate" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(FLOOR(l_extendedprice*100) AS BIGINT) AS cents
        |  FROM lineitem WHERE l_orderkey % 7 <> 3)
        |SELECT p.p_brand,
        |  CAST(sum(f.cents) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM f JOIN orders o ON f.l_orderkey = o.o_orderkey
        |JOIN part p ON f.l_partkey = p.p_partkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,

    // the DISTINCT rollup replayed raw over the surviving rows: the
    // %3<>1 initial slice minus the %10==6 deletes, plus every %3==1
    // row appended after
    "q159_mv_gs_distinct" ->
      """WITH surv AS (
        |  SELECT o_orderstatus, o_orderpriority, o_custkey FROM orders
        |  WHERE (o_orderkey % 3 <> 1 AND o_orderkey % 10 <> 6)
        |     OR o_orderkey % 3 = 1)
        |SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS cd,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2
        |FROM surv GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus, o_orderpriority""".stripMargin,

    // the whole shard build replayed in one CTE chain: gopher conditions
    // (q111), min-id content dedup, the quantized-sqrt temperature mix
    // (q153), md5 fractional copies expanded via range(), the q71 chunk
    // arithmetic over the copy-unique order key, and the shard residue
    "q155_shard_build" ->
      """WITH toks0 AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT) AS swl,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS aw,
        |    CAST(len(list_filter(ts, t -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], lower(t)))) AS BIGINT) AS sw,
        |    CAST(len(regexp_extract_all(text, '#')) +
        |      len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS sy
        |  FROM toks0),
        |kept AS (
        |  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN m USING (doc_id)
        |  WHERE n_words >= 8 AND n_words <= 100000
        |    AND swl >= n_words * 3 AND swl <= n_words * 10
        |    AND aw * 5 >= n_words * 4 AND sw >= 2 AND sy * 10 < n_words),
        |reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
        |uniq AS (SELECT k.* FROM kept k JOIN reps USING (doc_id)),
        |cnt AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
        |    floor(sqrt(CAST(count(*) AS DOUBLE)) * 1048576.0) AS s
        |  FROM uniq GROUP BY lang),
        |tot AS (SELECT sum(n) AS nn, sum(s) AS ss FROM cnt),
        |w AS (SELECT lang, (nn / n) * (s / ss) AS w FROM cnt, tot),
        |cop AS (SELECT u.lang, u.doc_id, u.text,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN CAST(concat('0x', substr(md5(coalesce(CAST(u.doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT)
        |             < CAST(floor((w - floor(w)) * 4294967296.0) AS BIGINT)
        |           THEN 1 ELSE 0 END AS copies
        |  FROM uniq u JOIN w USING (lang)),
        |ex AS (SELECT lang, doc_id, text, u2.ci AS copy_idx
        |  FROM cop, unnest(range(copies)) AS u2(ci) WHERE copies > 0),
        |tk AS (SELECT lang, doc_id, doc_id * 100 + copy_idx AS ord,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS toks
        |  FROM ex),
        |c AS (SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS tok_start
        |  FROM tk),
        |p AS (SELECT lang, doc_id, toks, tok_start // 2048 AS first_chunk,
        |    CASE WHEN toks = 0 THEN 0
        |         ELSE (tok_start + toks - 1) // 2048 - tok_start // 2048 + 1 END AS n_chunks
        |  FROM c)
        |SELECT lang, CAST(first_chunk % 4 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(toks) AS BIGINT) AS tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        |FROM p GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,

    // the residual-filtered rollup replayed from surviving raw rows
    "q154_mv_partitioned" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sc
        |FROM orders WHERE o_orderkey % 10 <> 7 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the full temperature-resample replay: per-language counts, the
    // quantized sqrt grid, the fixed-shape weight (N/n)*(s/S), and the
    // md5 fractional-copy rule — identical IEEE ops in both engines
    "q153_temperature_sampling" ->
      """WITH cnt AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
        |    floor(sqrt(CAST(count(*) AS DOUBLE)) * 1048576.0) AS s
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n) AS nn, sum(s) AS ss FROM cnt),
        |w AS (SELECT lang, (nn / n) * (s / ss) AS w FROM cnt, tot),
        |d AS (SELECT dd.lang, doc_id, n_chars, w,
        |    CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT) AS hp
        |  FROM documents dd JOIN w USING (lang)),
        |c AS (SELECT lang, doc_id, n_chars,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN hp < CAST(floor((w - floor(w)) * 4294967296.0) AS BIGINT)
        |           THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_copies,
        |  CAST(count(CASE WHEN copies > 0 THEN 1 END) AS BIGINT) AS n_docs,
        |  CAST(sum(copies * n_chars) AS BIGINT) AS chars_out,
        |  CAST(max(copies) - 1 AS BIGINT) AS max_copy
        |FROM c WHERE copies > 0 GROUP BY lang ORDER BY lang""".stripMargin,

    // the ROLLUP replayed from raw survivors — every grouping level's
    // count/sum/avg/min plus the grouping flags (exact: all partial sums
    // of integer cents stay below 2^53, so Σ-of-partials equals the raw
    // aggregate bit-for-bit in either engine)
    "q152_mv_groupingsets" ->
      """WITH surv AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sc, avg(cents) AS ac,
        |  CAST(min(cents) AS BIGINT) AS mn,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2
        |FROM surv GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus, o_orderpriority""".stripMargin,

    // the exact heavy-hitter set from a plain GROUP BY: every token
    // strictly above a 1/50 frequency share, with its exact count
    "q151_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks, tot GROUP BY item, n HAVING count(*) * 50 > n
        |ORDER BY cnt DESC, item""".stripMargin,

    // the near-dup pair set from id arithmetic: the three renderings of
    // each group share one pixel grid (hash-identical by construction),
    // and no cross-group pattern may land within 2 bits — the oracle
    // fails on any missed in-group pair OR any spurious cross-group one
    "q150_phash_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b
        |  ON a.doc_id < b.doc_id AND a.doc_id // 3 = b.doc_id // 3
        |ORDER BY id_a, id_b""".stripMargin,

    // the continuously-maintained view replayed from raw: the %10 delete
    // hit only even keys (the table held the even half), then the odd
    // half appended — survivors are exactly the keys not divisible by 10
    "q149_mv_streaming" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sc
        |FROM orders WHERE o_orderkey % 10 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // post-churn min/max replayed from scratch: the global-max row and
    // the %10==4 batch are retracted; any group whose stored extremum
    // died must show the recomputed value exactly
    "q134_mv_minmax_retract" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 4 = 0
        |), surv AS (
        |  SELECT * FROM base
        |  WHERE cents <> (SELECT max(cents) FROM base)
        |    AND o_orderkey % 10 <> 4
        |)
        |SELECT o_orderstatus, CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM surv GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q115_curation_pipeline" ->
      """WITH docs AS (
        |  SELECT doc_id, nfc_normalize(text) AS text FROM documents
        |), toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM docs
        |), gop AS (
        |  SELECT doc_id, ts FROM toks
        |  WHERE len(ts) >= 8 AND len(ts) <= 100000
        |    AND coalesce(list_sum(list_transform(ts, t -> len(t))), 0) >= len(ts) * 3
        |    AND coalesce(list_sum(list_transform(ts, t -> len(t))), 0) <= len(ts) * 10
        |    AND len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(ts) * 4
        |    AND len(list_filter(ts, t -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], lower(t)))) >= 2
        |    AND (len(regexp_extract_all(text, '#')) +
        |         len(regexp_extract_all(text, '\.\.\.'))) * 10 < len(ts)
        |), grams AS (
        |  SELECT doc_id, u.w AS g FROM toks, unnest(ts) AS u(w)
        |  UNION ALL
        |  SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1]
        |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |), gb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
        |  FROM grams
        |), docb AS (
        |  SELECT doc_id, b, count(*) AS cnt FROM gb GROUP BY doc_id, b
        |), n AS (SELECT doc_id, sum(cnt) AS ng FROM docb GROUP BY doc_id),
        |quality AS (
        |  SELECT d.doc_id FROM docb d JOIN n USING (doc_id)
        |  JOIN gop USING (doc_id)
        |  GROUP BY d.doc_id, n.ng
        |  HAVING CAST(floor((CAST(sum(d.cnt * ((((d.b * 2654435761) % 1000) - 500)
        |    * 1000)) AS DOUBLE) / (n.ng * 1e6) + 0.25) * 10000) AS BIGINT) >= 2500
        |), pool AS (
        |  SELECT doc_id FROM quality WHERE doc_id % 10 <> 0
        |), tgt AS (
        |  SELECT b, count(*) AS ct FROM gb WHERE doc_id % 10 = 0 GROUP BY b
        |), rawb AS (
        |  SELECT g.b, count(*) AS cr FROM gb g JOIN pool USING (doc_id) GROUP BY g.b
        |), nt AS (SELECT coalesce(sum(ct), 0) AS n FROM tgt),
        |nr AS (SELECT coalesce(sum(cr), 0) AS n FROM rawb),
        |pdocb AS (SELECT d.* FROM docb d JOIN pool USING (doc_id)),
        |w AS (
        |  SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS n_grams,
        |    CAST(floor(sum(d.cnt *
        |      (ln((coalesce(t.ct, 0) + 0.5) / ((SELECT n FROM nt) + 0.5 * 4096))
        |       - ln((r.cr + 0.5) / ((SELECT n FROM nr) + 0.5 * 4096)))) * 10000)
        |      AS BIGINT) AS logw_q
        |  FROM pdocb d LEFT JOIN tgt t USING (b) JOIN rawb r USING (b)
        |  GROUP BY d.doc_id
        |), keyed AS (
        |  SELECT doc_id, n_grams, logw_q,
        |    CAST(floor((logw_q / 10000.0 -
        |      ln(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0))) * 10000) AS BIGINT) AS key_q
        |  FROM w)
        |SELECT doc_id, n_grams, logw_q, key_q FROM keyed
        |ORDER BY key_q DESC, doc_id LIMIT 32""".stripMargin,

    // MV replay: F-slice, price filter, consumer aggregation inline
    "q114_materialized_view" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // NFC replay: same decomposed construction via chr(), DuckDB's
    // nfc_normalize, same md5-of-utf8 digest
    "q113_nfc_normalize" ->
      """SELECT doc_id,
        |  CAST(length(n) AS BIGINT) AS n_chars_norm,
        |  md5(n) AS h
        |FROM (
        |  SELECT doc_id, nfc_normalize(
        |    'e' || chr(769) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'a' || chr(768) ELSE 'o' END) ||
        |    substr(text, 1, 24)) AS n
        |  FROM documents WHERE doc_id < 400)
        |ORDER BY doc_id""".stripMargin,

    // the nested views replayed inline: latest tpch.orders is the 'F'
    // slice of the raw table (same as q05)
    "q112_versioned_view" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_custkey HAVING count(*) >= 2
        |ORDER BY o_custkey""".stripMargin,

    // Gopher rules replay: same integer metrics, same cross-multiplied
    // thresholds
    "q111_gopher_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT)
        |      AS sum_word_len,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
        |      AS alpha_words,
        |    CAST(len(list_filter(ts, t -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], lower(t)))) AS BIGINT)
        |      AS stop_words,
        |    CAST(len(regexp_extract_all(text, '#')) +
        |      len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS symbols
        |  FROM toks)
        |SELECT doc_id, n_words, sum_word_len, alpha_words, stop_words, symbols,
        |  (n_words >= 8 AND n_words <= 100000 AND
        |   sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10 AND
        |   alpha_words * 5 >= n_words * 4 AND stop_words >= 2 AND
        |   symbols * 10 < n_words) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,

    // fastText-shape scoring replay: same buckets, x = cnt/n_grams,
    // w_b = ((b*2654435761) % 1000 - 500)/1000, bias 0.25
    "q109_quality_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < 2000
        |), grams AS (
        |  SELECT doc_id, u.w AS g FROM toks, unnest(ts) AS u(w)
        |  UNION ALL
        |  SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1]
        |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |), gb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
        |  FROM grams
        |), docb AS (
        |  SELECT doc_id, b, count(*) AS cnt FROM gb GROUP BY doc_id, b
        |), n AS (SELECT doc_id, sum(cnt) AS ng FROM docb GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(floor((CAST(sum(d.cnt * ((((d.b * 2654435761) % 1000) - 500) * 1000))
        |      AS DOUBLE) / (max(n.ng) * 1e6) + 0.25) * 10000)
        |    AS BIGINT) AS logit_q
        |FROM docb d JOIN n USING (doc_id)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // replays the audio generation arithmetic the cluster-side decode
    // must reproduce: per (doc, segment) amplitude a = 100+(id*31+s*17)%900,
    // peak = max_s a, argmax bin = lowest s attaining it
    "q106_audio_decode" ->
      """WITH gen AS (
        |  SELECT doc_id, r.s, 100 + (doc_id * 31 + r.s * 17) % 900 AS a
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d, range(0, 8) r(s)
        |), pk AS (SELECT doc_id, max(a) AS peak FROM gen GROUP BY doc_id),
        |am AS (
        |  SELECT g.doc_id, min(g.s) AS bin
        |  FROM gen g JOIN pk USING (doc_id) WHERE g.a = pk.peak GROUP BY g.doc_id)
        |SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(pk.peak) AS BIGINT) AS peak_sum,
        |  CAST(count(*) * 1000 AS BIGINT) AS frames_sum,
        |  CAST(count(*) * 125 AS BIGINT) AS ms_sum
        |FROM am JOIN pk USING (doc_id)
        |GROUP BY bin ORDER BY bin""".stripMargin,

    // the q104 scoring replay + per-source tertile assignment
    "q123_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), tr AS (SELECT ts FROM toks WHERE doc_id % 2 = 0),
        |uni AS (
        |  SELECT u.w AS w1, count(*) AS c1 FROM tr, unnest(ts) AS u(w) GROUP BY 1
        |), v AS (SELECT count(*) AS vv FROM uni),
        |bi AS (
        |  SELECT ts[u.i] AS w1, ts[u.i + 1] AS w2, count(*) AS c2
        |  FROM tr, unnest(generate_series(1, len(ts) - 1)) AS u(i) GROUP BY 1, 2
        |), sc AS (
        |  SELECT doc_id, ts[u.i] AS w1, ts[u.i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE doc_id % 2 = 1
        |), j AS (
        |  SELECT s.doc_id, coalesce(b.c2, 0) AS c2, coalesce(un.c1, 0) AS c1
        |  FROM sc s LEFT JOIN bi b USING (w1, w2) LEFT JOIN uni un USING (w1)),
        |scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(floor(sum(ln((c2 + 0.5) / (c1 + 0.5 * (SELECT vv FROM v)))) * 10000)
        |      AS BIGINT) AS logprob_q
        |  FROM j GROUP BY doc_id),
        |nrm AS (
        |  SELECT s.doc_id, d.source,
        |    CAST(floor(CAST(s.logprob_q AS DOUBLE) / s.n_bigrams) AS BIGINT) AS nq
        |  FROM scored s JOIN documents d USING (doc_id)
        |  WHERE s.n_bigrams > 0)
        |SELECT doc_id, source, nq,
        |  CAST(ntile(3) OVER (PARTITION BY source
        |    ORDER BY nq DESC, doc_id) AS BIGINT) AS bucket
        |FROM nrm ORDER BY doc_id""".stripMargin,

    "q104_bigram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), tr AS (SELECT ts FROM toks WHERE doc_id % 2 = 0),
        |uni AS (
        |  SELECT u.w AS w1, count(*) AS c1 FROM tr, unnest(ts) AS u(w) GROUP BY 1
        |), v AS (SELECT count(*) AS vv FROM uni),
        |bi AS (
        |  SELECT ts[u.i] AS w1, ts[u.i + 1] AS w2, count(*) AS c2
        |  FROM tr, unnest(generate_series(1, len(ts) - 1)) AS u(i) GROUP BY 1, 2
        |), sc AS (
        |  SELECT doc_id, ts[u.i] AS w1, ts[u.i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE doc_id % 2 = 1
        |), j AS (
        |  SELECT s.doc_id, coalesce(b.c2, 0) AS c2, coalesce(un.c1, 0) AS c1
        |  FROM sc s LEFT JOIN bi b USING (w1, w2) LEFT JOIN uni un USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams,
        |  CAST(floor(sum(ln((c2 + 0.5) / (c1 + 0.5 * (SELECT vv FROM v)))) * 10000)
        |    AS BIGINT) AS logprob_q
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the full streamed feed restated: inserts from both appends, the
    // %10-key eq delete's pre-images, and the composite-key delete's
    // pre-images (alive F rows with %7 keys not already %10-killed)
    "q99_changes_stream_eq" ->
      """WITH feed AS (
        |  SELECT 'insert' AS _change_type, o_orderstatus, o_orderkey AS k
        |  FROM orders
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_orderkey
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_orderkey
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'
        |    AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, o_orderkey + 4000000000
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT _change_type, o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM feed GROUP BY _change_type, o_orderstatus
        |ORDER BY _change_type, o_orderstatus""".stripMargin,

    // only the key-shifted post-compact F append survives the insert-side
    // diff: the compact's moved rows cancel, the %10 deletes are
    // pre-range retractions (changelog's job, not an append delta's)
    "q95_incremental_across_compact" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey + 4000000000) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the three delta commits restated: %10 keys dead, P totals doubled,
    // keys 1/2 zeroed by the merge, one fresh 'X' row inserted
    "q93_sql_delta_dml" ->
      """WITH alive AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |upd AS (SELECT * REPLACE (CASE WHEN o_orderstatus = 'P'
        |  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice) FROM alive),
        |merged AS (
        |  SELECT * REPLACE (CAST(0.0 AS DOUBLE) AS o_totalprice) FROM upd
        |  WHERE o_orderkey IN (1, 2)
        |  UNION ALL
        |  SELECT * FROM upd WHERE o_orderkey NOT IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(4000000001 AS BIGINT), CAST(0 AS BIGINT), 'X',
        |    CAST(123.0 AS DOUBLE), TIMESTAMP '2026-01-01 00:00:00', '0-NEW')
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q53_incremental_read" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders""".stripMargin,

    "q54_rollback" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM orders""".stripMargin,

    "q55_file_skipping" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q56_zorder_skip" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_custkey <= 100
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // recursive transitive closure over the SAME verified pair set q26
    // states; component rep = min reachable id (incl. self)
    "q57_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN rare r ON a.s = r.s JOIN inv b ON b.s = a.s
        |  WHERE a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE len(list_intersect(a.shingles, b.shingles)) * 2 >=
        |        1 * (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "q80_dedup_retention" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
        |  )) AS shingles FROM documents
        |),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN rare r ON a.s = r.s JOIN inv b ON b.s = a.s
        |  WHERE a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |  WHERE len(list_intersect(a.shingles, b.shingles)) * 2 >=
        |        1 * (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |losers AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING least(src, min(dst)) <> src)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents d WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q58_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(CAST(FLOOR(o_totalprice*100) AS BIGINT), 0.25) AS p25_cents,
        |  quantile_cont(CAST(FLOOR(o_totalprice*100) AS BIGINT), 0.5) AS median_cents,
        |  quantile_cont(CAST(FLOOR(o_totalprice*100) AS BIGINT), 0.75) AS p75_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q34_expire" ->
      """SELECT CAST(1 AS BIGINT) AS n_snapshots, CAST(3 AS BIGINT) AS surviving_id,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F') AS record_count,
        |  CAST(2 AS BIGINT) AS deleted_files""".stripMargin,

    "q35_list_tables" ->
      """SELECT * FROM (VALUES ('nation'), ('orders')) AS t(table_name)
        |ORDER BY table_name""".stripMargin,

    "q36_describe" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'o_orderkey', 'BIGINT'),
        |  (CAST(1 AS BIGINT), 'o_custkey', 'BIGINT'),
        |  (CAST(2 AS BIGINT), 'o_orderstatus', 'STRING'),
        |  (CAST(3 AS BIGINT), 'o_totalprice', 'DOUBLE'),
        |  (CAST(4 AS BIGINT), 'o_orderdate', 'TIMESTAMP_NTZ'),
        |  (CAST(5 AS BIGINT), 'o_orderpriority', 'STRING')
        |) AS t(ordinal, column_name, col_type) ORDER BY ordinal""".stripMargin,

    "q37_partition_pruning" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q38_outerjoin_hist" ->
      """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey) g
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin,

    "q39_correlated_max" ->
      """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  CAST(FLOOR(s_acctbal*100) AS BIGINT) AS bal_cents
        |FROM supplier s
        |WHERE CAST(FLOOR(s_acctbal*100) AS BIGINT) = (
        |  SELECT max(CAST(FLOOR(s2.s_acctbal*100) AS BIGINT)) FROM supplier s2
        |  WHERE s2.s_nationkey = s.s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "q40_like_in" ->
      """SELECT p_partkey, p_brand, p_type, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_type LIKE '%AND%' AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |ORDER BY p_partkey""".stripMargin,

    "q41_case_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type NOT IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        |FROM events GROUP BY 1 ORDER BY day_ts""".stripMargin,

    "q42_monthly_rollup" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_ts,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY month_ts""".stripMargin,

    // fixture tpch.orders' current snapshot is the F-only overwrite
    "q49_metadata_minmax" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_orderstatus) AS min_status, max(o_totalprice) AS max_price
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q48_describe_extended" ->
      """SELECT * FROM (VALUES
        |  ('# Partition Information', ''),
        |  ('Provider', 'snapcat'),
        |  ('o_orderstatus', 'string')
        |) AS t(col_name, data_type) ORDER BY col_name""".stripMargin,

    "q43_sql_surface" ->
      """SELECT n.n_name, CAST(count(s.s_suppkey) AS BIGINT) AS n_supp
        |FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "q44_token_count" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS sum_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS sum_bpe_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q45_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q47_csv_json_sources" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_csv,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_csv,
        |  CAST(count(*) AS BIGINT) AS n_json,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_json
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q59_orc_source" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE n_chars > 200
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q62_bucketed_join" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    // thresholds are exact 2^32-ths of the md5-prefix space:
    // 0.8*2^32=3435973836, 0.9*2^32=3865470566, 0.25*2^32=1073741824
    "q63_hash_split" ->
      """WITH h AS (
        |  SELECT CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT) AS hp,
        |         n_chars
        |  FROM documents)
        |SELECT CASE WHEN hp < 3435973836 THEN 'train'
        |            WHEN hp < 3865470566 THEN 'val'
        |            ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q64_stratified_sample" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS kept
        |FROM (SELECT lang,
        |        CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT) AS hp
        |      FROM documents)
        |WHERE hp < CASE WHEN lang = 'en' THEN 1073741824 ELSE 4294967296 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q60_ngram_topk" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
        |  )) AS shingles FROM documents),
        |inv AS (SELECT unnest(shingles) AS bigram FROM sh)
        |SELECT bigram, CAST(count(*) AS BIGINT) AS df
        |FROM inv GROUP BY bigram
        |ORDER BY df DESC, bigram LIMIT 20""".stripMargin,

    "q46_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the oracle states as-of as the correlated argmax DuckDB decorrelates;
    // only the matched TIMESTAMP is emitted (not a payload), so exact-tie
    // views cannot make the comparison nondeterministic
    "q65_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view')
        |SELECT c.event_id, CAST(c.us AS BIGINT) AS click_us,
        |  CAST((SELECT max(v.us) FROM v WHERE v.user_id = c.user_id AND v.us <= c.us)
        |    AS BIGINT) AS view_us,
        |  CAST(c.us - (SELECT max(v.us) FROM v WHERE v.user_id = c.user_id AND v.us <= c.us)
        |    AS BIGINT) AS gap_us
        |FROM c ORDER BY c.event_id""".stripMargin,

    "q66_range_join" ->
      """WITH v AS (SELECT event_id AS iv_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v_e2
        |  FROM events WHERE event_type = 'click')
        |SELECT v.iv_id, CAST(count(c.us) AS BIGINT) AS n_in,
        |  CAST(coalesce(sum(c.v_e2), 0) AS BIGINT) AS sum_v_e2
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |  AND c.us >= v.us AND c.us < v.us + 3600000000
        |GROUP BY v.iv_id ORDER BY v.iv_id""".stripMargin,

    "q67_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q68_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
        |UNION ALL SELECT l_returnflag, 'cnt', cnt FROM a
        |UNION ALL SELECT l_returnflag, 'price_cents', price_cents FROM a
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q69_window_funcs" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders WHERE o_custkey <= 50)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  lag(price_cents, 1) OVER w AS prev_cents,
        |  lead(price_cents, 1) OVER w AS next_cents,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(FLOOR((percent_rank() OVER w) * 1000000) AS BIGINT) AS pr_e6
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q73_datetime_funcs" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS q,
        |  CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
        |  CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS d_plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT)
        |    AS days_to_ref
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,

    "q72_wap" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) c FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) c FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT CAST(count(*) AS BIGINT) c FROM orders WHERE o_orderstatus = 'O')
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'create', CAST(0 AS BIGINT), 'false'),
        |  (CAST(2 AS BIGINT), 'append', (SELECT c FROM n), 'false'),
        |  (CAST(3 AS BIGINT), 'append', (SELECT c FROM n) + (SELECT c FROM f), 'true'),
        |  (CAST(4 AS BIGINT), 'publish', (SELECT c FROM n) + (SELECT c FROM f), 'false'),
        |  (CAST(5 AS BIGINT), 'append',
        |    (SELECT c FROM n) + (SELECT c FROM f) + (SELECT c FROM o), 'true'),
        |  (CAST(6 AS BIGINT), 'discard', (SELECT c FROM n) + (SELECT c FROM f), 'false')
        |) AS t(snapshot_id, operation, record_count, staged)
        |ORDER BY snapshot_id""".stripMargin,

    // end state of the SQL-only WAP cycle: every order once, plus the
    // published F copy; the discarded O copy never became visible
    "q96_wap_sql" ->
      """WITH st AS (
        |  SELECT o_orderstatus, o_orderkey FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM st GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q71_sequence_pack" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT lang, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS tok_start
        |  FROM t),
        |p AS (SELECT lang, toks, tok_start // 2048 AS first_chunk,
        |    CASE WHEN toks = 0 THEN 0
        |         ELSE (tok_start + toks - 1) // 2048 - tok_start // 2048 + 1 END AS n_chunks
        |  FROM c)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(max(first_chunk + n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "q77_binpack" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) c FROM orders)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'create',  CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'append',  CAST(6 AS BIGINT), (SELECT c FROM n)),
        |  (CAST(3 AS BIGINT), 'append',  CAST(7 AS BIGINT),
        |    CAST(2 * (SELECT c FROM n) AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'rewrite', CAST(2 AS BIGINT),
        |    CAST(2 * (SELECT c FROM n) AS BIGINT))
        |) AS t(snapshot_id, operation, num_files, record_count)
        |ORDER BY snapshot_id""".stripMargin,

    "q78_partitions" ->
      """SELECT concat('o_orderstatus=', o_orderstatus) AS partition,
        |  CAST(count(*) AS BIGINT) AS record_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q74_decontaminate" ->
      """WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
        |    range(1, greatest(len(w) - 2, 1) + 1),
        |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS grams FROM ws),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, lang, CAST(len(grams) AS BIGINT) AS n_sh,
        |    unnest(grams) AS gram FROM sh WHERE doc_id % 97 <> 0),
        |ov AS (SELECT corp.doc_id, corp.lang, max(corp.n_sh) AS n_sh,
        |    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ov
        |  FROM corp LEFT JOIN bench b ON corp.gram = b.gram
        |  GROUP BY corp.doc_id, corp.lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_sh) AS BIGINT) AS sum_shingles,
        |  CAST(sum(n_ov) AS BIGINT) AS sum_overlap,
        |  CAST(sum(CASE WHEN n_ov * 20 >= n_sh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated
        |FROM ov GROUP BY lang ORDER BY lang""".stripMargin,

    "q75_pii_scrub" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(len(regexp_extract_all(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))) AS BIGINT) AS n_emails,
        |  CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_nums,
        |  CAST(sum(length(props)) AS BIGINT) AS chars_in,
        |  CAST(sum(length(regexp_replace(regexp_replace(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g'))) AS BIGINT) AS chars_out
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q76_domain_mix" ->
      """WITH d AS (SELECT source, doc_id, n_chars,
        |    CAST(CASE WHEN source IN ('src0','src1','src2') THEN 2.5
        |         WHEN source IN ('src3','src4') THEN 0.4 ELSE 1.0 END AS DOUBLE) AS w,
        |    CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT) AS hp
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_chars,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN hp < CAST(floor((w - floor(w)) * 4294967296.0) AS BIGINT)
        |           THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_copies,
        |  CAST(count(CASE WHEN copies > 0 THEN 1 END) AS BIGINT) AS n_docs,
        |  CAST(sum(copies * n_chars) AS BIGINT) AS chars_out,
        |  CAST(max(copies) - 1 AS BIGINT) AS max_copy
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q79_token_budget" ->
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
        |  CAST(max(rank) AS BIGINT) AS last_rank
        |FROM r WHERE cum <= 15000 GROUP BY lang ORDER BY lang""".stripMargin,

    "q70_repetition" ->
      """WITH wx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |wg AS (SELECT doc_id, tok, count(*) AS c FROM wx GROUP BY doc_id, tok),
        |dw AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(max(c) AS BIGINT) AS top_c FROM wg GROUP BY doc_id),
        |bl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM bl WHERE len(ws) >= 2),
        |bgc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
        |db AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
        |  FROM bgc GROUP BY doc_id)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dw.n_words) AS BIGINT) AS sum_words,
        |  CAST(sum(dw.top_c) AS BIGINT) AS sum_top_word,
        |  CAST(sum(coalesce(db.n_bg, 0)) AS BIGINT) AS sum_bigrams,
        |  CAST(sum(coalesce(db.dup_bg, 0)) AS BIGINT) AS sum_dup_bigrams,
        |  CAST(sum(CASE WHEN dw.top_c * 5 > dw.n_words THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged
        |FROM documents d JOIN dw USING (doc_id) LEFT JOIN db USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
    // q105 shares q50's oracle VERBATIM: identical coarse index params
    // (nlist/nprobe/iters/sampleMod), and the PQ path's covering refine
    // makes its result the exact top-k within the probed cells — which is
    // precisely what the q50 replay computes. PQ codebooks cannot affect
    // the answer, only which shortlist the exact re-rank sees.
    .pipe(m => m + ("q105_ann_ivfpq" -> m("q50_ann_ivf")))
    // q160 shares q148's oracle VERBATIM: identical coarse index params
    // and churn; PQ only changes the STORAGE, and the covering refine's
    // exact re-rank against the base-at-pin reproduces the flat answer
    .pipe(m => m + ("q160_vector_index_pq" -> m("q148_vector_index")))
    // q185 shares q169's oracle VERBATIM: same fixture, same churn, same
    // fusion — the PQ leg's covering refine re-ranks exactly against the
    // base at the pin, so the fused ranking equals the flat leg's
    .pipe(m => m + ("q185_hybrid_pq" -> m("q169_hybrid_index")))
    // q143 replays q50's EXACT IVF candidate pass, with the labeled
    // positives (n % 17 = q) anti-joined out of the candidates BEFORE
    // ranking — precisely the hardNegatives semantics
    .pipe(m => m + ("q143_hard_negatives" -> m("q50_ann_ivf").replace(
      "WHERE ce.vec_id <> p.vec_id",
      "WHERE ce.vec_id <> p.vec_id AND ce.vec_id % 17 <> p.vec_id")))
    // q146 replays q50's k-means cell assignment verbatim (the oracle's
    // CTE prefix through `cells`), then applies the per-cluster rank cut
    .pipe { m =>
      val q50 = m("q50_ann_ivf")
      val prefix = q50.substring(0, q50.indexOf("probes AS"))
      m + ("q146_cluster_balance" -> (prefix +
        """ranked AS (SELECT i.vec_id, ce.cid,
          |    row_number() OVER (PARTITION BY ce.cid
          |      ORDER BY i.vec_id % 97 DESC, i.vec_id) AS r
          |  FROM iv i JOIN cells ce ON ce.vec_id = i.vec_id)
          |SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
          |  CAST(r AS BIGINT) AS cluster_rank
          |FROM ranked WHERE r <= 40 ORDER BY cluster, cluster_rank""".stripMargin))
    }
}
