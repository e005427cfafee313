package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{Snapshot, SnapshotCatalog}
import graft.ops.{DedupIndex, TextIndex, VectorIndex}

/** `maintain`: small writes beside the reads and the structures kept
  * fresh over them, all on the same catalog code.
  *
  * Two base tables: `docs` (document text joined to its embedding) carries
  * a TextIndex, a DedupIndex and a VectorIndex; `orders`, built by a few
  * key-ordered appends and a merge-on-read delete, carries an aggregate
  * materialized view (count/sum/min/max by status) and a DISTINCT one.
  * A unit commits one seeded small change to one base table (an append,
  * a merge-on-read delete or a merge-on-read upsert) and then refreshes
  * every view and index over that table; its latency, from the commit
  * call to the last refresh returning, is that change's freshness. A
  * round holds three units, each kind of change once, so every round
  * times the same mix: an upsert to `orders`, whose views then take both
  * a delete and an insert, and a delete and an append to `docs`, whose
  * indexes take each in turn. It then asks seven time-travel questions
  * about `orders`, outside the units: a full read at a random snapshot
  * through `readAsOf`, one through SQL `VERSION AS OF`, one through
  * `readAsOfTimestamp`, a pruned point lookup on `o_orderkey`, and the
  * metadata questions `snapshotList`, `recordCount` and `files`.
  *
  * Chosen because it is bound by commits and refreshes, the write side
  * that read-path changes can slow without any read-only workload
  * noticing; the questions measure the read path on a short history. */
final class Maintain(ctx: Ctx) extends Workload {
  import ctx.spark

  private val db = "mt"
  private val ShingleW = 5
  private val HistoryAppends = 4
  private def read(t: String) = spark.read.parquet(ctx.data.resolve(s"$t.parquet").toString)
  private val docsDf = {
    val d = read("documents").select("doc_id", "text")
    val e = read("embeddings")
    d.join(e, d("doc_id") === e("vec_id")).select(d("doc_id"), col("text"), col("embedding"))
  }
  private val ordersDf = read("orders").select(col("o_orderkey"), col("o_custkey"),
    col("o_orderstatus"), floor(col("o_totalprice") * 100).cast("long").as("cents"),
    col("o_orderpriority"))

  /** A base table as the oracle sees it: its rows by key, kept on the
    * client from the generator's own bookkeeping, never read back. */
  final class Base(val name: String, val schema: StructType, val batch: Int,
      val pool: mutable.Queue[Row], val live: mutable.LinkedHashMap[Long, Row]) {
    def df(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    /** Per committed snapshot: its id, commit instant, live rows and data
      * files (every append or upsert of one partition writes one file). */
    val history = ArrayBuffer.empty[(Long, Instant, Vector[Row], Int)]
    def record(s: Snapshot, files: Int): Unit = history +=
      ((s.snapshotId, Instant.parse(s.committedAt), live.values.toVector,
        history.lastOption.map(_._4).getOrElse(0) + files))
  }

  // generator: a seeded 60% of each input is the initial state, the rest
  // the pool later appends draw from, in seeded order
  private def split(df: DataFrame, seedMix: Long): (Seq[Row], Seq[Row]) = {
    val rows = new Random(ctx.seed * 31 + seedMix).shuffle(df.collect().toSeq)
    rows.splitAt(rows.size * 3 / 5)
  }
  private val (docs0, docsPool) = split(docsDf, 1)
  private val (orders0, ordersPool) = split(ordersDf, 2)
  private def base(name: String, df: DataFrame, init: Seq[Row], pool: Seq[Row], batch: Int) =
    new Base(name, df.schema, batch, mutable.Queue(pool: _*),
      mutable.LinkedHashMap(init.map(r => r.getLong(0) -> r): _*))

  private val mvs = Seq(
    "agg" -> ("SELECT o_orderstatus, count(*) AS n, sum(cents) AS s, min(cents) AS lo, " +
      "max(cents) AS hi FROM mt.orders GROUP BY o_orderstatus"),
    "distinct" -> "SELECT DISTINCT o_custkey FROM mt.orders")

  final class State(val cat: SnapshotCatalog, val dir: Path, val docs: Base,
      val orders: Base, val commits: Commits) {
    val rng = new Random(ctx.seed * 104729)
    // the warehouse as set-up leaves it, whatever the rounds add later
    val setupBytes = DiskUse.of(dir).bytes
    val setupLive = (docs.live.size, orders.live.size)
  }

  def setup(dir: Path): State = {
    val cat = new SnapshotCatalog(spark, dir.toString)
    val commits = new Commits(ctx.tracer)
    val docs = base("docs", docsDf, docs0, docsPool, 5)
    val orders = base("orders", ordersDf, orders0, ordersPool, 50)
    for (b <- Seq(docs, orders)) {
      cat.createTable(db, b.name, b.schema)
      b.record(cat.currentSnapshot(db, b.name), 0)
    }
    commits("append", dir.resolve(db).resolve("docs"))(
      cat.append(db, "docs", docs.df(docs.live.values.toSeq)))
    // orders gets a history to travel in: key-ordered appends, and a
    // merge-on-read delete halfway
    val rows = orders.live.values.toSeq.sortBy(_.getLong(0))
    orders.live.clear()
    val rng = new Random(ctx.seed * 7919)
    rows.grouped(math.max(1, rows.size / HistoryAppends)).zipWithIndex.foreach { case (batch, i) =>
      val s = commits("append", dir.resolve(db).resolve("orders"))(cat.append(db, "orders", orders.df(batch)))
      batch.foreach(r => orders.live(r.getLong(0)) = r)
      orders.record(s, 1)
      if (i == HistoryAppends / 2) {
        val ks = rng.shuffle(orders.live.keys.toSeq).take(orders.batch)
        val d = commits("delete_mor", dir.resolve(db).resolve("orders"))(
          cat.deleteMoR(db, "orders", col("o_orderkey").isin(ks: _*)))
        ks.foreach(orders.live.remove)
        orders.record(d, 0)
      }
    }
    TextIndex.create(cat, db, "docs", "docs_text", "doc_id", "text", nbuckets = 16)
    DedupIndex.create(cat, db, "docs", "docs_dedup", "doc_id", "text", w = ShingleW, nbuckets = 16)
    VectorIndex.create(cat, db, "docs", "docs_vec", "doc_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    mvs.foreach { case (n, sql) => cat.createMaterializedView(db, s"orders_$n", sql) }
    spark.conf.set("spark.sql.catalog.snapcat.warehouse", dir.toString)
    new State(cat, dir, docs, orders, commits)
  }

  // ---- one change ----

  private def pick(st: State, b: Base, n: Int): Seq[Long] = {
    val ks = b.live.keysIterator.toIndexedSeq
    st.rng.shuffle(ks).take(n)
  }

  /** A changed copy of `r`: docs get a new token, orders move status and
    * price, so every view and index over the row has something to do. */
  private def revise(b: Base, r: Row, round: Int): Row =
    if (b.name == "docs") Row(r.getLong(0), r.getString(1) + s" revision$round", r.get(2))
    else Row(r.getLong(0), r.getLong(1), Seq("F", "O", "P").filterNot(_ == r.getString(2))(round & 1),
      r.getLong(3) + 7, r.getString(4))

  /** Commit one change of `kind` to `b`, updating the oracle only once
    * the commit returns. Returns the rows changed. */
  private def change(st: State, b: Base, kind: String, round: Int, rec: Recorder): Option[Int] = {
    val tdir = st.dir.resolve(db).resolve(b.name)
    val key = col(b.schema.head.name)
    kind match {
      case "append" =>
        val rows = (1 to b.batch).flatMap(_ => if (b.pool.nonEmpty) Some(b.pool.dequeue()) else None)
        rec.op("catalog.commit.append", span = false)(
          st.commits("append", tdir)(st.cat.append(db, b.name, b.df(rows)))) { s =>
          rows.foreach(r => b.live(r.getLong(0)) = r); b.record(s, 1) }.map(_ => rows.size)
      case "delete_mor" =>
        val ks = pick(st, b, b.batch)
        rec.op("catalog.commit.delete_mor", span = false)(
          st.commits("delete_mor", tdir)(st.cat.deleteMoR(db, b.name, key.isin(ks: _*)))) { s =>
          ks.foreach(b.live.remove); b.record(s, 0) }.map(_ => ks.size)
      case "upsert_mor" =>
        val rows = pick(st, b, b.batch).map(k => revise(b, b.live(k), round))
        rec.op("catalog.commit.upsert_mor", span = false)(
          st.commits("upsert_mor", tdir)(st.cat.upsertMoR(db, b.name, b.df(rows), Seq(b.schema.head.name)))) { s =>
          rows.foreach(r => b.live(r.getLong(0)) = r); b.record(s, 1) }.map(_ => rows.size)
    }
  }

  // ---- refreshes and their oracle checks ----

  private val commitsPerRefresh = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val modes = mutable.Map.empty[String, ArrayBuffer[Boolean]]

  private def namespaceCommits(cat: SnapshotCatalog): Int =
    cat.listTables(db).map(t => cat.snapshotList(db, t).size).sum

  private def refresh(st: State, rec: Recorder, cls: String, call: => (String, Long))(
      check: => Unit): Unit = {
    val before = if (ctx.tracer.on) ctx.tracer.probe(namespaceCommits(st.cat)) else 0
    rec.op(cls)(call) { case (mode, _) =>
      modes.getOrElseUpdate(cls, ArrayBuffer.empty) += mode.startsWith("incremental")
      Check.that(s"$cls took '$mode', want incremental", mode.startsWith("incremental"))
      check
      if (ctx.tracer.on) commitsPerRefresh.getOrElseUpdate(cls, ArrayBuffer.empty) +=
        (ctx.tracer.probe(namespaceCommits(st.cat)) - before).toDouble
    }
  }

  private def refreshDocs(st: State, rec: Recorder): Unit = {
    refresh(st, rec, "index.text.refresh", TextIndex.refresh(st.cat, db, "docs_text"))(())
    refresh(st, rec, "index.dedup.refresh", DedupIndex.refresh(st.cat, db, "docs_dedup"))(())
    refresh(st, rec, "index.vector.refresh", VectorIndex.refresh(st.cat, db, "docs_vec"))(())
  }

  // every index's id set, read back in one job once the run is over: the
  // refreshes are incremental, so a wrong one stays wrong in the final
  // state, and reading the many small index files after every refresh
  // would cost more than the refresh
  override def finish(st: State, rec: Recorder): Unit =
    rec.check("index contents") {
      val got = Seq("docs_text", "docs_dedup", "docs_vec").map(t =>
        st.cat.readLatest(db, t).select(lit(t).as("t"), col("doc_id")))
        .reduce(_ unionByName _).distinct().collect()
        .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
        .withDefaultValue(Set.empty[Long])
      val live = st.docs.live.values.toSeq
      def words(r: Row) = r.getString(1).toLowerCase.split("\\s+").count(_.nonEmpty)
      Check.eq("text index ids", got("docs_text"), live.filter(words(_) > 0).map(_.getLong(0)).toSet)
      Check.that("dedup index holds a deleted id", got("docs_dedup").subsetOf(st.docs.live.keySet))
      Check.that("dedup index misses a live id",
        live.filter(words(_) >= ShingleW).forall(r => got("docs_dedup").contains(r.getLong(0))))
      Check.eq("vector index ids", got("docs_vec"), st.docs.live.keySet.toSet)
    }

  private def refreshOrders(st: State, rec: Recorder): Unit = {
    val live = st.orders.live.values.toSeq
    refresh(st, rec, "mv.agg.refresh", st.cat.refreshMaterializedView(db, "orders_agg")) {
      val want = live.groupBy(_.getString(2)).map { case (s, rs) =>
        val c = rs.map(_.getLong(3))
        (s, rs.size.toLong, c.sum, c.min, c.max) }.toSet
      val got = spark.sql(s"SELECT o_orderstatus, n, s, lo, hi FROM snapcat.$db.orders_agg")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      Check.eq("aggregate view", got, want)
    }
    refresh(st, rec, "mv.distinct.refresh", st.cat.refreshMaterializedView(db, "orders_distinct")) {
      val got = spark.sql(s"SELECT o_custkey FROM snapcat.$db.orders_distinct")
        .collect().map(_.getLong(0)).toSeq
      Check.eq("distinct view", got.sorted, live.map(_.getLong(1)).distinct.sorted)
    }
  }

  /** One unit: a change of `kind` to `b`, then the refreshes that make
    * its views or indexes fresh again. */
  private def unit(st: State, b: Base, kind: String, round: Int, rec: Recorder): Unit =
    rec.unit {
      change(st, b, kind, round, rec).map { n =>
        if (b eq st.docs) refreshDocs(st, rec) else refreshOrders(st, rec)
        n.toLong
      }.getOrElse(0L)
    }

  def space(st: State): Double = st.setupBytes / userBytes(st.setupLive)

  // a fixed order, so every round times the same mix whatever the seed
  // (the seed picks the rows)
  def round(st: State, r: Int, rec: Recorder): Unit = {
    unit(st, st.orders, "upsert_mor", r, rec)
    unit(st, st.docs, "delete_mor", r, rec)
    unit(st, st.docs, "append", r, rec)
    questions(st, r, rec)
  }

  // ---- time-travel questions about `orders` ----

  private val orderCols = ordersDf.columns.toSeq
  private val sqlCols = orderCols.map(c => s"`$c`").mkString(", ")
  private val agg = Digest.aggCols(orderCols)
  private val expectedAt = mutable.Map.empty[Long, Digest]
  private val hasher = new RowHasher(ordersDf.schema)
  private val dirStats = ArrayBuffer.empty[(Double, Double, Double)]
  private val keptRatio = ArrayBuffer.empty[Double]
  private val allKeys = (orders0 ++ ordersPool).map(_.getLong(0)).toArray

  // the timed action of a read: plan, then run, the digest aggregate
  private def run(df: DataFrame): Digest = {
    val q = df.agg(agg.head, agg.tail: _*)
    ctx.tracer.span("spark.plan")(q.queryExecution.executedPlan)
    ctx.tracer.span("spark.exec")(Digest.of(q.collect().head))
  }

  private def noteRead(st: State, s: Long): Unit = if (ctx.tracer.on) ctx.tracer.probe {
    val sn = st.cat.snapshotAt(db, "orders", s)
    dirStats += ((sn.files.map(_.split("/").take(2).mkString("/")).distinct.size.toDouble,
      sn.files.size.toDouble, sn.deleteFiles.size.toDouble))
  }

  private def questions(st: State, r: Int, rec: Recorder): Unit = {
    val h = st.orders.history
    val rnd = new Random(ctx.seed * 31337 + r)
    // a random committed state: never the empty snapshot of the create
    def pick() = h(1 + rnd.nextInt(h.size - 1))
    def want(e: (Long, Instant, Vector[Row], Int)) =
      expectedAt.getOrElseUpdate(e._1, hasher.digest(e._3))
    val t = "orders"
    val qs: Seq[() => Unit] = Seq(
      () => { val e = pick()
        rec.op("timetravel.asof_read")(run(ctx.tracer.span("catalog.read.resolve")(
          st.cat.readAsOf(db, t, e._1)))) { d => Check.eq(s"readAsOf ${e._1}", d, want(e)); noteRead(st, e._1) } },
      () => { val e = pick()
        rec.op("catalog.spark.sql_asof_read")(run(spark.sql(
          s"SELECT $sqlCols FROM snapcat.$db.$t VERSION AS OF ${e._1}"))) { d =>
          Check.eq(s"VERSION AS OF ${e._1}", d, want(e)); noteRead(st, e._1) } },
      () => { val ts = pick()._2
        val e = h.filter(!_._2.isAfter(ts)).maxBy(_._1)
        rec.op("timetravel.asof_read_ts")(run(ctx.tracer.span("catalog.read.resolve")(
          st.cat.readAsOfTimestamp(db, t, ts)))) { d =>
          Check.eq(s"readAsOfTimestamp $ts", d, want(e)); noteRead(st, e._1) } },
      () => { val k = allKeys(rnd.nextInt(allKeys.length))
        val expect = hasher.digest(st.orders.live.get(k))
        var frame: DataFrame = null
        rec.op("timetravel.point_read") {
          frame = ctx.tracer.span("catalog.read.resolve_pruned")(
            st.cat.readLatestPruned(db, t, col("o_orderkey") === k)).where(col("o_orderkey") === k)
          run(frame)
        } { got =>
          Check.eq(s"point lookup $k", got, expect)
          if (ctx.tracer.on)
            keptRatio += ctx.tracer.probe(frame.inputFiles.length).toDouble / h.last._4
        } },
      () => rec.op("catalog.meta.snapshot_list")(st.cat.snapshotList(db, t)) { l =>
        Check.eq("snapshotList", l.map(_.snapshotId), h.map(_._1).toSeq) },
      () => { val e = pick()
        rec.op("catalog.meta.record_count")(st.cat.recordCount(db, t, e._1)) { n =>
          Check.eq(s"recordCount ${e._1}", n, e._3.size.toLong) } },
      () => { val e = pick()
        rec.op("catalog.meta.files")(st.cat.files(db, t, e._1)) { fs =>
          Check.eq(s"files ${e._1}", fs.size, e._4) } })
    rnd.shuffle(qs).foreach(_())
  }

  // live base rows, at the input files' own bytes per row
  private def userBytes(live: (Int, Int)): Double = {
    def perRow(t: String) = Files.size(ctx.data.resolve(s"$t.parquet")).toDouble / read(t).count()
    live._1 * (perRow("documents") + perRow("embeddings")) + live._2 * perRow("orders")
  }

  def sizes(st: State): Map[String, Double] = {
    val d = DiskUse.of(st.dir)
    Map("rows" -> (st.docs.live.size + st.orders.live.size).toDouble,
      "bytes" -> Seq("documents", "embeddings", "orders").map(t =>
        Files.size(ctx.data.resolve(s"$t.parquet"))).sum.toDouble,
      "snapshots" -> namespaceCommits(st.cat).toDouble,
      "files" -> (d.dataFiles + d.deleteFiles).toDouble)
  }

  private def cls(rec: Recorder, p: String => Boolean): Seq[Double] =
    rec.byClass.iterator.filter(kv => p(kv._1)).flatMap(_._2).toSeq

  def breakdown(rec: Recorder): Map[String, Double] = {
    val (cp, ct, _, _) = Stats.summary(cls(rec, _.startsWith("catalog.commit.")))
    val (rp, rt, _, _) = Stats.summary(cls(rec, n => n.startsWith("mv.") || n.startsWith("index.")))
    val (ap, at, _, _) = Stats.summary(cls(rec, Set("timetravel.asof_read",
      "catalog.spark.sql_asof_read", "timetravel.asof_read_ts")))
    val (pp, pt, _, _) = Stats.summary(cls(rec, _ == "timetravel.point_read"))
    val (mp, _, _, _) = Stats.summary(cls(rec, _.startsWith("catalog.meta.")))
    Map("maintain.commit_p50_ms" -> cp, "maintain.commit_tail_ms" -> ct,
      "maintain.refresh_p50_ms" -> rp, "maintain.refresh_tail_ms" -> rt,
      "maintain.freshness_p50_s" -> (if (rec.units.isEmpty) 0.0 else Stats.median(rec.units.map(_.ms / 1e3).toSeq)),
      "timetravel.asof_read_p50_ms" -> ap, "timetravel.asof_read_tail_ms" -> at,
      "timetravel.point_read_p50_ms" -> pp, "timetravel.point_read_tail_ms" -> pt,
      "timetravel.meta_p50_ms" -> mp)
  }

  def layers(st: State, rec: Recorder, t: Tracer, l: OpListener): Map[String, Double] = {
    def medOf(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def ratio(p: String) = {
      val m = modes.filter(_._1.startsWith(p)).values.flatten
      if (m.isEmpty) 0.0 else m.count(identity).toDouble / m.size
    }
    val mvJobs = SparkCounts.sum(l, _.startsWith("mv.")).jobs
    val mvRefreshes = t.spans.count(_.name.startsWith("mv."))
    val spans = Seq("mv.agg.refresh", "mv.distinct.refresh", "index.text.refresh",
      "index.dedup.refresh", "index.vector.refresh").map(n =>
      s"${n}_ms" -> medOf(rec.byClass.getOrElse(n, Nil)))
    Layers.complete(Layers.common(rec, t, l, ctx.cores, st.commits.deltas) ++ breakdown(rec) ++
      spans ++ Map(
      "mv.incremental_ratio" -> ratio("mv."),
      "index.incremental_ratio" -> ratio("index."),
      "mv.commits_per_refresh" -> medOf(commitsPerRefresh.filter(_._1.startsWith("mv.")).values.flatten),
      "index.commits_per_refresh" -> medOf(commitsPerRefresh.filter(_._1.startsWith("index.")).values.flatten),
      "mv.jobs_per_refresh" -> (if (mvRefreshes == 0) 0.0 else mvJobs.toDouble / mvRefreshes),
      "catalog.read.snapshot_dirs" -> medOf(dirStats.map(_._1)),
      "catalog.read.files" -> medOf(dirStats.map(_._2)),
      "catalog.read.delete_files" -> medOf(dirStats.map(_._3)),
      "catalog.read.files_kept_ratio" -> medOf(keptRatio)))
  }
}
