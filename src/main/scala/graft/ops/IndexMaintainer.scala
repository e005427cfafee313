package graft.ops

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.{SnapshotCatalog, TableState}
import graft.functions.OnePass

/** ONE MAINTAINER FOR THE PERSISTENT INDEXES — [[TextIndex]] (BM25
  * postings), [[DedupIndex]] (MinHash bands) and [[VectorIndex]] (IVF
  * assignments). Each is a catalog table derived ROW-WISE, PER ID, from a
  * base table as of ONE snapshot: its pin property. This object holds the
  * create and refresh skeleton once; an index supplies only a [[Kind]]
  * (its id column, the base columns it reads, its `derive`, and for the
  * text index the additive corpus counters).
  *
  * [[refreshTo]] advances the pin from per-commit metadata
  * (`changeSetsAcrossRange`, the machinery that maintains retractable
  * MVs), in one of four lanes:
  *   - fresh: the pin already is the target; nothing is read or written;
  *   - pure append (the range deleted nothing): derive the inserted rows
  *     and append them;
  *   - TOUCHED-ID REPAIR (the range deleted rows): retract every id the
  *     churn names, inserted or deleted (an equality delete on the index
  *     — no index file rewritten), then derive those ids' rows as they
  *     stand in the base at the target and append them;
  *   - full: a range the metadata walk cannot enumerate (rollback, true
  *     rewrite, schema evolution) re-derives the whole base — honest
  *     cost, same layout; the counters ride the overwrite's own job.
  *
  * The incremental lanes cost a fixed handful of Spark jobs, whatever
  * the churn, because small refreshes are bound by Spark's per-job
  * floor, not by data. The range's inserted (+1) and deleted (-1) rows
  * form ONE signed churn frame, checkpointed once under an
  * `Observation` of #deleted, #inserted and each counter's signed sum:
  * that one job decides the lane, tells the append lane whether there is
  * anything to append and folds the counters. When the churn is at most
  * [[MaxInlineProbesKey]] rows, the repair collects the touched ids from
  * the checkpoint (no shuffle), dedupes them locally and hands them
  * to `deleteMoREq` as a local key frame (scoped and deduped without a
  * job; the delete-file write is its only job); the base re-read is an
  * inline IN (two-level file pruning, no semi-join) whose row count is
  * observed on its own checkpoint. Larger churns keep the distributed
  * key frame and a semi-join.
  *
  * Why the repair reads the base instead of applying the changelog by
  * id: id-level delete-then-append would be wrong twice over — an id
  * added AND deleted inside the range would resurrect, and a pre-range
  * duplicate copy of a partially-deleted id would vanish. The repair
  * reads the base's own truth for exactly the churned ids instead
  * (caught by the randomized battery in VectorIndexSpec). The additive
  * counters fold from the same changelog multisets (`n' = n + |ins| -
  * |del|`): the changelog is multiset-exact and the arithmetic is
  * integer, so a fold never drifts from a recount.
  *
  * Every base read is AS OF the target snapshot, never the head: a
  * commit landing between choosing the target and reading the base would
  * otherwise be derived now and again by the next refresh (a re-appended
  * id would carry duplicate rows), and a full rebuild pinned at the
  * target would hold a newer head's rows. Ids must be UNIQUE per base
  * row — the contract of an id-keyed index, since the repair retracts by
  * id.
  */
object IndexMaintainer {

  /** What one index kind supplies to the skeleton. `derive` maps base rows
    * — projected to `baseCols`, nothing else — to index rows.
    * `counters` are per-row Long contributions to additive table
    * properties (the text index's `n-docs` / `total-dl`): create and the
    * full lane write their sums over the base, the incremental lanes fold
    * `+ins -del` onto the stored values. */
  final case class Kind(baseDb: String, baseTable: String, pinKey: String,
      idCol: String, baseCols: Seq[String], derive: DataFrame => DataFrame,
      counters: Map[String, Column] = Map.empty) {
    private[IndexMaintainer] def project(rows: DataFrame): DataFrame =
      rows.select(baseCols.map(col): _*)
  }

  /** Probed-partition counts up to this ride an inline IN literal in the
    * index scan (static directory pruning, pushed filter); larger sets
    * prune driver-side only ([[SnapshotCatalog.readLatestPruned]]) so a
    * 10^4-value literal never bloats the plan. The same bound caps the
    * churned rows whose touched ids a repair-lane refresh collects into a
    * local key frame. */
  val MaxInlineProbesKey = "graft.index.maxInlineProbes"

  /** The index rows in the partitions `probes` (one Long column of
    * partition values) names — the bounded probe read of every index
    * query. Below [[MaxInlineProbesKey]] values the predicate is an
    * inline IN; above it the literal never enters the plan, and the
    * caller's equi-join on the routed key must enforce exactness (rows of
    * an over-read partition cannot join a probe routed elsewhere). An
    * empty probe set reads zero files. */
  def probedRead(cat: SnapshotCatalog, db: String, name: String,
      partCol: String, probes: DataFrame): DataFrame = {
    val probed = probes.distinct().collect().map(_.getLong(0)).toIndexedSeq.sorted
    val pred = if (probed.isEmpty) lit(false) else col(partCol).isin(probed: _*)
    if (probed.length <= maxInline(cat)) cat.readLatestWhere(db, name, pred)
    else cat.readLatestPruned(db, name, pred)
  }

  /** Create `db.name` partitioned by `partCol` and fill it from the base
    * AS OF its current snapshot, which becomes the pin. A failed fill
    * drops the table, so the same name can retry cleanly. */
  def create(cat: SnapshotCatalog, db: String, name: String, kind: Kind,
      schema: StructField => StructType, partCol: String,
      properties: Map[String, String]): Unit = {
    require(!cat.tableExists(db, name), s"index $db.$name already exists")
    val pin = cat.currentSnapshotId(kind.baseDb, kind.baseTable)
    val base = kind.project(cat.readAsOf(kind.baseDb, kind.baseTable, pin))
    cat.createTable(db, name, schema(base.schema(kind.idCol)),
      partitionCols = Seq(partCol),
      properties = properties ++ sums(kind, base).map { case (k, v) => k -> v.toString } +
        (kind.pinKey -> pin.toString))
    try cat.append(db, name, kind.derive(base))
    catch {
      case t: Throwable =>
        try if (cat.tableExists(db, name)) cat.dropTable(db, name)
        catch { case NonFatal(_) => () }
        throw t
    }
  }

  /** [[refreshTo]] the base table's current snapshot. */
  def refresh(cat: SnapshotCatalog, db: String, name: String, kind: Kind): (String, Long) =
    refreshTo(cat, db, name, kind, cat.currentSnapshotId(kind.baseDb, kind.baseTable))

  /** Advance `db.name` from its pin to base snapshot `target` (see the
    * object note for the lanes). Returns (mode, commits advanced): mode
    * is "fresh", "incremental" or "full". The pin and the counters land
    * in one metadata write after the data commits. */
  def refreshTo(cat: SnapshotCatalog, db: String, name: String, kind: Kind,
      target: Long): (String, Long) = {
    import kind._
    val p = cat.meta(db, name).properties
    val pin = p(pinKey).toLong
    if (target == pin) return ("fresh", 0L)
    // the base's pointer log is read once: the range walk and every base
    // read of the refresh derive from this state
    val baseSt = cat.loadTable(baseDb, baseTable)
    val sets =
      try cat.changeSetsAcrossRange(baseSt, pin, target)
      catch { case NonFatal(_) => None }
    val (mode, props) = sets match {
      case Some((ins, del)) =>
        val obs = Observation()
        val churn = project(ins).withColumn(Sign, lit(1L))
          .unionByName(project(del).withColumn(Sign, lit(-1L)))
          .observe(obs, count(when(col(Sign) < 0, 1)).as(NDel),
            count(when(col(Sign) > 0, 1)).as(NIns) +: counterSums(kind, col(Sign)): _*)
          .localCheckpoint()
        try {
          val m = observed(obs)
          if (m(NDel) == 0) {
            if (m(NIns) > 0) cat.append(db, name, derive(churn.drop(Sign)))
          } else {
            val (keys, rows) = touched(cat, kind, baseSt, churn, m(NDel) + m(NIns), target)
            try {
              cat.deleteMoREq(db, name, keys)
              val found = Observation()
              val fresh = project(rows).observe(found, count(lit(1)).as("n"))
                .localCheckpoint()
              try {
                if (observed(found)("n") > 0) cat.append(db, name, derive(fresh))
              } finally SnapshotCatalog.releaseCheckpoint(fresh)
            } finally SnapshotCatalog.releaseCheckpoint(keys)
          }
          ("incremental", counters.keys.map(k => k -> (p(k).toLong + m(k))).toMap)
        } finally SnapshotCatalog.releaseCheckpoint(churn)
      case None =>
        val base = project(cat.readAt(baseSt, baseSt.entryAt(target)))
        val (obs, aggs) = (Observation(), counterSums(kind, lit(1L)))
        cat.overwrite(db, name, derive(
          if (aggs.isEmpty) base else base.observe(obs, aggs.head, aggs.tail: _*)))
        ("full", if (aggs.isEmpty) Map.empty[String, Long] else observed(obs))
    }
    cat.setProperties(db, name,
      props.map { case (k, v) => k -> Some(v.toString) } + (pinKey -> Some(target.toString)))
    (mode, target - pin)
  }

  private val Sign = "__churn_sign"
  private val NDel = "__churn_deleted"
  private val NIns = "__churn_inserted"

  /** The repair lane's touched ids as an equality-delete key frame, and
    * the base rows holding them at `target`. Up to [[MaxInlineProbesKey]]
    * churned rows, the ids are collected (a shuffle-free read of
    * the checkpoint): the key frame is local and the base read prunes
    * files on an inline IN. Above it, both stay distributed: a distinct
    * checkpoint and a semi-join. */
  private def touched(cat: SnapshotCatalog, kind: Kind, baseSt: TableState,
      churn: DataFrame, churned: Long, target: Long): (DataFrame, DataFrame) = {
    import kind._
    if (churned <= maxInline(cat)) {
      val ids = churn.select(col(idCol)).collect().map(_.get(0)).filter(_ != null).distinct
      val keys = cat.spark.createDataFrame(ids.toSeq.map(Row(_)).asJava,
        StructType(Seq(churn.schema(idCol))))
      val pred = if (ids.isEmpty) lit(false) else col(idCol).isin(ids.toIndexedSeq: _*)
      (keys, cat.readPruned(baseSt, target, pred).where(pred))
    } else {
      val keys = churn.select(col(idCol)).distinct().localCheckpoint()
      (keys, cat.readAt(baseSt, baseSt.entryAt(target)).join(keys, Seq(idCol), "left_semi"))
    }
  }

  private def maxInline(cat: SnapshotCatalog): Int =
    cat.spark.conf.getOption(MaxInlineProbesKey).map(_.toInt).getOrElse(1024)

  /** An observation's Long metrics; a null (an empty frame's sum) reads 0. */
  private def observed(obs: Observation): Map[String, Long] =
    longs(OnePass.values(OnePass.result(obs)))

  private def longs(m: Map[String, Any]): Map[String, Long] =
    m.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Long]) }

  /** Each counter summed over a frame's rows, each row's value times `sign`. */
  private def counterSums(kind: Kind, sign: Column): Seq[Column] =
    kind.counters.toSeq.map { case (k, c) => sum(c * sign).as(k) }

  /** Each counter summed over `rows`: one job, none when the kind has no
    * counters. */
  private def sums(kind: Kind, rows: DataFrame): Map[String, Long] =
    if (kind.counters.isEmpty) Map.empty
    else longs(OnePass.values(OnePass.aggregate(rows, counterSums(kind, lit(1L)))))
}
