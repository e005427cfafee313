package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.SnapshotCatalog

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
  *     stand in the base at the target (one semi-join pass; footer-stat
  *     file skipping applies) and append them;
  *   - full: a range the metadata walk cannot enumerate (rollback, true
  *     rewrite, schema evolution) re-derives the whole base — honest
  *     cost, same layout.
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
    * 10^4-value literal never bloats the plan. */
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
    val maxInline = cat.spark.conf.getOption(MaxInlineProbesKey).map(_.toInt)
      .getOrElse(1024)
    if (probed.length <= maxInline) cat.readLatestWhere(db, name, pred)
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
    val sets =
      try cat.changeSetsAcrossRange(baseDb, baseTable, pin, target)
      catch { case NonFatal(_) => None }
    val (mode, props) = sets match {
      case Some((ins0, del0)) =>
        // a frame is checkpointed only when two or more actions read it:
        // del feeds the lane test and the touched ids; ins feeds the
        // emptiness test and the append (append lane) or the touched ids
        // alone (repair lane), plus the counter fold when there is one
        val del = project(del0).localCheckpoint()
        try {
          val repair = !del.isEmpty
          val ins =
            if (repair && counters.isEmpty) project(ins0)
            else project(ins0).localCheckpoint()
          try {
            if (!repair) {
              if (!ins.isEmpty) cat.append(db, name, derive(ins))
            } else {
              val touched = ins.select(col(idCol)).union(del.select(col(idCol)))
                .distinct().localCheckpoint()
              try {
                cat.deleteMoREq(db, name, touched)
                val fresh = project(cat.readAsOf(baseDb, baseTable, target))
                  .join(touched, Seq(idCol), "left_semi").localCheckpoint()
                try {
                  if (!fresh.isEmpty) cat.append(db, name, derive(fresh))
                } finally fresh.unpersist()
              } finally touched.unpersist()
            }
            ("incremental",
              sums(kind, ins, del).map { case (k, d) => k -> (p(k).toLong + d) })
          } finally ins.unpersist()
        } finally del.unpersist()
      case None =>
        val base = project(cat.readAsOf(baseDb, baseTable, target))
        cat.overwrite(db, name, derive(base))
        ("full", sums(kind, base))
    }
    cat.setProperties(db, name,
      props.map { case (k, v) => k -> Some(v.toString) } + (pinKey -> Some(target.toString)))
    (mode, target - pin)
  }

  /** Each counter summed over `plus` minus over `minus`, in ONE
    * aggregation (no job when the kind has no counters). */
  private def sums(kind: Kind, plus: DataFrame,
      minus: DataFrame*): Map[String, Long] =
    if (kind.counters.isEmpty) Map.empty
    else {
      val keys = kind.counters.keys.toIndexedSeq
      def signed(rows: DataFrame, sign: Long): DataFrame =
        rows.select(keys.indices.map(i =>
          (kind.counters(keys(i)) * sign).as(s"c$i")): _*)
      val aggs = keys.indices.map(i => coalesce(sum(col(s"c$i")), lit(0L)))
      val r = (signed(plus, 1L) +: minus.map(signed(_, -1L))).reduce(_.union(_))
        .agg(aggs.head, aggs.tail: _*).head()
      keys.indices.map(i => keys(i) -> r.getLong(i)).toMap
    }
}
