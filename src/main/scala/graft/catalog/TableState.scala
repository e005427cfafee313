package graft.catalog

import org.apache.spark.sql.types.StructType

/** One read of a table's pointer log (`format_version` 2): the pointer
  * entries, the log-level `shard_summaries` map (one [[ShardSummary]] per
  * live shard NAME; absent in older logs, which then never skip) and the
  * etag the read observed.
  *
  * Immutable. An operation loads one state per table and answers every
  * metadata question from it; a commit derives its new entries from the
  * state and presents the state's etag as the If-Match precondition of
  * its publish ([[PointerLogStore.writeIf]]), so a log that moved since
  * the load fails the commit instead of dropping the other writer's
  * snapshot. `etag` is `None` only for a table whose log does not exist
  * yet (the create-if-absent publish). */
private[graft] final class TableState private[catalog] (
    val db: String,
    val table: String,
    val entries: Seq[SnapshotEntry],
    val summaries: Map[String, ShardSummary],
    private[catalog] val etag: Option[Long]) {
  import TableState._

  /** The PUBLISHED main lineage: every entry that was ever the published
    * head, in commit order — staged entries (their files surface at their
    * `publish` commit) and branch commits (they reach main only through
    * fastForward) excluded. Its consecutive file-list diffs define "what
    * each commit did to main". */
  lazy val mainLineage: Seq[SnapshotEntry] =
    entries.filter(e => !isStagedEntry(e) && !isBranchEntry(e))

  /** The last PUBLISHED entry — what "current table state" means
    * everywhere. The create entry is never staged or branched, so a
    * well-formed log always has one. */
  lazy val published: SnapshotEntry = mainLineage.lastOption.getOrElse(
    throw new IllegalStateException("corrupt log: no published snapshot"))

  /** Schema of the published entry. */
  lazy val schema: StructType = published.schema

  /** Id of the next commit derived from this state. */
  def nextId: Long = entries.last.snapshotId + 1

  /** Single-lineage write-audit-publish: no commit lands while a staged
    * snapshot is pending — publish or discard it first. */
  def requireNoPendingStage(): Unit =
    require(!isStagedEntry(entries.last),
      s"$db.$table has a pending staged snapshot ${entries.last.snapshotId}: " +
        "publishStaged or discardStaged it before committing anything else")

  /** The published entry a commit on main derives from, once
    * [[requireNoPendingStage]] holds. */
  def commitBase: SnapshotEntry = { requireNoPendingStage(); published }

  /** The entry with id `snapshotId`; no manifest is opened. */
  def entryAt(snapshotId: Long): SnapshotEntry =
    entries.find(_.snapshotId == snapshotId).getOrElse(
      throw new NoSuchElementException(s"snapshot $snapshotId not found for $db.$table"))
}

private[graft] object TableState {
  /** The state of a table whose pointer log is not written yet. */
  private[catalog] def absent(db: String, table: String): TableState =
    new TableState(db, table, Seq.empty, Map.empty, None)

  private[catalog] def parse(db: String, table: String, txt: String,
      etag: Long): TableState = Json.parse(txt) match {
    case o: JObj => new TableState(db, table,
      o.arr("entries").map(v => SnapshotEntry.fromJson(v.asInstanceOf[JObj])),
      o.get("shard_summaries") match {
        case Some(s: JObj) => s.fields.map { case (name, v) =>
          name -> ShardSummary.fromJson(v.asInstanceOf[JObj]) }.toMap
        case _ => Map.empty
      },
      Some(etag))
    case other => throw new IllegalStateException(s"bad snapshot log: $other")
  }

  /** A staged (write-audit-publish) snapshot: committed durably, fully
    * addressable by id, but INVISIBLE to current-state readers until
    * published. Marked in the summary so the flag rides the atomic log
    * write and shows up in the `snapshots` metadata table. */
  private[catalog] def isStagedEntry(e: SnapshotEntry): Boolean =
    e.summary.get("wap.staged").contains("true")

  /** A commit made TO A NAMED BRANCH (`branch.ref` in its summary): fully
    * addressable by id, listed in history, but never the published state —
    * the same invisibility discipline as a staged snapshot, generalized to
    * long-lived multi-commit lineages. */
  private[catalog] def isBranchEntry(e: SnapshotEntry): Boolean =
    e.summary.contains("branch.ref")
}
