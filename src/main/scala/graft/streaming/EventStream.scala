package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY §2.9) — this is north-star surface:
  * the same event analytics q17/q30 express in batch, as an unbounded
  * pipeline. Watermarking bounds state; `flatMapGroupsWithState` holds one
  * small session struct per active user, so state size tracks ACTIVE users
  * (not history) — the property that keeps this runnable against an
  * unbounded 100 TB/day firehose.
  */
object EventStream {

  /** EXACTLY-ONCE streaming sink into a snapshot-catalog table, the
    * `foreachBatch` way (how production Spark pipelines fed Iceberg for
    * years before native streaming writes): each micro-batch appends one
    * snapshot carrying the sink's epoch HIGH-WATER MARK in the summary,
    * so a REPLAYED batch (failure/restart redelivery — foreachBatch is
    * at-least-once) is detected and skipped instead of appended twice.
    *
    * The mark is per-`sinkId` (epoch ids are only unique per streaming
    * query — two queries feeding one table must use distinct sinkIds, and
    * a query restarted with a FRESH checkpoint is a reprocess: give it a
    * new sinkId). Every commit kind carries the marks forward, so a
    * compact/overwrite/expire between batches never reopens the replay
    * window, and the check reads only the CURRENT snapshot's summary —
    * O(1) per trigger, epochs being monotonic per query. The mark rides
    * the commit's own atomic log rename: a crash leaves either no
    * snapshot or a marked one, never an unmarked append a replay would
    * duplicate.
    *
    * {{{
    *   stream.writeStream.foreachBatch(
    *     EventStream.appendEpoch(cat, "db", "t", "ingestA") _).start()
    * }}}
    */
  def appendEpoch(cat: graft.catalog.SnapshotCatalog, db: String, table: String,
      sinkId: String = "default")(batch: DataFrame, epochId: Long): Unit = {
    val key = s"stream-epoch.$sinkId"
    val last = cat.currentSnapshot(db, table).summary.get(key).map(_.toLong)
    if (last.exists(epochId <= _)) return // replayed batch: drop, don't double-append
    cat.append(db, table, batch, Map(key -> epochId.toString))
    ()
  }

  /** Exactly-once CDC APPLY sink: a foreachBatch handler that applies a
    * `_change_type`-tagged change feed (the `db.t.changes` stream shape)
    * to a KEYED downstream table — the consuming half of the CDC loop:
    *
    *   spark.readStream.table("snapcat.db.src.changes").writeStream
    *     .foreachBatch(EventStream.applyCdcEpoch(cat, "db", "dst",
    *       keys = Seq("id")) _).start()
    *
    * Per epoch: inserts (which include every update's post-image) apply
    * through [[graft.catalog.SnapshotCatalog.upsertMoR]] — matched keys
    * die as positions, O(changed) write amplification — and keys deleted
    * WITHOUT a same-epoch re-insert drop via the zero-scan equality
    * delete (the streaming-CDC writer shape; the lazy count backfill
    * restores metadata exactness on first read). Replay protection rides
    * the same stream-epoch high-water marks as [[appendEpoch]], recorded
    * on the epoch's LAST commit; a crash between the delete and upsert
    * commits replays the whole epoch, which is idempotent BY VALUE
    * (re-deleting dead keys and re-upserting identical rows reproduce the
    * same state — only orphan churn, reclaimed by maintenance). Assumes
    * at most one live row per key on the target, the premise of keyed CDC. */
  def applyCdcEpoch(cat: graft.catalog.SnapshotCatalog, db: String, table: String,
      keys: Seq[String], sinkId: String = "cdc")(batch: DataFrame, epochId: Long): Unit = {
    val tagKey = s"stream-epoch.$sinkId"
    val last = cat.currentSnapshot(db, table).summary.get(tagKey).map(_.toLong)
    if (last.exists(epochId <= _)) return // replayed epoch: drop
    val tag = Map(tagKey -> epochId.toString)
    val keyCols = keys.map(k => col(s"`$k`"))
    // CASCADED ROW LINEAGE: when the source feed carries `_row_id` (a
    // row.lineage source's .changes stream) and the replica tracks
    // lineage too, each applied post-image KEEPS the source row's
    // identity — the replica's ids ARE the source's, so a consumer can
    // correlate rows across the whole replication chain (and the
    // replica's own .changes stream re-serves the same ids). A
    // non-lineage replica simply drops the column.
    val preserveIds = batch.columns.contains("_row_id") &&
      cat.rowLineageEnabled(db, table)
    val ins0 = batch.where(col("_change_type") === "insert").drop("_change_type")
    val inserts =
      if (preserveIds) ins0.withColumnRenamed("_row_id", "__rid")
      else if (batch.columns.contains("_row_id")) ins0.drop("_row_id")
      else ins0
    // a delete followed by a same-epoch re-insert of the key is an UPDATE:
    // the upsert's position-delete handles it; only keys that stay dead
    // need the equality delete
    val deadKeys = batch.where(col("_change_type") === "delete")
      .select(keyCols: _*)
      .join(inserts.select(keyCols: _*), keys, "left_anti")
      .dropDuplicates()
    val hasInserts = !inserts.isEmpty
    val hasDeletes = !deadKeys.isEmpty
    if (hasDeletes)
      cat.deleteMoREq(db, table, deadKeys, if (hasInserts) Map.empty else tag)
    if (hasInserts)
      cat.upsertMoR(db, table, inserts, keys, tag, explicitRids = preserveIds)
    ()
  }

  /** Exactly-once streaming NEAR-DUP dedup sink: a foreachBatch handler
    * that admits into an accumulating corpus table only documents that
    * near-duplicate neither the corpus so far nor an earlier row of the
    * same batch — the streaming face of the batch MinHash-LSH dedup
    * ([[graft.ops.Dedup]]), for ingest pipelines that must drop dups at
    * arrival time rather than in a nightly sweep.
    *
    *   docsStream.writeStream.foreachBatch(
    *     EventStream.dedupEpoch(cat, "db", "corpus", "doc_id", "text") _)
    *
    * State is two snapshot tables, auto-created: the corpus itself and a
    * NARROW bands side table `<corpus>__bands` (doc_id, band_idx,
    * band_hash — ~3 longs per band row, a ~1% inverted index over the
    * text) appended in lockstep. Per epoch:
    *   1. within-batch near-dups drop via the exact-verified batch
    *      pipeline (min-id representative);
    *   2. the batch's band signatures probe the bands table — candidate
    *      cost scales with band collisions, never corpus pairs;
    *   3. candidates verify EXACTLY (set-Jaccard >= num/den) against the
    *      corpus text of only the candidate ids — a point lookup that
    *      rides bloom/minmax file skipping when the candidate set is
    *      small enough to inline (arm the corpus with
    *      `write.bloom.columns=<idCol>` to make it sublinear);
    *   4. survivors' bands append, then survivors append, each commit
    *      carrying the epoch high-water mark of ITS table.
    *
    * Replay/crash protocol (foreachBatch is at-least-once): each table
    * skips epochs at-or-below its own mark, and the bands append lands
    * FIRST — a crash between the two leaves band rows whose ids are
    * absent from the corpus, which the exact-verify inner join ignores
    * (candidates against a missing corpus row vanish), so the replay
    * re-admits the same survivors; the orphan band rows are harmless
    * duplicates a compact of the bands table sweeps. */
  def dedupEpoch(cat: graft.catalog.SnapshotCatalog, db: String, corpus: String,
      idCol: String, textCol: String, sinkId: String = "dedup",
      w: Int = 5, num: Int = 9, den: Int = 10,
      numHashes: Int = 64, bands: Int = 32,
      maxInlineLookup: Int = 10000)(batch: DataFrame, epochId: Long): Unit = {
    import graft.ops.Dedup
    val bandsTable = corpus + "__bands"
    val tagKey = s"stream-epoch.$sinkId"
    if (!cat.tableExists(db, corpus)) cat.createTable(db, corpus, batch.schema)
    val mark = cat.currentSnapshot(db, corpus).summary.get(tagKey).map(_.toLong)
    if (mark.exists(epochId <= _)) return // replayed epoch: drop

    // 1) within-batch dedup, exact-verified, min-id representative
    val pairs = Dedup.minhashVerifiedPairs(batch, idCol, textCol,
      w, num, den, numHashes, bands)
    // localCheckpoint, not cache (r15, guide §5): the epoch's frames are
    // batch-sized but their lineage spans the whole dedup pipeline —
    // truncating it keeps every downstream action's plan leaf-sized
    val batchU = Dedup.dropNearDuplicates(batch, idCol, pairs).localCheckpoint()
    try {
      val sh = batchU.select(col(idCol).as("doc_id"),
        Dedup.wordShingles(col(textCol), w).as("shingles"))
      val sig = sh.select(col("doc_id"),
        Dedup.minhashSignature(col("shingles"), numHashes).as("sig"))
      val batchBands = Dedup.lshBands(sig, "doc_id", col("sig"),
        bands, numHashes / bands)

      // 2) probe the accumulated bands index
      val dropIds: DataFrame =
        if (!cat.tableExists(db, bandsTable))
          batchU.select(col(idCol)).limit(0)
        else {
          val stateBands = cat.readLatest(db, bandsTable)
            .toDF("state_id", "band_idx", "band_hash")
          val cand = batchBands.toDF("batch_id", "band_idx", "band_hash")
            .join(stateBands, Seq("band_idx", "band_hash"))
            .where(col("state_id") =!= col("batch_id"))
            .select("batch_id", "state_id").distinct()
          // 3) exact verify against ONLY the candidate corpus rows; a
          // small candidate set inlines as literals so the corpus read
          // file-skips (bloom/minmax), a large one degrades to a semi-join
          val candIdVals = cand.select(col("state_id")).distinct()
            .limit(maxInlineLookup + 1).collect().map(_.get(0)).toSeq
          val snapId = cat.currentSnapshot(db, corpus).snapshotId
          val candRows: DataFrame =
            if (candIdVals.isEmpty) cat.readLatest(db, corpus).limit(0)
            else if (candIdVals.size <= maxInlineLookup)
              cat.readWhere(db, corpus, snapId, col(idCol).isin(candIdVals: _*))
            else cat.readLatest(db, corpus)
              .join(cand.select(col("state_id")).distinct(),
                col(idCol) === col("state_id"), "left_semi")
          val bSh = sh.select(col("doc_id").as("batch_id"),
            array_distinct(col("shingles")).as("bsh"))
          val sSh = candRows.select(col(idCol).as("state_id"),
            array_distinct(Dedup.wordShingles(col(textCol), w)).as("ssh"))
          cand.join(bSh, "batch_id").join(sSh, "state_id")
            .where(size(array_intersect(col("bsh"), col("ssh"))) * den >=
              size(array_union(col("bsh"), col("ssh"))) * num)
            .select(col("batch_id").as(idCol)).distinct()
        }

      // 4) survivors: bands first, then corpus (see crash protocol above)
      val survivors = batchU.join(dropIds, Seq(idCol), "left_anti").localCheckpoint()
      try {
        val survBands = batchBands
          .join(survivors.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
        if (!cat.tableExists(db, bandsTable))
          cat.createTable(db, bandsTable, survBands.schema)
        val bandsMark = cat.currentSnapshot(db, bandsTable)
          .summary.get(tagKey).map(_.toLong)
        if (!bandsMark.exists(epochId <= _))
          cat.append(db, bandsTable, survBands, Map(tagKey -> epochId.toString))
        cat.append(db, corpus, survivors, Map(tagKey -> epochId.toString))
      } finally graft.catalog.SnapshotCatalog.releaseCheckpoint(survivors)
    } finally graft.catalog.SnapshotCatalog.releaseCheckpoint(batchU)
    ()
  }

  /** Tumbling-window counts/sums with a watermark for late data:
    * readStream -> withWatermark -> window agg (append mode capable). */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("value_e2"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_e2"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long)

  final case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long)

  /** Stateful sessionization (30-min inactivity gap) via
    * flatMapGroupsWithState: emits a session when a later event closes it;
    * state is one struct per user seen. The batch twin (same semantics,
    * oracle-checked) is q30_sessionize.
    *
    * NoTimeout keeps the final session of an idle user open indefinitely —
    * a production deployment would use EventTimeTimeout + watermark to
    * flush idle sessions and bound state to ACTIVE users; kept simple here
    * so streaming output is exactly comparable to the batch form in tests. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMinutes: Long = 30): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // rows within a trigger arrive unordered; sort the micro-batch
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000L
            st match {
              case null =>
                st = SessionState(us, us, 1L)
              case s if us - s.lastSeen > gapUs =>
                out += SessionOut(userId, s.start, s.lastSeen, s.nEvents)
                st = SessionState(us, us, 1L)
              case s =>
                st = s.copy(lastSeen = us, nEvents = s.nEvents + 1L)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Production sessionization: same 30-min-gap semantics as [[sessionize]]
    * plus EventTimeTimeout — when the watermark passes an idle user's
    * lastSeen + gap, the open session is FLUSHED and its state removed, so
    * state size tracks currently-ACTIVE users instead of all users ever
    * seen. That bound is what makes the operator runnable against an
    * unbounded firehose: with NoTimeout, state grows with distinct user_ids
    * forever (the one-session-per-idle-user leak the simple variant keeps
    * for exact batch comparability in tests). */
  def sessionizeWithTimeout(spark: SparkSession, events: Dataset[Event],
      gapMinutes: Long = 30, watermark: String = "1 hour"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastSeen + gap with no new events: the
            // session can never be extended — flush it and drop the state
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start, s.lastSeen, s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              st match {
                case null =>
                  st = SessionState(us, us, 1L)
                case s if us - s.lastSeen > gapUs =>
                  out += SessionOut(userId, s.start, s.lastSeen, s.nEvents)
                  st = SessionState(us, us, 1L)
                case s =>
                  st = s.copy(lastSeen = us, nEvents = s.nEvents + 1L)
              }
            }
            if (st != null) {
              state.update(st)
              // must stay ahead of the current watermark (Spark rejects a
              // timeout at/behind it — possible when a whole micro-batch
              // is late data)
              state.setTimeoutTimestamp(
                math.max(st.lastSeen / 1000L + gapMinutes * 60L * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Stream-stream attribution join — the unbounded twin of
    * [[graft.ops.TemporalJoin.pointIntervalJoin]]: every click by a user
    * within `windowMinutes` after (inclusive) one of their views, INNER and
    * end-exclusive, exactly the batch operator's semantics.
    *
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, which is what lets Spark EVICT state: a buffered view can
    * only ever match clicks in `[view_ts, view_ts + window)`, so once the
    * click watermark passes that horizon the view is dropped — state holds
    * ~window+watermark of stream, never unbounded history. Without the
    * range condition Spark would (correctly) refuse to plan an inner
    * stream-stream join with append output. */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      windowMinutes: Long = 60, watermark: String = "2 hours"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("click_user_id"), col("ts").as("click_ts"),
        floor(col("value") * 100).cast("long").as("v_e2"))
      .withWatermark("click_ts", watermark)
    v.join(c, expr(
      s"""user_id = click_user_id AND
         |click_ts >= view_ts AND
         |click_ts < view_ts + interval $windowMinutes minutes""".stripMargin))
      .select(col("view_id"), col("user_id"), col("click_id"),
        col("view_ts"), col("click_ts"), col("v_e2"))
  }

  /** Streaming exact deduplication: drop re-deliveries of the same
    * event_id inside the watermark horizon. State holds one key per id seen
    * within the horizon and is evicted as the watermark advances — the
    * bounded-state streaming twin of `Dedup.exact`. */
  def dedupeStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Count of sessions a batch of events closes + leaves open, via the
    * streaming path run synchronously over a file source. */
  def runSessionizeBatch(spark: SparkSession, eventsDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val q = sessionize(spark, stream).toDF()
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table("sessions_out")
  }
}
