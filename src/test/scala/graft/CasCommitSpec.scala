package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CasCommitMutex, CommitConflictException, InMemoryObjectStore, ObjectStorePointerLogStore, Snapshot, SnapshotCatalog}

/** The object-store commit loop (COMMITS.md §"Object-store mapping")
  * exercised end-to-end against the in-memory conditional-put store:
  * the same five-step protocol SnapshotCatalog runs behind the
  * CommitMutex seam, with the atomic rename replaced by a conditional
  * put of the pointer log. Mirrors the file-lock race spec
  * ("concurrent appenders never lose a commit") with 4 threads, plus
  * the crash orderings the local protocol's analysis covers. */
class CasCommitSpec extends AnyFunSuite {

  /** One commit through the documented protocol: read log (+etag) ->
    * assign next id INSIDE the body -> plain-put the shard -> publish
    * via conditional put. Returns the committed id. `crashBeforePublish`
    * simulates a writer dying between steps 4 and 5. */
  private def commitOnce(store: InMemoryObjectStore, mutex: CasCommitMutex,
      payload: String, crashBeforePublish: Boolean = false): Long = {
    val lockPath = Paths.get("/tmp/unused-cas-lock") // seam API compat; never touched
    mutex.withLock("t", lockPath) {
      // step 2: RE-READ state inside the body (the re-runnability contract)
      val cur = store.get("log.json")
      val entries = cur.map(o => new String(o.bytes, UTF_8).split("\n").toSeq
        .filter(_.nonEmpty)).getOrElse(Seq.empty)
      val nextId = entries.size + 1
      // step 3/4: write-once shard under the id assigned in-body
      store.put(s"m$nextId-$payload.json", s"shard $payload".getBytes(UTF_8))
      if (crashBeforePublish) throw new RuntimeException("simulated crash")
      // step 5: the commit point — conditional put of the pointer log
      store.putIf("log.json",
        (entries :+ s"$nextId:$payload").mkString("\n").getBytes(UTF_8),
        cur.map(_.etag))
      nextId
    }
  }

  test("4 racing committers never lose a commit (CAS loop, no lock)") {
    val store = new InMemoryObjectStore
    val mutex = new CasCommitMutex
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        try (1 to 3).foreach(i => commitOnce(store, mutex, s"w$t-c$i"))
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    val log = new String(store.get("log.json").get.bytes, UTF_8).split("\n").toSeq
    // every one of the 12 commits is in the log exactly once, ids dense —
    // without the CAS the interleaved read-modify-writes silently drop
    // entries (last writer wins)
    assert(log.size == 12, log.toString)
    assert(log.map(_.takeWhile(_ != ':').toLong).sorted == (1L to 12L), log.toString)
    assert((1 to 4).flatMap(t => (1 to 3).map(i => s"w$t-c$i"))
      .forall(p => log.exists(_.endsWith(p))))
    // the etag advanced once per successful publish
    assert(store.get("log.json").get.etag == 12L)
  }

  test("crash orderings: pre-publish leaves orphans only; conflict losers retry clean") {
    val store = new InMemoryObjectStore
    val mutex = new CasCommitMutex
    commitOnce(store, mutex, "base")
    // crash between shard write and publish: log unchanged, the shard is
    // an unreferenced orphan (the sweeper's job, never corruption)
    intercept[RuntimeException] {
      commitOnce(store, mutex, "crashed", crashBeforePublish = true)
    }
    val log1 = new String(store.get("log.json").get.bytes, UTF_8)
    assert(log1 == "1:base", log1)
    assert(store.keys.exists(_.contains("crashed")), "orphan shard present")
    // the next commit reuses the id the crashed attempt never published
    assert(commitOnce(store, mutex, "after") == 2L)
    // a conditional put against a stale etag is a conflict, not a win
    val stale = intercept[CommitConflictException] {
      store.putIf("log.json", "bogus".getBytes(UTF_8), Some(1L))
    }
    assert(stale.getMessage.contains("etag moved"), stale.getMessage)
    // If-None-Match creation: second creator loses
    store.putIf("other.json", "a".getBytes(UTF_8), None)
    intercept[CommitConflictException] {
      store.putIf("other.json", "b".getBytes(UTF_8), None)
    }
  }

  test("contention is observable and bounded: conflicts happened, retries resolved them") {
    val store = new InMemoryObjectStore
    val mutex = new CasCommitMutex
    // DETERMINISTIC contention (the free-for-all above may or may not
    // collide under the scheduler): both writers rendezvous after reading
    // the same log state and before publishing, so exactly one conditional
    // put must lose; the mutex's retry loop then lands the loser cleanly.
    // Only the FIRST attempt per thread is gated — a retry runs free, so
    // the barrier can't deadlock against an already-finished winner.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val firstAttempt = ThreadLocal.withInitial[java.lang.Boolean](() => true)
    val lockPath = Paths.get("/tmp/unused-cas-lock")
    def commitGated(payload: String): Unit = mutex.withLock("t", lockPath) {
      val cur = store.get("log.json")
      val entries = cur.map(o => new String(o.bytes, UTF_8).split("\n").toSeq
        .filter(_.nonEmpty)).getOrElse(Seq.empty)
      store.put(s"m${entries.size + 1}-$payload.json", payload.getBytes(UTF_8))
      if (firstAttempt.get()) {
        firstAttempt.set(false)
        barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      store.putIf("log.json",
        (entries :+ s"${entries.size + 1}:$payload").mkString("\n").getBytes(UTF_8),
        cur.map(_.etag))
    }
    val threads = (1 to 2).map(t => new Thread(() => commitGated(s"t$t")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val log = new String(store.get("log.json").get.bytes, UTF_8).split("\n")
    assert(log.length == 2, log.toSeq.toString)
    // exactly one loser, retried to success — both payloads in the log
    assert(store.conflicts == 1, s"expected exactly one conflict, got ${store.conflicts}")
    assert((1 to 2).forall(t => log.exists(_.endsWith(s"t$t"))), log.toSeq.toString)
  }

  // ---- the same protocol THROUGH SnapshotCatalog (r7): the pointer log
  // rides the ObjectStorePointerLogStore, commits are CasCommitMutex
  // optimistic bodies, data/manifest artifacts are attempt-unique ----

  test("catalog-level: 4 racing appenders over the object-store log lose no commits") {
    val spark = TestSpark.spark
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_caswh_").toString
    val store = new InMemoryObjectStore
    // each writer gets its OWN catalog instance — they share nothing but
    // the store (the pointer log) and the warehouse dir (the data plane),
    // exactly the multi-driver object-store deployment shape
    def mk() = new SnapshotCatalog(spark, wh,
      mutex = new CasCommitMutex, log = new ObjectStorePointerLogStore(store))
    val cat0 = mk()
    cat0.createNamespace("db")
    cat0.createTable("db", "t", Seq((1L, "x")).toDF("id", "v").schema)
    val writers = 4
    val appendsEach = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { w =>
      new Thread(() => {
        try {
          val cat = mk()
          for (i <- 1 to appendsEach)
            cat.append("db", "t", Seq((w * 100L + i, s"w$w-$i")).toDF("id", "v"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    // no lost commit: every append is a distinct sequential snapshot
    val head = cat0.currentSnapshot("db", "t")
    assert(head.snapshotId == 1 + writers * appendsEach,
      s"expected ${1 + writers * appendsEach}, got ${head.snapshotId}")
    val ids = cat0.readLatest("db", "t").select("id").as[Long].collect().sorted.toSeq
    val expect = (for (w <- 1 to writers; i <- 1 to appendsEach) yield w * 100L + i).sorted
    assert(ids == expect, s"lost rows: got ${ids.size}, want ${expect.size}")
    // losing attempts left only ORPHAN debris (attempt-unique dirs no
    // entry references); the sweeper reclaims them without touching state
    cat0.removeOrphanFiles("db", "t")
    assert(cat0.readLatest("db", "t").select("id").as[Long].collect().sorted.toSeq == expect)
    assert(cat0.recordCount("db", "t", head.snapshotId) == writers * appendsEach)
  }

  test("catalog-level: adoptFiles retries a lost CAS race with the source dir restored") {
    val spark = TestSpark.spark
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_caswh3_").toString
    val store = new InMemoryObjectStore
    val inner = new ObjectStorePointerLogStore(store)
    // loses exactly one conditional put (after arming), then behaves —
    // the shape of a real racer winning between our read and our publish
    val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flaky = new graft.catalog.PointerLogStore {
      override def read(key: String) = inner.read(key)
      override def delete(key: String): Unit = inner.delete(key)
      override def conditional: Boolean = true
      override def writeIf(key: String, content: String, expected: Option[Long]): Long =
        if (failNext.compareAndSet(true, false))
          throw new CommitConflictException(key, "simulated lost race")
        else inner.writeIf(key, content, expected)
    }
    val cat = new SnapshotCatalog(spark, wh,
      mutex = new CasCommitMutex, log = flaky)
    cat.createNamespace("db")
    val ext = java.nio.file.Files.createTempDirectory("graft_casadopt_")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(ext.toString)
    cat.createTable("db", "ad", spark.read.parquet(ext.toString).schema)
    failNext.set(true)
    // the first attempt renames the source files into its attempt dir,
    // loses the conditional put, moves them BACK, and the mutex re-runs
    // the body against the fresh log — the adoption must land exactly once
    val snap = cat.adoptFiles("db", "ad", ext, "append")
    assert(snap.summary("record_count") == "2")
    assert(cat.readLatest("db", "ad").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // the source parquet was consumed by the SUCCESSFUL attempt only
    // (_SUCCESS / .crc sidecars legitimately stay behind)
    val leftover = {
      val s = java.nio.file.Files.list(ext)
      try {
        val it = s.iterator()
        var acc = List.empty[String]
        while (it.hasNext) acc ::= it.next().getFileName.toString
        acc
      } finally s.close()
    }
    assert(!leftover.exists(_.endsWith(".parquet")),
      s"source parquet must be adopted exactly once, left: $leftover")
  }

  test("catalog-level: a racer landing between a MoR body's two log reads is never lost") {
    // The lost-update shape: a commit body derives its entries list from
    // the table state it loaded, then publishes it. If a racer publishes
    // between the load and the publish, the entries list (computed WITHOUT
    // the racer's commit) would silently drop the racer's snapshot unless
    // the publish's If-Match precondition is the LOADED state's etag —
    // which must force a conflict + clean whole-body retry. Two victims:
    // the MoR delete, and the compound CoW delete (prune, then the nested
    // commit of the rewrite).
    val spark = TestSpark.spark
    import spark.implicits._
    def raceVictim(victimOp: SnapshotCatalog => Snapshot): Unit = {
      val wh = java.nio.file.Files.createTempDirectory("graft_caswh4_").toString
      val store = new InMemoryObjectStore
      val inner = new ObjectStorePointerLogStore(store)
      val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
      @volatile var racerErr: Option[Throwable] = None
      val interposing = new graft.catalog.PointerLogStore {
        override def delete(key: String): Unit = inner.delete(key)
        override def conditional: Boolean = true
        override def read(key: String) = inner.read(key)
        override def writeIf(key: String, content: String, expected: Option[Long]): Long = {
          // one-shot: at the victim's first conditional put after arming
          // (its publish), let a racer publish FIRST — the racer lands
          // between the victim body's state load and its publish, exactly
          // the interleaving of a real race
          if (key.endsWith("log.json") && armed.compareAndSet(true, false)) {
            val racer = new Thread(() => {
              try {
                val cat = new SnapshotCatalog(spark, wh,
                  mutex = new CasCommitMutex, log = inner)
                cat.append("db", "t", Seq((100L, "racer")).toDF("id", "v"))
              } catch { case t: Throwable => racerErr = Some(t) }
            })
            racer.start(); racer.join()
          }
          inner.writeIf(key, content, expected)
        }
      }
      val victim = new SnapshotCatalog(spark, wh,
        mutex = new CasCommitMutex, log = interposing)
      victim.createNamespace("db")
      victim.createTable("db", "t", Seq((1L, "x")).toDF("id", "v").schema)
      victim.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      armed.set(true)
      victimOp(victim)
      assert(racerErr.isEmpty, s"racer failed: $racerErr")
      // the victim's first attempt must have LOST the conditional put
      assert(store.conflicts >= 1, s"expected the victim to conflict, got ${store.conflicts}")
      // nothing lost: racer's row present, victim's delete applied, and the
      // racer's snapshot is in the lineage (create=1, append=2, racer=3, delete=4)
      val clean = new SnapshotCatalog(spark, wh,
        mutex = new CasCommitMutex, log = inner)
      val rows = clean.readLatest("db", "t").select("id").as[Long].collect().sorted.toSeq
      assert(rows == Seq(2L, 100L), s"lost update: $rows")
      assert(clean.currentSnapshot("db", "t").snapshotId == 4L)
      assert(clean.entryLog("db", "t").map(_.snapshotId) == Seq(1L, 2L, 3L, 4L))
    }
    raceVictim(_.deleteMoR("db", "t", org.apache.spark.sql.functions.col("id") === 1))
    raceVictim(_.delete("db", "t", org.apache.spark.sql.functions.col("id") === 1))
  }

  test("catalog-level: crash between data write and log publish leaves orphans only") {
    val spark = TestSpark.spark
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_caswh2_").toString
    val store = new InMemoryObjectStore
    val healthy = new SnapshotCatalog(spark, wh,
      mutex = new CasCommitMutex, log = new ObjectStorePointerLogStore(store))
    healthy.createNamespace("db")
    healthy.createTable("db", "t", Seq((1L, "x")).toDF("id", "v").schema)
    healthy.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val before = healthy.currentSnapshot("db", "t")
    // a writer that dies AFTER the data write, AT the publish: its
    // conditional put never happens (non-conflict failure, so the CAS
    // loop must NOT retry it — the process is gone)
    val inner = new ObjectStorePointerLogStore(store)
    val crashing = new graft.catalog.PointerLogStore {
      override def read(key: String) = inner.read(key)
      override def delete(key: String): Unit = inner.delete(key)
      override def conditional: Boolean = true
      override def writeIf(key: String, content: String, expected: Option[Long]): Long =
        throw new RuntimeException("simulated crash before publish")
    }
    val dying = new SnapshotCatalog(spark, wh,
      mutex = new CasCommitMutex, log = crashing)
    val e = intercept[RuntimeException] {
      dying.append("db", "t", Seq((99L, "dead")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("simulated crash"), e.getMessage)
    // nothing visible changed: same head, same rows, through a clean reader
    val after = healthy.currentSnapshot("db", "t")
    assert(after.snapshotId == before.snapshotId && after.files == before.files)
    assert(healthy.readLatest("db", "t").count() == 2)
    // the crashed attempt's parquet is on disk as unreferenced debris —
    // the orphan sweep reclaims it and the table is untouched
    val removed = healthy.removeOrphanFiles("db", "t")
    assert(removed.exists(_.endsWith(".parquet")),
      s"expected orphaned data parquet, swept: $removed")
    assert(healthy.readLatest("db", "t").count() == 2)
  }
}
