package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog
import graft.ops.{IndexMaintainer, Similarity, VectorIndex}

/** The persistent incremental vector index: parity with the per-query IVF
  * operator, churn-only maintenance, frozen centroids, and the
  * partition-pruned probe scan. */
class VectorIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def newCat(): SnapshotCatalog = {
    var tick = 0L
    new SnapshotCatalog(spark, Files.createTempDirectory("graft_vix_").toString,
      clock = () => { tick += 1; Instant.parse("2026-04-01T00:00:00Z").plusSeconds(tick * 60) })
  }

  private def queries = emb.where(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("index topK equals the per-query IVF operator on the same corpus") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb)
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    val got = VectorIndex.topK(cat, "ann", "idx", queries, "qid", "qvec",
      k = 10, nprobe = 3).as[(Long, Long, Long)].collect().toSet
    val want = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 10, nlist = 8, nprobe = 3, iters = 2, sampleMod = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("refresh is incremental under append+delete+update churn, never retrains, stays exact") {
    val cat = newCat()
    val init = emb.where(col("vec_id") % 2 === 0)
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", init)
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    assert(VectorIndex.refresh(cat, "ann", "idx") == ("fresh", 0L))

    // churn: kill some ids, move one id's vector (update = del+ins of the
    // same id), ingest the odd half
    cat.deleteMoR("ann", "base", col("vec_id") % 10 === 0)
    cat.updateMoR("ann", "base", col("vec_id") === 2,
      Map("embedding" -> transform(col("embedding"), x => -x)))
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 1))

    val t0 = VectorIndex.trainingCount
    val (mode, commits) = VectorIndex.refresh(cat, "ann", "idx")
    assert(mode == "incremental", s"expected metadata-path refresh, got $mode")
    assert(commits == 3L)
    assert(VectorIndex.trainingCount == t0, "refresh must not retrain")

    // the refreshed index holds exactly one assignment per live base row,
    // equal to a from-scratch re-assignment under the SAME frozen centroids
    val cents = VectorIndex.centroids(cat, "ann", "idx")
    val want = cat.readLatest("ann", "base")
      .select(col("vec_id"),
        Similarity.ivfCell(Similarity.quantize(col("embedding")), cents).as("cell"))
      .as[(Long, Long)].collect().toSet
    val got = cat.readLatest("ann", "idx")
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toSet
    assert(got == want)
    // and the moved vector's stored copy is the NEW value
    val moved = cat.readLatest("ann", "idx").where(col("vec_id") === 2)
      .select(col("vec")).as[Seq[Double]].collect()
    val base2 = cat.readLatest("ann", "base").where(col("vec_id") === 2)
      .select(Similarity.toDouble(col("embedding"))).as[Seq[Double]].collect()
    assert(moved.toSeq == base2.toSeq)
  }

  test("non-enumerable range (rollback) falls back to full re-assignment, centroids frozen") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    val centsBefore = VectorIndex.centroids(cat, "ann", "idx").map(_.toSeq)
    cat.deleteMoR("ann", "base", col("vec_id") % 6 === 0)
    cat.rollback("ann", "base", toSnapshotId = 2)
    val t0 = VectorIndex.trainingCount
    val (mode, _) = VectorIndex.refresh(cat, "ann", "idx")
    assert(mode == "full")
    assert(VectorIndex.trainingCount == t0)
    assert(VectorIndex.centroids(cat, "ann", "idx").map(_.toSeq) == centsBefore)
    val n = cat.readLatest("ann", "idx").count()
    assert(n == cat.readLatest("ann", "base").count())
  }

  test("probe scan reads only the probed cells' partitions") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb)
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    val cents = VectorIndex.centroids(cat, "ann", "idx")
    val probed = queries
      .select(explode(Similarity.ivfProbes(
        Similarity.quantize(col("qvec")), cents, 3)).as("cell"))
      .distinct().as[Long].collect().toSet
    assert(probed.size < 8, "fixture should leave at least one unprobed cell")
    val scan = cat.readLatestWhere("ann", "idx", col("cell").isin(probed.toSeq: _*))
    val files = scan.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val cell = "cell=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)
      assert(cell.exists(probed), s"scan read an unprobed partition: $f")
    }
  }

  test("randomized churn battery: refresh parity holds under every interleaving") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb.where(col("vec_id") % 4 === 0))
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    val cents = VectorIndex.centroids(cat, "ann", "idx")
    val rnd = new scala.util.Random(12)
    val t0 = VectorIndex.trainingCount
    for (step <- 1 to 12) {
      rnd.nextInt(4) match {
        case 0 => cat.append("ann", "base",
          emb.where(col("vec_id") % 7 === rnd.nextInt(7).toLong))
        case 1 => cat.deleteMoR("ann", "base",
          col("vec_id") % 5 === rnd.nextInt(5).toLong)
        case 2 => cat.updateMoR("ann", "base",
          col("vec_id") % 11 === rnd.nextInt(11).toLong,
          Map("embedding" -> transform(col("embedding"), x => -x)))
        case 3 =>
          val (mode, _) = VectorIndex.refresh(cat, "ann", "idx")
          assert(mode != "full", s"step $step: metadata path must hold, got $mode")
      }
      // note: appends may re-add already-present ids (multiset growth) —
      // the invariant below compares full (id, cell) MULTISETS
      if (step % 4 == 0) {
        VectorIndex.refresh(cat, "ann", "idx")
        val want = cat.readLatest("ann", "base")
          .select(col("vec_id"),
            Similarity.ivfCell(Similarity.quantize(col("embedding")), cents).as("cell"))
          .as[(Long, Long)].collect().sorted.toSeq
        val got = cat.readLatest("ann", "idx")
          .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().sorted.toSeq
        assert(got == want, s"index diverged from base at step $step")
      }
    }
    assert(VectorIndex.trainingCount == t0, "no interleaving may retrain")
  }

  test("large probed sets prune driver-side: no giant IN literal in the plan (r13)") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb)
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    // inline path first (default threshold)
    val inline = VectorIndex.topK(cat, "ann", "idx", queries, "qid", "qvec",
      k = 10, nprobe = 3)
    val want = inline.as[(Long, Long, Long)].collect().toSet
    val inlineFiles = inline.inputFiles.filter(_.contains("cell=")).toSet
    // now force the above-threshold path: the probed-cell literal must
    // stay OUT of the plan while the pruned file set stays identical
    spark.conf.set(IndexMaintainer.MaxInlineProbesKey, "2")
    try {
      val pruned = VectorIndex.topK(cat, "ann", "idx", queries, "qid", "qvec",
        k = 10, nprobe = 3)
      val plan = pruned.queryExecution.executedPlan.toString
      // a LITERAL value list (`cell#N IN (0,3,...)`) is the bloat; Spark's
      // own `IN dynamicpruning#N` subquery is fine (and desirable)
      assert(!plan.matches("(?s).*cell#\\d+L? IN \\(.*"),
        s"probed-cell IN literal leaked into the plan:\n${plan.take(4000)}")
      assert(pruned.inputFiles.filter(_.contains("cell=")).toSet == inlineFiles,
        "driver-side pruning must read exactly the probed partitions")
      assert(pruned.as[(Long, Long, Long)].collect().toSet == want)
    } finally spark.conf.unset(IndexMaintainer.MaxInlineProbesKey)
  }

  test("create refuses an orphan _cent table up front and retries after a drop (r13)") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb)
    // simulate the wreckage of an interrupted create: _cent exists, idx doesn't
    cat.createTable("ann", "idx_cent",
      org.apache.spark.sql.types.StructType.fromDDL("cid BIGINT, c ARRAY<DOUBLE>"))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
        nlist = 8, iters = 2, sampleMod = 3)
    }
    assert(e.getMessage.contains("idx_cent"), e.getMessage)
    // the prescribed manual drop unwedges the name; retry succeeds whole
    cat.dropTable("ann", "idx_cent")
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    assert(cat.tableExists("ann", "idx") && cat.tableExists("ann", "idx_cent"))
    assert(VectorIndex.refresh(cat, "ann", "idx") == ("fresh", 0L))
  }

  test("PQ index: bytes shrink d*8/m-fold, covering refine equals flat, churn refreshes (r13)") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.create(cat, "ann", "base", "flat", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    VectorIndex.create(cat, "ann", "base", "pq", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3, pq = Some((16, 8)))

    def indexBytes(n: String): Long = {
      val snap = cat.currentSnapshot("ann", n)
      snap.files.map(f => snap.fileStats(f)("bytes").toLong).sum
    }
    // d=64 doubles -> 16 bytes + norm: the stored-payload drop is the
    // whole point; parquet overhead eats some of it on a tiny fixture,
    // so assert a conservative 2x
    assert(indexBytes("pq") * 2 < indexBytes("flat"),
      s"pq=${indexBytes("pq")}B flat=${indexBytes("flat")}B")

    // churn: deletes + an update + ingest, refresh stays incremental and
    // never retrains (codes are per-row values — the discipline carries)
    cat.deleteMoR("ann", "base", col("vec_id") % 10 === 0)
    cat.updateMoR("ann", "base", col("vec_id") === 2,
      Map("embedding" -> transform(col("embedding"), x => -x)))
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 1))
    val t0 = VectorIndex.trainingCount
    assert(VectorIndex.refresh(cat, "ann", "flat")._1 == "incremental")
    assert(VectorIndex.refresh(cat, "ann", "pq")._1 == "incremental")
    assert(VectorIndex.trainingCount == t0, "refresh must not retrain")

    // with a refine that covers the probed cells, the PQ path's exact
    // re-rank against the base-at-pin equals the flat index exactly
    // (recall 1.0 by construction); production tunes refine down
    val flatTop = VectorIndex.topK(cat, "ann", "flat", queries, "qid", "qvec",
      k = 10, nprobe = 3).as[(Long, Long, Long)].collect().toSet
    val pqTop = VectorIndex.topK(cat, "ann", "pq", queries, "qid", "qvec",
      k = 10, nprobe = 3, refine = 500).as[(Long, Long, Long)].collect().toSet
    assert(pqTop == flatTop)
    // a production-sized refine keeps recall high (ADC ordering is
    // approximate; the shortlist re-rank is exact)
    val pqSmall = VectorIndex.topK(cat, "ann", "pq", queries, "qid", "qvec",
      k = 10, nprobe = 3, refine = 4).as[(Long, Long, Long)].collect()
      .map { case (q, n, _) => (q, n) }.toSet
    val flatPairs = flatTop.map { case (q, n, _) => (q, n) }
    val recall = flatPairs.count(pqSmall) .toDouble / flatPairs.size
    assert(recall >= 0.8, s"recall@10 = $recall")

    // rebuild retrains BOTH the coarse quantizer and the codebooks
    VectorIndex.rebuild(cat, "ann", "pq")
    assert(VectorIndex.trainingCount == t0 + 1)
    assert(VectorIndex.refresh(cat, "ann", "pq") == ("fresh", 0L))
    assert(cat.readLatest("ann", "pq").count() ==
      cat.readLatest("ann", "base").count())
  }

  test("nearDupPairs serves the SemDeDup cell comparison from the index (r13)") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    cat.deleteMoR("ann", "base", col("vec_id") % 10 === 0)
    cat.append("ann", "base", emb.where(col("vec_id") % 2 === 1))
    VectorIndex.refresh(cat, "ann", "idx")
    val got = VectorIndex.nearDupPairs(cat, "ann", "idx", tau = 0.35)
      .as[(Long, Long)].collect().toSet
    // brute force: frozen-cell assignment of the current corpus, exact
    // pairwise cosine within cells
    val cents = VectorIndex.centroids(cat, "ann", "idx")
    val cur = cat.readLatest("ann", "base")
      .select(col("vec_id"),
        Similarity.ivfCell(Similarity.quantize(col("embedding")), cents).as("cell"),
        Similarity.toDouble(col("embedding")).as("v"))
      .as[(Long, Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      x <- cur; y <- cur
      if x._2 == y._2 && x._1 < y._1 && cos(x._3, y._3) >= 0.35
    } yield (x._1, y._1)).toSet
    assert(want.nonEmpty, "fixture should contain near-dup pairs")
    assert(got == want)
    // a PQ index refuses honestly (codes cannot exact-compare)
    VectorIndex.create(cat, "ann", "base", "pqi", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3, pq = Some((16, 8)))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.nearDupPairs(cat, "ann", "pqi", tau = 0.35)
    }
    assert(e.getMessage.contains("FLAT"), e.getMessage)
  }

  test("rebuild retrains deliberately and re-pins") {
    val cat = newCat()
    cat.createTable("ann", "base", emb.schema)
    cat.append("ann", "base", emb.where(col("vec_id") % 4 === 0))
    VectorIndex.create(cat, "ann", "base", "idx", "vec_id", "embedding",
      nlist = 8, iters = 2, sampleMod = 3)
    cat.append("ann", "base", emb.where(col("vec_id") % 4 =!= 0))
    val t0 = VectorIndex.trainingCount
    VectorIndex.rebuild(cat, "ann", "idx")
    assert(VectorIndex.trainingCount == t0 + 1)
    assert(VectorIndex.refresh(cat, "ann", "idx") == ("fresh", 0L))
    // rebuilt index serves the full corpus
    assert(cat.readLatest("ann", "idx").count() == emb.count())
  }
}
