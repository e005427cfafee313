package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog
import graft.ops.{IndexMaintainer, Retrieval, TextIndex}

/** The persistent incremental inverted text index: BM25 parity with the
  * recompute operator, churn-only maintenance, exact folded corpus
  * scalars, and the bucket-pruned query scan. */
class TextIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def newCat(): SnapshotCatalog = {
    var tick = 0L
    new SnapshotCatalog(spark, Files.createTempDirectory("graft_tix_").toString,
      clock = () => { tick += 1; Instant.parse("2026-04-01T00:00:00Z").plusSeconds(tick * 60) })
  }

  private def queries = docs.where(col("doc_id") < 5)
    .select(col("doc_id").as("qid"), substring(col("text"), 1, 48).as("qtext"))

  private type Hit = (Long, Long, Long, Long) // query_id, doc_id, score_q, rank

  private def fromIndex(cat: SnapshotCatalog, k: Int = 10): Set[Hit] =
    TextIndex.topK(cat, "lex", "idx", queries, "qid", "qtext",
        k = k, k1 = 1.5, b = 0.75)
      .select("query_id", "doc_id", "score_q", "rank")
      .as[Hit].collect().toSet

  private def recomputed(corpus: org.apache.spark.sql.DataFrame,
      k: Int = 10): Set[Hit] =
    Retrieval.bm25TopK(corpus, "doc_id", "text", queries, "qid", "qtext",
        k = k, k1 = 1.5, b = 0.75)
      .select("query_id", "doc_id", "score_q", "rank")
      .as[Hit].collect().toSet

  /** The folded corpus scalars must equal a from-scratch recount — the
    * invariant every incremental fold is judged against. */
  private def assertStatsExact(cat: SnapshotCatalog): Unit = {
    val p = cat.meta("lex", "idx").properties
    val r = cat.readLatest("lex", "base")
      .select(size(filter(split(lower(col("text")), "\\s+"), t => t =!= lit("")))
        .cast("long").as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    assert(p(TextIndex.PropNDocs).toLong == r.getLong(0), "n-docs drifted")
    assert(p(TextIndex.PropTotalDl).toLong == r.getLong(1), "total-dl drifted")
  }

  test("index topK equals the recompute operator on the same corpus") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs)
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    assert(fromIndex(cat) == recomputed(docs))
    assertStatsExact(cat)
    assert(TextIndex.refresh(cat, "lex", "idx") == ("fresh", 0L))
  }

  test("refresh is incremental under append+delete+update churn, stays exact") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs.where(col("doc_id") % 2 === 0))
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)

    // churn: kill some ids, rewrite one id's text (update = del+ins of
    // the same id — postings AND its dl must move), ingest the odd half
    cat.deleteMoR("lex", "base", col("doc_id") % 10 === 0)
    cat.updateMoR("lex", "base", col("doc_id") === 2,
      Map("text" -> concat(col("text"), lit(" zzzuniquetoken zzzuniquetoken"))))
    cat.append("lex", "base", docs.where(col("doc_id") % 2 === 1))

    val (mode, commits) = TextIndex.refresh(cat, "lex", "idx")
    assert(mode == "incremental", s"expected metadata-path refresh, got $mode")
    assert(commits == 3L)
    assertStatsExact(cat)
    assert(fromIndex(cat) == recomputed(cat.readLatest("lex", "base")))
    // the rewritten doc's stored postings carry the new token
    val z = cat.readLatest("lex", "idx")
      .where(col("term") === "zzzuniquetoken")
      .select("doc_id", "tf").as[(Long, Long)].collect().toSeq
    assert(z == Seq((2L, 2L)), s"updated doc's postings stale: $z")
  }

  test("non-enumerable range (rollback) falls back to full, stays exact") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs.where(col("doc_id") % 2 === 0))
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    cat.deleteMoR("lex", "base", col("doc_id") % 6 === 0)
    cat.rollback("lex", "base", toSnapshotId = 2)
    val (mode, _) = TextIndex.refresh(cat, "lex", "idx")
    assert(mode == "full")
    assertStatsExact(cat)
    assert(fromIndex(cat) == recomputed(cat.readLatest("lex", "base")))
  }

  test("query scan reads only the query terms' bucket partitions") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs)
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 64)
    // one single-term query: its bucket is the only partition a scan may
    // touch (64 buckets over a 500-doc corpus leaves most unprobed)
    val q1 = Seq((0L, "the")).toDF("qid", "qtext")
    val probed = q1.select(pmod(xxhash64(lower(col("qtext"))), lit(64L)))
      .as[Long].head()
    val scan = cat.readLatestWhere("lex", "idx", col("bucket") === probed)
    val all = cat.readLatest("lex", "idx").inputFiles.length
    val files = scan.inputFiles
    assert(files.nonEmpty && files.length < all)
    files.foreach { f =>
      val b = "bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)
      assert(b.contains(probed), s"scan read an unprobed partition: $f")
    }
    // and the served result equals the recompute path
    val got = TextIndex.topK(cat, "lex", "idx", q1, "qid", "qtext", k = 5)
      .select("query_id", "doc_id", "score_q", "rank").as[Hit].collect().toSet
    val want = Retrieval.bm25TopK(docs, "doc_id", "text", q1, "qid", "qtext", k = 5)
      .select("query_id", "doc_id", "score_q", "rank").as[Hit].collect().toSet
    assert(got == want)
  }

  test("large probed sets prune driver-side: no giant IN literal in the plan") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs)
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    val inline = TextIndex.topK(cat, "lex", "idx", queries, "qid", "qtext",
      k = 10, k1 = 1.5, b = 0.75)
    val want = inline.select("query_id", "doc_id", "score_q", "rank")
      .as[Hit].collect().toSet
    val inlineFiles = inline.inputFiles.filter(_.contains("bucket=")).toSet
    spark.conf.set(IndexMaintainer.MaxInlineProbesKey, "2")
    try {
      val pruned = TextIndex.topK(cat, "lex", "idx", queries, "qid", "qtext",
        k = 10, k1 = 1.5, b = 0.75)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(!plan.matches("(?s).*bucket#\\d+L? IN \\(.*"),
        s"probed-bucket IN literal leaked into the plan:\n${plan.take(4000)}")
      assert(pruned.inputFiles.filter(_.contains("bucket=")).toSet == inlineFiles,
        "driver-side pruning must read exactly the probed partitions")
      assert(pruned.select("query_id", "doc_id", "score_q", "rank")
        .as[Hit].collect().toSet == want)
    } finally spark.conf.unset(IndexMaintainer.MaxInlineProbesKey)
  }

  test("unseen query terms match nothing; a term-less batch returns empty") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs)
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    val unseen = Seq((1L, "qqqqnosuchtoken wwwwnosuchtoken")).toDF("qid", "qtext")
    assert(TextIndex.topK(cat, "lex", "idx", unseen, "qid", "qtext", k = 5).isEmpty)
    val termless = Seq((1L, "   ")).toDF("qid", "qtext")
    val r = TextIndex.topK(cat, "lex", "idx", termless, "qid", "qtext", k = 5)
    assert(r.isEmpty)
    assert(r.schema.fieldNames.toSeq ==
      Seq("query_id", "doc_id", "score_q", "rank"))
  }

  test("create is retryable: a failed attempt never strands the name") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.schema)
    cat.append("lex", "base", docs)
    intercept[Exception] { // no such text column: fails after existence checks
      TextIndex.create(cat, "lex", "base", "idx", "doc_id", "no_such_col")
    }
    assert(!cat.tableExists("lex", "idx"), "failed create must clean up")
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    assert(fromIndex(cat) == recomputed(docs))
  }

  test("randomized churn battery: parity holds under every interleaving") {
    val cat = newCat()
    cat.createTable("lex", "base", docs.where(col("doc_id") % 3 === 0).schema)
    cat.append("lex", "base", docs.where(col("doc_id") % 3 === 0))
    TextIndex.create(cat, "lex", "base", "idx", "doc_id", "text", nbuckets = 16)
    // the index id-keys its repair, so the battery keeps ids UNIQUE (the
    // documented contract): appends re-ingest only currently-dead ids
    var live = docs.where(col("doc_id") % 3 === 0)
      .select("doc_id").as[Long].collect().toSet
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    val rnd = new scala.util.Random(7)
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 =>
          val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m)
          val dead = (allIds -- live).filter(_ % m == r)
          if (dead.nonEmpty) {
            cat.append("lex", "base",
              docs.where(col("doc_id").isin(dead.toSeq: _*)))
            live ++= dead
          }
        case 1 =>
          val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m)
          cat.deleteMoR("lex", "base", col("doc_id") % m === r)
          live --= live.filter(_ % m == r)
        case 2 =>
          val m = 2 + rnd.nextInt(9); val r = rnd.nextInt(m)
          cat.updateMoR("lex", "base", col("doc_id") % m === r,
            Map("text" -> concat(col("text"), lit(s" churn$step churn$step"))))
        case 3 =>
          // a COMPACTION in the range is row-preserving — the metadata
          // walk sees through it and the refresh must stay incremental
          if (step % 2 == 0) cat.compact("lex", "base", 2)
          val (mode, _) = TextIndex.refresh(cat, "lex", "idx")
          assert(mode != "full", s"step $step: metadata path must hold, got $mode")
      }
      if (step % 3 == 0) {
        TextIndex.refresh(cat, "lex", "idx")
        assertStatsExact(cat)
        assert(fromIndex(cat) == recomputed(cat.readLatest("lex", "base")),
          s"index diverged from base at step $step")
      }
    }
  }
}
