package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog
import graft.ops.{DedupIndex, IndexMaintainer, TextIndex, VectorIndex}

/** The shared index refresh skeleton, driven per index kind: every step
  * to an explicit target snapshot (older than the base head, then the
  * head) must leave the index equal to a fresh build at that snapshot,
  * each lane commits a fixed number of index snapshots and runs at most
  * a fixed number of Spark jobs, and every refresh releases the frames
  * it checkpointed. The incremental lanes run again
  * with the inline touched-id bound at 1, which forces the distributed
  * path. */
class IndexMaintainerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf =
    sys.env.getOrElse("GRAFT_TESTDATA", s"${sys.props("user.home")}/testdata") + "/sf0.001"
  private def rows: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
      .join(spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")

  private val indexes: Seq[(String, (SnapshotCatalog, String, String) => IndexMaintainer.Kind)] =
    Seq("tix" -> TextIndex.kind _, "dix" -> DedupIndex.kind _, "vix" -> VectorIndex.kind _)

  /** A base table holding `initial` rows, with all three indexes on it. */
  private def setup(initial: Column): SnapshotCatalog = {
    val cat = new SnapshotCatalog(spark, Files.createTempDirectory("graft_im_").toString)
    cat.createTable("im", "base", rows.schema)
    cat.append("im", "base", rows.where(initial))
    TextIndex.create(cat, "im", "base", "tix", "doc_id", "text", nbuckets = 8)
    DedupIndex.create(cat, "im", "base", "dix", "doc_id", "text", nbuckets = 8)
    VectorIndex.create(cat, "im", "base", "vix", "doc_id", "embedding",
      nlist = 4, iters = 2, sampleMod = 3)
    cat
  }

  private def head(cat: SnapshotCatalog): Long = cat.currentSnapshotId("im", "base")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** One refresh of `name` to `target`, gated: every frame it checkpointed
    * is released by the time it returns (no RDD it persisted is still
    * registered). Returns the mode. */
  private def refresh(cat: SnapshotCatalog, name: String, target: Long): String = {
    val kind = indexes.toMap.apply(name)(cat, "im", name)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (mode, _) = IndexMaintainer.refreshTo(cat, "im", name, kind, target)
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.isEmpty, s"$name refresh ($mode) left RDDs persisted: $held")
    mode
  }

  /** Refresh every index to `target`; returns (mode, index commits) per index. */
  private def stepTo(cat: SnapshotCatalog, target: Long): Map[String, (String, Int)] =
    indexes.map { case (name, _) =>
      val before = cat.snapshotList("im", name).size
      val mode = refresh(cat, name, target)
      name -> (mode, cat.snapshotList("im", name).size - before)
    }.toMap

  /** Each index equals a fresh build at base snapshot `snap`: the pin, the
    * live index rows (as a multiset) and, for the text index, the corpus
    * scalars against an independent recount. */
  private def assertBuiltAt(cat: SnapshotCatalog, snap: Long): Unit = {
    val base = cat.readAsOf("im", "base", snap)
    for ((name, kind) <- indexes) {
      val k = kind(cat, "im", name)
      assert(cat.meta("im", name).properties(k.pinKey) == snap.toString)
      val want = k.derive(base.select(k.baseCols.map(col): _*))
      val got = cat.readLatest("im", name).select(want.columns.map(col).toIndexedSeq: _*)
      assert(sorted(got) == sorted(want), s"$name differs from a fresh build at $snap")
    }
    val r = base
      .select(size(filter(split(lower(col("text")), "\\s+"), t => t =!= lit("")))
        .cast("long").as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    val p = cat.meta("im", "tix").properties
    assert(p(TextIndex.PropNDocs).toLong == r.getLong(0), s"n-docs at $snap")
    assert(p(TextIndex.PropTotalDl).toLong == r.getLong(1), s"total-dl at $snap")
  }

  /** `body` with the inline touched-id bound at 1: every churn takes the
    * distributed key-frame path. */
  private def overBound(body: => Unit): Unit = {
    spark.conf.set(IndexMaintainer.MaxInlineProbesKey, "1")
    try body finally spark.conf.unset(IndexMaintainer.MaxInlineProbesKey)
  }

  private def appendLane(): Unit = {
    val cat = setup(col("doc_id") < 60)
    cat.append("im", "base", rows.where(col("doc_id").between(60, 79)))
    val mid = head(cat)
    cat.append("im", "base", rows.where(col("doc_id").between(80, 99)))
    assert(stepTo(cat, mid).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, mid)
    assert(stepTo(cat, head(cat)).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, head(cat))
  }

  private def repairLane(): Unit = {
    val cat = setup(col("doc_id") < 60)
    cat.deleteMoR("im", "base", col("doc_id").isin(5, 6))
    val mid = head(cat)
    // id 5 comes back with other text and vector; a step that read the
    // head instead of `mid` would index it now and again at the next step
    cat.append("im", "base", rows.where(col("doc_id") === 5)
      .withColumn("text", concat(col("text"), lit(" reappended words")))
      .withColumn("embedding", transform(col("embedding"), x => -x)))
    assert(stepTo(cat, mid).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, mid)
    assert(stepTo(cat, head(cat)).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, head(cat))
  }

  test("append lane: step to a middle snapshot, then to the head") {
    appendLane()
  }

  test("repair lane: the middle commit deletes an id the head re-appends") {
    repairLane()
  }

  test("append lane over the inline touched-id bound") {
    overBound(appendLane())
  }

  test("repair lane over the inline touched-id bound") {
    overBound(repairLane())
  }

  test("a range holding only a compact advances the pin and nothing else") {
    overBound {
      val cat = setup(col("doc_id") < 60)
      val before = indexes.map { case (name, _) => name -> cat.meta("im", name).properties }
      cat.compact("im", "base", 1)
      // the churn is empty: its observed counter sums are null and read 0
      assert(stepTo(cat, head(cat)).values.forall(_ == (("incremental", 0))))
      assertBuiltAt(cat, head(cat))
      for ((name, props) <- before) {
        val k = indexes.toMap.apply(name)(cat, "im", name)
        assert(cat.meta("im", name).properties == props + (k.pinKey -> head(cat).toString),
          s"$name: only the pin may change")
      }
    }
  }

  test("full lane: a rollback in range rebuilds at the target, not the head") {
    val cat = setup(col("doc_id") < 60)
    cat.append("im", "base", rows.where(col("doc_id").between(60, 79)))
    val kept = head(cat)
    cat.deleteMoR("im", "base", col("doc_id") < 10)
    cat.rollback("im", "base", kept)
    val mid = head(cat)
    cat.append("im", "base", rows.where(col("doc_id").between(80, 99)))
    assert(stepTo(cat, mid).values.forall(_._1 == "full"))
    assertBuiltAt(cat, mid)
    assert(stepTo(cat, head(cat)).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, head(cat))
  }

  /** One base change per refresh lane, applied in this order to one
    * 60-row base. */
  private val lanes: Seq[(String, SnapshotCatalog => Unit)] = Seq(
    "fresh" -> (_ => ()),
    "pure append" -> (c => c.append("im", "base", rows.where(col("doc_id").between(60, 79)))),
    "repair" -> (c => c.updateMoR("im", "base", col("doc_id") === 3,
      Map("text" -> concat(col("text"), lit(" edited"))))),
    "repair, no touched id survives" ->
      (c => c.deleteMoR("im", "base", col("doc_id") === 7)),
    "full" -> (c => c.rollback("im", "base",
      c.snapshotList("im", "base").find(_.operation == "append").get.snapshotId)))

  test("commits per refresh, per kind and lane") {
    // (mode, index commits) per lane: the gate pins today's commit
    // pattern — data commits, then one metadata write for the pin
    val expected = Seq(("fresh", 0), ("incremental", 1), ("incremental", 2),
      ("incremental", 1), ("full", 1))
    val cat = setup(col("doc_id") < 60)
    for (((lane, change), want) <- lanes.zip(expected)) {
      change(cat)
      val got = stepTo(cat, head(cat))
      for ((name, _) <- indexes)
        assert(got(name) == want, s"$name, $lane lane")
      assertBuiltAt(cat, head(cat))
    }
  }

  test("Spark jobs per refresh, per kind and lane (counter gate)") {
    // the most jobs each (lane, kind) may run. One observed checkpoint of
    // the signed churn decides the lane and folds the text counters; a
    // repair collects its touched ids locally and observes the
    // re-read's row count on its checkpoint; the full lane's counters
    // ride the overwrite; merge-on-read reads drop dead rows in their
    // readers, with no join jobs. Before (text / dedup / vector): append
    // 7 / 4 / 7, repair 18 / 14 / 17 then 8 / 7 / 10 with join jobs then
    // 7 / 6 / 9, no survivor 19 / 17 / 17 then 7 / 7 / 7 then 5 / 5 / 5,
    // full 4 / 1 / 4
    val most = Map(
      "fresh" -> Map("tix" -> 0, "dix" -> 0, "vix" -> 0),
      "pure append" -> Map("tix" -> 3, "dix" -> 2, "vix" -> 5),
      "repair" -> Map("tix" -> 6, "dix" -> 5, "vix" -> 8),
      "repair, no touched id survives" -> Map("tix" -> 4, "dix" -> 4, "vix" -> 4),
      "full" -> Map("tix" -> 2, "dix" -> 1, "vix" -> 4))
    val cat = setup(col("doc_id") < 60)
    for ((lane, change) <- lanes) {
      change(cat)
      for ((name, _) <- indexes) {
        val (_, jobs) = SparkJobs.counted(spark)(refresh(cat, name, head(cat)))
        info(s"$lane, $name: $jobs jobs")
        assert(jobs <= most(lane)(name), s"$name, $lane lane: $jobs jobs")
      }
      assertBuiltAt(cat, head(cat))
    }
  }
}
