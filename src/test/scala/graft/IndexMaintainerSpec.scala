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
  * and each lane commits a fixed number of index snapshots. */
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

  /** Refresh every index to `target`; returns (mode, index commits) per index. */
  private def stepTo(cat: SnapshotCatalog, target: Long): Map[String, (String, Int)] =
    indexes.map { case (name, kind) =>
      val before = cat.snapshotList("im", name).size
      val (mode, _) = IndexMaintainer.refreshTo(cat, "im", name, kind(cat, "im", name), target)
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

  test("append lane: step to a middle snapshot, then to the head") {
    val cat = setup(col("doc_id") < 60)
    cat.append("im", "base", rows.where(col("doc_id").between(60, 79)))
    val mid = head(cat)
    cat.append("im", "base", rows.where(col("doc_id").between(80, 99)))
    assert(stepTo(cat, mid).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, mid)
    assert(stepTo(cat, head(cat)).values.forall(_._1 == "incremental"))
    assertBuiltAt(cat, head(cat))
  }

  test("repair lane: the middle commit deletes an id the head re-appends") {
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

  test("commits per refresh, per kind and lane") {
    // (lane, base change, mode, index commits): the gate pins today's
    // commit pattern — data commits, then one metadata write for the pin
    val cases: Seq[(String, SnapshotCatalog => Unit, String, Int)] = Seq(
      ("fresh", _ => (), "fresh", 0),
      ("pure append",
        c => c.append("im", "base", rows.where(col("doc_id").between(60, 79))),
        "incremental", 1),
      ("repair",
        c => c.updateMoR("im", "base", col("doc_id") === 3,
          Map("text" -> concat(col("text"), lit(" edited")))),
        "incremental", 2),
      ("repair, no touched id survives",
        c => c.deleteMoR("im", "base", col("doc_id") === 7), "incremental", 1),
      ("full",
        c => c.rollback("im", "base",
          c.snapshotList("im", "base").find(_.operation == "append").get.snapshotId),
        "full", 1))
    val cat = setup(col("doc_id") < 60)
    for ((lane, change, mode, commits) <- cases) {
      change(cat)
      val got = stepTo(cat, head(cat))
      for ((name, _) <- indexes)
        assert(got(name) == ((mode, commits)), s"$name, $lane lane")
      assertBuiltAt(cat, head(cat))
    }
  }
}
