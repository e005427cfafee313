package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.catalog.SnapshotCatalog

/** PERSISTENT, INCREMENTALLY-MAINTAINED MINHASH NEAR-DUP INDEX — the
  * dedup leg of the maintained-index trilogy ([[VectorIndex]] for ANN,
  * [[TextIndex]] for BM25, this for MinHash/LSH near-duplicate search).
  *
  * [[Dedup.minhashVerifiedPairs]] re-sketches the corpus on every call:
  * shingle + signature over every document is by far the dominant cost,
  * and at 100 TB it is a full-corpus job you cannot re-run per ingest
  * batch. This module makes the sketch DURABLE: the banded signature
  * rows become a catalog table, maintained churn-sized from per-commit
  * metadata, laid out so a probe batch reads only the band-hash buckets
  * its own sketches land in. The flagship flow — "which of today's 10^6
  * new documents near-duplicate the 10^10-doc corpus?" — then costs one
  * batch-sized sketch + a bucket-pruned index join + a candidate-sized
  * verification fetch, never a corpus re-sketch.
  *
  *   - `<name>`: the banded sketch, `(<id>, bucket BIGINT, band_idx INT,
  *     band_hash INT)`, HIVE-PARTITIONED BY `bucket = pmod(band_hash,
  *     nbuckets)`. Every row of a given band hash lives in exactly one
  *     bucket directory, so a probe batch with H distinct band hashes
  *     prunes the scan to at most min(H, nbuckets) directories — the
  *     nprobe/nlist discipline of the vector index, applied to LSH.
  *     The index stores O(bands) ints per document (~a few hundred
  *     bytes), never shingles or text: sketch size is what makes a
  *     10^10-doc index feasible.
  *
  * CANDIDATES come from stored-band equality (Broder's LSH banding, the
  * same rule as [[Dedup.minhashCandidatesFromShingles]]); every emitted
  * pair is then VERIFIED with the exact integer-arithmetic Jaccard over
  * full shingle sets fetched from the BASE table at the index's pin,
  * restricted to candidate ids (a semi-join — candidates ≪ corpus). So
  * the output is the deterministic set of TRUE pairs at `num/den`,
  * independent of the hash family — with the default 32 bands of 2 rows
  * the per-pair miss probability at J >= 0.9 is (1 - J²)^32 <= 10^-23
  * (the [[Dedup.minhashVerifiedPairs]] recall argument, verbatim), which
  * is what lets a DuckDB oracle state the result as plain all-pairs
  * Jaccard.
  *
  * [[refresh]] advances the index through [[IndexMaintainer]] (pure
  * append, touched-id repair or full re-sketch; the lanes and the
  * repair's rationale are documented there). Document ids must be
  * UNIQUE per row (the maintainer's id-keyed-index contract).
  */
object DedupIndex {

  val PropBase = "dedupindex.base"
  val PropIdCol = "dedupindex.id-col"
  val PropTextCol = "dedupindex.text-col"
  val PropShingleW = "dedupindex.shingle-w"
  val PropNumHashes = "dedupindex.num-hashes"
  val PropBands = "dedupindex.bands"
  val PropBuckets = "dedupindex.nbuckets"
  val PropPin = "dedupindex.pinned-snapshot"

  /** Bucket-count ceiling — each bucket is one hive directory and probe
    * pruning folds the probed set into driver-side metadata, both
    * O(nbuckets) ([[TextIndex.MaxBuckets]] reasoning, verbatim). */
  val MaxBuckets = 65536

  private def bucketOf(bandHash: Column, nbuckets: Int): Column =
    pmod(bandHash.cast("long"), lit(nbuckets.toLong))

  private def indexSchema(idField: StructField): StructType = StructType(Seq(
    idField.copy(nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("band_idx", IntegerType, nullable = false),
    StructField("band_hash", IntegerType, nullable = false)))

  /** Sketch `rows` into the stored band shape — the exact
    * [[Dedup.lshBands]] skeleton (shingle -> signature -> banding; all
    * deterministic fixed-seed expressions, so an index row equals what a
    * fresh sketch of the same text produces) plus the bucket routing
    * column. The shingle set materializes in its own projection so the
    * signature lambda does not rebuild it per seed (the
    * [[Dedup.minhashCandidates]] plan note). */
  private def bandsOf(rows: DataFrame, idCol: String, textCol: String,
      w: Int, numHashes: Int, bands: Int, nbuckets: Int): DataFrame = {
    val sh = rows.select(col(idCol).as("doc_id"),
      Dedup.wordShingles(col(textCol), w).as("shingles"))
    val sig = sh.select(col("doc_id"),
      Dedup.minhashSignature(col("shingles"), numHashes).as("sig"))
    Dedup.lshBands(sig, "doc_id", col("sig"), bands, numHashes / bands)
      .select(col("doc_id").as(idCol),
        bucketOf(col("band_hash"), nbuckets).as("bucket"),
        col("band_idx"), col("band_hash"))
  }

  /** Build the index over `db.baseTable`'s CURRENT snapshot. `nbuckets`
    * is the probe-pruning granularity (more buckets = finer directory
    * pruning for [[pairsAgainst]] batches); `numHashes`/`bands` fix the
    * frozen hash family — the defaults give total candidate recall at
    * J >= 9/10 (see the class note). */
  def create(cat: SnapshotCatalog, db: String, baseTable: String, name: String,
      idCol: String, textCol: String, w: Int = 5, numHashes: Int = 64,
      bands: Int = 32, nbuckets: Int = 64): Unit = {
    require(nbuckets > 0 && nbuckets <= MaxBuckets,
      s"nbuckets must be in [1, $MaxBuckets], got $nbuckets")
    require(w > 0, s"shingle width must be positive, got $w")
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val props = Map(PropBase -> s"$db.$baseTable", PropIdCol -> idCol,
      PropTextCol -> textCol, PropShingleW -> w.toString,
      PropNumHashes -> numHashes.toString, PropBands -> bands.toString,
      PropBuckets -> nbuckets.toString)
    IndexMaintainer.create(cat, db, name, kindOf(props), indexSchema, "bucket", props)
  }

  /** The index's part of the [[IndexMaintainer]] skeleton. */
  private def kindOf(p: Map[String, String]): IndexMaintainer.Kind = {
    val Array(bdb, btab) = p(PropBase).split("\\.", 2)
    val (idCol, textCol) = (p(PropIdCol), p(PropTextCol))
    IndexMaintainer.Kind(bdb, btab, PropPin, idCol, Seq(idCol, textCol),
      bandsOf(_, idCol, textCol, p(PropShingleW).toInt, p(PropNumHashes).toInt,
        p(PropBands).toInt, p(PropBuckets).toInt))
  }

  private[graft] def kind(cat: SnapshotCatalog, db: String,
      name: String): IndexMaintainer.Kind = kindOf(cat.meta(db, name).properties)

  private def state(cat: SnapshotCatalog, db: String, name: String) = {
    val p = cat.meta(db, name).properties
    val Array(bdb, btab) = p(PropBase).split("\\.", 2)
    (bdb, btab, p(PropIdCol), p(PropTextCol), p(PropShingleW).toInt,
      p(PropNumHashes).toInt, p(PropBands).toInt, p(PropBuckets).toInt,
      p(PropPin).toLong)
  }

  /** Advance the index to the base table's current snapshot. Returns
    * (mode, commits advanced): "fresh", "incremental" or "full" — the
    * [[IndexMaintainer]] lanes; an incremental refresh re-sketches only
    * the churned docs. */
  def refresh(cat: SnapshotCatalog, db: String, name: String): (String, Long) =
    IndexMaintainer.refresh(cat, db, name, kind(cat, db, name))

  /** Exact Jaccard verification of candidate pairs against full shingle
    * sets — [[Dedup]]'s integer cross-multiplication, generalized to
    * distinct left/right shingle sources (left: the probe batch; right:
    * the corpus at the pin, restricted to candidate ids). */
  private def verify(cand: DataFrame, leftSh: DataFrame, rightSh: DataFrame,
      leftId: String, rightId: String, num: Int, den: Int): DataFrame = {
    val withSets = cand
      .join(leftSh.select(col("doc_id").as(leftId), col("shingles").as("sh_a")),
        Seq(leftId))
      .join(rightSh.select(col("doc_id").as(rightId), col("shingles").as("sh_b")),
        Seq(rightId))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    withSets
      .select(col(leftId), col(rightId), inter.as("inter_sz"), union.as("union_sz"))
      .where(col("inter_sz") * den >= col("union_sz") * num)
  }

  /** Shingle sets of the base table at the index's pin, restricted to the
    * ids a candidate frame names — the verification fetch (one semi-join
    * pass over the base; candidates ≪ corpus bound the cost). */
  private def baseShingles(cat: SnapshotCatalog, bdb: String, btab: String,
      pin: Long, idCol: String, textCol: String, w: Int,
      ids: DataFrame): DataFrame =
    cat.readAsOf(bdb, btab, pin)
      .join(ids.distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("doc_id"), Dedup.wordShingles(col(textCol), w).as("shingles"))

  /** WITHIN-CORPUS verified near-dup pairs from the index alone:
    * candidates from a (band_idx, band_hash) self-join of the STORED
    * bands — the corpus is never re-sketched; the shuffle moves (hash,
    * id) ints, never text — verified exactly against the base at the
    * pin. Output `(id_a, id_b, inter_sz, union_sz)` with id_a < id_b,
    * equal to [[Dedup.minhashVerifiedPairs]] over the base at the pin
    * (differentially asserted in DedupIndexSpec). */
  def pairs(cat: SnapshotCatalog, db: String, name: String,
      num: Int = 9, den: Int = 10): DataFrame = {
    val (bdb, btab, idCol, textCol, w, _, _, _, pin) = state(cat, db, name)
    val banded = cat.readLatest(db, name)
    val a = banded.select(col(idCol).as("id_a"), col("band_idx"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band_idx"), col("band_hash"))
    val cand = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sh = baseShingles(cat, bdb, btab, pin, idCol, textCol, w,
      cand.select(col("id_a").as(idCol))
        .union(cand.select(col("id_b").as(idCol))))
    verify(cand, sh, sh, "id_a", "id_b", num, den)
  }

  /** BATCH-VS-CORPUS verified near-dup pairs — the continuous-ingest
    * flagship: sketch ONLY `batch` (the frozen hash family reproduces
    * index rows bit-for-bit), read ONLY the index buckets the batch's
    * band hashes route to, equi-join for candidates, verify exactly.
    * Output `(batch_id, corpus_id, inter_sz, union_sz)` — one row per
    * true near-dup pair at `num/den` between a batch row and a corpus
    * row at the index's pin (a batch doc already present under the same
    * id reports itself; callers filter if unwanted). The corpus-side
    * cost is (probed buckets' files) + (candidate-restricted base
    * fetch): independent of corpus size for a fixed batch. */
  def pairsAgainst(cat: SnapshotCatalog, db: String, name: String,
      batch: DataFrame, batchIdCol: String, batchTextCol: String,
      num: Int = 9, den: Int = 10): DataFrame = {
    val (bdb, btab, idCol, textCol, w, nh, nb, nbk, pin) = state(cat, db, name)
    val probe = bandsOf(batch, batchIdCol, batchTextCol, w, nh, nb, nbk)
      .select(col(batchIdCol).as("batch_id"), col("bucket"),
        col("band_idx"), col("band_hash"))
    // the equi-join on (band_idx, band_hash) keeps an over-read bucket
    // exact: its rows cannot join a probe hash that routes elsewhere
    val idx = IndexMaintainer.probedRead(cat, db, name, "bucket",
      probe.select(col("bucket")))
    val cand = probe.drop("bucket")
      .join(idx.select(col(idCol).as("corpus_id"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    val leftSh = batch.select(col(batchIdCol).as("doc_id"),
      Dedup.wordShingles(col(batchTextCol), w).as("shingles"))
    val rightSh = baseShingles(cat, bdb, btab, pin, idCol, textCol, w,
      cand.select(col("corpus_id").as(idCol)))
    verify(cand, leftSh, rightSh, "batch_id", "corpus_id", num, den)
  }

  /** SCOPED audit form of [[pairs]]: every verified near-dup pair with AT
    * LEAST ONE side admitted by `where` (evaluated against the base at
    * the index's pin) — "which of THIS partition's documents duplicate
    * anything in the corpus" without the corpus-wide candidate
    * self-join. The scope resolves through the base's pruned read (footer
    * stats / partition dirs admit the files, nothing else is fetched),
    * the scoped docs re-sketch through the frozen hash family (bit-equal
    * to their stored index rows), and the probe lane's bucket pruning
    * reads only the index directories those bands route to —
    * out-of-scope candidates are never read. Output matches [[pairs]]
    * (`id_a < id_b, inter_sz, union_sz`), equal to the unscoped result
    * filtered to scope-touching pairs (DedupIndexSpec differential). */
  def pairs(cat: SnapshotCatalog, db: String, name: String, where: Column,
      num: Int, den: Int): DataFrame = {
    val (bdb, btab, idCol, textCol, _, _, _, _, pin) = state(cat, db, name)
    val scoped = cat.readWhere(bdb, btab, pin, where)
      .select(col(idCol), col(textCol))
    pairsAgainst(cat, db, name, scoped, idCol, textCol, num, den)
      .where(col("batch_id") =!= col("corpus_id"))
      .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
        greatest(col("batch_id"), col("corpus_id")).as("id_b"),
        col("inter_sz"), col("union_sz"))
      .dropDuplicates("id_a", "id_b")
  }

  /** [[pairs]] scoped, at the default 9/10 Jaccard threshold. */
  def pairs(cat: SnapshotCatalog, db: String, name: String,
      where: Column): DataFrame = pairs(cat, db, name, where, 9, 10)
}
