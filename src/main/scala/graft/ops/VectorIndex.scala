package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.catalog.SnapshotCatalog

/** PERSISTENT, INCREMENTALLY-MAINTAINED VECTOR INDEX — the IVF coarse
  * index as a pair of CATALOG TABLES instead of a per-query training run.
  *
  * [[Similarity.ivfTopK]] (re)derives its index every time the corpus
  * identity changes: right for ad-hoc exploration, wrong for a serving
  * corpus that ingests every hour — at 100 TB the assignment pass alone
  * is a full-corpus scan you don't want to repeat per batch. This module
  * makes the index durable and CHURN-maintained:
  *
  *   - `<name>_cent`: the trained centroids, `(cid BIGINT, c ARRAY<DOUBLE>)`
  *     — `nlist` rows, written once at [[create]] and FROZEN thereafter
  *     (FAISS discipline: assignment must stay comparable across
  *     increments; retraining is an explicit [[rebuild]], never a side
  *     effect). Training reuses [[Similarity.trainIvfCentroids]] — exact
  *     integer-grid Lloyd's, so a SQL oracle replays the centroids from
  *     the base table's initial slice.
  *   - `<name>`: the assignments, `(<id>, cell BIGINT, vec ARRAY<DOUBLE>)`,
  *     HIVE-PARTITIONED BY `cell` — a probe of `nprobe` cells reads
  *     nprobe/nlist of the index FILES (directory pruning, no scan of the
  *     rest), and the stored vector (exact float→double widening) makes
  *     the re-rank self-contained: queries never touch the base table.
  *
  * [[refresh]] advances the index through [[IndexMaintainer]] from
  * per-commit metadata (pure append, touched-id repair or full
  * re-assignment; the lanes and the repair's rationale are documented
  * there): churned rows assign to the FROZEN centroids, so the refresh
  * never retrains and never rescans the unchanged corpus.
  *
  * The design point this buys at scale: ingest 10^6 vectors into a 10^10
  * corpus and the index advances with one 10^6-row assignment pass + one
  * metadata commit, while queries keep reading nprobe/nlist of the data
  * — the brute-force and retrain-per-query alternatives are both
  * full-corpus work per day.
  */
object VectorIndex {

  val PropBase = "vecindex.base"
  val PropIdCol = "vecindex.id-col"
  val PropVecCol = "vecindex.vec-col"
  val PropNlist = "vecindex.nlist"
  val PropIters = "vecindex.iters"
  val PropSampleMod = "vecindex.sample-mod"
  val PropPin = "vecindex.pinned-snapshot"
  val PropPqM = "vecindex.pq-m"
  val PropPqBits = "vecindex.pq-bits"
  val PropPqIters = "vecindex.pq-iters"

  /** Centroid-set size ceiling: [[topK]] collects the centroid table to
    * the driver (it is the probe arithmetic's literal operand) and folds
    * the probed-cell set into a pruning predicate — both are O(nlist),
    * so nlist is a driver-memory knob, not a data-size one. sqrt(10^10)
    * = 10^5 sits exactly at this bound. */
  val MaxNlist = 100000

  /** Index (re)trainings this JVM — lets callers assert a refresh stayed
    * incremental (no hidden retrain), mirroring `ivfTrainingCount`. */
  @volatile private[graft] var trainings: Long = 0L
  private[graft] def trainingCount: Long = trainings

  private def centTable(name: String): String = name + "_cent"
  private def booksTable(name: String): String = name + "_books"

  private def indexSchema(idField: StructField): StructType = StructType(Seq(
    idField.copy(nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** PQ-mode assignments store m-BYTE codes plus the L2 norm instead of
    * the vector: at 10^10 × d=768 a flat index is ~60 TB of stored
    * doubles where the published IVF-PQ design (Jégou et al. 2011 /
    * FAISS IVFPQ serving) stores 16-64 B codes and re-ranks the
    * shortlist against the base table. The norm makes the ADC score a
    * cosine approximation without touching any vector. */
  private def pqIndexSchema(idField: StructField): StructType = StructType(Seq(
    idField.copy(nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("code", org.apache.spark.sql.types.BinaryType, nullable = false),
    StructField("nrm", DoubleType, nullable = false)))

  /** The frozen per-row state of an index: coarse centroids plus, in PQ
    * mode, the codebooks and their live entry count. */
  private final case class Assigner(cents: Seq[Array[Double]],
      pq: Option[(graft.functions.PqExprs.Codebooks, Int)]) {
    /** One assignment projection — codegen'd end to end (nlist dot
      * products per row plus, in PQ mode, the m-subspace encode), no
      * join, no shuffle beyond the partitioned write. Flat mode widens
      * the vector to double (IEEE-exact, so the stored copy re-ranks
      * identically to the base value). */
    def assign(rows: DataFrame, idCol: String, vecCol: String): DataFrame = pq match {
      case None =>
        rows.select(col(idCol),
          Similarity.ivfCell(Similarity.quantize(col(vecCol)), cents).as("cell"),
          Similarity.toDouble(col(vecCol)).as("vec"))
      case Some((cb, nCents)) =>
        rows.select(col(idCol),
          Similarity.ivfCell(Similarity.quantize(col(vecCol)), cents).as("cell"),
          graft.functions.PqFunctions.pqEncode(
            Similarity.toDouble(col(vecCol)), cb, nCents).as("code"),
          Similarity.norm(col(vecCol)).as("nrm"))
    }
  }

  /** Build the index over `db.baseTable`'s CURRENT snapshot. `sampleMod`
    * bounds the driver-side training sample exactly as in
    * [[Similarity.trainIvfCentroids]] (scale it with the corpus; <= 0
    * derives it from the metadata row count).
    *
    * `pq = Some((m, bits))` builds the IVF-PQ variant: assignments store
    * m-byte product-quantization codes (2^bits entries per subspace
    * codebook, bits <= 8) + the row's norm instead of the full vector —
    * index bytes drop d*8/m-fold — and [[topK]] ADC-scores the probed
    * cells then re-ranks an exact shortlist against the BASE table at
    * the index's pin. Codebooks persist in `<name>_books` and are
    * FROZEN like the coarse centroids (same comparability argument). */
  def create(cat: SnapshotCatalog, db: String, baseTable: String, name: String,
      idCol: String, vecCol: String, nlist: Int, iters: Int = 2,
      sampleMod: Long = 0, pq: Option[(Int, Int)] = None,
      pqIters: Int = 3): Unit = {
    require(nlist > 0 && nlist <= MaxNlist, s"nlist must be in [1, $MaxNlist], got $nlist")
    pq.foreach { case (m, bits) =>
      require(m > 0 && bits >= 1 && bits <= 8,
        s"pq wants m > 0 and bits in [1, 8], got (m=$m, bits=$bits)")
    }
    // check EVERY table up front: a create that failed partway leaves
    // orphan _cent/_books tables, and a retry that only checked <name>
    // would wedge on createTable — the checks plus the failure-path
    // cleanup below make create retryable
    require(!cat.tableExists(db, name), s"index $db.$name already exists")
    for (t <- Seq(centTable(name)) ++ pq.map(_ => booksTable(name)))
      require(!cat.tableExists(db, t),
        s"index side table $db.$t already exists " +
          "(orphan of an interrupted create?) - drop it to retry")
    val pin = cat.currentSnapshotId(db, baseTable)
    val base = cat.readAsOf(db, baseTable, pin)
    val mod =
      if (sampleMod > 0) sampleMod
      else math.max(1L, (cat.recordCount(db, baseTable, pin) +
        Similarity.IvfTargetSample - 1) / Similarity.IvfTargetSample)
    // PQ mode collects BOTH training projections in one base pass (r15,
    // guide §1.2 — previously two byte-identical sample scans); flat mode
    // keeps the single quantized collect
    val (cents, books) = pq match {
      case Some((m, bits)) =>
        val (q, r) = Similarity.collectTrainingSampleBoth(base, idCol, vecCol, mod)
        (Similarity.trainIvfCentroidsFromSample(q, nlist, iters),
          Some(Similarity.trainPqCodebooksFromSample(r, m, 1 << bits, pqIters)))
      case None =>
        (Similarity.trainIvfCentroids(base, idCol, vecCol, nlist, iters, mod), None)
    }
    trainings += 1

    val spark = base.sparkSession
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i.toLong, c.toSeq) }
    val centSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("c", ArrayType(DoubleType, containsNull = false), nullable = false)))
    cat.createTable(db, centTable(name), centSchema)
    try {
      cat.append(db, centTable(name),
        spark.createDataFrame(spark.sparkContext.parallelize(centRows, 1), centSchema))
      books.foreach { bs =>
        cat.createTable(db, booksTable(name), booksSchema)
        cat.append(db, booksTable(name), booksFrame(spark, bs))
      }
      val pqProps = pq.map { case (m, bits) => Map(
        PropPqM -> m.toString, PropPqBits -> bits.toString,
        PropPqIters -> pqIters.toString) }.getOrElse(Map.empty)
      val schema = if (pq.isDefined) pqIndexSchema(base.schema(idCol))
        else indexSchema(base.schema(idCol))
      cat.createTable(db, name, schema,
        partitionCols = Seq("cell"),
        properties = Map(
          PropBase -> s"$db.$baseTable", PropIdCol -> idCol, PropVecCol -> vecCol,
          PropNlist -> nlist.toString, PropIters -> iters.toString,
          PropSampleMod -> mod.toString, PropPin -> pin.toString) ++ pqProps)
      val asg = Assigner(cents, books.map(bs =>
        (graft.functions.PqExprs.codebooksOf(bs), bs.head.size)))
      cat.append(db, name, asg.assign(base, idCol, vecCol))
    } catch {
      case t: Throwable =>
        // never strand a half-built index: drop whatever this attempt
        // created so the same name can retry cleanly
        for (t0 <- Seq(centTable(name), booksTable(name), name))
          try if (cat.tableExists(db, t0)) cat.dropTable(db, t0)
          catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
  }

  private def booksSchema: StructType = StructType(Seq(
    StructField("sub", LongType, nullable = false),
    StructField("code", LongType, nullable = false),
    StructField("b", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def booksFrame(spark: org.apache.spark.sql.SparkSession,
      bs: Seq[Seq[Array[Double]]]): DataFrame = {
    val rows = for {
      (book, j) <- bs.zipWithIndex
      (c, i) <- book.zipWithIndex
    } yield org.apache.spark.sql.Row(j.toLong, i.toLong, c.toSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), booksSchema)
  }

  /** The frozen codebooks of a PQ index, (sub, code)-ordered. Bounded by
    * m * 2^bits rows — index metadata, not data. */
  private def loadBooks(cat: SnapshotCatalog, db: String,
      name: String): (graft.functions.PqExprs.Codebooks, Int) = {
    val rows = cat.readLatest(db, booksTable(name))
      .orderBy("sub", "code").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val books = (0 until m).map(j => rows.filter(_._1 == j).map(_._2).toSeq)
    (graft.functions.PqExprs.codebooksOf(books), books.head.size)
  }

  /** The frozen centroid set, cid-ordered. The collect is bounded by
    * [[MaxNlist]] rows (enforced at [[create]]) — index metadata, not
    * data. */
  def centroids(cat: SnapshotCatalog, db: String, name: String): Seq[Array[Double]] =
    cat.readLatest(db, centTable(name)).orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray).toIndexedSeq

  private def state(cat: SnapshotCatalog, db: String, name: String) = {
    val p = cat.meta(db, name).properties
    val Array(bdb, btab) = p(PropBase).split("\\.", 2)
    (bdb, btab, p(PropIdCol), p(PropVecCol), p(PropPin).toLong)
  }

  private def assignerOf(cat: SnapshotCatalog, db: String, name: String): Assigner = {
    val p = cat.meta(db, name).properties
    Assigner(centroids(cat, db, name),
      if (p.contains(PropPqM)) Some(loadBooks(cat, db, name)) else None)
  }

  /** The index's part of the [[IndexMaintainer]] skeleton. The frozen
    * centroids (and codebooks) load only when a lane derives rows, so a
    * fresh refresh reads no table. */
  private[graft] def kind(cat: SnapshotCatalog, db: String,
      name: String): IndexMaintainer.Kind = {
    val (bdb, btab, idCol, vecCol, _) = state(cat, db, name)
    lazy val asg = assignerOf(cat, db, name)
    IndexMaintainer.Kind(bdb, btab, PropPin, idCol, Seq(idCol, vecCol),
      asg.assign(_, idCol, vecCol))
  }

  /** Advance the index to the base table's current snapshot. Returns
    * (mode, commits advanced): "fresh", "incremental" or "full" — the
    * [[IndexMaintainer]] lanes; the full lane re-assigns under the FROZEN
    * centroids. Never retrains. */
  def refresh(cat: SnapshotCatalog, db: String, name: String): (String, Long) =
    IndexMaintainer.refresh(cat, db, name, kind(cat, db, name))

  /** Top-k cosine neighbors for each (bounded, broadcast) query row,
    * served ENTIRELY from the index: probe each query's `nprobe` nearest
    * frozen cells, read ONLY those cells' partitions (the probed-cell set
    * is at most nlist values — folded into a literal pruning predicate,
    * so the scan skips every other directory), exact-cosine re-rank
    * against the stored vectors. Same semantics as [[Similarity.ivfTopK]]
    * over the base table — candidates sharing the query's id are excluded
    * (`excludeSelf`), ranks tie-break by neighbor id. */
  def topK(cat: SnapshotCatalog, db: String, name: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int, excludeSelf: Boolean = true,
      refine: Int = 4): DataFrame = {
    val (bdb, btab, idCol, vecCol, pin) = state(cat, db, name)
    val props = cat.meta(db, name).properties
    val cents = centroids(cat, db, name)
    val pqMode = props.contains(PropPqM)
    val q0 = queries.select(col(queryId).as("query_id"),
      Similarity.toDouble(col(queryVec)).as("_qv"),
      Similarity.norm(col(queryVec)).as("_qn"),
      explode(Similarity.ivfProbes(
        Similarity.quantize(col(queryVec)), cents, nprobe)).as("cell"))
    // the union of probed cells is bounded by nlist <= MaxNlist — a
    // metadata-sized collect that prunes directories at plan time; the
    // inner join on `cell` below keeps an over-read cell exact
    val idx = IndexMaintainer.probedRead(cat, db, name, "cell", q0.select("cell"))
    val self: Column =
      if (excludeSelf) idx(idCol) =!= col("query_id") else lit(true)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    if (!pqMode) {
      val sims = idx.join(broadcast(q0), Seq("cell"))
        .where(self)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          (Similarity.dot(col("vec"), col("_qv")) /
            (Similarity.norm(col("vec")) * col("_qn"))).as("sim"))
      sims.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    } else {
      // IVF-PQ serving (the published FAISS shape): ADC-score the probed
      // cells from m-byte codes — candidate IO is bytes, never vectors —
      // take a k*refine shortlist per query, then re-rank the shortlist
      // EXACTLY against the base table AT THE INDEX'S PIN (the state the
      // codes reflect). The base scan joins against the broadcast
      // shortlist, so it reads once and shuffles nothing.
      val (cb, _) = loadBooks(cat, db, name)
      val q = broadcast(q0.withColumn("_lut",
        graft.functions.PqFunctions.pqLut(col("_qv"), cb)))
      val scored = idx.join(q, Seq("cell"))
        .where(self)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          (graft.functions.PqFunctions.pqAdc(col("code"), col("_lut")) /
            (col("nrm") * col("_qn"))).as("asim"))
      val wa = Window.partitionBy("query_id")
        .orderBy(col("asim").desc, col("neighbor_id"))
      val shortlist = scored.withColumn("ar", row_number().over(wa))
        .where(col("ar") <= k * refine)
        .select("query_id", "neighbor_id")
      val baseV = cat.readAsOf(bdb, btab, pin).select(
        col(idCol).as("neighbor_id"),
        Similarity.toDouble(col(vecCol)).as("_cv"),
        Similarity.norm(col(vecCol)).as("_cn"))
      val qv = broadcast(queries.select(col(queryId).as("query_id"),
        Similarity.toDouble(col(queryVec)).as("_qv2"),
        Similarity.norm(col(queryVec)).as("_qn2")))
      val exact = baseV.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(qv, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (Similarity.dot(col("_cv"), col("_qv2")) /
            (col("_cn") * col("_qn2"))).as("sim"))
      exact.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    }
  }

  /** NEAR-DUP PAIRS SERVED FROM THE INDEX — the SemDeDup cell comparison
    * (Abbas et al. 2023) as a maintained-index QUERY: pairs within each
    * stored cell with exact cosine >= `tau` over the STORED vectors
    * (exact double-widened copies, so the cosine equals the base
    * table's). The per-call training + full-corpus assignment
    * [[Similarity.semDedup]] pays every invocation is already
    * materialized here — ingest maintains the index ([[refresh]]), so
    * CONTINUOUS dedup costs the pair stage alone, reading the index's
    * cell-partitioned files. Cross-cell near-dups are missed — the
    * approximation SemDeDup itself makes (raise nlist for cost, lower
    * for recall). PQ indexes refuse: codes cannot exact-compare, and
    * re-ranking every candidate pair against the base would re-pay the
    * full semDedup cost — keep a flat index for dedup duty. */
  def nearDupPairs(cat: SnapshotCatalog, db: String, name: String,
      tau: Double): DataFrame = {
    val (_, _, idCol, _, _) = state(cat, db, name)
    require(!cat.meta(db, name).properties.contains(PropPqM),
      s"$db.$name stores PQ codes; near-dup pairs need a FLAT index " +
        "(stored vectors) - or run Similarity.semDedup over the base")
    val idx = cat.readLatest(db, name)
    val a = idx.select(col("cell"), col(idCol).as("id_a"),
      col("vec").as("_va"), Similarity.norm(col("vec")).as("_na"))
    val b = idx.select(col("cell"), col(idCol).as("id_b"),
      col("vec").as("_vb"), Similarity.norm(col("vec")).as("_nb"))
    a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(Similarity.dot(col("_va"), col("_vb")) /
        (col("_na") * col("_nb")) >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** Per-cell occupancy — the drift monitor. When ingest shifts the data
    * distribution away from the frozen centroids, cells skew; a max/mean
    * ratio past ~8 is the operational cue to [[rebuild]]. O(nlist) rows. */
  def cellStats(cat: SnapshotCatalog, db: String, name: String): DataFrame =
    cat.readLatest(db, name).groupBy("cell").agg(count(lit(1)).as("n"))

  /** Explicit retrain-and-reassign at the base's current snapshot — the
    * deliberate answer to centroid drift. Same params as recorded; a PQ
    * index retrains its codebooks too (codes from the old books would
    * not be comparable to ADC tables from the new). */
  def rebuild(cat: SnapshotCatalog, db: String, name: String): Unit = {
    val p = cat.meta(db, name).properties
    val (bdb, btab, idCol, vecCol, _) = state(cat, db, name)
    val nlist = p(PropNlist).toInt
    val iters = p(PropIters).toInt
    val mod = p(PropSampleMod).toLong
    val cur = cat.currentSnapshotId(bdb, btab)
    val base = cat.readAsOf(bdb, btab, cur)
    val cents = Similarity.trainIvfCentroids(base, idCol, vecCol, nlist, iters, mod)
    val books = p.get(PropPqM).map { mStr =>
      Similarity.trainPqCodebooks(base, idCol, vecCol, mStr.toInt,
        1 << p(PropPqBits).toInt, p(PropPqIters).toInt, mod)
    }
    trainings += 1
    import org.apache.spark.sql.Row
    val spark = base.sparkSession
    val centSchema = cat.readLatest(db, centTable(name)).schema
    cat.overwrite(db, centTable(name), spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.zipWithIndex.map { case (c, i) => Row(i.toLong, c.toSeq) }, 1),
      centSchema))
    books.foreach(bs => cat.overwrite(db, booksTable(name), booksFrame(spark, bs)))
    val asg = Assigner(cents, books.map(bs =>
      (graft.functions.PqExprs.codebooksOf(bs), bs.head.size)))
    cat.overwrite(db, name, asg.assign(base, idCol, vecCol))
    cat.setProperty(db, name, PropPin, Some(cur.toString))
  }
}
