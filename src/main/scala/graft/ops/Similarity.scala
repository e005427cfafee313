package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.MetadataRowCount
import graft.functions.OnePass

/** Embedding similarity search (north-star surface): brute-force cosine
  * top-k as the exact baseline, and OR-amplified random-hyperplane LSH as
  * the approximate scale path.
  *
  * Scale posture (100 TB of vectors):
  *   - queries are broadcast (small side of the product); the corpus is
  *     streamed once, partition-parallel;
  *   - the top-k window (`row_number <= k` over query partitions) is
  *     executed by Spark's WindowGroupLimit as a per-partition running
  *     top-k — only k rows per partition per query survive the shuffle;
  *   - the LSH variant prunes the corpus product to same-bucket candidates
  *     across `nTables` INDEPENDENT hash tables (OR-amplification):
  *     per-table miss probability (1 - p^nPlanes) multiplies across tables,
  *     so recall is 1-(1-p^b)^L while per-table bucket occupancy stays
  *     n/2^b — raise nPlanes with log2(corpus) to keep buckets bounded
  *     (b ≈ 20 at 10^9 vectors) and raise nTables to buy recall back.
  *     A single table with few planes (the naive form) is quadratic in the
  *     bucket and was rejected for scale.
  * All vector math is compiled expressions in double — codegen'd, no UDFs.
  */
object Similarity {

  /** Target driver-side IVF training-sample size when `sampleMod` is
    * derived (see [[ivfTopK]]): ~100k rows ≈ 50 MB of 64-dim vectors —
    * ample for a coarse quantizer, safely under the hard
    * `maxSample` bound `trainIvfCentroids` enforces. */
  val IvfTargetSample: Long = 100000L

  /** Process-wide coarse-quantizer cache: repeated IVF queries over the
    * SAME corpus content reuse the trained centroids instead of paying
    * the training collect per invocation. Keyed by a CONTENT identity —
    * a snapcat table's `table@snapshotId` token ([[graft.catalog.spark
    * .HasSnapshotIdentity]]) or a parquet scan's file list + bytes — plus
    * every training parameter, so a new snapshot, an overwritten corpus
    * dir, or different (nlist, iters, mod) can never serve stale
    * centroids. Corpora whose identity is unprovable (arbitrary
    * transformed frames) simply retrain, today's behavior. Centroids are
    * a pure function of (content, params) — at most a few KB per entry.
    * Cross-SESSION persistence (r7): set `spark.graft.ivf.centroidDir` to
    * a writable directory and every trained quantizer is also spilled
    * there as a tiny JSON sidecar keyed by the same content identity; a
    * NEW driver loads instead of retraining, and the content-addressed
    * key preserves the invalidation story (a new snapshot is a new key —
    * stale sidecars are just never read again, GC-able by mtime). */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Array[Double]]]

  /** Test hook: drop the in-memory quantizer cache, simulating a fresh
    * driver (the sidecar layer is what must then serve). */
  private[graft] def clearCentroidCacheForTest(): Unit = centroidCache.clear()

  /** Per-session override of WHERE sidecars live — the deployment hook
    * for catalogs whose warehouse is an object store
    * ([[graft.catalog.ObjectStorePointerLogStore]]): no shared
    * filesystem exists there, so artifact persistence must ride the
    * same store, via [[graft.catalog.ObjectSidecarStore]]. Weak keys:
    * a GC'd session drops its registration. Takes precedence over the
    * `spark.graft.ivf.centroidDir` filesystem conf. */
  private val sessionSidecarStores = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      graft.catalog.SidecarStore]())

  def useSidecarStore(spark: org.apache.spark.sql.SparkSession,
      store: graft.catalog.SidecarStore): Unit =
    sessionSidecarStores.put(spark, store)

  /** Drop a session's registration (falls back to the filesystem conf). */
  def clearSidecarStore(spark: org.apache.spark.sql.SparkSession): Unit =
    sessionSidecarStores.remove(spark)

  private def sidecarStore(df: DataFrame): Option[graft.catalog.SidecarStore] =
    Option(sessionSidecarStores.get(df.sparkSession)).orElse(
      df.sparkSession.conf.getOption("spark.graft.ivf.centroidDir")
        .filter(_.nonEmpty)
        .map(d => new graft.catalog.FileSidecarStore(java.nio.file.Paths.get(d))))

  /** Sidecar name of a cache key: sha-1 of the key (keys embed file-list
    * hashes and are not name-safe); the FULL key is stored inside and
    * re-checked on load, so a hash collision degrades to a retrain,
    * never to wrong centroids. */
  private def sidecarName(key: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"ivf-$sha.json"
  }

  private def loadSidecarCentroids(df: DataFrame, key: String): Option[Seq[Array[Double]]] =
    sidecarStore(df).flatMap { st =>
      scala.util.Try {
        st.read(sidecarName(key)).flatMap { txt =>
          val o = graft.catalog.Json.parse(txt).asInstanceOf[graft.catalog.JObj]
          if (o.str("key") != key) None // collision: retrain honestly
          else Some(o.arr("centroids").map {
            case graft.catalog.JArr(vs) =>
              vs.map { case graft.catalog.JNum(d) => d }.toArray
            case other => throw new IllegalStateException(s"bad centroid row: $other")
          })
        }
      }.toOption.flatten // unreadable/corrupt sidecar: retrain, never fail the query
    }

  private def writeSidecarCentroids(df: DataFrame, key: String,
      cents: Seq[Array[Double]]): Unit =
    sidecarStore(df).foreach { st =>
      scala.util.Try {
        val json = graft.catalog.Json.write(graft.catalog.Json.obj(
          "key" -> graft.catalog.Json.str(key),
          "centroids" -> graft.catalog.JArr(cents.toVector.map(c =>
            graft.catalog.JArr(c.toVector.map(graft.catalog.Json.num)): graft.catalog.JValue))))
        st.write(sidecarName(key), json)
      } // best-effort: a read-only deployment must not fail the query
    }

  /** Content-identity token of a corpus frame, when provable from the
    * plan: a (column-pruned, deterministically filtered) scan of a snapcat
    * table or a parquet directory. Deterministic FILTERS fold into the
    * token via their name-normalized SQL text, so `docs.where(id < 300)`
    * is cacheable and distinct from `docs.where(id < 500)`.
    *
    * SOUNDNESS: only Projects that are pure column pruning/reorder — every
    * projection a bare [[org.apache.spark.sql.catalyst.expressions
    * .AttributeReference]] — are stripped. A computed or even merely
    * ALIASED projection (`select(normalize(text).as("text"))`, or a rename
    * a later filter's name-normalized text would then mis-bind) transforms
    * the content and therefore yields `None`: the caches must retrain
    * honestly rather than serve another corpus's artifacts. */
  private[graft] def corpusIdentity(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    val filterConds = scala.collection.mutable.ArrayBuffer.empty[String]
    // name-normalized condition TEXT: a FRESH analysis of the same query
    // text mints new expression ids, so semanticHash would differ per
    // call and defeat the cache — attribute NAMES are the stable identity
    // over a fixed base relation. The full normalized SQL (not a 32-bit
    // hash of it) goes into the key: predicates are short, and embedding
    // the text makes the sidecar's full-key recheck actually able to
    // distinguish two different filters — a hashCode collision inside the
    // key would be invisible to any downstream recheck.
    def condText(cond: org.apache.spark.sql.catalyst.expressions.Expression): String =
      cond.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
      }.sql
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child)
      case Filter(cond, child) if cond.deterministic =>
        filterConds += condText(cond); strip(child)
      case a: SubqueryAlias => strip(a.child)
      case other => other
    }
    def withFilters(id: String): String =
      if (filterConds.isEmpty) id
      else s"$id|flt:${filterConds.sorted.mkString(";")}"
    strip2(strip(df.queryExecution.analyzed)).map(withFilters)
  }

  private def strip2(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: graft.catalog.spark.HasSnapshotIdentity
            if r.options == null || (!r.options.containsKey("snapshot-id") &&
              !r.options.containsKey("as_of_snapshot_id")) =>
          Some(s"snap:${t.snapshotIdentity}")
        case _ => None
      }
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles
          if (files.isEmpty) None
          else Some(s"fs:${java.util.Arrays.hashCode(
            files.sorted.asInstanceOf[Array[AnyRef]])}:${fs.location.sizeInBytes}:${files.length}")
        case _ => None
      }
      case _ => None
    }
  }

  /** Test hook: number of coarse-quantizer trainings actually run. */
  @volatile private[graft] var ivfTrainings: Long = 0L
  private[graft] def ivfTrainingCount: Long = ivfTrainings

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Native compiled dot (double accumulation, handles float/double arrays)
    * — the `aggregate(zip_with(...))` form is interpreted per element; see
    * [[graft.functions.DotProduct]]. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast). Norms are computed ONCE per
    * row on each side before the product — not per pair. Output:
    * (query_id, neighbor_id, rank). */
  def cosineTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val c = corpus.select(col(corpusId), col(corpusVec), norm(col(corpusVec)).as("_cn"))
    val q = queries.select(col(queryId), col(queryVec), norm(col(queryVec)).as("_qn"))
    val sims = c.crossJoin(broadcast(q))
      .where(col(corpusId) =!= col(queryId))
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        (dot(col(corpusVec), col(queryVec)) / (col("_cn") * col("_qn"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim-index) — a two-round multiply-xor-shift integer mix kept inside
    * unsigned-32-bit range so the arithmetic is EXACT in any engine with
    * 64-bit integers. The DuckDB oracle recomputes the identical doubles,
    * which is why this replaces `Random(seed).nextGaussian`: components are
    * uniform on [-0.5, 0.5) rather than gaussian (direction bias toward cube
    * diagonals is negligible at dim >= 32 and irrelevant to the sign test).
    */
  def planeComponent(tableIdx: Int, planeIdx: Int, i: Int, dim: Int, nPlanes: Int): Double = {
    var h = (tableIdx.toLong * nPlanes + planeIdx) * dim + i + 1L
    h = ((h ^ (h >>> 15)) * 486187739L) & 0xFFFFFFFFL
    h = ((h ^ (h >>> 13)) * 368040263L) & 0xFFFFFFFFL
    h = h ^ (h >>> 16)
    h.toDouble / 4294967296.0 - 0.5
  }

  /** The hyperplanes of one hash table (driver-side; tiny). */
  def planes(dim: Int, nPlanes: Int, tableIdx: Int): Seq[Seq[Double]] =
    Seq.tabulate(nPlanes)(j => Seq.tabulate(dim)(i => planeComponent(tableIdx, j, i, dim, nPlanes)))

  /** Sign-of-projection LSH bucket id (Charikar hyperplane hashing) for one
    * table: bit j = [v . plane_j >= 0]. Declarative reference form; the hot
    * path uses the [[graft.functions.HyperplaneBuckets]] kernel, which is
    * bit-identical (asserted in OpsSpec). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, tableIdx: Int = 0): Column = {
    val v = toDouble(vec)
    planes(dim, nPlanes, tableIdx).zipWithIndex.map { case (p, j) =>
      when(dot(v, typedLit(p)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Bucket ids of all `nTables` hash tables as one array<long> — a single
    * native eval per row ([[graft.functions.HyperplaneBuckets]]): the
    * vector is read once and the whole plane bank runs as one compiled
    * loop, vs nTables x nPlanes separate dot-product expression evals. */
  def lshBuckets(vec: Column, dim: Int, nPlanes: Int, nTables: Int): Column =
    graft.functions.VectorExprs.hyperplaneBuckets(vec, dim, nPlanes, nTables)

  /** (id, table_idx, bucket) rows — IDS ONLY, deliberately: candidate
    * generation shuffles these skinny rows, never the vectors. The exact
    * re-rank joins vectors back AFTER pair dedup, so each vector crosses
    * the wire once per surviving pair side, not once per (table x probe)
    * bucket row. */
  private def explodeBucketIds(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int, nTables: Int): DataFrame =
    df.select(col(idCol),
      posexplode(lshBuckets(col(vecCol), dim, nPlanes, nTables)))
      .withColumnRenamed("pos", "table_idx")
      .withColumnRenamed("col", "bucket")

  /** XOR masks for multi-probe LSH: the zero mask plus every way to flip up
    * to `maxFlips` of the `nPlanes` sign bits (Lv et al., multi-probe LSH).
    * Probing is QUERY-side only, so the corpus keeps one bucket per table —
    * probes multiply the broadcast query rows, never the corpus shuffle. */
  def probeMasks(nPlanes: Int, maxFlips: Int): Seq[Long] = {
    val one = if (maxFlips >= 1) (0 until nPlanes).map(1L << _) else Nil
    val two = if (maxFlips >= 2)
      for { i <- 0 until nPlanes; j <- (i + 1) until nPlanes }
        yield (1L << i) | (1L << j)
    else Nil
    0L +: (one ++ two)
  }

  /** Approximate top-k: candidates restricted to vectors whose bucket in ANY
    * of the `nTables` hash tables (OR-amplification) matches the query's
    * bucket up to `maxProbeFlips` flipped bits (multi-probe), then exact
    * cosine re-rank. Per-table hit probability for a pair with bit-agreement
    * p is sum_{f<=maxFlips} C(b,f) p^(b-f) (1-p)^f; missing all L tables is
    * that complement to the Lth power. Returns (query_id, neighbor_id, rank). */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int, nPlanes: Int = 8, nTables: Int = 8,
      maxProbeFlips: Int = 2): DataFrame = {
    val c = explodeBucketIds(corpus, corpusId, corpusVec, dim, nPlanes, nTables)
    val q0 = explodeBucketIds(queries, queryId, queryVec, dim, nPlanes, nTables)
    val masks = probeMasks(nPlanes, maxProbeFlips)
    val q = q0.select(col(queryId), col("table_idx"),
      explode(transform(typedLit(masks), m => col("bucket").bitwiseXOR(m))).as("bucket"))
    // same (table, probed bucket) in any table -> candidate once; the
    // candidate stream is (query_id, corpus_id) PAIRS ONLY — dedup
    // collapses multi-table/multi-probe collisions before any vector
    // bytes move or any dot product is paid
    val cand = c.join(broadcast(q), Seq("table_idx", "bucket"))
      .where(col(corpusId) =!= col(queryId))
      .select(col(queryId), col(corpusId))
      .dropDuplicates(queryId, corpusId)
    // exact re-rank: vectors join back per surviving pair — corpus side by
    // id (norms computed once per row before the join), query side broadcast
    val cv = corpus.select(col(corpusId), col(corpusVec), norm(col(corpusVec)).as("_cn"))
    val qv = queries.select(col(queryId), col(queryVec), norm(col(queryVec)).as("_qn"))
    val sims = cand.join(cv, Seq(corpusId)).join(broadcast(qv), Seq(queryId))
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        (dot(col(corpusVec), col(queryVec)) / (col("_cn") * col("_qn"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: FAISS-style coarse quantizer + nprobe search
  // ------------------------------------------------------------------

  /** Quantize a float/double vector to a grid of exact-integer doubles:
    * floor((clamp(x,-2,2) + 2) * 2^20). Every step is IEEE-exact (float to
    * double widening, +2 on a 24-bit-mantissa value, power-of-two scale,
    * floor), so any IEEE engine — the DuckDB oracle included — lands on the
    * identical grid, which is what makes the k-means training below
    * bit-reproducible. The +2 shift keeps components positive (floored
    * means replay exactly); a constant shift leaves L2 distances unchanged.
    */
  def quantize(vec: Column): Column =
    transform(vec, x =>
      floor((least(greatest(x.cast("double"), lit(-2.0)), lit(2.0)) + lit(2.0)) * lit(1048576.0))
        .cast("double"))

  /** Coarse-quantizer training, FAISS-style: Lloyd's k-means over a
    * deterministic id-sampled subset collected to the driver. The SAMPLE,
    * not the corpus, bounds training cost (at 10^9+ vectors raise
    * `sampleMod` so the sample stays ~10^5); the corpus is only touched by
    * the single assignment pass in [[ivfTopK]]. All arithmetic is exact:
    * integer-grid vectors, order-independent integer sums (< 2^53), floored
    * means — so the centroids are a pure function of the data and the
    * oracle can replay them. Init = the `nlist` lowest-id sample vectors;
    * an empty cell keeps its previous centroid; ties assign the lowest cid.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, sampleMod: Long,
      maxSample: Int = 200000): Seq[Array[Double]] = {
    // The collect is BOUNDED by maxSample+1 rows (orderBy+limit plans as a
    // distributed TakeOrdered, so at most that many rows ever reach the
    // driver) — a sampleMod too small for the corpus fails with a clear
    // error instead of materializing a corpus-sized sample and OOMing the
    // driver. 200k rows x 64 dims x 8 B ~ 100 MB: ample for k-means, safe
    // to hold. Scale sampleMod with the corpus so the sample stays under it.
    val samp = collectTrainingSample(corpus, idCol, vecCol, sampleMod,
      maxSample, raw = false)
    require(samp.length >= nlist,
      s"sample (${samp.length}) smaller than nlist ($nlist): lower sampleMod")
    lloydKMeans(samp, nlist, iters, floorMeans = true).toIndexedSeq
  }

  /** Per-subspace PQ codebooks: Lloyd's over the bounded RAW training
    * sample (codebooks need no oracle replay — PQ callers re-rank their
    * shortlist exactly), `min(nCentsMax, sample)` entries each. Shared
    * by [[ivfPqTopK]] and the persistent [[VectorIndex]] PQ mode. */
  private[graft] def trainPqCodebooks(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, nCentsMax: Int, pqIters: Int,
      sampleMod: Long, maxSample: Int = 200000): Seq[Seq[Array[Double]]] = {
    val samp = collectTrainingSample(corpus, idCol, vecCol, sampleMod,
      maxSample, raw = true)
    val dim = samp.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    val dsub = dim / m
    val nCents = math.min(nCentsMax, samp.length)
    (0 until m).map { j =>
      lloydKMeans(samp.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)),
        nCents, pqIters, floorMeans = false).toSeq
    }
  }

  /** Both training projections of the SAME bounded sample in ONE pass
    * (r15, guide §1.2: the PQ create previously scanned the base twice —
    * once for the quantized coarse-quantizer sample, once for the raw PQ
    * sample — for byte-identical row sets). Returns (quantized, raw),
    * row-aligned, under the identical filter/order/limit discipline as
    * [[collectTrainingSample]], so both trainings see exactly the arrays
    * the two separate collects produced. */
  private[graft] def collectTrainingSampleBoth(corpus: DataFrame, idCol: String,
      vecCol: String, sampleMod: Long, maxSample: Int = 200000)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val samp = corpus.where(col(idCol) % sampleMod === 0)
      .select(col(idCol), quantize(col(vecCol)).as("q"), toDouble(col(vecCol)).as("r"))
      .orderBy(idCol)
      .limit(maxSample + 1)
      .collect()
    require(samp.length <= maxSample,
      s"IVF training sample exceeds maxSample=$maxSample rows: raise sampleMod " +
        s"(currently $sampleMod) so the driver-side sample stays bounded")
    (samp.map(_.getSeq[Double](1).toArray), samp.map(_.getSeq[Double](2).toArray))
  }

  /** [[trainIvfCentroids]] over a pre-collected quantized sample. */
  private[graft] def trainIvfCentroidsFromSample(samp: Array[Array[Double]],
      nlist: Int, iters: Int): Seq[Array[Double]] = {
    require(samp.length >= nlist,
      s"sample (${samp.length}) smaller than nlist ($nlist): lower sampleMod")
    lloydKMeans(samp, nlist, iters, floorMeans = true).toIndexedSeq
  }

  /** [[trainPqCodebooks]] over a pre-collected raw sample. */
  private[graft] def trainPqCodebooksFromSample(samp: Array[Array[Double]],
      m: Int, nCentsMax: Int, pqIters: Int): Seq[Seq[Array[Double]]] = {
    val dim = samp.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    val dsub = dim / m
    val nCents = math.min(nCentsMax, samp.length)
    (0 until m).map { j =>
      lloydKMeans(samp.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)),
        nCents, pqIters, floorMeans = false).toSeq
    }
  }

  /** Bounded deterministic driver-side training sample. `raw = false`
    * quantizes to the exact integer grid (coarse-quantizer training must
    * be oracle-replayable); `raw = true` keeps the true double values
    * (PQ codebooks need no replay — the shortlist re-ranks exactly). The
    * collect is BOUNDED by maxSample+1 rows (orderBy+limit plans as a
    * distributed TakeOrdered). */
  private def collectTrainingSample(corpus: DataFrame, idCol: String,
      vecCol: String, sampleMod: Long, maxSample: Int,
      raw: Boolean): Array[Array[Double]] = {
    val proj = if (raw) toDouble(col(vecCol)) else quantize(col(vecCol))
    val samp = corpus.where(col(idCol) % sampleMod === 0)
      .select(col(idCol), proj.as("q"))
      .orderBy(idCol)
      .limit(maxSample + 1)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(samp.length <= maxSample,
      s"IVF training sample exceeds maxSample=$maxSample rows: raise sampleMod " +
        s"(currently $sampleMod) so the driver-side sample stays bounded")
    samp
  }

  /** Lloyd's k-means, shared by the coarse quantizer and the per-subspace
    * PQ codebooks. Init = the kCents lowest-id sample vectors; strict <
    * keeps the lowest centroid id on ties; an empty cell keeps its
    * previous centroid. `floorMeans` floors each mean to the integer grid
    * (the bit-reproducibility rule of the coarse path). */
  private[graft] def lloydKMeans(samp: Array[Array[Double]], kCents: Int,
      iters: Int, floorMeans: Boolean): Array[Array[Double]] = {
    val dim = samp.head.length
    var cents = samp.take(kCents)
    for (_ <- 0 until iters) {
      val sums = Array.fill(kCents)(new Array[Double](dim))
      val cnts = new Array[Long](kCents)
      samp.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kCents) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c } // strict < keeps lowest cid on ties
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(kCents) { c =>
        if (cnts(c) == 0) cents(c)
        else if (floorMeans)
          Array.tabulate(dim)(i => math.floor(sums(c)(i) / cnts(c)))
        else Array.tabulate(dim)(i => sums(c)(i) / cnts(c))
      }
    }
    cents
  }

  /** (dist, cid) structs for every centroid, as ONE codegen'd projection —
    * dist = |q|^2 + |c|^2 - 2 q.c with |c|^2 folded to a driver-side
    * literal, so assignment is nlist dot products per row, no join, no
    * shuffle. Exact: every term is an integer < 2^51 held in a double. */
  private def cellDists(vecQ: Column, cents: Seq[Array[Double]]): Column = {
    val qq = dot(vecQ, vecQ)
    array(cents.zipWithIndex.map { case (c, cid) =>
      val c2 = c.map(x => x * x).sum
      struct((qq + lit(c2) - lit(2.0) * dot(vecQ, typedLit(c.toSeq))).as("dist"),
        lit(cid.toLong).as("cid"))
    }: _*)
  }

  /** Nearest-centroid cell id (struct array_min = ORDER BY dist, cid). */
  def ivfCell(vecQ: Column, cents: Seq[Array[Double]]): Column =
    array_min(cellDists(vecQ, cents)).getField("cid")

  /** The query's `nprobe` nearest cells (probing is query-side only; the
    * corpus keeps exactly one cell per vector). */
  def ivfProbes(vecQ: Column, cents: Seq[Array[Double]], nprobe: Int): Column =
    transform(slice(array_sort(cellDists(vecQ, cents)), 1, nprobe), s => s.getField("cid"))

  /** `sampleMod <= 0` means DERIVE from the corpus size so the driver-side
    * training sample stays ~[[IvfTargetSample]] rows without the caller
    * tuning anything (a fixed small default meant "collect a third of the
    * corpus" — an OOM waiting for any corpus past a few hundred thousand
    * rows). The size comes from METADATA when the corpus is a catalog
    * table or a bare parquet scan (log record_count / footer row counts —
    * no Spark job at all); only an already-transformed corpus pays one
    * count job. Either way the mod is the same pure function of the
    * corpus, so an oracle replaying training derives it identically. */
  private def deriveSampleMod(corpus: DataFrame, corpusId: String,
      sampleMod: Long): Long =
    if (sampleMod > 0) sampleMod
    else {
      val n = MetadataRowCount.exact(corpus)
        .getOrElse(OnePass.aggregate(corpus, Seq(count(lit(1)))).getLong(0))
      math.max(1L, (n + IvfTargetSample - 1) / IvfTargetSample)
    }

  /** Coarse centroids through the full reuse stack: a provable corpus
    * identity + identical params means identical centroids (training is
    * deterministic) — serve the in-memory cache, then the sidecar store,
    * then train (and warm both tiers); see [[centroidCache]]. */
  private def coarseCentroids(corpus: DataFrame, corpusId: String,
      corpusVec: String, nlist: Int, iters: Int, mod: Long): Seq[Array[Double]] = {
    val cacheKey = corpusIdentity(corpus)
      .map(id => s"$id|$corpusId|$corpusVec|$nlist|$iters|$mod")
    cacheKey.flatMap(k =>
      centroidCache.get(k).orElse {
        // fresh driver, same corpus: the sidecar (if configured) serves
        // with zero training collects; warm the in-memory tier
        val fromDisk = loadSidecarCentroids(corpus, k)
        fromDisk.foreach(centroidCache.put(k, _))
        fromDisk
      }).getOrElse {
      val trained = trainIvfCentroids(corpus, corpusId, corpusVec, nlist, iters, mod)
      ivfTrainings += 1
      cacheKey.foreach { k =>
        centroidCache.put(k, trained)
        writeSidecarCentroids(corpus, k, trained)
      }
      trained
    }
  }

  /** IVF approximate top-k: train the coarse quantizer on a driver-side
    * sample, assign each corpus vector to ONE cell in a single scan, probe
    * the query's `nprobe` nearest cells, exact-cosine re-rank the union.
    * vs LSH: cells partition the corpus (a candidate pair appears at most
    * once — no dropDuplicates pass), occupancy is ~n/nlist per cell, and
    * the scanned fraction is nprobe/nlist, tunable per query without
    * re-indexing. Scale nlist ~ sqrt(n) and sampleMod with corpus size.
    * Returns (query_id, neighbor_id, rank). */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 8, nprobe: Int = 3, iters: Int = 2,
      sampleMod: Long = 0): DataFrame = {
    // sampleMod <= 0 means DERIVE from the corpus size so the driver-side
    // training sample stays ~IvfTargetSample rows without the caller tuning
    // anything (a fixed small default meant "collect a third of the corpus"
    // — an OOM waiting for any corpus past a few hundred thousand rows).
    // The size comes from METADATA when the corpus is a catalog table or a
    // bare parquet scan (log record_count / footer row counts — no Spark
    // job at all); only an already-transformed corpus pays one count job.
    // Either way the mod is the same pure function of the corpus, so an
    // oracle replaying training derives it identically.
    val sims = ivfCandidateSims(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, nlist, nprobe, iters, sampleMod)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** The IVF candidate pass shared by [[ivfTopK]] and [[hardNegatives]]:
    * probe each query's `nprobe` nearest cells, exact-cosine every
    * candidate in them. Returns (query_id, neighbor_id, sim). */
  private def ivfCandidateSims(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String, queryVec: String,
      nlist: Int, nprobe: Int, iters: Int, sampleMod: Long): DataFrame = {
    val mod = deriveSampleMod(corpus, corpusId, sampleMod)
    val cents = coarseCentroids(corpus, corpusId, corpusVec, nlist, iters, mod)
    val c = corpus.select(col(corpusId), col(corpusVec), norm(col(corpusVec)).as("_cn"),
      ivfCell(quantize(col(corpusVec)), cents).as("cell"))
    val q = queries.select(col(queryId), col(queryVec), norm(col(queryVec)).as("_qn"),
      explode(ivfProbes(quantize(col(queryVec)), cents, nprobe)).as("cell"))
    c.join(broadcast(q), Seq("cell"))
      .where(col(corpusId) =!= col(queryId))
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        (dot(col(corpusVec), col(queryVec)) / (col("_cn") * col("_qn"))).as("sim"))
  }

  /** TOPIC-BALANCED SUBSAMPLING (the cluster stage of SemDeDup-style
    * curation; cluster-balanced selection generally): cluster rows by
    * embedding with the IVF coarse quantizer (k-means over exact
    * integer-quantized arithmetic — deterministic and oracle-replayable)
    * and keep at most `perCluster` rows per cluster, highest `score`
    * first (ties by id) — so head topics cannot crowd the tail out of a
    * sampled corpus. One corpus scan assigns cells; the per-cluster cut
    * is a rank window partitioned by cluster (state O(perCluster) per
    * partition, fully distributed). Output: the input columns plus
    * `cluster` and `cluster_rank`. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      score: Column, nClusters: Int, perCluster: Int,
      iters: Int = 2, sampleMod: Long = 0): DataFrame = {
    val mod = deriveSampleMod(corpus, idCol, sampleMod)
    val cents = coarseCentroids(corpus, idCol, vecCol, nClusters, iters, mod)
    val assigned = corpus.withColumn("cluster",
      ivfCell(quantize(col(vecCol)), cents))
    val w = Window.partitionBy("cluster").orderBy(score.desc, col(idCol))
    assigned.withColumn("cluster_rank", row_number().over(w).cast("long"))
      .where(col("cluster_rank") <= perCluster)
  }

  /** HARD-NEGATIVE MINING for contrastive training (the DPR recipe —
    * Karpukhin et al. 2020; sentence-transformers mines the same way):
    * for each query, the top-k corpus items MOST similar to it that are
    * NOT its labeled positives — negatives near the decision boundary,
    * which carry most of the contrastive gradient. Candidates come from
    * the IVF cell index (never all-pairs); positives drop via an
    * anti-join BEFORE the rank window, so every query still yields k
    * full negatives; `maxSim` additionally drops candidates nearly
    * identical to the query — likely FALSE negatives / unlabeled
    * duplicates (the standard mining filter). At 100 TB the cost shape
    * is [[ivfTopK]]'s: one corpus scan for cell assignment, candidates
    * bounded by nprobe/nlist of the corpus per query, positives a
    * broadcast-sized pair list. Returns (query_id, neighbor_id, rank). */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      positives: DataFrame, posQueryCol: String, posCorpusCol: String,
      k: Int, nlist: Int = 8, nprobe: Int = 3, iters: Int = 2,
      sampleMod: Long = 0, maxSim: Double = Double.MaxValue): DataFrame = {
    val sims = ivfCandidateSims(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, nlist, nprobe, iters, sampleMod)
    val pos = broadcast(positives.select(
      col(posQueryCol).as("__hq"), col(posCorpusCol).as("__hn")).distinct())
    val negs = sims
      .join(pos, col("query_id") === col("__hq") &&
        col("neighbor_id") === col("__hn"), "left_anti")
      .where(col("sim") <= lit(maxSim))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    negs.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** IVF-PQ approximate top-k (Jégou et al. 2011; the FAISS IVFPQ shape):
    * [[ivfTopK]]'s candidate pass reads the FULL vector of every row in
    * every probed cell — at 10^9+ rows the scan is vector-IO-bound. Here
    * the probed cells are scored from m-BYTE product-quantization codes
    * via per-query ADC lookup tables (compiled kernels, [[graft.functions
    * .PqExprs]]): candidate IO drops d*4/m-fold (32x at d=64, m=8), and
    * only the top `k*refine` shortlist per query loads true vectors for
    * an EXACT cosine re-rank — so the final ranking is exact over the
    * shortlist, and recall is governed by (nprobe, refine), both tunable
    * per query without re-encoding.
    *
    * Training: coarse centroids ride the same cache/sidecar reuse stack
    * as [[ivfTopK]]; PQ codebooks train per-subspace (Lloyd, 256 entries)
    * on the same BOUNDED driver sample — raw doubles, since codebooks
    * need no oracle replay (the shortlist re-ranks exactly). Encoding is
    * one corpus scan.
    *
    * Returns (query_id, neighbor_id, rank). */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 8, nprobe: Int = 3, iters: Int = 2,
      sampleMod: Long = 0, m: Int = 8, pqIters: Int = 3,
      refine: Int = 4): DataFrame = {
    val mod = deriveSampleMod(corpus, corpusId, sampleMod)
    val cents = coarseCentroids(corpus, corpusId, corpusVec, nlist, iters, mod)
    val books = trainPqCodebooks(corpus, corpusId, corpusVec, m, 256, pqIters, mod)
    val nCents = books.head.size
    val cb = graft.functions.PqExprs.codebooksOf(books)
    import graft.functions.PqFunctions._
    // candidate pass: (id, cell, m-byte code, norm) — never the vector
    val c = corpus.select(col(corpusId),
      ivfCell(quantize(col(corpusVec)), cents).as("cell"),
      pqEncode(toDouble(col(corpusVec)), cb, nCents).as("code"),
      norm(col(corpusVec)).as("_cn"))
    val q = queries.select(col(queryId), norm(col(queryVec)).as("_qn"),
        pqLut(toDouble(col(queryVec)), cb).as("lut"),
        quantize(col(queryVec)).as("_qq"))
      .withColumn("cell", explode(ivfProbes(col("_qq"), cents, nprobe)))
      .select(col(queryId), col("cell"), col("lut"), col("_qn"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col(corpusId) =!= col(queryId))
      .select(col(queryId).as("query_id"), col(corpusId).as("neighbor_id"),
        (pqAdc(col("code"), col("lut")) / (col("_cn") * col("_qn"))).as("asim"))
    val wa = Window.partitionBy("query_id").orderBy(col("asim").desc, col("neighbor_id"))
    val shortlist = scored
      .withColumn("ar", row_number().over(wa)).where(col("ar") <= k * refine)
      .select("query_id", "neighbor_id")
    // exact re-rank of the byte-scored shortlist only
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("_cvec"), norm(col(corpusVec)).as("_cn"))
    val qv = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("_qvec"), norm(col(queryVec)).as("_qn"))
    val exact = shortlist.join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_cvec"), col("_qvec")) / (col("_cn") * col("_qn"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup": documents
    * whose EMBEDDINGS nearly coincide are redundant even when their text
    * differs — the semantic tier above MinHash): cluster the corpus with
    * the coarse quantizer, compare pairs WITHIN each cell only (the
    * cluster bounds the quadratic — occupancy ~n/nlist, so nlist scales
    * as n/target_cell just like IVF), keep one representative per
    * connected component of the cosine>=tau graph. Representative = the
    * component's MINIMUM id (deterministic and engine-portable — the
    * paper's keep-farthest-from-centroid is a policy variant a caller
    * can express over [[Dedup.clusters]] directly).
    *
    * 100-TB shape: one corpus scan assigns cells; the self-join shuffles
    * each vector once by cell id; component resolution and the final
    * anti-join ride [[Dedup.clusters]]/[[Dedup.dropNearDuplicates]]
    * (bounded driver shortcut or distributed propagation). Pairs whose
    * near-dups straddle a cell boundary are missed — the approximation
    * SemDeDup itself makes; raise nlist for cost, lower for recall.
    *
    * Returns the SURVIVING rows of `corpus` (schema preserved). */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, nlist: Int = 8, iters: Int = 2,
      sampleMod: Long = 0): DataFrame = {
    val mod = deriveSampleMod(corpus, idCol, sampleMod)
    val cents = coarseCentroids(corpus, idCol, vecCol, nlist, iters, mod)
    val c = corpus.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("_n"),
      ivfCell(quantize(col(vecCol)), cents).as("cell"))
    val a = c.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("_va"), col("_n").as("_na"))
    val b = c.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("_vb"), col("_n").as("_nb"))
    val pairs = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")) >= tau)
      .select("id_a", "id_b")
    Dedup.dropNearDuplicates(corpus, idCol, pairs)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold among pairs that
    * collide in ANY of the `nTables` LSH tables (the embedding flavor of
    * Dedup). The exact cosine recheck makes the OUTPUT deterministic given
    * the planes — LSH only affects recall, never precision. */
  def embeddingNearDup(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, nPlanes: Int = 8, nTables: Int = 8): DataFrame = {
    // candidate pairs are IDS ONLY through the bucket self-join (the two
    // sides are the same subplan, so the bucket shuffle executes once and
    // is reused); vectors join back only for deduped surviving pairs
    val b = explodeBucketIds(corpus, idCol, vecCol, dim, nPlanes, nTables)
    val a = b.select(col("table_idx"), col("bucket"), col(idCol).as("id_a"))
    val c = b.select(col("table_idx"), col("bucket"), col(idCol).as("id_b"))
    val pairs = a.join(c, Seq("table_idx", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val v = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("_n"))
    pairs
      .join(v.toDF("id_a", "v_a", "n_a"), Seq("id_a"))
      .join(v.toDF("id_b", "v_b", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("sim"))
      .where(col("sim") >= minCosine)
  }
}
