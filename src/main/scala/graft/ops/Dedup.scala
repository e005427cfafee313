package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OnePass

/** Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard (north-star surface; public algorithms —
  * Broder's MinHash/shingling, Charikar's SimHash — composed from built-in
  * Spark expressions; no reference counterpart).
  *
  * Scale posture (100 TB): all candidate generation is
  * explode -> hash-partitioned groupBy/join on SHORT keys (band hashes,
  * 16-bit chunks, shingles), never an all-pairs product. Signatures are
  * computed row-local inside WholeStageCodegen (no UDFs). The only shuffles
  * move (key, doc_id) pairs — bytes per doc, not documents.
  */
object Dedup {

  // ---- exact ----

  /** Exact dedup: representative (min id) + multiplicity per identical key.
    * At scale this is one hash-partitioned aggregation on the dedup key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // ---- shingling ----

  /** Distinct w-word shingles of `text` (the unit set for MinHash/Jaccard).
    * Short docs (< w words) yield their full text as one shingle. Native
    * kernel ([[graft.functions.WordShingles]]); semantically identical to
    * the declarative
    * `array_distinct(transform(sequence(1, greatest(n-w+1, 1)),
    *   i -> array_join(slice(split(text, " "), i, w), " ")))`,
    * which q26's DuckDB oracle still mirrors. */
  def wordShingles(text: Column, w: Int): Column =
    graft.functions.TextExprs.wordShingles(text, w)

  // ---- MinHash + LSH ----

  /** MinHash signature: min over shingles per hash function. Delegates to
    * the native [[graft.functions.MinHashSignature]] expression — the
    * declarative HOF form (`transform(seq, i -> array_min(transform(...)))`)
    * costs numHashes x |shingles| interpreted lambda evals per row, which
    * measured 300x slower at 5k docs. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.MinHashSignature.minhashSignature(shingles, numHashes)

  /** LSH banding: (doc_id, band_idx, band_hash) — docs agreeing on ANY full
    * band become candidates. bands*rowsPerBand must equal the signature
    * length. The band hash is the shuffle key: candidates meet in a
    * hash-partitioned self-join, so cost scales with collisions, not n². */
  def lshBands(df: DataFrame, idCol: String, signature: Column,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = df.select(col(idCol).as("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    banded
  }

  /** Candidate near-dup pairs from MinHash LSH (id_a < id_b, distinct).
    *
    * The shingle set is materialized into its own projection before the
    * signature is computed: the signature lambda references `shingles` once
    * PER SEED, and Catalyst does not common-subexpression-eliminate inside
    * lambda bodies — inlining the shingle construction there made the plan
    * rebuild the shingle set numHashes times per row (observed: minutes vs
    * seconds at 5k docs). CollapseProject keeps multi-referenced non-cheap
    * aliases materialized, so two selects are load-bearing here. */
  def minhashCandidates(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    minhashCandidatesFromShingles(
      df.select(col(idCol).as("doc_id"), wordShingles(text, 5).as("shingles")),
      numHashes, bands)

  /** Candidate generation from a pre-shingled (doc_id, shingles) frame —
    * lets pipeline shapes that also need the shingle sets downstream (the
    * verified-pair form) declare the shingle projection ONCE. */
  def minhashCandidatesFromShingles(sh: DataFrame,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands) — " +
        "integer division would silently drop the trailing hash lanes")
    val withSig = sh.select(col("doc_id"),
      minhashSignature(col("shingles"), numHashes).as("sig"))
    val banded = lshBands(withSig, "doc_id", col("sig"), bands, numHashes / bands)
    val a = banded.toDF("id_a", "band_idx", "band_hash")
    val b = banded.toDF("id_b", "band_idx", "band_hash")
    a.join(b, Seq("band_idx", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The production LSH-dedup pipeline shape: MinHash candidates, then an
    * EXACT integer-arithmetic Jaccard verification — so the output is the
    * deterministic set of true pairs at `num/den`, independent of which
    * hash family produced the candidates (the DuckDB oracle states it as
    * plain all-pairs Jaccard). With bands=32 (rows-per-band 2) the
    * per-pair miss probability at J >= 0.9 is (1 - J²)^32 <= 10^-23 —
    * candidate recall is total for the verification threshold. */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 5, num: Int = 9, den: Int = 10,
      numHashes: Int = 64, bands: Int = 32): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      wordShingles(col(textCol), w).as("shingles"))
    val cand = minhashCandidatesFromShingles(sh, numHashes, bands)
    verifyJaccard(cand, sh, num, den)
  }

  /** Exact Jaccard check of candidate (id_a, id_b) pairs against full
    * shingle sets: integer cross-multiplication, no float compare. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
      num: Int, den: Int): DataFrame = {
    val withSets = cand
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    withSets
      .select(col("id_a"), col("id_b"), inter.as("inter_sz"), union.as("union_sz"))
      .where(col("inter_sz") * den >= col("union_sz") * num)
  }

  // ---- n-gram / shingle Jaccard ----

  /** Exact Jaccard near-dup pairs at `num/den` threshold over w-word
    * shingles. Candidates come from an inverted shingle index (explode +
    * self-equi-join), restricted to RARE shingles: shingles appearing in
    * more than `maxDocFreq` documents are dropped from candidate
    * generation. Without the cap, one boilerplate shingle shared by 1M
    * docs emits df² ~ 10¹² candidate rows — the cap bounds the join at
    * maxDocFreq² per shingle, and recall stays perfect for every pair
    * sharing at least one rare shingle (pairs glued ONLY by boilerplate
    * are the MinHash path's job). The exact Jaccard test uses INTEGER
    * cross-multiplication (inter*den >= num*union) over the FULL shingle
    * sets — no float compare, so the DuckDB oracle matches bit-exactly. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 5, num: Int = 1, den: Int = 2, maxDocFreq: Int = 1000): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq < 2 would drop every shared shingle")
    val sh = df.select(col(idCol).as("doc_id"),
      wordShingles(col(textCol), w).as("shingles"))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // df-cap as a count-over-window on the shingle: ONE shuffle computes
    // the doc frequency and leaves the stream hash-partitioned on `sh` —
    // exactly the distribution the self-join needs, so no re-shuffle; and
    // the two join sides are the same subplan, so the exchange executes
    // once and is reused (vs groupBy+join: two extra scans of the index)
    val wsh = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val invRare = inv.withColumn("df", count(lit(1)).over(wsh))
      .where(col("df") <= maxDocFreq)
      .select("sh", "doc_id")
    val cand = invRare.toDF("sh", "id_a").join(invRare.toDF("sh", "id_b"), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(cand, sh, num, den)
  }

  // ---- near-dup clustering ----

  /** Connected components over a near-dup pair list: every document in a
    * pair maps to its component's MINIMUM id (the canonical
    * keep-one-per-cluster step after candidate verification — pairs alone
    * overcount when A~B and B~C but A!~C).
    *
    * Pregel-style min-label propagation: each round every node takes the
    * min of its own label and its neighbors'; rounds needed = component
    * diameter (near-dup clusters are shallow — a handful of rounds).
    * Each round is one hash-partitioned join+agg on the edge list, and
    * lineage is truncated per round so the plan stays flat — the standard
    * large-graph CC shape. Deterministic: pure min over an id set.
    * Returns (doc_id, cluster_rep) for every doc appearing in a pair.
    *
    * Round materialization has two modes:
    *  - default (`checkpointDir = None`): `localCheckpoint` — blocks live
    *    on executors; fastest, but an executor loss mid-computation kills
    *    the lineage-truncated frame (fine on local mode and short jobs);
    *  - RELIABLE (`checkpointDir = Some(dir)`): each round ping-pongs
    *    through parquet under `dir` (two alternating files — bounded
    *    scratch, not one per round), so every round survives any executor
    *    loss and the job resumes from storage like Iceberg/GraphX
    *    reliable checkpointing. ~One extra write+read per round — the
    *    right trade on a 1000-executor cluster where losing a round of a
    *    deep component propagation costs more than the IO. The observed
    *    convergence count rides the SAME materializing action in both
    *    modes (one job per round). */
  def clusters(pairs: DataFrame, maxRounds: Int = 50,
      checkpointDir: Option[String] = None,
      driverMaxPairs: Long = 2000000L): DataFrame = {
    val session = pairs.sparkSession
    def materialize(df: DataFrame, name: String): DataFrame = checkpointDir match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val path = s"$dir/$name.parquet"
        df.write.mode("overwrite").parquet(path)
        session.read.parquet(path)
    }
    val edges = materialize(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      "cc-edges")
    // SMALL-GRAPH shortcut, measured AFTER the one unavoidable pipeline
    // materialization above (count/collect here read the checkpoint, not
    // the candidate-generation pipeline): near-dup pair graphs are
    // usually a tiny fraction of the corpus, and the propagation loop
    // pays ~R jobs of fixed overhead regardless of size. When the edge
    // count fits a HARD driver bound (2 x 2M directed edges ≈ 64 MB of
    // longs — the same bounded-materialization discipline as the IVF
    // training sample), one streamed primitive-array ingest + union-find
    // replaces the loop;
    // graphs past the bound keep the distributed propagation, the only
    // option at scale. Integral same-typed ids only (the driver's min
    // must equal the engine's).
    val idTypes = pairs.schema.fields.map(_.dataType).toSeq
    val integral = idTypes.distinct.size == 1 && idTypes.forall(t =>
      t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType)
    val nDirected = OnePass.aggregate(edges, Seq(count(lit(1)))).getLong(0)
    if (integral && driverMaxPairs > 0 && nDirected <= 2 * driverMaxPairs &&
        nDirected <= Int.MaxValue) {
      // primitive-array ingest, NOT collect(): collect materializes every
      // edge as a schema-carrying Row (two boxed Longs + object headers,
      // ~40x the 16 payload bytes — hundreds of MB transient at the 4M
      // bound). toLocalIterator streams one partition of Rows at a time
      // into two pre-sized Array[Long]s, so peak driver footprint is the
      // ~64 MB of longs the bound was sized for plus a single partition.
      val srcA = new Array[Long](nDirected.toInt)
      val dstA = new Array[Long](nDirected.toInt)
      val it = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .toLocalIterator()
      var nEdges = 0
      while (it.hasNext) {
        val r = it.next()
        srcA(nEdges) = r.getLong(0); dstA(nEdges) = r.getLong(1); nEdges += 1
      }
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var ei = 0
      while (ei < nEdges) {
        val a = srcA(ei); val b = dstA(ei)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        ei += 1
      }
      // second pass pins every member to its component MINIMUM — the same
      // output contract as the propagation loop
      val repOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keys.foreach { n =>
        val r = find(n)
        repOf(r) = math.min(repOf.getOrElse(r, n), n)
      }
      import session.implicits._
      val out = parent.keys.toSeq.map(n => (n, repOf(find(n)))).toDF("doc_id", "cluster_rep")
      return out.select(col("doc_id").cast(idTypes.head).as("doc_id"),
        col("cluster_rep").cast(idTypes.head).as("cluster_rep"))
    }
    var labels = materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")),
      "cc-labels-init")
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("dlabel").as("nlabel"))
      // convergence detection rides the checkpoint job itself: an
      // Observation on the changed-row count is populated by the SAME
      // action that materializes the round (`localCheckpoint` runs through
      // withAction), so each round is ONE job — the check used to be its
      // own join+shuffle job, doubling the hot loop's cost
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$round")
      val next = materialize(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("_old"))
        .observe(obs, sum(when(col("label") =!= col("_old"), 1L).otherwise(0L)).as("changed")),
        s"cc-labels-${round % 2}") // ping-pong: round N reads N-1's file, never its own
      changed = OnePass.result(obs).get(0) match {
        case n: Long => n
        case _ => 0L // null metric (empty frame): no rows changed
      }
      labels = next.select("id", "label")
      round += 1
    }
    require(changed == 0, s"label propagation did not converge in $maxRounds rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** The dedup RETENTION action: drop every near-duplicate except one
    * representative per cluster. `pairs` is any candidate-pair frame
    * (`id_a`,`id_b` — minhash/simhash/jaccard/embedding output); clusters
    * are their transitive closure and the kept representative is the
    * cluster's minimum id (deterministic: re-runs and backfills keep the
    * SAME survivor — no "first seen wins" order dependence). Documents in
    * no pair pass through untouched.
    *
    * 100-TB shape: [[clusters]] runs over the PAIRS (a small fraction of
    * the corpus), then ONE broadcast-or-hash anti-join removes the losers
    * from the corpus — the corpus itself is never re-keyed more than once. */
  def dropNearDuplicates(corpus: DataFrame, idCol: String,
      pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    val losers = clusters(pairs, checkpointDir = checkpointDir)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  // ---- SimHash ----

  /** 64-bit SimHash over word hashes: per bit, sign of the sum of ±1 votes
    * across tokens. Native kernel ([[graft.functions.SimHash64]]) — the
    * equivalent `aggregate`/`zip_with` 64-lane vote fold runs interpreted
    * per element and was ~10x slower. */
  def simhashColumn(text: Column): Column =
    graft.functions.TextExprs.simhash64(text)

  /** SimHash near-dup candidates: docs sharing any 16-bit chunk of the
    * signature (pigeonhole: hamming distance <= 3 guarantees a shared
    * chunk). Exact hamming (bit_count of xor) filters candidates. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol).as("doc_id"),
      simhashColumn(col(textCol)).as("sig")), "doc_id", "sig", maxHamming)

  /** All id pairs whose 64-bit signatures differ in at most `maxHamming`
    * bits — the banded self-join shared by simhash text dedup and pHash
    * image dedup: each signature splits into four 16-bit bands, pairs
    * join per band (a pair at Hamming <= 3 leaves at least one band
    * UNTOUCHED by pigeonhole, so candidate recall is EXACT, never a
    * similarity estimate), and the exact bit_count filter verifies.
    * Shuffle moves (band, id, sig) triples — never payloads; per-band
    * bucket occupancy is the skew knob (near-identical corpora
    * concentrate, which is inherent to the problem, not the plan). */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val base = sigs.select(col(idCol).as("doc_id"), col(sigCol).as("sig"))
    val chunked = base.select(col("doc_id"), col("sig"), explode(array(
      (0 until 4).map(i => struct(lit(i).as("chunk_idx"),
        shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk_idx"), col("c.chunk"))
    val a = chunked.toDF("id_a", "sig_a", "chunk_idx", "chunk")
    val b = chunked.toDF("id_b", "sig_b", "chunk_idx", "chunk")
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
