package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.SnapshotCatalog

/** PERSISTENT, INCREMENTALLY-MAINTAINED INVERTED TEXT INDEX — BM25
  * serving from a catalog table instead of a per-query tokenization run.
  *
  * [[Retrieval.bm25TopK]] re-derives its postings skeleton from the raw
  * corpus on every call: right for ad-hoc exploration, wrong for a
  * serving corpus — at 100 TB the tokenize + explode + aggregate pass is
  * a full-corpus job you don't want to repeat per query batch. This
  * module is the lexical twin of [[VectorIndex]]: the postings become a
  * DURABLE table, maintained churn-sized from per-commit metadata, laid
  * out so a query reads only the files its own terms live in.
  *
  *   - `<name>`: the postings, `(<id>, bucket BIGINT, term STRING,
  *     tf BIGINT, dl BIGINT)`, HIVE-PARTITIONED BY `bucket =
  *     pmod(xxhash64(term), nbuckets)`. Every posting of a term lives in
  *     exactly one bucket directory, so a query with Q distinct terms
  *     prunes the scan to at most Q of `nbuckets` directories — the
  *     lexical analogue of the vector index's nprobe/nlist file pruning.
  *     `dl` (the document's token count) is denormalized onto each
  *     posting so scoring never joins a doc-length table.
  *   - corpus scalars ride TABLE PROPERTIES: `textindex.n-docs` and
  *     `textindex.total-dl` (over token-bearing docs — the same universe
  *     [[Retrieval.bm25TopK]] derives its N/avgdl from, and the one the
  *     SQL oracle replays), folded EXACTLY at every refresh from the
  *     multiset-exact changelog. Both are integers, so the fold drifts
  *     by nothing and `avgdl = total_dl / n_docs` matches a from-scratch
  *     average bit-for-bit.
  *
  * [[refresh]] advances the index through [[IndexMaintainer]] (pure
  * append, touched-id repair or full re-tokenization; the lanes and the
  * repair's rationale are documented there), folding the corpus scalars
  * from the same changelog.
  *
  * The design point at scale: ingest 10^6 documents into a 10^10 corpus
  * and the index advances with one 10^6-doc tokenize + one metadata
  * commit, while every query keeps reading Q-terms' worth of bucket
  * directories — the recompute-per-call alternative re-tokenizes the
  * lake per query batch.
  *
  * Document ids must be UNIQUE per row (the id-keyed-index contract of
  * [[IndexMaintainer]]; BM25's per-doc length normalization is also only
  * well-defined for one text per id).
  */
object TextIndex {

  val PropBase = "textindex.base"
  val PropIdCol = "textindex.id-col"
  val PropTextCol = "textindex.text-col"
  val PropBuckets = "textindex.nbuckets"
  val PropPin = "textindex.pinned-snapshot"
  val PropNDocs = "textindex.n-docs"
  val PropTotalDl = "textindex.total-dl"

  /** Bucket-count ceiling: each bucket is one hive directory of the
    * postings table, and [[topK]] folds the probed-bucket set into a
    * driver-side predicate — both are O(nbuckets) metadata. 2^16 keeps
    * the directory fan-out filesystem-friendly; a 10^9-term vocabulary
    * still spreads ~15k terms per bucket, each file-skippable by the
    * term column's own footer stats within the directory. */
  val MaxBuckets = 65536

  private def bucketOf(term: Column, nbuckets: Int): Column =
    pmod(xxhash64(term), lit(nbuckets.toLong))

  private def indexSchema(idField: StructField): StructType = StructType(Seq(
    idField.copy(nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false)))

  /** Tokenize `rows` into the stored postings shape — the exact
    * [[Retrieval.postings]] skeleton plus the bucket routing column.
    * One explode + one hash aggregation; empty-token docs contribute no
    * postings (and are excluded from the corpus scalars to match). */
  private def postingsOf(rows: DataFrame, idCol: String, textCol: String,
      nbuckets: Int): DataFrame =
    rows.select(col(idCol), Retrieval.toks(col(textCol)).as("ts"))
      .select(col(idCol), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), bucketOf(col("term"), nbuckets).as("bucket"),
        col("term"), col("tf"), col("dl"))

  /** The index's part of the [[IndexMaintainer]] skeleton. The corpus
    * scalars are per-doc counters: token-bearing docs count 1 and add
    * their token count; zero-token docs are outside the scoring universe
    * (they hold no postings and cannot match any query), so they count
    * in neither. */
  private def kindOf(p: Map[String, String]): IndexMaintainer.Kind = {
    val Array(bdb, btab) = p(PropBase).split("\\.", 2)
    val (idCol, textCol) = (p(PropIdCol), p(PropTextCol))
    val dl = size(Retrieval.toks(col(textCol))).cast("long")
    IndexMaintainer.Kind(bdb, btab, PropPin, idCol, Seq(idCol, textCol),
      postingsOf(_, idCol, textCol, p(PropBuckets).toInt),
      Map(PropNDocs -> when(dl > 0, 1L).otherwise(0L),
        PropTotalDl -> when(dl > 0, dl).otherwise(0L)))
  }

  private[graft] def kind(cat: SnapshotCatalog, db: String,
      name: String): IndexMaintainer.Kind = kindOf(cat.meta(db, name).properties)

  /** Build the index over `db.baseTable`'s CURRENT snapshot. `nbuckets`
    * is the pruning granularity: queries read ~(distinct query terms)
    * buckets, so more buckets = finer pruning, more directories. */
  def create(cat: SnapshotCatalog, db: String, baseTable: String, name: String,
      idCol: String, textCol: String, nbuckets: Int = 256): Unit = {
    require(nbuckets > 0 && nbuckets <= MaxBuckets,
      s"nbuckets must be in [1, $MaxBuckets], got $nbuckets")
    val props = Map(PropBase -> s"$db.$baseTable", PropIdCol -> idCol,
      PropTextCol -> textCol, PropBuckets -> nbuckets.toString)
    IndexMaintainer.create(cat, db, name, kindOf(props), indexSchema, "bucket", props)
  }

  /** Advance the index to the base table's current snapshot. Returns
    * (mode, commits advanced): "fresh", "incremental" or "full" — the
    * [[IndexMaintainer]] lanes. The corpus scalars fold from the same
    * changelog multisets (`n' = n + |ins| - |del|` over token-bearing
    * docs, likewise total dl) and land with the pin in one write. */
  def refresh(cat: SnapshotCatalog, db: String, name: String): (String, Long) =
    IndexMaintainer.refresh(cat, db, name, kind(cat, db, name))

  /** BM25 top-k served ENTIRELY from the index: route each query term to
    * its bucket, read ONLY those buckets' partitions (the probed set is
    * bounded by the query batch's distinct terms — folded into a pruning
    * predicate, so the scan skips every other directory), score with the
    * [[Retrieval.bm25TopK]] formula. Document frequency comes from the
    * SAME pruned postings (a term's postings live wholly in its bucket,
    * so a per-term window count over the matched rows is the exact
    * corpus df — no df sidecar to maintain, no extra scan); N and avgdl
    * come from the folded properties. Identical semantics, scores, and
    * quantization to the recompute path — differentially asserted in
    * TextIndexSpec — so `(query_id, <id>, score_q, rank)` here equals
    * `bm25TopK` over the base at the index's pin. */
  def topK(cat: SnapshotCatalog, db: String, name: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val p = cat.meta(db, name).properties
    val idCol = p(PropIdCol)
    val nb = p(PropBuckets).toInt
    val nDocs = p(PropNDocs).toLong
    val totalDl = p(PropTotalDl).toLong
    require(nDocs > 0, s"index $db.$name holds no token-bearing documents")
    val avgdl = totalDl.toDouble / nDocs
    // DISTINCT query terms (BM25 scores a term once), small by
    // definition: broadcast onto the pruned postings
    val qTerms = queries
      .select(col(qIdCol).as("query_id"),
        explode(Retrieval.toks(col(qTextCol))).as("term"))
      .distinct()
    // a term-less query batch probes nothing and reads zero files; the
    // equi-join on `term` below keeps an over-read bucket exact (a term's
    // postings live wholly in its own bucket)
    val idx = IndexMaintainer.probedRead(cat, db, name, "bucket",
      qTerms.select(bucketOf(col("term"), nb)))
    // postings of the query's terms only; per-term df via a window count
    // (one pass — each term's partition IS its full corpus posting list)
    val matched = idx
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"), "left_semi")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val scored = matched.join(broadcast(qTerms), Seq("term"))
      .withColumn("contrib",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("query_id"), col(idCol))
      .agg(floor(sum("contrib") * 1e4).cast("long").as("score_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
