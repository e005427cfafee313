package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OnePass

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick raw-corpus documents whose hashed n-gram profile looks like
  * a small TARGET corpus (the domain you want more of), by importance
  * weighting under two bag-of-hashed-ngrams models and Gumbel top-k
  * resampling. The published recipe exactly: unigram+bigram features
  * hashed into a fixed bucket space, per-bucket categorical models fit on
  * target and raw, per-document log importance weight
  * `sum_b count_b * (log p_target(b) - log p_raw(b))`, then k docs drawn
  * WITHOUT replacement via the Gumbel-top-k trick.
  *
  * Scale shape (100 TB raw corpus):
  *  - the two model tables are bucket-space-bounded (<= `buckets` rows,
  *    default 4096) — they broadcast; fitting them is one exploded
  *    hash-aggregation each, with map-side partial aggregation doing the
  *    heavy lifting (gram explosion never shuffles raw text, only
  *    (bucket) or (doc_id, bucket) keys);
  *  - the only driver scalars are the two total gram counts (one row
  *    each);
  *  - per-document weights are a groupBy(doc_id, bucket) skeleton joined
  *    against the BROADCAST model tables — no shuffle wider than the
  *    skeleton;
  *  - the final draw is an `orderBy(key).limit(k)` — TakeOrderedAndProject,
  *    per-partition top-k then one driver merge of k rows per partition.
  *
  * Everything is engine-portable by value and oracle-checkable: buckets
  * come from md5 (the same portable hash as [[Sampling.hashPoint]]), the
  * Gumbel noise derives from md5 of (doc_id, seed) — deterministic across
  * runs, retries, and engines, unlike `rand()` — and log-weight sums
  * quantize at 1e-4 (the q104 discipline) so cross-engine fp summation
  * order cannot flip a compare.
  */
object Dsir {

  // the current generation's cached gram skeletons (at most one
  // generation alive; see importanceWeights)
  private val generation =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Seq.empty)

  /** Release the cached gram skeletons of the most recent
    * [[importanceWeights]]/[[resample]] call. Called automatically at the
    * START of the next DSIR computation (generational discipline); call
    * it explicitly when a long-lived session is done with DSIR. */
  def releaseCache(): Unit =
    generation.getAndSet(Seq.empty).foreach(df =>
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () })

  /** Whitespace tokens, empty-dropped — the q104 tokenizer, shared so the
    * LM filter and DSIR agree on what a "word" is. */
  private def toks(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** Unigrams + adjacent bigrams ("w1 w2") of `textCol`, one output row
    * per gram, the `carry` columns carried through. Shared with
    * [[QualityClassifier]] so the selector and the quality filter agree
    * on the feature space. */
  private[ops] def grams(df: DataFrame, carry: Seq[String], textCol: String): DataFrame = {
    val cs = carry.map(col)
    val base = df.select(cs :+ toks(col(textCol)).as("ts"): _*)
    val uni = base.select(cs :+ explode(col("ts")).as("g"): _*)
    val bi = base.withColumn("n", size(col("ts"))).where(col("n") >= 2)
      .select(cs :+ explode(sequence(lit(1), col("n") - 1)).as("i") :+ col("ts"): _*)
      .select(cs :+
        concat(element_at(col("ts"), col("i")), lit(" "),
          element_at(col("ts"), col("i") + 1)).as("g"): _*)
    uni.unionByName(bi)
  }

  /** Engine-portable gram bucket: first 8 hex chars of md5(gram) mod
    * `buckets` (md5 is bit-identical everywhere; the input is already
    * non-negative so `%` == `pmod`). */
  def bucketOf(g: Column, buckets: Int): Column =
    conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % buckets.toLong

  /** Per-document DSIR importance log-weights of `raw` against `target`.
    *
    * Returns `(doc_id, n_grams, logw_q)` — one row per raw document with
    * at least one token; `logw_q = floor(1e4 * sum_b c_b * (log p̂_t(b) -
    * log p̂_r(b)))` under add-k smoothed bucket models
    * `p̂(b) = (c_b + k) / (N + k·B)`. */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096, addK: Double = 0.5): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // Each corpus is gram-exploded exactly ONCE: the model subtrees each
    // appear twice in the plan (probe + model derivation) and the
    // optimizer's divergent column pruning defeats ReuseExchange, so the
    // skeletons CACHE — but GENERATIONALLY: each call first releases the
    // previous call's cached frames, so a long-lived session holds at
    // most ONE generation (the r8 shape leaked two frames per call
    // forever; ADVICE r8), and [[releaseCache]] drops even that. A
    // weights frame held across a later DSIR call simply recomputes —
    // correctness never depends on the cache. The only driver
    // materializations are two single-row totals read off the CACHED
    // bucket-bounded aggregates (scalar literals beat a 1-row broadcast
    // nested-loop join folded over every skeleton row — measured ~2x on
    // the weights pass).
    val tgtB0 = grams(target.select(col(textCol)), Seq.empty, textCol)
      .select(bucketOf(col("g"), buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val docB0 = grams(raw.select(col(idCol).as("doc_id"), col(textCol)),
      Seq("doc_id"), textCol)
      .select(col("doc_id"), bucketOf(col("g"), buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
    // plan-aware generation swap: a REPEATED computation over the same
    // inputs (a retried stage, an iterating notebook) keeps the live
    // generation and rides its cache; different inputs swap it out. The
    // swap is a COMPARE-AND-SET, not check-then-act: two concurrent
    // calls race to install their generation, the loser unpersists its
    // own frames (recompute-only — results never depend on the cache)
    // and the displaced generation is unpersisted exactly once, by the
    // winner, so nothing leaks past releaseCache (ADVICE r9).
    val prev = generation.get()
    def quietUnpersist(dfs: Seq[DataFrame]): Unit = dfs.foreach(df =>
      try { df.unpersist(); () } catch { case scala.util.control.NonFatal(_) => () })
    val (tgtB, docB) =
      if (prev.size == 2 &&
          prev(0).queryExecution.analyzed.sameResult(tgtB0.queryExecution.analyzed) &&
          prev(1).queryExecution.analyzed.sameResult(docB0.queryExecution.analyzed))
        (prev(0), prev(1))
      else {
        val t = tgtB0.cache(); val d = docB0.cache()
        if (generation.compareAndSet(prev, Seq(t, d))) quietUnpersist(prev)
        else quietUnpersist(Seq(t, d)) // lost the race: this call recomputes
        (t, d)
      }
    val rawB = docB.groupBy("b").agg(sum("cnt").as("cr"))
    val nT = OnePass.aggregate(tgtB, Seq(coalesce(sum("ct"), lit(0L)))).getLong(0)
    val nR = OnePass.aggregate(docB, Seq(coalesce(sum("cnt"), lit(0L)))).getLong(0)
    val denomT = lit(nT + addK * buckets)
    val denomR = lit(nR + addK * buckets)
    // model tables are bucket-bounded: broadcast, so the per-doc
    // skeleton never re-shuffles. Target-unseen buckets score from
    // smoothing alone (left join, coalesce 0); every scored bucket is
    // by construction present in the raw model (inner join).
    docB
      .join(broadcast(tgtB), Seq("b"), "left")
      .join(broadcast(rawB), Seq("b"))
      .withColumn("term", col("cnt") *
        (log((coalesce(col("ct"), lit(0L)) + addK) / denomT) -
         log((col("cr") + addK) / denomR)))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        floor(sum(col("term")) * 1e4).cast("long").as("logw_q"))
  }

  /** Draw `k` raw documents without replacement, importance-weighted: the
    * Gumbel-top-k trick (key = logw/temperature + Gumbel noise; the top k
    * keys ARE a without-replacement sample from softmax(logw/T)). Noise is
    * deterministic — Gumbel-inverse of a uniform derived from
    * md5(doc_id:seed) — so a retried stage, a backfill, or another engine
    * draws the SAME sample; a different seed draws an independent one.
    *
    * Returns `(doc_id, n_grams, logw_q, key_q)`, the k selected docs,
    * highest key first (doc_id breaks exact key ties). */
  def resample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, buckets: Int = 4096, addK: Double = 0.5,
      temperature: Double = 1.0, seed: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val w = importanceWeights(raw, target, idCol, textCol, buckets, addK)
    // uniform in (0,1): (h + 0.5) / 2^32 — exact in doubles, never 0 or 1,
    // so the double log below is always finite
    val u = (Sampling.hashPoint(concat(col("doc_id").cast("string"),
      lit(":"), lit(seed.toString))).cast("double") + lit(0.5)) /
      lit(Sampling.Space.toDouble)
    w.withColumn("key_q",
        floor((col("logw_q").cast("double") / 1e4 / temperature -
          log(-log(u))) * 1e4).cast("long"))
      .orderBy(col("key_q").desc, col("doc_id").asc)
      .limit(k)
  }
}
