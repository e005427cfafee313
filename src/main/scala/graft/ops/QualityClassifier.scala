package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.OnePass

/** Hashed bag-of-ngrams linear quality classifier — the fastText shape
  * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification") that production LLM pipelines use as the learned
  * quality filter (CCNet / LLaMA-style "looks like Wikipedia" scoring):
  * documents featurize into hashed unigram+bigram buckets, a binary
  * logistic model scores the normalized counts, and a threshold keeps the
  * high-quality tail.
  *
  * Scale shape:
  *  - featurization is the DSIR gram pipeline ([[Dsir.bucketOf]], same
  *    portable md5 buckets): explode → one (doc_id, bucket) hash
  *    aggregation, map-side combined; text never shuffles;
  *  - the model is ONE dense vector of `buckets` doubles (+bias) — driver
  *    state bounded by the chosen bucket space (default 4096), broadcast
  *    to executors as a <=B-row weight table on every pass;
  *  - training is full-batch gradient descent: each iteration is one
  *    broadcast join + two bounded aggregations (a <=B-row gradient table
  *    and a 1-row bias/loss scalar) — the collect is B-bounded by
  *    construction, never data-sized;
  *  - scoring is a per-doc broadcast join + sum — no shuffle wider than
  *    the (doc_id, bucket) skeleton.
  *
  * Scoring is engine-portable by value (md5 buckets, integer-exact
  * counts, 1e-4-quantized logits — the q104 discipline), so the inference
  * path oracle-checks in DuckDB against explicitly-given weights; training
  * is gated by spec (separable corpus trains to zero error, loss strictly
  * decreases) because cross-engine fp gradient sums have no exact oracle.
  */
object QualityClassifier {

  /** A trained model: dense per-bucket weights + bias. Bounded driver
    * state (`buckets` doubles). */
  final case class Model(buckets: Int, weights: Array[Double], bias: Double) {
    require(weights.length == buckets, s"got ${weights.length} weights for $buckets buckets")
  }

  /** Per-document bucket counts: `(doc_id, b, cnt, n_grams)`. The
    * fastText mean normalization (`x = cnt / n_grams`, so long docs don't
    * dominate the margin) is applied by the consumer — scoring divides
    * ONCE at the end to stay integer-exact. Docs with no tokens produce
    * no rows — a visible "could not featurize" rather than a silent
    * 0.5. */
  def featurize(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val g = Dsir.grams(df.select(col(idCol).as("doc_id"), col(textCol)),
      Seq("doc_id"), textCol)
      .select(col("doc_id"), Dsir.bucketOf(col("g"), buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
    val n = g.groupBy("doc_id").agg(sum("cnt").as("n_grams"))
    g.join(n, "doc_id")
  }

  private def weightsDf(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    m.weights.toIndexedSeq.zipWithIndex.map { case (w, b) => (b.toLong, w) }
      .toDF("b", "w")
  }

  /** Logistic margin per document under `m`: `(doc_id, logit_q)` with
    * `logit_q = floor(1e4 * (sum_b x_b·w_b + bias))`. Weights snap to the
    * 1e-6 grid so the margin numerator is an INTEGER sum — fp summation
    * order (partition layout, engine) can never flip a quantized logit;
    * the one division happens after the sum. The snap perturbs a margin
    * by < 5e-7 (counts sum to n_grams), well under the 1e-4 output grid —
    * the price of a scorer that is bit-stable across runs, retries, and
    * engines. Probability is `sigmoid(logit_q/1e4)`. */
  def score(docs: DataFrame, idCol: String, textCol: String, m: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wq = m.weights.toIndexedSeq.zipWithIndex
      .map { case (w, b) => (b.toLong, math.round(w * 1e6)) }
      .toDF("b", "wq")
    featurize(docs, idCol, textCol, m.buckets)
      .join(broadcast(wq), Seq("b"))
      .groupBy("doc_id")
      .agg(floor((sum(col("cnt") * col("wq")).cast("double") /
          (first(col("n_grams")) * lit(1e6)) + m.bias) * 1e4)
        .cast("long").as("logit_q"))
  }

  /** Full-batch logistic-regression training over `labelCol` (0.0/1.0).
    * Deterministic given the data (zero init, fixed schedule); fp
    * summation order may wiggle last-ulp weights across cluster layouts —
    * callers needing bit-stable scoring freeze the returned model. */
  def train(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 4096, iters: Int = 50,
      lr: Double = 0.5, l2: Double = 1e-4): Model = {
    val spark = labeled.sparkSession
    import spark.implicits._
    // the iteration-invariant skeleton: (doc_id, b, x, y). Cached — every
    // epoch reuses it; nothing else of the corpus is ever re-read.
    // Training stays on exact double features (gradients have no
    // cross-engine oracle; the 1e-6 snap is scoring's concern).
    val skel = featurize(labeled, idCol, textCol, buckets)
      .select(col("doc_id"), col("b"),
        (col("cnt").cast("double") / col("n_grams")).as("x"))
      .join(labeled.select(col(idCol).as("doc_id"),
        col(labelCol).cast("double").as("y")), "doc_id")
      .cache()
    val nDocs = OnePass.aggregate(skel.select("doc_id").distinct(),
      Seq(count(lit(1)))).getLong(0).toDouble
    require(nDocs > 0, "empty training corpus")
    val w = new Array[Double](buckets)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val wdf = weightsDf(spark, Model(buckets, w, bias))
      // margin per doc, error = sigmoid(margin) - y
      val err = skel.join(broadcast(wdf), Seq("b"))
        .groupBy("doc_id").agg(first("y").as("y"),
          (lit(1.0) / (lit(1.0) + exp(-(sum(col("x") * col("w")) + bias))) -
            first("y")).as("e"))
      // gradient: <=B rows collected (bounded by the bucket space)
      val grad = skel.join(err.select("doc_id", "e"), "doc_id")
        .groupBy("b").agg(sum(col("x") * col("e")).as("g"))
        .as[(Long, Double)].collect()
      val biasGrad = OnePass.aggregate(err, Seq(sum("e"))).getDouble(0) / nDocs
      grad.foreach { case (b, g) =>
        val i = b.toInt
        w(i) -= lr * (g / nDocs + l2 * w(i))
      }
      bias -= lr * biasGrad
      it += 1
    }
    skel.unpersist()
    Model(buckets, w, bias)
  }

  /** Training-set logistic loss of `m` — the spec's convergence probe. */
  def loss(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, m: Model): Double = {
    val s = score(labeled, idCol, textCol, m)
      .join(labeled.select(col(idCol).as("doc_id"),
        col(labelCol).cast("double").as("y")), "doc_id")
      .select((col("logit_q").cast("double") / 1e4).as("z"), col("y"))
    OnePass.aggregate(s, Seq(avg(
      when(col("y") === 1.0, log(lit(1.0) + exp(-col("z"))))
        .otherwise(log(lit(1.0) + exp(col("z"))))))).getDouble(0)
  }
}
