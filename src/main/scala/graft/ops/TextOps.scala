package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OnePass

/** Text-analysis operators for LLM-data pipelines (north-star surface; no
  * reference counterpart — derived from the public Spark API only).
  *
  * Everything here is built-in-expression composition — codegen'd, no UDFs,
  * so the whole stage stays inside WholeStageCodegen and scales linearly
  * with zero shuffles (pure per-row map work).
  */
object TextOps {

  /** Portable word count: `length - length(replace(' ','')) + 1`. The same
    * formula is used in the DuckDB oracles, so engine and oracle agree even
    * on degenerate whitespace. */
  def wordCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** Per-document quality/stat projection (all integer-exact for oracle
    * portability; ratios are emitted as integer per-10k via `div`). */
  def textStats(df: DataFrame, text: Column, keys: Column*): DataFrame = {
    val words = wordCount(text)
    val chars = length(text).cast("long")
    val tokens = split(lower(text), " ")
    val stopCnt = size(filter(tokens, t => array_contains(typedLit(StopWords), t))).cast("long")
    df.select(keys ++ Seq(
      chars.as("n_chars"),
      words.as("n_words"),
      // avg word length per 10k: (chars - spaces) * 10000 div words
      ((chars - (words - 1)) * 10000L).as("_alpha10k"),
      stopCnt.as("n_stopwords")): _*)
      .withColumn("avg_wordlen_e4", expr("_alpha10k div n_words"))
      .drop("_alpha10k")
  }

  /** High-frequency marker words per language (public-knowledge stopword
    * lists, truncated). Kept tiny and literal so the identical heuristic is
    * expressible in the DuckDB oracle. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "los", "las", "que", "y", "en", "un", "una", "por"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "pour", "qui", "sur"))

  val StopWords: Seq[String] =
    Markers.flatMap(_._2).distinct

  /** N-gram-heuristic language identification, UDF-free.
    *
    * Score per language = number of DISTINCT marker words present in the
    * token set; CJK scripts are detected by character-class density first.
    * Ties break by the fixed language order above ('und' when all zero) —
    * the DuckDB oracle reproduces the identical CASE chain, so this is a
    * fully oracled operator even though it is a heuristic. Computed by the
    * single-pass [[graft.functions.LangId]] kernel (one compiled walk per
    * doc instead of ~6 interpreted array passes — langid runs over EVERY
    * document, so this is the pipeline's hottest per-row loop at scale).
    */
  def langIdColumn(text: Column): Column =
    graft.functions.TextExprs.langId(text, Markers)

  /** BPE-ish tokenizer pattern: letter runs, digit runs, and single
    * non-alphanumeric marks — the pre-tokenization shape BPE vocabularies
    * split on. Character-class-only regex, identical under Java regex and
    * RE2 (the DuckDB oracle uses the same pattern). */
  val BpeTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Token count under the BPE-ish pattern (codegen'd regexp_count). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern)).cast("long")

  /** The Gopher quality-rule battery (Rae et al. 2021, appendix A1.1 —
    * the document-level heuristics every production corpus pipeline runs
    * before the learned filters): word count bounds, mean word length
    * bounds, alphabetic-word fraction, stop-word presence, and symbol
    * density. One narrow projection per row — no shuffle, no state; at
    * 100 TB the gate rides the scan.
    *
    * All metrics are INTEGER (`sum_word_len` instead of mean; fraction
    * thresholds applied by cross-multiplication), so both the metrics
    * and the pass verdict are bit-exact on any engine — no float
    * boundary can flip a document's fate between a run and its backfill.
    *
    * Output: `doc_id, n_words, sum_word_len, alpha_words, stop_words,
    * symbols, passes` where `passes` =
    *   minWords <= n_words <= maxWords
    *   AND 3*n_words <= sum_word_len <= 10*n_words   (mean in [3,10])
    *   AND 5*alpha_words >= 4*n_words                 (>=80% alphabetic)
    *   AND stop_words >= 2
    *   AND 10*symbols < n_words                       (<10% #/ellipsis)
    * Empty docs fail (n_words below any sane minimum). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val stops = Array("the", "be", "to", "of", "and", "that", "have", "with")
    val ts = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    df.select(
        col(idCol).as("doc_id"),
        size(ts).cast("long").as("n_words"),
        coalesce(aggregate(transform(ts, t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("sum_word_len"),
        size(filter(ts, t => t.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
        size(filter(ts, t =>
          array_contains(array(stops.map(lit).toIndexedSeq: _*), lower(t))))
          .cast("long").as("stop_words"),
        (regexp_count(col(textCol), lit("#")) +
          regexp_count(col(textCol), lit("\\.\\.\\."))).cast("long").as("symbols"))
      .withColumn("passes",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("sum_word_len") >= col("n_words") * 3L &&
        col("sum_word_len") <= col("n_words") * 10L &&
        col("alpha_words") * 5L >= col("n_words") * 4L &&
        col("stop_words") >= 2L &&
        col("symbols") * 10L < col("n_words"))
  }

  /** The [[gopherRules]] verdict as ONE row-local predicate Column — for
    * pipelines that only need the gate, a `where(...)` on the corpus scan
    * itself beats computing the metrics frame and joining it back (zero
    * shuffle; the filter rides the scan). Same conditions, same
    * SQL-replayable arithmetic. */
  def gopherPasses(textCol: Column,
      minWords: Long = 50L, maxWords: Long = 100000L): Column = {
    val stops = Array("the", "be", "to", "of", "and", "that", "have", "with")
    val ts = filter(split(textCol, "\\s+"), t => t =!= lit(""))
    val nWords = size(ts).cast("long")
    val sumWordLen = coalesce(aggregate(transform(ts, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x), lit(0L))
    val alphaWords = size(filter(ts, t => t.rlike("[A-Za-z]"))).cast("long")
    val stopWords = size(filter(ts, t =>
      array_contains(array(stops.map(lit).toIndexedSeq: _*), lower(t)))).cast("long")
    val symbols = (regexp_count(textCol, lit("#")) +
      regexp_count(textCol, lit("\\.\\.\\."))).cast("long")
    nWords >= minWords && nWords <= maxWords &&
      sumWordLen >= nWords * 3L && sumWordLen <= nWords * 10L &&
      alphaWords * 5L >= nWords * 4L && stopWords >= 2L &&
      symbols * 10L < nWords
  }

  /** Per-document word-repetition metrics — the Gopher/RefinedWeb-style
    * repetition quality signals (most-frequent-word share, duplicate
    * word-bigram share) that gate repetitious machine-generated text out of
    * a training corpus.
    *
    * Output: `idCols…, n_words, top_word_count, n_bigrams, dup_bigram_count`
    * (all BIGINT; a doc's duplicate-bigram share = dup_bigram_count /
    * n_bigrams, kept as integers for oracle portability).
    *
    * 100-TB shape: ZERO shuffles. The alternative — explode tokens +
    * groupBy(doc, token) — re-keys the entire token stream through one
    * shuffle whose volume is the corpus itself. Here each document's
    * histogram questions are answered inside its own row: sort the token
    * array, then a single `aggregate` fold counts the longest run (= top
    * word count) and the singleton runs (= n - singletons duplicates).
    * `ArrayAggregate` is interpreted (no codegen), but per-row CPU beats a
    * corpus-sized shuffle at any real scale, and rows parallelize
    * embarrassingly. */
  def wordRepetition(df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    // ONE compiled pass per row ([[graft.functions.RepetitionStats]]): the
    // former declarative form — two interpreted `aggregate` folds over
    // array_sort'ed token and bigram arrays — evaluated lambdas per element
    // and materialized both arrays per row. Semantics are identical (the
    // q70 oracle and the brute-force spec pin them).
    df.select(idCols.map(c => col(s"`$c`")) :+
        graft.functions.TextExprs.repetitionStats(col(s"`$textCol`")).as("_rs"): _*)
      .select(idCols.map(c => col(s"`$c`")) ++ Seq(
        col("_rs.n_words").as("n_words"),
        col("_rs.top_word_count").as("top_word_count"),
        col("_rs.n_bigrams").as("n_bigrams"),
        col("_rs.dup_bigram_count").as("dup_bigram_count")): _*)
  }

  /** One redaction rule: every match of `pattern` is replaced by
    * `replacement`, and the match count is emitted as `n_<name>`.
    * Patterns must stay in the portable regex subset (character classes,
    * bounded repetition — no lookaround, no backreferences) so the same
    * pattern means the same thing under Java regex and RE2/DuckDB, keeping
    * scrub queries oracle-checkable. */
  final case class ScrubRule(name: String, pattern: String, replacement: String)

  /** Default PII redaction set (email, IPv4, long digit runs — the
    * account-number / phone-ish catch-all). Order matters and is applied
    * as given: IPv4 before bare digit runs, so an address is one `<IP>`,
    * not four `<NUM>`s. */
  val PiiRules: Seq[ScrubRule] = Seq(
    ScrubRule("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ScrubRule("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ScrubRule("digits", "[0-9][0-9][0-9][0-9][0-9][0-9]+", "<NUM>"))

  /** Apply `rules` in order to `textCol`: emits the fully redacted text as
    * `<outCol>` plus one `n_<rule>` match count per rule (counted against
    * the text state AFTER all earlier rules applied, so counts sum to the
    * number of redaction tokens inserted — no double counting when a later
    * pattern is a substring shape of an earlier one).
    *
    * 100-TB shape: a pure per-row projection of codegen'd `regexp_replace`
    * / `regexp_count` — no shuffle, no UDF; scrubbing rides the scan. */
  def scrub(df: DataFrame, textCol: String, rules: Seq[ScrubRule],
      outCol: String = "scrubbed"): DataFrame = {
    require(rules.nonEmpty, "scrub needs at least one rule")
    val names = rules.map(_.name)
    require(names.distinct == names, s"duplicate rule names: ${names.mkString(",")}")
    val (redacted, counts) =
      rules.foldLeft((col(s"`$textCol`"), Seq.empty[Column])) {
        case ((txt, cnts), r) =>
          (regexp_replace(txt, r.pattern, r.replacement),
            cnts :+ regexp_count(txt, lit(r.pattern)).cast("long").as(s"n_${r.name}"))
      }
    df.withColumns((names.map("n_" + _) :+ outCol).zip(counts :+ redacted.as(outCol)).toMap)
  }

  /** Smoothed bigram language-model scoring — the CCNet/KenLM-style
    * perplexity filter (Wenzek et al. 2020), distributed: train
    * add-k-smoothed bigram probabilities on a REFERENCE corpus, score
    * every candidate document by its summed per-bigram log-likelihood.
    * Strongly negative scores (relative to length) mark text unlike the
    * reference — the classic crawl-curation quality gate.
    *
    * 100-TB shape: the unigram/bigram count tables stay DISTRIBUTED (an
    * open-vocab model must never broadcast) — scoring is two shuffle
    * joins on word keys plus one per-document aggregation; stop-word
    * skew on the join keys is AQE's bread and butter. The vocabulary
    * size is the single driver-side scalar.
    *
    * Output: (doc_id, n_bigrams, oov_bigrams, logprob_q). The counts are
    * integer-exact; `logprob_q` floors the log-likelihood sum at 1e-4 so
    * cross-engine summation-order noise (~1 ulp per term) cannot flip an
    * oracle compare. Documents under two tokens are not scored. */
  def bigramLmScore(train: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, addK: Double = 0.5): DataFrame = {
    def toks(c: Column): Column = filter(split(c, "\\s+"), t => t =!= lit(""))
    def bigramsOf(df: DataFrame, extra: Seq[Column]): DataFrame = df
      .withColumn("n", size(col("ts")))
      .where(col("n") >= 2)
      .select(extra :+ explode(sequence(lit(1), col("n") - 1)).as("i") :+ col("ts"): _*)
      .select(extra :+ element_at(col("ts"), col("i")).as("w1") :+
        element_at(col("ts"), col("i") + 1).as("w2"): _*)
    val trainToks = train.select(toks(col(textCol)).as("ts"))
    val uni = trainToks.select(explode(col("ts")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = OnePass.aggregate(uni, Seq(count(lit(1)))).getLong(0) // |V|: the one driver scalar
    val bi = bigramsOf(trainToks, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scoreBi = bigramsOf(
      docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("ts")),
      Seq(col("doc_id")))
    scoreBi.join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .select(col("doc_id"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("term",
        log((col("c2") + addK) / (col("c1") + lit(addK * vocab))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2") === 0L, 1L).otherwise(0L)).as("oov_bigrams"),
        floor(sum(col("term")) * 1e4).cast("long").as("logprob_q"))
  }

  /** Unicode normalization (NFC default; NFKC folds compatibility forms
    * too) — run it BEFORE hashing/dedup/tokenization so visually-equal
    * byte sequences are one key. Compiled kernel, oracle-portable
    * (normalization is specified byte-exactly; DuckDB replays with
    * nfc_normalize). */
  def normalize(text: Column, form: String = "NFC"): Column =
    graft.functions.TextExprs.unicodeNormalize(text, form)

  /** zlib level-6 compressed byte count — with `length(text)` it yields
    * the compression-ratio quality gate (boilerplate compresses far
    * better than prose). Spec-gated by ordering properties; exact counts
    * are zlib-build-dependent. */
  def deflateSize(text: Column): Column =
    graft.functions.TextExprs.deflateSize(text)

  /** Rolling polynomial fingerprint over words (mod 2^31-1), for
    * content-defined document identity. Pure expression fold; NOT oracled
    * (no portable cross-engine hash) — validated in ScalaTest instead. */
  def fingerprintColumn(text: Column): Column = {
    val P = lit(2147483647L)
    aggregate(split(text, " "), lit(0L),
      (acc, w) => pmod(acc * 31L + pmod(xxhash64(w), P), P))
  }

  /** Sliding-window DOCUMENT CHUNKING — the RAG-ingest splitter: each
    * document becomes overlapping word windows of `windowWords` words
    * advancing by `windowWords - overlapWords` (the fixed-size splitter
    * with overlap every embedding pipeline runs before indexing; overlap
    * keeps sentences that straddle a boundary retrievable from both
    * sides).
    *
    * Returns `(idCol, chunk_idx, n_words, chunk_text)`: chunk_idx is
    * 0-based document order, the last window may be shorter, documents
    * with no tokens produce no chunks, and a document at most
    * `windowWords` long is exactly one chunk. Deterministic and
    * engine-replayable by construction (pure word arithmetic).
    *
    * Scale shape: one compiled projection — tokenize once, window count
    * by integer arithmetic, `transform(sequence(...))` slices the token
    * array per window, posexplode. No shuffle at all: chunking is
    * row-local, so 100 TB of documents chunk at full scan parallelism,
    * and the (doc, chunk) output feeds straight into the embedding /
    * dedup / indexing stages partition-parallel. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int, overlapWords: Int): DataFrame = {
    require(windowWords > 0, s"windowWords must be positive, got $windowWords")
    require(overlapWords >= 0 && overlapWords < windowWords,
      s"overlapWords must be in [0, windowWords), got $overlapWords")
    val stride = windowWords - overlapWords
    val ts = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    // windows starting at 0, stride s, until the document is covered:
    // 1 + ceil(max(0, len - window) / stride) — exact in double for any
    // realistic document length
    val nChunks = (lit(1) +
      ceil(greatest(size(col("__ts")) - windowWords, lit(0)).cast("double") /
        stride.toDouble)).cast("int")
    df.select(col(idCol), ts.as("__ts"))
      .where(size(col("__ts")) > 0)
      .select(col(idCol), col("__ts"),
        transform(sequence(lit(0), nChunks - 1), i =>
          slice(col("__ts"), i * stride + 1, lit(windowWords))).as("__ws"))
      .select(col(idCol), posexplode(col("__ws")).as(Seq("chunk_idx", "__w")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("__w")).cast("long").as("n_words"),
        array_join(col("__w"), " ").as("chunk_text"))
  }
}
