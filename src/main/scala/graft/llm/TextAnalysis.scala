package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, stopword-profile language ID,
  * document fingerprinting. All pure `Column` combinators (codegen'd,
  * map-only — no shuffle, so they scale linearly to 100 TB).
  */
object TextAnalysis {

  /** Whitespace tokenizer. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Shared relational chunker: one row per `stride`-aligned chunk start
    * — (_id, _pos, _chunk, _n_toks) where `_chunk` is the up-to-`width`
    * consecutive tokens from `_pos` joined by spaces and `_n_toks` its
    * actual token count (partial tails < width). Built as posexplode +
    * `width−1` lead columns over the (id, pos) window — rows, not
    * per-document arrays, and no lambda capturing the tokenizer (the
    * interpreted-HOF trap measured in the ngrams note): a 10M-token
    * document streams through one doc-id shuffle. Callers:
    * [[Dedup.lineDupStats]] (stride = width) and
    * [[Corpus.chunkDocuments]] (stride = width − overlap).
    */
  private[llm] def tokenChunkRows(docs: DataFrame, idCol: String,
                                  textCol: String, width: Int,
                                  stride: Int): DataFrame = {
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    // Same pre-explode doc-id shuffle as Dedup.hashedShingles (guide
    // §2.3/§8 — see the note there): the window's exchange relocates to
    // the doc rows, pinned to defaultParallelism so AQE cannot coalesce
    // the small exchange to one partition and serialize the exploded
    // stream below it.
    val exploded = docs.select(col(idCol).as("_id"),
        col(textCol).as("_text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("_id"))
      .select(col("_id"),
        posexplode(tokens(col("_text"))).as(Seq("_pos", "_tok")))
    val withLeads = (1 until width).foldLeft(exploded) { (df, j) =>
      df.withColumn(s"_l$j", lead(col("_tok"), j).over(w))
    }
    val parts = col("_tok") +: (1 until width).map(j => col(s"_l$j"))
    withLeads.filter(col("_pos") % stride === 0)
      .select(col("_id"), col("_pos"),
        concat_ws(" ", parts: _*).as("_chunk"),
        parts.map(p => when(p.isNotNull, 1).otherwise(0))
          .reduce(_ + _).as("_n_toks"))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Guide §6: fan a NARROW input out to the session's parallelism
    * before a per-token explode feeding a doc-keyed AGGREGATE. At bench
    * scale the documents table is one single-row-group parquet file, so
    * the explode, per-token hashing and map-side partial aggregation
    * otherwise run in a single task. Only fires when the input has
    * fewer partitions than the session's parallelism: a production-size
    * input already scans wide, and for aggregate consumers the
    * partial-agg rows crossing the existing exchange are smaller than
    * doc rows, so an unconditional exchange would be a regression at
    * scale (contrast the WINDOW kernels — tokenChunkRows/hashedShingles
    * — where the exchange carries raw token rows and relocating it
    * pre-explode wins at any scale). The partition count is PINNED so
    * AQE's advisory-size coalescing cannot fold the small doc exchange
    * back to one partition (measured: the unpinned form serialized the
    * downstream and regressed). Callers pass map-only-derived inputs
    * (scans, filters, unions), so the partition probe compiles no
    * shuffle stages. */
  private[llm] def fanOutIfNarrow(docs: DataFrame, key: Column): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < p) docs.repartition(p, key) else docs
  }

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, then
    * space-prefixed letter runs, digit runs, and punctuation runs. Kept to
    * RE2-compatible constructs (alternation + classes, no lookaround) so
    * the Java and DuckDB regex engines match it identically.
    */
  val BpePattern: String =
    "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  /** BPE-ish sub-word-ready token pieces (the standard LLM corpus
    * token-count estimator when a real BPE vocab isn't in the loop).
    */
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpePattern), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Rabin-Karp rolling-hash document fingerprint (base 31 mod 1e9+7,
    * native codegen'd expression) — the cheap order-sensitive fingerprint;
    * [[fingerprint]] is the md5 variant used by exact dedup.
    */
  def rollingFingerprint(c: Column): Column = call_function("rolling_hash", c)

  /** Word k-gram windows WITH duplicates (the repetition detector needs
    * counts; Dedup.shinglesOf wraps this in array_distinct for the
    * set-semantics shingles). Built by zipping k-1 shifted slices of the
    * token array — not `transform(sequence(...), i => slice(toks, i, k))`,
    * whose lambda re-evaluates the captured token array once per window
    * (see Dedup.shinglesOf's measurement note). A document shorter than k
    * tokens yields its single sub-k window; an empty one yields [].
    */
  def ngrams(toks: Column, k: Int): Column = {
    val n = size(toks)
    val joined = (2 to k).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), greatest(n, lit(1))),
        (a, b) => concat_ws(" ", a, b))
    }
    slice(joined, lit(1), greatest(n - (k - 1), lit(1)))
  }

  /** Gopher-style repetition signal: the fraction of k-gram windows that
    * are repeats of an earlier window in the same document
    * (1 - distinct/total). High values flag boilerplate / degenerate
    * generations. Map-only, codegen'd — linear at any corpus size.
    */
  def repeatedNgramFrac(c: Column, k: Int = 2): Column = {
    val grams = ngrams(tokens(c), k)
    lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams)
  }

  /** Characters excluding whitespace. */
  def charCount(c: Column): Column =
    length(regexp_replace(trim(c), "\\s+", ""))

  def avgTokenLen(c: Column): Column =
    charCount(c).cast("double") / tokenCount(c)

  /** Small per-language stopword profiles for the n-gram-heuristic
    * language ID. Order of `langs` is the deterministic tie-break.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "on", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "auf", "nicht"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "que", "por", "como"),
    "fr" -> Seq("le", "les", "et", "est", "une", "du", "des", "dans", "pour", "avec"))
  val langs: Seq[String] = Seq("en", "de", "es", "fr")

  /** Count of tokens appearing in a stopword profile. */
  def profileScore(toks: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }

  def stopwordRatio(c: Column): Column =
    profileScore(tokens(c), "en").cast("double") / tokenCount(c)

  /** Language ID: argmax of profile scores, first-in-`langs` tie-break. */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val scores = langs.map(l => l -> profileScore(toks, l))
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast("string")) { case (acc, (l, s)) =>
      when(acc.isNotNull, acc).when(s === maxScore, lit(l)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]: stopword density + length prior +
    * token-shape prior. Deterministic double arithmetic, mirrored verbatim
    * in the DuckDB oracle.
    */
  def qualityScore(c: Column): Column =
    least(lit(1.0),
      lit(0.5) * stopwordRatio(c)
        + lit(0.3) * least(tokenCount(c).cast("double") / 100.0, lit(1.0))
        + lit(0.2) * least(avgTokenLen(c) / 10.0, lit(1.0)))

  /** Gopher-style composite quality filter: one named boolean per rule
    * plus the conjunction, so a pipeline can both FILTER on `keep` and
    * report per-rule rejection rates from the same pass. Thresholds are
    * caller-tuned per corpus. Map-only, codegen'd.
    */
  def qualityFlags(c: Column, minTokens: Int = 50, maxTokens: Int = 100000,
                   minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
                   minStopword: Double = 0.02,
                   maxRepetition: Double = 0.2): Column = {
    val okTok = tokenCount(c).between(minTokens, maxTokens)
    val okLen = avgTokenLen(c).between(minAvgLen, maxAvgLen)
    val okSw = stopwordRatio(c) >= minStopword
    val okRep = repeatedNgramFrac(c, 2) <= maxRepetition
    struct(okTok.as("ok_tokens"), okLen.as("ok_avg_len"),
      okSw.as("ok_stopword"), okRep.as("ok_repetition"),
      (okTok && okLen && okSw && okRep).as("keep"))
  }

  /** The canonical corpus-gate thresholds, shared BY REFERENCE between
    * the batch pipelines (q56's per-rule report, q60's flagship gate) and
    * the streaming curation front half — one definition, so retuning the
    * gate cannot silently leave the stream and the batch disagreeing.
    * Thresholds chosen to split the test corpus non-trivially on every
    * rule.
    */
  def corpusGateFlags(c: Column): Column =
    qualityFlags(c, minTokens = 30, maxTokens = 100000, minAvgLen = 3.5,
      maxAvgLen = 5.0, minStopword = 0.03, maxRepetition = 0.05)

  /** PII patterns, RE2-compatible (no lookaround) so the Java and DuckDB
    * regex engines agree: email addresses, and standalone digit runs of 9+
    * (phone/SSN-grade identifiers).
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern: String = "[0-9]{9,}"

  /** Redact PII in place: emails first (their local parts may contain
    * digit runs that must not double-redact), then long digit runs.
    * Map-only, codegen'd.
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<NUM>")

  /** Count of PII matches (emails + long digit runs) on the RAW text. */
  def piiCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(c, lit(LongNumberPattern), lit(0)))

  /** Whitespace/case-normalized form used for fingerprints + exact dedup. */
  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Document fingerprint: md5 of the normalized text (cross-engine
    * deterministic) — the exact-duplicate key; near duplicates use
    * Dedup.simhash's per-token md5 signature.
    */
  def fingerprint(c: Column): Column = md5(normalize(c))
}
