package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operators for training-data preparation: deterministic
  * (reproducible, cluster-order-independent) sampling and sequence
  * packing. Both are the shapes a 100 TB pipeline needs:
  *
  *  - sampling is map-only — the keep/drop decision is a pure function of
  *    the row key, so it needs no global count, no shuffle, and re-runs
  *    byte-identically on any cluster layout;
  *  - packing is one shuffle (hash-partition by stratum + in-partition
  *    sort), the same cost class as any keyed aggregation.
  */
object Corpus {

  /** Deterministic uniform [0,1) draw from a row key: first 8 hex digits
    * of md5(salt ++ key) as a 32-bit integer, scaled by 2⁻³². md5 (not
    * xxhash64) so external engines can reproduce the exact draw — the
    * DuckDB oracle mirrors this formula digit-for-digit. The salt decouples
    * independent sampling decisions made from the same key.
    */
  def hashUnit(key: Column, salt: String): Column =
    hashU32(key, salt).cast("double") / lit(4294967296.0)

  /** The integer form of [[hashUnit]]'s draw: the raw 32-bit value in
    * [0, 2³²). Lets callers compare against an integer rate in pure
    * BIGINT arithmetic (`draw * 10⁶ < rate_ppm * 2³²`) with zero doubles
    * anywhere — the only form of the sampling decision that is
    * bit-identical across engines.
    */
  def hashU32(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Stratified downsampling: keep each row with the probability its
    * stratum's rate prescribes (`defaultRate` for unlisted strata). The
    * canonical "rebalance the language/domain mix" operator: rates are
    * exact in expectation, selection is reproducible, and the whole
    * operator is a codegen'd filter — no shuffle at any scale.
    */
  def stratifiedSample(docs: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "sample:"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    docs.filter(hashUnit(col(keyCol), salt) < rate)
  }

  /** Per-stratum sampling rates that would equalize token share across
    * strata: rate = min(1, (total_tokens / n_strata) / stratum_tokens).
    * The upstream half of the rebalancing story — its output feeds
    * [[stratifiedSample]]'s rates. One aggregation shuffle; the window
    * runs over the handful of post-aggregation stratum rows.
    *
    * Output is float-robust by construction: the exact integer components
    * (`n_docs`, `stratum_tokens`, `total_tokens`, `n_strata`) carry the
    * full information, and the cross-engine-comparable form of the rate is
    * `rate_ppm` — parts-per-million, floor(total_tokens·10⁶ / (n_strata ·
    * stratum_tokens)) computed in PURE BIGINT arithmetic via base-1000
    * long division (see the inline note), which every engine evaluates
    * bit-identically.
    * The convenience double `rate` is kept for library callers
    * ([[stratifiedSample]] takes fractions) but must never enter a
    * hash-compared surface: rounding a double does NOT transfer across
    * engines (Spark rounds HALF_UP via BigDecimal-of-double, DuckDB in
    * binary floating point), so any ulp drift upstream can flip the 6th
    * decimal.
    */
  def mixRates(docs: DataFrame, stratumCol: String,
               tokenCount: Column): DataFrame = {
    val w = Window.partitionBy()
    docs.select(col(stratumCol), tokenCount.as("_n"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("stratum_tokens"))
      .select(col(stratumCol), col("n_docs"), col("stratum_tokens"),
        sum(col("stratum_tokens")).over(w).as("total_tokens"),
        count(lit(1)).over(w).as("n_strata"))
      .select(col("*"),
        // min(10⁶, floor(total_tokens·10⁶ / D)) without ever forming
        // T·10⁶ (which overflows BIGINT once the corpus passes ~9.2e12
        // tokens, ~37 TB of text — below this engine's design point):
        // if T >= D the true value is >= 10⁶ and the cap answers
        // directly — this branch also covers the tiny-stratum regime
        // where even (T div D)·10⁶ would overflow; otherwise T < D and
        // base-1000 long division (q2·10³ + q3) computes the exact
        // floor with every intermediate < D·10³ — safe until a stratum
        // denominator reaches ~9.2e15 (petabyte-scale corpora).
        // Identical semantics to the oracle's capped HUGEINT division.
        expr("""CASE
          WHEN total_tokens >= n_strata * stratum_tokens THEN 1000000L
          ELSE
            ((total_tokens * 1000L) div (n_strata * stratum_tokens))
              * 1000L +
            ((total_tokens * 1000L) % (n_strata * stratum_tokens))
              * 1000L div (n_strata * stratum_tokens)
          END""").as("rate_ppm"))
      .select(col("*"),
        (col("rate_ppm").cast("double") / lit(1000000.0)).as("rate"))
  }

  /** Exact top-k frequent tokens through a two-pass Misra-Gries
    * shortlist — the mergeable-summary pattern that replaces the
    * full-vocabulary shuffle: pass one runs a capacity-bounded
    * Misra-Gries summary PER PARTITION (each task emits ≤ `capacity`
    * candidate tokens, O(capacity) memory regardless of vocabulary
    * size), pass two recounts ONLY the broadcast candidate union
    * exactly and takes the true top-k. The output is EXACT — not
    * approximate — whenever the k-th true frequency exceeds
    * N/capacity: by pigeonhole a token with global count F appears
    * ≥ F/P times in some partition, and Misra-Gries keeps every token
    * with local count above N_p/capacity, so all true heavy hitters
    * survive to the recount. (The candidate SET varies with
    * partitioning; the recounted top-k does not.) Contract: size
    * `capacity` ≥ a few × N/(k-th expected frequency); the q139 fixture
    * runs a ~13× margin, invariant under corpus scaling since both
    * sides grow linearly.
    *
    * At 100 TB: pass one is map-only; the recount shuffles only rows
    * matching ≤ capacity·P candidate tokens (broadcast semi-join) —
    * vocabulary size never bounds memory, which is the whole point.
    */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int = 20,
                   capacity: Int = 400): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs.select(
      explode(graft.llm.TextAnalysis.tokens(col(textCol))).as("token"))
    val candidates = tokens.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap[String, Long]()
      for (t <- it) {
        if (counts.contains(t)) counts(t) += 1L
        else if (counts.size < capacity) counts(t) = 1L
        else {
          // The MG step: decrement everything, evict zeros.
          val dead = List.newBuilder[String]
          counts.foreach { case (kk, v) =>
            if (v == 1L) dead += kk else counts(kk) = v - 1L
          }
          dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator
    }.toDF("token").distinct()
    val w = Window.partitionBy().orderBy(col("cnt").desc, col("token").asc)
    tokens.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Reserved key carrying a Misra-Gries summary's accumulated spill
    * mass: representing the error as a ROW makes the merge law pure
    * addition (spills sum exactly like key counts across batches), so
    * the `batch_id=` shard machinery and [[graft.sources.ShardStore]]
    * compaction apply unchanged. ON-DISK FORMAT: this sentinel is
    * written into every persisted MG shard — changing its VALUE would
    * invalidate existing stores (their old spill rows would compete as
    * real keys and the served error bound would understate). The r17
    * change from a raw 0x00 source byte to the escape below is
    * value-identical, so stored shards are unaffected. */
  val MgSpillKey = "\u0000__mg_spill"

  /** One batch's MERGEABLE Misra-Gries summary (Agarwal et al. 2013,
    * mergeable summaries): exact batch counts, reduced by subtracting
    * the (m+1)-th largest count t from every key — ≤ m surviving
    * (key, n) rows plus the [[MgSpillKey]] row holding t. Deterministic
    * (count-desc, key-asc tie order) and hence engine-replayable, unlike
    * the streaming-order-dependent textbook MG. Guarantees carried to
    * any merge tree: for every reported key,
    * `est ≤ true ≤ est + err_bound` with err_bound = Σ spills, and any
    * key whose true count exceeds err_bound IS reported.
    *
    * Scale shape: one keyed count aggregate (map-side combined) + a
    * distributed TakeOrdered of m+1 rows — the only windows run over
    * those ≤ m+1 rows. No vocabulary-sized single partition anywhere. */
  def mgSummary(df: DataFrame, keyCol: String, m: Int = 64): DataFrame =
    mgFold(df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).cast("long").as("n")), m)

  /** Reduce a (key, n) table that may already carry a [[MgSpillKey]]
    * row: sum per key (addition is the merge), take the top m+1 real
    * keys, subtract the (m+1)-th count, fold it into the spill row.
    * A summary of summaries is itself a summary — the law ShardStore
    * compaction and [[mgFromShards]] both lean on. Counts add, so it is
    * NOT idempotent: a stream lands `batch_id=` shards
    * ([[graft.sources.ShardStore.writeShard]]). */
  def mgFold(counts: DataFrame, m: Int = 64): DataFrame = {
    val summed = counts.groupBy(col("key")).agg(sum(col("n")).as("n"))
    val base = summed.filter(col("key") === MgSpillKey)
      .agg(coalesce(sum(col("n")), lit(0L)).as("_base"))
    val top = summed.filter(col("key") =!= MgSpillKey)
      .orderBy(col("n").desc, col("key").asc).limit(m + 1)
    val w = Window.orderBy(col("n").desc, col("key").asc) // ≤ m+1 rows
    val ranked = top.withColumn("_r", row_number().over(w))
    val t = ranked.agg(coalesce(max(when(col("_r") === m + 1, col("n"))),
      lit(0L)).as("_t"))
    ranked.filter(col("_r") <= m)
      .crossJoin(broadcast(t))
      .select(col("key"), (col("n") - col("_t")).as("n"))
      .filter(col("n") > 0L)
      .unionByName(base.crossJoin(broadcast(t))
        .select(lit(MgSpillKey).as("key"), (col("_base") + col("_t")).as("n")))
  }

  /** Serve the heavy hitters from a `batch_id=`-sharded MG index
    * ([[graft.streaming.EventsStream.shardSink]]): sum the live
    * shards per key, one final [[mgFold]] reduction, and report
    * (key, est_n, err_bound) — est ≤ true ≤ est + err_bound for every
    * reported key, and every key with true count > err_bound appears.
    * Read cost ≤ |live batches|·(m+1) rows. */
  def mgFromShards(spark: org.apache.spark.sql.SparkSession, dir: String,
                   m: Int = 64): DataFrame = {
    val folded = mgFold(
      graft.sources.ShardStore.live(spark, dir).select(col("key"), col("n")),
      m)
    val err = folded.filter(col("key") === MgSpillKey)
      .agg(coalesce(sum(col("n")), lit(0L)).as("_err"))
    folded.filter(col("key") =!= MgSpillKey)
      .crossJoin(broadcast(err))
      .select(col("key"), col("n").as("est_n"), col("_err").as("err_bound"))
  }

  /** Temperature-rebalanced sampling rates (the mC4/XLM-R multilingual
    * mixture device at α = 0.5): target share of stratum l ∝ √(its token
    * count), so low-resource strata are up-weighted relative to their
    * raw share without ever dominating. Given a token budget of
    * `total div budgetDen`, emits per stratum the integer-exact chain a
    * mixture run needs: raw tokens, √-weight, temperature share (ppm),
    * target tokens (capped at what the stratum has — a stratum cannot be
    * sampled above rate 1), and the per-doc keep rate (ppm) that
    * [[stratifiedSample]]'s hash draw consumes. Steeper temperatures
    * compose by reapplying the √ (α = 0.25 = two applications).
    *
    * Integer-exactness: floor(sqrt(BIGINT)) is safe cross-engine because
    * IEEE sqrt is correctly rounded and token counts stay under 2⁵²
    * (≈4.5·10¹⁵ — beyond this corpus's design point); everything after
    * is BIGINT with the same base-1000 long-division device as
    * [[mixRates]] wherever a ·10⁶ product could overflow. One
    * aggregation shuffle; the windows run over the handful of
    * post-aggregation stratum rows.
    */
  def temperatureRates(docs: DataFrame, stratumCol: String,
                       tokenCount: Column,
                       budgetDen: Long = 4L): DataFrame = {
    val w = Window.partitionBy()
    docs.select(col(stratumCol), tokenCount.as("_n"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("stratum_tokens"))
      .select(col("*"),
        floor(sqrt(col("stratum_tokens").cast("double"))).cast("long")
          .as("sqrt_weight"))
      .select(col("*"),
        sum(col("sqrt_weight")).over(w).as("_sq"),
        sum(col("stratum_tokens")).over(w).as("_total"))
      // share: sqrt_weight ≤ √(2⁵²) < 2²⁶, so the ·10⁶ product is safe
      // directly. budget·share splits through div/mod 10⁶ so no
      // intermediate exceeds budget·10⁶ overflow territory; the doc-rate
      // division reuses mixRates' base-1000 form verbatim.
      .select(col(stratumCol), col("n_docs"), col("stratum_tokens"),
        col("sqrt_weight"),
        expr("(sqrt_weight * 1000000L) div _sq").as("share_ppm"),
        col("_total"))
      .select(col("*"),
        least(col("stratum_tokens"),
          expr(s"((_total div $budgetDen) div 1000000L) * share_ppm" +
            s" + (((_total div $budgetDen) % 1000000L) * share_ppm)" +
            " div 1000000L")).as("target_tokens"))
      .select(col(stratumCol), col("n_docs"), col("stratum_tokens"),
        col("sqrt_weight"), col("share_ppm"), col("target_tokens"),
        expr("""CASE
          WHEN target_tokens >= stratum_tokens THEN 1000000L
          ELSE
            ((target_tokens * 1000L) div stratum_tokens) * 1000L +
            ((target_tokens * 1000L) % stratum_tokens)
              * 1000L div stratum_tokens
          END""").as("rate_ppm"))
  }

  /** Rare-token score: for each document, how many of its token
    * occurrences are corpus-wide rare (frequency <= maxFreq) — the
    * integer-exact gibberish/noise signal (a unigram-LM proxy without
    * cross-engine float logs). Shape: one vocab aggregation (map-side
    * combined), a semi-join of the token stream against the rare slice,
    * one per-doc count — all keyed shuffles, no broadcast assumption on
    * the vocabulary (a web-scale vocab is NOT small).
    */
  def rareTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                      maxFreq: Long = 2): DataFrame = {
    val tok = docs.select(col(idCol), col(textCol))
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    val rare = tok.groupBy(col("_t")).agg(count(lit(1)).as("_f"))
      .filter(col("_f") <= maxFreq)
    val counts = tok.join(rare.select(col("_t")), Seq("_t"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_rare"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_rare"), lit(0L)).as("n_rare"))
  }

  /** Benchmark decontamination: (corpus_id, bench_id, n_shared) for every
    * corpus document sharing at least `minShared` distinct word k-gram
    * shingles with a benchmark/eval document — the standard
    * "did the test set leak into the training data" filter.
    *
    * Scale shape: the benchmark side is small BY CONSTRUCTION (an eval
    * suite, not a corpus), so its shingle rows broadcast; the corpus
    * streams through a map-side hash join on the shingle and only the
    * surviving (corpus, bench) candidate pairs hit the counting shuffle.
    * No corpus-sized exchange, no all-pairs anything.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, minShared: Int = 5,
                    k: Int = 3): DataFrame = {
    val cs = corpus.select(col(idCol).as("corpus_id"),
      explode(Dedup.shingles(col(textCol), k)).as("_s"))
    val bs = broadcast(bench.select(col(idCol).as("bench_id"),
      explode(Dedup.shingles(col(textCol), k)).as("_s")))
    cs.join(bs, Seq("_s"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contamination]] with a decision-grade intensity column:
    * `overlap_ppm` = parts-per-million of the BENCH document's distinct
    * shingles found in the corpus document — the fraction a real
    * decontamination threshold reads (5 shared shingles means something
    * different against a 10-shingle eval item than a 10,000-shingle one).
    * Pure BIGINT on any engine: n_shared ≤ n_bench_shingles, and
    * n_shared·10⁶ stays far under 2⁶³ for any real document. Same scale
    * shape as [[contamination]] plus one broadcast-sized join against
    * the bench shingle counts.
    */
  def contaminationRatio(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, minShared: Int = 5,
                         k: Int = 3): DataFrame = {
    val sizes = bench.select(col(idCol).as("bench_id"),
      size(array_distinct(Dedup.shingles(col(textCol), k)))
        .as("n_bench_shingles"))
    contamination(corpus, bench, idCol, textCol, minShared, k)
      .join(broadcast(sizes), Seq("bench_id"))
      .select(col("corpus_id"), col("bench_id"), col("n_shared"),
        col("n_bench_shingles"),
        expr("(n_shared * 1000000L) div n_bench_shingles")
          .as("overlap_ppm"))
  }

  /** Out-of-vocabulary scoring: per document, how many token occurrences
    * fall outside the corpus's own top-`vocabSize` unigram vocabulary
    * (count-desc, token-asc total order — deterministic at the rank
    * boundary). High OOV fraction is the standard garbled-text /
    * wrong-language signal when no external vocabulary is in the loop.
    * Integer-exact output: (idCol, n_tokens, n_oov).
    *
    * Scale shape: one vocabulary aggregation (map-side combined) whose
    * top-k is a TakeOrdered (driver-small BY CONSTRUCTION — `vocabSize`
    * rows, not corpus-sized), broadcast into an anti-join against the
    * token stream, then one per-doc count — the corpus is never
    * shuffled except by its own doc key.
    */
  def oovCounts(docs: DataFrame, idCol: String, textCol: String,
                vocabSize: Int = 100): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    val vocab = tok.groupBy(col("_t")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_t").asc).limit(vocabSize)
    val oov = tok.join(broadcast(vocab.select(col("_t"))), Seq("_t"),
        "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_oov"))
    docs.select(col(idCol), TextAnalysis.tokenCount(col(textCol))
        .as("n_tokens"))
      .join(oov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }

  /** Context-window chunking: split each document's token stream into
    * `chunkTokens`-token chunks starting every `stride` tokens (stride =
    * chunkTokens − overlap; the overlap preserves context across chunk
    * boundaries, the standard long-document preprocessing for a
    * fixed-context model). Output: (idCol, chunk_id, chunk, n_chunk_tokens)
    * — one row per chunk, partial tail chunks included.
    *
    * Relational shape: [[TextAnalysis.tokenChunkRows]] (posexplode + the
    * lead window over (id, pos), keep stride-aligned positions) — one
    * shuffle on the doc id, no lambda captures, spills row-wise at any
    * document length (a 10M-token document never materializes an array).
    *
    * A tail window that adds NO new token (every token already covered by
    * the previous chunk's overlap — possible when len mod stride lands in
    * 1..overlap) is dropped, matching standard stride chunkers: every
    * emitted chunk past the first contains at least one fresh token.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int = 8, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens) (got $overlap of $chunkTokens)")
    val stride = chunkTokens - overlap
    TextAnalysis.tokenChunkRows(docs, idCol, textCol, chunkTokens, stride)
      .filter(col("_pos") === 0 || col("_n_toks") > overlap)
      .select(col("_id").as(idCol),
        (col("_pos") / stride).cast("long").as("chunk_id"),
        col("_chunk").as("chunk"), col("_n_toks").as("n_chunk_tokens"))
  }

  /** Per-document shingle novelty: how many of a document's distinct
    * k-gram shingles appear for the FIRST time (corpus-wide, by minimum
    * document id) in this document — the data-pruning signal for "does
    * this document add anything the corpus hasn't already seen", the
    * aggregate cousin of near-dup removal (a doc whose shingles all
    * occurred earlier is pure repetition even if no single earlier doc
    * matches it). Output: (idCol, n_shingles, n_novel, novelty_ppm), all
    * integer-exact; novelty_ppm = n_novel·10⁶ div n_shingles is BIGINT-safe
    * because both counts are bounded by the document's own length.
    *
    * Scale shape: two keyed aggregations (per-doc totals; per-shingle
    * min-id, map-side combined) and one join of two doc-keyed aggregates —
    * all ordinary shuffles, linear in corpus size. Shingles ride the
    * min-id shuffle as fixed-width md5 keys, never as text.
    */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("_id"),
        explode(Dedup.shingles(col(textCol), k)).as("_s"))
      .select(col("_id"), md5(col("_s")).as("_sh"))
    val totals = sh.groupBy(col("_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy(col("_sh")).agg(min(col("_id")).as("_id"))
      .groupBy(col("_id")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("(n_novel * 1000000L) div n_shingles"))
  }

  /** Deterministic train/validation/test split assignment from the row
    * key alone: the reproducibility-critical fan-out every training run
    * does exactly once, so membership must be a pure function of the key
    * (stable under reruns, cluster layout, and corpus append — a new
    * document never moves an old one between splits). Rates are integer
    * parts-per-million; the decision compares the [[hashU32]] draw against
    * them in pure BIGINT (`draw·10⁶ < ppm·2³²` — both sides < 2⁶³),
    * mirroring the cross-engine discipline of [[mixRates]]. Map-only:
    * a codegen'd CASE, no shuffle at any scale.
    */
  def splitAssign(key: Column, testPpm: Long = 10000L,
                  valPpm: Long = 10000L,
                  salt: String = "split:"): Column = {
    require(testPpm >= 0 && valPpm >= 0 && testPpm + valPpm <= 1000000L,
      "split rates must be non-negative ppm summing to <= 1000000")
    val scaled = hashU32(key, salt) * lit(1000000L)
    when(scaled < lit(testPpm * 4294967296L), lit("test"))
      .when(scaled < lit((testPpm + valPpm) * 4294967296L), lit("validation"))
      .otherwise(lit("train"))
  }

  /** CCNet-style per-stratum rank buckets: within each stratum, rank
    * documents by an integer quality signal (ascending, id tie-break) and
    * split the ranking into `buckets` equal-frequency bands — the
    * head/middle/tail device CCNet applies per language (there by LM
    * perplexity; any integer-exact signal slots in). Deterministic on any
    * cluster layout: bucket = ((rank−1)·buckets) div count, all BIGINT.
    * One shuffle (the stratum window); the count rides the same window.
    */
  def rankBuckets(docs: DataFrame, idCol: String, stratumCol: String,
                  signal: Column, buckets: Int = 3): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val byStratum = Window.partitionBy(col(stratumCol))
    // order by the RENAMED signal: the caller's expression may reference
    // source columns the select below has already projected away
    val w = byStratum.orderBy(col("_sig").asc, col(idCol).asc)
    docs.select(col(idCol), col(stratumCol), signal.as("_sig"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_cnt", count(lit(1)).over(byStratum))
      .select(col(idCol), col(stratumCol), col("_sig").as("signal"),
        expr(s"((_rn - 1) * $buckets) div _cnt").as("bucket"))
  }

  /** Per-stratum token-budget cap: admit documents in deterministic
    * (order, id) priority until the stratum's cumulative token budget is
    * reached — the "at most N tokens per domain" curation cap
    * (RefinedWeb-style source balancing, the token-denominated cousin of
    * the keep-best-K-per-source window). A document is admitted iff its
    * EXCLUSIVE prefix sum is under the budget (the last admitted document
    * may straddle it — the same streaming semantics as [[packSequences]]).
    * One shuffle: the stratum-keyed running-sum window.
    */
  def capTokenBudget(docs: DataFrame, idCol: String, stratumCol: String,
                     tokenCount: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("n_tokens").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(stratumCol), tokenCount.as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .filter(col("_cum") - col("n_tokens") < budget)
      .select(col(idCol), col(stratumCol), col("n_tokens"),
        col("_cum").as("cum_tokens"))
  }

  /** Largest-remainder apportionment (Hamilton's method) in integer ppm:
    * per-row share_ppm = floor(w·10⁶/total), then the leftover units go
    * to the rows with the largest remainders (key tie-break) — so
    * Σ share_ppm = 10⁶ EXACTLY, the invariant a mix dashboard needs and
    * naive per-row rounding can't give. All BIGINT; deterministic on any
    * layout. Overflow-safe while Σw·10⁶ < 2⁶³ (≈9·10¹² weight units —
    * pre-scale heavier weights, e.g. count kilotokens).
    *
    * Scale shape: input is per-stratum aggregation output (few rows), so
    * the two single-row broadcasts and the remainder-rank window are
    * stratum-cardinality work, independent of corpus size.
    *
    * Domain guards are IN-PLAN (raise_error at execution), keeping
    * construction action-free: a negative weight or a non-positive total
    * fails the job with a clear message instead of silently emitting null
    * shares. Empty input yields empty output (nothing to apportion — the
    * Σ=10⁶ invariant holds vacuously).
    */
  def apportionPpm(rows: DataFrame, keyCol: String,
                   weight: Column): DataFrame = {
    val w = rows.select(col(keyCol), weight.as("_w"))
    val tot = w.agg(sum(col("_w")).as("_tot"))
    val based = w.crossJoin(broadcast(tot))
      .withColumn("_base",
        when(col("_w") >= 0 && col("_tot") > 0,
          expr("_w * 1000000L div _tot"))
        .otherwise(raise_error(concat(
          lit("apportionPpm: weights must be non-negative and total " +
            "weight positive; got weight="), col("_w"),
          lit(" total="), col("_tot")))))
      .withColumn("_rem", expr("_w * 1000000L % _tot"))
    val leftover = based.agg((lit(1000000L) - sum(col("_base"))).as("_left"))
    val rk = row_number()
      .over(Window.orderBy(col("_rem").desc, col(keyCol).asc))
    based.crossJoin(broadcast(leftover))
      .withColumn("_rk", rk)
      .select(col(keyCol), col("_w").as("weight"),
        (col("_base") + when(col("_rk") <= col("_left"), 1L).otherwise(0L))
          .as("share_ppm"))
  }

  /** Deterministic training-order enumeration: every row gets its
    * 0-based position in a seeded pseudo-random total order (md5 draw,
    * id tie-break) — the global shuffle every training run needs, with
    * epoch reshuffles as different seeds, reproducible across engines
    * and cluster layouts.
    *
    * Scale shape: the naive `row_number() OVER (ORDER BY hash)` is a
    * SINGLE-PARTITION window — the canonical global-sort scale-killer.
    * This is the two-phase distributed enumeration instead: the order
    * partitions into 16^bucketChars hash-prefix buckets (the prefix
    * order IS the hash order); per-bucket counts (one tiny aggregate)
    * turn into exclusive prefix offsets via a small window; final
    * positions are offset + within-bucket rank, where the rank window
    * partitions BY BUCKET — bucket-parallel, one corpus shuffle, no
    * task ever holds more than ~1/16^bucketChars of the order.
    *
    * Size `bucketChars` so one bucket's rows fit a task comfortably:
    * the default 2 (256 buckets) carries ~4M rows/bucket per 10⁹ docs;
    * at 10¹¹ ids pass 3-4 (4096/65536 buckets). The prefix table stays
    * driver-tiny either way.
    */
  def trainOrder(docs: DataFrame, idCol: String,
                 seed: String = "ep0", bucketChars: Int = 2): DataFrame = {
    require(bucketChars >= 1 && bucketChars <= 8, "bucketChars in [1, 8]")
    val bucketed = docs
      .withColumn("_h", md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .withColumn("_bk", substring(col("_h"), 1, bucketChars))
    val prefix = bucketed.groupBy(col("_bk"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(
        sum(col("_n")).over(Window.orderBy(col("_bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bk"), col("_off"))
    val rk = row_number().over(
      Window.partitionBy(col("_bk")).orderBy(col("_h"), col(idCol)))
    bucketed.join(broadcast(prefix), Seq("_bk"))
      .withColumn("position", (col("_off") + rk - 1L).cast("long"))
      .select(col(idCol), col("position"))
  }

  /** EXACT-balance stratified k-fold assignment — the cross-validation
    * split the rate-based hash split (X85) cannot give: within every
    * stratum the fold sizes differ by AT MOST ONE, because folds deal
    * round-robin off a per-stratum deterministic total order (the
    * [[trainOrder]] two-phase bucket device, partitioned by stratum —
    * no single-partition window, no global sort; the hash-prefix bucket
    * IS a prefix of the order key, so per-(stratum, bucket) ranks plus
    * tiny broadcast offsets compose the exact per-stratum rank).
    * Membership is a pure function of (seed, key set) — folds are
    * reproducible across engines, epochs reseed. */
  def kFoldAssign(docs: DataFrame, idCol: String, stratumCol: String,
                  folds: Int, seed: String = "cv",
                  bucketChars: Int = 2): DataFrame = {
    require(folds > 1, "folds must be at least 2")
    require(bucketChars >= 1 && bucketChars <= 8, "bucketChars in [1, 8]")
    val bucketed = docs
      .withColumn("_h",
        md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .withColumn("_bk", substring(col("_h"), 1, bucketChars))
    val prefix = bucketed.groupBy(col(stratumCol), col("_bk"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(
        sum(col("_n")).over(Window.partitionBy(col(stratumCol))
          .orderBy(col("_bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(stratumCol), col("_bk"), col("_off"))
    val rk = row_number().over(Window
      .partitionBy(col(stratumCol), col("_bk"))
      .orderBy(col("_h"), col(idCol)))
    bucketed.join(broadcast(prefix), Seq(stratumCol, "_bk"))
      .withColumn("fold",
        pmod(col("_off") + rk - 1L, lit(folds.toLong)).cast("long"))
      .select(col(idCol), col(stratumCol), col("fold"))
  }

  /** Deterministic fixed-size per-stratum sample — the bottom-k-by-hash
    * (KMV) device: keep the `k` rows with the smallest md5 draw within
    * each stratum, id tie-break. Where [[stratifiedSample]] fixes the
    * RATE (output size binomial), this fixes the SIZE: exactly
    * min(k, |stratum|) rows, membership a pure function of the key set —
    * the fixed-budget eval-set / spot-check builder, and the KMV sketch
    * bottom-k half if the draws are retained. One stratum-window shuffle.
    */
  def bottomK(docs: DataFrame, keyCol: String, stratumCol: String,
              k: Int, salt: String = "bk:"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("_draw").asc, col(keyCol).asc)
    docs.withColumn("_draw", hashU32(col(keyCol), salt))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= k)
      .withColumnRenamed("_draw", "draw")
  }

  /** The bottom-k merge law over stored ∪ batch samples ([[bottomK]]
    * rows, payload columns included): dedup on (stratum, key) — a
    * replayed row re-draws the SAME md5 ticket — then re-rank per
    * stratum, since bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)),
    * the KMV law with payload rows attached. The stored rows ARE the
    * sample: the living eval-set grows without re-reading what was
    * already sampled. Idempotent, so at-least-once delivery needs no
    * ledger ([[graft.sources.ShardStore.upsert]]). */
  def bottomKMerge(keyCol: String, stratumCol: String,
                   k: Int): graft.sources.ShardStore.Idempotent =
    graft.sources.ShardStore.Idempotent { rows =>
      val w = Window.partitionBy(col(stratumCol))
        .orderBy(col("draw").asc, col(keyCol).asc)
      rows.dropDuplicates(stratumCol, keyCol)
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= k)
    }

  /** Deterministic WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis (2006) priority draw, the weighted complement
    * to [[bottomK]]: each key gets priority u^(1/w) (u uniform from the
    * key) and the k LARGEST priorities win, which selects each key for
    * the first slot with probability wᵢ/ΣW exactly. The integer-exact
    * realization uses the identity u^(1/w) ≡ max of w iid uniforms: a
    * key of integer weight w draws w md5 tickets (`key#1 … key#w`, the
    * q52 draw device) and its priority is their MAX — no float
    * exponentiation anywhere, so DuckDB replays every priority and rank
    * digit for digit. Weights clamp to [1, maxWeight] (the ticket fan
    * is the cost knob; soft-dedup/quality weights bucket fine).
    *
    * Scale shape: the ticket fan is a MAP-ONLY array expression
    * (`array_max(transform(sequence(1, w), …))` — no explode, no extra
    * shuffle); the only shuffle is the per-stratum top-k window,
    * identical to [[bottomK]]'s. Output adds (weight, priority,
    * pick_rank).
    */
  def weightedSample(docs: DataFrame, keyCol: String, stratumCol: String,
                     weightExpr: Column, k: Int, maxWeight: Int = 16,
                     salt: String = "es:"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("_prio").desc, col(keyCol).asc)
    docs
      .withColumn("weight",
        least(greatest(weightExpr.cast("long"), lit(1L)),
          lit(maxWeight.toLong)))
      .withColumn("_prio", expr(
        s"""array_max(transform(sequence(1L, weight), j ->
           |  cast(conv(substring(md5(concat('$salt',
           |    cast($keyCol as string), '#', cast(j as string))), 1, 8),
           |    16, 10) as bigint)))""".stripMargin))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= k)
      .withColumnRenamed("_prio", "priority")
  }

  /** Token frequency spectrum — the count-of-counts Zipf diagnostic run
    * before vocabulary induction: how many distinct token types fall in
    * each power-of-two occurrence band, and how much of the corpus those
    * bands cover (a healthy natural-language corpus shows the straight
    * Zipf line; a bot/template-heavy one bulges in the high bands, and a
    * garbled one bulges at f=1). Output (bucket, n_types, n_occurrences),
    * bucket = floor(log2(f)) computed as `length(bin(f)) - 1` — the
    * integer-exact form: log2-via-doubles misclassifies exact powers of
    * two (log(8)/log(2) = 2.9999… in IEEE double), and differently so
    * across engines.
    *
    * Scale shape: one token-keyed aggregation (vocab-sized state,
    * map-side combine) and a ~60-row bucket aggregate.
    */
  def frequencySpectrum(docs: DataFrame, textCol: String): DataFrame = {
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_f"))
      .withColumn("bucket", (length(bin(col("_f"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("_f")).as("n_occurrences"))
  }

  /** Unigram-LM surprisal score — the CCNet-family "perplexity" quality
    * signal made integer-exact: score each document by the mean
    * information content of its tokens under the corpus's own unigram
    * model. A token occurring `c` times in a corpus of `T` tokens
    * carries `log2(T/c)` bits; boilerplate-heavy documents (all common
    * tokens) score low, garbled/rare-token documents score high, and
    * the middle is where natural prose lives — the band a CCNet-style
    * head/middle/tail split thresholds on.
    *
    * Cross-engine determinism: the per-token surprisal is the BAND
    * `floor(log2(T/c))`, computed as `length(bin(T div c)) - 1` — for
    * integers `T >= c >= 1`, `floor(log2(floor(T/c))) = floor(log2(T/c))`
    * (proof: `2^k <= T/c` iff `2^k <= T div c` since `2^k` is an
    * integer), so the double-free form is exact where log-by-doubles
    * flips at power-of-two ratios. The per-document mean is emitted as
    * integer ppm.
    *
    * Output: (idCol, n_tokens, sum_bands, surprisal_ppm) — one row per
    * document with >= 1 token (the tokenizer's empty-string artifact
    * token counts like any other, same as every token oracle here).
    *
    * Scale shape: per-(doc, token) pre-aggregation (collapses repeated
    * tokens before any join), a vocab-sized token-keyed count, then a
    * token-keyed join of distinct (doc, token) pairs against the vocab —
    * the join's hot keys (stopwords appear in nearly every document) are
    * exactly the AQE skew-join case, and a capped top-V vocab variant
    * would broadcast; `T` rides along as a 1-row broadcast scalar, never
    * an eager collect. No all-pairs anywhere; state is vocab-sized.
    */
  def surprisalScore(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_n_dt"))
    val vocab = perDoc.groupBy(col("_t")).agg(sum(col("_n_dt")).as("_c"))
    val total = vocab.agg(sum(col("_c")).as("_tot"))
    perDoc.join(vocab, Seq("_t"))
      .crossJoin(broadcast(total))
      .withColumn("_band",
        (length(bin(expr("_tot div _c"))) - 1).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_n_dt")).as("n_tokens"),
        sum(col("_n_dt") * col("_band")).as("sum_bands"))
      .withColumn("surprisal_ppm", expr("sum_bands * 1000000 div n_tokens"))
  }

  /** Bigram-LM surprisal — [[surprisalScore]] with one token of context:
    * position 0 scores its unigram band `floor(log2(T/c(w)))`, every
    * later position scores the CONDITIONAL band
    * `floor(log2(c(prev)/c(prev,cur)))` — the information content of
    * `cur` given `prev` under the corpus's own bigram model. Repetitive
    * continuations ("of the") cost ~0 bits where the unigram model still
    * charges them, so this separates template/boilerplate text from
    * prose far more sharply than q115. The unseen-bigram branch applies
    * Stupid Backoff (Brants et al. 2007, the web-scale smoothing:
    * back off to the unigram band plus a constant penalty — here +1 bit,
    * the α=0.5 integer form); under self-scoring it cannot fire (every
    * bigram in a doc is in the model), which is exactly why the oracle
    * stays integer-total.
    *
    * Same cross-engine discipline as [[surprisalScore]]: all bands via
    * the `length(bin(a div b)) - 1` integer floor-log2, ppm means.
    *
    * Scale shape: ROW-LOCAL pair enumeration (transform over the token
    * array — no posexplode+window shuffle), per-(doc, prev, cur)
    * pre-aggregation, then vocab-sized unigram and bigram-vocab-sized
    * count tables joined back on token keys. The bigram table is the
    * big one (pair vocab ~10× token vocab on natural text); its join is
    * a keyed equi-join with the same AQE-skew-split safety net as the
    * q115 stopword keys. No all-pairs, no window.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_tk"))
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_tk) - 1), i -> named_struct(" +
          "'prev', if(i = 0, cast(null as string), _tk[i - 1]), " +
          "'cur', _tk[i]))")).as("_pr"))
      .select(col(idCol), col("_pr.prev").as("_prev"),
        col("_pr.cur").as("_cur"))
    val perDoc = pairs.groupBy(col(idCol), col("_prev"), col("_cur"))
      .agg(count(lit(1)).as("_n_dt"))
    val uni = pairs.groupBy(col("_cur")).agg(count(lit(1)).as("_c1"))
    val tot = uni.agg(sum(col("_c1")).as("_tot"))
    val big = pairs.filter(col("_prev").isNotNull)
      .groupBy(col("_prev"), col("_cur")).agg(count(lit(1)).as("_c12"))
    perDoc
      .join(uni.select(col("_cur"), col("_c1").as("_c1cur")), Seq("_cur"))
      .join(uni.select(col("_cur").as("_prev"), col("_c1").as("_c1prev")),
        Seq("_prev"), "left")
      .join(big, Seq("_prev", "_cur"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("_band",
        when(col("_prev").isNull,
          length(bin(expr("_tot div _c1cur"))) - 1)
          .when(col("_c12").isNotNull,
            length(bin(expr("_c1prev div _c12"))) - 1)
          .otherwise(length(bin(expr("_tot div _c1cur")))).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_n_dt")).as("n_tokens"),
        sum(col("_n_dt") * col("_band")).as("sum_bands"))
      .withColumn("surprisal_ppm", expr("sum_bands * 1000000 div n_tokens"))
  }

  /** Persist the unigram model [[surprisalScore]] derives on the fly:
    * `dir/vocab` (token, count) and `dir/total` (the corpus token count)
    * — the reference-model shape CCNet actually uses (score a target
    * corpus under a model trained on a TRUSTED corpus, not on itself).
    */
  def writeVocab(docs: DataFrame, idCol: String, textCol: String,
                 dir: String): Unit = {
    val vocab = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
    vocab.agg(sum(col("_c")).as("_tot"))
      .write.mode("overwrite").parquet(s"$dir/total")
  }

  /** Score a NEW document batch under a STORED unigram model — the
    * frozen-model twin of [[surprisalScore]] (the [[writeVocab]] /
    * score-many-batches discipline: the model is trained once on a
    * reference corpus and never re-derived per batch, so scores are
    * comparable across batches and the corpus behind the model is never
    * re-read). Same integer band arithmetic; a token ABSENT from the
    * stored vocab scores `floor(log2(T)) + 1` — one bit beyond a
    * count-1 token, the ceiling of the model's resolution.
    *
    * Scale shape: per-(doc, token) pre-agg, then a LEFT join against the
    * vocab table (vocab-sized right side, batch-sized left); no
    * corpus-wide shuffle, no driver collect.
    */
  def surprisalAgainstVocab(newDocs: DataFrame, idCol: String,
                            textCol: String, dir: String): DataFrame = {
    val spark = newDocs.sparkSession
    val vocab = graft.Tables.parquet(spark, s"$dir/vocab")
    val total = graft.Tables.parquet(spark, s"$dir/total")
    val perDoc = newDocs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_n_dt"))
    perDoc.join(vocab, Seq("_t"), "left")
      .crossJoin(broadcast(total))
      .withColumn("_band",
        when(col("_c").isNull, length(bin(col("_tot"))))
          .otherwise(length(bin(expr("_tot div _c"))) - 1).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_n_dt")).as("n_tokens"),
        sum(col("_n_dt") * col("_band")).as("sum_bands"))
      .withColumn("surprisal_ppm", expr("sum_bands * 1000000 div n_tokens"))
  }

  /** Token-balanced output shard assignment: within each stratum, rank
    * documents heaviest-first (id tie-break) and deal them to `nShards`
    * shards in serpentine (boustrophedon) order — shard 0..n-1 on even
    * passes, n-1..0 on odd, so the shard that takes the heaviest document
    * of a pass takes the lightest of the next. The writer-side twin of
    * [[packSequences]]: training-data exports want N output files whose
    * token totals match, and hash sharding only balances DOC counts.
    * Deterministic on any cluster layout, all-integer.
    *
    * One shuffle (the stratum rank window, the [[rankBuckets]] scale
    * shape: per-stratum parallelism; a single mega-stratum is the
    * documented residual skew risk).
    */
  def assignShards(docs: DataFrame, idCol: String, stratumCol: String,
                   weight: Column, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("_w").desc, col(idCol).asc)
    docs.select(col(idCol), col(stratumCol), weight.as("_w"))
      .withColumn("_rn", row_number().over(w))
      .select(col(idCol), col(stratumCol), col("_w").as("weight"),
        expr(s"""CASE WHEN ((_rn - 1) div $nShards) % 2 = 0
                 |  THEN (_rn - 1) % $nShards
                 |  ELSE ${nShards - 1} - (_rn - 1) % $nShards END"""
          .stripMargin).cast("long").as("shard"))
  }

  /** Split-leakage audit: after a [[splitAssign]] fan-out, find
    * (train doc, test doc) pairs sharing at least `minShared` distinct
    * k-gram shingles — the check that hash-splitting did NOT separate
    * near-duplicate documents into train and test (the silent eval
    * contamination a random split creates whenever the corpus still
    * carries near-dups; run it after dedup, gate on zero rows).
    *
    * Scale shape: unlike [[contamination]], BOTH sides are corpus-scale
    * (the test split is a fixed fraction, not an eval suite), so this is
    * a shingle-keyed shuffle join — md5 shingle keys, distinct (doc,
    * shingle) rows, then one pair-counting aggregation. No broadcast
    * assumption anywhere.
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, minShared: Int = 5,
                   testPpm: Long = 100000L, valPpm: Long = 100000L,
                   salt: String = "split:"): DataFrame = {
    val sh = docs.select(col(idCol),
        splitAssign(col(idCol), testPpm, valPpm, salt).as("_split"),
        explode(Dedup.shingles(col(textCol), k)).as("_s"))
      .select(col(idCol), col("_split"), md5(col("_s")).as("_sh"))
    val train = sh.filter(col("_split") === "train")
      .select(col(idCol).as("train_id"), col("_sh"))
    val test = sh.filter(col("_split") === "test")
      .select(col(idCol).as("test_id"), col("_sh"))
    train.join(test, Seq("_sh"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Greedy sequence packing: assign documents, in deterministic
    * (stratum, id) order, to consecutive fixed-token-budget training
    * sequences. A document starts in the sequence its exclusive prefix
    * token sum falls in — the streaming-concatenation semantics of an
    * LLM data loader (documents may straddle a boundary; `seq_id` is
    * where the document BEGINS). One shuffle: the running sum reuses the
    * stratum hash partitioning; within a partition the window sort is
    * the only extra work, so the operator scales like a groupBy.
    */
  def packSequences(docs: DataFrame, idCol: String, stratumCol: String,
                    tokenCount: Column, budget: Int): DataFrame = {
    // ROWS (not the default RANGE) frame: with RANGE, tied idCol values
    // would share one running sum, diverging from the documented per-row
    // streaming-concatenation semantics (and from the oracle's pinned
    // ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW).
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(stratumCol), tokenCount.as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col(stratumCol), col("n_tokens"),
        floor((col("_cum") - col("n_tokens")) / lit(budget.toDouble))
          .as("seq_id"))
  }

  /** Inverted index build: per token, document frequency plus a CAPPED
    * posting sample (the `postingCap` smallest doc ids as a `,`-joined
    * string — deterministic, and bounded output per token no matter how
    * common the token: a stopword's full posting list is |corpus|-sized
    * and belongs in a search engine's segment files, not a DataFrame
    * row). One distinct over (token, doc) pairs, then a token-keyed
    * window + aggregate that REUSE one exchange (same hash key).
    *
    * At 100 TB: the explode is map-only; everything after runs on
    * distinct (token, doc) pairs — the skew ceiling is the most common
    * token's |docs|, handled by the same AQE skew-split as every token
    * key join here. For the full uncapped postings at scale, bucket-write
    * the pair table by token instead (the [[writeDedupIndex]] pattern).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    postingCap: Int = 20): DataFrame = {
    val td = docs.select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .distinct()
    val w = Window.partitionBy(col("token")).orderBy(col("_id"))
    td.withColumn("_rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(array_sort(collect_list(
          when(col("_rn") <= postingCap, col("_id")))),
          x => x.cast("string")), ",").as("postings"))
  }

  /** PMI-ranked collocations over adjacent token pairs: for each bigram
    * with `pair count ≥ minPairCount`, the pointwise-mutual-information
    * RATIO `floor(pair·T·10⁶ / (c(a)·c(b)))` in exact BIGINT ppm —
    * monotone with PMI (log of it), so ranking and thresholding behave
    * identically while staying cross-engine exact. The ·10⁶ product
    * overflows BIGINT once pair·T passes ~9.2e12, so the ratio runs
    * through [[mixRates]]' base-1000 long division. Honest overflow
    * bounds: the device removes only the ·10⁶ factor — the raw
    * products `pair·T` and `c(a)·c(b)` themselves must stay under
    * 2⁶³ ≈ 9.2·10¹⁸, which a 10¹³-token corpus' stopword pairs exceed.
    * Past that, clamp the three counts at a ceiling (~3·10⁹; PMI of
    * saturated stopword pairs is already pinned far below any
    * collocation threshold) or move the two products to DECIMAL(38,0).
    *
    * Scale shape: ROW-LOCAL pair enumeration (no posexplode+window
    * shuffle — the [[bigramSurprisal]] device), pair- and token-keyed
    * aggregations, two token-keyed joins back, the scalar total
    * broadcast. The minPairCount filter runs BEFORE the joins, so rare
    * pairs (the long tail — most of the pair vocabulary) never join.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minPairCount: Long = 5L): DataFrame = {
    val toks = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_tk"))
    val uni = toks.select(explode(col("_tk")).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
    val tot = uni.agg(sum(col("_c")).as("_tot"))
    // size ≥ 2 guard on single-token docs: Spark's sequence(1, 0)
    // generates a DESCENDING [1, 0], not an empty array.
    val pairs = toks.filter(size(col("_tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_tk) - 1), i -> named_struct(" +
          "'a', _tk[i - 1], 'b', _tk[i]))")).as("_pr"))
      .groupBy(col("_pr.a").as("token_a"), col("_pr.b").as("token_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minPairCount)
    pairs
      .join(uni.select(col("_t").as("token_a"), col("_c").as("_ca")),
        Seq("token_a"))
      .join(uni.select(col("_t").as("token_b"), col("_c").as("_cb")),
        Seq("token_b"))
      .crossJoin(broadcast(tot))
      // floor(pair·T·10⁶ / (ca·cb)) in base-1000 long division: with
      // N0 = pair·T and D = ca·cb, result = q1·10⁶ + q2·10³ + q3 where
      // each quotient step multiplies a REMAINDER (< D) by 10³ — no
      // intermediate exceeds D·10³.
      .withColumn("pmi_ppm", expr(
        """CAST((pair_cnt * _tot div (_ca * _cb)) * 1000000L
          |  + ((pair_cnt * _tot % (_ca * _cb)) * 1000L
          |      div (_ca * _cb)) * 1000L
          |  + ((pair_cnt * _tot % (_ca * _cb)) * 1000L
          |      % (_ca * _cb)) * 1000L div (_ca * _cb)
          |  AS BIGINT)""".stripMargin))
      .select(col("token_a"), col("token_b"), col("pair_cnt"),
        col("pmi_ppm"))
  }

  /** BM25 keyword ranking (Robertson–Spärck Jones, k1 = 1.2, b = 0.75)
    * in exact BIGINT ppm. Two integer-exact substitutions keep the
    * score cross-engine replayable while preserving BM25's ordering:
    *
    *  - the tf saturation term `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    *    is a rational in (tf, dl, N, T = Σdl); multiplying through by
    *    `20·T` gives `44·tf·T / (20·T·tf + 6·T + 18·dl·N)` — evaluated
    *    as a ppm floor via the [[mixRates]] base-1000 long division, so
    *    no intermediate exceeds `max(44·tf·T, D·10³)`;
    *  - idf uses the RAW RSJ ratio `(N−df+0.5)/(df+0.5)` as the ppm
    *    floor `(2N−2df+1)·10⁶ div (2df+1)` — monotone with the log
    *    form per term. (Like [[pmiCollocations]], the monotone-ratio
    *    substitution trades the additive-log aesthetics for exactness;
    *    per-term ordering is identical, and the summed score is the
    *    standard "raw-idf BM25" variant.)
    *
    * Scale shape: scoring is MAP-ONLY — per-term tf comes from a
    * row-local `filter(tokens, …)` (no explode, no shuffle), and the
    * corpus statistics (N, T, per-term df) are ONE single-row aggregate
    * cross-joined back as a scalar broadcast (the q105 shape). The
    * final top-k is a TakeOrdered (distributed heap), never a global
    * sort. Overflow bounds (the binding ones): the base-1000 step
    * multiplies a REMAINDER `< den ≈ 20·tf·T` by 10³, so `tf·T` must
    * stay under ~4.6·10¹⁴; and `tfpart·idf` (ppm × ppm) needs
    * `idf_ppm < 2⁶³/tfpart ≈ 4.2·10¹²`, i.e. corpus size N under
    * ~6·10⁶ docs when a query term has df = 1. Past either bound, run
    * the remainder step and the idf product through one more base-10³
    * split (or floor-cap idf at the rare-term ceiling a ranker needs
    * anyway) — the fixture scales sit 6+ orders inside both.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be plain tokens")
    val base = docs.select(col(idCol),
        TextAnalysis.tokens(col(textCol)).as("_tk"))
      .withColumn("_dl", size(col("_tk")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (term, i)) =>
      d.withColumn(s"_tf$i",
        expr(s"CAST(size(filter(_tk, x -> x = '$term')) AS BIGINT)"))
    }.drop("_tk")
    val aggs = count(lit(1)).cast("long").as("_n") +:
      sum(col("_dl")).as("_t") +:
      terms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0L, 1L).otherwise(0L)).as(s"_df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val termScore = terms.indices.map { i =>
      val tf = s"_tf$i"; val df = s"_df$i"
      val n0 = s"(44L * $tf * _t)"
      val den = s"(20L * _t * $tf + 6L * _t + 18L * _dl * _n)"
      val tfp = s"(($n0 div $den) * 1000000L" +
        s" + (($n0 % $den) * 1000L div $den) * 1000L" +
        s" + ((($n0 % $den) * 1000L) % $den) * 1000L div $den)"
      val idf = s"(((2L * _n - 2L * $df + 1L) * 1000000L) div (2L * $df + 1L))"
      s"(CASE WHEN $tf > 0L THEN ($tfp * $idf) div 1000000L ELSE 0L END)"
    }.mkString(" + ")
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("score_ppm", expr(termScore))
      .filter(col("score_ppm") > 0L)
      .select(col(idCol), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col(idCol).asc)
      .limit(topK)
    // Rank attaches AFTER the limit — the global window runs over ≤ topK
    // rows, not the corpus.
    scored.withColumn("rank", row_number().over(
      Window.orderBy(col("score_ppm").desc, col(idCol).asc)))
  }

  /** One batch's shard of the persisted INVERTED SEARCH INDEX — the
    * sign-once discipline applied to retrieval: documents are tokenized
    * ONCE and their postings (token, doc, tf, dl) land under
    * `postings/batch_id=<id>/_tb=<bucket>/`, token-bucketed so a query
    * reads ONLY its terms' buckets (partition pruning); corpus moments
    * (N, Σdl) land as a 1-row `stats/batch_id=` shard. Both writes are
    * DYNAMIC partition overwrites keyed by batch_id — a replayed batch
    * overwrites exactly its own shard (the X179 exactly-once device;
    * postings/count addition across batches is not idempotent, so
    * batch-keyed shards, not blind appends). `truncate = true` makes
    * the write a STATIC overwrite that drops every earlier shard — the
    * from-scratch rebuild form.
    *
    * [[bm25FromIndex]] serves queries off the stored shards without
    * ever re-reading or re-tokenizing the corpus — the 100 TB search
    * contract: per-query cost is (terms' buckets) + (1-row stats), not
    * a corpus scan, while scores stay BIT-EQUAL to the scan
    * ([[bm25TopK]]) because tf/dl/df/N/T are the same integers
    * wherever they are read from.
    *
    * CONTRACT — EACH DOC ID LANDS EXACTLY ONCE across batches: this
    * writer never retires an earlier copy, so re-ingesting a document
    * in a later batch leaves its old postings live and silently
    * double-counts df/N/Σdl. A corpus that re-crawls or edits
    * documents MUST ingest through [[upsertSearchIndexShard]]
    * (or `searchIndexSink(upsert = true)`). */
  def writeSearchIndexShard(batch: DataFrame, idCol: String,
                            textCol: String, dir: String, batchId: Long,
                            buckets: Int = 32,
                            truncate: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val toks = batch.select(col(idCol).as("_id"),
        TextAnalysis.tokens(col(textCol)).as("_tk"))
      .withColumn("dl", size(col("_tk")).cast("long"))
    val postings = toks
      .select(col("_id"), col("dl"), explode(col("_tk")).as("token"))
      .groupBy(col("token"), col("_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("_tb", pmod(hash(col("token")), lit(buckets)))
      .withColumn("batch_id", lit(batchId))
    val stats = toks.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).as("total_len"))
      .withColumn("batch_id", lit(batchId))
    // Per-batch doc-ownership shard: (_id, dl) — what lets
    // [[upsertSearchIndexShard]] find and retire a re-ingested doc's
    // OLD postings/stats, and the recompute basis for a retired
    // batch's stats row.
    val docRows = toks.select(col("_id"), col("dl"))
      .withColumn("batch_id", lit(batchId))
    def write(df: DataFrame, parts: Seq[String], path: String): Unit =
      if (truncate)
        df.write.mode("overwrite").partitionBy(parts: _*).parquet(path)
      else graft.sources.ShardStore.overwritePartitions(df, path, parts)
    // Write order is load-bearing: STATS LAST, as the batch's commit
    // record. A batch id present in `stats/` proves its postings and
    // docs writes completed (a crash mid-batch leaves no stats shard,
    // and the stream's replay re-lands all three) — which is what lets
    // [[compactSearchTables]] treat stats ids as the set of COMPLETE
    // batches when computing the common fold horizon. Folding a
    // partial batch would let the replay guard skip its redelivery
    // while its docs/stats never existed.
    write(postings, Seq("batch_id", "_tb"), s"$dir/postings")
    write(docRows, Seq("batch_id"), s"$dir/docs")
    write(stats, Seq("batch_id"), s"$dir/stats")
    // Schema anchors (one FS existence check per table after the first
    // batch): [[deleteDocs]] can retire the LAST doc, and a table with
    // zero partitions left must still read as an empty index instead
    // of failing schema inference.
    Seq("postings" -> postings, "stats" -> stats, "docs" -> docRows)
      .foreach { case (t, df) =>
        graft.sources.ShardStore.writeSchemaAnchor(df, s"$dir/$t") }
  }

  /** [[writeSearchIndexShard]] that is CORRECT UNDER RE-INGESTION — the
    * doc lifecycle the plain shard write does not have: the plain form
    * relies on "each doc lands in exactly one batch" (re-landing a
    * changed doc in a later batch leaves its old postings live and
    * silently double-counts df/N/Σdl). This form retires the old copy
    * first:
    *  1. the batch's ids semi-join the stored `docs/` ownership shards
    *     (excluding this batchId itself — a replayed batch must not
    *     collide with its own first delivery) → the TOUCHED older
    *     shards, usually none or few;
    *  2. each touched shard is rewritten without the re-landed docs —
    *     postings anti-joined on `_id`, its 1-row stats recomputed from
    *     the surviving `docs/` rows, ownership rows dropped. Rewrite
    *     cost ∝ the touched shards, not the index (the
    *     [[graft.operators.RelationalQueries.upsertScd2Index]]
    *     touched-bucket discipline), and the rewrite is DURABLE-FIRST:
    *     survivors stage complete on disk before any live partition is
    *     deleted, under [[retireDocs]]'s marker protocol — a crash at
    *     any point loses nothing and [[recoverSearchIndex]] resumes it;
    *  3. the new batch lands as its own shard via
    *     [[writeSearchIndexShard]].
    * Replay-idempotent: a redelivered batch finds zero collisions
    * (step 1 excludes itself; its first delivery already retired the
    * older copies) and dynamic-overwrites its own shard. After this,
    * [[bm25FromIndex]]'s served scores equal a fresh scan of the
    * CURRENT doc versions bit for bit. */
  def upsertSearchIndexShard(batch: DataFrame, idCol: String,
                             textCol: String, dir: String, batchId: Long,
                             buckets: Int = 32): Unit =
    withWriterLock(dir) {
    val spark = batch.sparkSession
    // Heal BEFORE consulting the horizon: a crash between the three
    // per-table compacts leaves the docs marker lagging the postings
    // one, and the guard below would read the stale (or missing) docs
    // horizon and run the retire against an incoherent shard layout.
    // The explicit desync belt also covers marker-less legacy states.
    recoverSearchIndex(spark, dir)
    healDesyncedHorizons(spark, dir)
    // Replay of a batch the compaction horizon already FOLDED is a
    // full no-op, not just a dropped re-land: batch ids are monotone,
    // so `batchId <= horizon` proves this delivery's first copy is
    // inside the base shard. Running the retire here would cut the
    // batch's own docs OUT of the base while the live view drops the
    // re-landed replacement — the one ordering (sink compacts, then
    // crashes before the checkpoint commit) where retire-then-rewrite
    // loses data. Skip entirely; the ledger (the marker) already
    // accounts for this batch.
    if (!graft.sources.ShardStore.readMeta(spark, s"$dir/docs")
        .exists(batchId <= _.horizon)) {
      retireDocs(spark, batch.select(col(idCol).as("_id")).distinct(),
        dir, excludeBatch = Some(batchId), alreadyRecovered = true)
      writeSearchIndexShard(batch, idCol, textCol, dir, batchId, buckets)
      // Sign the batch's ids into the gate for future upserts (set union
      // — idempotent under replay).
      graft.sources.ShardStore.upsert(bloomPositions(
        batch.select(col(idCol).as("_id")), "_id", mBits = DocsBloomBits),
        s"$dir/docs_bloom", bloomMerge)
    }
  }

  /** PURE doc retirement — the takedown/GDPR half of the lifecycle
    * [[upsertSearchIndexShard]] could not express: delete these ids
    * from the index, land NOTHING in their place. Runs the upsert's
    * steps 1–2 verbatim (bloom-gated candidate set, touched-shard
    * durable rewrite) without step 3, and signs nothing into the bloom
    * — a deleted id may be re-ingested later, and the filter is
    * one-sided (its stale positive bits cost one exact probe, never
    * correctness). Deleting an absent id no-ops (the bloom gate or the
    * ownership semi-join empties the touched set); a replayed delete is
    * idempotent for the same reason. After this, [[bm25FromIndex]]
    * serves exactly the surviving docs — df/N/Σdl all shrink, because
    * every moment is a sum over stored rows. */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, dir: String,
                 ids: DataFrame, idCol: String): Unit =
    retireDocs(spark, ids.select(col(idCol).as("_id")).distinct(),
      dir, excludeBatch = None)

  /** Two-level per-index serialization (keys path-normalized so two
    * spellings of one dir share a lock). Without it, a serve
    * ([[bm25FromIndex]] → [[recoverSearchIndex]]) overlapping an
    * in-flight [[retireDocs]] still STAGING would read `_upsert_tmp`
    * without `_staged`, conclude "crashed pre-commit", and delete the
    * writer's staging out from under it — the writer then commits
    * `_staged` over incomplete survivors and finishRetire deletes live
    * partitions, losing rows.
    *
    * `writerLock` — a reentrant mutex held for a WHOLE mutating
    * operation (upsert / delete / compaction): writers never
    * interleave in one JVM, and a recovery-triggered heal never folds
    * shards a live writer is mid-rewrite on.
    *
    * `recoveryLock` — a monitor held only around recovery decisions
    * and the retire COMMIT section (lease re-check → `_staged` →
    * finishRetire — all FS metadata ops, milliseconds): a serve's
    * recovery can never sweep or replay concurrently with a commit,
    * yet serves do NOT stall behind the long Spark staging writes —
    * during staging the live index is untouched and recovery leaves
    * fresh-leased staging alone, so there is nothing to serialize.
    * Lock order is always writerLock → recoveryLock (writers take both
    * in that order; recovery takes writerLock only via tryLock, for
    * the horizon heal), so the pair cannot deadlock.
    *
    * Cross-PROCESS overlap is covered by the `_writing` staging lease:
    * a reader in another process sweeps unstaged staging only once the
    * lease has gone [[stagingLeaseTtlMs]] stale; the lease is
    * REFRESHED after every staged table write (so a long rewrite never
    * outlives it — no sweep-retry livelock) and re-checked with the
    * staging manifest inside the commit section, so a writer whose
    * staging WAS swept aborts pre-commit instead of deleting live
    * partitions. The residual cross-process window is a writer pausing
    * longer than the TTL between its final refresh and `_staged` —
    * microseconds of driver code under a 1-hour TTL, documented rather
    * than closable on rename-only filesystems. Cross-process
    * concurrent WRITERS on one index are not supported (single-writer
    * per index, the standard sink contract). */
  private val writerLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()
  private def writerLock(dir: String) =
    writerLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(dir).toString,
      _ => new java.util.concurrent.locks.ReentrantLock)
  private def withWriterLock[T](dir: String)(body: => T): T = {
    val l = writerLock(dir); l.lock(); try body finally l.unlock()
  }
  private val recoveryLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def recoveryLock(dir: String): Object =
    recoveryLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(dir).toString, _ => new Object)

  /** Cross-process writer lease TTL on `_upsert_tmp/_writing`: a
    * recovery in ANOTHER process leaves an unstaged `_upsert_tmp`
    * alone while its lease file is younger than this (a live writer is
    * mid-staging), and sweeps it once older (the writer crashed).
    * A writer that outlives its own lease aborts at the commit check
    * instead of committing over swept staging. Test hook only. */
  private[graft] var stagingLeaseTtlMs: Long = 60L * 60 * 1000L

  /** Retire `idsRaw` from every shard that owns them — the shared core
    * of [[upsertSearchIndexShard]] (retire-then-replace) and
    * [[deleteDocs]] (retire only).
    *
    * DURABILITY (the r15 `weak`): the touched-shard rewrite must
    * survive a crash at ANY point, yet the survivors' only source is
    * the very partitions being replaced. The discipline is
    * durable-first staging with a two-marker commit protocol under
    * `dir/_upsert_tmp` (underscore-prefixed — invisible to parquet
    * discovery):
    *
    *  1. STAGE: a `_writing` lease lands first (so recovery can tell a
    *     LIVE writer's staging from a dead one's — see [[writerLock]] /
    *     [[stagingLeaseTtlMs]]; refreshed after every staged write), then survivors (docs, postings,
    *     recomputed per-shard stats) are written COMPLETE to the
    *     staging path, plus a `_touched` file naming every touched
    *     shard id; then — after re-checking the lease — the `_staged`
    *     marker. A crash before `_staged` deletes nothing — the live
    *     index is untouched and the orphaned staging is swept once its
    *     lease goes stale (or overwritten by the retried rewrite).
    *  2. DELETE: the touched `batch_id=` partitions are dropped from
    *     all three tables; then the `_deleted` marker. A crash in here
    *     redoes the deletes idempotently — staging still holds every
    *     survivor, because no rename has happened yet.
    *  3. SWAP: each staged `batch_id=` directory renames into its
    *     table (atomic per directory). A crash mid-swap resumes: a
    *     shard still in staging renames in; one already renamed is
    *     live and absent from staging. Staging is deleted last — its
    *     absence IS the committed state.
    *
    * Every entry point ([[retireDocs]] itself, [[bm25FromIndex]],
    * [[compactSearchIndex]]) first runs [[recoverSearchIndex]], which
    * replays the protocol from the markers — so the index is never
    * served or rewritten from a half-swapped state. At every instant a
    * complete copy of every surviving row exists on durable storage;
    * the executor-local `localCheckpoint` blocks the old form relied on
    * are no longer load-bearing. */
  private def retireDocs(spark: org.apache.spark.sql.SparkSession,
                         idsRaw: DataFrame, dir: String,
                         excludeBatch: Option[Long],
                         alreadyRecovered: Boolean = false): Unit =
    withWriterLock(dir) {
      retireDocsLocked(spark, idsRaw, dir, excludeBatch, alreadyRecovered)
    }

  private def retireDocsLocked(spark: org.apache.spark.sql.SparkSession,
                               idsRaw: DataFrame, dir: String,
                               excludeBatch: Option[Long],
                               alreadyRecovered: Boolean): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Complete an interrupted previous rewrite FIRST: its staged
    // survivors may be the only copy of the touched shards' kept rows.
    // (Skipped when the caller just ran it — the upsert path recovers
    // before consulting the replay-horizon guard, and nothing between
    // that and here can re-interrupt.)
    if (!alreadyRecovered) {
      recoverSearchIndex(spark, dir)
      // Write paths also heal MARKER-LESS horizon desync (a partial
      // compaction predating the `_compacting` protocol, or an
      // out-of-band per-table fold): the retire keys off docs shard
      // ids, so it must never run against an incoherent layout. Three
      // _meta listings per RETIRE — the serve path stays at its two
      // existence checks.
      healDesyncedHorizons(spark, dir)
    }
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/docs"))) return
    val batchIds0 = graft.Checkpoints.cutEager(idsRaw)
    // Bloom fast path (the X200 gate applied to ingest): the corpus
    // of stored doc ids is signed into `docs_bloom/` (set-union
    // upserts — idempotent, replay-safe); the batch probes those
    // broadcast bits map-only, and ONLY bloom-positive ids reach the
    // ownership semi-join. In the common no-collision batch the gate
    // empties the candidate set and the corpus-sized docs read is
    // skipped entirely — without it every micro-batch paid a 2-col
    // scan of every ownership shard. One-sided: a false positive
    // costs one exact probe; a miss is impossible.
    val bloomDir = s"$dir/docs_bloom"
    if (!graft.sources.ShardStore.existsRecovered(spark, bloomDir))
      bloomPositions(graft.sources.ShardStore.live(spark, s"$dir/docs")
          .select(col("_id")), "_id", mBits = DocsBloomBits)
        .write.mode("overwrite").parquet(bloomDir)
    val batchIds = graft.Checkpoints.cutEager(
      bloomProbe(graft.Tables.parquet(spark, bloomDir), batchIds0, "_id",
        mBits = DocsBloomBits)
        .filter(col("bloom_positive") === 1L)
        .select(col("_id")))
    val ownedAll = graft.sources.ShardStore.live(spark, s"$dir/docs")
    val owned = excludeBatch match {
      // A replayed batch must not collide with its own first delivery.
      case Some(b) => ownedAll.filter(col("batch_id").cast("long") =!= b)
      case None => ownedAll
    }
    val touched =
      if (batchIds.isEmpty) Array.empty[Long]
      else owned.join(batchIds, Seq("_id"), "left_semi")
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val tSet = touched.toSeq
    def kept(table: String): DataFrame =
      graft.sources.ShardStore.live(spark, s"$dir/$table")
        .filter(col("batch_id").cast("long").isin(tSet: _*))
        .join(batchIds, Seq("_id"), "left_anti")
    // Phase 1 — STAGE: survivors land complete and durable before any
    // live partition is touched. Stats recompute from the STAGED docs
    // (one read of rows already on disk — consistent by construction).
    val stage = new org.apache.hadoop.fs.Path(s"$dir/_upsert_tmp")
    val lease = new org.apache.hadoop.fs.Path(stage, "_writing")
    // Refresh = REWRITE the lease file (never fs.setTimes: Hadoop's
    // default setTimes is a silent no-op and object stores like S3A
    // inherit it — a refresh that doesn't move mtime would reopen the
    // sweep-retry livelock on exactly the deployments the TTL serves).
    // A full PUT bumps mtime on every FileSystem. Failure is
    // swallowed: a swept lease makes the commit check abort cleanly.
    def writeLease(): Unit = {
      val out = fs.create(lease, true)
      out.write(java.time.Instant.now().toString.getBytes("UTF-8"))
      out.close()
    }
    def refreshLease(): Unit =
      try writeLease() catch { case _: java.io.IOException => () }
    // Stage reset + writer lease land under the recovery monitor: a
    // same-JVM serve must never observe the directory existing without
    // its lease (it would read that as a dead writer's garbage and
    // sweep, wasting the whole staging). Milliseconds of FS metadata.
    recoveryLock(dir).synchronized {
      fs.delete(stage, true)
      fs.mkdirs(stage)
      writeLease()
    }
    val keptDocs = kept("docs")
    keptDocs.write.partitionBy("batch_id")
      .parquet(s"$dir/_upsert_tmp/docs")
    refreshLease()
    kept("postings").write.partitionBy("batch_id", "_tb")
      .parquet(s"$dir/_upsert_tmp/postings")
    refreshLease()
    // Explicit schema: a fully-retired shard stages ZERO survivors,
    // and schema inference cannot read an empty parquet directory.
    spark.read.schema(keptDocs.schema)
      .parquet(s"$dir/_upsert_tmp/docs")
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).as("total_len"))
      .select(col("n_docs"), col("total_len"), col("batch_id"))
      .write.partitionBy("batch_id").parquet(s"$dir/_upsert_tmp/stats")
    refreshLease()
    val tf = fs.create(new org.apache.hadoop.fs.Path(stage, "_touched"))
    tf.write(tSet.mkString("\n").getBytes("UTF-8"))
    tf.close()
    // COMMIT SECTION — under the recovery monitor, so a same-JVM serve
    // can never sweep or replay between the check and the commit.
    // Commit check: the lease AND manifest must still be ours. A
    // cross-process recovery that deemed this staging stale (writer
    // paused past [[stagingLeaseTtlMs]] despite the refreshes) swept
    // it — committing `_staged` now would bless incomplete survivors
    // and finishRetire would delete live partitions. Abort instead:
    // nothing has been deleted, the live index is intact, and a
    // retried upsert redoes the staging.
    recoveryLock(dir).synchronized {
      crashIf("pre-staged")
      if (!fs.exists(lease) ||
          !fs.exists(new org.apache.hadoop.fs.Path(stage, "_touched"))) {
        fs.delete(stage, true) // drop any half-recreated staging dir
        throw new IllegalStateException(
          s"$dir: staging lease lost (swept by a concurrent recovery " +
            s"after outliving ${stagingLeaseTtlMs}ms) — retire aborted " +
            "pre-commit; retry the operation")
      }
      fs.createNewFile(new org.apache.hadoop.fs.Path(stage, "_staged"))
      crashIf("post-staged")
      // Phases 2–3 share the crash-replay path.
      finishRetire(spark, dir, tSet)
    }
  }

  private val RetireTables = Seq("postings", "stats", "docs")

  /** Test-only crash injection for the retire protocol: the LlmSpec
    * gate drives a real upsert into each documented crash state
    * ("pre-staged", "post-staged", "post-delete", "mid-swap") and
    * verifies [[recoverSearchIndex]] restores a consistent index. Never
    * set outside tests. */
  private[graft] var retireFailpoint: Option[String] = None
  private def crashIf(point: String): Unit =
    if (retireFailpoint.contains(point))
      throw new RuntimeException(s"injected crash at $point")

  /** Phases 2–3 of [[retireDocs]]'s protocol — also the crash-replay
    * path [[recoverSearchIndex]] resumes from the `_staged` marker. */
  private def finishRetire(spark: org.apache.spark.sql.SparkSession,
                           dir: String, touched: Seq[Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$dir/_upsert_tmp")
    // Phase 2 — DELETE the touched partitions. Explicit partition
    // deletes, not dynamic overwrite: a touched shard whose every
    // posting in some bucket was retired would otherwise keep that
    // stale bucket. Idempotent, and safe to redo until the first
    // rename: staging still holds every survivor.
    if (!fs.exists(new org.apache.hadoop.fs.Path(stage, "_deleted"))) {
      touched.foreach { b =>
        RetireTables.foreach { t =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$dir/$t/batch_id=$b"), true)
        }
      }
      fs.createNewFile(new org.apache.hadoop.fs.Path(stage, "_deleted"))
    }
    crashIf("post-delete")
    // Phase 3 — SWAP each staged shard directory in (atomic renames;
    // a resumed swap skips the ones already moved — they are exactly
    // the ones absent from staging).
    RetireTables.foreach { t =>
      val src = new org.apache.hadoop.fs.Path(stage, t)
      if (fs.exists(src))
        fs.listStatus(src).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("batch_id="))
          .foreach { s =>
            fs.rename(s.getPath,
              new org.apache.hadoop.fs.Path(s"$dir/$t/${s.getPath.getName}"))
          }
      crashIf(s"post-swap-$t")
    }
    fs.delete(stage, true)
  }

  /** Crash recovery for the [[retireDocs]] protocol: replay an
    * interrupted rewrite from its markers, or sweep a pre-commit
    * staging attempt whose writer is provably dead. Idle cost is TWO
    * existence checks (staging dir, `_compacting` marker), so every
    * serve/maintenance entry point runs it. Serialized per dir against
    * an active rewrite via the writerLock/recoveryLock pair (same JVM)
    * and the
    * [[stagingLeaseTtlMs]] lease on `_upsert_tmp/_writing` (cross
    * process): a FRESH lease means a live writer is mid-staging — the
    * live index is intact and staging is the writer's, so recovery
    * leaves it alone rather than destroying it. */
  def recoverSearchIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$dir/_upsert_tmp")
    // A fresh `_writing` lease = a writer in ANOTHER process is
    // mid-staging (same-JVM writers hold writerLock and commit under
    // recoveryLock, so they are never observed mid-decision here).
    def liveWriterLease(): Boolean = {
      val lease = new org.apache.hadoop.fs.Path(stage, "_writing")
      try fs.exists(lease) &&
        System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime < stagingLeaseTtlMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    recoveryLock(dir).synchronized {
      if (fs.exists(stage)) {
        if (!fs.exists(new org.apache.hadoop.fs.Path(stage, "_staged"))) {
          // No commit marker: either a writer crashed mid-staging
          // (nothing was deleted yet — the live index is intact and
          // the partial staging is garbage), or a live writer is
          // staging right now. Sweep only the provably-dead case
          // (lease absent — pre-lease crash window — or TTL-stale).
          if (!liveWriterLease()) fs.delete(stage, true)
        } else {
          val in = fs.open(new org.apache.hadoop.fs.Path(stage, "_touched"))
          val touched =
            try new String(in.readAllBytes(), "UTF-8")
              .split("\n").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
            finally in.close()
          finishRetire(spark, dir, touched)
        }
      }
    }
    // Heal a PARTIAL three-table compaction (crash between the
    // per-table folds): unequal marker horizons break the retire
    // path's docs↔postings shard coherence — re-run the common-horizon
    // folds to convergence. Gated behind the `_compacting` marker
    // [[compactSearchTables]] holds across its folds (one existence
    // check when idle, vs the three per-table _meta listings the heal
    // itself costs), so a serve path pays FS listings only when a
    // compaction actually died mid-protocol. The heal is a WRITE: it
    // must not fold shards out from under an active writer, so it
    // requires the writer lock (tryLock — if a same-JVM writer is
    // busy, its own entry heals under that lock) and skips while a
    // cross-process writer's lease is fresh (that writer's next entry
    // heals; the marker persists until someone does).
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_compacting"))) {
      val wl = writerLock(dir)
      if (wl.tryLock()) {
        try { if (!liveWriterLease()) compactSearchTables(spark, dir) }
        finally wl.unlock()
      }
    }
  }

  /** Write-path belt for horizon coherence: heal ANY unequal marker
    * horizons across the three tables (a partial compaction predating
    * the `_compacting` marker protocol, or an out-of-band per-table
    * fold), marker or not. Three `_meta` listings — called from retire
    * and upsert entries only, never from serves. Caller must hold the
    * writer lock. */
  private def healDesyncedHorizons(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): Unit = {
    val hs = RetireTables.map(t =>
      graft.sources.ShardStore.readMeta(spark, s"$dir/$t").map(_.horizon))
    if (hs.distinct.size > 1) compactSearchTables(spark, dir)
  }

  /** Bit width of the doc-ownership Bloom gate (1M bits ≈ 128 KB
    * broadcast — size for the expected doc-id cardinality; a saturated
    * filter stays CORRECT, it just stops saving the exact scan). */
  private val DocsBloomBits: Int = 1 << 20

  /** Fold the search index's shards into one base shard per table —
    * postings re-land partitioned by `_tb` (identity fold: one row per
    * (doc, token) stays one row), stats sum to a single row, ownership
    * rows re-land — so serving reads and the file count stop growing
    * with stream lifetime. Replayed pre-horizon batches re-land but
    * are dropped by [[bm25FromIndex]]'s live view. */
  def compactSearchIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit = withWriterLock(dir) {
    // Never fold a half-swapped rewrite: resume it first (this also
    // heals a previous PARTIAL three-table compaction).
    recoverSearchIndex(spark, dir)
    compactSearchTables(spark, dir)
  }

  /** The three per-table folds at ONE COMMON horizon. The retire path
    * keys a doc's postings/stats off the `batch_id` shard its DOCS
    * ownership row lives in, so the three tables must agree on which
    * shards are folded: a crash between per-table compacts would
    * otherwise leave a doc's ownership in a live positive shard while
    * its postings sit inside a base (or vice versa), and the
    * touched-shard rewrite would silently miss them — postings
    * double-count (or an incomplete takedown) with no error. The
    * common horizon is max over tables of (marker horizon, live
    * positive ids): every table folds or marker-advances to it, in a
    * fixed order, and [[recoverSearchIndex]] re-runs this to
    * convergence if a crash lands between the folds. */
  private def compactSearchTables(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): Unit =
    withWriterLock(dir) {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // In-flight marker held across the three folds: a crash between
      // them leaves it on disk, and [[recoverSearchIndex]] re-runs this
      // to convergence exactly when it is present — the serve path's
      // cheap gate for the horizon heal. Deleted only AFTER the folds
      // complete (no try/finally: an exception must leave the marker,
      // that is the whole point).
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
      fs.createNewFile(marker)
      compactSearchTablesFolds(spark, dir)
      fs.delete(marker, false)
    }

  private def compactSearchTablesFolds(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val SS = graft.sources.ShardStore
    // COMPLETE batches only: stats is written LAST per batch (the
    // commit record — see [[writeSearchIndexShard]]), so a positive id
    // counts toward the horizon only once it appears in `stats/`. A
    // postings-only shard from a batch that crashed mid-write stays a
    // LIVE stream shard above the horizon (ids > toHorizon are never
    // folded), to be overwritten in place when the stream replays the
    // batch — folding it would let the replay guard skip the
    // redelivery while its docs/stats never landed.
    val target = (SS.shardIds(spark, s"$dir/stats").filter(_ >= 0) ++
      RetireTables.map(t =>
        SS.readMeta(spark, s"$dir/$t").map(_.horizon)
          .getOrElse(Long.MinValue))).max
    if (target == Long.MinValue) return
    SS.compact(spark, s"$dir/postings", extraPartCols = Seq("_tb"),
      toHorizon = Some(target))
    SS.compact(spark, s"$dir/stats",
      _.agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("total_len")).cast("long").as("total_len")),
      toHorizon = Some(target))
    SS.compact(spark, s"$dir/docs", toHorizon = Some(target))
  }

  /** [[compactSearchIndex]] behind the shard-count trigger: fold only
    * when the live postings shard count exceeds `maxShards` (one
    * directory listing when below — safe to call every micro-batch;
    * `searchIndexSink(autoCompact = n)` does). All three tables compact
    * together so their horizons stay coherent. */
  def compactSearchIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, maxShards: Int): Unit =
    if (graft.sources.ShardStore.aboveShardThreshold(
        spark, s"$dir/postings", maxShards))
      compactSearchIndex(spark, dir)

  /** BM25 top-k served purely from a [[writeSearchIndexShard]] index:
    * the terms' token-bucket predicate CONSTANT-FOLDS
    * (`pmod(hash(lit(term)))`) into a partition filter, so the scan
    * touches only the query terms' `_tb=` directories across shards;
    * df per term is a count over those same rows; N and Σdl sum over
    * the ≤ |batches| 1-row stats shards. Per-posting scoring re-evaluates
    * [[bm25TopK]]'s exact integer ppm terms (tf > 0 by construction
    * in a posting), and the per-doc sum of per-term floors is the same
    * arithmetic the scan form runs — rank-for-rank, bit-for-bit equal.
    * The final cut is a TakeOrdered over scored candidates.
    *
    * OWNERSHIP CONTRACT: df/N/Σdl are sums over stored rows, so each
    * doc must be owned by exactly ONE live shard. [[writeSearchIndexShard]]
    * guarantees that only when every doc id lands once; a corpus that
    * RE-INGESTS documents (re-crawls, edits) must ingest through
    * [[upsertSearchIndexShard]], which retires the old copy first —
    * otherwise served scores silently drift from the scan form.
    * Reads the LIVE shard view, so a [[compactSearchIndex]] horizon is
    * honored and replayed pre-horizon batches are dropped. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    idCol: String, terms: Seq[String], topK: Int = 20,
                    buckets: Int = 32): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be plain tokens")
    // Serve-side crash recovery (two FS existence checks when idle): a
    // rewrite interrupted mid-protocol is resumed before reading, so
    // queries never see a half-swapped shard state; an ACTIVE rewrite
    // (same JVM via the lock pair, cross-process via the staging
    // lease) is left to its writer — serves do not stall behind a
    // writer's staging, only behind its millisecond commit section.
    recoverSearchIndex(spark, dir)
    val st = graft.sources.ShardStore.live(spark, s"$dir/stats")
      .agg(sum(col("n_docs")).cast("long").as("_n"),
        sum(col("total_len")).cast("long").as("_t"))
    val pred = terms.map(term =>
        col("_tb") === pmod(hash(lit(term)), lit(buckets)) &&
          col("token") === term)
      .reduce(_ || _)
    val posts = graft.sources.ShardStore.live(spark, s"$dir/postings")
      .filter(pred)
    val dfs = posts.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("_df"))
    val n0 = "(44L * tf * _t)"
    val den = "(20L * _t * tf + 6L * _t + 18L * dl * _n)"
    val tfp = s"(($n0 div $den) * 1000000L" +
      s" + (($n0 % $den) * 1000L div $den) * 1000L" +
      s" + ((($n0 % $den) * 1000L) % $den) * 1000L div $den)"
    val idf = "(((2L * _n - 2L * _df + 1L) * 1000000L) div (2L * _df + 1L))"
    val scored = posts.join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(st))
      .withColumn("_s", expr(s"($tfp * $idf) div 1000000L"))
      .groupBy(col("_id")).agg(sum(col("_s")).as("score_ppm"))
      .filter(col("score_ppm") > 0L)
      .orderBy(col("score_ppm").desc, col("_id").asc)
      .limit(topK)
      .select(col("_id").as(idCol), col("score_ppm"))
    scored.withColumn("rank", row_number().over(
      Window.orderBy(col("score_ppm").desc, col(idCol).asc)))
  }

  /** TF-IDF top terms per document, integer-exact: per (doc, token)
    * `score_ppm = tf · (N·10⁶ div df)` — the raw-ratio idf (monotone
    * with log-idf PER TERM; the per-document ranking this emits is the
    * raw-idf TF-IDF flavor, chosen for cross-engine exactness like
    * [[bm25TopK]]'s idf). The keep-`topTerms` cut is a per-doc window
    * ordered (score desc, token asc) — fully deterministic.
    *
    * Scale shape: one explode → (doc, token) aggregation (the exact
    * shuffle any term-frequency pass pays), a token-keyed df join
    * (AQE-skew-safe; stopword keys are the ceiling), the scalar N
    * broadcast, then a doc-keyed window. Nothing all-pairs, nothing
    * driver-side.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    topTerms: Int = 3): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_ppm").desc, col("token").asc)
    tf.join(dfT, "token")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm", expr("tf * ((_n * 1000000L) div df)"))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= topTerms)
      .select(col(idCol), col("term_rank"), col("token"), col("tf"),
        col("df"), col("score_ppm"))
  }

  /** Fuzzy vocabulary pairs by symmetric-delete blocking (SymSpell,
    * Garbe 2012): two words are within Levenshtein distance d only if
    * deleting ≤ d characters from each reaches a COMMON string (take an
    * optimal alignment; drop the substituted/deleted chars from one
    * side and the substituted/inserted chars from the other — ≤ d
    * drops per side). So: explode every distinct token into its
    * ≤ `maxDist`-deletion variants, equi-join on the variant, and
    * verify surviving candidate pairs with the EXACT `levenshtein`
    * filter — the result equals the all-pairs scan by the theorem, at
    * Σ bucket² candidate cost instead of |vocab|².
    *
    * Scale shape: variant generation is map-only and bounded (≤ 1 + L +
    * L·(L−1)/2 variants per word at d = 2; the `maxLen` cap bounds L),
    * the join is variant-keyed (AQE-skew-safe), verification is
    * map-only codegen'd `levenshtein`. Words above `maxLen` are dropped
    * on BOTH sides — a length cap every production fuzzy matcher
    * applies anyway.
    */
  def fuzzyTokenPairs(docs: DataFrame, textCol: String,
                      maxDist: Int = 2, maxLen: Int = 24): DataFrame =
    fuzzyVocabPairs(vocabOf(docs, textCol, maxLen), maxDist)

  /** The distinct length-capped token vocabulary of a corpus — shared
    * by [[fuzzyTokenPairs]] and callers that need the SAME vocabulary
    * for a downstream step (q181 joins cluster ids back to it), so the
    * corpus is tokenized once, not once per consumer.
    */
  def vocabOf(docs: DataFrame, textCol: String, maxLen: Int = 24): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxLen))
      .distinct()

  /** [[fuzzyTokenPairs]] over a precomputed vocabulary (one column
    * `w`, already distinct and length-capped). */
  def fuzzyVocabPairs(vocab: DataFrame, maxDist: Int = 2): DataFrame = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")
    val del1 = "transform(sequence(1, length(w)), i -> " +
      "concat(substring(w, 1, i - 1), substring(w, i + 1, length(w))))"
    // sequence(1, 0) is DESCENDING in Spark, so second-level deletions
    // only run over non-empty first-level variants.
    val del2 = s"flatten(transform(filter($del1, v -> length(v) > 0), " +
      "v -> transform(sequence(1, length(v)), j -> " +
      "concat(substring(v, 1, j - 1), substring(v, j + 1, length(v))))))"
    val vExpr =
      if (maxDist == 1) s"array_union(array(w), $del1)"
      else s"array_union(array_union(array(w), $del1), $del2)"
    val variants = vocab.select(col("w"), explode(expr(vExpr)).as("v"))
    variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .distinct()
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** KMV (k-minimum-values) distinct sketch per stratum: the `k`
    * smallest DISTINCT [[hashU32]] draws over the keys — the bounded
    * summary whose kth minimum estimates the stratum's distinct count
    * (`(k−1)·2³² div h_k`, Bar-Yossef et al. 2002) and whose set
    * algebra (union = k smallest of the merged sketches; Jaccard =
    * overlap within the union sketch) is what [[bottomK]]'s fixed-size
    * sample doesn't expose. Hash collisions collapse by construction —
    * part of the sketch's contract, identically on every engine.
    *
    * Scale shape: the naive per-stratum top-k window puts a stratum's
    * EVERY distinct key in one partition. This is the two-phase
    * distributed form instead: a (stratum, h mod 16) salted window
    * keeps each candidate partition at |stratum|/saltBuckets and emits
    * ≤ saltBuckets·k survivors per stratum; the final per-stratum
    * window ranks only those. Widen `saltBuckets` with the cluster,
    * not the data — survivors stay saltBuckets·k regardless of stratum
    * size.
    */
  def kmvSketch(df: DataFrame, keyCol: String, stratumCol: String,
                k: Int, salt: String = "kmv:",
                saltBuckets: Int = 16): DataFrame = {
    require(k > 0, "k must be positive")
    require(saltBuckets > 0, "saltBuckets must be positive")
    val hashed = df
      .select(col(stratumCol).as("stratum"),
        hashU32(col(keyCol), salt).as("h"))
      .distinct()
    val w1 = Window.partitionBy(col("stratum"), col("_p"))
      .orderBy(col("h").asc)
    val cand = hashed.withColumn("_p", pmod(col("h"), lit(saltBuckets)))
      .withColumn("_r", row_number().over(w1))
      .filter(col("_r") <= k)
      .drop("_p", "_r")
    val w2 = Window.partitionBy(col("stratum")).orderBy(col("h").asc)
    cand.withColumn("kmv_rank", row_number().over(w2).cast("long"))
      .filter(col("kmv_rank") <= k)
  }

  /** The KMV merge law over stored ∪ batch k-slots, the (stratum, h)
    * columns of [[kmvSketch]]: the k smallest distinct hashes per
    * stratum. EXACTLY the sketch of the concatenated corpora — the
    * global k-smallest of A∪B is contained in (A's k-smallest) ∪ (B's
    * k-smallest): a hash outside a side's k-smallest has ≥ k smaller
    * hashes on that side alone. Estimates served from a merged index
    * ([[readKmvIndex]]) hash-match a from-scratch sketch bit for bit
    * (q189's gate); the slots are ≤ k·|strata| rows at any corpus size.
    * Idempotent — the k-smallest of X ∪ X is X — so at-least-once
    * delivery needs no ledger ([[graft.sources.ShardStore.upsert]]). */
  def kmvMerge(k: Int): graft.sources.ShardStore.Idempotent =
    graft.sources.ShardStore.Idempotent { rows =>
      val w = Window.partitionBy(col("stratum")).orderBy(col("h").asc)
      rows.distinct()
        .withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
        .drop("_r")
    }

  /** Stored KMV index with ranks restored — the same (stratum, h,
    * kmv_rank) relation [[kmvSketch]] emits, read from the k-slot
    * table instead of the corpus. */
  def readKmvIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    val w = Window.partitionBy(col("stratum")).orderBy(col("h").asc)
    graft.Tables.parquet(spark, dir)
      .withColumn("kmv_rank", row_number().over(w).cast("long"))
  }

  /** Count-min sketch (Cormode 2005) over a key column: a depth×width
    * counter table (≤ d·w rows at ANY corpus size — the
    * frequency-estimation sketch for UNBOUNDED key domains, where the
    * exact q139 heavy-hitter aggregate would hold every key). Each row
    * of the sketch hashes the key with its own md5 salt (`cms<r>:`, the
    * q52 integer draw device), so DuckDB replays the table bit for bit.
    * Build cost: one map-side-combined aggregation of the d-exploded
    * input. CMS merges by addition (the X175 histogram discipline
    * applies verbatim if persisted).
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int = 4,
               width: Int = 256, salt: String = "cms"): DataFrame =
    df.select(explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"),
          (hashU32(col(keyCol), s"$salt$r:") % width).as("c"))
      }: _*)).as("_rc"))
      .groupBy(col("_rc.r").as("r"), col("_rc.c").as("c"))
      .agg(count(lit(1)).as("n"))

  /** Point estimates from a [[cmsBuild]] sketch: each key probes its d
    * cells and takes the min (absent cell = 0). The sketch broadcasts
    * (d·w rows); estimates never undercount. */
  def cmsEstimate(cms: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int = 4, width: Int = 256,
                  salt: String = "cms"): DataFrame = {
    val probes = keys.select(col(keyCol), explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"),
          (hashU32(col(keyCol), s"$salt$r:") % width).as("c"))
      }: _*)).as("_rc"))
      .select(col(keyCol), col("_rc.r").as("r"), col("_rc.c").as("c"))
    probes.join(broadcast(cms), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("n"), lit(0L))).as("est_n"))
  }

  /** The count-min merge law over stored ∪ batch (r, c, n) cells:
    * cell counts ADD, cms(A) + cms(B) = cms(A ∪ B) cell for cell, so a
    * merged index is BIT-IDENTICAL to a from-scratch sketch of
    * everything ingested (q203's gate holds it to q197's one-shot
    * oracle). A stored index is ≤ depth·width rows at any corpus size;
    * a frequency monitor probes it ([[cmsEstimate]]) without re-reading
    * the corpus. Addition is NOT idempotent: a replaying caller
    * ledgers batches or lands `batch_id=` shards
    * ([[graft.sources.ShardStore.writeShard]]). */
  val cmsMerge: graft.sources.ShardStore.Additive =
    graft.sources.ShardStore.Additive.cellSum("r", "c")

  /** Bloom-filter SET-BIT table over a key column: each key sets k
    * md5-derived positions (`bf<i>:`, the q52 integer draw device) in a
    * [0, mBits) domain, and the filter is the DISTINCT set of those
    * positions — ≤ mBits rows at ANY corpus size, bit-replayable by an
    * external engine. The relational form of the classical bitmap: a
    * (pos) row per set bit instead of a packed word, so building is one
    * map-side-combined distinct of the k-exploded input and MERGE is
    * plain set union ([[bloomMerge]]).
    *
    * The 100 TB use is JOIN PRUNING / decontamination pre-filtering:
    * sign the small side (banned users, benchmark fingerprints, dim
    * keys of interest) once, then gate a corpus-scale stream with a
    * broadcast of the ≤ mBits-row filter — rows the filter rejects are
    * definitely absent (no false negatives, [[bloomProbe]] is
    * one-sided), so the expensive exact join runs only on survivors.
    */
  def bloomPositions(df: DataFrame, keyCol: String, k: Int = 4,
                     mBits: Int = 65536, salt: String = "bf"): DataFrame =
    df.select(explode(array((0 until k).map { i =>
        hashU32(col(keyCol), s"$salt$i:") % mBits
      }: _*)).as("pos"))
      .distinct()

  /** The Bloom merge law over stored ∪ batch set-bit rows: set union,
    * bloom(A) ∪ bloom(B) = bloom(A ∪ B) position for position, so a
    * merged index is bit-identical to a from-scratch build — the
    * sign-once index form for MEMBERSHIP. Idempotent: a redelivered
    * batch re-sets bits already set, so at-least-once delivery needs no
    * ledger ([[graft.sources.ShardStore.upsert]]). */
  val bloomMerge: graft.sources.ShardStore.Idempotent =
    graft.sources.ShardStore.Idempotent(_.distinct())

  /** Membership probe against a Bloom set-bit table: each probe key
    * re-derives its k positions and is bloom-positive iff ALL k are
    * set. One-sided by construction — a key that was indexed finds all
    * its bits, so `bloom_positive = 0` PROVES absence; positives may be
    * false (collision odds fall geometrically in k). Plan shape: the
    * k-exploded probe left-joins the BROADCAST ≤ mBits-row filter and
    * re-aggregates per key — map-side combinable, no corpus-keyed
    * shuffle beyond the probe's own keys. */
  def bloomProbe(bloom: DataFrame, keys: DataFrame, keyCol: String,
                 k: Int = 4, mBits: Int = 65536,
                 salt: String = "bf"): DataFrame = {
    val probes = keys.select(col(keyCol), explode(array((0 until k).map { i =>
        (hashU32(col(keyCol), s"$salt$i:") % mBits).as("pos")
      }: _*)).as("pos"))
    probes.join(broadcast(bloom.withColumn("_set", lit(1L))),
        Seq("pos"), "left")
      .groupBy(col(keyCol))
      .agg((count(lit(1)) === sum(when(col("_set").isNotNull, 1L)
        .otherwise(0L))).cast("long").as("bloom_positive"))
  }

  /** Bloom-GATED decontamination — the composed flagship of the X200
    * membership filter: benchmark documents sign a Bloom filter with
    * their `spanTokens`-gram window hashes; the corpus's distinct
    * window hashes probe it MAP-ONLY (one broadcast), and only the
    * bloom survivors reach the exact semi-join against the true
    * benchmark window set. One-sidedness makes the pre-filter
    * CORRECTNESS-NEUTRAL — the output is bit-identical to running the
    * exact join on everything (the q215 oracle computes the exact form
    * and the gate holds them equal; the sbt case forces false positives
    * with a saturated 64-bit domain and equality still holds) — while
    * at scale the bloom rejects the overwhelming share of windows
    * before any shuffle of the benchmark set happens.
    *
    * Output: (idCol, n_windows, n_contaminated) per corpus document.
    */
  def bloomGatedContamination(corpus: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String,
                              spanTokens: Int = 8, k: Int = 4,
                              mBits: Int = 1 << 20): DataFrame = {
    // Materialized once (r21): the bench window set feeds BOTH the bloom
    // build and the exact verify side — without the cut each consumer
    // re-runs the bench tokenize+window tower (two extra Generate+Window
    // towers in the q215 plan). Benchmark-sized by construction.
    val benchW = graft.Checkpoints.cutEager(
      windowHashes(bench, idCol, textCol, spanTokens)
        .select(col("_wh")).distinct())
    decontamCore(windowHashes(corpus, idCol, textCol, spanTokens),
      benchW, bloomPositions(benchW, "_wh", k, mBits), idCol, k, mBits)
  }

  private def windowHashes(d: DataFrame, idCol: String, textCol: String,
                           spanTokens: Int): DataFrame = TextAnalysis
    .tokenChunkRows(d, idCol, textCol, spanTokens, stride = 1)
    .filter(col("_n_toks") === spanTokens)
    .select(col("_id"), md5(col("_chunk")).as("_wh"))

  /** The probe shared by the inline and the index-served forms: bloom
    * pre-filter over distinct corpus window hashes, exact semi-join on
    * the SURVIVORS only, per-doc counts for every input doc. */
  private def decontamCore(corpusW: DataFrame, benchW: DataFrame,
                           bloom: DataFrame, idCol: String, k: Int,
                           mBits: Int): DataFrame = {
    // Materialized once (r21): three consumers below (the bloom probe's
    // distinct hashes, the per-doc contaminated counts, the per-doc
    // totals) would otherwise each re-run the corpus tokenize+window
    // tower — the q215 plan carried THREE Generate+Window towers over
    // the corpus scan, the dominant at-scale cost of the gate. The
    // checkpoint rows are compact (id + window hash) and spill instead
    // of pinning memory; the streaming probe path shares this (its
    // corpus is a micro-batch, where the cut is cheap).
    val cw = graft.Checkpoints.cutEagerSpill(corpusW)
    val candidates = bloomProbe(bloom,
        cw.select(col("_wh")).distinct(), "_wh", k, mBits)
      .filter(col("bloom_positive") === 1L)
    // The exact verify — removes bloom false positives; its input is
    // survivors only, which is the whole point of the gate.
    val confirmed = candidates.join(benchW, Seq("_wh"), "left_semi")
    val perDoc = cw.join(confirmed, Seq("_wh"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_contaminated"))
    cw.groupBy(col("_id")).agg(count(lit(1)).as("n_windows"))
      .join(perDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_windows"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  /** Persist the decontamination index ONCE — the benchmark is hashed
    * a single time and never again (the sign-once contract applied to
    * the ingest gate): `windows/` holds the distinct window hashes
    * (the exact side), `bloom/` their set-bit table. Growing the
    * benchmark is a [[bloomMerge]] upsert on `bloom/` plus a distinct
    * union append on `windows/` — both set-law idempotent. */
  def writeDecontamIndex(bench: DataFrame, idCol: String, textCol: String,
                         dir: String, spanTokens: Int = 8, k: Int = 4,
                         mBits: Int = 1 << 20): Unit = {
    val benchW = windowHashes(bench, idCol, textCol, spanTokens)
      .select(col("_wh")).distinct()
    benchW.write.mode("overwrite").parquet(s"$dir/windows")
    bloomPositions(benchW, "_wh", k, mBits)
      .write.mode("overwrite").parquet(s"$dir/bloom")
  }

  /** [[bloomGatedContamination]] served from a stored
    * [[writeDecontamIndex]] — the form a streaming ingest gate calls
    * per micro-batch ([[graft.streaming.EventsStream.decontamSink]]):
    * only the incoming batch is hashed; the benchmark side is two
    * stored reads. */
  def decontamProbe(corpus: DataFrame, idCol: String, textCol: String,
                    dir: String, spanTokens: Int = 8, k: Int = 4,
                    mBits: Int = 1 << 20): DataFrame = {
    val spark = corpus.sparkSession
    decontamCore(windowHashes(corpus, idCol, textCol, spanTokens),
      graft.Tables.parquet(spark, s"$dir/windows"),
      graft.Tables.parquet(spark, s"$dir/bloom"), idCol, k, mBits)
  }

  /** Distributed BPE tokenizer TRAINING (Sennrich 2016 — the q118
    * single-round pair count, iterated to an actual merge list): per
    * round, count adjacent symbol pairs weighted by word frequency, take
    * the argmax (count desc, then lexicographic — fully deterministic),
    * and re-segment every word form by the canonical greedy
    * left-to-right non-overlapping merge. Returns one row per learned
    * merge: (round, lhs, rhs, merged, pair_n).
    *
    * The 100 TB shape: the corpus is read ONCE (the word-frequency
    * aggregation); every round after that iterates the DISTINCT-form
    * vocabulary table — |vocab| rows, not corpus rows — with one
    * pair aggregation, a 1-row argmax broadcast back (the q105 scalar
    * shape), and a map-only re-segmentation. Lineage is cut per round
    * ([[graft.Checkpoints]] — reliable under a session checkpoint dir).
    *
    * The re-segmentation is a codegen'd `aggregate` HOF over the form's
    * symbol array with a STRING state machine — 'P'/'N' prefix for "an
    * unconsumed lhs is pending", chr(1)-joined emitted symbols — giving
    * exactly the canonical scan: `while i < n: if t[i]=lhs and
    * t[i+1]=rhs → emit lhs||rhs, i+=2 else emit t[i], i+=1` (so "aaa"
    * under (a,a) becomes [aa, a], and pair counts are per POSITION —
    * "aaa" holds two (a,a)s — matching the reference algorithm). DuckDB
    * replays the identical machine via list_reduce, which is what makes
    * the q192 oracle exact. Assumes symbols never contain chr(1).
    */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               rounds: Int = 3): DataFrame =
    bpeCore(docs, textCol, rounds)._1

  /** The trained per-word segmentation after `rounds` merges:
    * (w, freq, toks) — the ENCODER table. Joining a corpus's words
    * against it applies the trained tokenizer (see
    * [[graft.operators.LlmQueries]] q193). */
  def bpeForms(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeCore(docs, textCol, rounds)._2

  /** The greedy left-to-right merge state machine (see [[bpeTrain]]'s
    * scaladoc) over columns `toks`, `_a` (lhs), `_b` (rhs) — shared by
    * the training loop and the frozen-tokenizer application. */
  private val bpeMergeState =
      """aggregate(
        |  toks,
        |  'N',
        |  (s, t) -> CASE
        |    WHEN substring(s, 1, 1) = 'P' AND t = _b
        |      THEN concat('N', substring(s, 2), chr(1), _a, _b)
        |    WHEN t = _a
        |      THEN concat('P', CASE WHEN substring(s, 1, 1) = 'P'
        |        THEN concat(substring(s, 2), chr(1), _a)
        |        ELSE substring(s, 2) END)
        |    ELSE concat('N', CASE WHEN substring(s, 1, 1) = 'P'
        |        THEN concat(substring(s, 2), chr(1), _a)
        |        ELSE substring(s, 2) END, chr(1), t)
        |  END,
        |  s -> CASE WHEN substring(s, 1, 1) = 'P'
        |    THEN concat(substring(s, 2), chr(1), _a)
        |    ELSE substring(s, 2) END)""".stripMargin

  private def bpeCore(docs: DataFrame, textCol: String,
                      rounds: Int): (DataFrame, DataFrame) = {
    import graft.Checkpoints.CutOps
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var forms = words.select(col("w"), col("freq"),
      expr("regexp_extract_all(w, '.', 0)").as("toks"))
      .cutLineageEager()
    val out = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = forms.filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "named_struct('lhs', toks[i - 1], 'rhs', toks[i]))")).as("_pr"))
        .groupBy(col("_pr.lhs").as("lhs"), col("_pr.rhs").as("rhs"))
        .agg(sum(col("freq")).as("pair_n"))
      val top = pairs
        .orderBy(col("pair_n").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).cutLineageEager()
      out += top.select(lit(r).as("round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_n"))
      forms = forms
        .crossJoin(broadcast(
          top.select(col("lhs").as("_a"), col("rhs").as("_b"))))
        .withColumn("_m", expr(bpeMergeState))
        .select(col("w"), col("freq"),
          expr("filter(split(_m, chr(1)), x -> x <> '')").as("toks"))
        .cutLineageEager()
    }
    (out.result().reduce(_ unionByName _), forms)
  }

  /** Persist the trained BPE tokenizer: `merges/` — the ordered merge
    * list, which IS the model (applying it left to right reproduces the
    * encoder for ANY word, seen or not) — and `forms/`, the training
    * vocabulary's encoder table (the known-word fast path / audit
    * table). Sign once; [[bpeEncodeIndexed]] tokenizes every later
    * batch under the frozen tokenizer without re-reading the training
    * corpus — the fixed-tokenizer contract every pretraining pipeline
    * runs under. */
  def writeBpeModel(docs: DataFrame, textCol: String, dir: String,
                    rounds: Int = 3): Unit = {
    val (merges, forms) = bpeCore(docs, textCol, rounds)
    merges.write.mode("overwrite").parquet(s"$dir/merges")
    forms.write.mode("overwrite").parquet(s"$dir/forms")
  }

  /** Apply a FROZEN ordered merge list to a distinct-word table
    * (w → toks): character split, then one map-only re-segmentation
    * pass per merge — the canonical greedy application, identical for
    * training words (reproducing their stored forms) and unseen words
    * (the serving-side fallback textbook BPE defines). The merge list
    * is model-sized (collected driver-side, broadcast as literals). */
  private def applyBpeMerges(words: DataFrame,
                             merges: Seq[(String, String)]): DataFrame = {
    var forms = words.select(col("w"),
      expr("regexp_extract_all(w, '.', 0)").as("toks"))
    for ((l, r) <- merges) {
      forms = forms
        .withColumn("_a", lit(l)).withColumn("_b", lit(r))
        .withColumn("_m", expr(bpeMergeState))
        .select(col("w"),
          expr("filter(split(_m, chr(1)), x -> x <> '')").as("toks"))
    }
    forms
  }

  /** Per-doc fertility of a NEW batch under a STORED tokenizer
    * ([[writeBpeModel]]): the batch's DISTINCT words re-segment by the
    * frozen merge list (segmentation paid once per distinct word,
    * never per occurrence), then one per-doc aggregate — the
    * [[bpeFertility]] report served without touching the training
    * corpus. Unseen words segment by the same greedy application, so
    * a drifted batch is measured, not crashed on. */
  def bpeEncodeIndexed(docs: DataFrame, idCol: String, textCol: String,
                       dir: String): DataFrame = {
    val spark = docs.sparkSession
    val merges = graft.Tables.parquet(spark, s"$dir/merges")
      .orderBy(col("round").asc).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val dw = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val forms = applyBpeMerges(dw.select(col("w")).distinct(), merges)
    dw.join(forms.select(col("w"), size(col("toks")).as("_nt")), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_nt")).cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_word_ppm",
        expr("n_bpe_tokens * 1000000L div n_words"))
  }

  /** Tokenizer fertility under the TRAINED vocab — the serving-side
    * twin of [[bpeTrain]] (and the trained-tokenizer counterpart of the
    * q116 fixed-regex fertility): every document's words join the
    * encoder table ([[bpeForms]]) and the per-doc BPE token count is the
    * sum of its words' segment lengths. One corpus pass for the word
    * explode; the join is |corpus words| ⋈ |vocab| on the word key —
    * broadcast when the vocab is small, shuffle-hash otherwise, never a
    * re-segmentation per occurrence (segmentation cost is paid once per
    * DISTINCT word in training).
    */
  def bpeFertility(docs: DataFrame, idCol: String, textCol: String,
                   rounds: Int = 3): DataFrame = {
    val forms = bpeForms(docs, textCol, rounds)
    val dw = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    dw.join(forms.select(col("w"), size(col("toks")).as("_nt")), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_nt")).cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_word_ppm",
        expr("n_bpe_tokens * 1000000L div n_words"))
  }
}
