package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Corpus, Dedup, TextAnalysis}

/** Streaming form of the document-dedup pipeline: exact dedup over an
  * unbounded stream via fingerprint + `dropDuplicatesWithinWatermark`.
  *
  * Scale notes: the dedup state holds one row per distinct fingerprint
  * seen within the watermark horizon — the watermark EVICTS state for
  * fingerprints whose last occurrence has aged out, which is what makes
  * exact dedup on a 100 TB/day stream possible at all (an unbounded
  * `dropDuplicates` would accumulate every fingerprint forever). The
  * trade-off is the horizon: a duplicate arriving later than `lateness`
  * after its original is emitted again — downstream batch dedup
  * ([[graft.llm.Dedup.exactDups]]) remains the exactness backstop.
  */
object DocsStream {

  /** Emit the first-arriving document per normalized-text fingerprint;
    * duplicates within the watermark horizon are dropped. Works on a
    * streaming DataFrame with an event-time column `tsCol`; the input's
    * own columns pass through plus the `fp` fingerprint.
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  tsCol: String = "ts", lateness: String = "1 hour"): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming front half of the q60 curation pipeline — what a live
    * ingest feed runs before anything lands in the corpus store:
    * quality-gate (map-only, fuses into the source scan) → exact dedup
    * within the watermark horizon ([[dedupStream]]'s state/eviction
    * trade-off) → deterministic stratified downsampling (map-only — the
    * md5 draw is a pure row function, so the stream keeps batch-identical
    * sampling decisions). All three stages are append-mode-safe; the
    * batch pipeline's near-dup/decontamination stages need corpus-wide
    * aggregation and stay downstream (same backstop contract as
    * [[indexProbeStream]]).
    */
  def curationStream(docs: DataFrame, rates: Map[String, Double],
                     defaultRate: Double, textCol: String = "text",
                     stratumCol: String = "lang", keyCol: String = "doc_id",
                     tsCol: String = "ts",
                     lateness: String = "1 hour"): DataFrame = {
    val quality = docs
      .withColumn("_f", TextAnalysis.corpusGateFlags(col(textCol)))
      .filter(col("_f.keep")).drop("_f")
    Corpus.stratifiedSample(
      dedupStream(quality, textCol, tsCol, lateness),
      keyCol, stratumCol, rates, defaultRate, salt = "mix:")
  }

  /** Streaming ingest probe against a persisted dedup index
    * ([[graft.llm.Dedup.writeDedupIndex]]): each arriving document's band
    * rows (computed ROW-LOCALLY — stream-safe, hash-identical to the
    * index's band table) stream-static-join the bucketed index, emitting
    * (idCol, index_id, _band) candidate rows in append mode.
    *
    * The corpus index is never re-signed or re-shuffled by the stream;
    * the static side is a bucketed table scan per micro-batch. Candidates
    * are intentionally NOT deduplicated or Jaccard-verified here — both
    * would be stateful/aggregating stages that append-mode streams ahead
    * of a sink can't carry; the downstream batch verify
    * ([[graft.llm.Dedup.dedupAgainstIndex]]'s verify join) is the
    * exactness backstop, exactly like dedupStream's watermark trade-off.
    */
  def indexProbeStream(docs: DataFrame, idCol: String, textCol: String,
                       spark: SparkSession, prefix: String): DataFrame = {
    val newBands = Dedup.bandRowsRowLocal(docs, idCol, textCol)
    newBands.join(spark.table(s"${prefix}_bands")
        .select(col("_id").as("index_id"), col("_band"), col("_bh")),
      Seq("_band", "_bh"))
      .select(col(idCol), col("index_id"), col("_band"))
  }

  /** Streaming quality scoring under a stored unigram model
    * ([[graft.llm.Corpus.writeVocab]]) — the stream-safe form of
    * [[graft.llm.Corpus.surprisalAgainstVocab]]. The batch form's
    * per-(doc, token) aggregation is a stateful stage an append-mode
    * stream can't carry, so the model is capped to its top-`vocabCap`
    * entries (count-desc, token-asc — deterministic), folded into a
    * single map LITERAL, and the score becomes a pure row function:
    * `transform` tokens → band lookup (OOV and beyond-cap tokens take
    * the ceiling band floor(log2(T))+1) → `aggregate` sum. No shuffle,
    * no state, fuses into the source scan — the same map-only ingest
    * discipline as [[curationStream]]'s gate and sampler.
    *
    * The cap is the documented trade-off (CCNet itself scores under a
    * FIXED-vocab model): when the stored vocab fits the cap, output is
    * row-identical to the batch scorer — the spec asserts this — and a
    * tail token beyond the cap scores as OOV, biasing rare-token
    * documents slightly HIGH (toward the tail bucket), never low. The
    * driver-side vocab load is `vocabCap` rows by construction — the
    * bounded-collect precedent of the IVF nprobe id set.
    */
  def scoreStream(docs: DataFrame, textCol: String, dir: String,
                  vocabCap: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val total = graft.Tables.parquet(spark, s"$dir/total")
      .collect()(0).getAs[Long]("_tot")
    // floor(log2(q)) for q >= 1, the driver-side twin of the batch
    // form's length(bin(q)) - 1.
    def flog2(q: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(q)
    val oovBand = flog2(total) + 1
    val bandByToken: Map[String, Int] =
      graft.Tables.parquet(spark, s"$dir/vocab")
        .orderBy(col("_c").desc, col("_t").asc).limit(vocabCap)
        .collect().map(r =>
          r.getAs[String]("_t") -> flog2(total / r.getAs[Long]("_c"))).toMap
    val toks = TextAnalysis.tokens(col(textCol))
    val bands = transform(toks, t =>
      coalesce(element_at(typedLit(bandByToken), t), lit(oovBand)))
    docs.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("sum_bands",
        aggregate(bands, lit(0L), (acc, x) => acc + x))
      .withColumn("surprisal_ppm", expr("sum_bands * 1000000 div n_tokens"))
  }

  /** Streaming provenance probe against a persisted winnow index
    * ([[graft.llm.Dedup.writeWinnowIndex]]): stateless row-local
    * fingerprints ([[graft.llm.Dedup.winnowFpsRowLocal]], hash-identical
    * to the batch table) → stream-static join, boilerplate cap applied
    * via the index's precomputed fp_docs. Emits one row per
    * (batch doc, index doc, shared fp) — append-mode safe; the
    * n_shared >= minShared aggregation belongs to the consumer (or the
    * batch path), not the stateless stream.
    */
  def winnowProbeStream(docs: DataFrame, idCol: String, textCol: String,
                        spark: SparkSession, prefix: String,
                        maxDocsPerFp: Int = 8): DataFrame = {
    Dedup.winnowFpsRowLocal(docs, idCol, textCol)
      .join(spark.table(s"${prefix}_winnow")
          .filter(col("fp_docs") <= maxDocsPerFp)
          .select(col(idCol).as("index_id"), col("fp")),
        Seq("fp"))
      .select(col(idCol), col("index_id"), col("fp"))
  }
}
