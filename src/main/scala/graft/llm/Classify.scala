package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned text classification for corpus curation — the quality/
  * language/domain filter stage of a training-data pipeline, as a
  * closed-form model that trains and serves entirely as DataFrame
  * plans (no driver-side iteration, no float nondeterminism).
  *
  * The model is multinomial Naive Bayes with Laplace smoothing, BIT-
  * QUANTIZED: every log₂ in the decision function is floored to an
  * integer "band" (`floor(log2 x)` = `length(bin(x)) - 1`, the same
  * cross-engine integer-log discipline as the surprisal family). For
  * document d with per-token counts n_dt over vocabulary V, positive/
  * negative token totals T1/T0 and doc counts N1/N0:
  *
  * {{{
  *   score(d) = [band(N1) - band(N0)]                  // class prior
  *            + Σ_t n_dt · (band(c1_t + 1) - band(c0_t + 1))
  *            + n_d · [band(T0 + V) - band(T1 + V)]    // normalizers
  *   predict positive ⇔ score(d) > 0
  * }}}
  *
  * which is exactly the NB log-likelihood ratio with each log₂ term
  * quantized to whole bits. Tokens unseen in training have
  * band(1) − band(1) = 0 — they fall out of the sum, so serving needs
  * no vocabulary closure. Everything is integer arithmetic: the same
  * scores reproduce bit-for-bit in any engine (the DuckDB oracle
  * replays the whole train+serve), and quantization costs little in
  * practice — NB decisions hinge on accumulated evidence over many
  * tokens, not sub-bit weight precision.
  *
  * Scale shape: TRAINING is one explode + one token-keyed aggregate
  * (vocab-sized output) + two scalar aggregates — a single corpus
  * pass, no iteration (this is the reason to ship NB rather than a
  * gradient-trained linear model: the closed form needs no k-pass GD
  * loop over 100 TB). SERVING is one token-keyed equi-join of the
  * exploded corpus against the model (model tables are vocab-sized —
  * AQE broadcasts real-world ones; a pathological vocab degrades to a
  * shuffle hash join, never a BNLJ) + one per-doc aggregate.
  */
object Classify {

  /** floor(log₂ c) of a POSITIVE integral column, as the codegen'd
    * builtin chain `length(bin(c)) - 1` (mirrors DuckDB verbatim). */
  private def band(c: Column): Column = (length(bin(c)) - lit(1)).cast("long")

  private def bandL(x: Long): Long = {
    require(x > 0, s"band of non-positive $x")
    63L - java.lang.Long.numberOfLeadingZeros(x)
  }

  /** A trained model: vocab-sized (token, weight-in-bits) table plus
    * the two scalar terms. `perTokenBias` joins the two normalizer
    * logs (applied once per TOKEN OCCURRENCE), `prior` the class
    * priors (applied once per doc). */
  final case class NbModel(weights: DataFrame, perTokenBias: Long,
                           prior: Long)

  /** Train on `docs` where `pos` marks the positive class. Two corpus
    * passes — the doc-count scan and the token aggregate — and no
    * ITERATION (the closed form is why this ships instead of a k-pass
    * gradient loop at 100 TB). The token aggregate is persisted once
    * (vocab-sized, lineage kept — executor loss recomputes): without
    * it, the returned weights plan would re-run the corpus
    * explode+aggregate inside EVERY downstream serve join; long-lived
    * serving goes through [[saveModel]]/[[loadModel]] instead of this
    * in-memory handle. Errors loudly if either class is
    * empty (an NB prior over zero docs is undefined — a silent 0
    * would misclassify everything). */
  def nbTrain(docs: DataFrame, textCol: String, pos: Column): NbModel = {
    // Class counts validate FIRST — on an empty/one-class corpus the
    // loud require must fire before any token-aggregate work runs.
    val n = docs.agg(
      sum(when(pos, 1L).otherwise(0L)),
      sum(when(pos, 0L).otherwise(1L))).head
    require(!n.isNullAt(0) && n.getLong(0) > 0 && n.getLong(1) > 0,
      s"NB needs both classes non-empty, got pos=${n.get(0)} neg=${n.get(1)}")
    val tok = docs.select(pos.as("_pos"),
      explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    // persist (not localCheckpoint): the vocab-sized aggregate is
    // reused by the weights plan and the totals collect without
    // re-running the corpus explode, while keeping its LINEAGE — an
    // executor loss recomputes the lost blocks instead of killing the
    // model permanently (localCheckpoint's documented failure mode,
    // fatal under dynamic allocation). Long-lived serving should go
    // through saveModel/loadModel (stable parquet) rather than hold
    // this in-memory handle.
    val cls = tok.groupBy(col("_t")).agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_c1"),
      sum(when(col("_pos"), 0L).otherwise(1L)).as("_c0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weights = cls.select(col("_t"),
      (band(col("_c1") + 1) - band(col("_c0") + 1)).as("_w"))
    // Bounded driver-side scalars: token totals, vocab size (this
    // collect also materializes the persisted aggregate).
    val c = cls.agg(sum("_c1"), sum("_c0"), count(lit(1))).head
    val (t1, t0, v) = (c.getLong(0), c.getLong(1), c.getLong(2))
    NbModel(weights,
      perTokenBias = bandL(t0 + v) - bandL(t1 + v),
      prior = bandL(n.getLong(0)) - bandL(n.getLong(1)))
  }

  /** Score documents: (idCol, n_tokens, score) with
    * `predicted ⇔ score > 0`. Token occurrences join the model
    * directly (Σ over occurrences ≡ Σ n_dt·w — no per-doc-token
    * pre-aggregate needed); unseen tokens coalesce to weight 0. */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
              model: NbModel): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    tok.join(model.weights, Seq("_t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("_w"), lit(0L))).as("_sumw"))
      .select(col(idCol), col("n_tokens"),
        (lit(model.prior) + col("_sumw") +
          col("n_tokens") * lit(model.perTokenBias)).as("score"))
  }

  /** Persist a trained model: vocab-sized weights parquet + a one-row
    * constants table, published as one immutable VERSION directory
    * (`v<N>/weights` + `v<N>/consts`) behind a single `_model_v`
    * pointer flip. One marker governs BOTH tables, so a load racing a
    * republish (the streaming gate loads per batch) can never pair one
    * generation's weights with another's prior/perTokenBias — the
    * failure mode of the previous two-rename layout. Version dirs are
    * write-once; versions ≤ N−2 (and, from the second versioned
    * publish on, the pre-versioned legacy layout) are swept at publish
    * time — the one-version grace keeps a reader pinned on the
    * previous pointer value serving intact files, the same retention
    * discipline as DeltaStore's versioned base. */
  def saveModel(model: NbModel, dir: String): Unit = {
    val spark = model.weights.sparkSession
    import spark.implicits._
    val fs = fsOf(spark, dir)
    val next = modelVersion(spark, dir).getOrElse(0L) + 1L
    // A previous publish may have crashed after writing v<next> but
    // before the pointer flip — the dir is unreferenced, overwrite it.
    fs.delete(new hPath(s"$dir/v$next"), true)
    model.weights.write.parquet(s"$dir/v$next/weights")
    Seq((model.perTokenBias, model.prior)).toDF("perTokenBias", "prior")
      .write.parquet(s"$dir/v$next/consts")
    writeModelVersion(spark, dir, next)
    // One listing, exact sweep: every version dir ≤ next-2 goes
    // (including stragglers a crashed earlier publish left behind) —
    // not a 1..next counting loop, which would cost O(publishes) FS
    // calls per publish on a long-lived model dir.
    fs.listStatus(new hPath(dir)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") &&
          n.drop(1).toLongOption.exists(_ <= next - 2))
        fs.delete(st.getPath, true)
    }
    if (next >= 2L) {
      fs.delete(new hPath(s"$dir/weights"), true)
      fs.delete(new hPath(s"$dir/consts"), true)
    }
  }

  /** Load a [[saveModel]]-persisted model: one pointer read pins one
    * immutable version directory (weights and consts from the SAME
    * generation by construction). Pre-versioned layouts fall back to
    * the legacy paths with their half-swap heal.
    *
    * [[writeModelVersion]] flips the pointer via delete-then-rename,
    * so a reader can land in the instant where `_model_v` is absent
    * while version directories exist (and the legacy paths were swept
    * at the second publish) — a naive miss here would crash a serving
    * stream mid-republish. Heal: re-read the pointer once (the rename
    * is sub-millisecond), then fall back to the HIGHEST complete
    * version directory (write-once, so the newest one listed is a
    * consistent generation), and only then try the legacy layout. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                dir: String): NbModel = {
    val (weightsDir, constsDir) =
      modelVersion(spark, dir).orElse(modelVersion(spark, dir)) match {
        case Some(v) => (s"$dir/v$v/weights", s"$dir/v$v/consts")
        case None =>
          val fs = fsOf(spark, dir)
          val latest =
            if (!fs.exists(new hPath(dir))) None
            else fs.listStatus(new hPath(dir)).iterator
              .map(_.getPath.getName)
              .filter(_.startsWith("v"))
              .flatMap(_.drop(1).toLongOption)
              .toSeq.sorted(Ordering[Long].reverse)
              .find(v => fs.exists(new hPath(s"$dir/v$v/consts/_SUCCESS")))
          latest match {
            case Some(v) => (s"$dir/v$v/weights", s"$dir/v$v/consts")
            case None =>
              require(
                graft.sources.ShardStore.existsRecovered(spark, s"$dir/consts"),
                s"no NB model at $dir")
              (s"$dir/weights", s"$dir/consts")
          }
      }
    val c = graft.Tables.parquet(spark, constsDir).head
    NbModel(graft.Tables.parquet(spark, weightsDir),
      c.getAs[Long]("perTokenBias"), c.getAs[Long]("prior"))
  }

  private type hPath = org.apache.hadoop.fs.Path

  private def fsOf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new hPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def modelVersion(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Option[Long] = {
    val fs = fsOf(spark, dir)
    val p = new hPath(s"$dir/_model_v")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  private def writeModelVersion(spark: org.apache.spark.sql.SparkSession,
                                dir: String, v: Long): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new hPath(s"$dir/_model_v__tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(new hPath(s"$dir/_model_v"), false)
    require(fs.rename(tmp, new hPath(s"$dir/_model_v")),
      s"model version marker rename failed: $dir")
  }

  /** Operating-point table for a scored, labeled corpus — the
    * classifier twin of the ANN recall-vs-nprobe grid: every DISTINCT
    * score is a candidate threshold θ (the standard ROC construction —
    * between two observed scores every θ behaves identically), with
    * integer confusion counts and F1 in ppm for `predict ⇔ score > θ`.
    *
    * Scale shape: one doc-level aggregate collapses the corpus to
    * score-cardinality-sized rows (quantized integer scores cluster
    * hard), then ONE global cumulative window over those rows. The
    * window is single-partition by construction but its input is the
    * distinct-score table, not the corpus — the same bounded-summary
    * discipline as the quantile/histogram families.
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String,
                     label: Column): DataFrame = {
    val perScore = scored.groupBy(col(scoreCol).as("threshold"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("_p"),
        sum(when(label, 0L).otherwise(1L)).as("_n"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("threshold").desc)
      .rowsBetween(W.unboundedPreceding, -1)
    // Class totals as a whole-frame window over the SAME summary rows
    // — one plan, one corpus pass (an eager totals collect would
    // recompute the corpus aggregate a second time).
    val all = W.orderBy(col("threshold").desc)
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    // predict positive ⇔ score > θ: everything STRICTLY above this row.
    perScore
      .withColumn("tp", coalesce(sum(col("_p")).over(w), lit(0L)))
      .withColumn("fp", coalesce(sum(col("_n")).over(w), lit(0L)))
      .withColumn("fn", sum(col("_p")).over(all) - col("tp"))
      .withColumn("tn", sum(col("_n")).over(all) - col("fp"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"))
      .withColumn("f1_ppm",
        // 2tp+fp+fn = 0 ⇔ a zero-positive corpus at its strictest
        // threshold (tp=fn=0, fp=0): integer div would throw under
        // ANSI (or yield NULL otherwise, and tuneThreshold would
        // order by a nullable column) — define F1 = 0 there (no true
        // positives ⇒ no harmonic mean to take). CaseWhen evaluates
        // lazily, so the guarded branch never divides by zero.
        when(expr("2 * tp + fp + fn") === lit(0L), lit(0L))
          .otherwise(expr("2 * tp * 1000000 div (2 * tp + fp + fn)")))
  }

  /** Mechanical operating-point pick off the sweep: the threshold
    * maximizing F1; ties break to the HIGHEST threshold (strictest
    * filter at equal quality). Bounded collect — one row. */
  def tuneThreshold(sweep: DataFrame): Long =
    sweep.orderBy(col("f1_ppm").desc, col("threshold").desc)
      .select(col("threshold").cast("long")).head.getLong(0)

  /** The DuckDB replay of train+serve over a `documents`-shaped table
    * — one copy of the banding/smoothing algebra, shared by every
    * oracle that gates this classifier. `posSql` is a boolean SQL
    * expression over the table's columns (e.g. "lang = 'en'").
    * Produces (doc_id, n_tokens, score). */
  def nbScoreSql(table: String, posSql: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, ($posSql) AS pos,
       |         unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM $table),
       |cls AS (
       |  SELECT t,
       |         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c0
       |  FROM tok GROUP BY 1),
       |w AS (
       |  SELECT t, (length(bin(c1 + 1)) - 1) - (length(bin(c0 + 1)) - 1) AS w
       |  FROM cls),
       |consts AS (
       |  SELECT (length(bin(sum(c0) + count(*))) - 1)
       |       - (length(bin(sum(c1) + count(*))) - 1) AS ptb
       |  FROM cls),
       |prior AS (
       |  SELECT (length(bin(sum(CASE WHEN ($posSql) THEN 1 ELSE 0 END))) - 1)
       |       - (length(bin(sum(CASE WHEN ($posSql) THEN 0 ELSE 1 END))) - 1)
       |         AS pr
       |  FROM $table)
       |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(pr + sum(coalesce(w.w, 0)) + count(*) * ptb AS BIGINT)
       |         AS score
       |FROM tok LEFT JOIN w USING (t) CROSS JOIN consts CROSS JOIN prior
       |GROUP BY tok.doc_id, pr, ptb""".stripMargin
}
