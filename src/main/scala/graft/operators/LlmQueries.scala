package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{parquet, t}
import graft.sources.ShardStore
import graft.llm.{Classify, Corpus, Dedup, Similarity, TextAnalysis => TA}

/** LLM-training-data pipeline queries over `documents` / `embeddings`:
  * text analysis, language ID, exact + MinHash-LSH dedup, SimHash,
  * brute-force and LSH similarity search.
  */
object LlmQueries {

  /** The q60 curation pipeline body — shared VERBATIM between the gated
    * query and ScaleProbe's stage-timed probe so the two cannot drift:
    * `stage` wraps each materialization boundary (the query passes it
    * through; the probe times and forces it). Scale shape: two map-only
    * filters, the dedup/decon stages' keyed shuffles (each individually
    * audited), a 5-row broadcast rate join, and one per-stratum window —
    * nothing here adds a shuffle the component operators don't already
    * pay.
    */
  private[graft] def curationPipeline(
      d: DataFrame,
      stage: (String, () => DataFrame) => DataFrame =
        (_, f) => f()): DataFrame = {
    // 1+2. Quality gate (map-only codegen'd corpusGateFlags, shared with
    //      q56 and the stream) + exact-dedup canonical representatives.
    //      Materialized: the quality+window lineage otherwise re-executes
    //      inside the near-dup signatures, the anti-join, the
    //      decontamination shingles, and both rate/sample consumers.
    val reps = stage("quality+exact_dedup", () => {
      val quality = d
        .withColumn("_f", TA.corpusGateFlags(col("text")))
        .filter(col("_f.keep")).drop("_f")
      Dedup.exactDups(quality, "doc_id", "text")
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("lang"), col("text"))
        .localCheckpoint(true)
    })
    // 3. Near-dup pairs (eagerly materialized inside minhashNearDups);
    //    downstream drops the larger id of every verified pair (pair set
    //    is small → AQE broadcasts the anti-join side).
    val pairs = stage("minhash_neardup", () =>
      Dedup.minhashNearDups(reps, "doc_id", "text"))
    // 4. Decontaminate vs the q57 synthetic benchmark set. Materialized:
    //    the decontamination join would otherwise re-run for each of the
    //    two consumers below (rates and the sampler).
    val clean = stage("decontaminate", () => {
      val deduped = reps.join(
        pairs.select(col("d2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" bb1 bb2")).as("text"))
      val leaks = Corpus.contamination(deduped, bench, "doc_id", "text",
        minShared = 5)
      deduped.join(
        leaks.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
    })
    // 5+6. Mix rates over the SURVIVING corpus (5 rows — broadcast by
    //      construction) → the sampler's pure-BIGINT keep/drop decision
    //      (draw/2³² < rate_ppm/10⁶ ⟺ draw·10⁶ < rate_ppm·2³², both
    //      products < 2⁶³ — no double ever enters it) → pack into
    //      256-token training sequences.
    stage("rates+sample+pack", () => {
      val rates = Corpus.mixRates(clean, "lang", TA.tokenCount(col("text")))
      val sampled = clean
        .withColumn("n_tokens", TA.tokenCount(col("text")))
        .join(broadcast(rates.select(col("lang"), col("rate_ppm"))),
          Seq("lang"))
        .filter(Corpus.hashU32(col("doc_id"), "mix:") * lit(1000000L) <
          col("rate_ppm") * lit(4294967296L))
      Corpus.packSequences(sampled, "doc_id", "lang", col("n_tokens"),
        budget = 256)
    })
  }

  /** The directory of a registry row's stored index: the session
    * warehouse, plus `name`, plus a key of the data dir, so two data
    * dirs never share an index. */
  private[graft] def indexDir(s: SparkSession, dir: String,
                              name: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(6)
    s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/${name}_$key"
  }

  /** Build-if-absent: the [[indexDir]] index is built ONCE per session
    * per data dir, and every later call (the bench's min-of-3, a
    * dashboard's repeat) is the read-only serve, so a bench row
    * measures the SERVING cost the sign-once contract advertises, not
    * a per-call rebuild. The build keeps its own sbt gates. The marker
    * is a temp view named after the directory: a fresh session (no
    * temp views) re-signs over any stale files. Returns the directory. */
  private def sessionIndex(s: SparkSession, dir: String, name: String)
                          (build: String => Unit): String = {
    val idx = indexDir(s, dir, name)
    val marker = idx.substring(idx.lastIndexOf('/') + 1)
    if (!s.catalog.tableExists(marker)) {
      build(idx)
      s.emptyDataFrame.createOrReplaceTempView(marker)
    }
    idx
  }

  /** q218/q238 share ONE persisted IVF+PQ index per data dir
    * ([[sessionIndex]]). Both queries' DuckDB oracles hardcode exactly
    * these parameters (%64 coarse seeds, %8 PQ seeds, m=8, trainCap
    * 256), so the build lives in one place. */
  private def ivfPqIndexFor(s: SparkSession, dir: String): String =
    sessionIndex(s, dir, "q218_ivfpq") { idx =>
      Similarity.writeIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", idx, m = 8, dim = 64, centroidEvery = 64,
        pqCentroidEvery = 8, trainCap = 256)
    }

  /** The stored KMV k-slots of an events slice: [[Corpus.kmvSketch]]'s
    * (stratum, h) columns, the layout [[Corpus.kmvMerge]] folds. */
  private def kmvSlots(ev: DataFrame): DataFrame =
    Corpus.kmvSketch(ev, "user_id", "event_type", 64).drop("kmv_rank")

  /** Dup-injected corpus shared by the SimHash-family gates (q51, q55,
    * q70, q73): every 20th doc gains an exact copy (+1000000), every
    * 20th+10 a one-token perturbation (+2000000). One definition so the
    * four gates (and their oracles' `corpus` CTE) can never diverge.
    */
  private def dupInjectedCorpus(d: DataFrame): DataFrame = {
    val exact = d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val perturbed = d.filter(col("doc_id") % 20 === 10)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" qq7")).as("text"))
    d.unionByName(exact).unionByName(perturbed)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X251 — the classifier's operating-point table (the q238
    // recall-grid pattern for a learned filter): every distinct score
    // is a candidate threshold, integer confusion counts + F1 ppm per
    // row — the number an operator sets before unleashing the filter
    // on a corpus. One corpus-collapsing aggregate, then a cumulative
    // window over the score-cardinality-sized summary.
    "q250_nb_threshold" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val model = Classify.nbTrain(d, "text", col("lang") === "en")
      val scored = Classify.nbScore(d, "doc_id", "text", model)
        .join(d.select(col("doc_id"), (col("lang") === "en").as("_is_en")),
          Seq("doc_id"))
      Classify.thresholdSweep(scored, "score", col("_is_en"))
    },

    // X249 — learned corpus-curation classifier: bit-quantized
    // multinomial Naive Bayes (closed form — ONE corpus pass to train,
    // no GD iteration), trained here as a language-ID model (positive
    // class = lang 'en') and self-scored; the gated output is the
    // confusion matrix + per-cell score mass. All-integer banding
    // makes the full train+serve replayable in DuckDB.
    "q248_nb_classifier" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val model = Classify.nbTrain(d, "text", col("lang") === "en")
      Classify.nbScore(d, "doc_id", "text", model)
        .join(d.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          Seq("doc_id"))
        .groupBy(col("is_en"), (col("score") > 0).as("predicted_en"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_score"))
    },
    // Tokenize + quality metrics (map-only at any scale).
    "q30_text_stats" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.charCount(col("text")).as("n_chars_nospace"),
        TA.avgTokenLen(col("text")).as("avg_token_len"),
        TA.stopwordRatio(col("text")).as("stopword_ratio"),
        TA.qualityScore(col("text")).as("quality"))
    },

    // Stopword-profile language ID with deterministic tie-break.
    "q31_lang_id" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val toks = TA.tokens(col("text"))
      d.select(col("doc_id"),
        TA.profileScore(toks, "en").as("s_en"),
        TA.profileScore(toks, "de").as("s_de"),
        TA.profileScore(toks, "es").as("s_es"),
        TA.profileScore(toks, "fr").as("s_fr"),
        TA.langId(col("text")).as("lang_pred"))
    },

    // Exact dedup on normalized-text fingerprint. The corpus has no exact
    // dups, so a copy of every 20th doc (id+1000000) is unioned in — the
    // dedup path then has real groups to find.
    "q32_exact_dedup" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.exactDups(d.unionByName(dups), "doc_id", "text")
        .select(col("doc_id"), col("fp"), col("group_size"), col("canonical_id"))
    },

    // MinHash-LSH near-dup pairs, exact-Jaccard verified at >= 0.8.
    // NO crossJoin anywhere (asserted in LlmSpec); the oracle checks
    // against all-pairs Jaccard — recall at 32x4 bands is ~1-5e-8.
    "q33_minhash_neardup" -> { (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text")
    },

    // The X84 dashboard form of q33 under the SAME all-pairs Jaccard
    // oracle: sign the corpus ONCE into the bucketed index tables
    // (writeDedupIndex), then compute the pair relation from the stored
    // index alone — the band self-join is bucket-local (zero exchanges,
    // LlmSpec plan assert) and the corpus text is never re-read. The
    // index stores the same bands/sketches as q33, so the verified pair
    // set is identical. Signed once per session ([[sessionIndex]]); the
    // build keeps its own sbt gate (LlmSpec "corpus-self near-dups from
    // the index alone"). The index's table prefix is its directory name.
    "q187_neardup_indexed" -> { (s, dir) =>
      val idx = sessionIndex(s, dir, "q187idx") { idx =>
        Dedup.writeDedupIndex(t(s, dir, "documents"), "doc_id", "text",
          idx.substring(idx.lastIndexOf('/') + 1), dir = Some(idx))
      }
      Dedup.indexNearDups(s, idx.substring(idx.lastIndexOf('/') + 1))
    },

    // 32-bit SimHash signature per document (relational pipeline).
    "q34_simhash" -> { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
    },

    // n-gram Jaccard similarity as a first-class scorer (the exact measure
    // the near-dup verify stages threshold). Two pair families so the gate
    // is value-sensitive, not just membership-sensitive: adjacent-id pairs
    // (near-zero overlap) AND each sampled doc against a tail-appended
    // copy of itself (jaccard n/(n+3)-ish — any bug in the window count,
    // k, or distinct handling shifts the ratio and breaks the hash).
    "q49_ngram_jaccard" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val left = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("d1"),
          Dedup.shingles(col("text")).as("_sa"))
      val adjacent = d.select((col("doc_id") - 1).as("d1"),
        col("doc_id").as("d2"), Dedup.shingles(col("text")).as("_sb"))
      val modifiedCopy = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("d1"),
          (col("doc_id") + 1000000).as("d2"),
          Dedup.shingles(concat(col("text"), lit(" zz0 zz1 zz2"))).as("_sb"))
      left.join(adjacent.unionByName(modifiedCopy), Seq("d1"))
        .select(col("d1"), col("d2"),
          Dedup.jaccard(col("_sa"), col("_sb")).as("jaccard"))
    },

    // PII redaction (emails, then 9+-digit runs) + match counting. The
    // raw docs carry no PII, so deterministic synthetic PII is appended
    // in-query (q32-style injection) — the gate then checks actual
    // redaction, not a no-op pass-through.
    "q50_pii_redact" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 123456789 now")).as("text"))
      d.select(col("doc_id"), TA.redactPii(col("text")).as("redacted"),
        TA.piiCount(col("text")).as("n_pii"))
    },

    // BPE-ish token-count estimate + Rabin-Karp rolling-hash fingerprint
    // (native codegen'd expression) — map-only, like q30/q31.
    "q46_bpe_rolling" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TA.bpeTokenCount(col("text")).as("n_bpe"),
        TA.rollingFingerprint(col("text")).as("rhash"))
    },

    // Composed dedup pipeline (exact-first, near-dup over canonical
    // representatives) on the same dup-injected corpus as q32 — the
    // pipeline order that keeps LSH buckets safe from exact-copy floods.
    "q45_dedup_pipeline" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.dedupPipeline(d.unionByName(dups), "doc_id", "text")
    },

    // 32-bit SimHash near-dup pairs via a 4×8-bit banded self-join —
    // recall for hamming <= 3 is EXACT by pigeonhole (see
    // Dedup.simhashNearDups), so the all-pairs-hamming DuckDB oracle
    // hash-compares cleanly. The corpus gets exact copies (hamming 0)
    // of every 20th doc AND one-token-appended copies of every (20th+10)
    // doc, whose hamming is small but text-dependent — the gate is
    // value-sensitive, not just membership-sensitive.
    "q51_simhash_neardup" -> { (s, dir) =>
      Dedup.simhashNearDups(dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text", bits = 32)
    },

    // Deterministic stratified downsampling — rebalance the language mix
    // (en-heavy corpus: keep 10% en, 50% zh, 90% of the rest) with a
    // reproducible md5-keyed draw. Map-only filter at any scale; `u` is
    // the draw itself so the oracle checks the exact decision boundary.
    "q52_stratified_sample" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      Corpus.stratifiedSample(d, "doc_id", "lang",
        Map("en" -> 0.1, "zh" -> 0.5), defaultRate = 0.9)
        .withColumn("u", Corpus.hashUnit(col("doc_id"), "sample:"))
    },

    // Repetition detection (Gopher-style quality signal): fraction of
    // repeated bigram windows per document. Map-only, codegen'd.
    "q53_repetition" -> { (s, dir) =>
      val grams = TA.ngrams(TA.tokens(col("text")), 2)
      t(s, dir, "documents")
        .select(col("doc_id"), size(grams).as("n_grams"),
          size(array_distinct(grams)).as("n_uniq"),
          TA.repeatedNgramFrac(col("text"), 2).as("rep_frac"))
    },

    // Near-dup clustering: connected components over the simhash pair
    // graph — pairs alone don't dedup a corpus; transitive groups do.
    // Every doc (isolated ones included) gets component_id = min reachable
    // doc_id. The pair graph comes from the PRODUCTION 64-bit geometry
    // (16-bit slices — the 8-bit-slice demo's n/256-doc buckets measured
    // superlinear at 10⁶ docs in SCALE.md; q51 keeps the 32-bit form as
    // its own gate). Oracle: recursive CTE over the same pair graph.
    "q55_dedup_components" -> { (s, dir) =>
      val corpus = dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text", bits = 64)
      Dedup.connectedComponents(pairs, "d1", "d2",
        corpus.select(col("doc_id")), "doc_id")
    },

    // Mix-weight computation: per-language sampling rates that would
    // equalize token share (feeds q52's stratifiedSample). One agg
    // shuffle; the window is over 5 post-agg rows. The compared surface
    // is INTEGER-ONLY (rate_ppm in BIGINT arithmetic); the convenience
    // double `rate` stays in the library API but never enters the hash —
    // rounding a double does not transfer across engines.
    "q58_mix_rates" -> { (s, dir) =>
      Corpus.mixRates(t(s, dir, "documents"), "lang",
        TA.tokenCount(col("text"))).drop("rate")
    },

    // Rare-token (hapax) scoring against the corpus-derived vocabulary —
    // integer-exact gibberish signal; no broadcast assumption on the
    // vocab.
    "q59_rare_tokens" -> { (s, dir) =>
      Corpus.rareTokenCounts(t(s, dir, "documents"), "doc_id", "text")
    },

    // Test-set decontamination: corpus docs sharing >= 5 distinct
    // 3-gram shingles with any benchmark doc. The "benchmark" is every
    // 97th doc with two appended tokens (so each planted leak pairs a
    // corpus doc with a near-copy bench doc at high-but-not-total
    // overlap); bench side broadcast, corpus never shuffled.
    "q57_decontaminate" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" bb1 bb2")).as("text"))
      Corpus.contamination(d, bench, "doc_id", "text", minShared = 5)
    },

    // Composite quality filter (Gopher-style): per-rule flags + the keep
    // conjunction in one map-only pass. Thresholds chosen to split this
    // corpus non-trivially on every rule.
    "q56_quality_filter" -> { (s, dir) =>
      val f = TA.corpusGateFlags(col("text"))
      t(s, dir, "documents").select(col("doc_id"), f.as("_f"))
        .select(col("doc_id"), col("_f.ok_tokens").as("ok_tokens"),
          col("_f.ok_avg_len").as("ok_avg_len"),
          col("_f.ok_stopword").as("ok_stopword"),
          col("_f.ok_repetition").as("ok_repetition"),
          col("_f.keep").as("keep"))
    },

    // Greedy sequence packing: assign each document to the 256-token
    // training sequence its exclusive prefix sum starts in, per language
    // stream — the deterministic data-loader concatenation order. One
    // shuffle (hash by lang + window sort).
    "q54_seq_packing" -> { (s, dir) =>
      Corpus.packSequences(t(s, dir, "documents"), "doc_id", "lang",
        TA.tokenCount(col("text")), budget = 256)
    },

    // Exact cosine top-10 for every 100th vector (broadcast query side —
    // the brute-force baseline). Sim excluded from output: rank + id are
    // discrete, so the compare is float-robust.
    "q35_knn_bruteforce" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    },

    // LSH-bucketed ANN (scale path; rows-only check — the hyperplane
    // buckets aren't SQL-expressible. Recall vs brute force is asserted
    // in LlmSpec).
    "q36_ann_lsh" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.lshKnn(e, e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    },

    // IVF-style ANN (the second scale path besides LSH): id-sampled coarse
    // centroids, nprobe=4 probed lists, exact rerank. Deterministic by
    // construction, so fully oracle-verified.
    "q44_ivf_knn" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnn(e, e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    },

    // Embedding-cosine near-dup: the corpus has no near-identical vectors,
    // so copies of every 25th vector (id+1000000) are unioned in; LSH
    // buckets generate candidates (no all-pairs join), exact cosine >= 0.95
    // verifies. Oracle: all-pairs cosine in DuckDB — identical vectors sit
    // at 1.0, every true pair far below 0.8, so recall is exact.
    "q42_embedding_neardup" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dups = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDups(e.unionByName(dups), "vec_id", "embedding")
    },

    // END-TO-END CURATION FLAGSHIP: the composition a real 100 TB
    // pipeline runs, chained in the canonical order —
    //   quality filter (q56) → exact dedup (q32) → near-dup removal
    //   (q33 pairs, drop the larger id) → test-set decontamination (q57)
    //   → mix-rate computation (q58) feeding the deterministic sampler
    //   (q52) → sequence packing (q54).
    // Every stage is individually oracle-gated; this gate checks the
    // COMPOSITION (stage interfaces, column plumbing, rate handoff).
    // Scale shape: two map-only filters, the dedup/decon stages' keyed
    // shuffles (each individually audited), a 5-row broadcast rate join,
    // and one per-stratum window — nothing here adds a shuffle the
    // component operators don't already pay.
    "q60_curation_pipeline" -> { (s, dir) =>
      curationPipeline(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")))
    },

    // Line-level dedup stats (CCNet/RefinedWeb boilerplate signal):
    // per-doc fraction of line units occurring in >= 2 distinct docs.
    // The corpus has no repeated units, so an 8-token boilerplate banner
    // is PREPENDED to every 5th doc (prepending keeps it unit-aligned) —
    // those docs then share exactly one duplicated line.
    "q61_line_dedup" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text"))).otherwise(col("text")).as("text"))
      Dedup.lineDupStats(d, "doc_id", "text")
    },

    // Distributed Lloyd k-means over embeddings (2 rounds, id-sampled
    // seeds, 6-decimal-rounded centroid updates — see Similarity.kMeans
    // for why that makes textbook k-means oracle-verifiable).
    "q62_kmeans" -> { (s, dir) =>
      Similarity.kMeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        centroidEvery = 64, iters = 2)
    },

    // Per-source quality ranking: top-5 docs per source by the q30
    // composite quality score — the domain-level curation cap
    // (keep-best-N-per-domain). One window per source partition; the
    // float score is order-only (excluded from output, q35 discipline).
    "q63_source_topk" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(TA.qualityScore(col("text")).desc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), row_number().over(w).as("rank"))
        .filter(col("rank") <= 5)
    },

    // Vocabulary induction: corpus-wide top-100 bigrams with total-order
    // tie-break (count desc, gram asc) — the first step of any
    // merge-based tokenizer build. One map-side-combined count; the
    // global top-k is a TakeOrdered, and the rank window runs over the
    // 100 survivors only.
    "q66_vocab_topk" -> { (s, dir) =>
      val counts = t(s, dir, "documents")
        .select(explode(TA.ngrams(TA.tokens(col("text")), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      counts.orderBy(col("cnt").desc, col("gram").asc).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("gram").asc)))
    },

    // Sketch cardinalities: per-language distinct-fingerprint counts — at
    // 100 TB the HLL++ sketch is the affordable first pass (no distinct
    // shuffle; sketches merge map-side). The compared surface carries only
    // the engine-portable columns (lang, n_docs, exact_distinct); the
    // HLL estimate itself has engine-specific internals, so its error
    // bound vs exact is asserted in LlmSpec rather than hash-compared.
    "q67_sketch_cardinality" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("lang"), TA.fingerprint(col("text")).as("fp"))
      d.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("exact_distinct"))
    },

    // Context-window chunking: 8-token chunks, 2-token overlap (stride 6)
    // — the long-document splitting step ahead of sequence packing.
    "q68_doc_chunking" -> { (s, dir) =>
      Corpus.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 8, overlap = 2)
    },

    // 64-bit SimHash near-dup (production bucket geometry: 16-bit
    // slices). Fully oracle-gated: token hashes are the 16-hex-digit md5
    // device, which DuckDB reproduces in HUGEINT arithmetic (signature
    // assembly) + BIGINT xor/bit_count (hamming verify); the banded
    // join's pigeonhole recall (hamming <= 3 < 4 bands) keeps the
    // all-pairs oracle fair, exactly as for 32-bit q51.
    "q70_simhash64_neardup" -> { (s, dir) =>
      Dedup.simhashNearDups(dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text", bits = 64)
    },

    // Exact per-language length quantiles by deterministic rank
    // (row_number over (n, doc_id), value at ceil(q·cnt)) — integer
    // output, reproducible on any layout, where percentile_approx would
    // be sketch-dependent and a true percentile() a single-point of
    // nondeterminism across engines. The corpus-stats staple.
    "q69_length_quantiles" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), TA.tokenCount(col("text")).as("n"))
      val ranked = d
        .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("n").asc, col("doc_id").asc)))
        .withColumn("cnt", count(lit(1))
          .over(Window.partitionBy(col("lang"))))
      def at(q: Double) = max(when(
        col("rn") === ceil(col("cnt") * q).cast("long"), col("n")))
      ranked.groupBy(col("lang")).agg(max(col("cnt")).as("n_docs"),
        at(0.25).as("p25"), at(0.5).as("p50"), at(0.75).as("p75"))
    },

    // SemDeDup: k-means clusters scope the pairwise cosine check, copies
    // of every 25th vector (q42's injection) plant true semantic dups.
    // keep=false exactly for the larger id of each >= 0.99 within-cluster
    // pair.
    "q64_semdedup" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dups = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semanticDedup(e.unionByName(dups), "vec_id", "embedding",
        centroidEvery = 64, iters = 1, threshold = 0.99)
    },

    // Global per-dimension int8 scalar quantization (4x embedding
    // compression) — integer output, corpus-wide ranges, map-only apply.
    "q65_scalar_quantize" -> { (s, dir) =>
      Similarity.scalarQuantize(t(s, dir, "embeddings"), "vec_id",
        "embedding")
    },

    // INT8-quantized brute-force top-k: the float-free ANN contract —
    // byte-code dot products are BIGINT-exact, so ranking has zero tie
    // ambiguity cross-engine (unlike q35, whose float sim column needs
    // the deterministic id tie-break to stay comparable).
    "q91_int8_knn" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.int8Knn(e,
        e.filter(col("vec_id") % 100 === 0).select(col("vec_id")),
        "vec_id", "embedding", k = 10)
    },

    // The composed production ANN stack: IVF coarse pruning (q44's exact
    // geometry) + INT8-code rerank (q91's float-free scoring) — what a
    // deployed vector index actually runs.
    "q93_ivf_int8" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfInt8Knn(e,
        e.filter(col("vec_id") % 100 === 0).select(col("vec_id")),
        "vec_id", "embedding", k = 10)
    },

    // Multimodal plumbing: opaque binary payloads through the batched
    // per-partition feature extractor (decode step is a deterministic
    // fake — byte-level features the oracle can mirror).
    "q41_multimodal_features" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      // featureTable, not extractFeatures: only (key, features) is needed,
      // so the map-only pruned path applies — no join-back.
      graft.multimodal.Media.featureTable(d, "doc_id")
        .select(col("doc_id"),
          col("features.n_bytes").as("n_bytes"),
          col("features.first_byte").as("first_byte"),
          col("features.last_byte").as("last_byte"),
          col("features.checksum").as("checksum"))
    },

    // REAL image decode under the cross-engine gate: generate one
    // deterministic PNG per doc (dims + corner colors are pure integer
    // functions of doc_id), decode through the production ImageIoDecoder
    // batch path, and emit what the decoder SAW — the oracle predicts the
    // same values from the generation parameters without decoding
    // anything. If the real codec path breaks (wrong dims, wrong pixels,
    // fallback taken), this query's hash breaks. n_bytes is excluded:
    // PNG container size is encoder-specific, not predictable.
    "q71_image_decode" -> { (s, dir) =>
      val M = graft.multimodal.Media
      val d = M.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      M.featureTable(d, "doc_id", M.ImageIoDecoder)
        .select(col("doc_id"),
          col("features.decoded").as("decoded"),
          col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.checksum").as("checksum"))
    },

    // REAL audio decode under the cross-engine gate (q71's trick for
    // WAV): deterministic PCM WAV payloads whose container metadata and
    // exact sample sum are integer functions of doc_id; the production
    // WavDecoder (javax.sound.sampled — JDK-builtin WAV parsing, no
    // external codecs) must reproduce them bit-exactly or the hash
    // breaks.
    "q72_audio_decode" -> { (s, dir) =>
      val M = graft.multimodal.Media
      val d = M.syntheticAudio(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      M.featureTable(d, "doc_id", M.WavDecoder)
        .select(col("doc_id"),
          col("features.decoded").as("decoded"),
          col("features.sample_rate").as("sample_rate"),
          col("features.channels").as("channels"),
          col("features.n_frames").as("n_frames"),
          col("features.pcm_sum").as("pcm_sum"))
    },

    // Component-best dedup resolution: near-dup clusters (the q55
    // component graph) keep their HIGHEST-QUALITY member — token count
    // as the integer-exact quality proxy, smallest id on ties — not the
    // numerically-first one. One keyed window shuffle on top of the
    // audited component pipeline.
    "q73_component_best" -> { (s, dir) =>
      val corpus = dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text", bits = 64)
      val comps = Dedup.connectedComponents(pairs, "d1", "d2",
        corpus.select(col("doc_id")), "doc_id")
      val members = comps.join(
        corpus.select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens")), Seq("doc_id"))
      Dedup.keepBestPerComponent(members, "doc_id", "component_id",
        col("n_tokens"))
        .select(col("component_id"), col("doc_id").as("kept_doc_id"),
          col("n_tokens"), col("n_members"))
    },

    // Cross-doc repeated-span detection (bounded-width exact-substring
    // dedup signal): 8-token sliding windows, duplicated iff verbatim in
    // >= 2 distinct docs. Boilerplate banner prepended to every 5th doc
    // (q61's device) so the planted spans repeat corpus-wide.
    "q74_repeated_spans" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.repeatedSpanStats(d, "doc_id", "text")
    },

    // q74's duplicated windows merged into MAXIMAL repeated intervals
    // (gaps-and-islands over span starts): the planted full copies
    // (+1M, %20=0 — the long duplicate a bounded-window count
    // under-reports) must surface as ONE whole-doc interval, while the
    // q74 banner stays a short island at position 0 of every 5th doc.
    "q207_repeated_intervals" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text")))
          .otherwise(col("text")).as("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.repeatedIntervals(corpus, "doc_id", "text")
    },

    // The CUT itself — q207's maximal intervals excised from the text
    // (exact substring dedup's removal step, cut-all-occurrences
    // policy): over the same banner+copy corpus, whole-copy pairs must
    // come back EMPTY (n_removed = n_tokens) and banner docs lose
    // exactly the shared prefix; every doc returns a row. The oracle
    // rebuilds the islands AND the per-position cut and re-joins the
    // surviving tokens in position order — byte-equal clean text.
    "q210_span_excision" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text")))
          .otherwise(col("text")).as("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exciseRepeatedIntervals(corpus, "doc_id", "text")
    },

    // The keep-CANONICAL cut over the same corpus: each duplicated
    // window survives only in its owner (min doc id) — copies (+1M)
    // empty while their originals keep the body, and the shared banner
    // survives in exactly one document corpus-wide. Per-window
    // ownership, not per-doc: a %20 original keeps its body (it owns
    // those windows against its own copy) yet still loses the banner
    // (owned by the globally smallest %5 doc).
    "q212_excise_canonical" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text")))
          .otherwise(col("text")).as("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exciseKeepCanonical(corpus, "doc_id", "text")
    },

    // The LOSS-MASK twin of q210 over the same banner+copy corpus:
    // instead of cutting, every token reports its masked flag — the
    // offset-preserving form (the trainer zeroes masked positions at
    // loss time; tokenization stays aligned with the original bytes).
    // Oracle: q210's island/coverage chain emitting per-position flags.
    "q236_span_loss_mask" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text")))
          .otherwise(col("text")).as("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.maskRepeatedIntervals(corpus, "doc_id", "text")
    },

    // OOV scoring against the corpus's own top-100 unigram vocabulary —
    // the garbled-text signal when no external vocab is in the loop.
    // Vocabulary is a TakeOrdered (100 rows) broadcast into an
    // anti-join; integer-exact output.
    "q76_oov_rate" -> { (s, dir) =>
      Corpus.oovCounts(t(s, dir, "documents"), "doc_id", "text")
    },

    // Decontamination with decision-grade intensity: q57's leak pairs
    // plus the fraction of the bench doc's distinct shingles found —
    // overlap_ppm in pure BIGINT on both engines.
    "q77_contamination_ratio" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" bb1 bb2")).as("text"))
      Corpus.contaminationRatio(d, bench, "doc_id", "text", minShared = 5)
    },

    // REAL image RESIZE under the cross-engine gate: solid-color PNGs
    // (uniform pixels erase the scaler's sampling choices) pushed through
    // the production decode → NN-scale → PNG re-encode path, then decoded
    // back — target dims and the (uniform) corner checksum are exactly
    // predictable from the generation parameters. Closes the loop on all
    // three real codec paths: decode (q71), audio (q72), transcode (q75).
    "q75_image_resize" -> { (s, dir) =>
      val M = graft.multimodal.Media
      val d = M.syntheticSolidImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      val resized = M.resize(d, width = 3, height = 3, M.ImageIoTranscoder)
      M.featureTable(resized, "doc_id", M.ImageIoDecoder)
        .select(col("doc_id"),
          col("features.decoded").as("decoded"),
          col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.checksum").as("checksum"))
    },

    // Line-dedup REBUILD — the CCNet transform itself, not just q61's
    // statistic: the same planted-banner corpus re-emitted with every
    // corpus-duplicated line removed, clean text reassembled in position
    // order and hash-compared verbatim against the oracle's string_agg.
    "q78_line_dedup_rebuild" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("cookie policy accept terms privacy notice all rights "),
            col("text"))).otherwise(col("text")).as("text"))
      Dedup.removeDupLines(d, "doc_id", "text")
    },

    // Per-doc shingle novelty (the data-pruning signal): distinct
    // shingles, corpus-first occurrences by min doc id, integer ppm.
    "q79_shingle_novelty" -> { (s, dir) =>
      Corpus.shingleNovelty(t(s, dir, "documents"), "doc_id", "text")
    },

    // 128-bit SimHash near-dup — the post-5M-docs geometry (2³²
    // buckets/band: the three-decade probe measured the 64-bit form's
    // 2¹⁶ buckets starting to pay chance collisions in decade three).
    // Same dup-injected corpus and output contract as q70.
    "q81_simhash128_neardup" -> { (s, dir) =>
      Dedup.simhashNearDups(dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text", bits = 128)
    },

    // ANN recall audit: the IVF index (q44's exact configuration) scored
    // against brute force (q35's) — per-query hit count and integer
    // recall_ppm. The number an index deployment tunes nprobe against,
    // under the same cross-engine gate as the indexes themselves.
    "q85_ann_recall" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") % 100 === 0)
      Similarity.annRecall(
        Similarity.bruteForceKnn(e, qs, "vec_id", "embedding", k = 10),
        Similarity.ivfKnn(e, qs, "vec_id", "embedding", k = 10), k = 10)
    },

    // Winnowing (MOSS) fingerprint census per language: density and
    // corpus-wide distinctness of the position-robust fingerprint set —
    // the sketch whose guarantee (any shared >= w+k-1-token substring
    // yields an identical fingerprint) underlies provenance/overlap
    // screening. All integers.
    "q86_winnowing" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      Dedup.winnowFingerprints(d, "doc_id", "text")
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_fps"),
          countDistinct(col("fp")).as("distinct_fps"))
    },

    // MinHash estimator audit on planted pairs: exact copies (agreement
    // = all 64 slots), ' qq7'-perturbed near-copies (high), and
    // unrelated id+7 pairs (low) — agreement count vs exact Jaccard in
    // integer ppm, the sketch-width calibration table.
    "q87_minhash_agreement" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = base.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("d1"), (col("doc_id") + 1000000).as("d2"))
        .unionByName(base.filter(col("doc_id") % 20 === 10)
          .select(col("doc_id").as("d1"), (col("doc_id") + 2000000).as("d2")))
        .unionByName(base.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("d1"), (col("doc_id") + 7).as("d2")))
      Dedup.minhashAgreementMd5(dupInjectedCorpus(base), "doc_id", "text",
        pairs)
    },

    // Token-balanced serpentine shard assignment: 8 output shards whose
    // token totals the heaviest-first boustrophedon deal equalizes —
    // the export-writer balance hash sharding can't give.
    "q88_shard_assign" -> { (s, dir) =>
      Corpus.assignShards(t(s, dir, "documents"), "doc_id", "lang",
        TA.tokenCount(col("text")), nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("weight")).as("total_tokens"))
    },

    // MOSS detection step over the dup-injected corpus: pairs with >= 4
    // shared winnowing fingerprints (4 independent position-robust
    // substring matches), boilerplate fingerprints capped out of the
    // pairing — the provenance/plagiarism screen.
    "q89_winnow_overlap" -> { (s, dir) =>
      Dedup.winnowOverlapPairs(dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")
    },

    // Containment dedup (Broder's resemblance-vs-containment case):
    // planted half-length prefix docs (+3M, %20=5) must be caught at
    // containment ~1.0 even though their symmetric Jaccard is ~0.5 —
    // winnow-fingerprint candidates, exact shingle-containment verify.
    "q90_containment" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val halves = base.filter(col("doc_id") % 20 === 5)
        .select((col("doc_id") + 3000000).as("doc_id"),
          expr("array_join(slice(split(trim(text), '\\\\s+'), 1, " +
            "greatest(size(split(trim(text), '\\\\s+')) div 2, 4)), ' ')")
            .as("text"))
      Dedup.containmentPairs(base.unionByName(halves), "doc_id", "text")
    },

    // Zipf frequency spectrum: distinct token types and corpus coverage
    // per power-of-two occurrence band — the pre-vocab-induction corpus
    // health check. Bucket via length(bin(f))-1, the integer-exact
    // floor-log2 (log2-by-doubles flips at exact powers of two).
    "q92_frequency_spectrum" -> { (s, dir) =>
      Corpus.frequencySpectrum(t(s, dir, "documents"), "text")
    },

    // Largest-remainder token shares: per-language share_ppm summing to
    // exactly 10^6 — the mix-dashboard invariant naive rounding breaks.
    "q105_token_shares" -> { (s, dir) =>
      Corpus.apportionPpm(
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(sum(TA.tokenCount(col("text"))).as("_toks")),
        "lang", col("_toks"))
    },

    // Bottom-k (KMV) per-stratum sample: exactly 20 docs per language by
    // smallest md5 draw — the fixed-budget eval-set builder (rate-based
    // q52 gives binomial sizes; this gives exact ones).
    "q101_bottomk_sample" -> { (s, dir) =>
      Corpus.bottomK(t(s, dir, "documents")
          .select(col("doc_id"), col("lang")), "doc_id", "lang", k = 20)
    },

    // q101's sample maintained as a SIGN-ONCE INDEX: the corpus lands
    // in two batches (doc_id parity), each sampled alone and merged by
    // bottomK(A∪B) = bottomK(bottomK(A)∪bottomK(B)) — the KMV merge law
    // with payload rows attached, idempotent under replay (a re-landed
    // row re-draws the same md5 ticket and dedups on the key). Oracle:
    // q101's one-shot SQL verbatim — the merged index must equal the
    // full-corpus sample bit for bit.
    "q226_bottomk_index" -> { (s, dir) =>
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"lang")
      val idx = indexDir(s, dir, "q226_bk")
      Corpus.bottomK(d.filter($"doc_id" % 2 === 0), "doc_id", "lang", k = 20)
        .write.mode("overwrite").parquet(idx)
      ShardStore.upsert(Corpus.bottomK(d.filter($"doc_id" % 2 =!= 0),
        "doc_id", "lang", k = 20), idx,
        Corpus.bottomKMerge("doc_id", "lang", 20))
      parquet(s, idx)
        .select($"doc_id", $"lang", $"draw", $"pick_rank")
    },

    // Cross-modal alignment audit (the CLIP retrieval eval): modality B
    // is a deterministic lossy re-encode of the embeddings
    // (floor(x·10)/10 per dimension — exact in double on any engine),
    // every 50th vector queries, and each query reports where its TRUE
    // MATE (same id in B) ranks under exact cosine. Self-id is NOT
    // excluded — across modalities the same id IS the positive. The
    // oracle replays the re-encode, every cosine, and the rank.
    "q227_crossmodal_mate_rank" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val b = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 10) / 10).as("embedding"))
      Similarity.crossModalMateRank(
        e.filter(col("vec_id") % 50 === 0), b, "vec_id", "embedding")
    },

    // Mergeable Misra-Gries heavy-hitters INDEX (Agarwal et al. 2013):
    // token counts land as two ≤ m+1-row batch summaries (exact counts
    // minus the (m+1)-th largest; spill mass a reserved-key row so
    // merging is pure addition), served with est ≤ true ≤ est+err and
    // the every-key-above-err completeness guarantee. The q139 batch
    // heavy-hitter has no incremental form; this is its streaming
    // steady state. Oracle replays both reductions and the merge.
    "q229_mg_index" -> { (s, dir) =>
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select($"doc_id", explode(TA.tokens($"text")).as("token"))
      val idx = indexDir(s, dir, "q229_mg")
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      ShardStore.writeShard(
        Corpus.mgSummary(toks.filter($"doc_id" % 2 === 0), "token", 32),
        batchId = 0L, dir = idx)
      ShardStore.writeShard(
        Corpus.mgSummary(toks.filter($"doc_id" % 2 =!= 0), "token", 32),
        batchId = 1L, dir = idx)
      Corpus.mgFromShards(s, idx, 32).withColumnRenamed("key", "token")
    },

    // Efraimidis–Spirakis weighted draw: q101's fixed-size per-stratum
    // sample, but longer documents weighted up (w = 1 + len/256 capped
    // at 8) — priority = max of w md5 tickets ≡ u^(1/w), the exact ES
    // key with zero floats. The oracle replays tickets, priorities, and
    // ranks digit for digit.
    "q208_weighted_sample" -> { (s, dir) =>
      Corpus.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("text")),
        "doc_id", "lang", expr("1L + cast(length(text) as bigint) div 256L"),
        k = 20, maxWeight = 8)
        .select(col("doc_id"), col("lang"), col("weight"),
          col("priority"), col("pick_rank"))
    },

    // Deterministic training-order enumeration: 0-based position in a
    // seeded md5 total order via the two-phase bucket device (a global
    // row_number window would be single-partition — the scale-killer
    // this operator exists to avoid).
    "q114_train_order" -> { (s, dir) =>
      Corpus.trainOrder(t(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = "ep0")
    },

    // Exact-balance stratified 5-fold assignment per language — the
    // cross-validation split with per-stratum fold sizes within one of
    // each other, dealt round-robin off the q114 two-phase order (the
    // hash prefix is a prefix of the order key, so the oracle's single
    // per-stratum ROW_NUMBER replays the distributed rank exactly).
    "q217_kfold_assign" -> { (s, dir) =>
      Corpus.kFoldAssign(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", folds = 5)
    },

    // Corpus health report: the one-query dashboard a curation run
    // prints first — corpus size, gate survival, token volume, exact-dup
    // mass, near-dup pair count — long-form (metric, value), all BIGINT.
    "q100_corpus_report" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      // One corpus scan yields the three text metrics; one fp groupBy
      // yields both fingerprint metrics (6 branch scans → 3 jobs — at
      // 100 TB re-reading the corpus per dashboard metric is the cost).
      val textAgg = d.agg(
          count(lit(1)).as("n_docs"),
          sum(when(TA.corpusGateFlags(col("text")).getField("keep"), 1L)
            .otherwise(0L)).as("gate_survivors"),
          sum(TA.tokenCount(col("text"))).cast("long").as("total_tokens"))
        .selectExpr("stack(3, 'n_docs', n_docs, " +
          "'gate_survivors', gate_survivors, " +
          "'total_tokens', total_tokens) AS (metric, value)")
      val fpAgg = d.select(TA.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("_n"))
        // count(fp), not count(*): the oracle's count(DISTINCT fp) is
        // null-excluding, so a null-text doc's null-fp group must not
        // inflate the distinct count (it still counts toward dup mass,
        // matching the oracle's null-inclusive GROUP BY).
        .agg(count(col("fp")).as("distinct_fps"),
          coalesce(sum(when(col("_n") > 1, col("_n"))), lit(0L))
            .as("dup_docs"))
        .selectExpr("stack(2, 'distinct_fingerprints', distinct_fps, " +
          "'exact_dup_docs', dup_docs) AS (metric, value)")
      textAgg.unionByName(fpAgg)
        .unionByName(Dedup.minhashNearDups(d, "doc_id", "text")
          .agg(count(lit(1)).as("value"))
          .select(lit("near_dup_pairs").as("metric"), col("value")))
    },

    // Quality-gate ablation: per rule, total rejections AND unique
    // rejections (docs failing ONLY that rule — the docs that rule alone
    // saves the corpus from). The table a curation run reads before
    // retuning any threshold: a rule with zero unique rejections is
    // shadowed; one with most of the total is doing all the work.
    "q97_gate_ablation" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(TA.corpusGateFlags(col("text")).as("q"))
        .select(col("q.ok_tokens").as("_t"), col("q.ok_avg_len").as("_l"),
          col("q.ok_stopword").as("_s"), col("q.ok_repetition").as("_r"))
      def f(c: Column) = sum(when(!c, 1L).otherwise(0L))
      def u(c: Column, others: Column*) =
        sum(when(!c && others.reduce(_ && _), 1L).otherwise(0L))
      d.agg(
          f(col("_t")).as("f_t"),
          u(col("_t"), col("_l"), col("_s"), col("_r")).as("u_t"),
          f(col("_l")).as("f_l"),
          u(col("_l"), col("_t"), col("_s"), col("_r")).as("u_l"),
          f(col("_s")).as("f_s"),
          u(col("_s"), col("_t"), col("_l"), col("_r")).as("u_s"),
          f(col("_r")).as("f_r"),
          u(col("_r"), col("_t"), col("_l"), col("_s")).as("u_r"))
        .selectExpr("stack(4, 'tokens', f_t, u_t, 'avg_len', f_l, u_l, " +
          "'stopword', f_s, u_s, 'repetition', f_r, u_r) " +
          "AS (rule, n_fail, n_unique_fail)")
    },

    // Packing efficiency report: q54's streams rolled up per stratum —
    // sequences produced, tokens packed, budget capacity. Raw integers
    // only (straddling admits make waste sign-ambiguous, and negative
    // integer division floors differently across engines).
    "q98_packing_efficiency" -> { (s, dir) =>
      Corpus.packSequences(t(s, dir, "documents"), "doc_id", "lang",
        TA.tokenCount(col("text")), budget = 256)
        .groupBy(col("lang"))
        .agg(countDistinct(col("seq_id")).as("n_seqs"),
          sum(col("n_tokens")).as("total_tokens"))
        .withColumn("budget_tokens", col("n_seqs") * lit(256L))
    },

    // Lang-ID confusion matrix: q31's stopword-profile classifier scored
    // against the table's labels — the evaluation rollup that says which
    // language pairs the n-gram heuristic confuses (and how much of each
    // label it gets right, the per-lang recall diagonal).
    "q96_langid_confusion" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TA.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Cross-source near-dup flow: q33's pairs rolled up by canonical
    // source pair — the mirror/syndication report that tells a curation
    // run WHICH sources duplicate which (off-diagonal mass = mirrors;
    // diagonal = within-source boilerplate).
    "q94_dup_flow" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val src = d.select(col("doc_id"), col("source"))
      Dedup.minhashNearDups(d, "doc_id", "text")
        .join(src.select(col("doc_id").as("d1"), col("source").as("_s1")),
          Seq("d1"))
        .join(src.select(col("doc_id").as("d2"), col("source").as("_s2")),
          Seq("d2"))
        .select(least(col("_s1"), col("_s2")).as("src_a"),
          greatest(col("_s1"), col("_s2")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // Duplication-depth spectrum: exact-dup group sizes in power-of-two
    // bands — "how much of the corpus exists how many times", the
    // headline number of a dedup report (n_docs sums back to the corpus).
    "q95_dup_depth_spectrum" -> { (s, dir) =>
      Dedup.exactDups(dupInjectedCorpus(
          t(s, dir, "documents").select(col("doc_id"), col("text"))),
          "doc_id", "text")
        .filter(col("doc_id") === col("canonical_id"))
        .withColumn("bucket",
          (length(bin(col("group_size"))) - 1).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("group_size")).as("n_docs"))
    },

    // CCNet-style per-language rank terciles over an integer quality
    // signal — equal-frequency head/middle/tail bands, deterministic at
    // every rank boundary.
    "q82_rank_buckets" -> { (s, dir) =>
      Corpus.rankBuckets(t(s, dir, "documents"), "doc_id", "lang",
        TA.tokenCount(col("text")))
    },

    // Per-source token-budget cap (RefinedWeb-style source balancing):
    // admit docs longest-first until each source's 1000-token budget is
    // spent; the straddling last admit matches packSequences semantics.
    "q83_token_budget_cap" -> { (s, dir) =>
      Corpus.capTokenBudget(t(s, dir, "documents"), "doc_id", "source",
        TA.tokenCount(col("text")), budget = 1000L)
    },

    // Split-leakage audit over the dup-injected corpus: near-dup twins
    // that the hash split separated into train and test — the silent
    // eval contamination a random split creates when dedup hasn't run.
    // Corpus-scale on BOTH sides: a shingle-keyed shuffle join, no
    // broadcast assumption.
    "q84_split_leakage" -> { (s, dir) =>
      Corpus.splitLeakage(dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")
    },

    // Deterministic 80/10/10 hash split from the doc key alone —
    // membership is a pure BIGINT function of md5(key), so it reruns
    // byte-identically and corpus appends never reshuffle old docs.
    // Aggregated per (split, lang) in exact integers.
    "q80_hash_split" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(Corpus.splitAssign(col("doc_id"), testPpm = 100000L,
            valPpm = 100000L).as("split"), col("lang"),
          TA.tokenCount(col("text")).as("_n"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("total_tokens"))
    },

    // Unigram-LM surprisal score (the CCNet-family quality signal,
    // integer-exact): mean per-token information content under the
    // corpus's own unigram model, banded via the bin()-length floor-log2
    // device. The score a head/middle/tail quality split thresholds on.
    "q115_surprisal" -> { (s, dir) =>
      Corpus.surprisalScore(t(s, dir, "documents"), "doc_id", "text")
    },

    // Tokenizer fertility per language: docs, whitespace tokens,
    // BPE-piece tokens, chars, and chars-per-BPE-piece in integer ppm —
    // the table a tokenizer evaluation reads per language (a fertility
    // outlier means the vocab under-serves that language's script).
    "q116_tokenizer_fertility" -> { (s, dir) =>
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).as("ws_tokens"),
          sum(TA.bpeTokenCount(col("text"))).as("bpe_tokens"),
          sum(TA.charCount(col("text"))).as("n_chars"))
        .withColumn("chars_per_bpe_ppm",
          expr("n_chars * 1000000 div nullif(bpe_tokens, 0)"))
    },

    // BPE merge-pair frequencies: adjacent-piece counts over the GPT-2
    // pre-tokenization, top 100 — the first iteration of BPE vocabulary
    // induction (the pair a trainer would merge next), and a useful
    // boilerplate detector on its own. One explode + one pair-keyed
    // aggregation; the top-k is a TakeOrdered (per-partition heads
    // merged), never a global sort.
    "q118_bpe_merge_pairs" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(TA.bpeTokens(col("text")).as("_bpe"))
        .filter(size(col("_bpe")) >= 2)
        .select(explode(expr("transform(sequence(1, size(_bpe) - 1), " +
          "i -> named_struct('p1', _bpe[i - 1], 'p2', _bpe[i]))")).as("_pr"))
        .select(col("_pr.p1").as("p1"), col("_pr.p2").as("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("p1").asc, col("p2").asc)
        .limit(100)
    },

    // CCNet head/middle/tail split: per-language surprisal terciles
    // (bucket 0 = lowest surprisal = head). The operator CCNet actually
    // ships corpora through — quality-stratified thirds, rank-bucketed
    // per language so no language's distribution dominates another's
    // thresholds.
    "q119_ccnet_split" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      Corpus.rankBuckets(
        Corpus.surprisalScore(d, "doc_id", "text")
          .join(d.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "doc_id", "lang", col("surprisal_ppm"), buckets = 3)
    },

    // Bigram-LM surprisal: one token of context separates boilerplate
    // ("of the" costs ~0 bits conditionally) from prose far more sharply
    // than the unigram q115; Stupid Backoff branch for unseen bigrams
    // (cannot fire under self-scoring — the oracle stays integer-total).
    "q120_bigram_surprisal" -> { (s, dir) =>
      Corpus.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
    },

    // Matryoshka truncation recall: brute-force top-10 on the first 32
    // of 64 embedding dims, scored against full-width top-10 — the
    // dimension-budget table an embedding deployment reads before
    // storing truncated vectors (cosine needs no re-normalization:
    // it normalizes per pair). Same cross-engine float discipline as
    // q35/q85: double cosines of identical float inputs, rank ties
    // broken by id.
    "q117_matryoshka_recall" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 32))
      val qs = e.filter(col("vec_id") % 100 === 0)
      Similarity.annRecall(
        Similarity.bruteForceKnn(e, qs, "vec_id", "embedding", k = 10),
        Similarity.bruteForceKnn(trunc(e), trunc(qs), "vec_id", "embedding",
          k = 10), k = 10)
    },

    // Product-quantized top-k (Jégou et al. 2011): 8 subspace codebooks
    // trained with the q62 k-means discipline (keyed by subspace, one
    // plan), corpus compressed to 8 code ids per vector, queries scored
    // by asymmetric distance against the reconstruction. The 100 TB
    // memory story: 256 bytes/vector → 8 codes + one broadcast
    // codebook. Oracle replays the entire train/encode/score chain in
    // SQL — rounded centroid updates make every round's codebook
    // bit-identical across engines. trainCap=256 exercises the bounded
    // md5-draw training sample (the scale path: iteration cost is
    // O(trainCap·k), constant in corpus size) — the oracle replays the
    // identical draw, so the sample is part of the gated algorithm.
    "q124_pq_knn" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.pqKnn(e, e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10, centroidEvery = 8, trainCap = 256)
    },

    // Exact top-20 tokens through the two-pass Misra-Gries shortlist —
    // O(capacity) task memory instead of a full-vocabulary shuffle; the
    // recounted output is exact under the documented frequency margin
    // (13× on this fixture), so it gates against the plain exact top-k.
    "q139_heavy_hitters" -> { (s, dir) =>
      Corpus.heavyHitters(t(s, dir, "documents"), "text", k = 20)
    },

    // Inverted index: per token, document frequency + a CAPPED posting
    // sample (20 smallest doc ids) — bounded output per token no matter
    // how common the token. One distinct over (token, doc) pairs; the
    // token-keyed window and aggregate share one exchange.
    "q157_inverted_index" -> { (s, dir) =>
      Corpus.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        postingCap = 20)
    },

    // PMI collocations: bigrams with pair count ≥ 5 scored by the exact
    // BIGINT ppm ratio pair·T·10⁶/(c(a)·c(b)) — monotone with PMI, so
    // ranking/thresholding behave identically to the log form while
    // hash-comparing across engines (base-1000 long division keeps every
    // intermediate under D·10³).
    "q158_pmi_collocations" -> { (s, dir) =>
      Corpus.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        minPairCount = 5L)
    },

    // Soft dedup (Dolma/SemDeDup practice): instead of DELETING
    // duplicates, each doc gets training weight 1/|its dup cluster| —
    // the corpus keeps its coverage while a 40-copy boilerplate cluster
    // stops contributing 40× gradient. Composes the q55 component chain
    // with one cluster-size aggregate and an integer ppm weight; docs
    // outside any cluster weigh 10⁶ by the same formula (cluster of 1).
    "q132_dedup_weights" -> { (s, dir) =>
      val corpus = dupInjectedCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text", bits = 64)
      // The label table forks to two consumers (the cluster-size
      // aggregate and the weight join); one spillable cut here means
      // both read one materialized label scan instead of re-running
      // the final union + isolated anti-join per consumer (guide §2.4,
      // r21 verdict item #6).
      val comp = graft.Checkpoints.cutEagerSpill(
        Dedup.connectedComponents(pairs, "d1", "d2",
          corpus.select(col("doc_id")), "doc_id"))
      val sizes = comp.groupBy(col("component_id"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "component_id")
        .select(col("doc_id"), col("cluster_size"),
          expr("1000000L div cluster_size").as("weight_ppm"))
    },

    // Temperature-rebalanced mixture rates (mC4/XLM-R α=0.5): per
    // language, the √-weight share, quarter-budget target tokens, and
    // the integer-exact per-doc keep rate — the table a multilingual
    // pretraining mix reads before sampling.
    "q126_temperature_rates" -> { (s, dir) =>
      Corpus.temperatureRates(t(s, dir, "documents"), "lang",
        TA.tokenCount(col("text")))
    },

    // BM25 keyword search over the corpus (k1=1.2, b=0.75, raw-RSJ-idf
    // flavor — see [[Corpus.bm25TopK]] for the integer-exact ppm
    // derivation): top 20 docs for a 3-term query. Scoring is MAP-ONLY
    // (row-local tf via filter(tokens,·), one single-row stats
    // broadcast); the cut is a distributed TakeOrdered — at 100 TB the
    // whole query is one corpus scan.
    "q164_bm25_search" -> { (s, dir) =>
      Corpus.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "merge", "vector"), topK = 20)
    },

    // q164 served from the PERSISTED inverted index — the sign-once
    // discipline for SEARCH: the corpus is tokenized once into
    // token-bucketed posting shards (two batch shards here, by doc_id
    // parity, so df/N/Σdl genuinely cross shards), and the query reads
    // ONLY its three terms' buckets + the 1-row stats shards. Oracle is
    // q164's corpus-scan BM25 verbatim — served scores must be
    // bit-equal to the scan because every integer (tf, dl, df, N, T)
    // is the same wherever it is read from. Signed once per session
    // ([[sessionIndex]]); the build keeps its own sbt gates (LlmSpec's
    // search-index truncate/append/merge laws).
    "q211_bm25_indexed" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val idx = sessionIndex(s, dir, "q211_search") { idx =>
        Corpus.writeSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
          "doc_id", "text", idx, batchId = 0L, truncate = true)
        Corpus.writeSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
          "doc_id", "text", idx, batchId = 1L)
      }
      Corpus.bm25FromIndex(s, idx, "doc_id",
        terms = Seq("spark", "merge", "vector"), topK = 20)
    },

    // The combined IVF+PQ index SERVED FROM STORAGE — the production
    // ANN shape q93 proves inline and q124's codebook discipline makes
    // replayable: corpus → frozen coarse centroids + PQ codebook +
    // codes PARTITIONED by coarse list; a query batch probes 4 lists,
    // reads ONLY those code partitions (isin partition pruning — the
    // q187 serve-vs-build split applied to vectors), ADC-shortlists 50,
    // exact-reranks against raw vectors for just |q|·50 ids. Oracle
    // replays the whole composition: q93's coarse chain gating the
    // candidates, q124's two rounded training rounds + encode +
    // reconstruction scoring them.
    // Build-if-absent split (the q187 discipline): the index is signed
    // once per session — later calls are the read-only probe, so the
    // bench row measures serving cost. The dir-keyed marker view makes
    // a fresh JVM re-sign over stale files, and two data dirs never
    // share an index.
    "q218_ivfpq_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = ivfPqIndexFor(s, dir)
      Similarity.ivfPqKnnIndexed(e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", idx, rerank = Some(e), k = 10,
        nprobe = 4, shortlist = 50)
    },

    // The recall-vs-nprobe tuning table for the DEPLOYED index (q218's
    // persisted IVF+PQ): per-query recall_ppm against brute force at
    // nprobe ∈ {1,2,4,8}, each with and without the exact rerank —
    // the operating curve an operator reads before picking nprobe at
    // 100 TB (q85 gives the same table for plain IVF; this one prices
    // the PQ compression and the rerank's repair of it). Shares q218's
    // build-if-absent index (same key and marker); the eight serves
    // are probe-pruned partition reads, and the brute-force side is
    // computed once behind a lineage cut.
    "q238_ivfpq_recall_vs_nprobe" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = ivfPqIndexFor(s, dir)
      import s.implicits._
      val qs = e.filter(col("vec_id") % 200 === 0)
      val exact = Similarity.bruteForceKnn(e, qs, "vec_id", "embedding",
        k = 10).localCheckpoint()
      val grid = Similarity.ivfPqKnnGrid(qs, "vec_id", "embedding", idx,
        rerank = e, k = 10, nprobes = Seq(1, 2, 4, 8), shortlist = 50)
      val hits = exact.select(col("qid"), col("neighbor_id"))
        .join(grid, Seq("qid", "neighbor_id"))
        .groupBy(col("qid"), col("nprobe"), col("reranked"))
        .agg(count(lit(1)).as("n_hits"))
      // Every (query, nprobe, reranked) cell reports — zero-hit cells
      // included. The cell axes are 8-row local relations (the q105
      // scalar-broadcast class).
      exact.select(col("qid")).distinct()
        .crossJoin(broadcast(Seq(1, 2, 4, 8).toDF("nprobe")))
        .crossJoin(broadcast(Seq(false, true).toDF("reranked")))
        .join(hits, Seq("qid", "nprobe", "reranked"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0L) * 1000000L) div 10").as("recall_ppm"),
          col("nprobe"), col("reranked"))
    },

    // Fuzzy vocabulary pairs (Levenshtein ≤ 2) by SymSpell
    // symmetric-delete blocking: deletion-variant equi-join + exact
    // levenshtein verify — equals the all-pairs scan (the oracle IS the
    // all-pairs form) at Σ bucket² candidate cost. The fuzzy-match
    // primitive under typo-tolerant entity resolution.
    "q167_fuzzy_vocab_pairs" -> { (s, dir) =>
      Corpus.fuzzyTokenPairs(t(s, dir, "documents"), "text",
        maxDist = 2, maxLen = 24)
    },

    // Reciprocal-rank fusion of two retrieval lists — full-width
    // brute-force top-10 and the 32-dim Matryoshka truncation (q117's
    // two sides, fused instead of scored): integer RRF ppm, top-5 per
    // query. The rank-only ensemble needs no score calibration between
    // a float index and a quantized one.
    "q168_rrf_fusion" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 32))
      val qs = e.filter(col("vec_id") % 100 === 0)
      Similarity.rrfFuse(
        Similarity.bruteForceKnn(e, qs, "vec_id", "embedding", k = 10),
        Similarity.bruteForceKnn(trunc(e), trunc(qs), "vec_id",
          "embedding", k = 10),
        topK = 5)
    },

    // TF-IDF top-3 terms per document (raw-ratio idf, integer-exact —
    // [[Corpus.tfidfTopTerms]]): the per-document keyword extraction
    // every indexing pipeline runs. One (doc, token) aggregation, a
    // token-keyed df join, the scalar N broadcast, one per-doc window.
    "q170_tfidf_terms" -> { (s, dir) =>
      Corpus.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        topTerms = 3)
    },

    // Entity clustering over fuzzy matches: q167's symmetric-delete
    // pairs become edges, connected components give each typo cluster
    // one id — the entity-resolution endgame (match → cluster →
    // canonicalize). Words map to 60-bit md5-prefix ids (BIGINT-safe;
    // birthday-collision horizon ~2³⁰ vocab — far past any tokenizer's)
    // so the CC fixpoint's numeric label discipline applies unchanged;
    // the cluster id is the component's minimum word id.
    "q181_entity_clusters" -> { (s, dir) =>
      val wid = (c: org.apache.spark.sql.Column) =>
        conv(substring(md5(concat(lit("ent:"), c)), 1, 15), 16, 10)
          .cast("long")
      // ONE vocabulary derivation feeds both the blocking and the
      // id join-back — the corpus is tokenized once.
      val vocab = Corpus.vocabOf(t(s, dir, "documents"), "text",
          maxLen = 24)
        .withColumn("wid", wid(col("w")))
      val pairs = Corpus.fuzzyVocabPairs(vocab.select(col("w")),
          maxDist = 2)
        .select(wid(col("w1")).as("id1"), wid(col("w2")).as("id2"))
      Dedup.connectedComponents(pairs, "id1", "id2",
          vocab.select(col("wid")), "wid")
        .join(vocab, Seq("wid"))
        .select(col("w").as("word"), col("component_id").as("cluster_id"))
    },

    // Boolean AND retrieval: documents containing ALL three query terms
    // — the posting-list intersection next to q164's ranked BM25. The
    // relational form (distinct (doc, term) hits → groupBy doc HAVING
    // count = |terms|) IS the intersection, with the terms filter
    // pushed into the scan; n_matches carries the summed tf for a
    // downstream ranker.
    "q183_boolean_and_search" -> { (s, dir) =>
      val terms = Seq("spark", "join", "window")
      val hits = t(s, dir, "documents")
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
        .filter(col("token").isin(terms: _*))
      hits.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("_tf"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("_nt"), sum(col("_tf")).as("n_matches"))
        .filter(col("_nt") === terms.size)
        .select(col("doc_id"), col("n_matches"))
    },

    // KMV sketch set operations: distinct viewers, distinct purchasers,
    // their union and intersection — all estimated from two 64-value
    // sketches instead of three full distinct passes (the question
    // "how many users did BOTH" at 100 TB: sketches merge in bytes;
    // exact distinct-of-union re-shuffles the corpus). Estimates are
    // integer-exact ((k−1)·2³² div h_k, Jaccard over the union sketch
    // in ppm) and the oracle replays the identical sketch — this gates
    // the ALGORITHM bit-for-bit, not a tolerance band. Sides smaller
    // than k degrade to exact counts by construction.
    "q175_kmv_setops" -> { (s, dir) =>
      import s.implicits._
      kmvSetops(Corpus.kmvSketch(
        t(s, dir, "events")
          .filter($"event_type".isin("view", "purchase"))
          .select($"event_type", $"user_id"),
        "user_id", "event_type", 64), 64)
    },

    // q175's estimates served from a PERSISTED, MERGED sketch index —
    // the X24 sign-once discipline for cardinalities: the first half of
    // the events (by event_id parity) is sketched into a parquet k-slot
    // table, the second half merges in WITHOUT re-reading the first, and
    // the set-operation report runs off the stored slots alone. KMV's
    // merge closure (global k-smallest ⊆ union of per-side k-smallest)
    // makes the merged index bit-identical to a from-scratch sketch, so
    // the oracle is q175's single-shot SQL verbatim.
    "q189_kmv_merged" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .filter($"event_type".isin("view", "purchase"))
        .select($"event_type", $"user_id", $"event_id")
      val idx = indexDir(s, dir, "q189_kmv")
      kmvSlots(ev.filter($"event_id" % 2 === 0))
        .write.mode("overwrite").parquet(idx)
      ShardStore.upsert(kmvSlots(ev.filter($"event_id" % 2 =!= 0)), idx,
        Corpus.kmvMerge(64))
      kmvSetops(Corpus.readKmvIndex(s, idx), 64)
    },

    // Distributed BPE tokenizer TRAINING — q118's single pair count
    // iterated into an actual 3-merge vocabulary induction over the
    // documents corpus (Corpus.bpeTrain scaladoc for the canonical
    // greedy-scan state machine and the vocab-table-only round shape).
    // The DuckDB oracle unrolls the identical three rounds, including
    // the list_reduce replay of the merge machine — argmax ties, scan
    // order, and position-counted pairs are all pinned.
    "q192_bpe_train" -> { (s, dir) =>
      Corpus.bpeTrain(t(s, dir, "documents"), "doc_id", "text", rounds = 3)
    },

    // Tokenizer fertility under the q192-TRAINED vocab (the serving
    // side): per-doc word count, BPE token count, and tokens-per-word
    // ppm — segmentation is paid once per DISTINCT word (the encoder
    // table), never per occurrence.
    "q193_bpe_fertility" -> { (s, dir) =>
      Corpus.bpeFertility(t(s, dir, "documents"), "doc_id", "text",
        rounds = 3)
    },

    // The FROZEN tokenizer served from storage (the fixed-tokenizer
    // contract every pretraining pipeline runs under): the model trains
    // on the EVEN docs only and persists its ordered merge list; the
    // ODD docs then encode under the stored merges — distinct words
    // re-segment by the canonical greedy application (identical for
    // seen and unseen words), one pass per merge, never per occurrence.
    // Trained once per session ([[sessionIndex]]). Oracle: the training
    // replay restricted to even docs + the same merge application
    // chained over the odd vocabulary.
    "q231_bpe_indexed" -> { (s, dir) =>
      import s.implicits._
      val d = t(s, dir, "documents")
      val idx = sessionIndex(s, dir, "q231_bpe") { idx =>
        Corpus.writeBpeModel(d.filter($"doc_id" % 2 === 0), "text",
          idx, rounds = 3)
      }
      Corpus.bpeEncodeIndexed(d.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", idx)
    },

    // EXACT set-similarity self-join at Jaccard ≥ 0.8 via PPJoin prefix
    // filtering (Dedup.setSimJoin) — the exact complement to the
    // MinHash family. The oracle is BRUTE FORCE pair enumeration, so
    // this gate proves the prefix filter misses nothing on the data.
    // Runs over a deterministic 1-in-5 doc subset: the synthetic corpus
    // draws from a small vocabulary, so DISTINCT-word sets are dense
    // (tens of thousands of true pairs at 0.6 over the full table) —
    // the subset keeps the true-pair set meaningful without turning the
    // gate into an all-pairs materialization.
    "q196_setsim_join" -> { (s, dir) =>
      import s.implicits._
      Dedup.setSimJoin(
        t(s, dir, "documents").filter($"doc_id" % 5 === 0),
        "doc_id", "text", thresholdPpm = 800000L)
    },

    // THE SIGN-ONCE DASHBOARD (the round-13 flagship, tying X172/X175
    // together): distinct-user set operations AND value-distribution
    // percentiles served in ONE row from PERSISTED MERGED indexes —
    // both indexes are written from one half of the events and merged
    // with the other, and the report reads ONLY the stored k-slots
    // (≤ k·|strata| rows) and bins (≤ |bins| rows). This is the 100 TB
    // dashboard contract: after ingest, reports never touch raw events.
    // The oracle is the two single-shot replays cross-joined — exact
    // because KMV merge closure and histogram addition make the merged
    // indexes bit-identical to from-scratch builds.
    // Both indexes are written+merged once per session ([[sessionIndex]]):
    // "after ingest, reports never touch raw events" is the contract, so
    // the bench row measures the REPORT (k·|strata| + bins rows). The
    // ingest/merge laws keep their own gates (q175/q176/q189/q191 and
    // LlmSpec's KMV merge cases).
    "q200_index_dashboard" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val kmvDir = sessionIndex(s, dir, "q200_kmv") { idx =>
        val evk = ev.filter($"event_type".isin("view", "purchase"))
          .select($"event_type", $"user_id", $"event_id")
        kmvSlots(evk.filter($"event_id" % 2 === 0))
          .write.mode("overwrite").parquet(idx)
        ShardStore.upsert(kmvSlots(evk.filter($"event_id" % 2 =!= 0)), idx,
          Corpus.kmvMerge(64))
      }
      val histDir = sessionIndex(s, dir, "q200_hist") { idx =>
        RelationalQueries.eventValueBins(ev.filter($"event_id" % 2 === 0))
          .write.mode("overwrite").parquet(idx)
        ShardStore.merge(
          RelationalQueries.eventValueBins(ev.filter($"event_id" % 2 =!= 0)),
          idx, RelationalQueries.histMerge)
      }
      kmvSetops(Corpus.readKmvIndex(s, kmvDir), 64)
        .crossJoin(broadcast(RelationalQueries.histQuantileReport(
          parquet(s, histDir))))
    },

    // Count-min sketch frequency estimates vs exact truth: per-user
    // event counts estimated from a 4×256 counter table (bounded memory
    // for an unbounded key domain) against the exact counts for a
    // deterministic probe set — est_n ≥ true_n always; the gate replays
    // the sketch's md5 row hashes bit for bit.
    "q197_cms_counts" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"user_id")
      val cms = Corpus.cmsBuild(ev, "user_id", depth = 4, width = 256)
      val probeKeys = ev.filter($"user_id" % 7 === 0).distinct()
      val est = Corpus.cmsEstimate(cms, probeKeys, "user_id",
        depth = 4, width = 256)
      val truth = ev.filter($"user_id" % 7 === 0)
        .groupBy($"user_id").agg(count(lit(1)).as("true_n"))
      truth.join(est, Seq("user_id"))
        .select($"user_id", $"true_n", $"est_n",
          ($"est_n" - $"true_n").as("overcount"))
    },

    // q197's frequency monitor served from a PERSISTED, MERGED count-min
    // index — the X175/X172 sign-once discipline applied to the last
    // sketch family that lacked it: the first half of the events (by
    // event_id parity, so most keys span BOTH halves and the merge is
    // genuinely exercised) lands as a (r, c, n) parquet table, the
    // second half merges in (cell counts ADD — cms(A)+cms(B) = cms(A∪B)
    // exactly), and the estimates run off the ≤ 4·256 stored rows
    // alone. Oracle: q197's one-shot sketch verbatim — merge closure
    // makes merged ≡ from-scratch bit for bit.
    "q203_cms_index" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"user_id")
      val idx = indexDir(s, dir, "q203_cms")
      Corpus.cmsBuild(ev.filter($"event_id" % 2 === 0), "user_id")
        .write.mode("overwrite").parquet(idx)
      ShardStore.merge(Corpus.cmsBuild(ev.filter($"event_id" % 2 =!= 0),
        "user_id"), idx, Corpus.cmsMerge)
      val cms = parquet(s, idx)
      val probeKeys = ev.select($"user_id")
        .filter($"user_id" % 7 === 0).distinct()
      val est = Corpus.cmsEstimate(cms, probeKeys, "user_id",
        depth = 4, width = 256)
      val truth = ev.filter($"user_id" % 7 === 0)
        .groupBy($"user_id").agg(count(lit(1)).as("true_n"))
      truth.join(est, Seq("user_id"))
        .select($"user_id", $"true_n", $"est_n",
          ($"est_n" - $"true_n").as("overcount"))
    },

    // Persisted + streaming Bloom MEMBERSHIP index — the join-pruning /
    // decontamination pre-filter of the sketch-index family: customers
    // WITH orders sign the ≤ mBits-row set-bit table (built from the
    // even order keys, merged with the odd — set union is the Bloom
    // merge law, so merged ≡ from-scratch), and every customer key
    // probes it. TPC-H leaves ~1/3 of customers orderless, so the gate
    // carries real negatives: bloom_positive = 0 PROVES true_member = 0
    // (one-sided error, the property that lets a 100 TB stream skip the
    // exact join for rejected rows). Oracle replays every md5 bit
    // position digit for digit.
    "q209_bloom_index" -> { (s, dir) =>
      import s.implicits._
      val ords = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val idx = indexDir(s, dir, "q209_bloom")
      Corpus.bloomPositions(ords.filter($"o_orderkey" % 2 === 0), "o_custkey")
        .write.mode("overwrite").parquet(idx)
      ShardStore.upsert(Corpus.bloomPositions(
        ords.filter($"o_orderkey" % 2 =!= 0), "o_custkey"), idx,
        Corpus.bloomMerge)
      val bloom = parquet(s, idx)
      val probed = Corpus.bloomProbe(bloom,
        t(s, dir, "customer").select($"c_custkey"), "c_custkey")
      val members = ords.select($"o_custkey".as("c_custkey")).distinct()
        .withColumn("_m", lit(1L))
      probed.join(members, Seq("c_custkey"), "left")
        .select($"c_custkey", $"bloom_positive",
          coalesce($"_m", lit(0L)).as("true_member"))
    },

    // Bloom-gated decontamination flagship: the %17 docs are "the
    // benchmark", everything else is the corpus, and the per-doc
    // contaminated-window counts flow through the bloom pre-filter +
    // exact verify. The ORACLE computes the exact no-bloom form — the
    // gate IS the proof that the pre-filter changes nothing but cost.
    "q215_bloom_decontam" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      Corpus.bloomGatedContamination(
        docs.filter($"doc_id" % 17 =!= 0),
        docs.filter($"doc_id" % 17 === 0), "doc_id", "text")
    }
  )

  /** The q175 set-operation report over a (stratum, h) KMV sketch:
    * per-stratum estimates (exact below k, (k−1)·2³² div h_k above),
    * union estimate from the k smallest of the merged slots, integer
    * ppm Jaccard, intersection. Pivoted estimates coalesce to 0 — an
    * EMPTY stratum is the exact count 0 (the n_sk<k contract), not
    * null. */
  private def kmvSetops(sk: DataFrame, k: Int): DataFrame = {
    val side = sk.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("hk"))
      .withColumn("est", expr(s"CASE WHEN n_sk < $k THEN n_sk " +
        s"ELSE (${k - 1}L * 4294967296L) div greatest(hk, 1L) END"))
    val ests = side.groupBy().pivot("stratum", Seq("view", "purchase"))
      .agg(first(col("est")))
      .select(coalesce(col("view"), lit(0L)).as("est_views"),
        coalesce(col("purchase"), lit(0L)).as("est_purchases"))
    val uni = sk.select(col("h")).distinct().orderBy(col("h").asc).limit(k)
    val uniAgg = uni
      .join(sk.filter(col("stratum") === "view")
        .select(col("h"), lit(1L).as("_in_a")), Seq("h"), "left")
      .join(sk.filter(col("stratum") === "purchase")
        .select(col("h"), lit(1L).as("_in_b")), Seq("h"), "left")
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("_uhk"),
        sum(when(col("_in_a").isNotNull && col("_in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_overlap"))
    ests.crossJoin(broadcast(uniAgg))
      .withColumn("est_union", expr(s"CASE WHEN k_union < $k THEN k_union " +
        s"ELSE (${k - 1}L * 4294967296L) div greatest(_uhk, 1L) END"))
      .withColumn("jaccard_ppm",
        expr("(n_overlap * 1000000L) div k_union"))
      .withColumn("est_intersection",
        expr("(jaccard_ppm * est_union) div 1000000L"))
      .select(col("est_views"), col("est_purchases"), col("est_union"),
        col("jaccard_ppm"), col("est_intersection"), col("k_union"),
        col("n_overlap"))
  }

  private val tokSql = "string_split_regex(trim(text), '\\s+')"
  private def profileSql(listSql: String): String =
    s"len(list_filter(tk, x -> list_contains($listSql, x)))"
  private def swList(lang: String): String =
    TA.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** q197's one-shot count-min replay — the 4×256 sketch rebuilt with
    * the same per-row md5 salts, cell counts, and min-of-d estimates.
    * Shared verbatim by q203: count-min merge closure makes the
    * persisted merged index cell-identical to this from-scratch build.
    */
  private val cmsOracleSql: String = {
    def h(saltExpr: String, keyExpr: String) =
      s"""list_reduce(list_transform(
         |      string_split(substr(md5($saltExpr || CAST($keyExpr AS VARCHAR)), 1, 8), ''),
         |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) % 256""".stripMargin
    s"""WITH cells AS (
       |  SELECT g.r, ${h("'cms' || g.r || ':'", "user_id")} AS c
       |  FROM events, unnest(generate_series(0, 3)) AS g(r)),
       |cms AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n
       |  FROM cells GROUP BY 1, 2),
       |keys AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
       |probes AS (
       |  SELECT k.user_id, g.r, ${h("'cms' || g.r || ':'", "k.user_id")} AS c
       |  FROM keys k, unnest(generate_series(0, 3)) AS g(r)),
       |est AS (
       |  SELECT p.user_id, CAST(min(COALESCE(cms.n, 0)) AS BIGINT) AS est_n
       |  FROM probes p LEFT JOIN cms ON cms.r = p.r AND cms.c = p.c
       |  GROUP BY 1),
       |truth AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
       |  FROM events WHERE user_id % 7 = 0 GROUP BY 1)
       |SELECT t.user_id, t.true_n, e.est_n, e.est_n - t.true_n AS overcount
       |FROM truth t JOIN est e USING (user_id)""".stripMargin
  }

  /** q209: the Bloom set-bit table and the all-k-positions membership
    * probe, replayed in DuckDB digit for digit — built from ALL orders
    * at once, which the Spark side's write+merge must equal because
    * Bloom merge is set union. */
  private val bloomOracleSql: String = {
    def h(saltExpr: String, keyExpr: String) =
      s"""list_reduce(list_transform(
         |      string_split(substr(md5($saltExpr || CAST($keyExpr AS VARCHAR)), 1, 8), ''),
         |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) % 65536""".stripMargin
    s"""WITH pos AS (
       |  SELECT DISTINCT ${h("'bf' || g.i || ':'", "o_custkey")} AS pos
       |  FROM orders, unnest(generate_series(0, 3)) AS g(i)),
       |probes AS (
       |  SELECT c_custkey, ${h("'bf' || g.i || ':'", "c_custkey")} AS pos
       |  FROM customer, unnest(generate_series(0, 3)) AS g(i)),
       |probed AS (
       |  SELECT p.c_custkey,
       |    CAST(CASE WHEN count(*) FILTER (WHERE s.pos IS NOT NULL) = 4
       |      THEN 1 ELSE 0 END AS BIGINT) AS bloom_positive
       |  FROM probes p LEFT JOIN pos s ON s.pos = p.pos
       |  GROUP BY 1),
       |members AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
       |SELECT p.c_custkey, p.bloom_positive,
       |  CAST(CASE WHEN m.c_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS true_member
       |FROM probed p LEFT JOIN members m USING (c_custkey)""".stripMargin
  }

  /** Shared DuckDB oracle fragments mirroring [[dupInjectedCorpus]] and
    * 64-bit `Dedup.simhash` — ONE copy of the dup-injected corpus CTE,
    * the 64-bit md5/HUGEINT signature chain, and the connected-components
    * label CTE, composed by the q55/q70/q73 oracles below so the three
    * gates can never diverge from each other.
    */
  private val dupCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' qq7' FROM documents
      |  WHERE doc_id % 20 = 10)""".stripMargin

  private val sig64Sql: String = dupCorpusSql + ",\n" +
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM corpus),
      |h AS (
      |  SELECT doc_id, list_reduce(list_transform(
      |    string_split(substr(md5(t), 1, 16), ''),
      |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),
      |    (a, b) -> a * 16 + b) AS hv
      |  FROM tok),
      |bits AS (
      |  SELECT doc_id, g.b AS b,
      |    CAST((hv // (1::HUGEINT << g.b)) % 2 AS BIGINT) AS bit
      |  FROM h, LATERAL UNNEST(generate_series(0, 63)) AS g(b)),
      |votes AS (
      |  SELECT doc_id, b, SUM(2 * bit - 1) AS vote
      |  FROM bits GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id, CAST(CASE WHEN s >= (1::HUGEINT << 63)
      |      THEN s - (1::HUGEINT << 64) ELSE s END AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, SUM(CASE WHEN vote > 0 THEN (1::HUGEINT << b)
      |      ELSE 0::HUGEINT END) AS s
      |    FROM votes GROUP BY 1))""".stripMargin

  private val cc64Sql: String = sig64Sql + ",\n" +
    """pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |edges AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION ALL
      |  SELECT d2, d1 FROM pairs),
      |lbl AS (
      |  SELECT doc_id AS v, doc_id AS m FROM corpus
      |  UNION
      |  SELECT e.a AS v, lbl.m AS m FROM edges e JOIN lbl ON lbl.v = e.b)""".stripMargin

  /** Shared q175/q189 oracle: the single-shot KMV sketch + set-op
    * report in DuckDB SQL (see q175 comment above its map entry). */
  private val kmvOracleSql: String =
    """WITH u AS (
        |  SELECT DISTINCT event_type AS stratum,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |sk AS (
        |  SELECT stratum, h FROM (
        |    SELECT stratum, h,
        |      ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h) AS r
        |    FROM u) WHERE r <= 64),
        |side AS (
        |  SELECT stratum, count(*) AS n_sk, max(h) AS hk
        |  FROM sk GROUP BY 1),
        |est AS (
        |  SELECT stratum, CAST(CASE WHEN n_sk < 64 THEN n_sk
        |    ELSE 63 * 4294967296 // greatest(hk, 1) END AS BIGINT) AS est
        |  FROM side),
        |uni AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 64),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_union, max(uni.h) AS uhk,
        |    CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
        |  FROM uni
        |  LEFT JOIN (SELECT h FROM sk WHERE stratum = 'view') a
        |    ON a.h = uni.h
        |  LEFT JOIN (SELECT h FROM sk WHERE stratum = 'purchase') b
        |    ON b.h = uni.h),
        |f AS (
        |  SELECT ev.est AS est_views, ep.est AS est_purchases,
        |    CAST(CASE WHEN m.k_union < 64 THEN m.k_union
        |      ELSE 63 * 4294967296 // greatest(m.uhk, 1) END AS BIGINT)
        |      AS est_union,
        |    (m.n_overlap * 1000000) // m.k_union AS jaccard_ppm,
        |    m.k_union, m.n_overlap
        |  FROM m,
        |    (SELECT est FROM est WHERE stratum = 'view') ev(est),
        |    (SELECT est FROM est WHERE stratum = 'purchase') ep(est))
        |SELECT est_views, est_purchases, est_union, jaccard_ppm,
        |  (jaccard_ppm * est_union) // 1000000 AS est_intersection,
        |  k_union, n_overlap
      |FROM f""".stripMargin

  /** The q192 oracle, generated for `rounds` rounds so the SQL stays
    * mechanically in lockstep with [[Corpus.bpeTrain]]'s loop: f0 is the
    * char-split word-frequency vocabulary; each round r adds p_r (the
    * position-counted weighted pair aggregate over f_{r-1}), t_r (the
    * deterministic argmax), and f_r (every form re-segmented by the
    * list_reduce replay of the greedy merge state machine — 'P'/'N'
    * pending prefix, chr(1)-joined emitted symbols, pending lhs flushed
    * by the finish CASE).
    */
  private val bpeReduceM =
    """list_reduce(list_prepend('N', toks), (s, t) -> CASE
        |      WHEN substr(s, 1, 1) = 'P' AND t = rhs
        |        THEN 'N' || substr(s, 2) || chr(1) || lhs || rhs
        |      WHEN t = lhs
        |        THEN 'P' || CASE WHEN substr(s, 1, 1) = 'P'
        |          THEN substr(s, 2) || chr(1) || lhs ELSE substr(s, 2) END
        |      ELSE 'N' || CASE WHEN substr(s, 1, 1) = 'P'
        |          THEN substr(s, 2) || chr(1) || lhs
        |          ELSE substr(s, 2) END || chr(1) || t
        |    END)""".stripMargin

  private def bpeChainSql(rounds: Int, trainWhere: String = ""): String = {
    val reduceM = bpeReduceM
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT toks[i] AS lhs, toks[i + 1] AS rhs,
         |    CAST(sum(freq) AS BIGINT) AS pair_n
         |  FROM f${r - 1}, unnest(generate_series(1, len(toks) - 1)) AS g(i)
         |  WHERE len(toks) >= 2 GROUP BY 1, 2),
         |t$r AS (SELECT lhs, rhs, pair_n FROM p$r
         |  ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
         |f$r AS (
         |  SELECT w, freq, list_filter(string_split(
         |    CASE WHEN substr(m, 1, 1) = 'P' THEN substr(m, 2) || chr(1) || lhs
         |         ELSE substr(m, 2) END, chr(1)), x -> x <> '') AS toks
         |  FROM (SELECT w, freq, lhs, rhs, $reduceM AS m FROM f${r - 1}, t$r))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wds AS (
       |  SELECT t AS w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
       |    FROM documents $trainWhere)
       |  WHERE t <> '' GROUP BY 1),
       |f0 AS (SELECT w, freq, regexp_extract_all(w, '.') AS toks FROM wds),
       |$roundCtes""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"SELECT $r AS round, lhs, rhs, lhs || rhs AS merged, pair_n FROM t$r"
    }.mkString("\nUNION ALL\n")
    s"${bpeChainSql(rounds)}\n$unions"
  }

  /** q193: the identical trained encoder table (f_rounds) joined back to
    * every document's words — per-doc fertility under the trained vocab. */
  private def bpeFertilityOracleSql(rounds: Int): String =
    s"""${bpeChainSql(rounds)},
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> '')
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(toks)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(len(toks)) * 1000000 // count(*) AS BIGINT)
       |    AS bpe_per_word_ppm
       |FROM dw JOIN f$rounds USING (w)
       |GROUP BY doc_id""".stripMargin

  /** q231: the q192 training replay RESTRICTED to even docs, then the
    * stored merges applied in order over the ODD vocabulary (g-chain —
    * the same list_reduce machine per round) and the per-doc fertility
    * aggregate of the odd docs. */
  private def bpeIndexedOracleSql(rounds: Int): String = {
    val gCtes = (1 to rounds).map { r =>
      s"""g$r AS (
         |  SELECT w, list_filter(string_split(
         |    CASE WHEN substr(m, 1, 1) = 'P' THEN substr(m, 2) || chr(1) || lhs
         |         ELSE substr(m, 2) END, chr(1)), x -> x <> '') AS toks
         |  FROM (SELECT w, lhs, rhs, $bpeReduceM AS m FROM g${r - 1}, t$r))"""
        .stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(rounds, "WHERE doc_id % 2 = 0")},
       |dw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS w
       |    FROM documents WHERE doc_id % 2 != 0)
       |  WHERE w <> ''),
       |g0 AS (
       |  SELECT w, regexp_extract_all(w, '.') AS toks FROM (
       |    SELECT DISTINCT w FROM dw)),
       |$gCtes
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(toks)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(len(toks)) * 1000000 // count(*) AS BIGINT)
       |    AS bpe_per_word_ppm
       |FROM dw JOIN g$rounds USING (w)
       |GROUP BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q250: scored corpus → per-score class counts → one cumulative
    // window (strictly-above = predicted positive) → integer F1 ppm.
    "q250_nb_threshold" ->
      s"""WITH scored AS (${Classify.nbScoreSql("documents", "lang = 'en'")}),
         |lab AS (
         |  SELECT s.score, d.lang = 'en' AS pos
         |  FROM scored s JOIN documents d USING (doc_id)),
         |per AS (
         |  SELECT score AS threshold,
         |         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
         |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n
         |  FROM lab GROUP BY 1),
         |cum AS (
         |  SELECT threshold,
         |         coalesce(CAST(sum(p) OVER (ORDER BY threshold DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS BIGINT), 0) AS tp,
         |         coalesce(CAST(sum(n) OVER (ORDER BY threshold DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS BIGINT), 0) AS fp
         |  FROM per),
         |tot AS (SELECT CAST(sum(p) AS BIGINT) AS ap,
         |               CAST(sum(n) AS BIGINT) AS an FROM per)
         |SELECT threshold, tp, fp, ap - tp AS fn, an - fp AS tn,
         |       CAST(2 * tp * 1000000 // (2 * tp + fp + (ap - tp))
         |         AS BIGINT) AS f1_ppm
         |FROM cum CROSS JOIN tot""".stripMargin,
    // q248: the whole NB train+serve replays in SQL (Classify keeps
    // ONE copy of the banding algebra for all callers); sums cast to
    // BIGINT — DuckDB's HUGEINT sum would hash-mismatch.
    "q248_nb_classifier" ->
      s"""WITH scored AS (${Classify.nbScoreSql("documents", "lang = 'en'")})
         |SELECT d.lang = 'en' AS is_en, s.score > 0 AS predicted_en,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(s.score) AS BIGINT) AS sum_score
         |FROM scored s JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    "q231_bpe_indexed" -> bpeIndexedOracleSql(3),
    "q30_text_stats" ->
      s"""SELECT doc_id, n_tokens, n_chars_nospace,
         |  CAST(n_chars_nospace AS DOUBLE) / n_tokens AS avg_token_len,
         |  CAST(s_en AS DOUBLE) / n_tokens AS stopword_ratio,
         |  least(1.0,
         |    0.5 * (CAST(s_en AS DOUBLE) / n_tokens)
         |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |    + 0.2 * least((CAST(n_chars_nospace AS DOUBLE) / n_tokens) / 10.0, 1.0)
         |  ) AS quality
         |FROM (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_chars_nospace,
         |    ${profileSql(swList("en"))} AS s_en
         |  FROM (SELECT doc_id, text, $tokSql AS tk FROM documents))""".stripMargin,
    "q31_lang_id" ->
      s"""SELECT doc_id, s_en, s_de, s_es, s_fr,
         |  CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
         |       WHEN s_es = m THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM (
         |  SELECT doc_id, s_en, s_de, s_es, s_fr,
         |    greatest(s_en, s_de, s_es, s_fr) AS m
         |  FROM (
         |    SELECT doc_id,
         |      ${profileSql(swList("en"))} AS s_en,
         |      ${profileSql(swList("de"))} AS s_de,
         |      ${profileSql(swList("es"))} AS s_es,
         |      ${profileSql(swList("fr"))} AS s_fr
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents)))""".stripMargin,
    "q32_exact_dedup" ->
      """SELECT doc_id, fp,
        |  count(*) OVER (PARTITION BY fp) AS group_size,
        |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id
        |FROM (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM (
        |    SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0))""".stripMargin,
    "q33_minhash_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2,
        |    CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
        |  FROM inter
        |  JOIN sizes na ON d1 = na.doc_id
        |  JOIN sizes nb ON d2 = nb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    // q187 computes q33's relation from the persisted index — the oracle
    // is q33's all-pairs exact-Jaccard SQL verbatim.
    "q187_neardup_indexed" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2,
        |    CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
        |  FROM inter
        |  JOIN sizes na ON d1 = na.doc_id
        |  JOIN sizes nb ON d2 = nb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q49_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' zz0 zz1 zz2'
        |  FROM documents WHERE doc_id % 100 = 0),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT doc_id AS d1, doc_id + 1 AS d2 FROM documents
        |  WHERE doc_id % 100 = 0
        |  UNION ALL
        |  SELECT doc_id AS d1, doc_id + 1000000 AS d2 FROM documents
        |  WHERE doc_id % 100 = 0),
        |inter AS (
        |  SELECT p.d1, p.d2, count(*) AS c
        |  FROM pairs p
        |  JOIN sh x ON x.doc_id = p.d1
        |  JOIN sh y ON y.doc_id = p.d2 AND y.s = x.s
        |  GROUP BY 1, 2)
        |SELECT p.d1, p.d2,
        |  CAST(coalesce(i.c, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.c, 0))
        |    AS jaccard
        |FROM pairs p
        |LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
        |JOIN sizes na ON p.d1 = na.doc_id
        |JOIN sizes nb ON p.d2 = nb.doc_id""".stripMargin,
    "q50_pii_redact" -> {
      val email = graft.llm.TextAnalysis.EmailPattern
      val nums = graft.llm.TextAnalysis.LongNumberPattern
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(t2, '$email', '<EMAIL>', 'g'),
         |    '$nums', '<NUM>', 'g') AS redacted,
         |  len(regexp_extract_all(t2, '$email'))
         |    + len(regexp_extract_all(t2, '$nums')) AS n_pii
         |FROM (
         |  SELECT doc_id, text || ' contact user' || doc_id
         |    || '@example.com or call 123456789 now' AS t2
         |  FROM documents)""".stripMargin
    },
    "q46_bpe_rolling" -> {
      val pat = graft.llm.TextAnalysis.BpePattern.replace("'", "''")
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$pat')) AS n_bpe,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ''),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS rhash
         |FROM documents""".stripMargin
    },
    "q45_dedup_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
        |reps AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS cid
        |    FROM (
        |      SELECT doc_id, text,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |      FROM corpus))
        |  WHERE doc_id = cid),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM reps),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2,
        |    CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
        |  FROM inter
        |  JOIN sizes na ON d1 = na.doc_id
        |  JOIN sizes nb ON d2 = nb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q34_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, list_reduce(list_transform(
        |    string_split(substr(md5(t), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, g.b AS b,
        |    CAST(floor(hv / power(2, g.b)) AS BIGINT) % 2 AS bit
        |  FROM h, LATERAL UNNEST(generate_series(0, 31)) AS g(b)),
        |votes AS (
        |  SELECT doc_id, b, SUM(2 * bit - 1) AS vote
        |  FROM bits GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN power(2, b) ELSE 0 END) AS BIGINT)
        |    AS simhash
        |FROM votes GROUP BY 1""".stripMargin,
    // q51: the q34 signature pipeline over the dup-injected corpus, then
    // ALL-PAIRS hamming — the banded join's exact-recall guarantee
    // (hamming <= 3 < 4 bands) is what makes this oracle fair.
    "q51_simhash_neardup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' qq7' FROM documents
        |  WHERE doc_id % 20 = 10),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM corpus),
        |h AS (
        |  SELECT doc_id, list_reduce(list_transform(
        |    string_split(substr(md5(t), 1, 8), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, g.b AS b,
        |    CAST(floor(hv / power(2, g.b)) AS BIGINT) % 2 AS bit
        |  FROM h, LATERAL UNNEST(generate_series(0, 31)) AS g(b)),
        |votes AS (
        |  SELECT doc_id, b, SUM(2 * bit - 1) AS vote
        |  FROM bits GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN power(2, b) ELSE 0 END) AS BIGINT)
        |      AS simhash
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // q55: the q70 64-bit pair graph + a recursive min-label CTE (UNION
    // dedups across iterations, so cycles terminate); min over all
    // reachable labels = the component id.
    "q55_dedup_components" ->
      ("WITH RECURSIVE " + cc64Sql + "\n" +
        "SELECT v AS doc_id, min(m) AS component_id FROM lbl GROUP BY v"),

    // q139: the oracle is the EXACT top-k — the Spark side's sketch
    // shortlist must be invisible in the result.
    "q139_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1)
        |SELECT token, cnt, rank FROM (
        |  SELECT token, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
        |  FROM c)
        |WHERE rank <= 20""".stripMargin,

    // q157: same distinct-pair → capped-window chain; string_agg skips
    // the NULLed rows past the cap, ORDER BY doc_id matches array_sort.
    "q157_inverted_index" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |td AS (SELECT DISTINCT doc_id, token FROM tk),
        |r AS (
        |  SELECT token, doc_id,
        |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |  FROM td)
        |SELECT token, count(*) AS df,
        |  string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END,
        |    ',' ORDER BY doc_id) AS postings
        |FROM r GROUP BY token""".stripMargin,

    // q158: the double-unnest zips token with position; the same
    // base-1000 division in // and % (window SUM avoided — tot comes
    // from a plain aggregate CAST to BIGINT before any product).
    "q158_pmi_collocations" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |uni AS (
        |  SELECT t AS tok, count(*) AS c
        |  FROM (SELECT unnest(tk) AS t FROM tk) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM uni),
        |tokpos AS (
        |  SELECT doc_id, unnest(tk) AS t,
        |    unnest(generate_series(1, len(tk))) AS pos
        |  FROM tk),
        |pr AS (
        |  SELECT lag(t) OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS token_a, t AS token_b
        |  FROM tokpos),
        |pc AS (
        |  SELECT token_a, token_b, count(*) AS pair_cnt FROM pr
        |  WHERE token_a IS NOT NULL GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT token_a, token_b, pair_cnt,
        |  pair_cnt * tt // (ca * cb) * 1000000
        |    + (pair_cnt * tt % (ca * cb)) * 1000 // (ca * cb) * 1000
        |    + (pair_cnt * tt % (ca * cb)) * 1000 % (ca * cb) * 1000
        |      // (ca * cb)
        |    AS pmi_ppm
        |FROM pc
        |JOIN (SELECT tok, c AS ca FROM uni) ua ON ua.tok = pc.token_a
        |JOIN (SELECT tok, c AS cb FROM uni) ub ON ub.tok = pc.token_b
        |CROSS JOIN tot""".stripMargin,

    // q132: q55's component chain + one cluster-size aggregate and the
    // integer ppm weight.
    "q132_dedup_weights" ->
      ("WITH RECURSIVE " + cc64Sql + ",\n" +
        """comp AS (
          |  SELECT v AS doc_id, min(m) AS component_id FROM lbl GROUP BY v),
          |sizes AS (
          |  SELECT component_id, count(*) AS cluster_size
          |  FROM comp GROUP BY 1)
          |SELECT c.doc_id, s.cluster_size,
          |  1000000 // s.cluster_size AS weight_ppm
          |FROM comp c JOIN sizes s ON c.component_id = s.component_id"""
          .stripMargin),
    // q52: the md5-keyed draw mirrored digit-for-digit (Corpus.hashUnit).
    "q52_stratified_sample" ->
      """SELECT doc_id, lang, u FROM (
        |  SELECT doc_id, lang,
        |    CAST(list_reduce(list_transform(
        |      string_split(substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS DOUBLE) / 4294967296.0 AS u
        |  FROM documents)
        |WHERE u < CASE WHEN lang = 'en' THEN 0.1
        |            WHEN lang = 'zh' THEN 0.5 ELSE 0.9 END""".stripMargin,
    // q53: bigram windows WITH duplicates (list_transform over positions;
    // out-of-range tk[i+1] is NULL, which concat_ws skips — same sub-k
    // window semantics as TextAnalysis.ngrams).
    "q53_repetition" ->
      """SELECT doc_id, n_grams, n_uniq,
        |  1.0 - CAST(n_uniq AS DOUBLE) / n_grams AS rep_frac
        |FROM (
        |  SELECT doc_id, len(g) AS n_grams, len(list_distinct(g)) AS n_uniq
        |  FROM (
        |    SELECT doc_id, list_transform(
        |      generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                            ELSE greatest(len(tk) - 1, 1) END),
        |      i -> concat_ws(' ', tk[i], tk[i + 1])) AS g
        |    FROM (
        |      SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |      FROM documents)))""".stripMargin,
    // q58: integer-only compared surface. The exact BIGINT components
    // (n_docs, stratum_tokens, total_tokens, n_strata) carry the full
    // information and rate_ppm is pure BIGINT arithmetic on both engines —
    // no doubles anywhere in the hash (rounds 6-8 proved that neither raw
    // doubles nor round(x, 6) survive the BIGINT-vs-HUGEINT window chain).
    "q58_mix_rates" ->
      """SELECT lang, n_docs, stratum_tokens, total_tokens, n_strata,
        |  CAST(least(1000000::HUGEINT,
        |    (total_tokens::HUGEINT * 1000000) // (n_strata * stratum_tokens))
        |    AS BIGINT) AS rate_ppm
        |FROM (
        |  SELECT lang, n_docs, stratum_tokens,
        |    CAST(SUM(stratum_tokens) OVER () AS BIGINT) AS total_tokens,
        |    COUNT(*) OVER () AS n_strata
        |  FROM (
        |    SELECT lang, count(*) AS n_docs,
        |      CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |        AS stratum_tokens
        |    FROM documents GROUP BY 1))""".stripMargin,
    // q59: vocab counts -> rare slice -> per-doc occurrence count, with
    // zero-rare docs kept via the left join.
    "q59_rare_tokens" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |rare AS (
        |  SELECT t FROM tok GROUP BY t HAVING count(*) <= 2),
        |counts AS (
        |  SELECT doc_id, count(*) AS n_rare
        |  FROM tok WHERE t IN (SELECT t FROM rare)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(c.n_rare, 0) AS n_rare
        |FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id""".stripMargin,
    // q57: q33-style distinct-shingle derivation on both sides, then the
    // containment join + HAVING threshold.
    "q57_decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id + 3000000 AS doc_id, text || ' bb1 bb2' AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |ctoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |btoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM bench),
        |cs AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM ctoks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |bs AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM btoks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g))
        |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
        |  count(*) AS n_shared
        |FROM cs c JOIN bs b ON c.s = b.s
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    // q56: q30's metrics + q53's repetition, thresholded.
    "q56_quality_filter" ->
      """SELECT doc_id,
        |  n_tokens BETWEEN 30 AND 100000 AS ok_tokens,
        |  avg_len BETWEEN 3.5 AND 5.0 AS ok_avg_len,
        |  sw >= 0.03 AS ok_stopword,
        |  rep <= 0.05 AS ok_repetition,
        |  (n_tokens BETWEEN 30 AND 100000) AND (avg_len BETWEEN 3.5 AND 5.0)
        |    AND sw >= 0.03 AND rep <= 0.05 AS keep
        |FROM (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / len(tk) AS avg_len,
        |    CAST(len(list_filter(tk, x -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','on','for'], x)))
        |      AS DOUBLE) / len(tk) AS sw,
        |    1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rep
        |  FROM (
        |    SELECT doc_id, text, tk, list_transform(
        |      generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                            ELSE greatest(len(tk) - 1, 1) END),
        |      i -> concat_ws(' ', tk[i], tk[i + 1])) AS g
        |    FROM (
        |      SELECT doc_id, text,
        |        string_split_regex(trim(text), '\s+') AS tk
        |      FROM documents)))""".stripMargin,
    // q54: exclusive-prefix-sum packing per language stream.
    "q54_seq_packing" ->
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |    FROM documents))""".stripMargin,
    "q35_knn_bruteforce" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS neighbor_id,
        |    list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
        |      AS sim
        |  FROM q, embeddings e WHERE e.vec_id != q.qid)
        |SELECT qid, rank, neighbor_id FROM (
        |  SELECT qid, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
        |      AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,
    // q36_ann_lsh: the hyperplanes are deterministic (fixed-seed Gaussian),
    // so they embed as SQL literals and DuckDB replicates the exact
    // bucketing (sign of the same left-to-right double dot product),
    // candidate join, and rerank. Shortest-round-trip double formatting
    // (Double.toString) parses back to the identical IEEE value.
    "q36_ann_lsh" -> {
      val ps = Similarity.planes(dim = 64, tables = 8, bitsPerTable = 4)
      def planeLit(p: Seq[Double]): String = p.mkString("[", ",", "]")
      def bucketSql(tp: Seq[Seq[Double]]): String =
        tp.zipWithIndex.map { case (p, b) =>
          s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ${planeLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
      val bucketCols = ps.zipWithIndex
        .map { case (tp, t) => s"${bucketSql(tp)} AS bk$t" }.mkString(",\n    ")
      val sameBucket = ps.indices.map(t => s"q.bk$t = c.bk$t").mkString(" OR ")
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    $bucketCols
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS neighbor_id
         |  FROM b q, b c
         |  WHERE q.vec_id % 100 = 0 AND c.vec_id != q.vec_id
         |    AND ($sameBucket)),
         |scored AS (
         |  SELECT cand.qid, cand.neighbor_id,
         |    list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
         |      / (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))
         |        * sqrt(list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))))
         |      AS sim
         |  FROM cand
         |  JOIN embeddings qe ON qe.vec_id = cand.qid
         |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
         |SELECT qid, rank, neighbor_id FROM (
         |  SELECT qid, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |      AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },
    "q44_ivf_knn" -> {
      def cos(a: String, b: String): String =
        s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
           |      / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           |        * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
      s"""WITH c AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |  WHERE vec_id % 64 = 0),
         |csim AS (
         |  SELECT e.vec_id, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS sim
         |  FROM embeddings e, c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim) WHERE rn = 1),
         |probed AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assigned a USING (cid)
         |  WHERE a.vec_id != p.qid),
         |scored AS (
         |  SELECT cand.qid, cand.neighbor_id,
         |    ${cos("qe.embedding", "ce.embedding")} AS sim
         |  FROM cand
         |  JOIN embeddings qe ON qe.vec_id = cand.qid
         |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
         |SELECT qid, rank, neighbor_id FROM (
         |  SELECT qid, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |      AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },
    "q42_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings
        |  WHERE vec_id % 25 = 0)
        |SELECT d1, d2, cosine FROM (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        |      AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE cosine >= 0.95""".stripMargin,
    "q41_multimodal_features" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  ord(substr(text, 1, 1)) AS first_byte,
        |  ord(substr(text, length(text), 1)) AS last_byte,
        |  (CAST(octet_length(encode(text)) AS BIGINT) * 31
        |    + ord(substr(text, 1, 1))
        |    + ord(substr(text, length(text), 1))) % 9973 AS checksum
        |FROM documents""".stripMargin,
    // q61: the chunk derivation mirrored (slice bounds inclusive in
    // DuckDB: tk[u*8+1 : u*8+8] is the same 8-token window as Spark's
    // slice(toks, u*8+1, 8)); duplicated = line text in >= 2 distinct
    // docs; dup_frac is one integer division.
    "q61_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |tks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM d),
        |lines AS (
        |  SELECT doc_id,
        |    array_to_string(tk[(i.u*8+1):(i.u*8+8)], ' ') AS line
        |  FROM tks, LATERAL UNNEST(generate_series(0,
        |    greatest(CAST(ceil(len(tk) / 8.0) AS INT) - 1, 0))) AS i(u)
        |  WHERE array_to_string(tk[(i.u*8+1):(i.u*8+8)], ' ') != ''),
        |dup AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
        |  GROUP BY line HAVING count(*) >= 2),
        |totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
        |dups AS (
        |  SELECT doc_id, count(*) AS n_dup_lines FROM lines
        |  WHERE line IN (SELECT line FROM dup) GROUP BY 1)
        |SELECT t.doc_id, t.n_lines,
        |  COALESCE(p.n_dup_lines, 0) AS n_dup_lines,
        |  CAST(COALESCE(p.n_dup_lines, 0) AS DOUBLE) / t.n_lines AS dup_frac
        |FROM totals t LEFT JOIN dups p USING (doc_id)""".stripMargin,
    // q62: both Lloyd rounds unrolled — same id-sampled seeds, the same
    // double distance chain dot(v,v) - 2*dot(v,c) + dot(c,c) with the
    // smaller-cid tie-break, and 6-decimal-rounded per-dimension means
    // (summation-order differences cannot survive the rounding).
    "q62_kmeans" -> {
      def assignSql(cTable: String, name: String): String =
        s"""$name AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        (list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
           |         - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
           |    FROM embeddings e, $cTable c) WHERE rn = 1)""".stripMargin
      def updateSql(aTable: String, name: String): String =
        s"""$name AS (
           |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a.cid, g.pos,
           |      round(avg(CAST(e.embedding[g.pos] AS DOUBLE)), 6) AS m
           |    FROM $aTable a JOIN embeddings e USING (vec_id),
           |      LATERAL UNNEST(generate_series(1, 64)) AS g(pos)
           |    GROUP BY a.cid, g.pos)
           |  GROUP BY cid)""".stripMargin
      s"""WITH c0 AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id % 64 = 0),
         |${assignSql("c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("c2", "a2")}
         |SELECT vec_id, cid AS cluster FROM a2""".stripMargin
    },
    // q63: the q30 quality formula (bit-identical in both engines — the
    // q30 hash gate proves it) used as an ORDER key only.
    "q63_source_topk" ->
      s"""SELECT source, doc_id, rank FROM (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC)
         |      AS rank
         |  FROM (
         |    SELECT source, doc_id,
         |      least(1.0,
         |        0.5 * (CAST(s_en AS DOUBLE) / n_tokens)
         |        + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |        + 0.2 * least((CAST(n_chars_nospace AS DOUBLE) / n_tokens) / 10.0, 1.0)
         |      ) AS q
         |    FROM (
         |      SELECT source, doc_id, len(tk) AS n_tokens,
         |        length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_chars_nospace,
         |        ${profileSql(swList("en"))} AS s_en
         |      FROM (SELECT source, doc_id, text, $tokSql AS tk FROM documents))))
         |WHERE rank <= 5""".stripMargin,
    // q66: q53's bigram-window fragment (duplicates kept, sub-2-token
    // docs keep one short window), exact counts, total-order top-100.
    "q66_vocab_topk" ->
      """WITH g AS (
        |  SELECT unnest(list_transform(
        |    generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                          ELSE greatest(len(tk) - 1, 1) END),
        |    i -> concat_ws(' ', tk[i], tk[i + 1]))) AS gram
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS tk
        |        FROM documents)),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
        |SELECT gram, cnt, rank FROM (
        |  SELECT gram, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, gram ASC) AS rank
        |  FROM c) WHERE rank <= 100""".stripMargin,
    // q67: the exact columns hash-compare (fingerprint is the md5-of-
    // normalized-text device, identical in both engines); the HLL
    // estimate stays out of the hash (engine-specific internals) and is
    // error-bound-gated in LlmSpec instead.
    "q67_sketch_cardinality" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |    AS exact_distinct
        |FROM documents GROUP BY 1""".stripMargin,
    // q68: stride-aligned slices; chunk_id = start/stride; token count =
    // min(chunk, remaining) — all integers plus exact strings. Tail
    // windows adding no new token (remaining <= overlap) are dropped on
    // both sides.
    "q68_doc_chunking" ->
      """SELECT doc_id, CAST(p.s / 6 AS BIGINT) AS chunk_id,
        |  array_to_string(tk[(p.s+1):(p.s+8)], ' ') AS chunk,
        |  least(8, CAST(len(tk) - p.s AS INT)) AS n_chunk_tokens
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |      FROM documents),
        |  LATERAL UNNEST(generate_series(0, len(tk) - 1, 6)) AS p(s)
        |WHERE p.s = 0 OR len(tk) - p.s > 2""".stripMargin,
    // q69: same rank construction; ties resolved by doc_id, so the
    // selected values are unique on both engines.
    "q69_length_quantiles" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |r AS (
        |  SELECT lang, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM d)
        |SELECT lang, max(cnt) AS n_docs,
        |  max(CASE WHEN rn = CAST(ceil(cnt * 0.25) AS BIGINT) THEN n END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN n END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(cnt * 0.75) AS BIGINT) THEN n END) AS p75
        |FROM r GROUP BY lang""".stripMargin,
    // q70: the q51 all-pairs oracle widened to 64 bits. The 16-hex-digit
    // md5 token hash and the signature's bit sums live in HUGEINT (128-bit
    // — exact for any unsigned 64-bit intermediate); the finished
    // signature folds to the signed BIGINT two's-complement value Spark's
    // long carries (s >= 2^63 → s - 2^64), so the hamming verify is plain
    // BIGINT xor + bit_count on both engines.
    "q70_simhash64_neardup" ->
      ("WITH " + sig64Sql + "\n" +
        """SELECT a.doc_id AS d1, b.doc_id AS d2,
          |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    // q76: the vocabulary is the corpus's own top-100 unigrams under a
    // total order (count desc, token asc), so the rank-100 boundary is
    // deterministic on both engines; everything else is exact counting.
    "q76_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |vocab AS (
        |  SELECT t FROM (
        |    SELECT t, ROW_NUMBER() OVER (ORDER BY count(*) DESC, t ASC) AS rn
        |    FROM tok GROUP BY t)
        |  WHERE rn <= 100),
        |oov AS (
        |  SELECT doc_id, count(*) AS n_oov FROM tok
        |  WHERE t NOT IN (SELECT t FROM vocab) GROUP BY 1)
        |SELECT d.doc_id, len(string_split_regex(trim(d.text), '\s+')) AS n_tokens,
        |  coalesce(o.n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN oov o USING (doc_id)""".stripMargin,
    // q77: q57's shingle containment plus the bench doc's distinct
    // shingle count and the BIGINT ppm ratio — all integers.
    "q77_contamination_ratio" ->
      """WITH bench AS (
        |  SELECT doc_id + 3000000 AS doc_id, text || ' bb1 bb2' AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |ctoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |btoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM bench),
        |cs AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM ctoks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |bs AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM btoks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (
        |  SELECT doc_id AS bench_id, count(*) AS n_bench_shingles
        |  FROM bs GROUP BY 1),
        |leaks AS (
        |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
        |    count(*) AS n_shared
        |  FROM cs c JOIN bs b ON c.s = b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT l.corpus_id, l.bench_id, l.n_shared, z.n_bench_shingles,
        |  (l.n_shared * 1000000) // z.n_bench_shingles AS overlap_ppm
        |FROM leaks l JOIN sizes z USING (bench_id)""".stripMargin,
    // q71: the oracle re-derives the decoder's report from the PNG
    // GENERATION parameters (Media.syntheticPng): dims are 2 + id%7 ×
    // 2 + id%5, the checksum is corner00_rgb * 31 + cornerWH_rgb with
    // each channel an integer function of doc_id. PNG is lossless RGB,
    // so a correct decode must reproduce these exactly; decoded=false
    // (fallback) or any dimension/pixel drift breaks the hash.
    "q71_image_decode" ->
      """SELECT doc_id, true AS decoded,
        |  CAST(2 + doc_id % 7 AS INTEGER) AS width,
        |  CAST(2 + doc_id % 5 AS INTEGER) AS height,
        |  ((doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256
        |      + (doc_id * 13) % 256) * 31
        |    + ((doc_id * 17) % 256) * 65536 + ((doc_id * 19) % 256) * 256
        |    + (doc_id * 23) % 256 AS checksum
        |FROM documents""".stripMargin,
    // q75: uniform color c survives decode → NN-scale → PNG re-encode →
    // decode exactly (PNG is lossless, scaling a constant image is the
    // constant image), so the roundtrip must report 3×3 and checksum
    // c·31 + c = c·32 — any drift in the transcoder (dims, color model,
    // lossy re-encode, fallback taken) breaks the hash.
    "q75_image_resize" ->
      """SELECT doc_id, true AS decoded,
        |  CAST(3 AS INTEGER) AS width,
        |  CAST(3 AS INTEGER) AS height,
        |  ((doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256
        |    + (doc_id * 13) % 256) * 32 AS checksum
        |FROM documents""".stripMargin,
    // q72: the oracle re-derives the WAV decoder's report from the
    // generation parameters (Media.syntheticWav): 8 kHz mono 16-bit PCM,
    // 16 + id%32 frames, sample k = ((id·31 + k·17) mod 65536) − 32768.
    // The PCM sum is exact integer arithmetic on both engines; a decoder
    // that misparses the RIFF header, the sample width, or the
    // endianness cannot match it.
    "q72_audio_decode" ->
      """SELECT doc_id, true AS decoded,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(16 + doc_id % 32 AS BIGINT) AS n_frames,
        |  CAST(SUM(((doc_id * 31 + k.g * 17) % 65536) - 32768) AS BIGINT)
        |    AS pcm_sum
        |FROM documents,
        |  LATERAL UNNEST(generate_series(0, 15 + doc_id % 32)) AS k(g)
        |GROUP BY doc_id""".stripMargin,
    // q78: q61's chunk derivation with positions kept, duplicated lines
    // dropped (all instances), and the survivors string_agg'd back in
    // position order — byte-identical reassembly on both engines.
    "q78_line_dedup_rebuild" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |tks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM d),
        |lines AS (
        |  SELECT doc_id, i.u AS pos,
        |    array_to_string(tk[(i.u*8+1):(i.u*8+8)], ' ') AS line
        |  FROM tks, LATERAL UNNEST(generate_series(0,
        |    greatest(CAST(ceil(len(tk) / 8.0) AS INT) - 1, 0))) AS i(u)
        |  WHERE array_to_string(tk[(i.u*8+1):(i.u*8+8)], ' ') != ''),
        |dup AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
        |  GROUP BY line HAVING count(*) >= 2),
        |totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
        |reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY pos) AS clean_text
        |  FROM lines WHERE line NOT IN (SELECT line FROM dup)
        |  GROUP BY 1)
        |SELECT d.doc_id, COALESCE(t.n_lines, 0) AS n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.clean_text, '') AS clean_text
        |FROM d LEFT JOIN totals t USING (doc_id)
        |  LEFT JOIN reb r USING (doc_id)""".stripMargin,
    // q79: q57's distinct-shingle CTE, per-shingle min doc id, per-doc
    // first-occurrence counts — the oracle groups by literal shingle
    // text where Spark groups by its md5 (collision-free, same counts).
    "q79_shingle_novelty" ->
      """WITH tks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM tks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |totals AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |novel AS (
        |  SELECT doc_id, count(*) AS n_novel FROM (
        |    SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1)
        |  GROUP BY 1)
        |SELECT t.doc_id, t.n_shingles, COALESCE(v.n_novel, 0) AS n_novel,
        |  (COALESCE(v.n_novel, 0) * 1000000) // t.n_shingles AS novelty_ppm
        |FROM totals t LEFT JOIN novel v USING (doc_id)""".stripMargin,
    // q80: the q52 md5-draw device in its pure-integer form — the split
    // CASE compares draw·10⁶ against ppm·2³² in BIGINT on both engines.
    "q80_hash_split" ->
      """SELECT CASE
        |    WHEN draw * 1000000 < 100000 * 4294967296 THEN 'test'
        |    WHEN draw * 1000000 < 200000 * 4294967296 THEN 'validation'
        |    ELSE 'train' END AS split,
        |  lang, count(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
        |FROM (
        |  SELECT lang, len(string_split_regex(trim(text), '\s+')) AS n,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS draw
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    // q85: the q35 brute-force chain and the q44 IVF chain composed as
    // CTEs, intersected per qid, recall in integer ppm. Any float
    // tie-flip at the rank-10 boundary would already break q35/q44
    // themselves, so the composition adds no new cross-engine risk.
    "q85_ann_recall" -> {
      def cos(a: String, b: String): String =
        s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
           |      / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           |        * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % 100 = 0),
         |bscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    ${cos("q.qv", "e.embedding")} AS sim
         |  FROM q, embeddings e WHERE e.vec_id != q.qid),
         |btop AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM bscored)
         |  WHERE rank <= 10),
         |c AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |  WHERE vec_id % 64 = 0),
         |csim AS (
         |  SELECT e.vec_id, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS sim
         |  FROM embeddings e, c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim) WHERE rn = 1),
         |probed AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assigned a USING (cid)
         |  WHERE a.vec_id != p.qid),
         |iscored AS (
         |  SELECT cand.qid, cand.neighbor_id,
         |    ${cos("qe.embedding", "ce.embedding")} AS sim
         |  FROM cand
         |  JOIN embeddings qe ON qe.vec_id = cand.qid
         |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
         |itop AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM iscored)
         |  WHERE rank <= 10),
         |hits AS (
         |  SELECT b.qid, count(*) AS n_hits
         |  FROM btop b JOIN itop i
         |    ON b.qid = i.qid AND b.neighbor_id = i.neighbor_id
         |  GROUP BY 1)
         |SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
         |  (COALESCE(h.n_hits, 0) * 1000000) // 10 AS recall_ppm
         |FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits h USING (qid)""".stripMargin
    },
    // q86: 4-gram md5 hashes, windowed min over 4 consecutive hashes
    // (ROWS frame), full windows only with the position-1 self-coverage
    // fallback — the winnowing selection replayed digit-for-digit.
    "q86_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, i.g AS pos,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(array_to_string(tk[i.g:i.g+3], ' ')), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-3, 1))) AS i(g)),
        |wmin AS (
        |  SELECT doc_id, lang, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS ld
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, lang, fp FROM wmin
        |  WHERE ld IS NOT NULL OR pos = 1)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS total_fps,
        |  count(DISTINCT fp) AS distinct_fps
        |FROM fps GROUP BY 1""".stripMargin,
    // q87: md5-halves affine minhash (64 slots via generate_series) over
    // the dup-injected corpus; agreement + exact shingle Jaccard per
    // planted pair, everything BIGINT (h1 + 63*h2 < 2^38).
    "q87_minhash_agreement" -> s"""WITH $dupCorpusSql,
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |pairs AS (
        |  SELECT doc_id AS d1, doc_id + 1000000 AS d2 FROM documents
        |  WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id AS d1, doc_id + 2000000 AS d2 FROM documents
        |  WHERE doc_id % 20 = 10
        |  UNION ALL
        |  SELECT doc_id AS d1, doc_id + 7 AS d2 FROM documents
        |  WHERE doc_id % 20 = 0),
        |h AS (
        |  SELECT doc_id, s,
        |    list_reduce(list_transform(string_split(substr(md5(s), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h1,
        |    list_reduce(list_transform(string_split(substr(md5(s), 9, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, g.i AS i, min(h1 + g.i * h2) AS m
        |  FROM h, LATERAL UNNEST(generate_series(0, 63)) AS g(i)
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |agree AS (
        |  SELECT p.d1, p.d2,
        |    CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM pairs p
        |  JOIN sig a ON a.doc_id = p.d1
        |  JOIN sig b ON b.doc_id = p.d2 AND b.i = a.i
        |  GROUP BY 1, 2),
        |inter AS (
        |  SELECT p.d1, p.d2, count(*) AS c
        |  FROM pairs p
        |  JOIN sh x ON x.doc_id = p.d1
        |  JOIN sh y ON y.doc_id = p.d2 AND y.s = x.s
        |  GROUP BY 1, 2)
        |SELECT g.d1, g.d2, g.n_agree,
        |  COALESCE(i.c, 0) * 1000000
        |    // (na.n + nb.n - COALESCE(i.c, 0)) AS jaccard_ppm
        |FROM agree g
        |LEFT JOIN inter i ON i.d1 = g.d1 AND i.d2 = g.d2
        |JOIN sizes na ON na.doc_id = g.d1
        |JOIN sizes nb ON nb.doc_id = g.d2""".stripMargin,
    // q89: the q86 winnowing chain over the dup-injected corpus, then
    // frequency-capped fingerprint self-join — pair counts all integer.
    "q89_winnow_overlap" -> s"""WITH $dupCorpusSql,
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
        |  FROM corpus),
        |g AS (
        |  SELECT doc_id, i.g AS pos,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(array_to_string(tk[i.g:i.g+3], ' ')), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-3, 1))) AS i(g)),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS ld
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wmin WHERE ld IS NOT NULL OR pos = 1),
        |eligible AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 8),
        |pf AS (SELECT f.doc_id, f.fp FROM fps f JOIN eligible e ON f.fp = e.fp)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
        |FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 4""".stripMargin,
    // q90: half-prefix injection, the q89 winnow-candidate chain, then
    // exact k=3 shingle containment in both directions — all integer.
    "q90_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |btoks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM base),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    array_to_string(tk[1:greatest(len(tk)//2, 4)], ' ') AS text
        |  FROM btoks WHERE doc_id % 20 = 5),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM corpus),
        |g AS (
        |  SELECT doc_id, i.g AS pos,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(array_to_string(tk[i.g:i.g+3], ' ')), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-3, 1))) AS i(g)),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS ld
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wmin WHERE ld IS NOT NULL OR pos = 1),
        |eligible AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 8),
        |pf AS (SELECT f.doc_id, f.fp FROM fps f JOIN eligible e ON f.fp = e.fp),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 4),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.d1, c.d2, count(*) AS ic
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.d1
        |  JOIN sh y ON y.doc_id = c.d2 AND y.s = x.s
        |  GROUP BY 1, 2)
        |SELECT i.d1, i.d2,
        |  i.ic * 1000000 // na.n AS cont1_ppm,
        |  i.ic * 1000000 // nb.n AS cont2_ppm
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.d1
        |JOIN sizes nb ON nb.doc_id = i.d2
        |WHERE greatest(i.ic * 1000000 // na.n, i.ic * 1000000 // nb.n)
        |  >= 900000""".stripMargin,
    // q105: floor shares + largest-remainder top-up, all BIGINT.
    "q105_token_shares" ->
      """WITH w AS (
        |  SELECT lang,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS wt
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
        |based AS (
        |  SELECT lang, wt,
        |    wt * 1000000 // tot AS base, (wt * 1000000) % tot AS rem
        |  FROM w, t),
        |lf AS (SELECT 1000000 - SUM(base) AS leftover FROM based)
        |SELECT lang, wt AS weight,
        |  base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
        |    <= leftover THEN 1 ELSE 0 END AS share_ppm
        |FROM based, lf""".stripMargin,
    // q101: the q52 md5-draw device under a per-stratum bottom-k rank.
    "q101_bottomk_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('bk:' || CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS draw
        |  FROM documents)
        |SELECT doc_id, lang, draw, pick_rank FROM (
        |  SELECT doc_id, lang, draw,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY draw ASC, doc_id ASC) AS pick_rank
        |  FROM d)
        |WHERE pick_rank <= 20""".stripMargin,
    // q226: q101's one-shot bottom-k SQL verbatim — the merge law says
    // the index built from two batches must equal the full-corpus
    // sample bit for bit.
    "q226_bottomk_index" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('bk:' || CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS draw
        |  FROM documents)
        |SELECT doc_id, lang, draw, pick_rank FROM (
        |  SELECT doc_id, lang, draw,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY draw ASC, doc_id ASC) AS pick_rank
        |  FROM d)
        |WHERE pick_rank <= 20""".stripMargin,
    // q227: the lossy re-encode (floor(x·10)/10 — exact double
    // arithmetic), every cosine, and the mate's rank replayed.
    "q227_crossmodal_mate_rank" ->
      """WITH a AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |b AS (
        |  SELECT vec_id AS bid,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> floor(x * 10) / 10) AS bv
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.qid, b.bid,
        |    list_dot_product(a.qv, b.bv)
        |      / (sqrt(list_dot_product(a.qv, a.qv))
        |        * sqrt(list_dot_product(b.bv, b.bv))) AS sim
        |  FROM a, b)
        |SELECT qid, rank AS mate_rank FROM (
        |  SELECT qid, bid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, bid ASC) AS rank
        |  FROM scored)
        |WHERE bid = qid""".stripMargin,
    // q229: both batch reductions (count, 33rd-largest subtraction),
    // the additive merge, and the final reduction replayed — all
    // BIGINT, deterministic under the (n desc, token asc) tie order.
    "q229_mg_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS token
        |  FROM documents),
        |c0 AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
        |       WHERE doc_id % 2 = 0 GROUP BY 1),
        |r0 AS (SELECT token, n,
        |         ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS r
        |       FROM c0),
        |t0 AS (SELECT coalesce(max(CASE WHEN r = 33 THEN n END), 0) AS t
        |       FROM r0),
        |k0 AS (SELECT token, n - t0.t AS n FROM r0, t0
        |       WHERE r <= 32 AND n - t0.t > 0),
        |c1 AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
        |       WHERE doc_id % 2 != 0 GROUP BY 1),
        |r1 AS (SELECT token, n,
        |         ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS r
        |       FROM c1),
        |t1 AS (SELECT coalesce(max(CASE WHEN r = 33 THEN n END), 0) AS t
        |       FROM r1),
        |k1 AS (SELECT token, n - t1.t AS n FROM r1, t1
        |       WHERE r <= 32 AND n - t1.t > 0),
        |merged AS (
        |  SELECT token, CAST(SUM(n) AS BIGINT) AS n FROM (
        |    SELECT * FROM k0 UNION ALL SELECT * FROM k1) GROUP BY 1),
        |rm AS (SELECT token, n,
        |         ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS r
        |       FROM merged),
        |t2 AS (SELECT coalesce(max(CASE WHEN r = 33 THEN n END), 0) AS t
        |       FROM rm)
        |SELECT token, n - t2.t AS est_n,
        |  t0.t + t1.t + t2.t AS err_bound
        |FROM rm, t0, t1, t2
        |WHERE r <= 32 AND n - t2.t > 0""".stripMargin,
    // q208: weights, the w md5 tickets per doc, the max-ticket ES
    // priority, and the per-lang rank — all integer, replayed exactly.
    "q208_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    LEAST(GREATEST(1 + length(text) // 256, 1), 8) AS weight
        |  FROM documents),
        |t AS (
        |  SELECT d.doc_id, d.lang, d.weight,
        |    MAX(list_reduce(list_transform(
        |      string_split(substr(md5('es:' || CAST(d.doc_id AS VARCHAR)
        |        || '#' || CAST(g.j AS VARCHAR)), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)) AS priority
        |  FROM d, LATERAL UNNEST(generate_series(1, d.weight)) AS g(j)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, weight, priority, pick_rank FROM (
        |  SELECT doc_id, lang, weight, priority,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id ASC) AS BIGINT) AS pick_rank
        |  FROM t)
        |WHERE pick_rank <= 20""".stripMargin,

    // q114: the same seeded md5 total order as one flat window — what
    // the two-phase Spark form must reproduce position-for-position.
    "q114_train_order" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS position
        |FROM documents""".stripMargin,

    // q217: the per-stratum rank (the prefix-bucket two-phase order
    // collapses to one ROW_NUMBER because the bucket is a prefix of the
    // order key) dealt modulo 5.
    "q217_kfold_assign" ->
      """SELECT doc_id, lang,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5('cv:' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
        |    % 5 AS BIGINT) AS fold
        |FROM documents""".stripMargin,
    // q100: six headline integers from the existing oracle fragments.
    "q100_corpus_report" ->
      """WITH toks AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |metrics AS (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / len(tk) AS avg_len,
        |    CAST(len(list_filter(tk, x -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','on','for'], x)))
        |      AS DOUBLE) / len(tk) AS sw,
        |    1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rep
        |  FROM (
        |    SELECT doc_id, text, tk, list_transform(
        |      generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                            ELSE greatest(len(tk) - 1, 1) END),
        |      i -> concat_ws(' ', tk[i], tk[i + 1])) AS g
        |    FROM toks)),
        |fps AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT count(*) AS v FROM (
        |    SELECT d1, d2, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
        |    FROM inter
        |    JOIN sizes na ON d1 = na.doc_id
        |    JOIN sizes nb ON d2 = nb.doc_id)
        |  WHERE jaccard >= 0.8)
        |SELECT 'n_docs' AS metric, count(*) AS value FROM documents
        |UNION ALL
        |SELECT 'gate_survivors', count(*) FROM metrics
        |WHERE n_tokens BETWEEN 30 AND 100000 AND avg_len BETWEEN 3.5 AND 5.0
        |  AND sw >= 0.03 AND rep <= 0.05
        |UNION ALL
        |SELECT 'total_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM metrics
        |UNION ALL
        |SELECT 'distinct_fingerprints', count(DISTINCT fp) FROM fps
        |UNION ALL
        |SELECT 'exact_dup_docs', CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM (
        |  SELECT fp, count(*) AS n FROM fps GROUP BY 1) WHERE n > 1
        |UNION ALL
        |SELECT 'near_dup_pairs', v FROM nd""".stripMargin,
    // q97: the q56 metric CTE, four flags, fail/unique-fail sums
    // unioned into long form.
    "q97_gate_ablation" ->
      """WITH m AS (
        |  SELECT n_tokens BETWEEN 30 AND 100000 AS t,
        |    avg_len BETWEEN 3.5 AND 5.0 AS l,
        |    sw >= 0.03 AS s, rep <= 0.05 AS r
        |  FROM (
        |    SELECT doc_id, len(tk) AS n_tokens,
        |      CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |        / len(tk) AS avg_len,
        |      CAST(len(list_filter(tk, x -> list_contains(
        |        ['the','a','an','of','and','to','in','is','it','on','for'], x)))
        |        AS DOUBLE) / len(tk) AS sw,
        |      1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rep
        |    FROM (
        |      SELECT doc_id, text, tk, list_transform(
        |        generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                              ELSE greatest(len(tk) - 1, 1) END),
        |        i -> concat_ws(' ', tk[i], tk[i + 1])) AS g
        |      FROM (
        |        SELECT doc_id, text,
        |          string_split_regex(trim(text), '\s+') AS tk
        |        FROM documents))))
        |SELECT 'tokens' AS rule,
        |  CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
        |  CAST(SUM(CASE WHEN NOT t AND l AND s AND r THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unique_fail FROM m
        |UNION ALL
        |SELECT 'avg_len',
        |  CAST(SUM(CASE WHEN NOT l THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN NOT l AND t AND s AND r THEN 1 ELSE 0 END)
        |    AS BIGINT) FROM m
        |UNION ALL
        |SELECT 'stopword',
        |  CAST(SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN NOT s AND t AND l AND r THEN 1 ELSE 0 END)
        |    AS BIGINT) FROM m
        |UNION ALL
        |SELECT 'repetition',
        |  CAST(SUM(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN NOT r AND t AND l AND s THEN 1 ELSE 0 END)
        |    AS BIGINT)
        |  FROM m""".stripMargin,
    // q98: the q54 packing chain rolled up per language stream.
    "q98_packing_efficiency" ->
      """WITH packed AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id
        |  FROM (
        |    SELECT doc_id, lang, n_tokens,
        |      SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM (
        |      SELECT doc_id, lang,
        |        len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |      FROM documents)))
        |SELECT lang, count(DISTINCT seq_id) AS n_seqs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  count(DISTINCT seq_id) * 256 AS budget_tokens
        |FROM packed GROUP BY 1""".stripMargin,
    // q96: the q31 classifier CTE rolled up against the labels.
    "q96_langid_confusion" ->
      s"""SELECT lang, CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
         |       WHEN s_es = m THEN 'es' ELSE 'fr' END AS lang_pred,
         |  count(*) AS n_docs
         |FROM (
         |  SELECT lang, s_en, s_de, s_es, s_fr,
         |    greatest(s_en, s_de, s_es, s_fr) AS m
         |  FROM (
         |    SELECT lang,
         |      ${profileSql(swList("en"))} AS s_en,
         |      ${profileSql(swList("de"))} AS s_de,
         |      ${profileSql(swList("es"))} AS s_es,
         |      ${profileSql(swList("fr"))} AS s_fr
         |    FROM (SELECT lang, $tokSql AS tk FROM documents)))
         |GROUP BY 1, 2""".stripMargin,
    // q94: the q33 pair chain + source joins, canonical pair order.
    "q94_dup_flow" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM toks,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT d1, d2, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
        |    FROM inter
        |    JOIN sizes na ON d1 = na.doc_id
        |    JOIN sizes nb ON d2 = nb.doc_id)
        |  WHERE jaccard >= 0.8)
        |SELECT least(a.source, b.source) AS src_a,
        |  greatest(a.source, b.source) AS src_b, count(*) AS n_pairs
        |FROM pairs p
        |JOIN documents a ON a.doc_id = p.d1
        |JOIN documents b ON b.doc_id = p.d2
        |GROUP BY 1, 2""".stripMargin,
    // q95: exact-dup group sizes through the bin()-length bands.
    "q95_dup_depth_spectrum" -> s"""WITH $dupCorpusSql,
        |g AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        |    count(*) AS sz
        |  FROM corpus GROUP BY 1)
        |SELECT length(bin(sz)) - 1 AS bucket, count(*) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1""".stripMargin,
    // q92: count-of-counts with the bin()-length floor-log2 device.
    "q92_frequency_spectrum" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT t, count(*) AS f FROM tok GROUP BY 1)
        |SELECT length(bin(f)) - 1 AS bucket, count(*) AS n_types,
        |  CAST(SUM(f) AS BIGINT) AS n_occurrences
        |FROM tf GROUP BY 1""".stripMargin,
    // q88: the serpentine deal replayed over the per-lang heaviest-first
    // rank — all-integer CASE arithmetic on ROW_NUMBER.
    "q88_shard_assign" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS w,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY len(string_split_regex(trim(text), '\s+')) DESC,
        |        doc_id ASC) AS rn
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id, w,
        |    CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
        |         ELSE 7 - (rn - 1) % 8 END AS shard
        |  FROM ranked)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS total_tokens
        |FROM assigned GROUP BY 1""".stripMargin,
    // q82: per-lang equal-frequency bands by ROW_NUMBER rank — the q69
    // deterministic-rank device with a bucket formula, all integers.
    "q82_rank_buckets" ->
      """SELECT doc_id, lang, n AS signal, ((rn - 1) * 3) // cnt AS bucket
        |FROM (
        |  SELECT doc_id, lang, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n ASC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(string_split_regex(trim(text), '\s+')) AS n
        |    FROM documents))""".stripMargin,
    // q83: the packSequences ROWS window with a budget filter on the
    // exclusive prefix sum.
    "q83_token_budget_cap" ->
      """SELECT doc_id, source, n AS n_tokens, cum AS cum_tokens
        |FROM (
        |  SELECT doc_id, source, n,
        |    CAST(SUM(n) OVER (PARTITION BY source ORDER BY n DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM (
        |    SELECT doc_id, source,
        |      len(string_split_regex(trim(text), '\s+')) AS n
        |    FROM documents))
        |WHERE cum - n < 1000""".stripMargin,
    // q84: the q80 split CASE + the q57 shingle containment, joined on
    // the dup-injected corpus; the oracle groups by literal shingle text
    // where Spark groups by md5 (collision-free, same pair counts).
    "q84_split_leakage" ->
      ("WITH " + dupCorpusSql + ",\n" +
        """tks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          |  FROM corpus),
          |sh AS (
          |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
          |  FROM tks,
          |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
          |sp AS (
          |  SELECT doc_id, CASE
          |      WHEN draw * 1000000 < 100000 * 4294967296 THEN 'test'
          |      WHEN draw * 1000000 < 200000 * 4294967296 THEN 'validation'
          |      ELSE 'train' END AS split
          |  FROM (
          |    SELECT doc_id, list_reduce(list_transform(
          |      string_split(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8), ''),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          |      (a, b) -> a * 16 + b) AS draw
          |    FROM corpus))
          |SELECT t.doc_id AS train_id, e.doc_id AS test_id,
          |  count(*) AS n_shared
          |FROM sh t
          |JOIN sp st ON t.doc_id = st.doc_id AND st.split = 'train'
          |JOIN sh e ON t.s = e.s
          |JOIN sp se ON e.doc_id = se.doc_id AND se.split = 'test'
          |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),
    // q81: the q70 md5/HUGEINT device doubled — both 64-bit md5 halves
    // become signed-BIGINT signature halves (HUGEINT intermediates, the
    // same >= 2^63 sign fold), and the brute-force verify sums bit_count
    // across the halves. Banding needs no oracle mirror: pigeonhole
    // recall is exact, so banded pairs == all pairs at hamming <= 3.
    "q81_simhash128_neardup" ->
      ("WITH " + dupCorpusSql + ",\n" +
        """tok AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
          |  FROM corpus),
          |h AS (
          |  SELECT doc_id,
          |    list_reduce(list_transform(
          |      string_split(substr(md5(t), 1, 16), ''),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),
          |      (a, b) -> a * 16 + b) AS hv1,
          |    list_reduce(list_transform(
          |      string_split(substr(md5(t), 17, 16), ''),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),
          |      (a, b) -> a * 16 + b) AS hv2
          |  FROM tok),
          |bits AS (
          |  SELECT doc_id, g.b AS b,
          |    CAST((hv1 // (1::HUGEINT << g.b)) % 2 AS BIGINT) AS bit1,
          |    CAST((hv2 // (1::HUGEINT << g.b)) % 2 AS BIGINT) AS bit2
          |  FROM h, LATERAL UNNEST(generate_series(0, 63)) AS g(b)),
          |votes AS (
          |  SELECT doc_id, b, SUM(2 * bit1 - 1) AS v1, SUM(2 * bit2 - 1) AS v2
          |  FROM bits GROUP BY 1, 2),
          |sig AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN s1 >= (1::HUGEINT << 63)
          |      THEN s1 - (1::HUGEINT << 64) ELSE s1 END AS BIGINT) AS sim_hi,
          |    CAST(CASE WHEN s2 >= (1::HUGEINT << 63)
          |      THEN s2 - (1::HUGEINT << 64) ELSE s2 END AS BIGINT) AS sim_lo
          |  FROM (
          |    SELECT doc_id,
          |      SUM(CASE WHEN v1 > 0 THEN (1::HUGEINT << b)
          |        ELSE 0::HUGEINT END) AS s1,
          |      SUM(CASE WHEN v2 > 0 THEN (1::HUGEINT << b)
          |        ELSE 0::HUGEINT END) AS s2
          |    FROM votes GROUP BY 1))
          |SELECT a.doc_id AS d1, b.doc_id AS d2,
          |  bit_count(xor(a.sim_hi, b.sim_hi))
          |    + bit_count(xor(a.sim_lo, b.sim_lo)) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sim_hi, b.sim_hi))
          |    + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3""".stripMargin),
    // q73: the q55 component oracle + a window picking the
    // max-token-count member per component (ties -> smallest id). The
    // quality proxy is integer-exact on both engines.
    "q73_component_best" ->
      ("WITH RECURSIVE " + cc64Sql + ",\n" +
        """comps AS (
          |  SELECT v AS doc_id, min(m) AS component_id FROM lbl GROUP BY v),
          |members AS (
          |  SELECT c.doc_id, comps.component_id,
          |    len(string_split_regex(trim(c.text), '\s+')) AS n_tokens
          |  FROM corpus c JOIN comps USING (doc_id))
          |SELECT component_id, doc_id AS kept_doc_id, n_tokens, n_members
          |FROM (
          |  SELECT component_id, doc_id, n_tokens,
          |    ROW_NUMBER() OVER (PARTITION BY component_id
          |      ORDER BY n_tokens DESC, doc_id ASC) AS rn,
          |    COUNT(*) OVER (PARTITION BY component_id) AS n_members
          |  FROM members)
          |WHERE rn = 1""".stripMargin),
    // q74: sliding 8-token windows (full windows only; DuckDB list
    // slices are inclusive, so tk[i : i+7] is 8 tokens), duplicated iff
    // the literal span text occurs in >= 2 distinct docs — the md5 span
    // keys on the Spark side are collision-free stand-ins for the text.
    "q74_repeated_spans" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM docs2),
        |    LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |dup AS (
        |  SELECT s FROM (SELECT DISTINCT doc_id, s FROM sp)
        |  GROUP BY s HAVING count(*) >= 2),
        |totals AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
        |dups AS (
        |  SELECT doc_id, count(*) AS n_dup_spans FROM sp
        |  WHERE s IN (SELECT s FROM dup) GROUP BY 1)
        |SELECT t.doc_id, t.n_spans,
        |  coalesce(d.n_dup_spans, 0) AS n_dup_spans
        |FROM totals t LEFT JOIN dups d USING (doc_id)""".stripMargin,
    // q207: q74's window/dup CTEs over the copy-extended corpus, then
    // the lag/running-sum island id and the per-island merge — 0-based
    // positions (g.i − 1) to match posexplode.
    "q207_repeated_intervals" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM docs2
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM docs2 WHERE doc_id % 20 = 0),
        |sp AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |    array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM corpus),
        |    LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |dup AS (
        |  SELECT s FROM (SELECT DISTINCT doc_id, s FROM sp)
        |  GROUP BY s HAVING count(*) >= 2),
        |inst AS (SELECT doc_id, pos FROM sp WHERE s IN (SELECT s FROM dup)),
        |lg AS (
        |  SELECT doc_id, pos,
        |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM inst),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM lg)
        |SELECT doc_id, CAST(island AS BIGINT) AS island,
        |  CAST(min(pos) AS BIGINT) AS start_pos,
        |  CAST(max(pos) + 8 AS BIGINT) AS end_pos,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY 1, 2""".stripMargin,

    // q210: the q207 island chain continued through the per-position
    // cut — covered positions unnest from the merged intervals, the
    // token stream anti-joins them, survivors re-join in position
    // order. clean_text must be byte-equal to Spark's rebuild.
    "q210_span_excision" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM docs2
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM docs2 WHERE doc_id % 20 = 0),
        |tk0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM corpus),
        |sp AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |    array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |dup AS (
        |  SELECT s FROM (SELECT DISTINCT doc_id, s FROM sp)
        |  GROUP BY s HAVING count(*) >= 2),
        |inst AS (SELECT doc_id, pos FROM sp WHERE s IN (SELECT s FROM dup)),
        |lg AS (
        |  SELECT doc_id, pos,
        |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM inst),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM lg),
        |iv AS (
        |  SELECT doc_id, min(pos) AS s0, max(pos) + 8 AS e0
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (
        |  SELECT doc_id, g.p AS pos
        |  FROM iv, LATERAL UNNEST(generate_series(s0, e0 - 1)) AS g(p)),
        |toks AS (
        |  SELECT doc_id, g.i - 1 AS pos, tk[g.i] AS tok
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk))) AS g(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk0)
        |SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
        |  t.n_tokens, t.n_tokens - COALESCE(a.n_kept, 0) AS n_removed
        |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q236: q210's chain up to the covered-position set, emitting
    // per-position flags instead of the cut.
    "q236_span_loss_mask" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM docs2
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM docs2 WHERE doc_id % 20 = 0),
        |tk0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM corpus),
        |sp AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |    array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |dup AS (
        |  SELECT s FROM (SELECT DISTINCT doc_id, s FROM sp)
        |  GROUP BY s HAVING count(*) >= 2),
        |inst AS (SELECT doc_id, pos FROM sp WHERE s IN (SELECT s FROM dup)),
        |lg AS (
        |  SELECT doc_id, pos,
        |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM inst),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM lg),
        |iv AS (
        |  SELECT doc_id, min(pos) AS s0, max(pos) + 8 AS e0
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (
        |  SELECT doc_id, g.p AS pos
        |  FROM iv, LATERAL UNNEST(generate_series(s0, e0 - 1)) AS g(p)),
        |toks AS (
        |  SELECT doc_id, g.i - 1 AS pos, tk[g.i] AS token
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk))) AS g(i))
        |SELECT t.doc_id, t.pos, t.token,
        |  CAST(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS masked
        |FROM toks t LEFT JOIN cov c
        |  ON c.doc_id = t.doc_id AND c.pos = t.pos""".stripMargin,

    // q212: q210's chain with the owner exemption — a duplicated
    // window's instances cut everywhere EXCEPT the min-doc-id owner.
    "q212_excise_canonical" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'cookie policy accept terms privacy notice all rights ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM docs2
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM docs2 WHERE doc_id % 20 = 0),
        |tk0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM corpus),
        |sp AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |    array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |own AS (
        |  SELECT s, min(doc_id) AS owner
        |  FROM (SELECT DISTINCT doc_id, s FROM sp)
        |  GROUP BY s HAVING count(*) >= 2),
        |inst AS (
        |  SELECT sp.doc_id, sp.pos FROM sp JOIN own ON sp.s = own.s
        |  WHERE sp.doc_id <> own.owner),
        |lg AS (
        |  SELECT doc_id, pos,
        |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM inst),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM lg),
        |iv AS (
        |  SELECT doc_id, min(pos) AS s0, max(pos) + 8 AS e0
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (
        |  SELECT doc_id, g.p AS pos
        |  FROM iv, LATERAL UNNEST(generate_series(s0, e0 - 1)) AS g(p)),
        |toks AS (
        |  SELECT doc_id, g.i - 1 AS pos, tk[g.i] AS tok
        |  FROM tk0, LATERAL UNNEST(generate_series(1, len(tk))) AS g(i)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk0)
        |SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
        |  t.n_tokens, t.n_tokens - COALESCE(a.n_kept, 0) AS n_removed
        |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q64: the q62 kMeans oracle (1 round) over the dup-injected corpus,
    // then within-cluster pairwise cosine (q42's double-cast discipline)
    // and the smaller-id-wins keep flag.
    "q64_semdedup" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings
        |  WHERE vec_id % 25 = 0),
        |c0 AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM emb WHERE vec_id % 64 = 0),
        |a0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        (list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |         - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
        |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
        |    FROM emb e, c0 c) WHERE rn = 1),
        |c1 AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |    SELECT a.cid, g.pos,
        |      round(avg(CAST(e.embedding[g.pos] AS DOUBLE)), 6) AS m
        |    FROM a0 a JOIN emb e USING (vec_id),
        |      LATERAL UNNEST(generate_series(1, 64)) AS g(pos)
        |    GROUP BY a.cid, g.pos)
        |  GROUP BY cid),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        (list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |         - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
        |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
        |    FROM emb e, c1 c) WHERE rn = 1),
        |mem AS (
        |  SELECT a.vec_id, a.cid AS cluster,
        |    CAST(e.embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[]))) AS nm
        |  FROM a1 a JOIN emb e USING (vec_id)),
        |red AS (
        |  SELECT DISTINCT b.vec_id FROM mem a JOIN mem b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.99)
        |SELECT m.vec_id, m.cluster, (r.vec_id IS NULL) AS keep
        |FROM mem m LEFT JOIN red r ON m.vec_id = r.vec_id""".stripMargin,
    // q65: per-dimension global ranges, then the identical floor chain;
    // pos is 0-based to match Spark's posexplode.
    "q65_scalar_quantize" ->
      """WITH expl AS (
        |  SELECT vec_id, g.pos - 1 AS pos,
        |    CAST(embedding[g.pos] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL UNNEST(generate_series(1, 64)) AS g(pos)),
        |ranges AS (
        |  SELECT pos, min(x) AS mn, max(x) AS mx FROM expl GROUP BY 1)
        |SELECT e.vec_id, e.pos,
        |  CASE WHEN r.mx = r.mn THEN 0
        |    ELSE least(255,
        |      CAST(floor((e.x - r.mn) * 255.0 / (r.mx - r.mn)) AS INT))
        |  END AS q
        |FROM expl e JOIN ranges r USING (pos)""".stripMargin,
    // q91: the q65 quantization chain, list-assembled codes, integer
    // dot ranking — no floats anywhere in the compared surface.
    "q91_int8_knn" ->
      """WITH expl AS (
        |  SELECT vec_id, g.pos - 1 AS pos,
        |    CAST(embedding[g.pos] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL UNNEST(generate_series(1, 64)) AS g(pos)),
        |ranges AS (
        |  SELECT pos, min(x) AS mn, max(x) AS mx FROM expl GROUP BY 1),
        |codes AS (
        |  SELECT e.vec_id, e.pos,
        |    CASE WHEN r.mx = r.mn THEN 0
        |      ELSE least(255,
        |        CAST(floor((e.x - r.mn) * 255.0 / (r.mx - r.mn)) AS INT))
        |    END AS q
        |  FROM expl e JOIN ranges r USING (pos)),
        |vecs AS (
        |  SELECT vec_id, list(CAST(q AS DOUBLE) ORDER BY pos) AS v
        |  FROM codes GROUP BY 1),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
        |    CAST(list_dot_product(q.v, c.v) AS BIGINT) AS dot
        |  FROM vecs q JOIN vecs c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id % 100 = 0)
        |SELECT qid, rank, neighbor_id, dot FROM (
        |  SELECT qid, neighbor_id, dot,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY dot DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,
    // q93: q44's coarse chain (assignment + nprobe probing) feeding
    // q91's integer-code rerank — candidates from floats q44 already
    // gates, scores pure BIGINT.
    "q93_ivf_int8" -> {
      def cos(a: String, b: String): String =
        s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
           |      / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           |        * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
      s"""WITH c AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |  WHERE vec_id % 64 = 0),
         |csim AS (
         |  SELECT e.vec_id, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS sim
         |  FROM embeddings e, c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim) WHERE rn = 1),
         |probed AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
         |    FROM csim WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assigned a USING (cid)
         |  WHERE a.vec_id != p.qid),
         |expl AS (
         |  SELECT vec_id, g.pos - 1 AS pos,
         |    CAST(embedding[g.pos] AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL UNNEST(generate_series(1, 64)) AS g(pos)),
         |ranges AS (
         |  SELECT pos, min(x) AS mn, max(x) AS mx FROM expl GROUP BY 1),
         |icodes AS (
         |  SELECT e.vec_id, e.pos,
         |    CASE WHEN r.mx = r.mn THEN 0
         |      ELSE least(255,
         |        CAST(floor((e.x - r.mn) * 255.0 / (r.mx - r.mn)) AS INT))
         |    END AS q
         |  FROM expl e JOIN ranges r USING (pos)),
         |vecs AS (
         |  SELECT vec_id, list(CAST(q AS DOUBLE) ORDER BY pos) AS v
         |  FROM icodes GROUP BY 1),
         |scored AS (
         |  SELECT cand.qid, cand.neighbor_id,
         |    CAST(list_dot_product(qv.v, cv.v) AS BIGINT) AS dot
         |  FROM cand
         |  JOIN vecs qv ON qv.vec_id = cand.qid
         |  JOIN vecs cv ON cv.vec_id = cand.neighbor_id)
         |SELECT qid, rank, neighbor_id, dot FROM (
         |  SELECT qid, neighbor_id, dot,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY dot DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    },
    // q60: the q56 → q32 → q33 → q57 → q58 → q52 → q54 oracle fragments
    // chained in pipeline order. Float comparisons are each a single
    // division of identical integers on both engines (quality thresholds,
    // jaccard); the sampling decision is pure BIGINT
    // (draw·10⁶ < rate_ppm·2³²), so the composition stays hash-robust
    // end to end.
    "q60_curation_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |metrics AS (
        |  SELECT doc_id, lang, text, tk, len(tk) AS n_tokens,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / len(tk) AS avg_len,
        |    CAST(len(list_filter(tk, x -> list_contains(
        |      ['the','a','an','of','and','to','in','is','it','on','for'], x)))
        |      AS DOUBLE) / len(tk) AS sw,
        |    1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rep
        |  FROM (
        |    SELECT doc_id, lang, text, tk, list_transform(
        |      generate_series(1, CASE WHEN len(tk) = 0 THEN 0
        |                            ELSE greatest(len(tk) - 1, 1) END),
        |      i -> concat_ws(' ', tk[i], tk[i + 1])) AS g
        |    FROM base)),
        |quality AS (
        |  SELECT doc_id, lang, text, tk, n_tokens FROM metrics
        |  WHERE n_tokens BETWEEN 30 AND 100000
        |    AND avg_len BETWEEN 3.5 AND 5.0 AND sw >= 0.03 AND rep <= 0.05),
        |reps AS (
        |  SELECT doc_id, lang, tk, n_tokens FROM (
        |    SELECT doc_id, lang, tk, n_tokens,
        |      min(doc_id) OVER (PARTITION BY fp) AS cid
        |    FROM (
        |      SELECT doc_id, lang, tk, n_tokens,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |      FROM quality))
        |  WHERE doc_id = cid),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM reps,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |neardrop AS (
        |  SELECT DISTINCT d2 FROM (
        |    SELECT i.d1, i.d2, CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) AS j
        |    FROM inter i JOIN sizes na ON i.d1 = na.doc_id
        |    JOIN sizes nb ON i.d2 = nb.doc_id)
        |  WHERE j >= 0.8),
        |dd AS (
        |  SELECT doc_id, lang, n_tokens FROM reps
        |  WHERE doc_id NOT IN (SELECT d2 FROM neardrop)),
        |bench AS (
        |  SELECT doc_id + 3000000 AS doc_id,
        |    string_split_regex(trim(text || ' bb1 bb2'), '\s+') AS tk
        |  FROM documents WHERE doc_id % 97 = 0),
        |bs AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i.g:i.g+2], ' ') AS s
        |  FROM bench,
        |    LATERAL UNNEST(generate_series(1, greatest(len(tk)-2, 1))) AS i(g)),
        |contaminated AS (
        |  SELECT c.doc_id FROM sh c JOIN bs b ON c.s = b.s
        |  WHERE c.doc_id IN (SELECT doc_id FROM dd)
        |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 5),
        |clean AS (
        |  SELECT doc_id, lang, n_tokens FROM dd
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |rates AS (
        |  SELECT lang, CAST(least(1000000::HUGEINT,
        |    (CAST(SUM(stratum_tokens) OVER () AS HUGEINT) * 1000000)
        |      // (COUNT(*) OVER () * stratum_tokens)) AS BIGINT) AS rate_ppm
        |  FROM (SELECT lang, SUM(n_tokens) AS stratum_tokens
        |        FROM clean GROUP BY 1)),
        |sampled AS (
        |  SELECT c.doc_id, c.lang, c.n_tokens
        |  FROM clean c JOIN rates r ON c.lang = r.lang
        |  WHERE list_reduce(list_transform(
        |      string_split(substr(md5('mix:' || CAST(c.doc_id AS VARCHAR)), 1, 8), ''),
        |      x -> CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) * 1000000 < r.rate_ppm * 4294967296)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sampled)""".stripMargin,
    // q115: the same unigram model replayed relationally — per-(doc,
    // token) counts, corpus vocab, the bin()-length floor-log2 band of
    // the integer ratio, ppm mean per doc. All-integer end to end.
    "q115_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |dt AS (SELECT doc_id, t, count(*) AS n_dt FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT t, CAST(sum(n_dt) AS BIGINT) AS c FROM dt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab),
        |banded AS (
        |  SELECT dt.doc_id, dt.n_dt, length(bin(total // c)) - 1 AS band
        |  FROM dt JOIN vocab USING (t) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(n_dt) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_dt * band) AS BIGINT) AS sum_bands,
        |  CAST(sum(n_dt * band) * 1000000 // sum(n_dt) AS BIGINT)
        |    AS surprisal_ppm
        |FROM banded GROUP BY 1""".stripMargin,
    // q116: fertility rollup — the BPE regex device from q46, the
    // whitespace-stripped char count from q100, integer-ppm ratio.
    "q116_tokenizer_fertility" -> {
      val pat = TA.BpePattern.replace("'", "''")
      s"""WITH per_doc AS (
         |  SELECT lang,
         |    len(string_split_regex(trim(text), '\\s+')) AS ws,
         |    len(regexp_extract_all(text, '$pat')) AS bpe,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS ch
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(ch) AS BIGINT) AS n_chars,
         |  CAST(sum(ch) * 1000000 // NULLIF(CAST(sum(bpe) AS BIGINT), 0)
         |    AS BIGINT) AS chars_per_bpe_ppm
         |FROM per_doc GROUP BY 1""".stripMargin
    },
    // q118: the same adjacent-pair enumeration over DuckDB's 1-based
    // lists; total ORDER BY makes the LIMIT 100 boundary deterministic.
    "q118_bpe_merge_pairs" -> {
      val pat = TA.BpePattern.replace("'", "''")
      s"""WITH pieces AS (
         |  SELECT regexp_extract_all(text, '$pat') AS ps FROM documents),
         |pairs AS (
         |  SELECT ps[i] AS p1, ps[i + 1] AS p2
         |  FROM pieces, unnest(generate_series(1, len(ps) - 1)) AS g(i)
         |  WHERE len(ps) >= 2)
         |SELECT p1, p2, count(*) AS n_pairs
         |FROM pairs GROUP BY 1, 2
         |ORDER BY n_pairs DESC, p1 ASC, p2 ASC LIMIT 100""".stripMargin
    },
    // q119: the q115 surprisal chain feeding the q82 rank-bucket window.
    "q119_ccnet_split" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |dt AS (SELECT doc_id, t, count(*) AS n_dt FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT t, CAST(sum(n_dt) AS BIGINT) AS c FROM dt GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab),
        |banded AS (
        |  SELECT dt.doc_id, dt.n_dt, length(bin(total // c)) - 1 AS band
        |  FROM dt JOIN vocab USING (t) CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(sum(n_dt * band) * 1000000 // sum(n_dt) AS BIGINT) AS sp
        |  FROM banded GROUP BY 1),
        |j AS (
        |  SELECT s.doc_id, d.lang, s.sp
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, sp AS signal, ((rn - 1) * 3) // cnt AS bucket
        |FROM (
        |  SELECT doc_id, lang, sp,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY sp ASC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM j)""".stripMargin,
    // q120: the bigram chain — 1-based pair enumeration, unigram counts
    // from the `cur` positions (each occurrence appears exactly once as
    // cur), conditional band for i > 1, unigram band at i = 1.
    "q120_bigram_surprisal" ->
      """WITH src AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, CASE WHEN i > 1 THEN tk[i - 1] END AS prev,
        |    tk[i] AS cur
        |  FROM src, unnest(generate_series(1, len(tk))) AS g(i)),
        |uni AS (SELECT cur AS t, CAST(count(*) AS BIGINT) AS c1
        |        FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni),
        |big AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c12
        |        FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2),
        |banded AS (
        |  SELECT p.doc_id,
        |    CASE WHEN p.prev IS NULL THEN length(bin(total // uc.c1)) - 1
        |         ELSE length(bin(up.c1 // b.c12)) - 1 END AS band
        |  FROM pairs p
        |  JOIN uni uc ON uc.t = p.cur
        |  LEFT JOIN uni up ON up.t = p.prev
        |  LEFT JOIN big b ON b.prev = p.prev AND b.cur = p.cur
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(band) AS BIGINT) AS sum_bands,
        |  CAST(sum(band) * 1000000 // count(*) AS BIGINT) AS surprisal_ppm
        |FROM banded GROUP BY 1""".stripMargin,
    // q117: the q85 recall harness with the approx side replaced by the
    // 32-dim truncation (DuckDB 1-based inclusive list slice = Spark's
    // slice(embedding, 1, 32)); cosine re-normalizes per pair so no
    // re-scaling term appears.
    "q117_matryoshka_recall" -> {
      def cos(a: String, b: String): String =
        s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
           |      / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           |        * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % 100 = 0),
         |fscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    ${cos("q.qv", "e.embedding")} AS sim
         |  FROM q, embeddings e WHERE e.vec_id != q.qid),
         |ftop AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM fscored)
         |  WHERE rank <= 10),
         |tscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    ${cos("q.qv[1:32]", "e.embedding[1:32]")} AS sim
         |  FROM q, embeddings e WHERE e.vec_id != q.qid),
         |ttop AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM tscored)
         |  WHERE rank <= 10),
         |hits AS (
         |  SELECT f.qid, count(*) AS n_hits
         |  FROM ftop f JOIN ttop tt
         |    ON f.qid = tt.qid AND f.neighbor_id = tt.neighbor_id
         |  GROUP BY 1)
         |SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
         |  (COALESCE(h.n_hits, 0) * 1000000) // 10 AS recall_ppm
         |FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits h USING (qid)""".stripMargin
    },

    // q124: the whole PQ chain replayed — per-subspace seeds, two
    // rounded k-means rounds keyed by subspace (the q62 device), final
    // assignment, reconstruction, asymmetric-distance ranking. The
    // round(·, 6) on every centroid update is what makes a float
    // pipeline this deep replayable: no engine's summation-order ulp
    // survives the rounding.
    "q124_pq_knn" -> {
      def assignSql(subsTable: String, cTable: String, name: String): String =
        s"""$name AS (
           |  SELECT vec_id, sub, cid FROM (
           |    SELECT sv.vec_id, sv.sub, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
           |        (list_dot_product(sv.sv, sv.sv)
           |         - 2.0 * list_dot_product(sv.sv, c.cv)
           |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
           |    FROM $subsTable sv JOIN $cTable c ON c.sub = sv.sub) WHERE rn = 1)"""
          .stripMargin
      def updateSql(aTable: String, name: String): String =
        s"""$name AS (
           |  SELECT sub, cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a.sub, a.cid, g.pos, round(avg(sv.sv[g.pos]), 6) AS m
           |    FROM $aTable a JOIN tsubs sv
           |      ON sv.vec_id = a.vec_id AND sv.sub = a.sub,
           |      LATERAL UNNEST(generate_series(1, 8)) AS g(pos)
           |    GROUP BY 1, 2, 3)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |rate AS (
         |  SELECT least(1000000, 256000000 // count(*)) AS ppm FROM emb),
         |trn AS (
         |  SELECT vec_id, v FROM emb, rate
         |  WHERE list_reduce(list_transform(
         |      string_split(substr(md5('pqtrain:' || CAST(vec_id AS VARCHAR)), 1, 8), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) * 1000000 < ppm * 4294967296),
         |subs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM emb, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |tsubs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM trn, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |c0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM tsubs WHERE vec_id % 8 = 0),
         |${assignSql("tsubs", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("tsubs", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("subs", "c2", "a2")},
         |recon AS (
         |  SELECT a.vec_id, flatten(list(c.cv ORDER BY a.sub)) AS rv
         |  FROM a2 a JOIN c2 c ON c.sub = a.sub AND c.cid = a.cid
         |  GROUP BY 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, q.qv, r.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, r.rv)
         |      + list_dot_product(r.rv, r.rv) AS d
         |  FROM q, recon r WHERE r.vec_id != q.qid),
         |cand AS (
         |  SELECT qid, qv, neighbor_id FROM (
         |    SELECT qid, qv, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, neighbor_id ASC)
         |        AS rn
         |    FROM scored)
         |  WHERE rn <= 50),
         |rer AS (
         |  SELECT c.qid, c.neighbor_id,
         |    list_dot_product(c.qv, c.qv) - 2.0 * list_dot_product(c.qv, e.v)
         |      + list_dot_product(e.v, e.v) AS de
         |  FROM cand c JOIN emb e ON e.vec_id = c.neighbor_id)
         |SELECT qid, rank, neighbor_id FROM (
         |  SELECT qid, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY de ASC, neighbor_id ASC)
         |      AS rank
         |  FROM rer)
         |WHERE rank <= 10""".stripMargin
    },

    // q218: the IVF+PQ composition replayed end to end — q93's coarse
    // chain (id-sampled centroids, rn=1 assignment, rn<=4 probing)
    // restricts the candidate set; q124's PQ chain (md5 training draw,
    // two rounded k-means rounds keyed by subspace, full-corpus
    // encode, reconstruction) scores it; ADC top-50 then exact rerank
    // top-10, both with the d-then-id deterministic tie-break.
    "q218_ivfpq_indexed" -> {
      def assignSql(subsTable: String, cTable: String, name: String): String =
        s"""$name AS (
           |  SELECT vec_id, sub, cid FROM (
           |    SELECT sv.vec_id, sv.sub, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
           |        (list_dot_product(sv.sv, sv.sv)
           |         - 2.0 * list_dot_product(sv.sv, c.cv)
           |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
           |    FROM $subsTable sv JOIN $cTable c ON c.sub = sv.sub) WHERE rn = 1)"""
          .stripMargin
      def updateSql(aTable: String, name: String): String =
        s"""$name AS (
           |  SELECT sub, cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a.sub, a.cid, g.pos, round(avg(sv.sv[g.pos]), 6) AS m
           |    FROM $aTable a JOIN tsubs sv
           |      ON sv.vec_id = a.vec_id AND sv.sub = a.sub,
           |      LATERAL UNNEST(generate_series(1, 8)) AS g(pos)
           |    GROUP BY 1, 2, 3)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |coarse AS (
         |  SELECT vec_id AS ccid, v AS cv FROM emb WHERE vec_id % 64 = 0),
         |csim AS (
         |  SELECT e.vec_id, c.ccid,
         |    list_dot_product(e.v, c.cv)
         |      / (sqrt(list_dot_product(e.v, e.v))
         |        * sqrt(list_dot_product(c.cv, c.cv))) AS sim
         |  FROM emb e, coarse c),
         |assignedc AS (
         |  SELECT vec_id, ccid FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, ccid ASC) AS rn
         |    FROM csim) WHERE rn = 1),
         |probed AS (
         |  SELECT vec_id AS qid, ccid FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, ccid ASC) AS rn
         |    FROM csim WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assignedc a USING (ccid)
         |  WHERE a.vec_id != p.qid),
         |rate AS (
         |  SELECT least(1000000, 256000000 // count(*)) AS ppm FROM emb),
         |trn AS (
         |  SELECT vec_id, v FROM emb, rate
         |  WHERE list_reduce(list_transform(
         |      string_split(substr(md5('pqtrain:' || CAST(vec_id AS VARCHAR)), 1, 8), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) * 1000000 < ppm * 4294967296),
         |subs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM emb, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |tsubs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM trn, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |c0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM tsubs WHERE vec_id % 8 = 0),
         |${assignSql("tsubs", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("tsubs", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("subs", "c2", "a2")},
         |recon AS (
         |  SELECT a.vec_id, flatten(list(c.cv ORDER BY a.sub)) AS rv
         |  FROM a2 a JOIN c2 c ON c.sub = a.sub AND c.cid = a.cid
         |  GROUP BY 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT cand.qid, q.qv, cand.neighbor_id,
         |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, r.rv)
         |      + list_dot_product(r.rv, r.rv) AS d
         |  FROM cand JOIN q ON q.qid = cand.qid
         |  JOIN recon r ON r.vec_id = cand.neighbor_id),
         |short AS (
         |  SELECT qid, qv, neighbor_id FROM (
         |    SELECT qid, qv, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY d ASC, neighbor_id ASC) AS rn
         |    FROM scored)
         |  WHERE rn <= 50),
         |rer AS (
         |  SELECT s.qid, s.neighbor_id,
         |    list_dot_product(s.qv, s.qv) - 2.0 * list_dot_product(s.qv, e.v)
         |      + list_dot_product(e.v, e.v) AS de
         |  FROM short s JOIN emb e ON e.vec_id = s.neighbor_id)
         |SELECT qid, rank, neighbor_id FROM (
         |  SELECT qid, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY de ASC, neighbor_id ASC)
         |      AS rank
         |  FROM rer)
         |WHERE rank <= 10""".stripMargin
    },

    // q238: q218's full IVF+PQ replay with the probe depth kept to 8
    // and PER-NPROBE ranking — candidates carry their list's probe
    // rank (each corpus vector sits in exactly one rn=1 list, so the
    // rank is unique per candidate), the ADC scores compute ONCE, and
    // each (nprobe, reranked) cell re-ranks the prefix prn <= nprobe.
    // Brute-force side is q85's cosine chain at the %200 query sample.
    "q238_ivfpq_recall_vs_nprobe" -> {
      def assignSql(subsTable: String, cTable: String, name: String): String =
        s"""$name AS (
           |  SELECT vec_id, sub, cid FROM (
           |    SELECT sv.vec_id, sv.sub, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
           |        (list_dot_product(sv.sv, sv.sv)
           |         - 2.0 * list_dot_product(sv.sv, c.cv)
           |         + list_dot_product(c.cv, c.cv)) ASC, c.cid ASC) AS rn
           |    FROM $subsTable sv JOIN $cTable c ON c.sub = sv.sub) WHERE rn = 1)"""
          .stripMargin
      def updateSql(aTable: String, name: String): String =
        s"""$name AS (
           |  SELECT sub, cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a.sub, a.cid, g.pos, round(avg(sv.sv[g.pos]), 6) AS m
           |    FROM $aTable a JOIN tsubs sv
           |      ON sv.vec_id = a.vec_id AND sv.sub = a.sub,
           |      LATERAL UNNEST(generate_series(1, 8)) AS g(pos)
           |    GROUP BY 1, 2, 3)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id % 200 = 0),
         |bscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, e.v)
         |      / (sqrt(list_dot_product(q.qv, q.qv))
         |        * sqrt(list_dot_product(e.v, e.v))) AS sim
         |  FROM q, emb e WHERE e.vec_id != q.qid),
         |btop AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM bscored)
         |  WHERE rank <= 10),
         |coarse AS (
         |  SELECT vec_id AS ccid, v AS cv FROM emb WHERE vec_id % 64 = 0),
         |csim AS (
         |  SELECT e.vec_id, c.ccid,
         |    list_dot_product(e.v, c.cv)
         |      / (sqrt(list_dot_product(e.v, e.v))
         |        * sqrt(list_dot_product(c.cv, c.cv))) AS sim
         |  FROM emb e, coarse c),
         |assignedc AS (
         |  SELECT vec_id, ccid FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, ccid ASC) AS rn
         |    FROM csim) WHERE rn = 1),
         |probed AS (
         |  SELECT vec_id AS qid, ccid, rn AS prn FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, ccid ASC) AS rn
         |    FROM csim WHERE vec_id % 200 = 0) WHERE rn <= 8),
         |cand AS (
         |  SELECT p.qid, p.prn, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assignedc a USING (ccid)
         |  WHERE a.vec_id != p.qid),
         |rate AS (
         |  SELECT least(1000000, 256000000 // count(*)) AS ppm FROM emb),
         |trn AS (
         |  SELECT vec_id, v FROM emb, rate
         |  WHERE list_reduce(list_transform(
         |      string_split(substr(md5('pqtrain:' || CAST(vec_id AS VARCHAR)), 1, 8), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) * 1000000 < ppm * 4294967296),
         |subs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM emb, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |tsubs AS (
         |  SELECT vec_id, s.sub,
         |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         |  FROM trn, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |c0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM tsubs WHERE vec_id % 8 = 0),
         |${assignSql("tsubs", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("tsubs", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("subs", "c2", "a2")},
         |recon AS (
         |  SELECT a.vec_id, flatten(list(c.cv ORDER BY a.sub)) AS rv
         |  FROM a2 a JOIN c2 c ON c.sub = a.sub AND c.cid = a.cid
         |  GROUP BY 1),
         |scored AS (
         |  SELECT cand.qid, cand.prn, q.qv, cand.neighbor_id,
         |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, r.rv)
         |      + list_dot_product(r.rv, r.rv) AS d
         |  FROM cand JOIN q ON q.qid = cand.qid
         |  JOIN recon r ON r.vec_id = cand.neighbor_id),
         |nps AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
         |adcr AS (
         |  SELECT s.qid, n.nprobe, s.qv, s.neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY s.qid, n.nprobe
         |      ORDER BY s.d ASC, s.neighbor_id ASC) AS rn
         |  FROM scored s JOIN nps n ON s.prn <= n.nprobe),
         |atop AS (SELECT qid, nprobe, neighbor_id FROM adcr WHERE rn <= 10),
         |rer AS (
         |  SELECT s.qid, s.nprobe, s.neighbor_id,
         |    list_dot_product(s.qv, s.qv) - 2.0 * list_dot_product(s.qv, e.v)
         |      + list_dot_product(e.v, e.v) AS de
         |  FROM (SELECT * FROM adcr WHERE rn <= 50) s
         |  JOIN emb e ON e.vec_id = s.neighbor_id),
         |rtop AS (
         |  SELECT qid, nprobe, neighbor_id FROM (
         |    SELECT qid, nprobe, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid, nprobe
         |        ORDER BY de ASC, neighbor_id ASC) AS rank
         |    FROM rer)
         |  WHERE rank <= 10),
         |approx AS (
         |  SELECT qid, nprobe, false AS reranked, neighbor_id FROM atop
         |  UNION ALL
         |  SELECT qid, nprobe, true AS reranked, neighbor_id FROM rtop),
         |hits AS (
         |  SELECT a.qid, a.nprobe, a.reranked, count(*) AS n_hits
         |  FROM btop b JOIN approx a
         |    ON a.qid = b.qid AND a.neighbor_id = b.neighbor_id
         |  GROUP BY 1, 2, 3),
         |grid AS (
         |  SELECT q.qid, n.nprobe, r.reranked
         |  FROM (SELECT DISTINCT qid FROM q) q, nps n,
         |    (SELECT unnest([false, true]) AS reranked) r)
         |SELECT g.qid, COALESCE(h.n_hits, 0) AS n_hits,
         |  (COALESCE(h.n_hits, 0) * 1000000) // 10 AS recall_ppm,
         |  g.nprobe, g.reranked
         |FROM grid g LEFT JOIN hits h
         |  ON h.qid = g.qid AND h.nprobe = g.nprobe
         |    AND h.reranked = g.reranked""".stripMargin
    },

    // q126: the same integer chain — floor(sqrt) is IEEE-exact on both
    // engines, everything else is BIGINT with `//` floor division and
    // the mixRates base-1000 device.
    "q126_temperature_rates" ->
      """WITH agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS stratum_tokens
        |  FROM documents GROUP BY 1),
        |sq AS (
        |  SELECT *, CAST(floor(sqrt(stratum_tokens)) AS BIGINT)
        |    AS sqrt_weight FROM agg),
        |tot AS (
        |  SELECT *, CAST(SUM(sqrt_weight) OVER () AS BIGINT) AS sw,
        |    CAST(SUM(stratum_tokens) OVER () AS BIGINT) AS total
        |  FROM sq),
        |sh AS (
        |  SELECT lang, n_docs, stratum_tokens, sqrt_weight,
        |    (sqrt_weight * 1000000) // sw AS share_ppm, total
        |  FROM tot),
        |tg AS (
        |  SELECT *, least(stratum_tokens,
        |    ((total // 4) // 1000000) * share_ppm
        |      + (((total // 4) % 1000000) * share_ppm) // 1000000)
        |    AS target_tokens
        |  FROM sh)
        |SELECT lang, n_docs, stratum_tokens, sqrt_weight, share_ppm,
        |  target_tokens,
        |  CAST(CASE WHEN target_tokens >= stratum_tokens THEN 1000000
        |    ELSE ((target_tokens * 1000) // stratum_tokens) * 1000
        |      + ((target_tokens * 1000) % stratum_tokens) * 1000
        |        // stratum_tokens END AS BIGINT) AS rate_ppm
        |FROM tg""".stripMargin,

    // q181: all-pairs fuzzy edges (the q167 oracle) + the cc64Sql-shape
    // recursive label propagation over the same 60-bit md5-prefix ids.
    "q181_entity_clusters" ->
      """WITH RECURSIVE vocab AS (
        |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+'))
        |    AS w
        |  FROM documents),
        |v AS (
        |  SELECT w, list_reduce(list_transform(
        |    string_split(substr(md5('ent:' || w), 1, 15), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS wid
        |  FROM vocab WHERE len(w) BETWEEN 1 AND 24),
        |p AS (
        |  SELECT a.wid AS i1, b.wid AS i2 FROM v a JOIN v b
        |  ON a.w < b.w WHERE levenshtein(a.w, b.w) <= 2),
        |e AS (SELECT i1 AS a, i2 AS b FROM p
        |  UNION ALL SELECT i2, i1 FROM p),
        |lbl AS (
        |  SELECT wid AS x, wid AS m FROM v
        |  UNION
        |  SELECT e.a, lbl.m FROM e JOIN lbl ON lbl.x = e.b),
        |comp AS (SELECT x, min(m) AS cluster_id FROM lbl GROUP BY x)
        |SELECT v.w AS word, comp.cluster_id
        |FROM v JOIN comp ON comp.x = v.wid""".stripMargin,

    // q183: the same distinct-hit intersection with the terms filter.
    "q183_boolean_and_search" ->
      """WITH hits AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents)
        |  WHERE t IN ('spark', 'join', 'window')),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM hits GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_matches
        |FROM g GROUP BY doc_id HAVING count(*) = 3""".stripMargin,

    // q175: the identical sketch replayed — same md5-prefix hash, same
    // distinct-(stratum, h), same k=64 cut, same estimate and Jaccard
    // arithmetic. Gates the algorithm bit-for-bit, not an error band.
    // q189 serves the same report from the persisted MERGED index —
    // KMV's merge closure makes it equal the single-shot sketch, so the
    // oracle is shared verbatim (kmvOracleSql).
    "q175_kmv_setops" -> kmvOracleSql,
    "q189_kmv_merged" -> kmvOracleSql,

    // q192: the identical 3-round BPE induction, unrolled — per round
    // the position-counted weighted pair aggregate, the (count desc,
    // lexicographic) argmax, and the list_reduce replay of the greedy
    // merge state machine ('P'/'N' pending prefix, chr(1)-joined
    // emission) over the vocabulary forms.
    "q192_bpe_train" -> bpeOracleSql(3),
    "q193_bpe_fertility" -> bpeFertilityOracleSql(3),

    // q200: the two single-shot replays, cross-joined (both 1 row).
    "q200_index_dashboard" ->
      s"""WITH kmvres AS ($kmvOracleSql),
         |histres AS (${RelationalQueries.histOracleSql})
         |SELECT * FROM kmvres, histres""".stripMargin,

    // q197: the identical 4×256 sketch rebuilt — same per-row md5
    // salts, same cell counts, same min-of-d estimates.
    "q197_cms_counts" -> cmsOracleSql,

    // q203: the one-shot q197 oracle verbatim — the merged persisted
    // index must be cell-identical to the from-scratch sketch (count-min
    // merge closure), so the same SQL gates both.
    "q203_cms_index" -> cmsOracleSql,

    "q209_bloom_index" -> bloomOracleSql,

    // q215: the EXACT no-bloom contamination — the Spark side's bloom
    // pre-filter must be invisible in the result.
    "q215_bloom_decontam" ->
      """WITH sp AS (
        |  SELECT doc_id, array_to_string(tk[g.i:g.i+7], ' ') AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM documents),
        |    LATERAL UNNEST(generate_series(1, len(tk) - 7)) AS g(i)),
        |bench AS (SELECT DISTINCT s FROM sp WHERE doc_id % 17 = 0),
        |corp AS (SELECT doc_id, s FROM sp WHERE doc_id % 17 <> 0),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
        |  FROM corp GROUP BY 1),
        |cont AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nc
        |  FROM corp WHERE s IN (SELECT s FROM bench) GROUP BY 1)
        |SELECT t.doc_id, t.n_windows,
        |  COALESCE(c.nc, 0) AS n_contaminated
        |FROM tot t LEFT JOIN cont c USING (doc_id)""".stripMargin,

    // q196: brute-force pair enumeration — every doc pair's exact
    // distinct-word Jaccard, integer cross-multiplied threshold. The
    // Spark side's prefix filter must reproduce this EXACTLY.
    "q196_setsim_join" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(list_distinct(
        |      string_split_regex(trim(text), '\s+')), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id % 5 = 0),
        |sized AS (SELECT doc_id, tk, len(tk) AS sz FROM toks WHERE len(tk) >= 1),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter,
        |    CAST(a.sz + b.sz - len(list_intersect(a.tk, b.tk)) AS BIGINT) AS uni
        |  FROM sized a JOIN sized b ON a.doc_id < b.doc_id)
        |SELECT d1, d2,
        |  CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_ppm
        |FROM pairs
        |WHERE uni > 0 AND inter * 1000000 >= 800000 * uni""".stripMargin,

    // q164: the same integer ppm BM25 chain, term by term — the Scala
    // side and this SQL are generated from one formula shape (44·tf·T /
    // (20·T·tf + 6·T + 18·dl·N) through base-1000 division, raw-RSJ idf
    // ratio), so `div` here is `//` there and nothing else differs.
    "q164_bm25_search" -> bm25OracleSql(Seq("spark", "merge", "vector"), 20),

    // q211: the same corpus-scan BM25 — the index serving path must be
    // indistinguishable from the scan, score for score.
    "q211_bm25_indexed" -> bm25OracleSql(Seq("spark", "merge", "vector"), 20),

    // q167: the oracle is the ALL-PAIRS scan the symmetric-delete
    // blocking provably equals (deletion-variant coverage theorem) —
    // the strongest possible gate for a blocked join: any missed pair
    // hash-fails.
    "q167_fuzzy_vocab_pairs" ->
      """WITH vocab AS (
        |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+'))
        |    AS w
        |  FROM documents),
        |v AS (SELECT w FROM vocab WHERE len(w) BETWEEN 1 AND 24)
        |SELECT a.w AS w1, b.w AS w2,
        |  CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin,

    // q168: q117's two brute-force rankings, ranks kept, fused with the
    // integer RRF sum — rank values agree cross-engine (q117's gate),
    // so the fusion must too.
    "q168_rrf_fusion" -> {
      def cos(a: String, b: String): String =
        s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
           |      / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           |        * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id % 100 = 0),
         |fscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    ${cos("q.qv", "e.embedding")} AS sim
         |  FROM q, embeddings e WHERE e.vec_id != q.qid),
         |ftop AS (
         |  SELECT qid, neighbor_id, rank FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM fscored)
         |  WHERE rank <= 10),
         |tscored AS (
         |  SELECT q.qid, e.vec_id AS neighbor_id,
         |    ${cos("q.qv[1:32]", "e.embedding[1:32]")} AS sim
         |  FROM q, embeddings e WHERE e.vec_id != q.qid),
         |ttop AS (
         |  SELECT qid, neighbor_id, rank FROM (
         |    SELECT qid, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC)
         |        AS rank
         |    FROM tscored)
         |  WHERE rank <= 10),
         |pool AS (
         |  SELECT qid, neighbor_id, rank FROM ftop
         |  UNION ALL
         |  SELECT qid, neighbor_id, rank FROM ttop),
         |f AS (
         |  SELECT qid, neighbor_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
         |    count(*) AS n_lists
         |  FROM pool GROUP BY 1, 2)
         |SELECT qid, fused_rank, neighbor_id, rrf_ppm, n_lists FROM (
         |  SELECT qid, neighbor_id, rrf_ppm, n_lists,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rrf_ppm DESC, neighbor_id ASC) AS fused_rank
         |  FROM f)
         |WHERE fused_rank <= 5""".stripMargin
    },

    // q170: same chain — (doc, token) tf, token df, scalar N, raw-ratio
    // idf ppm, per-doc top-3 window with the identical tie order.
    "q170_tfidf_terms" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT doc_id, term_rank, token, tf, df, score_ppm FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, dft.df,
        |    tf.tf * ((n.n * 1000000) // dft.df) AS score_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ((n.n * 1000000) // dft.df) DESC,
        |        tf.token ASC) AS term_rank
        |  FROM tf JOIN dft USING (token), n)
        |WHERE term_rank <= 3""".stripMargin
  )

  /** q164's DuckDB oracle, generated from the same formula shape as
    * [[Corpus.bm25TopK]] (`div` ↔ `//`, CASE guard, base-1000 steps) so
    * the two sides cannot drift term-by-term.
    */
  private def bm25OracleSql(terms: Seq[String], topK: Int): String = {
    val tfCols = terms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$term')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n    ")
    val score = terms.indices.map { i =>
      val n0 = s"(44 * tf$i * t)"
      val den = s"(20 * t * tf$i + 6 * t + 18 * dl * n)"
      val tfp = s"(($n0 // $den) * 1000000" +
        s" + (($n0 % $den) * 1000 // $den) * 1000" +
        s" + ((($n0 % $den) * 1000) % $den) * 1000 // $den)"
      val idf = s"(((2 * n - 2 * df$i + 1) * 1000000) // (2 * df$i + 1))"
      s"(CASE WHEN tf$i > 0 THEN ($tfp * $idf) // 1000000 ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM toks),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t,
       |    $dfCols
       |  FROM d),
       |sc AS (
       |  SELECT doc_id,
       |    $score
       |    AS score_ppm
       |  FROM d, st)
       |SELECT doc_id, score_ppm,
       |  ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS rank
       |FROM sc WHERE score_ppm > 0
       |ORDER BY score_ppm DESC, doc_id ASC LIMIT $topK""".stripMargin
  }
}
