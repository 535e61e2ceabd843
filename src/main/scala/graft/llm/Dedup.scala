package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Checkpoints.CutOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators: exact (fingerprint group), MinHash+LSH banded
  * near-dup, SimHash signatures, n-gram Jaccard verification.
  *
  * Scale design (the whole point): near-dup candidate generation NEVER
  * all-pairs-joins the corpus. MinHash signatures band into
  * (band_id, band_hash) buckets; only same-bucket docs pair up — the
  * classic shingle→minhash→band→bucket-join shape. At 100 TB the band
  * explode is 32 rows/doc (map-side), the bucket join shuffles on the
  * band hash, and the exact-Jaccard verify touches only candidates.
  * Skewed buckets (boilerplate docs) would be salted/AQE-handled; an
  * explicit bucket-size cap is the standard guard.
  */
object Dedup {

  /** Distinct word k-gram shingles. Documents shorter than k tokens yield
    * their single sub-k shingle.
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOf(TextAnalysis.tokens(text), k)

  /** Distinct k-gram shingles from a token array — set semantics over
    * [[TextAnalysis.ngrams]]'s raw windows (which carries the
    * zip_with-not-transform(sequence) performance rationale).
    */
  def shinglesOf(toks: Column, k: Int = 3): Column =
    array_distinct(TextAnalysis.ngrams(toks, k))

  /** MinHash signature: `n` minimums of per-shingle seeded xxhash64. */
  def minhash(shingleCol: Column, n: Int = 128): Column =
    array((0 until n).map(i =>
      array_min(transform(shingleCol, s => xxhash64(s, lit(i))))): _*)

  /** Distinct hashed shingle ROWS (_id, _x1, _x2, _sz) — one row per
    * distinct k-gram per document, with the two 32-bit base hashes every
    * minhash slot derives from (masked so h1 + 127·h2 < 2⁴⁰ stays inside
    * ANSI long arithmetic) and `_sz` = the document's distinct-shingle
    * count (|A|, carried on every row so the Jaccard verify needs no
    * separate size aggregation or join). Fully relational: posexplode the
    * tokens, form each window with `lead` over the (id, pos) window (one
    * shuffle on the doc id; concat_ws skips the null leads so a sub-k
    * document keeps exactly its single short shingle, like
    * [[shinglesOf]]), hash, distinct, then a count over the same doc-id
    * partitioning — the distinct and the count both reuse the lead
    * window's hash partitioning on _id, so the whole function is ONE
    * shuffle. No array columns and no higher-order functions anywhere —
    * this is the 100 TB shape: shingle state lives in rows that spill and
    * shuffle gracefully instead of per-document arrays pinned in memory.
    */
  def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    val mask = lit(0xFFFFFFFFL)
    // The one doc-id shuffle happens BEFORE the explode (guide §2.3/§8):
    // the same hash(_id) exchange the lead window would otherwise insert
    // over the exploded token stream instead carries whole documents —
    // strictly fewer bytes — and tokenization + window + hashing run at
    // full width even when the input is a single parquet split (§6).
    // Partition count is pinned (defaultParallelism) so AQE's advisory-
    // size coalescing cannot fold the small doc exchange back to one
    // partition and serialize the heavy exploded stream downstream of
    // it; the lead window, the distinct and the size count all reuse
    // the pinned partitioning, so the function stays ONE shuffle.
    val exploded = docs.select(col(idCol).as("_id"),
        col(textCol).as("_text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("_id"))
      .select(col("_id"),
        posexplode(TextAnalysis.tokens(col("_text"))).as(Seq("_pos", "_tok")))
    val withLeads = (1 until k).foldLeft(exploded) { (df, j) =>
      df.withColumn(s"_l$j", lead(col("_tok"), j).over(w))
    }
    // A position starts a full k-window iff its (k-1)-lead exists; position
    // 0 always survives so a sub-k document keeps its single short shingle
    // (concat_ws skips the null leads) — same windows as [[shinglesOf]],
    // with no second (count) window pass. k=1 has no leads and keeps every
    // position (each token is its own shingle).
    (if (k == 1) withLeads
     else withLeads.filter(col(s"_l${k - 1}").isNotNull || col("_pos") === 0))
      .withColumn("_sh", concat_ws(" ",
        col("_tok") +: (1 until k).map(j => col(s"_l$j")): _*))
      .select(col("_id"),
        xxhash64(col("_sh"), lit(0)).bitwiseAND(mask).as("_x1"),
        xxhash64(col("_sh"), lit(1)).bitwiseAND(mask).as("_x2"))
      .distinct()
      .withColumn("_sz", count(lit(1)).over(Window.partitionBy(col("_id"))))
  }

  /** LSH band table (_id, _band, _bh) from hashed shingle rows: the 128
    * slot minimums h_i = h1 + i·h2 (the standard affine combination — one
    * permutation family per slot without re-hashing the string per slot)
    * in ONE 128-column codegen'd aggregate with map-side partial combine;
    * band b's hash then fuses its `rowsPerBand` consecutive slots.
    *
    * Deliberately NOT a per-row array pipeline (`element_at(minhash(sh),
    * i)` or 128 `zip_with` slots over cached hash arrays): higher-order
    * functions are codegen fallbacks, so every variant of that shape pays
    * interpreted lambda evaluation per (slot × shingle) — measured 128×
    * (20 minutes at sf0.1) for the element_at form and still ~4 s for the
    * cached-array form, vs sub-second for this aggregate. At cluster scale
    * the shuffle is the size of the partial-agg output (one 128-long row
    * per doc per mapper), not the shingle explosion.
    */
  def bandTable(hashed: DataFrame, bands: Int = 32,
                rowsPerBand: Int = 4): DataFrame = {
    val slots = bands * rowsPerBand
    val mins = (0 until slots).map(i =>
      min(col("_x1") + lit(i.toLong) * col("_x2")).as(s"_m$i"))
    val sigs = hashed.groupBy(col("_id")).agg(mins.head, mins.tail: _*)
    sigs.select(col("_id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((0 until rowsPerBand).map(r =>
            col(s"_m${b * rowsPerBand + r}")): _*).as("bh"))
      }: _*)).as("_b"))
      .select(col("_id"), col("_b.band").as("_band"), col("_b.bh").as("_bh"))
  }

  /** STREAM-SAFE band rows (idCol, _band, _bh), hash-identical to
    * [[bandTable]] over [[hashedShingles]] — same base hashes
    * (xxhash64(shingle, 0|1) masked to 32 bits), same affine slot minima
    * h1 + i·h2, same band fusion — but computed ROW-LOCALLY from the
    * per-document shingle array, with no window and no aggregation. That
    * is the point: Structured Streaming supports neither the lead-window
    * nor a pre-join aggregation in append mode, so the streaming ingest
    * probe ([[graft.streaming.DocsStream.indexProbeStream]]) pays the
    * interpreted-HOF slot cost (acceptable: micro-batches are small by
    * construction) to keep the plan stateless ahead of the stream-static
    * index join. Batch paths must keep using [[bandTable]] — the HOF form
    * is the measured 100×-slower shape at corpus scale.
    */
  private[graft] def bandRowsRowLocal(docs: DataFrame, idCol: String,
                                      textCol: String, k: Int = 3,
                                      bands: Int = 32,
                                      rowsPerBand: Int = 4): DataFrame = {
    val mask = lit(0xFFFFFFFFL)
    val slots = bands * rowsPerBand
    val hashed = docs
      .withColumn("_shs", shingles(col(textCol), k))
      // Hash-identity with the batch path requires dropping docs the batch
      // path never emits: hashedShingles posexplodes the token array, so a
      // null/empty-text doc yields NO shingle rows there — while a null
      // array here would propagate to array_min=null slot minima and a
      // constant xxhash64-of-nulls band hash, a phantom bucket magnet.
      .filter(size(col("_shs")) > 0)
      .withColumn("_hx1",
        transform(col("_shs"), s => xxhash64(s, lit(0)).bitwiseAND(mask)))
      .withColumn("_hx2",
        transform(col("_shs"), s => xxhash64(s, lit(1)).bitwiseAND(mask)))
    val withMins = (0 until slots).foldLeft(hashed) { (df, i) =>
      df.withColumn(s"_m$i", array_min(
        zip_with(col("_hx1"), col("_hx2"), (a, b) => a + lit(i.toLong) * b)))
    }
    withMins.select(col(idCol), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((0 until rowsPerBand).map(r =>
            col(s"_m${b * rowsPerBand + r}")): _*).as("bh"))
      }: _*)).as("_b"))
      .select(col(idCol), col("_b.band").as("_band"), col("_b.bh").as("_bh"))
  }

  /** Exact n-gram Jaccard over two distinct-shingle arrays:
    * |A∩B| / |A∪B| — integer sizes, so cross-engine deterministic.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b)))

  /** Banded-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Returns (d1, d2, jaccard) with d1 < d2 and jaccard >= threshold.
    * With 32 bands × 4 rows the per-pair miss probability at j=0.8 is
    * (1-0.8⁴)³² ≈ 5e-8 — recall is effectively exact, which is what lets
    * the DuckDB oracle verify this against all-pairs Jaccard.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // cache(): the hashed shingle rows feed the band derivation, the
    // verify joins, and the size counts — without the materialization
    // barrier, projection collapse would recompute the tokenize+window
    // pipeline inside each.
    val hs = hashedShingles(docs, idCol, textCol).cache()
    val verified = nearDupPairs(hs, threshold, maxBucketSize,
      materializeBands = true)
    // Materialize the (small) pair set eagerly so the shingle cache can be
    // released before returning — in a long-lived session the per-call
    // cached shingle blocks would otherwise accumulate in storage memory.
    // localCheckpoint blocks are ContextCleaner-GC'd with the DataFrame.
    try verified.cutLineageEager() finally hs.unpersist(false)
  }

  /** Lazy variant for plan inspection (tests assert the candidate stage
    * never degenerates to an all-pairs join): full lineage, no cache or
    * checkpoint barrier, so do not execute it — use [[minhashNearDups]].
    */
  private[graft] def minhashNearDupsPlan(docs: DataFrame, idCol: String,
                                         textCol: String,
                                         threshold: Double = 0.8): DataFrame =
    nearDupPairs(hashedShingles(docs, idCol, textCol),
      threshold, Int.MaxValue, materializeBands = false)

  private def nearDupPairs(hs: DataFrame, threshold: Double,
                           maxBucketSize: Int,
                           materializeBands: Boolean): DataFrame = {
    val bandedLazy = bandTable(hs)
    // Materialize the (small: 32 rows/doc of (id, band, hash)) band table
    // before the self-join: both join sides would otherwise re-run the
    // 128-slot band derivation — measured at 3x the banding cost inside
    // one q33 run. Skipped in the plan-inspection path, which must not
    // execute anything.
    val bandedAll =
      if (materializeBands) bandedLazy.cutLineageEager() else bandedLazy
    // OPT-IN skew guard: a bucket of n docs yields n² candidate pairs, so
    // one boilerplate mega-bucket can dominate the job at corpus scale.
    // NOTE the trade-off: identical shingle sets share the SAME bucket in
    // EVERY band, so an over-cap group of exact duplicates loses ALL its
    // pairs, not just some — run [[exactDups]] first and near-dup only the
    // canonical representatives (the standard pipeline order), or leave
    // the default no-op cap to keep all-pairs-equivalent recall.
    // Window count, not agg+join: one shuffle, no re-evaluation of the
    // expensive band explode (same pattern as exactDups below).
    val banded =
      if (maxBucketSize == Int.MaxValue) bandedAll
      else bandedAll
        .withColumn("_bn", count(lit(1))
          .over(Window.partitionBy(col("_band"), col("_bh"))))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn")
    val candidatesLazy = banded.as("l")
      .join(banded.as("r"),
        col("l._band") === col("r._band") && col("l._bh") === col("r._bh") &&
          col("l._id") < col("r._id"))
      .select(col("l._id").as("d1"), col("r._id").as("d2"))
      .distinct()
    // The (small) pair set feeds three consumers below (the doc-universe
    // prune plus both verify joins) — materialize it once so the band
    // self-join isn't re-run per consumer. Skipped in the lazy
    // plan-inspection path.
    val candidates =
      if (materializeBands) candidatesLazy.cutLineageEager()
      else candidatesLazy
    // Semi-join-prune the shingle table to candidate docs BEFORE the
    // intersection count (same shape as [[dedupAgainstIndex]]): the
    // candidate pair set is tiny relative to the corpus, so the verify
    // joins below shuffle candidate-doc shingle rows only — not the full
    // corpus shingle table twice. No forced broadcast hint: AQE converts
    // the semi-join to a runtime broadcast when the candidate list is
    // actually small, and degrades gracefully (one keyed shuffle, still
    // strictly cheaper than the unpruned double join) when a dup-heavy
    // corpus makes it large.
    verifyCandidates(hs, candidates, threshold)
  }

  /** Exact-Jaccard verify of a candidate (d1, d2) pair set against a
    * hashed-shingle table — the shared tail of [[minhashNearDups]] and
    * [[indexNearDups]]. |A∩B| is a count over the shingle-equality join
    * restricted to candidate pairs, |A|/|B| ride along as the _sz column
    * every shingle row already carries — same integers as an
    * array_intersect over shingle arrays, but candidate-limited rows
    * instead of full arrays per pair, and no separate size aggregation
    * (a zero-overlap candidate drops out of the inner join, which a
    * positive threshold filters anyway).
    */
  private def verifyCandidates(hs: DataFrame, candidates: DataFrame,
                               threshold: Double): DataFrame = {
    val candDocs = candidates.select(col("d1").as("_id"))
      .unionByName(candidates.select(col("d2").as("_id"))).distinct()
    val hsCand = hs.join(candDocs, Seq("_id"), "left_semi")
    candidates
      .join(hsCand.select(col("_id").as("d1"), col("_x1"), col("_x2"),
        col("_sz").as("_sz1")), Seq("d1"))
      .join(hsCand.select(col("_id").as("d2"), col("_x1"), col("_x2"),
        col("_sz").as("_sz2")), Seq("d2", "_x1", "_x2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("_ni"),
        first(col("_sz1")).as("_sz1"), first(col("_sz2")).as("_sz2"))
      .select(col("d1"), col("d2"),
        (col("_ni").cast("double") /
          (col("_sz1") + col("_sz2") - col("_ni"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-duplicate pairs of the INDEXED corpus, computed from the stored
    * index tables alone ([[writeDedupIndex]]) — the dashboard form of
    * [[minhashNearDups]]. A q60/q100-style report re-derives the full
    * shingle→sign→band→verify chain over the corpus on every run; with
    * the index in place the identical (d1, d2, jaccard) relation costs:
    *
    *  - a BUCKET-LOCAL band self-join: `<prefix>_bands` is bucketed on
    *    exactly the join key (_band, _bh), so the self-join plans with
    *    ZERO exchanges — both sides read in place (asserted in LlmSpec);
    *  - the candidate-pruned shingle verify, shuffling only the tiny
    *    pair set against the bucketed shingle table.
    *
    * The corpus text is never read and nothing is re-signed — at 100 TB
    * that is the difference between a dashboard query and a full corpus
    * re-shuffle. Same recall, tie, and `maxBucketSize` semantics as
    * [[minhashNearDups]] (the index stores the same bands and sketches).
    */
  def indexNearDups(spark: SparkSession, prefix: String,
                    threshold: Double = 0.8,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandedAll = spark.table(s"${prefix}_bands")
    val banded =
      if (maxBucketSize == Int.MaxValue) bandedAll
      else bandedAll
        .withColumn("_bn", count(lit(1))
          .over(Window.partitionBy(col("_band"), col("_bh"))))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn")
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l._band") === col("r._band") && col("l._bh") === col("r._bh") &&
          col("l._id") < col("r._id"))
      .select(col("l._id").as("d1"), col("r._id").as("d2"))
      .distinct()
      // The pair set feeds three verify consumers; materialize it once.
      .cutLineageEager()
    verifyCandidates(spark.table(s"${prefix}_shingles"), candidates, threshold)
  }

  /** Persist a corpus dedup index as two BUCKETED managed tables:
    *
    *   `<prefix>_bands`    (_id, _band, _bh)     bucketed by (_band, _bh)
    *   `<prefix>_shingles` (_id, _x1, _x2, _sz)  bucketed by (_id)
    *
    * The point is incremental ingest at corpus scale: signing 100 TB once
    * and probing each arriving batch against the stored index, instead of
    * re-running the signature aggregate over the whole corpus per batch
    * ([[dedupAgainstIndex]]). Bucketing on exactly the candidate-join key
    * means the batch side shuffles into the index's layout while the
    * index itself is read in place — no corpus-sized exchange per batch
    * (asserted in LlmSpec: one hashpartitioning(_band, _bh) exchange in
    * the plan, not two). Same pattern as `Similarity.writeIvfIndex`.
    */
  def writeDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                      prefix: String, buckets: Int = 32,
                      dir: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    val base = indexBase(spark, prefix, dir)
    val hs = hashedShingles(docs, idCol, textCol).cache()
    try {
      writeBucketed(hs, s"${prefix}_shingles", Seq("_id"),
        s"$base/shingles", buckets)
      writeBucketed(bandTable(hs), s"${prefix}_bands", Seq("_band", "_bh"),
        s"$base/bands", buckets)
      // Persist the bucket count beside the data: a re-attach that
      // declared a DIFFERENT count would produce a catalog bucket spec
      // that no longer matches the files — and the zero-exchange band
      // self-join would silently return wrong pairs (r14 ADVICE).
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$base/_buckets"), true)
      try out.write(buckets.toString.getBytes("UTF-8"))
      finally out.close()
    } finally hs.unpersist(false)
  }

  /** The index's storage root: caller-supplied explicit path, or a
    * `<prefix>` directory under the session warehouse as the default.
    * Either way the tables are EXTERNAL (path-addressed) — the catalog
    * holds only the bucket spec, so dropping/re-registering metadata
    * never touches data files and the layout is metastore-portable. */
  private def indexBase(spark: SparkSession, prefix: String,
                        dir: Option[String]): String =
    dir.getOrElse(spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + "/" + prefix.toLowerCase)

  /** (Re)create an external bucketed table at `path` and INSERT OVERWRITE
    * it — the saveAsTable-free write: CREATE TABLE … LOCATION is pure
    * metadata (legal over an existing directory, unlike CTAS), and the
    * INSERT honors the catalog bucket spec, so the written files carry
    * the same bucketed layout a managed `bucketBy.saveAsTable` produces
    * without coupling the operator to the warehouse directory. */
  private def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                            path: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"CREATE TABLE `$table` (${df.schema.toDDL}) USING PARQUET " +
      s"CLUSTERED BY (${keys.map(k => s"`$k`").mkString(", ")}) " +
      s"INTO $buckets BUCKETS LOCATION '$path'")
    df.write.mode("overwrite").insertInto(table)
  }

  /** Re-attach a stored dedup index in a FRESH session (the in-memory
    * catalog does not survive JVMs; the parquet files do): re-issues the
    * external-table DDL over the existing files, schema read back from
    * the parquet footers. No-op when the tables are already registered.
    *
    * The bucket count is DERIVED from the index's own `_buckets` file
    * when present (written by [[writeDedupIndex]]) — the `buckets`
    * argument is only the fallback for pre-r15 indexes without one.
    * Declaring a count the files were not written with would silently
    * mis-bucket the zero-exchange band self-join.
    */
  def openDedupIndex(spark: SparkSession, prefix: String, buckets: Int = 32,
                     dir: Option[String] = None): Unit = {
    val base = indexBase(spark, prefix, dir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(s"$base/_buckets")
    val stored =
      if (!fs.exists(metaPath)) buckets
      else {
        val in = fs.open(metaPath)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          "UTF-8").trim.toInt
        finally in.close()
      }
    Seq((s"${prefix}_shingles", Seq("_id"), s"$base/shingles"),
      (s"${prefix}_bands", Seq("_band", "_bh"), s"$base/bands"))
      .foreach { case (table, keys, path) =>
        if (!spark.catalog.tableExists(table)) {
          val schema = graft.Tables.parquet(spark, path).schema
          spark.sql(s"CREATE TABLE `$table` (${schema.toDDL}) " +
            "USING PARQUET " +
            s"CLUSTERED BY (${keys.map(k => s"`$k`").mkString(", ")}) " +
            s"INTO $stored BUCKETS LOCATION '$path'")
        }
      }
  }

  /** EXACT set-similarity self-join (Jaccard over distinct word sets ≥
    * threshold) via prefix filtering (Chaudhuri 2006 / PPJoin) — the
    * exact complement to [[minhashNearDups]]: no banding probability, no
    * missed pairs, at the cost of an exact verify on a provably
    * complete candidate set. Tokens are globally ordered rarest-first
    * (document frequency asc, token asc); each doc exposes only its
    * first `|T| − ⌈t·|T|⌉ + 1` tokens, and two docs are candidates only
    * if their PREFIXES share a token — the classic result guarantees no
    * pair with Jaccard ≥ t escapes. At corpus scale the candidate join
    * keys on rare tokens by construction (a token inside many prefixes
    * is a rare token), so bucket sizes stay small where a naive
    * token-join would explode on stopwords.
    *
    * Output: (d1, d2, jaccard_ppm) with d1 < d2, integer ppm. The q196
    * oracle is BRUTE FORCE — full pair enumeration in DuckDB — so the
    * gate proves completeness on the data, not just by theorem.
    */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
                 thresholdPpm: Long): DataFrame = {
    val toks = docs
      .select(col(idCol).as("_id"),
        expr(s"filter(array_distinct(split(trim($textCol), '\\\\s+')), " +
          "x -> x <> '')").as("_tk"))
      .withColumn("_sz", size(col("_tk")))
      .filter(col("_sz") >= 1)
    val tokRows = toks.select(col("_id"), explode(col("_tk")).as("_t"))
    val dfreq = tokRows.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("_df").asc, col("_t").asc)
    // Materialized once (r21): the candidate self-join evaluates BOTH
    // sides — without the cut the document-frequency aggregation and
    // the rarest-first prefix window tower run twice (broadcast and
    // stream sides of a self-join do not share exchanges). Prefix rows
    // are the `|T| − ⌈t·|T|⌉ + 1` head of each doc's token list —
    // strictly smaller than the token stream.
    val prefixes = tokRows.join(dfreq, Seq("_t"))
      .withColumn("_rn", row_number().over(w))
      .join(toks.select(col("_id"), col("_sz")), Seq("_id"))
      // ⌈t·sz⌉ in integer ppm arithmetic.
      .filter(col("_rn") <=
        col("_sz") - expr(s"($thresholdPpm * _sz + 999999L) div 1000000L")
          + lit(1L))
      .select(col("_id"), col("_t"))
      .cutLineageEagerSpill()
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a._t") === col("b._t") && col("a._id") < col("b._id"))
      .select(col("a._id").as("d1"), col("b._id").as("d2"))
      .distinct()
    cand
      .join(tokRows.select(col("_id").as("d1"), col("_t")), Seq("d1"))
      .join(tokRows.select(col("_id").as("d2"), col("_t")), Seq("d2", "_t"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("_inter"))
      .join(toks.select(col("_id").as("d1"), col("_sz").as("_s1")), Seq("d1"))
      .join(toks.select(col("_id").as("d2"), col("_sz").as("_s2")), Seq("d2"))
      .withColumn("_uni", col("_s1") + col("_s2") - col("_inter"))
      .filter(col("_inter") * 1000000L >= lit(thresholdPpm) * col("_uni"))
      .select(col("d1"), col("d2"),
        expr("_inter * 1000000L div _uni").as("jaccard_ppm"))
  }

  /** Append an ingest batch's signatures INTO a stored dedup index —
    * the grow half of the sign-once lifecycle ([[writeDedupIndex]] signs
    * the initial corpus, [[dedupAgainstIndex]] probes each arriving
    * batch, this admits the batch's survivors so the NEXT batch dedups
    * against them too). The batch is hashed alone (one pass over the
    * batch, the index is never re-signed) and appended in the SAME
    * bucket layout — Spark validates the bucket spec, so the
    * candidate-join stays one batch-side exchange. NOT idempotent
    * (append duplicates rows); a replaying caller must dedup upstream or
    * ledger batch ids (the `ShardStore.writeShard` pattern).
    */
  def appendDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                       prefix: String, buckets: Int = 32): Unit = {
    val hs = hashedShingles(docs, idCol, textCol).cache()
    try {
      hs.write.mode("append").insertInto(s"${prefix}_shingles")
      bandTable(hs).write.mode("append").insertInto(s"${prefix}_bands")
    } finally hs.unpersist(false)
  }

  /** Near-duplicates of an ingest BATCH against a stored corpus index
    * ([[writeDedupIndex]]): returns (new_id, index_id, jaccard) with
    * jaccard >= threshold, computed exactly like [[minhashNearDups]]'s
    * verify stage but across the batch/index boundary. The index shingle
    * table is semi-join-pruned to candidate docs before the intersection
    * count, so the verify cost scales with the candidate set (batch-ish),
    * not the corpus.
    */
  def dedupAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
                        spark: SparkSession, prefix: String,
                        threshold: Double = 0.8): DataFrame = {
    val idxBands = spark.table(s"${prefix}_bands")
    val idxSh = spark.table(s"${prefix}_shingles")
    val hsNew = hashedShingles(newDocs, idCol, textCol).cache()
    try {
      val newBands = bandTable(hsNew).cutLineageEager()
      val candidates = newBands.as("n")
        .join(idxBands.as("i"),
          col("n._band") === col("i._band") && col("n._bh") === col("i._bh"))
        .select(col("n._id").as("_dn"), col("i._id").as("_di"))
        .distinct()
      val idxCand = idxSh.join(
        candidates.select(col("_di").as("_id")).distinct(),
        Seq("_id"), "left_semi")
      val verified = candidates
        .join(hsNew.select(col("_id").as("_dn"), col("_x1"), col("_x2"),
          col("_sz").as("_szn")), Seq("_dn"))
        .join(idxCand.select(col("_id").as("_di"), col("_x1"), col("_x2"),
          col("_sz").as("_szi")), Seq("_di", "_x1", "_x2"))
        .groupBy(col("_dn"), col("_di")).agg(count(lit(1)).as("_ni"),
          first(col("_szn")).as("_szn"), first(col("_szi")).as("_szi"))
        .select(col("_dn").as("new_id"), col("_di").as("index_id"),
          (col("_ni").cast("double") /
            (col("_szn") + col("_szi") - col("_ni"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
      verified.cutLineageEager()
    } finally hsNew.unpersist(false)
  }

  /** Connected components over an undirected edge set — the clustering
    * step that turns near-duplicate PAIRS (minhashNearDups /
    * simhashNearDups / cosineNearDups output) into dedup groups: every
    * node gets `component_id` = the smallest node id transitively
    * reachable from it, so "keep one per component" is a filter.
    *
    * Distributed min-label propagation with per-round pointer jumping:
    * each round every node takes the minimum of its own label, its
    * neighbors' labels (one shuffle on the edge key), and its LABEL'S
    * label (a self-join — the pointer-doubling step that collapses label
    * chains, so a path-shaped component of diameter d converges in
    * O(log d) rounds rather than O(d); near-dup components are usually
    * near-cliques and close in 1-2). Each round's labels are
    * localCheckpoint'ed lazily and materialized by the fixpoint
    * aggregate (labels only ever decrease, so the label SUM strictly
    * decreases until converged — summed as decimal(38,0) so arbitrary
    * 64-bit ids can't overflow the test). Per round: one edge-key
    * shuffle + one self-join + one aggregate, run as one query execution
    * whose adaptive stages are separate jobs (unlike
    * [[graft.graphquery.Bgp.pathPlusEdges]], whose pair-RDD rounds are
    * one job each).
    *
    * `edges` rows are (srcCol, dstCol) pairs in either orientation;
    * `nodes` is the universe (isolated nodes keep their own id).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          nodes: DataFrame, idCol: String,
                          maxRounds: Int = 20): DataFrame = {
    // NOT cut before the bidirectional union (measured, r22): lazily
    // checkpointing the pair table so the swap branch reads blocks
    // instead of re-executing the banding join regressed q55 by
    // 0.35-1.4 s in two paired A/Bs — AQE exchange reuse already shares
    // the heavy exchanges across the two branches, so the extra
    // materialization costs more than the duplicated post-exchange work
    // it saves.
    val und = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .unionByName(edges.select(col(dstCol).as("_a"), col(srcCol).as("_b")))
      .cutLineage()
    // The fixpoint only iterates over edge-INCIDENT nodes: an isolated
    // node can never change label, so it joins the result at the end by
    // anti-join instead of riding through every round. At corpus scale
    // this shrinks the loop universe from "all documents" to "documents
    // with at least one near-dup candidate" — usually orders of magnitude
    // smaller.
    val edgeNodes = und.select(col("_a").as("_v")).distinct()
    // The per-round label sum (the convergence test) rides each round's
    // OWN checkpoint job via observe — one query execution per round,
    // not a checkpoint execution plus a separate aggregate execution
    // (graft.Checkpoints.cutEagerObserved).
    def cutSummed(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val (cut, m) = graft.Checkpoints.cutEagerObserved(
        df, sum(col("_m").cast("decimal(38,0)")).as("_s"))
      (cut, m("_s").asInstanceOf[java.math.BigDecimal])
    }
    var (labels, size) =
      cutSummed(edgeNodes.select(col("_v"), col("_v").as("_m")))
    var fixed = size == null // no edges
    var rounds = 0
    while (!fixed && rounds < maxRounds) {
      val nbrMin = und
        .join(labels.select(col("_v").as("_b"), col("_m").as("_nm")), Seq("_b"))
        .groupBy(col("_a")).agg(min(col("_nm")).as("_nbr"))
      val cand = labels
        .join(nbrMin.select(col("_a").as("_v"), col("_nbr")), Seq("_v"), "left")
        .select(col("_v"),
          least(col("_m"), coalesce(col("_nbr"), col("_m"))).as("_m"))
      val (next, n) = cutSummed(cand
        .join(cand.select(col("_v").as("_jv"), col("_m").as("_jm")),
          col("_m") === col("_jv"), "left")
        .select(col("_v"),
          least(col("_m"), coalesce(col("_jm"), col("_m"))).as("_m")))
      fixed = n.compareTo(size) == 0
      size = n
      labels = next
      rounds += 1
    }
    // A silent partial propagation would hand callers labels that look
    // final but aren't; pointer jumping makes maxRounds=20 ample (2^20
    // diameter), so the pathological exit deserves a loud warning.
    if (!fixed)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge within $maxRounds rounds; " +
          "component ids may be partially propagated")
    val isolated = nodes.select(col(idCol).as("_v")).distinct()
      .join(edgeNodes, Seq("_v"), "left_anti")
      .select(col("_v"), col("_v").as("_m"))
    labels.unionByName(isolated)
      .select(col("_v").as(idCol), col("_m").as("component_id"))
  }

  /** Representative selection for dedup components: keep the member
    * maximizing `score` in each component (ties → smallest id). Min-id
    * canonicalization (exactDups) is correct for EXACT duplicates, but a
    * near-dup cluster's members genuinely differ — a curation pipeline
    * keeps the best one, not the numerically-first one. Returns the
    * winning rows (all input columns preserved) plus `n_members`.
    *
    * Scale shape: one keyed window shuffle on the component id — the
    * same cost class as any groupBy — with both the rank and the member
    * count computed in a single window pass. Components are near-dup
    * clusters (bounded by the dedup geometry), never corpus-sized, so
    * no partition can be pathological unless the pair graph itself was.
    */
  def keepBestPerComponent(members: DataFrame, idCol: String,
                           compCol: String, score: Column): DataFrame = {
    val byComp = Window.partitionBy(col(compCol))
    val w = byComp.orderBy(score.desc, col(idCol).asc)
    members
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Line-level duplication statistics (the CCNet/RefinedWeb signal:
    * boilerplate lines — cookie banners, nav menus, license footers —
    * repeat across a corpus while real content doesn't). Returns one row
    * per document: (idCol, n_lines, n_dup_lines, dup_frac) where a line
    * instance counts as duplicated iff its text occurs in at least
    * `minDocs` DISTINCT documents.
    *
    * The line unit is consecutive non-overlapping `unitTokens`-token
    * chunks — the deterministic stand-in for newline/sentence splitting
    * on corpora (like the test tables) whose text carries no line
    * structure; swap the chunker for a `split(text, '\n')` on real data,
    * the rest of the pipeline is unit-agnostic.
    *
    * Scale shape: the chunking is the hashedShingles lead-window form
    * (posexplode + `unitTokens-1` leads, keep every `unitTokens`-th
    * position; concat_ws skips the null leads so the trailing partial
    * unit survives) — NOT a transform(sequence)/slice lambda, which would
    * capture the tokenizer expression and re-run it per chunk (the
    * measured interpreted-HOF trap the ngrams doc forbids). Lines are
    * keyed by their 128-bit md5 (collision-free at any realistic corpus
    * size, unlike a 64-bit hash; the DuckDB oracle counts literal line
    * text — same counts) so the wide string never rides a shuffle. Then
    * ONE distinct + count aggregation finds corpus-wide duplicated lines,
    * a semi-join back (the duplicated-line table is aggregation output —
    * boilerplate only, far smaller than the corpus), and per-doc counts.
    */
  def lineDupStats(docs: DataFrame, idCol: String, textCol: String,
                   unitTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    // Materialized once: three consumers below (dup-line table, per-doc
    // totals, per-doc dup counts) would otherwise each re-run the
    // explode + lead-window pipeline over the full corpus (the .explain
    // showed three Exchange+Sort+Window towers). The checkpoint rows are
    // compact (id + 32-char hash per line).
    val hashed = TextAnalysis
      .tokenChunkRows(docs, idCol, textCol, unitTokens, stride = unitTokens)
      .filter(col("_chunk") =!= "") // whitespace-only doc ⇒ no line rows
      .select(col("_id"), unhex(md5(col("_chunk"))).as("_lh"))
      .cutLineageEagerSpill()
    val dup = hashed.distinct()
      .groupBy(col("_lh")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
    val totals = hashed.groupBy(col("_id")).agg(count(lit(1)).as("n_lines"))
    val dups = hashed.join(dup.select(col("_lh")), Seq("_lh"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_dup_lines"))
    totals.join(dups, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        (coalesce(col("n_dup_lines"), lit(0L)).cast("double") /
          col("n_lines")).as("dup_frac"))
  }

  /** The rebuild half of line-level dedup (CCNet's actual transform, not
    * just its statistic): re-emit every document with its corpus-wide
    * duplicated lines REMOVED — all instances, including the first, since
    * a line repeating across `minDocs` distinct documents is boilerplate
    * wherever it appears. Returns one row per input document:
    * (idCol, n_lines, n_kept, clean_text) where `clean_text` is the
    * surviving lines rejoined in original position order (`""` when every
    * line was boilerplate). Same line unit as [[lineDupStats]].
    *
    * Scale shape: the duplicated-line table is aggregation output
    * (boilerplate-sized), so the anti-join's build side broadcasts; the
    * rebuild is then ONE doc-keyed shuffle carrying each document's text
    * exactly once — the unavoidable cost of emitting rewritten documents,
    * and the same cost class as any corpus rewrite. Line keys ride the
    * dup-detection aggregations as fixed-width md5, never as line text.
    */
  def removeDupLines(docs: DataFrame, idCol: String, textCol: String,
                     unitTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    // Materialized once: the dup-line aggregation, per-doc totals, and the
    // rebuild would otherwise each re-run the explode + lead pipeline.
    val lines = TextAnalysis
      .tokenChunkRows(docs, idCol, textCol, unitTokens, stride = unitTokens)
      .filter(col("_chunk") =!= "")
      .select(col("_id"), col("_pos"), col("_chunk"),
        unhex(md5(col("_chunk"))).as("_lh"))
      .cutLineageEagerSpill()
    val dup = lines.select(col("_id"), col("_lh")).distinct()
      .groupBy(col("_lh")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
    val totals = lines.groupBy(col("_id")).agg(count(lit(1)).as("n_lines"))
    val rebuilt = lines
      .join(dup.select(col("_lh")), Seq("_lh"), "left_anti")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_pos"), col("_chunk")))),
          x => x.getField("_chunk"))).as("clean_text"))
    docs.select(col(idCol)).join(totals.withColumnRenamed("_id", idCol),
        Seq(idCol), "left")
      .join(rebuilt.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Cross-document repeated-span detection — the bounded-width
    * relational form of exact-substring dedup (substrings repeated
    * verbatim across documents are memorization fuel; the suffix-array
    * construction the original uses is inherently sequential, while this
    * is two keyed aggregations + a semi-join, each an ordinary shuffle).
    * A span is a `spanTokens`-token SLIDING window (stride 1, full
    * windows only — docs shorter than `spanTokens` have no spans and no
    * output row); a span instance is duplicated iff its text occurs in
    * at least `minDocs` DISTINCT documents. Returns one row per doc with
    * >= 1 span: (idCol, n_spans, n_dup_spans) — integer-exact.
    *
    * Scale shape: same skeleton as [[lineDupStats]] but stride 1 — the
    * span stream is ~n_tokens rows/doc instead of n_tokens/width, all
    * carried as fixed-width md5 hashes, never as span text; the
    * duplicated-span table is aggregation output (shared boilerplate
    * only), so the semi-join's build side stays small by construction.
    */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        spanTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    // Materialized once — three consumers (dup-span table, totals, dup
    // counts) would otherwise each re-run the explode + lead pipeline.
    val hashed = TextAnalysis
      .tokenChunkRows(docs, idCol, textCol, spanTokens, stride = 1)
      .filter(col("_n_toks") === spanTokens)
      .select(col("_id"), unhex(md5(col("_chunk"))).as("_sh"))
      .cutLineageEagerSpill()
    val dup = hashed.distinct()
      .groupBy(col("_sh")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
    val totals = hashed.groupBy(col("_id")).agg(count(lit(1)).as("n_spans"))
    val dups = hashed.join(dup.select(col("_sh")), Seq("_sh"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_dup_spans"))
    totals.join(dups, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** Maximal repeated INTERVALS — the gaps-and-islands merge over the
    * [[repeatedSpanStats]] duplicated-window instances, and the step
    * from "how many windows are duplicated" to "WHERE the duplicated
    * text lives" (the span boundaries exact-substring dedup à la Lee et
    * al. 2022 cuts on): overlapping/adjacent duplicated windows
    * ([p, p+w) with the next start ≤ prev start + w) coalesce into one
    * maximal interval per document. A whole-document copy that q74
    * under-reports as "n_spans windows, all duplicated" becomes the
    * single interval [0, n_tokens) here; scattered boilerplate stays
    * many short islands — the distinction drives cut-vs-drop curation.
    *
    * Output: (idCol, island, start_pos, end_pos, n_windows) — island a
    * per-doc 1-based ordinal, end_pos exclusive token position.
    *
    * Scale shape: the [[repeatedSpanStats]] skeleton (hash windows →
    * dup table → semi-join) plus ONE per-doc position window (lag +
    * running sum ride the same sort) and a (doc, island) aggregation —
    * all ordinary keyed shuffles, fixed-width hashes, never span text.
    */
  def repeatedIntervals(docs: DataFrame, idCol: String, textCol: String,
                        spanTokens: Int = 8, minDocs: Int = 2): DataFrame =
    islandsOf(dupInstances(docs, idCol, textCol, spanTokens, minDocs)
        .select(col("_id"), col("_pos")), spanTokens)
      .withColumnRenamed("_id", idCol)

  /** Every duplicated-window instance (_id, _pos, _owner): the shared
    * [[repeatedSpanStats]] skeleton with each window's canonical OWNER
    * — the smallest doc id among the docs sharing it — carried along
    * (one extra min in the dup aggregation, the join stays keyed on the
    * window hash). */
  private def dupInstances(docs: DataFrame, idCol: String, textCol: String,
                           spanTokens: Int, minDocs: Int): DataFrame = {
    val hashed = TextAnalysis
      .tokenChunkRows(docs, idCol, textCol, spanTokens, stride = 1)
      .filter(col("_n_toks") === spanTokens)
      .select(col("_id"), col("_pos"), unhex(md5(col("_chunk"))).as("_sh"))
      .cutLineageEagerSpill()
    val own = hashed.select(col("_id"), col("_sh")).distinct()
      .groupBy(col("_sh"))
      .agg(count(lit(1)).as("_docs"), min(col("_id")).as("_owner"))
      .filter(col("_docs") >= minDocs)
    hashed.join(own.select(col("_sh"), col("_owner")), Seq("_sh"))
      .select(col("_id"), col("_pos"), col("_owner"))
  }

  /** Gaps-and-islands merge of (_id, _pos) window starts into maximal
    * intervals — one per-doc position window (lag + running sum on the
    * same sort) and a (doc, island) aggregation. */
  private def islandsOf(inst: DataFrame, spanTokens: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    inst
      .withColumn("_prev", lag(col("_pos"), 1).over(byDoc))
      .withColumn("_new", (col("_prev").isNull ||
        col("_pos") - col("_prev") > spanTokens).cast("long"))
      .withColumn("island", sum(col("_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_id"), col("island"))
      .agg(min(col("_pos")).cast("long").as("start_pos"),
        (max(col("_pos")) + spanTokens).cast("long").as("end_pos"),
        count(lit(1)).as("n_windows"))
  }

  /** Duplicate-span EXCISION — the cutting half of exact substring
    * dedup (Lee et al. 2022): every token covered by a
    * [[repeatedIntervals]] maximal repeated interval is dropped and the
    * survivors re-join into the cleaned text. The cut-ALL-occurrences
    * policy is the reference implementation's (deduplicate-text-datasets
    * removes every flagged span, first copies included); keep-one
    * curation layers on top by exempting a canonical owner per dup
    * cluster (the q73 component-best device) BEFORE the cut.
    *
    * Output: (idCol, clean_text, n_tokens, n_removed) for EVERY input
    * doc — fully-excised docs surface with clean_text = '' rather than
    * vanishing, because "this doc became empty" is the signal a
    * curation gate acts on.
    *
    * Scale shape: the interval derivation is [[repeatedIntervals]];
    * covered positions explode from the INTERVAL rows (sequence over
    * [start, end) — interval-bounded, never corpus-width); the cut is a
    * (doc, pos)-keyed anti-join of the token stream; the rebuild is one
    * doc-keyed sort-free aggregation (array_sort over collected
    * (pos, tok) structs — per-row work bounded by doc length, the same
    * bound any text transform carries). No stage holds more than one
    * document's tokens in a row.
    */
  def exciseRepeatedIntervals(docs: DataFrame, idCol: String,
                              textCol: String, spanTokens: Int = 8,
                              minDocs: Int = 2): DataFrame =
    cutCovered(docs, idCol, textCol,
      islandsOf(dupInstances(docs, idCol, textCol, spanTokens, minDocs)
        .select(col("_id"), col("_pos")), spanTokens))

  /** [[exciseRepeatedIntervals]] under the KEEP-CANONICAL policy: each
    * duplicated window is exempt from the cut in its OWNER document
    * (the smallest doc id sharing it), so exactly one copy of every
    * duplicated passage survives corpus-wide — the "remove all but
    * one" reading of exact substring dedup, where the cut-all form
    * empties BOTH sides of a copy pair. Ownership is per WINDOW, so a
    * doc canonical for its body but not its boilerplate keeps the body
    * and loses the banner — document-level keep-lists cannot express
    * that split. Same scale shape as the cut-all form plus one min in
    * the dup aggregation and an owner≠doc filter BEFORE islanding. */
  def exciseKeepCanonical(docs: DataFrame, idCol: String,
                          textCol: String, spanTokens: Int = 8,
                          minDocs: Int = 2): DataFrame =
    cutCovered(docs, idCol, textCol,
      islandsOf(dupInstances(docs, idCol, textCol, spanTokens, minDocs)
        .filter(col("_id") =!= col("_owner"))
        .select(col("_id"), col("_pos")), spanTokens))

  /** Span-level LOSS MASK — the non-destructive twin of
    * [[exciseRepeatedIntervals]]: instead of cutting the duplicated
    * intervals out of the text, emit the per-token mask a trainer
    * applies at LOSS time (masked = 1 for every position covered by a
    * maximal repeated interval), so tokenization and byte offsets stay
    * aligned with the ORIGINAL document — the form pipelines that must
    * preserve offsets (alignment supervision, citation spans) use
    * where the cut form re-tokenizes. `keepCanonical = true` exempts
    * each duplicated window's owner document (the
    * [[exciseKeepCanonical]] policy), so exactly one unmasked copy of
    * every duplicated passage survives corpus-wide.
    *
    * Output: one row per token — (idCol, pos, token, masked).
    * Consistency law with the cut forms (sbt-asserted): the unmasked
    * tokens re-joined in position order equal the corresponding
    * `clean_text`, and the masked count equals `n_removed`.
    * Same scale shape as the excision family: interval-bounded
    * explodes, a (doc, pos) left join, per-row work bounded by doc
    * length. */
  def maskRepeatedIntervals(docs: DataFrame, idCol: String,
                            textCol: String, spanTokens: Int = 8,
                            minDocs: Int = 2,
                            keepCanonical: Boolean = false): DataFrame = {
    val inst0 = dupInstances(docs, idCol, textCol, spanTokens, minDocs)
    val inst = if (keepCanonical) inst0.filter(col("_id") =!= col("_owner"))
      else inst0
    val intervals = islandsOf(inst.select(col("_id"), col("_pos")),
      spanTokens)
    val covered = intervals.select(col("_id"),
        explode(sequence(col("start_pos"), col("end_pos") - 1)).as("_pos"))
      .withColumn("_m", lit(1L))
    docs.select(col(idCol).as("_id"),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("_pos", "token")))
      .join(covered, Seq("_id", "_pos"), "left")
      .select(col("_id").as(idCol), col("_pos").as("pos"), col("token"),
        coalesce(col("_m"), lit(0L)).as("masked"))
  }

  /** The cut + rebuild shared by the excision forms: covered positions
    * explode from the INTERVAL rows (interval-bounded, never
    * corpus-width), the token stream anti-joins them on (doc, pos), and
    * survivors re-join in position order — one doc-keyed aggregation,
    * per-row work bounded by doc length. */
  private def cutCovered(docs: DataFrame, idCol: String, textCol: String,
                         intervals: DataFrame): DataFrame = {
    val covered = intervals.select(col("_id"),
      explode(sequence(col("start_pos"), col("end_pos") - 1)).as("_pos"))
    val toks = docs.select(col(idCol).as("_id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("_pos", "_tok")))
    val kept = toks.join(covered, Seq("_id", "_pos"), "left_anti")
      .groupBy(col("_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ").as("clean_text"),
        count(lit(1)).as("_n_kept"))
    toks.groupBy(col("_id")).agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS algorithm): hash every k-gram, then from each window
    * of `window` consecutive k-gram hashes select the minimum; the
    * distinct selected hashes are the document's fingerprints. The
    * guarantee that makes it the position-robust dedup/provenance sketch:
    * any shared substring of length >= window + k - 1 tokens contributes
    * at least one IDENTICAL fingerprint to both documents, while total
    * fingerprint density stays ~2/(window+1) of the k-gram count.
    *
    * Returns distinct (idCol, fp) rows. Hashes are the first 8 md5 hex
    * digits as a 32-bit integer (the [[simhash]] md5 device) so an
    * external engine reproduces every fingerprint bit-for-bit. Documents
    * with fewer than `window` k-grams keep the minimum of what they have
    * (>= 1 fingerprint per document, the winnowing self-coverage
    * convention, matching [[shinglesOf]]'s sub-k behavior).
    *
    * Scale shape: one shuffle (the per-doc position window; the min-frame
    * and the lead ride the same sort), fingerprint state is fixed-width
    * integers, output is ~2/(window+1) the k-gram stream — strictly
    * smaller than the [[repeatedSpanStats]] span stream at the same k.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, window: Int = 4): DataFrame = {
    require(k > 0 && window > 0, "k and window must be positive")
    val byPos = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    val frame = byPos.rowsBetween(Window.currentRow, window - 1)
    TextAnalysis.tokenChunkRows(docs, idCol, textCol, k, stride = 1)
      // full k-windows only; position 0 survives so a sub-k document
      // keeps its single short gram (the hashedShingles convention)
      .filter(col("_n_toks") === k || col("_pos") === 0)
      .withColumn("_h",
        conv(substring(md5(col("_chunk")), 1, 8), 16, 10).cast("long"))
      .withColumn("_fp", min(col("_h")).over(frame))
      .withColumn("_full", lead(col("_h"), window - 1).over(byPos))
      // a window "exists" at a position iff `window` hashes start there;
      // position 0 again survives for docs with < window k-grams
      .filter(col("_full").isNotNull || col("_pos") === 0)
      .select(col("_id").as(idCol), col("_fp").as("fp"))
      .distinct()
  }

  /** STREAM-SAFE winnowing fingerprints, hash-identical to
    * [[winnowFingerprints]] — same md5 gram hashes, same windowed minima,
    * same sub-`window` self-coverage — but computed ROW-LOCALLY from the
    * per-document gram array (no window function, no aggregation), so
    * Structured Streaming can run it stateless ahead of a stream-static
    * index join ([[bandRowsRowLocal]]'s rationale: append-mode streams
    * support neither the lead-window nor pre-join aggregation; the
    * interpreted-HOF cost is acceptable on micro-batches and forbidden on
    * batch corpora — batch paths must keep [[winnowFingerprints]]).
    */
  private[graft] def winnowFpsRowLocal(docs: DataFrame, idCol: String,
                                       textCol: String, k: Int = 4,
                                       window: Int = 4): DataFrame = {
    val grams = TextAnalysis.ngrams(TextAnalysis.tokens(col(textCol)), k)
    val hs = transform(grams,
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
    docs
      .withColumn("_hs", hs)
      // Null-array guard only: an EMPTY doc still tokenizes to [""] and
      // yields the single empty gram, which BOTH this path and the batch
      // path fingerprint identically — so empty docs stay index-visible
      // and hash-identical across paths; nothing is filtered here for them.
      .filter(size(col("_hs")) > 0)
      .withColumn("_fps", array_distinct(transform(
        sequence(lit(0), greatest(size(col("_hs")) - window, lit(0))),
        // slice truncates at the tail ONLY in the sub-window fallback
        // case (sequence stops at size-window otherwise), matching the
        // batch path's pos-0 self-coverage rule
        i => array_min(slice(col("_hs"), i + 1, lit(window))))))
      .select(col(idCol), explode(col("_fps")).as("fp"))
  }

  /** Persist the winnowing fingerprint table BUCKETED BY fp — the
    * provenance index: ingest batches probe their own fingerprints
    * against it with one batch-side exchange into the index layout
    * (the [[writeDedupIndex]] discipline). Each row carries `fp_docs`,
    * the fingerprint's corpus document-frequency, precomputed HERE so
    * the per-batch probe applies the boilerplate cap as a map-only
    * filter instead of re-aggregating the index every ingest.
    */
  def writeWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
                       prefix: String, k: Int = 4, window: Int = 4,
                       buckets: Int = 32): Unit = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, window).cache()
    try {
      val freq = fps.groupBy(col("fp")).agg(count(lit(1)).as("fp_docs"))
      writeBucketed(fps.join(freq, Seq("fp")), s"${prefix}_winnow",
        Seq("fp"),
        indexBase(docs.sparkSession, prefix, None) + "/winnow", buckets)
    } finally fps.unpersist(false)
  }

  /** Overlap hits of an ingest batch against a stored winnow index
    * ([[writeWinnowIndex]]): (new_id, index_id, n_shared) with
    * n_shared >= minShared — "which corpus documents does this batch
    * doc re-use text from", before the batch is admitted. The frequency
    * cap uses the INDEX's precomputed fp_docs (corpus frequency is an
    * index property a batch cannot know). Scale shape: the index is
    * read in place (bucketed by fp), the batch fingerprints shuffle
    * once into that layout, and the pair aggregation is cap-bounded.
    */
  def winnowAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
                         spark: SparkSession, prefix: String,
                         k: Int = 4, window: Int = 4, minShared: Int = 4,
                         maxDocsPerFp: Int = 8): DataFrame = {
    val idx = spark.table(s"${prefix}_winnow")
      .filter(col("fp_docs") <= maxDocsPerFp)
      .select(col(idCol).as("_idx"), col("fp"))
    winnowFingerprints(newDocs, idCol, textCol, k, window)
      .select(col(idCol).as("_new"), col("fp"))
      .join(idx, Seq("fp"))
      .groupBy(col("_new"), col("_idx"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("_new").as("new_id"), col("_idx").as("index_id"),
        col("n_shared"))
  }

  /** Cross-document overlap pairs from winnowing fingerprints — the MOSS
    * detection step: document pairs sharing at least `minShared` selected
    * fingerprints, i.e. pairs with that many independent position-robust
    * substring matches (each shared fingerprint witnesses a shared
    * >= k-token substring; `minShared` of them is the standard
    * plagiarism/provenance screen threshold). Returns (d1, d2, n_shared)
    * with d1 < d2.
    *
    * Fingerprints appearing in more than `maxDocsPerFp` documents are
    * excluded from pairing — the [[nearDupPairs]] bucket-cap discipline:
    * a corpus-wide boilerplate fingerprint would otherwise pair the whole
    * corpus quadratically, and boilerplate overlap is [[lineDupStats]]'s
    * job, not provenance's. With the cap, per-fingerprint pair fan-out is
    * <= cap²/2 — the self-join stays linear in the fingerprint stream.
    * Run after exact dedup ([[dedupPipeline]] order) so identical-doc
    * groups collapse to one representative instead of saturating the cap.
    *
    * Scale shape: fingerprint rows checkpoint once (two consumers), the
    * frequency guard is one aggregation, the pair join shuffles on the
    * fingerprint key, and the pair aggregation shuffles on (d1, d2) —
    * all keyed, no all-pairs stage anywhere.
    */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, window: Int = 4, minShared: Int = 4,
                         maxDocsPerFp: Int = 8): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, window)
      .cutLineageEagerSpill()
    val eligible = fps.groupBy(col("fp")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") <= maxDocsPerFp).select(col("fp"))
    val pf = fps.join(eligible, Seq("fp"), "left_semi")
    pf.as("a").join(pf.as("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Containment near-dup pairs — the truncation/quotation case symmetric
    * Jaccard systematically misses: a document wholly contained in one
    * 10× longer has Jaccard ≈ 0.1 but containment |A∩B|/|A| ≈ 1.0
    * (Broder's original distinction between resemblance and containment).
    * Returns (d1, d2, cont1_ppm, cont2_ppm) where cont1 = shared distinct
    * k-shingles as a ppm fraction of d1's shingles, for pairs whose MAX
    * containment reaches `minPpm` — integer-exact in both directions.
    *
    * Candidates come from [[winnowOverlapPairs]]: winnowing fingerprints
    * are position-robust LOCAL witnesses, so a contained substring still
    * shares fingerprints with its host even when global signatures
    * (MinHash/SimHash) diverge — the reason an LSH-banded candidate stage
    * would be the wrong tool here. The exact-shingle verify then touches
    * candidate pairs only, [[minhashNearDups]]'s verify discipline.
    *
    * Scale shape: the candidate stage inherits the winnowing frequency
    * cap (no quadratic fan-out); the verify joins shingle rows
    * semi-join-pruned to candidate docs; sizes ride the same hashed rows.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, minPpm: Long = 900000L,
                       minShared: Int = 4,
                       maxDocsPerFp: Int = 8): DataFrame = {
    val cand = winnowOverlapPairs(docs, idCol, textCol,
        minShared = minShared, maxDocsPerFp = maxDocsPerFp)
      .select(col("d1"), col("d2"))
    val ids = cand.select(col("d1").as("_id"))
      .union(cand.select(col("d2").as("_id"))).distinct()
    // Materialized once (r21): three consumers (sizes, both inter-join
    // sides) would otherwise each re-run the chunk tower + semi-join +
    // distinct over the corpus; candidate-pruned rows are small by the
    // frequency cap, so the checkpoint is cheap.
    val sh = TextAnalysis.tokenChunkRows(docs, idCol, textCol, k, stride = 1)
      .filter(col("_n_toks") === k || col("_pos") === 0)
      .select(col("_id"), col("_chunk"))
      .join(ids, Seq("_id"), "left_semi")
      .select(col("_id"), unhex(md5(col("_chunk"))).as("_sh"))
      .distinct()
      .cutLineageEagerSpill()
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("_sz"))
    val inter = cand
      .join(sh.select(col("_id").as("d1"), col("_sh")), Seq("d1"))
      .join(sh.select(col("_id").as("d2"), col("_sh")), Seq("d2", "_sh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("_c"))
    inter
      .join(sizes.select(col("_id").as("d1"), col("_sz").as("_s1")), Seq("d1"))
      .join(sizes.select(col("_id").as("d2"), col("_sz").as("_s2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        expr("_c * 1000000L div _s1").as("cont1_ppm"),
        expr("_c * 1000000L div _s2").as("cont2_ppm"))
      .filter(greatest(col("cont1_ppm"), col("cont2_ppm")) >= minPpm)
  }

  /** MinHash estimator-quality audit over an explicit pair set: for each
    * (d1, d2) pair, the number of agreeing signature slots out of `slots`
    * next to the EXACT shingle Jaccard in integer ppm — the table that
    * tells an operator whether the signature width budget matches the
    * dedup threshold (E[n_agree/slots] = J, binomial spread). The audit
    * twin of [[graft.llm.Similarity.annRecall]]: one audits ANN recall,
    * this audits the sketch near-dup screens trust.
    *
    * Signatures use the md5 device, NOT [[minhash]]'s xxhash64: slot i's
    * value is min over shingles of h1 + i*h2 where h1/h2 are the first
    * and second 8 md5 hex digits of the shingle (< 2^32, so the affine
    * combination stays under 2^38 — exact BIGINT in any engine). Same
    * affine-family construction as [[bandTable]], same
    * one-wide-aggregate shape (slot minima are `slots` codegen'd min
    * columns with map-side combine, never a slot×shingle explosion).
    *
    * Scale shape: the signature aggregate is one shuffle over the
    * pair-relevant docs only (semi-join pruned); the agreement compare is
    * a `slots`-term projection on the joined row, and the exact-Jaccard
    * verify joins shingle rows of paired docs only — candidate-scoped,
    * like [[minhashNearDups]]'s verify stage.
    */
  def minhashAgreementMd5(docs: DataFrame, idCol: String, textCol: String,
                          pairs: DataFrame, slots: Int = 64,
                          k: Int = 3): DataFrame = {
    require(slots > 0, "slots must be positive")
    val ids = pairs.select(col("d1").as("_id"))
      .union(pairs.select(col("d2").as("_id"))).distinct()
    val grams = TextAnalysis.tokenChunkRows(docs, idCol, textCol, k, stride = 1)
      .filter(col("_n_toks") === k || col("_pos") === 0)
      .select(col("_id"), col("_chunk"))
      .join(ids, Seq("_id"), "left_semi")
      .distinct()
    // Materialized once (r21): four consumers (the signature aggregate,
    // sizes, both inter-join sides) would otherwise each re-run the
    // chunk tower + semi-join + distinct; pair-pruned rows are small.
    val hashed = grams.select(col("_id"),
      conv(substring(md5(col("_chunk")), 1, 8), 16, 10).cast("long").as("_h1"),
      conv(substring(md5(col("_chunk")), 9, 8), 16, 10).cast("long").as("_h2"),
      unhex(md5(col("_chunk"))).as("_sh"))
      .cutLineageEagerSpill()
    val mins = (0 until slots).map(i =>
      min(col("_h1") + lit(i.toLong) * col("_h2")).as(s"_m$i"))
    val sigs = hashed.groupBy(col("_id")).agg(mins.head, mins.tail: _*)
    val sizes = hashed.groupBy(col("_id")).agg(count(lit(1)).as("_sz"))
    val inter = pairs
      .join(hashed.select(col("_id").as("d1"), col("_sh")), Seq("d1"))
      .join(hashed.select(col("_id").as("d2"), col("_sh")), Seq("d2", "_sh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("_c"))
    val agree = (0 until slots).map(i =>
        when(col(s"a._m$i") === col(s"b._m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sigs.as("a"), col("d1") === col("a._id"))
      .join(sigs.as("b"), col("d2") === col("b._id"))
      .select(col("d1"), col("d2"), agree.as("n_agree"))
      .join(inter, Seq("d1", "d2"), "left")
      .join(sizes.select(col("_id").as("d1"), col("_sz").as("_s1")), Seq("d1"))
      .join(sizes.select(col("_id").as("d2"), col("_sz").as("_s2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n_agree"),
        expr("coalesce(_c, 0L) * 1000000L div (_s1 + _s2 - coalesce(_c, 0L))")
          .as("jaccard_ppm"))
  }

  /** Exact-duplicate grouping on the normalized-text fingerprint: adds
    * (fp, group_size, canonical_id) — canonical = min id per group. One
    * shuffle (window on fp).
    */
  def exactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
  }

  /** The standard dedup pipeline order: exact dedup FIRST, then MinHash
    * near-dup over the canonical representatives only. Besides skipping
    * redundant shingle work for every exact copy, this is what makes the
    * opt-in LSH bucket cap safe: a mega-group of identical documents
    * collapses to ONE representative instead of flooding a bucket in
    * every band (see the maxBucketSize note in [[nearDupPairs]] and the
    * measured quadratic blow-up documented in SCALE.md).
    *
    * Returns near-dup pairs (d1, d2, jaccard) over representatives; pairs
    * inside an exact group are by definition jaccard 1.0 and are already
    * reported by [[exactDups]]'s (canonical_id, group_size).
    */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val reps = exactDups(docs, idCol, textCol)
      .filter(col(idCol) === col("canonical_id"))
      .select(col(idCol), col(textCol))
    minhashNearDups(reps, idCol, textCol, threshold, maxBucketSize)
  }

  /** Signature word columns of a `bits`-wide [[simhash]]: one BIGINT
    * `simhash` at 32 and 64 bits; at 128, `sim_hi` (md5 hex digits
    * 1-16) and `sim_lo` (digits 17-32).
    */
  private[graft] def simhashWords(bits: Int): Seq[String] = {
    require(Set(32, 64, 128)(bits),
      s"SimHash width must be 32, 64 or 128 (got $bits)")
    if (bits == 128) Seq("sim_hi", "sim_lo") else Seq("simhash")
  }

  /** SimHash signature, `bits` ∈ {32, 64, 128} wide, in one codegen'd
    * wide aggregate. Each token hashes to the first bits/4 hex digits of
    * its md5, carried in the [[simhashWords]] BIGINTs; each word is
    * built from 8-digit chunks as (acc << 32) | chunk, the signed-long
    * bit pattern of the unsigned value. Any engine with md5 + 128-bit
    * integer arithmetic (DuckDB HUGEINT, Spark, Postgres numeric)
    * reproduces the signature bit for bit, which is what lets the
    * DuckDB oracle hash-compare every width. The `bits` votes are
    * conditional sums in a single groupBy with map-side combine — no
    * per-bit explode and no second aggregation.
    *
    * Width is bucket geometry for [[simhashNearDups]]: with 4 bands,
    * 32 bits gives 8-bit slices (2⁸ buckets/band, measured superlinear
    * at 10⁶ documents in SCALE.md), 64 bits gives 16-bit slices (chance
    * collisions start to pay in the third data decade, ~5M documents)
    * and 128 bits gives 32-bit slices, so bucket occupancy stays O(1)
    * past 10⁸ documents.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int): DataFrame = {
    val words = simhashWords(bits)
    val widths = words.indices.map(w => math.min(64, bits - 64 * w))
    val hashed = TextAnalysis.fanOutIfNarrow(
        docs.select(col(idCol).as("_id"), col(textCol).as("_text")),
        col("_id"))
      .select(col("_id"), explode(TextAnalysis.tokens(col("_text"))).as("_t"))
      .withColumn("_m", md5(col("_t")))
      .select(col("_id") +: words.indices.map(w =>
        (0 until widths(w) / 32).map(c =>
          conv(substring(col("_m"), 16 * w + 8 * c + 1, 8), 16, 10)
            .cast("long"))
          .reduce((acc, chunk) => shiftleft(acc, 32).bitwiseOR(chunk))
          .as(s"_h$w")): _*)
    val votes = for (w <- words.indices; b <- 0 until widths(w)) yield
      sum(shiftright(col(s"_h$w"), b).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"_v${w}_$b")
    hashed.groupBy(col("_id")).agg(votes.head, votes.tail: _*)
      .select(col("_id").as(idCol) +: words.indices.map(w =>
        (0 until widths(w)).map(b =>
          when(col(s"_v${w}_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as(words(w))): _*)
  }

  /** SimHash near-duplicate pairs: (d1, d2, hamming) with d1 < d2 and
    * hamming(simhash(d1), simhash(d2)) <= maxHamming over a `bits`-wide
    * signature.
    *
    * Candidates come from a banded self-join, not an all-pairs join: the
    * signature splits into `bands` equal bit-slices and only docs
    * sharing at least one slice meet. By pigeonhole, a pair within
    * maxHamming <= bands-1 flipped bits leaves >= 1 band untouched, so for
    * maxHamming < bands recall is EXACT (not probabilistic like MinHash
    * banding) — which is what lets the all-pairs-hamming DuckDB oracle
    * hash-compare the result. The shuffle carries one row per doc per
    * band, and the signature rides along so the verify filter needs no
    * second join back to the signature table.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int, maxHamming: Int = 3,
                      bands: Int = 4): DataFrame =
    // Signature table is computed once (one shuffle) and materialized so
    // the self-join below doesn't re-run the token aggregate twice.
    simhashNearDupsOf(simhash(docs, idCol, textCol, bits).cutLineageEager(),
      idCol, bits, maxHamming, bands)

  /** The `bands` slice columns of a `bits`-wide signature table: band b
    * is the (b % perWord)-th bits/bands-bit slice of word b / perWord.
    * Slices must divide a 64-bit word evenly, so none straddles two words.
    */
  private[graft] def simhashBandSlices(bits: Int, bands: Int): Seq[Column] = {
    val words = simhashWords(bits)
    require(bits % bands == 0 && 64 % (bits / bands) == 0,
      s"bands must split $bits bits into slices dividing a 64-bit word (got $bands)")
    val width = bits / bands
    val perWord = 64 / width
    val mask = if (width == 64) -1L else (1L << width) - 1
    (0 until bands).map(b =>
      shiftright(col(words(b / perWord)), (b % perWord) * width)
        .bitwiseAND(lit(mask)))
  }

  /** Banded hamming join over an existing `bits`-wide [[simhash]]
    * signature table — the lazy candidate-generation lineage (tests audit
    * its plan shape; [[simhashNearDups]] is the materializing entry
    * point). Hamming is summed over the signature words.
    */
  private[graft] def simhashNearDupsOf(sig: DataFrame, idCol: String,
                                       bits: Int, maxHamming: Int,
                                       bands: Int): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val words = simhashWords(bits)
    val banded = sig.select(col(idCol).as("_id") +: words.map(col) :+
      posexplode(array(simhashBandSlices(bits, bands): _*))
        .as(Seq("_band", "_slice")): _*)
    def side(id: String, tag: String): DataFrame =
      banded.select(col("_band") +: col("_slice") +: col("_id").as(id) +:
        words.map(w => col(w).as(tag + w)): _*)
    side("d1", "_l").join(side("d2", "_r"), Seq("_band", "_slice"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        words.map(w => bit_count(col("_l" + w).bitwiseXOR(col("_r" + w))))
          .reduce(_ + _).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
